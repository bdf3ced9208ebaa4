package graft

import org.apache.spark.sql.SparkSession

/** The one tool harness: every graft main and the spec session get
  * their SparkSession, environment settings and query-name checks
  * here — the role `HBaseConfiguration.create()` plays for HBase's
  * MapReduce tools. A new session setting goes in [[session]] once;
  * `HarnessSpec` fails if a session is built anywhere else.
  *
  * Env: SPARK_GRAFT_CPUS (local master threads = shuffle partitions),
  * SPARK_GRAFT_SF_DIR (corpus for the mains that take no sf argument),
  * SPARK_GRAFT_CONF=k=v;k2=v2 (extra session confs, see [[parseConf]]).
  */
object Harness {

  /** The corpus dir for mains that take no sf argument. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** A tool session: `SPARK_GRAFT_CPUS` threads (else `defaultCpus`),
    * plus the `SPARK_GRAFT_CONF` entries. */
  def session(defaultCpus: Int): SparkSession =
    session(sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt),
      parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", "")))

  /** The session builder: `local[cpus]`, shuffle partitions = cpus,
    * UTC, no UI, the sized codegen cache, then `conf` on top. */
  def session(cpus: Int, conf: Seq[(String, String)]): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Generated-class cache sized to the query surface (r17): the
      // default 100 entries thrash under 314 distinct queries (~5
      // codegen'd stages each), so EVERY pass recompiled virtually
      // every stage — janino frames dominated driver stack samples and
      // a 63-query A/B measured ~1.8x end-to-end (p1/p2/p3
      // 45-52/42-50/42-53 s stock vs 25.2/25.0/23.0 s sized, quiet
      // windows). Scale-independent: this is driver-JVM metadata (the
      // cache holds compiled classes, ~KBs each), and any long-running
      // service with a wide query surface wants it sized to that
      // surface, not to the 100-entry default.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** SPARK_GRAFT_CONF=k=v;k2=v2 — extra session confs, an experiment
    * aid (e.g. codegen knobs for the in-suite-amplification probes);
    * round records never set it, so they run stock. Empty entries
    * are skipped; a value keeps every `=` after the first.
    * Malformed entries fail loudly — a typo'd knob silently ignored
    * would make an experiment "measure" the stock config. LIMITATION
    * (r14 advice): ';' is the entry separator with no escape, so a conf
    * VALUE containing a semicolon (legal in e.g. extraJavaOptions)
    * cannot be injected here — the truncated tail entry then fails
    * the k=v require loudly rather than half-applying. */
  def parseConf(s: String): Seq[(String, String)] =
    s.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
      kv.take(i) -> kv.drop(i + 1)
    }

  /** Fails loudly, naming every offender, when a requested query name
    * is not in `registry`: a typo'd name would otherwise run or dump
    * nothing, and an empty result reads as a clean success. */
  def requireQueries(tool: String, names: Iterable[String],
                     registry: Map[String, _]): Unit = {
    val unknown = names.filterNot(registry.contains).toSeq.distinct.sorted
    require(unknown.isEmpty,
      s"$tool: unknown quer${if (unknown.size == 1) "y" else "ies"} " +
        unknown.map(n => s"'$n'").mkString(", "))
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in hand-written oracle SQL would otherwise
    * make the oracle compare's json.load fail and silently zero the
    * round's correctness. The one copy: Verify's oracle_sql.json and
    * Bench's record both go through it. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
