package graft

/** Plan-shape audit over the whole query registry: count parquet scans
  * per SOURCE FILE in every registered query's executed plan and
  * report queries that re-scan the same file many times — the
  * Catalyst-shares-nothing-across-consumers waste class that
  * canaryWriteProbe and the hbck corrupted catalog exhibited (each
  * fixed by collecting a 1-row scalar / literalizing a metadata
  * relation). Repeated scans are LINEAR, not superlinear — the sf1
  * spike won't flag them — but at 100 TB every extra pass over a fact
  * table is a real cluster-hour bill, so they deserve an explicit
  * audit of their own.
  *
  * Prints one line per (query, source) with scan count ≥ `minScans`
  * (default 4; 2-3 is normal for bounds + data passes). Queries that
  * physically write layouts (ensure-once) naturally scan more on
  * first build — run twice and read the second report if in doubt.
  *
  * Triage guide (the r8 sweep's outcome, recorded in BASELINE_PERF):
  *  - METADATA relation under multiple forks (bucket stats, plans,
  *    catalogs) → Tools.materializeMeta. This killed the seven worst
  *    offenders (up to ×16 → 1 corpus scan).
  *  - Per-page / per-step scans with PUSHED point or range predicates
  *    (scan_cursor's pages, the mutation round-trip chains) are the
  *    OPERATION's semantics — each "scan" is a row-group probe, not a
  *    corpus pass. Leave them.
  *  - Multi-stage pipelines re-reading a pruned COLUMN of a fact
  *    table per stage (tf/df passes, dedup stages): re-scanning a
  *    pruned parquet column is usually cheaper at scale than pinning
  *    a data-cardinality intermediate — leave unless a stage rereads
  *    FULL rows.
  *
  * Usage: runMain graft.ScanAudit <sfDir> [minScans] [q1,q2,...]
  * With a query list, audits ONLY those queries and prints each scan
  * node's pushed filters + read schema — the evidence a "benign"
  * triage rests on (point-probe pages show PushedFilters, pipeline
  * re-reads show a pruned ReadSchema), committed per query as the
  * re-verification artifact.
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val minScans = if (args.length > 1) args(1).toInt else 4
    val only = if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
      else None
    // an empty list would audit nothing, and "done: 0 flagged" reads
    // as a clean audit
    only.foreach { names =>
      require(names.nonEmpty, "ScanAudit: empty query list")
      Harness.requireQueries("ScanAudit", names, SparkEntry.queries)
    }
    val spark = Harness.session(32)
    // plan strings truncate metadata (Location lists, PushedFilters)
    // at 100 chars by default: a long path would be cut MID-NAME, so
    // srcKey would group a mangled basename (or lose trailing paths
    // entirely) and a real xN re-scan could under-count below the
    // flag threshold — raise the cap so the audit reads whole paths
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    spark.sparkContext.setLogLevel("ERROR")
    // counts raw file: occurrences anywhere in the plan string — a
    // scan-node-scoped match would be stricter, but every file: in a
    // plan IS inside some scan's Location list, so the simple count
    // is equivalent for these plans. Caveat, r12 review: a scan whose
    // file index has SEVERAL root paths prints one file: entry per
    // path for ONE physical scan. The single such reader (scanDirect's
    // pruned part-file list) is safe — its roots are DISTINCT files,
    // so per-source counts stay 1 — but a future reader passing the
    // SAME dir several times would inflate its count; re-check this
    // premise if one lands
    val fileRe = """file:[^,\s\]]+""".r
    var flagged = 0
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    for ((name, fn) <- qs) {
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString()
        val perFile = fileRe.findAllIn(plan).toSeq
          .map(srcKey) // basename, parent-qualified for generic names
          .groupBy(identity).view.mapValues(_.size)
        for ((src, n) <- perFile.toSeq.sortBy(-_._2) if n >= minScans) {
          println(f"[scan-audit] $name%-28s $src%-24s x$n")
          flagged += 1
        }
        if (only.isDefined) {
          // detail mode: one line per scan node — source, pushed
          // filters, read schema — the triage evidence itself
          val pushedRe = """PushedFilters: \[[^\]]*\]""".r
          // \S+ keeps the FULL comma-separated struct<...> (schemas
          // have no spaces); the take() below is the only bound
          val schemaRe = """ReadSchema: \S+""".r
          plan.linesIterator.filter(_.contains("Scan parquet")).foreach { l =>
            val src = fileRe.findFirstIn(l).map(srcKey).getOrElse("?")
            val pushed = pushedRe.findFirstIn(l).getOrElse("PushedFilters: ?")
            val schema = schemaRe.findFirstIn(l).getOrElse("ReadSchema: ?")
              .take(160)
            println(s"[scan-audit]   $name scan $src | $pushed | $schema")
          }
        }
      } catch {
        case e: Throwable =>
          // String.valueOf: a message-less exception (bare NPE from
          // Catalyst internals) must print "null", not NPE out of the
          // catch and abort the audit over the remaining registry
          println(s"[scan-audit] $name PLAN-ERROR " +
            String.valueOf(e.getMessage).take(100))
      }
    }
    println(s"[scan-audit] done: $flagged flagged (min $minScans scans of one file)")
    spark.stop()
  }

  /** Scan-source key: the basename, PARENT-qualified when the basename
    * is a generic layout segment (v=N version dirs) — two snapshot
    * bases both reading v=1 would otherwise merge into one source and
    * fake a re-scan at exactly the flag threshold. */
  private def srcKey(path: String): String = {
    val parts = path.split("/").filter(_.nonEmpty)
    val base = parts.last
    if (base.matches("v=\\d+") && parts.length >= 2)
      parts(parts.length - 2) + "/" + base
    else base
  }
}
