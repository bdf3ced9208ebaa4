package perfbench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run: set a workload up (several times; the median is
  * the set-up time), drive it with one closed-loop client for the given
  * seconds of operation time, check every result, and print one JSON
  * line. With `--trace 1` alternate cycles run traced and the line
  * holds the per-layer metrics instead of the end-to-end ones.
  *
  *   Main --workload kv_mixed --seed 1 --seconds 15 --trace 0
  *        --work <scratch dir> [--scale full|smoke] [--setups 3]
  *        [--corrupt <op index>] [--spans <file>]
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, scale: Scale, setups: Int, corrupt: Long,
                        spans: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", need("work"),
      if (m.getOrElse("scale", "full") == "smoke") Scale.smoke else Scale.full,
      m.getOrElse("setups", "3").toInt, m.getOrElse("corrupt", "-1").toLong, m.get("spans"))
  }

  val endToEnd = Seq("setup_s" -> "s", "ops_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "latency_tail_ms" -> "ms", "heap_live_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "core.load_ms", "core.store_open_ms", "core.commit_ms", "core.build_ms", "kv.build_ms",
    "filters.parse_ms", "agg.build_ms", "analytics.build_ms", "dedup.build_ms",
    "sim.build_ms", "text.build_ms", "pipeline.build_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compile_ms", "sched.driver_gap_ms", "exec.cpu_ms", "exec.run_ms", "exec.gc_ms"
  ).map(_ -> "ms") ++ Seq(
    "codegen.compiles" -> "count", "sched.jobs" -> "count", "sched.stages" -> "count",
    "sched.tasks" -> "count", "dedup.eager_jobs" -> "count", "exec.rows_read" -> "count",
    "exec.rows_read_per_row_out" -> "ratio", "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB", "io.bytes_written" -> "B",
    "io.write_amp" -> "ratio", "host.steal_pct" -> "%", "host.busy_pct" -> "%",
    "trace.overhead_pct" -> "%")

  /** `--workload a,b` runs each in turn in one JVM, each in its own
    * scratch directory; run.py uses that to load every class a run needs
    * while the JVM records its class-data-sharing archive. */
  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wls = o.workload.split(",").toSeq.map(n => Workloads.byName(n).getOrElse {
      System.err.println(s"unknown workload $n; have ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    })
    for (wl <- wls)
      run(if (wls.size > 1) o.copy(work = s"${o.work}/${wl.name}") else o, wl).foreach(println)
    sys.exit(0)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Returns the lines to print: a record of the run, then the result. */
  def run(o: Opts, wl: Workload): Seq[String] = {
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    val spark = session(o.work, cores)
    val sessionS = (System.currentTimeMillis() - procStartMs) / 1e3
    val recorder = if (o.trace) Some(new SpanRecorder(spark)) else None
    val plain = new Tracer
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer[String]()
    var opIndex = 0L
    def runOp(op: Op, tr: Tracer, traced: Boolean): Option[(String, Double, OpRun)] = {
      val r = op.make(opIndex == o.corrupt)
      opIndex += 1
      attempted += 1
      if (traced) recorder.get.beginOp(opIndex)
      val t0 = System.nanoTime()
      val outcome = try Right(r.exec(tr)) catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      if (traced) recorder.get.endOp(op.kind, Span.nowUs(), outcome.getOrElse(0L))
      val problem = outcome match {
        case Left(e) => Some(s"${op.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(_) => try r.verify() catch {
          case e: Exception => Some(s"${op.kind}: verify threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
      problem match {
        case Some(p) =>
          failed += 1
          if (failures.size < 5) failures += p.take(400)
          None
        case None => Some((op.kind, ms, r))
      }
    }

    // set-up: the data and store build is repeated and its median
    // counted; then one checked warm-up cycle, so the timed cycles meet
    // plan shapes the caches have seen
    val setupRng = new SplittableRandom(o.seed * 7919 + 17)
    val builds = mutable.ArrayBuffer[Double]()
    var live: Live = null
    for (rep <- 0 until o.setups) {
      if (rep > 0) deleteDir(spark, s"${o.work}/rep${rep - 1}")
      val t0 = System.nanoTime()
      live = wl.setup(Ctx(spark, o.seed, s"${o.work}/rep$rep", o.scale), plain)
      builds += (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    live.cycle(setupRng).foreach(runOp(_, plain, traced = false))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(builds.toSeq) + warmupS

    // the timed window: whole cycles until the operations have taken
    // `seconds`, so a slow run measures the same mix as a fast one; a
    // traced run takes them in pairs. A wall-clock cap bounds a
    // pathological run.
    val rng = new SplittableRandom(o.seed)
    val samples = mutable.ArrayBuffer[(String, Double, Boolean, OpRun)]()
    val host0 = HostStat.read()
    val wall0 = System.nanoTime()
    var opSeconds = 0.0
    var cycle = 0
    val capS = 3 * o.seconds + 30
    val round = if (o.trace) 2 else 1
    while ((opSeconds < o.seconds || cycle == 0 || cycle % round != 0) &&
      (System.nanoTime() - wall0) / 1e9 < capS) {
      // a traced run pairs an untraced and a traced cycle, the traced one
      // second in even pairs and first in odd ones, so over a long run
      // warm-up order cancels out of the overhead
      val traced = o.trace && (cycle % 4 == 1 || cycle % 4 == 2)
      recorder.foreach(r => if (traced) r.attach() else r.detach())
      for (op <- live.cycle(rng)) {
        val res = runOp(op, if (traced) recorder.get else plain, traced)
        res.foreach { case (k, ms, r) =>
          samples += ((k, ms, traced, r)); opSeconds += ms / 1e3 }
      }
      cycle += 1
    }
    recorder.foreach(_.detach())
    val host = HostStat.read().minus(host0)

    // twice, with a pause between, so the cleaner can drop what the
    // first collection released
    System.gc(); Thread.sleep(300); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val timed = samples.filter(!_._3)
    val lat = timed.map(_._2).sorted
    val n = lat.length
    // p95, interpolated: a run holds tens of operations, too few for a
    // percentile with ten samples beyond it to sit above the median. With
    // whole cycles p95 falls among the middle samples of the slowest kind
    // (kv_mixed's commit), not on its fastest one as p90 would
    val tailMs = if (lat.isEmpty) 0.0 else {
      val pos = 0.95 * (n - 1)
      val lo = math.floor(pos).toInt
      lat(lo) + (pos - lo) * (lat(math.min(n - 1, lo + 1)) - lat(lo))
    }
    // closed-loop throughput of the workload's mix (every kind once per
    // cycle) at each kind's median latency: one slow outlier moves it little
    val kindMedianMs = timed.groupBy(_._1).values.map(xs => median(xs.map(_._2).toSeq))
    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> (if (lat.isEmpty) 0.0 else kindMedianMs.size / (kindMedianMs.sum / 1e3)),
      "latency_p50_ms" -> median(lat.toSeq),
      "latency_tail_ms" -> tailMs,
      "heap_live_mb" -> heapMb)

    val written = samples.map(_._4.bytesWritten).sum
    val userBytes = samples.map(_._4.userBytes).sum
    val writeAmp = if (userBytes > 0) written.toDouble / userBytes else 0.0
    val layers: Map[String, Double] = recorder.map { rec =>
      val spans = rec.all
      val tracedMs = samples.filter(_._3).map(_._2)
      val overhead = if (tracedMs.isEmpty || lat.isEmpty) 0.0
        else 100.0 * (tracedMs.sum / tracedMs.size) / (lat.sum / lat.size) - 100.0
      val m = Layers.perOp(spans) ++ Map(
        "io.write_amp" -> writeAmp,
        "host.steal_pct" -> host.stealPct, "host.busy_pct" -> host.busyPct,
        "trace.overhead_pct" -> overhead)
      o.spans.foreach { path =>
        val f = new java.io.File(path)
        Option(f.getParentFile).foreach(_.mkdirs())
        val w = new java.io.PrintWriter(f, "UTF-8")
        try {
          w.println(Json.obj("workload" -> wl.name, "seed" -> o.seed,
            "untraced_ops" -> n, "traced_ops" -> tracedMs.size,
            "trace_overhead_pct" -> overhead))
          spans.foreach(s => w.println(Span.toJson(s)))
        } finally w.close()
      }
      perLayer.map { case (k, _) => k -> m.getOrElse(k, 0.0) }.toMap
    }.getOrElse(Map.empty)

    val byKind = timed.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
      k -> Map("n" -> xs.size, "p50_ms" -> median(xs.map(_._2).toSeq),
        "min_ms" -> xs.map(_._2).min, "max_ms" -> xs.map(_._2).max) }.toMap
    val record = Json.obj("perfbench" -> scala.collection.immutable.ListMap(
      "workload" -> wl.name, "seed" -> o.seed, "trace" -> o.trace,
      "session" -> Map("master" -> s"local[$cores]", "spark.sql.shuffle.partitions" -> cores,
        "spark.ui.enabled" -> false, "spark.sql.session.timeZone" -> "UTC",
        "spark.version" -> spark.version),
      "scale" -> o.scale.toString, "session_s" -> sessionS, "builds_s" -> builds.toSeq,
      "warmup_s" -> warmupS,
      "cycles" -> cycle, "ops_timed" -> n, "tail_percentile" -> 95,
      "samples_beyond_tail" -> lat.count(_ > tailMs),
      "ops_per_kind" -> byKind, "host.steal_pct" -> host.stealPct,
      "host.busy_pct" -> host.busyPct, "io.bytes_written" -> written,
      "io.write_amp" -> writeAmp,
      "failures" -> failures.toSeq))
    failures.foreach(f => System.err.println(s"[perfbench] failed: $f"))
    spark.stop()

    val metrics = if (o.trace) perLayer.map { case (k, u) => k -> Map("value" -> layers(k), "unit" -> u) }
      else endToEnd.map { case (k, u) => k -> Map("value" -> e2e(k), "unit" -> u) }
    val result = Json.obj("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*))
    Seq(record, result)
  }

  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
