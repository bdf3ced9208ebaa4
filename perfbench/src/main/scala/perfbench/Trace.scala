package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** One span: a timed interval at a layer boundary. `op` groups the
  * spans of one operation; `parent` is the span that caused it (-1 for
  * an operation's root). Times are epoch microseconds. */
final case class Span(id: Long, op: Long, parent: Long, layer: String, name: String,
                      startUs: Long, endUs: Long,
                      counts: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
}

object Span {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  /** Epoch microseconds on the monotonic clock, comparable with the
    * millisecond epoch times Spark's listener events carry. */
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** Microseconds of [s, e) covered by the union of `kids`, clipped. */
  def covered(s: Long, e: Long, kids: Seq[Span]): Long = {
    val iv = kids.map(k => (math.max(s, k.startUs), math.min(e, k.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((a, b) <- iv) {
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus what its children cover. */
  def selfUs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.durUs - covered(s.startUs, s.endUs,
      kids.getOrElse(s.id, Nil)))).toMap
  }

  def toJson(s: Span): String = Json.obj(
    "id" -> s.id, "op" -> s.op, "parent" -> s.parent, "layer" -> s.layer,
    "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
    "counts" -> s.counts)
}

/** What an operation's body calls to mark a call into a graft module.
  * The untraced form only runs the body: timed runs pay nothing. */
class Tracer {
  def build[T](layer: String, name: String)(body: => T): T = body
}

/** Traced form. Client-side spans (operation root, builds) come from
  * this thread; Spark job/stage spans from a [[SparkListener]] and
  * Catalyst phase spans from a [[QueryExecutionListener]], both
  * registered only while tracing. Jobs find their operation through a
  * local property set on the client thread; stages through their job;
  * phase spans through the operation whose interval holds them. */
final class SpanRecorder(spark: SparkSession) extends Tracer {
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private var op = -1L
  private var opStart = 0L
  private val open = mutable.Stack[Long]()
  private val opSpans = mutable.ArrayBuffer[Span]()
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  private val jobs = mutable.HashMap[Int, (Long, Long)]() // job -> (op, startUs)
  private val jobSpans = mutable.ArrayBuffer[(Int, Long, Long, Long)]() // job, op, s, e
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageSpans = mutable.ArrayBuffer[(Int, Int, Long, Long, Map[String, Double])]()
  private var attached = false
  val Prop = "perfbench.op"

  private def id(): Long = { nextId += 1; nextId }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      SpanRecorder.this.synchronized {
      val o = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = (o, e.time * 1000L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      SpanRecorder.this.synchronized {
      jobs.remove(e.jobId).foreach { case (o, s) =>
        jobSpans += ((e.jobId, o, s, e.time * 1000L)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      SpanRecorder.this.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val counts = if (m == null) Map("tasks" -> si.numTasks.toDouble) else Map(
        "tasks" -> si.numTasks.toDouble,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "run_ms" -> m.executorRunTime.toDouble,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "rows_read" -> m.inputMetrics.recordsRead.toDouble,
        "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / 1048576.0,
        "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1048576.0,
        "spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0,
        "bytes_written" -> m.outputMetrics.bytesWritten.toDouble)
      for (s <- si.submissionTime; c <- si.completionTime)
        stageSpans += ((si.stageId, stageJob.getOrElse(si.stageId, -1), s * 1000L,
          c * 1000L, counts))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = SpanRecorder.this.synchronized {
      for ((phase, p) <- qe.tracker.phases if phase != "parsing")
        phases += ((phase, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
    }
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  private var compiles0 = 0L
  private var compileNs0 = 0L

  def beginOp(opId: Long): Unit = {
    op = opId; opStart = Span.nowUs()
    opSpans.clear(); phases.clear()
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
    sc.setLocalProperty(Prop, opId.toString)
  }

  override def build[T](layer: String, name: String)(body: => T): T = {
    val s = Span.nowUs()
    val sid = id()
    open.push(sid)
    try body finally {
      open.pop()
      opSpans += Span(sid, op, if (open.isEmpty) 0L else open.top, layer, name, s, Span.nowUs())
    }
  }

  /** Close the operation: wait for the listener bus to drain, then
    * parent every span it caused. Runs outside the operation's timing. */
  def endOp(kind: String, endUs: Long, rowsOut: Long): Unit = {
    sc.setLocalProperty(Prop, null)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(sc)
    synchronized {
      val rootId = id()
      val client = opSpans.toSeq
      def parentAt(t: Long): Long = client.filter(b => b.startUs <= t && t < b.endUs)
        .sortBy(-_.startUs).headOption.map(_.id).getOrElse(rootId)
      val out = mutable.ArrayBuffer[Span]()
      out += Span(rootId, op, -1L, "op", kind, opStart, endUs, Map(
        "rows_out" -> rowsOut.toDouble, "compiles" -> compiles.toDouble,
        "compile_ms" -> compileMs))
      out ++= client.map(b => if (b.parent == 0L) b.copy(parent = rootId) else b)
      for ((ph, s, e) <- phases if s >= opStart - 1000L && s < endUs)
        out += Span(id(), op, parentAt(s), "catalyst", ph, s, math.max(s, e))
      val mine = jobSpans.filter(_._2 == op)
      val jobIds = mutable.HashMap[Int, Long]()
      for ((j, _, s, e) <- mine) {
        val sid = id(); jobIds(j) = sid
        out += Span(sid, op, parentAt(s), "sched", s"job $j", s, math.max(s, e),
          Map("eager" -> (if (parentAt(s) != rootId) 1.0 else 0.0)))
      }
      for ((st, j, s, e, counts) <- stageSpans; pj <- jobIds.get(j))
        out += Span(id(), op, pj, "exec", s"stage $st", s, math.max(s, e), counts)
      spans ++= out
      // the bus is drained and the client is single-threaded: anything
      // left belongs to no later operation
      jobSpans.clear(); stageSpans.clear(); stageJob.clear()
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)
}

/** Per-layer metrics from the spans of the traced operations: self
  * time per layer and the counts recorded at each boundary, each
  * divided by the number of operations. */
object Layers {
  def perOp(spans: Seq[Span]): Map[String, Double] = {
    val self = Span.selfUs(spans)
    val roots = spans.filter(_.parent == -1L)
    val nOps = math.max(1, roots.size).toDouble
    val acc = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    def ms(s: Span) = self(s.id) / 1000.0
    for (s <- spans) s.layer match {
      case "op" =>
        acc("sched.driver_gap_ms") += ms(s)
        acc("codegen.compiles") += s.counts("compiles")
        acc("codegen.compile_ms") += s.counts("compile_ms")
        acc("exec.rows_out") += s.counts("rows_out")
      case "catalyst" => acc(s"catalyst.${s.name}_ms") += ms(s)
      case "sched" =>
        acc("sched.driver_gap_ms") += ms(s)
        acc("sched.jobs") += 1
        if (s.counts.getOrElse("eager", 0.0) > 0 &&
          spans.exists(b => b.id == s.parent && b.layer == "dedup"))
          acc("dedup.eager_jobs") += 1
      case "exec" =>
        acc("sched.stages") += 1
        for ((k, v) <- s.counts)
          if (k == "tasks") acc("sched.tasks") += v
          else if (k == "bytes_written") acc("io.bytes_written") += v
          else acc(s"exec.$k") += v
      case layer => acc(Build.metric(layer, s.name)) += ms(s)
    }
    val out = acc.map { case (k, v) => k -> v / nOps }
    out("exec.rows_read_per_row_out") =
      acc("exec.rows_read") / math.max(1.0, acc("exec.rows_out"))
    out.toMap - "exec.rows_out"
  }
}

/** Which per-layer metric a build span's self time lands in: a module's
  * plan-build time, except the core calls that load, open and commit. */
object Build {
  val load = "Tables.load"
  val open = "Snapshots.read"
  val commit = "Snapshots.write"
  def metric(layer: String, name: String): String = (layer, name) match {
    case ("core", `load`) => "core.load_ms"
    case ("core", `open`) => "core.store_open_ms"
    case ("core", `commit`) => "core.commit_ms"
    case ("filters", _) => "filters.parse_ms"
    case (l, _) => s"$l.build_ms"
  }
}
