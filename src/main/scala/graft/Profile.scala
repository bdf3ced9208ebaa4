package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Optimization-round tooling (measurement only; not part of any query
  * path): run named bench queries one at a time and print WHERE the
  * wall time goes — plan-construction (driver), then per-job wall with
  * stage/task counts and executor task time. The bench's per-query
  * fixed cost at small SF is job/stage latency, not operator work, so
  * optimizing it needs a count of jobs and stages per query, which the
  * round artifacts (wall + task seconds) cannot see.
  *
  * Usage: runMain graft.Profile <query> [query...]
  * A name given n times is measured n times in a row — the loop for a
  * profiler or jstack to sample. Session and env (SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_CONF) come from [[Harness]], as Bench's
  * do.
  */
object Profile {
  private final class JobLog extends SparkListener {
    final case class Job(id: Int, start: Long, var end: Long = 0L,
                         var stages: Int = 0, var tasks: Int = 0,
                         var taskMs: Long = 0L, var desc: String = "")
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageToJob = mutable.HashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = Job(e.jobId, e.time)
      j.desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      j.stages = e.stageIds.size
      e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      jobs(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += si.numTasks
          j.taskMs += si.taskMetrics.executorRunTime
        }
      }
    def reset(): Unit = synchronized { jobs.clear(); stageToJob.clear() }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "Profile: <query> [query...]")
    val names = args.toSeq
    Harness.requireQueries("Profile", names, SparkEntry.benchQueries)
    val sfDir = Harness.sfDir
    val spark = Harness.session(32)
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    names.foreach { name =>
      val fn = SparkEntry.benchQueries(name)
      // warmup (codegen/JIT/IO cache) — same discipline as Bench
      try Bench.materialize(fn(spark, sfDir)) catch { case _: Throwable => () }
      graft.pipeline.PipelineQueries.resetShared()
      // match the suite's shape: memo consumers run against prewarmed
      // shared tables (the bench charges those to memo_setup)
      graft.pipeline.PipelineQueries.prewarmShared(spark, sfDir,
        selected = Some(Set(name)))
      System.gc(); Thread.sleep(300)
      org.apache.spark.sql.graftbridge.ListenerBridge
        .waitUntilEmpty(spark.sparkContext)
      log.reset()
      val e0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = System.nanoTime()
      // planner cost in isolation: force analysis + optimization +
      // physical planning of the query (materialize re-plans its own
      // write command at roughly the same cost, so the gap between
      // jobs during materialize ≈ this number when planning dominates)
      df.queryExecution.executedPlan
      val tPlan = System.nanoTime()
      Bench.materialize(df)
      val tDone = System.nanoTime()
      org.apache.spark.sql.graftbridge.ListenerBridge
        .waitUntilEmpty(spark.sparkContext)
      val jobs = log.jobs.values.toSeq
      val wall = (tDone - t0) / 1e9
      val build = (tBuild - t0) / 1e9
      val plan = (tPlan - tBuild) / 1e9
      val jobWall = jobs.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      println(f"== $name%s wall=$wall%.3f build=$build%.3f plan=$plan%.3f " +
        f"jobs=${jobs.size}%d jobWall=$jobWall%.3f " +
        f"gapWall=${wall - build - plan - jobWall}%.3f")
      jobs.foreach { j =>
        println(f"   job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3fs " +
          f"@${(j.start - e0) / 1e3}%7.3f " +
          f"stages=${j.stages}%3d tasks=${j.tasks}%4d " +
          f"taskSec=${j.taskMs / 1e3}%8.3f  ${j.desc.take(60)}%s")
      }
    }
    spark.stop()
  }
}
