package graft

import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * bench queries to files (the `plans/rNN/<query>_{before,after}.txt`
  * artifacts the optimization judge checks plan claims against).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query> [query...]
  * writes `<outDir>/<query>_<suffix>.txt` per query. The session
  * comes from [[Harness]], as Bench's does (same cpus default,
  * SPARK_GRAFT_CONF applied), so the dumped plan is the plan the bench
  * runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "PlanDump: <outDir> <suffix> <query> [query...]")
    val outDir = args(0); val suffix = args(1); val names = args.drop(2).toSet
    Harness.requireQueries("PlanDump", names, SparkEntry.benchQueries)
    val sfDir = Harness.sfDir
    val spark = Harness.session(32)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.benchQueries.filter(kv => names(kv._1)).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
