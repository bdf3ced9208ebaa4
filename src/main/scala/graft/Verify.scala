package graft
import java.nio.file.{Files, Paths}

/** Correctness dump for the DuckDB oracle compare: each SparkEntry.queries
  * result → parquet, plus oracle_sql.json.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [query...]
  * With no names it dumps the whole registry; with names, only those
  * queries and their oracle_sql.json entries (fast oracle-parity
  * iteration via tools/check.py). Exits 1 if any query fails. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "Verify: <sfDir> <outDir> [query...]")
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    Harness.requireQueries("Verify", names, SparkEntry.queries)
    def selected(name: String) = names.isEmpty || names(name)
    val spark = Harness.session(4)
    // clear stale results first: a query that fails this run must not
    // inherit a previous run's parquet and pass by accident
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    val out = new java.io.File(outDir)
    if (out.exists()) rmrf(out)
    out.mkdirs()
    var failed = 0
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${Harness.q(k)}: ${Harness.q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[verify] $failed queries failed")
      sys.exit(1)
    }
  }
}
