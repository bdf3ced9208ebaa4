package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The tool harness: the query-name guard every main runs, the
  * SPARK_GRAFT_CONF parser, and the one-site rules (session config,
  * memo map). */
class HarnessSpec extends SparkSpec {

  private val registries = Seq(
    "queries" -> SparkEntry.queries, "benchQueries" -> SparkEntry.benchQueries)

  for ((label, registry) <- registries) {
    test(s"requireQueries($label): unknown and blank names fail, each named") {
      val e = intercept[IllegalArgumentException](Harness.requireQueries(
        "Tool", Seq("scan_range", "no_such_query", "", "other_typo"), registry))
      for (bad <- Seq("'no_such_query'", "''", "'other_typo'"))
        assert(e.getMessage.contains(bad), e.getMessage)
      assert(!e.getMessage.contains("scan_range"), e.getMessage)
      assert(e.getMessage.startsWith("requirement failed: Tool: unknown queries"),
        e.getMessage)
    }

    test(s"requireQueries($label): registered names pass") {
      Harness.requireQueries("Tool", Seq("scan_range", "agg_grouped"), registry)
      Harness.requireQueries("Tool", registry.keys, registry)
      Harness.requireQueries("Tool", Nil, registry)
    }
  }

  test("parseConf: malformed entries fail loudly, naming the entry") {
    for (bad <- Seq("a", "=v", "k=v;a")) {
      val e = intercept[IllegalArgumentException](Harness.parseConf(bad))
      val entry = bad.split(";").last
      assert(e.getMessage.contains(s"entry '$entry' is not k=v"), e.getMessage)
    }
  }

  test("parseConf: values keep every '=', empty entries are skipped") {
    assert(Harness.parseConf("") == Nil)
    assert(Harness.parseConf(";;") == Nil)
    assert(Harness.parseConf("a=1;;b=x=y=;c=") ==
      Seq("a" -> "1", "b" -> "x=y=", "c" -> ""))
  }

  /** One-site rules: (test name, needle, the one file allowed to hold
    * it, the roots scanned). Needles are split so this file never
    * matches itself. */
  private val oneSite = Seq(
    ("one config site: only Harness.scala builds a SparkSession",
      "SparkSession" + ".builder", "Harness.scala",
      Seq("src/main/scala", "src/test/scala")),
    ("one memo site: only SessionMemo.scala holds a concurrent map",
      "Concurrent" + "HashMap", "SessionMemo.scala", Seq("src/main/scala")))

  for ((name, needle, allowed, rootNames) <- oneSite) test(name) {
    val roots = rootNames.map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r missing (cwd " +
      s"${Paths.get("").toAbsolutePath})"))
    val scala = roots.flatMap { r =>
      val s = Files.walk(r)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val holders = scala.filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString)
    assert(holders == Seq(allowed), holders)
  }

  test("the shared test session carries the harness settings") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
  }
}
