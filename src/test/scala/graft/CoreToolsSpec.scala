package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}

/** Builder-tool and loader specs: the events footer probe (r13 advice:
  * the former conf-flip probe leaked a session-wide nanosAsLong window
  * to concurrent unrelated loads) and ScaleSpike's stale-stamp
  * handling on filtered runs and query-name check. */
class CoreToolsSpec extends SparkSpec {

  private val nanosFlag = "spark.sql.legacy.parquet.nanosAsLong"

  test("Tables.load(events): MICROS generation never touches the nanosAsLong conf") {
    spark.conf.unset(nanosFlag) // start clean regardless of suite order
    val df = graft.core.Tables.load(spark, sfDir, "events")
    assert(df.schema("ts").dataType == TimestampType, df.schema("ts"))
    assert(df.where(col("ts").isNotNull).limit(1).count() == 1L)
    // THE r13 advice property: a non-NANOS load leaves session conf
    // untouched (getOption surfaces the engine DEFAULT "false"; the
    // leak shape is an explicit "true") — there is no set-then-restore
    // window for a concurrent unrelated TIMESTAMP(NANOS) load to observe
    assert(spark.conf.get(nanosFlag, "false") != "true",
      s"events load leaked $nanosFlag=true")
  }

  test("Tables.load(events): NTZ generation normalizes to LTZ via the footer probe, dir layout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz_events").toFile
    try {
      // an NTZ-generation events table written as a DIRECTORY of part
      // files — exercises the probe's one-footer-from-a-dir path
      Seq((1L, "2024-01-02 03:04:05.123456", 7L))
        .toDF("event_id", "s", "user_id")
        .select(col("event_id"),
          col("s").cast(TimestampNTZType).as("ts"), col("user_id"))
        .repartition(2)
        .write.mode("overwrite").parquet(s"${dir.getPath}/events.parquet")
      spark.conf.unset(nanosFlag)
      val df = graft.core.Tables.load(spark, dir.getPath, "events")
      assert(df.schema("ts").dataType == TimestampType, df.schema("ts"))
      // UTC session timezone → the NTZ→LTZ cast is wall-clock exact
      val got = df.select(date_format(col("ts"),
        "yyyy-MM-dd HH:mm:ss.SSSSSS")).as[String].collect()
      assert(got.sameElements(Array("2024-01-02 03:04:05.123456")), got.mkString)
      assert(spark.conf.get(nanosFlag, "false") != "true",
        "NTZ events load leaked the nanosAsLong flag")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("ScaleSpike: a filtered run deletes (not skips) a stale wrong-multiplier table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spike").toFile
    def stamp(t: String): Option[String] = {
      val f = new java.io.File(dir, s"$t.parquet/_SPIKE_COPIES")
      if (f.exists()) Some(new String(
        java.nio.file.Files.readAllBytes(f.toPath)).trim) else None
    }
    try {
      // run 1: documents only, 2 copies — committed with stamp "2"
      ScaleSpike.run(spark, Array(sfDir, dir.getPath, "", "2", "documents"))
      assert(new java.io.File(dir, "documents.parquet/_SUCCESS").exists())
      assert(stamp("documents").contains("2"), stamp("documents"))
      val nDocs2 = spark.read.parquet(s"${dir.getPath}/documents.parquet").count()
      assert(nDocs2 == 2 * spark.read.parquet(s"$sfDir/documents.parquet").count())
      // run 2: embeddings only at a DIFFERENT multiplier. documents is
      // filtered out AND its stamp (2) mismatches — the r13 advice
      // hole: it used to stay PRESENT at the wrong size, so a timed
      // query touching it silently read a wrong-sized corpus. It must
      // now be ABSENT (loud missing-path failure instead).
      ScaleSpike.run(spark, Array(sfDir, dir.getPath, "", "3", "embeddings"))
      assert(!new java.io.File(dir, "documents.parquet").exists(),
        "stale 2x documents survived a filtered 3x run")
      assert(stamp("embeddings").contains("3"), stamp("embeddings"))
      // run 3: same multiplier, filtered out, committed → left intact
      // (matched stamps are exactly the reuse the stamps exist to allow)
      ScaleSpike.run(spark, Array(sfDir, dir.getPath, "", "3", "documents"))
      assert(stamp("embeddings").contains("3"),
        "matched-stamp embeddings was deleted by a filtered run")
      assert(new java.io.File(dir, "embeddings.parquet/_SUCCESS").exists())
      assert(stamp("documents").contains("3"), stamp("documents"))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("ScaleSpike: an unknown query name fails before any table is synthesized") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spike_names").toFile
    try {
      val e = intercept[IllegalArgumentException](ScaleSpike.run(spark,
        Array(sfDir, dir.getPath, "no_such_query", "2", "documents")))
      assert(e.getMessage.contains("no_such_query"), e.getMessage)
      assert(!new java.io.File(dir, "documents.parquet").exists(),
        "documents were synthesized before the name check")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("Pin: value identity, and the barrier survives the optimizer") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // value identity through both codegen and a collect (eval) path,
    // including NULL propagation
    val expensive = concat(col("text"), reverse(col("text")))
    val a = df.select(col("doc_id"), expensive.as("v"))
      .orderBy("doc_id").collect()
    val b = df.select(col("doc_id"), graft.core.Pin.col(expensive).as("v"))
      .orderBy("doc_id").collect()
    assert(a.sameElements(b))
    val nulls = df.select(graft.core.Pin.col(
      when(col("doc_id") < 0, col("text"))).as("v"))
    assert(nulls.where(col("v").isNotNull).count() == 0)
    // barrier property: a filter on the pinned alias must NOT be
    // pushed below the projection that computes it — the plan keeps
    // Filter ABOVE Project, and exactly ONE copy of the expensive
    // expression exists (the broken when(rand() >= 0, c) form left
    // copies of it inside the pushed-down filter)
    val q = df.withColumn("v", graft.core.Pin.col(expensive))
      .where(length(col("v")) > 4)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("pin("), plan)
    val copies = "reverse\\(".r.findAllIn(plan).length
    assert(copies == 1, s"expected 1 copy of the pinned expr, got $copies:\n$plan")
    val lines = plan.linesIterator.toSeq
    val fIdx = lines.indexWhere(_.contains("Filter"))
    val pIdx = lines.indexWhere(_.contains("pin("))
    assert(fIdx >= 0 && pIdx >= 0 && fIdx < pIdx,
      s"Filter must sit above the pinned Project:\n$plan")
  }
}
