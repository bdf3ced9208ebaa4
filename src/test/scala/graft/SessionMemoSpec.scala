package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.functions._
import graft.core.{SessionMemo, Tables}

/** The one session memo's lifecycle: stamps that supersede, owners that
  * sweep, builds outside the map lock, releases only of built values —
  * and the loader and pipeline memos that ride on it. */
class SessionMemoSpec extends SparkSpec {
  import spark.implicits._

  private def uuid = org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(spark)

  /** Held loader entries for (this session, path). */
  private def loadEntries(path: String) =
    Tables.loads.entries.filter(e => e._1 == uuid && e._2 == path)

  /** Remove a writer's _SUCCESS marker: a corpus written by a non-Spark
    * generator has none, so the stamp must see the data files. */
  private def dropMarkers(dir: String): Unit =
    Files.walk(java.nio.file.Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.matches("_SUCCESS|\\._SUCCESS\\.crc"))
      .foreach(Files.delete)

  test("Tables.load: a regenerated flat table serves new rows and keeps one entry") {
    val sf = Files.createTempDirectory("graft_memo_flat").toString
    val path = s"$sf/t.parquet"
    (1 to 10).toDF("k").write.parquet(path)
    assert(Tables.load(spark, sf, "t").count() == 10L)
    val stamp1 = loadEntries(path).map(_._3)
    (1 to 25).toDF("k").write.mode("overwrite").parquet(path)
    assert(Tables.load(spark, sf, "t").count() == 25L)
    val held = loadEntries(path)
    assert(held.size == 1, held)
    assert(held.map(_._3) != stamp1, s"stamp did not move: $held")
  }

  test("Tables.load: a regenerated nested (partitionBy) table serves new rows") {
    val sf = Files.createTempDirectory("graft_memo_nested").toString
    val path = s"$sf/t.parquet"
    (1 to 10).toDF("k").withColumn("p", col("k") % 3).write.partitionBy("p").parquet(path)
    dropMarkers(path)
    assert(Tables.load(spark, sf, "t").count() == 10L)
    (1 to 40).toDF("k").withColumn("p", col("k") % 3)
      .write.mode("overwrite").partitionBy("p").parquet(path)
    dropMarkers(path)
    val df = Tables.load(spark, sf, "t")
    assert(df.count() == 40L)
    assert(df.agg(max("k")).as[Int].head() == 40)
    assert(loadEntries(path).size == 1)
  }

  test("Tables.load: a missing table fails naming the table and the sf dir") {
    val sf = Files.createTempDirectory("graft_memo_missing").toString
    val e = intercept[Exception](Tables.load(spark, sf, "no_such_table"))
    assert(!e.isInstanceOf[java.io.FileNotFoundException], e)
    assert(e.getMessage.contains("'no_such_table'") && e.getMessage.contains(sf),
      e.getMessage)
  }

  test("entries owned by a stopped session are swept and released") {
    val released = scala.collection.mutable.Buffer[Int]()
    val memo = new SessionMemo[Int](v => released.synchronized(released += v))
    @volatile var alive = true
    memo.lookup("s1", () => alive, "a", "")(1)
    memo(None, "jvm")(2)
    assert(memo.entries.map(_._1).toSet == Set("s1", ""))
    alive = false
    memo(None, "jvm")(3)
    assert(memo.entries == Seq(("", "jvm", "")), memo.entries)
    assert(released == Seq(1))
  }

  test("a new stamp supersedes the held entry and releases it") {
    val released = scala.collection.mutable.Buffer[String]()
    val memo = new SessionMemo[String](v => released += v)
    assert(memo(None, "k", "v1")("one") == "one")
    assert(memo(None, "k", "v1")("unused") == "one")
    assert(memo(None, "k", "v2")("two") == "two")
    assert(memo.entries == Seq(("", "k", "v2")))
    assert(released == Seq("one"))
  }

  test("eight concurrent callers of one key run its build exactly once") {
    val memo = new SessionMemo[Int]()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map(_ => Future {
        start.await()
        memo(None, "k") { builds.incrementAndGet(); Thread.sleep(200); 42 }
      })
      start.countDown()
      assert(Await.result(Future.sequence(calls), 30.seconds) == Seq.fill(8)(42))
      assert(builds.get == 1)
    } finally { pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("a throwing build caches nothing and the next call retries") {
    val memo = new SessionMemo[Int]()
    val builds = new AtomicInteger()
    intercept[IllegalStateException](
      memo(None, "k") { builds.incrementAndGet(); throw new IllegalStateException("boom") })
    assert(memo.entries.isEmpty)
    assert(memo(None, "k") { builds.incrementAndGet(); 7 } == 7)
    assert(builds.get == 2)
  }

  test("a build may look up another key of the same memo") {
    val memo = new SessionMemo[Int]()
    implicit val ec: ExecutionContext = ExecutionContext.global
    val nested = Future(memo(None, "outer")(memo(None, "inner")(1) + 1))
    assert(Await.result(nested, 30.seconds) == 2)
    assert(memo.entries.map(_._2).toSet == Set("outer", "inner"))
  }

  test("clear releases only built values and never forces a build") {
    val released = scala.collection.mutable.Buffer[String]()
    val memo = new SessionMemo[String](v => released += v)
    val builds = new AtomicInteger()
    memo(None, "built") { builds.incrementAndGet(); "a" }
    intercept[RuntimeException](memo(None, "failed") {
      builds.incrementAndGet(); throw new RuntimeException("x") })
    memo.clear()
    assert(memo.entries.isEmpty)
    assert(released == Seq("a"))
    assert(builds.get == 2)
  }

  test("resetShared frees the pins the shared memo built") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pinned = graft.pipeline.PipelineQueries.shared(Some(spark), "spec|probe")(
      spark.range(5).toDF("x").localCheckpoint())
    assert(pinned.count() == 5L)
    val pins = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(pins.nonEmpty)
    graft.pipeline.PipelineQueries.resetShared()
    assert(graft.pipeline.PipelineQueries.shared.entries.isEmpty)
    assert((spark.sparkContext.getPersistentRDDs.keySet & pins).isEmpty)
  }
}
