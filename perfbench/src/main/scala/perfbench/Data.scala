package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded, counter-based input generators. Every field is a pure
  * function of (seed, row id, field), so the executors write the same
  * rows the driver-side reference holds without shipping data between
  * them, and the same seed always gives the same inputs. */
object Gen {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def bits(seed: Long, id: Long, field: Long): Long =
    mix(mix(mix(seed) ^ field) + id)
  def int(seed: Long, id: Long, field: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(bits(seed, id, field), n.toLong).toInt
  def unit(seed: Long, id: Long, field: Long): Double =
    (bits(seed, id, field) >>> 11) * (1.0 / (1L << 53))

  val DayMs = 86400000L
  /** 1992-01-01 .. 1998-08-02, the TPC-H date span. */
  def day(seed: Long, id: Long, field: Long): Long = 8035L + int(seed, id, field, 2405)
}

/** Table sizes. `full` is a third of sf0.1's orders, lineitem, documents
  * and embeddings, so every run fits the benchmark's time budget; `smoke`
  * is the sf0.001 shape. */
final case class Scale(orders: Int, lineitem: Int, docs: Int, vectors: Int)
object Scale {
  val full = Scale(orders = 50000, lineitem = 200000, docs = 2000, vectors = 1000)
  val smoke = Scale(orders = 1500, lineitem = 6000, docs = 300, vectors = 200)
}

/** `orders`, the kv store's source: key = row id, so keys are dense
  * over [0, n) and a uniform draw always names a present row. */
final case class Order(key: Long, cust: Long, status: String, price: Double,
                       dateMs: Long, priority: String) {
  def row: Row = Row(key, cust, status, price, new Timestamp(dateMs), priority)
  /** Payload bytes of the row as a client would send them. */
  def bytes: Long = 8 + 8 + status.length + 8 + 8 + priority.length
}

object Orders {
  val schema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", TimestampType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false)))
  val cols: Seq[String] = schema.fieldNames.toSeq
  val statuses = Array("O", "F", "P")
  val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def gen(seed: Long, id: Long): Order = Order(id,
    Gen.int(seed, id, 1, 15000).toLong,
    statuses(Gen.int(seed, id, 2, 3)),
    (Gen.int(seed, id, 3, 50000000) + 90000) / 100.0,
    Gen.day(seed, id, 4) * Gen.DayMs,
    priorities(Gen.int(seed, id, 5, 5)))

  def render(r: Row): String =
    Seq(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
      r.getTimestamp(4).getTime, r.getString(5)).mkString("|")
  def render(o: Order): String =
    Seq(o.key, o.cust, o.status, o.price, o.dateMs, o.priority).mkString("|")
}

/** `lineitem` as columns: the driver-side copy the aggregate
  * references recompute over. */
final class Lineitem(val n: Int, seed: Long) {
  val orderkey = new Array[Long](n)
  val linenumber = new Array[Int](n)
  val quantity = new Array[Double](n)
  val price = new Array[Double](n)
  val returnflag = new Array[String](n)
  val linestatus = new Array[String](n)
  val shipday = new Array[Long](n)
  for (i <- 0 until n) {
    val r = Lineitem.gen(seed, i, n)
    orderkey(i) = r.getLong(0); linenumber(i) = r.getInt(3)
    quantity(i) = r.getDouble(4); price(i) = r.getDouble(5)
    returnflag(i) = r.getString(8)
    linestatus(i) = r.getString(9); shipday(i) = r.getTimestamp(10).getTime / Gen.DayMs
  }
}

object Lineitem {
  val schema = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_tax", DoubleType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_linestatus", StringType, nullable = false),
    StructField("l_shipdate", TimestampType, nullable = false)))

  def gen(seed: Long, id: Long, n: Int): Row = Row(
    Gen.int(seed, id, 11, math.max(1, n / 4)).toLong,
    Gen.int(seed, id, 12, 20000).toLong,
    Gen.int(seed, id, 13, 1000).toLong,
    1 + Gen.int(seed, id, 14, 7),
    (1 + Gen.int(seed, id, 15, 50)).toDouble,
    (Gen.int(seed, id, 16, 10000000) + 100) / 100.0,
    Gen.int(seed, id, 17, 11) / 100.0,
    Gen.int(seed, id, 18, 9) / 100.0,
    "ANR".substring(Gen.int(seed, id, 19, 3)).take(1),
    "OF".substring(Gen.int(seed, id, 20, 2)).take(1),
    new Timestamp(Gen.day(seed, id, 21) * Gen.DayMs))
}

/** `documents`: word texts over a small vocabulary (so trigram
  * shingles are shared only by planted copies), English marker words
  * in about half of them, and planted exact and near duplicates. */
object Documents {
  val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))
  val vocab: Array[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part fast " +
    "row agg key query scan batch region cell family store index page block cache " +
    "split flush").split(" ")
  val markers = Array("the", "a", "of", "and", "in", "to", "is")

  private def base(seed: Long, id: Long): Array[String] = {
    val len = 12 + Gen.int(seed, id, 31, 60)
    val en = Gen.int(seed, id, 32, 2) == 0
    Array.tabulate(len) { w =>
      if (en && Gen.int(seed, id * 128 + w, 33, 6) == 0)
        markers(Gen.int(seed, id * 128 + w, 34, markers.length))
      else vocab(Gen.int(seed, id * 128 + w, 35, vocab.length))
    }
  }

  /** Every 13th doc is an exact copy of the doc before it; every 17th
    * a near copy (two words changed) of an earlier doc. */
  def text(seed: Long, id: Long): String =
    if (id % 13 == 12) text(seed, id - 1)
    else if (id % 17 == 16) {
      val src = Gen.int(seed, id, 36, id.toInt)
      val w = base(seed, src).clone()
      for (e <- 0 until 2) w(Gen.int(seed, id * 4 + e, 37, w.length)) =
        vocab(Gen.int(seed, id * 4 + e, 38, vocab.length))
      w.mkString(" ")
    } else base(seed, id).mkString(" ")

  def row(seed: Long, id: Long): Row = {
    val t = text(seed, id)
    Row(id, t, if (t.split(" ").exists(markers.contains)) "en" else "xx",
      s"src${Gen.int(seed, id, 39, 5)}", t.length.toLong)
  }
}

/** `embeddings`: 64-dim float vectors around 32 seeded centroids. */
object Embeddings {
  val dim = 64
  val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false)))

  def vec(seed: Long, id: Long): (Array[Float], Int) = {
    val c = Gen.int(seed, id, 41, 32)
    (Array.tabulate(dim) { d =>
      (2 * Gen.unit(seed, c * 64L + d, 42) - 1 +
        0.35 * (2 * Gen.unit(seed, id * 64 + d, 43) - 1)).toFloat
    }, c)
  }
  def row(seed: Long, id: Long): Row = {
    val (v, c) = vec(seed, id)
    Row(id, v.toSeq, c)
  }
}

object Corpus {
  /** Write one generated table as a single flat parquet file set under
    * `dir/name.parquet` — one writer task, the layout of the sf corpora. */
  def write(spark: SparkSession, dir: String, name: String, n: Int,
            schema: StructType, row: Long => Row): Unit = {
    val rdd = spark.sparkContext.parallelize(0L until n.toLong, 1).map(row)
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }
}
