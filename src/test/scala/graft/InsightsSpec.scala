package graft

import org.apache.spark.sql.functions._
import graft.analytics.Tools

/** Behavior + plan specs for the analytics-insight operators added in
  * round 6 continuation: cube, retention cohorts, fixed histograms,
  * integer-exact anomaly flags, time-weighted averages, label-balance
  * weights and deterministic shard assignment. */
class InsightsSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  // ---- agg_cube -------------------------------------------------------

  test("agg_cube: the four grouping levels are mutually consistent") {
    val rows = q("agg_cube").collect()
    def level(g: Long) = rows.filter(_.getAs[Long]("gid") == g)
    val grand = level(3)
    assert(grand.length == 1)
    val total = grand.head.getAs[Long]("qty_cents")
    val n = grand.head.getAs[Long]("n_rows")
    // each partial level re-sums to the grand total
    for (g <- Seq(0L, 1L, 2L)) {
      assert(level(g).map(_.getAs[Long]("qty_cents")).sum == total, s"gid=$g sum")
      assert(level(g).map(_.getAs[Long]("n_rows")).sum == n, s"gid=$g count")
    }
    // sentinel discipline: subtotal rows carry '(all)' exactly on the
    // rolled-up column(s) the gid bits say are rolled up
    assert(level(1).forall(r => r.getAs[String]("l_linestatus") == "(all)"
      && r.getAs[String]("l_returnflag") != "(all)"))
    assert(level(2).forall(r => r.getAs[String]("l_returnflag") == "(all)"
      && r.getAs[String]("l_linestatus") != "(all)"))
  }

  test("agg_cube: all grouping sets ride ONE aggregate pass (single Expand, one shuffle)") {
    val p = q("agg_cube").queryExecution.executedPlan.toString()
    assert("Expand".r.findAllIn(p).size >= 1, p)
    val shuffles = "(?<!Reused)(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"cube should cost exactly one hash shuffle:\n$p")
  }

  // ---- anomaly flags --------------------------------------------------

  test("anomalyFlags: a planted outlier is flagged, constant groups never are") {
    val df = (Seq.fill(50)(("steady", 100L)) ++ Seq(("steady", 99L), ("steady", 101L),
        ("steady", 90000L)) ++ Seq.fill(20)(("flat", 777L)))
      .zipWithIndex.map { case ((g, c), i) => (i.toLong, g, c) }
      .toDF("event_id", "event_type", "c")
    val out = Tools.anomalyFlags(df, "event_type", "c", sigmas = 3).collect()
    assert(out.length == 1, out.mkString(", "))
    assert(out.head.getAs[Long]("c") == 90000L)
    // the flat group has v = 0 and dev = 0 for every row: never flagged
    assert(!out.exists(_.getAs[String]("event_type") == "flat"))
  }

  test("anomaly_zscore: flagging pass is shuffle-free (stats broadcast beside the scan)") {
    val p = q("anomaly_zscore").queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly one hash exchange: the per-type stats aggregate; the
    // big-side scan reaches the join unshuffled
    val shuffles = "(?<!Reused)(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected only the stats aggregate to shuffle:\n$p")
  }

  // ---- time-weighted average -----------------------------------------

  test("timeWeightedAvg: hand-checked step integral; single-reading keys omitted") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(s: Long) = new java.sql.Timestamp(base.getTime + s * 1000)
    val df = Seq(
      (1L, at(0), 100L, 10L),   // 10 s at 100
      (2L, at(10), 200L, 10L),  // 20 s at 200
      (3L, at(30), 999L, 10L),  // terminal reading: no span
      (4L, at(0), 5L, 20L)      // single reading: key omitted
    ).toDF("event_id", "ts", "c", "user_id")
    val out = Tools.timeWeightedAvg(df, "user_id", "ts", "c").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("user_id") == 10L)
    assert(r.getAs[Long]("span_us") == 30000000L)
    // (100*10 + 200*20) / 30 = 166 (floor)
    assert(r.getAs[Long]("twa") == 166L)
  }

  test("integer division parity on NEGATIVES: Spark div truncates exactly like DuckDB //") {
    import spark.implicits._
    // the r12 inverted-premise fix: DuckDB's // TRUNCATES toward zero
    // (-7 // 2 = -3, verified on duckdb 1.0.0), same as Spark's div —
    // the old (a - pmod(a, b)) div b floor forms diverged from the
    // bare-// oracles on negative numerators. Pin the three repaired
    // operators on signed payloads the fixtures can't produce.
    // timeWeightedAvg: spans 1 µs at -3 and 1 µs at -4 → num = -7,
    // span 2 → truncation gives -3 (floor would give -4); µs-precision
    // timestamps built via timestamp_micros to keep the 1 µs gaps
    val dfUs = Seq((1L, 0L, -3L, 1L), (2L, 1L, -4L, 1L), (3L, 2L, 999L, 1L))
      .toDF("event_id", "us", "c", "user_id")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val twa = Tools.timeWeightedAvg(dfUs, "user_id", "ts", "c").collect().head
    assert(twa.getAs[Long]("twa") == -3L, // truncation, NOT floor (-4)
      s"twa ${twa.getAs[Long]("twa")} != -3 (DuckDB // truncates)")
    // anomalyFlags mean: group sum -7 over n=2 → m = -3 (truncation);
    // dev of the -4 row = -1, of -3 row = 0; v = q/n - m*m = 25 div 2
    // - 9 = 3 → with sigmas=1, flag rows with dev² > 3 → none. The
    // assertion is the MEAN path not erroring and matching truncation
    // semantics: plant a wide outlier to observe m through dev_cents.
    val adf = Seq((1L, "g", -3L), (2L, "g", -4L), (3L, "g", -10000L))
      .toDF("event_id", "event_type", "c")
    val flagged = Tools.anomalyFlags(adf, "event_type", "c", sigmas = 1)
      .collect()
    // sum = -10007, n = 3 → m = -3335 (trunc; floor would be -3336).
    // dev_cents of the outlier = -10000 - (-3335) = -6665
    assert(flagged.exists(r => r.getAs[Long]("c") == -10000L &&
      r.getAs[Long]("dev_cents") == -6665L),
      flagged.map(r => (r.getAs[Long]("c"), r.getAs[Long]("dev_cents"))).mkString(","))
    // hashTable bucket: negative key -7 at width 1000 → bucket 0
    // (truncation; the old pmod-floor form gave -1 ≠ DuckDB's 0)
    val hdf = Seq((-7L, 1L), (-1007L, 1L), (7L, 1L)).toDF("k", "h")
    val buckets = Tools.hashTable(hdf, "k", col("h"), 1000L)
      .select("bucket").as[Long].collect().toSet
    assert(buckets == Set(0L, -1L), s"buckets $buckets != Set(0, -1)")
  }

  test("time_weighted_avg: window and aggregate share one exchange on the key") {
    val p = q("time_weighted_avg").queryExecution.executedPlan.toString()
    val shuffles = "(?<!Reused)(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"groupBy(user_id) must reuse the window's partitioning:\n$p")
  }

  // ---- label balance --------------------------------------------------

  test("label_balance: weights invert counts and cover every label") {
    val rows = q("label_balance").collect()
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    val k = rows.length.toLong
    for (r <- rows) {
      val expect = total * 1000000L / (k * r.getAs[Long]("n_vecs"))
      assert(r.getAs[Long]("weight_ppm") == expect)
    }
    // rarer labels never get a smaller weight
    val sorted = rows.sortBy(_.getAs[Long]("n_vecs"))
    val w = sorted.map(_.getAs[Long]("weight_ppm"))
    assert(w.zip(w.tail).forall { case (a, b) => a >= b })
  }

  // ---- shuffle shard --------------------------------------------------

  test("shuffle_shard: manifest partitions the corpus; assignment is run-stable") {
    val rows = q("shuffle_shard").collect()
    val nDocs = graft.core.Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(rows.forall { r =>
      val s = r.getAs[Long]("shard"); s >= 0 && s < 16 })
    // deterministic: a second evaluation produces the identical manifest
    val again = q("shuffle_shard").collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  // ---- retention / histogram ------------------------------------------

  test("retention_cohorts: offsets are non-negative and day-0 covers every user") {
    val rows = q("retention_cohorts").collect()
    assert(rows.forall(_.getAs[Long]("day_offset") >= 0))
    val users = graft.core.Tables.load(spark, sfDir, "events")
      .select("user_id").distinct().count()
    val day0 = rows.filter(_.getAs[Long]("day_offset") == 0)
      .map(_.getAs[Long]("n_users")).sum
    assert(day0 == users, s"every user is active in their own cohort day: $day0 != $users")
  }

  test("histogram_fixed: bins tile the corpus exactly") {
    val rows = q("histogram_fixed").collect()
    val n = graft.core.Tables.load(spark, sfDir, "events").count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == n)
  }

  // ---- group quantiles ------------------------------------------------

  test("groupQuantiles: hand-checked ranks, monotone across percents, one shuffle") {
    // n = 4: p25 -> rank 1, p50 -> rank 2, p75 -> rank 3, p95 -> rank 4
    val df = Seq((1L, "g", 10L), (2L, "g", 20L), (3L, "g", 30L), (4L, "g", 40L))
      .toDF("event_id", "t", "c")
    val r = Tools.groupQuantiles(df, "t", "c", "event_id", Seq(25, 50, 75, 95))
      .collect().head
    assert((r.getAs[Long]("p25"), r.getAs[Long]("p50"),
      r.getAs[Long]("p75"), r.getAs[Long]("p95")) == ((10L, 20L, 30L, 40L)))
    val rows = q("group_quantiles").collect()
    assert(rows.forall { x =>
      val (a, b, c2, d2) = (x.getAs[Long]("p25"), x.getAs[Long]("p50"),
        x.getAs[Long]("p75"), x.getAs[Long]("p95"))
      a <= b && b <= c2 && c2 <= d2
    })
    val p = q("group_quantiles").queryExecution.executedPlan.toString()
    val shuffles = "(?<!Reused)(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"aggregate must reuse the window exchange:\n$p")
  }

  // ---- bitmap index stats --------------------------------------------

  test("postingRunStats: runs and density on a hand-built posting list") {
    // ids 1,2,3 | 7 | 9,10 -> 3 runs, 6 rows over span 10 -> 600000 ppm
    val df = Seq(1L, 2L, 3L, 7L, 9L, 10L).map(("a", _)).toDF("v", "id")
    val r = Tools.postingRunStats(df, "v", "id").collect().head
    assert(r.getAs[Long]("n_runs") == 3L)
    assert(r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Long]("density_ppm") == 600000L)
  }

  // ---- z-order --------------------------------------------------------

  test("mortonKey: interleave is exact and order-preserving on tiles") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L), (170L, 85L))
      .toDF("a", "b")
    val out = df.select(graft.core.Layout.mortonKey(col("a"), col("b"), 8).as("m"))
      .collect().map(_.getLong(0))
    // (1,0) -> bit 1, (0,1) -> bit 0, (255,255) -> 65535,
    // (170,85): a=10101010₂ lands on odd bits {3,7,11,15} = 0x8888,
    // b=01010101₂ on even bits {0,4,8,12} = 0x1111 -> 0x9999 = 39321
    assert(out.toSeq == Seq(0L, 2L, 1L, 65535L, 39321L))
  }

  test("zorder_layout: every z-bucket is a bounded tile in both dimensions") {
    val rows = q("zorder_layout").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("pa_max") - r.getAs[Long]("pa_min") <= 15L, r.toString)
      assert(r.getAs[Long]("pb_max") - r.getAs[Long]("pb_min") <= 15L, r.toString)
    }
  }

  // ---- bigrams / balanced sample / markov / baskets -------------------

  test("bigramVocab: hand-corpus counts; heap aggregate, no global sort of the counts") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x")).toDF("doc_id", "text")
    val out = graft.text.TextOps.bigramVocab(docs, 10).collect()
    // bigrams: a b (x3: twice in doc1, once in doc2), b a (x1), b c (x1)
    val byToken = out.map(r => r.getAs[String]("bigram") -> r.getAs[Long]("cnt")).toMap
    assert(byToken == Map("a b" -> 3L, "b a" -> 1L, "b c" -> 1L))
    assert(out.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    val p = q("text_bigrams").queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange rangepartitioning"),
      s"counts table must never globally sort:\n$p")
  }

  test("sample_balanced: every class lands exactly at the smallest class's size") {
    val rows = q("sample_balanced").collect()
    val perLabel = rows.groupBy(_.getAs[Int]("label")).view.mapValues(_.length).toMap
    val e = graft.core.Tables.load(spark, sfDir, "embeddings")
    val trueMin = e.groupBy("label").count().agg(min("count")).head().getLong(0)
    assert(perLabel.values.toSet == Set(trueMin.toInt))
    assert(perLabel.keySet.size ==
      e.select("label").distinct().count().toInt, "every label survives")
  }

  test("markov_transitions: per-src probabilities sum to ~1e6 with floor slack") {
    val rows = q("markov_transitions").collect()
    assert(rows.nonEmpty)
    val bySrc = rows.groupBy(_.getAs[String]("src"))
    for ((src, rs) <- bySrc) {
      val total = rs.map(_.getAs[Long]("prob_ppm")).sum
      assert(total <= 1000000L && total > 1000000L - rs.length,
        s"$src prob mass $total")
    }
  }

  test("basket_pairs: canonical pair order, bounded output, support positive") {
    val rows = q("basket_pairs").collect()
    assert(rows.length <= 100 && rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("p1") < r.getAs[Long]("p2")))
    assert(rows.forall(_.getAs[Long]("n_orders") >= 1L))
  }

  // ---- coalesce plan / incremental agg --------------------------------

  test("file_coalesce_plan: bins are contiguous, cover every file, near target size") {
    val rows = q("file_coalesce_plan").collect()
    assert(rows.nonEmpty)
    // contiguous file ranges: each bin's first file follows the
    // previous bin's last
    val sorted = rows.sortBy(_.getAs[Long]("bin"))
    for (Array(a, b) <- sorted.sliding(2).map(_.toArray).toSeq if a ne b)
      assert(b.getAs[Long]("first_file") == a.getAs[Long]("last_file") + 1)
    // next-fit: every bin except the last crosses target only via its
    // final file -> bin_bytes - (any one file) < target; weaker easily
    // checkable form: at most 6 bins for a /5 target
    assert(rows.length <= 6, rows.mkString(", "))
  }

  test("agg_incremental: merged base+delta partials equal direct recomputation") {
    val direct = graft.core.Tables.load(spark, sfDir, "events")
      .withColumn("c", floor(col("value") * 100).cast("bigint"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("c").as("sum_cents"),
        min("ts").as("first_ts"), max("ts").as("last_ts"))
      .orderBy("user_id")
    val merged = q("agg_incremental")
    assert(merged.collect().toSeq == direct.collect().toSeq)
  }

  // ---- eval + sketches ------------------------------------------------

  test("eval_auc: histogram U-statistic equals the naive pairwise AUC") {
    // hand corpus with ties: pos scores {3,5,5}, neg {1,5,7}
    val df = Seq((1L, 3L, 1L), (2L, 5L, 1L), (3L, 5L, 1L),
      (4L, 1L, 0L), (5L, 5L, 0L), (6L, 7L, 0L))
      .toDF("vec_id", "score_ppm", "pos")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("score_ppm")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = df.groupBy("score_ppm")
      .agg(sum("pos").as("pos_b"), sum(lit(1L) - col("pos")).as("neg_b"))
      .withColumn("neg_below", sum("neg_b").over(w) - col("neg_b"))
      .agg(sum(expr("pos_b * (2 * neg_below + neg_b)")).as("u2"))
      .head().getLong(0)
    // naive: sum over (pos, neg) pairs of 2*[s_p > s_n] + 1*[s_p = s_n]
    val pos = Seq(3L, 5L, 5L); val neg = Seq(1L, 5L, 7L)
    val naive = (for (p <- pos; n <- neg)
      yield if (p > n) 2L else if (p == n) 1L else 0L).sum
    assert(got == naive, s"u2 $got != naive $naive")
    val r = q("eval_auc").collect().head
    assert(r.getAs[Long]("auc_ppm") >= 0 && r.getAs[Long]("auc_ppm") <= 1000000)
  }

  test("eval_confusion: cells tile the corpus at every threshold; monotone recall") {
    val rows = q("eval_confusion").collect().sortBy(_.getAs[Long]("thresh"))
    val n = graft.core.Tables.load(spark, sfDir, "embeddings").count()
    for (r <- rows)
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fp") +
        r.getAs[Long]("fn") + r.getAs[Long]("tn") == n)
    // raising the threshold can only shrink recall
    val rec = rows.map(_.getAs[Long]("recall_ppm"))
    assert(rec.zip(rec.tail).forall { case (a, b) => a >= b }, rec.toSeq.toString)
  }

  test("sketch_topk_shards: shard-merged sketch is exact under the tracked budget") {
    val got = q("sketch_topk_shards").collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_events")).toMap
    val exact = graft.core.Tables.load(spark, sfDir, "events")
      .groupBy("event_type").count().collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
    assert(got == exact, s"sketch must be exact at this cardinality: $got vs $exact")
  }

  test("sketch_hll_shards: estimates land within 5% of exact; sharding is lossless-ish") {
    // both sketch passes combine map-side: no repartition of the keys in
    // front of them (the countDistinct's own l_orderkey exchange stays),
    // and no sketch buffer per distinct key
    val plan = q("sketch_hll_shards").queryExecution.executedPlan.toString()
    assert(!plan.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(l_orderkey") &&
          l.contains("REPARTITION_BY_NUM")), plan)
    assert(!plan.linesIterator.exists(l =>
        l.contains("keys=[l_orderkey") && l.contains("hll_sketch_agg")), plan)
    val r = q("sketch_hll_shards").collect().head
    val exact = r.getAs[Long]("exact_ndv").toDouble
    assert(r.getAs[Long]("n_shards") == 8L)
    for (c <- Seq("est_union", "est_whole")) {
      val est = r.getAs[Long](c).toDouble
      assert(math.abs(est - exact) / exact < 0.05, s"$c=$est exact=$exact")
    }
  }

  test("partition_prune: the quarter filter is a PartitionFilter, not a data filter") {
    val p = q("partition_prune").queryExecution.executedPlan.toString()
    assert(p.contains("PartitionFilters") && p.matches("(?s).*PartitionFilters: \\[[^\\]]*ym[^\\]]*\\].*"),
      s"ym must prune at planning time:\n$p")
    // and the row count equals exactly the three months' worth
    val n = q("partition_prune").collect().map(_.getAs[Long]("n_orders")).sum
    val direct = graft.core.Tables.load(spark, sfDir, "orders")
      .where(expr("year(o_orderdate) * 100 + month(o_orderdate) BETWEEN 199607 AND 199609"))
      .count()
    assert(n == direct)
  }

  test("schema_evolution: v1 rows null-fill the evolved column, v2 rows keep it") {
    val rows = q("schema_evolution").collect().sortBy(_.getAs[Int]("v"))
    assert(rows.length == 2)
    val v1 = rows.head; val v2 = rows.last
    assert(v1.getAs[Long]("with_priority") == 0L, "old generation must read as null")
    assert(v2.getAs[Long]("with_priority") == v2.getAs[Long]("n_rows"),
      "new generation keeps every value")
  }

  test("star_join_rollup: fact reaches the aggregate with zero join shuffles") {
    val p = q("star_join_rollup").queryExecution.executedPlan.toString()
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, s"all dims broadcast:\n$p")
    val shuffles = "(?<!Reused)(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"only the group-by may shuffle:\n$p")
  }

  test("period_delta_topn: one scan, conditional sums, TakeOrderedAndProject") {
    val p = q("period_delta_topn").queryExecution.executedPlan.toString()
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), s"two-scan self-join formulation leaked:\n$p")
    val rows = q("period_delta_topn").collect()
    assert(rows.length == 50)
    val deltas = rows.map(r => math.abs(r.getAs[Long]("delta_cents")))
    assert(deltas.zip(deltas.tail).forall { case (a, b) => a >= b })
  }

  test("prefixEncodingSavings: exact fold, block resets the chain, regions independent") {
    val df = Seq(
      (0L, "aaaa1"), (0L, "aaaa2"), (0L, "aabb3"), (0L, "abcd4"),
      (1L, "zzzz9")
    ).toDF("reg", "fk")
    val got = Tools.prefixEncodingSavings(df, col("fk"), col("reg"), blockCells = 2)
      .orderBy("region")
      .collect().map(r => (r.getAs[Long]("region"), r.getAs[Long]("n_cells"),
        r.getAs[Long]("raw_key_bytes"), r.getAs[Long]("saved_bytes")))
    // region 0: aaaa1 block-start 0; aaaa2 shares 'aaaa' = 4; aabb3
    // BLOCK RESET -> 0 (the seek unit must be self-contained); abcd4
    // shares 'a' = 1. region 1: single key stores whole.
    assert(got.sameElements(Array((0L, 4L, 20L, 5L), (1L, 1L, 5L, 0L))),
      got.mkString(","))
  }

  test("blockEncodingDecision: hand-priced cells, ts-diff narrowing, value elision") {
    // region 0, rlen=4, famLen=2 -> klen = 18 + qlen; blocks of 2.
    // A/B same row+qual, ts 256 apart (DIFF stores a 2-byte diff vs a
    // 3-byte ts; FAST_DIFF shares 6 BE ts bytes AND elides the equal
    // value). C opens block 2; D changes row (3 common chars) and qual.
    // E/F probe the sequential-prefix rule: F follows E across a ROW
    // change with an IDENTICAL qualifier and timestamp — the flat-key
    // fold stops inside the row (common = 5), so PREFIX must NOT
    // credit the coinciding qualifier/ts bytes (the r9 review bug:
    // `q = pq` alone added up to 9 phantom common bytes)
    val df = Seq(
      (0L, "0001", "cl", 1000000L, "xyz", 1L),
      (0L, "0001", "cl", 1000256L, "xyz", 2L),
      (0L, "0001", "cl", 1000256L, "ab", 3L),
      (0L, "0002", "click", 5L, "ab", 4L),
      (0L, "0003", "click", 5L, "zz", 5L),
      (0L, "0004", "click", 5L, "zz", 6L)
    ).toDF("reg", "row", "q", "ts", "v", "tie")
    val got = Tools.blockEncodingDecision(df, col("reg"), col("row"), col("q"),
        col("ts"), col("v"), col("tie"), famLen = 2, blockCells = 2)
      .collect().map(r => (r.getAs[Long]("n_cells"), r.getAs[Long]("raw_bytes"),
        r.getAs[Long]("prefix_bytes"), r.getAs[Long]("diff_bytes"),
        r.getAs[Long]("fast_diff_bytes"), r.getAs[String]("best_encoding")))
    // per-cell: raw 31/31/30/33/33/33; PREFIX 26/9/25/23/28/23 (F:
    // common stays 5 — 1+1+1+18+2); DIFF 22/7/21/12/22/11 (B:
    // flag+vint(common)+2-byte ts diff+value); FAST 27/4/26/12/29/8
    // (B: 2 ts suffix bytes + value elided; F: 0 ts suffix bytes)
    assert(got.sameElements(Array((6L, 191L, 134L, 95L, 106L, "DIFF"))),
      got.mkString(","))
  }

  test("tsCommonBytesSql: XOR ladder matches the HOF reference on edge pairs") {
    // the r17 codegen rewrite of the encoding family's per-cell
    // ts-common-bytes: every (a, b) pair over driven edge longs must
    // agree with the interpreted transform+array_position form it
    // replaced (byte boundaries, sign bit, equal, NULL predecessor)
    val edges = Seq(0L, 1L, 255L, 256L, 257L, 65535L, 65536L, 1000000L,
      1000256L, 0x0102030405060708L, 0x0102030405060709L, 0x0102030405070708L,
      -1L, -256L, Long.MinValue, Long.MaxValue, Long.MinValue + 1)
    val pairs = for (a <- edges; b <- edges) yield (a, b)
    val df = pairs.toDF("_ts", "_pts")
      .withColumn("_hofmis", expr(
        "array_position(transform(sequence(1, 8), i -> " +
          "IF((shiftright(_ts, (8 - i) * 8) & 255) = " +
          "(shiftright(_pts, (8 - i) * 8) & 255), 1, 0)), 0)"))
      .withColumn("_ref", expr("cast(IF(_hofmis = 0, 8, _hofmis - 1) as bigint)"))
      .withColumn("_new", expr(Tools.tsCommonBytesSql))
    assert(df.where(col("_ref") =!= col("_new")).isEmpty,
      df.where(col("_ref") =!= col("_new")).collect().mkString(","))
    // NULL predecessor (first row of a partition): both forms yield 0
    val nulls = Seq((5L, Option.empty[Long])).toDF("_ts", "_pts")
      .withColumn("_new", expr(Tools.tsCommonBytesSql))
    assert(nulls.select("_new").head.getLong(0) == 0L)
  }

  test("quotaThrottleSize: checkQuota precedence on windows violating several limits") {
    // One user per case, all in ONE window; limits: 2 reqs, 100 req
    // bytes, 50 write bytes, 40 read bytes. checkQuota's order is
    // number > request size > write size > read size, so a window
    // violating several limits reports the FIRST — and the write/read
    // arms only fire when the window actually wrote/read.
    val limits = Seq(("t", 2L, 100L, 50L, 40L))
      .toDF("tier", "max_reqs", "max_req_bytes", "max_write_bytes",
        "max_read_bytes")
    // (user, isRead, bytes): u1 violates EVERYTHING (3 reqs, 200 bytes,
    // 120 write, 80 read) -> NumRequests wins. u2: 2 reqs but 200
    // bytes -> RequestSize wins over both size arms. u3: fine on
    // number/total, write 60 + read 35 -> WriteSize (before ReadSize).
    // u4: READ-ONLY window of 90 bytes: write arm must NOT fire
    // (write_bytes = 0) -> ReadSize. u5: under everything -> null.
    val log = Seq(
      (1L, false, 60L), (1L, true, 80L), (1L, false, 60L),
      (2L, false, 30L), (2L, true, 170L),
      (3L, false, 60L), (3L, true, 35L),
      (4L, true, 45L), (4L, true, 45L),
      (5L, false, 20L), (5L, true, 20L)
    ).toDF("u", "r", "b").withColumn("tier", lit("t"))
    val got = Tools.quotaThrottleSize(log, col("u"), col("tier"), lit(1L),
        col("r"), col("b"), limits)
      .orderBy("principal")
      .collect().map(r => (r.getAs[Long]("principal"),
        r.getAs[String]("throttle_as"), r.getAs[Boolean]("over_quota")))
    assert(got.sameElements(Array(
      (1L, "NumRequestsExceeded", true), (2L, "RequestSizeExceeded", true),
      (3L, "WriteSizeExceeded", true), (4L, "ReadSizeExceeded", true),
      (5L, null, false))), got.mkString(","))
  }

  test("quotaThrottleCounts: the six-limiter INTERLEAVED checkQuota precedence") {
    // TimeBasedLimiter.checkQuota order: total count > total size >
    // write COUNT > write size (windows that wrote) > read COUNT >
    // read size (windows that read). The count arms sit BETWEEN the
    // size arms — u3/u5 are the interleave probes: both the count and
    // the size limiter of one direction are over, and the count must
    // win because it is checked first INSIDE the direction block.
    // Limits: 3 reqs / 200 total bytes / 1 write req / 50 write bytes
    // / 1 read req / 40 read bytes.
    val limits = Seq(("t", 3L, 200L, 1L, 50L, 1L, 40L))
      .toDF("tier", "max_reqs", "max_req_bytes", "max_write_reqs",
        "max_write_bytes", "max_read_reqs", "max_read_bytes")
    // u1: 4 reqs, everything over -> NumRequests (checked first).
    // u2: 3 reqs / 300 bytes / 2 writes -> RequestSize beats NumWrite.
    // u3: 2 writes of 30 (count 2>1 AND bytes 60>50) -> NumWrite wins
    //     over WriteSize — the write-direction interleave.
    // u4: 1 write of 60 (count ok, bytes over) -> WriteSize.
    // u5: 2 reads of 30 (count 2>1 AND bytes 60>40) -> NumRead wins
    //     over ReadSize — the read-direction interleave.
    // u6: 1 read of 45 (count ok, bytes over) -> ReadSize.
    // u7: 1 write of 10 (write arms pass) + 1 read of 45 -> ReadSize;
    //     passing write arms must not mask the read block.
    // u8: under everything -> null.
    val log = Seq(
      (1L, false, 10L), (1L, false, 10L), (1L, true, 10L), (1L, true, 10L),
      (2L, false, 100L), (2L, false, 100L), (2L, true, 100L),
      (3L, false, 30L), (3L, false, 30L),
      (4L, false, 60L),
      (5L, true, 30L), (5L, true, 30L),
      (6L, true, 45L),
      (7L, false, 10L), (7L, true, 45L),
      (8L, false, 10L), (8L, true, 10L)
    ).toDF("u", "r", "b").withColumn("tier", lit("t"))
    val got = Tools.quotaThrottleCounts(log, col("u"), col("tier"), lit(1L),
        col("r"), col("b"), limits)
      .orderBy("principal")
      .collect().map(r => (r.getAs[Long]("principal"),
        r.getAs[String]("throttle_as"), r.getAs[Boolean]("over_quota")))
    assert(got.sameElements(Array(
      (1L, "NumRequestsExceeded", true),
      (2L, "RequestSizeExceeded", true),
      (3L, "NumWriteRequestsExceeded", true),
      (4L, "WriteSizeExceeded", true),
      (5L, "NumReadRequestsExceeded", true),
      (6L, "ReadSizeExceeded", true),
      (7L, "ReadSizeExceeded", true),
      (8L, null, false))), got.mkString(","))
  }

  test("prefixTreeEncodingSize: hand-priced trie blocks, nubs, degenerate block") {
    // Region 0, rowWidth=4, famLen=2, one 4-cell block.
    // Rows {0001,0001,0002,0011}: trie = root "00" + branch "000" +
    // leaves 0001(2 cells)/0002/0011 -> N=5 nodes, 7 distinct
    // prefixes. Quals {cl,cli,d}: root ""(empty token) + NUB "cl"
    // (full qual AND parent of "cli") + "cli" + "d" -> N_q=4, P_q=4;
    // qbytes = 4 uvints + 4 token chars + 4x1 offset = 12.
    // ts {1000,2000}: index width ufint(1)=1, deltas 2 x ufint(1000)=4.
    // values: tvb=7, maxLen=2 -> offset/len FInts 1+1.
    // fixedPerCell = fam1+qual1+tags1+ts1+val 1+1 = 6; row section =
    // 3x5 uvints + 3 elided token chars + 4 fan + 4x6 cell block +
    // 4 child ptrs = 50; header = 25 + 7 one-byte uvints +
    // uvlong(1000)=2 -> 34; total = 34+50+fam 5+12+tags 2+4+7 = 114
    // vs raw KeyValue bytes 119.
    // Region 1 probes the degenerate corners: ONE row, ONE qual, ONE
    // distinct ts (LongEncoder early return -> 0 index width, 0 delta
    // bytes) -> 69 trie vs 62 raw (the trie header loses on a tiny
    // uniform block - the decision table must be able to say so).
    val df = Seq(
      (0L, "0001", "cl", 1000L, "xy", 1L),
      (0L, "0001", "cli", 1000L, "xy", 2L),
      (0L, "0002", "cl", 2000L, "z", 3L),
      (0L, "0011", "d", 1000L, "xy", 4L),
      (1L, "9999", "q", 500L, "vvvv", 5L),
      (1L, "9999", "q", 500L, "vvvv", 6L),
      // region 2 pins the uvlong ladder's 9-byte rung: minTimestamp
      // 2^57 needs ceil(58/7) = 9 header bytes (a 1L<<63 rung would
      // have made this unreachable) — hdr 41, total 65 vs raw 29
      (2L, "7777", "x", 1L << 57, "ab", 7L)
    ).toDF("reg", "row", "q", "ts", "v", "tie")
    val got = Tools.prefixTreeEncodingSize(df, col("reg"), col("row"), col("q"),
        col("ts"), col("v"), col("tie"), famLen = 2, rowWidth = 4, blockCells = 4)
      .orderBy("region")
      .collect().map(r => (r.getAs[Long]("region"), r.getAs[Long]("n_cells"),
        r.getAs[Long]("raw_bytes"), r.getAs[Long]("prefix_tree_bytes")))
    assert(got.sameElements(Array((0L, 4L, 119L, 114L), (1L, 2L, 62L, 69L),
      (2L, 1L, 29L, 65L))), got.mkString(","))
    // raw KeyValue bytes must agree with the three-way table's raw —
    // the four-way decision compares like against like
    val raw3 = Tools.blockEncodingDecision(df, col("reg"), col("row"), col("q"),
        col("ts"), col("v"), col("tie"), famLen = 2, blockCells = 4)
      .orderBy("region").collect().map(_.getAs[Long]("raw_bytes"))
    assert(raw3.sameElements(Array(119L, 62L, 29L)), raw3.mkString(","))
  }

  test("dqAudit: violations counted, NULL predicates violate, one aggregate pass") {
    val df = Seq((Some(1L), 10.0), (None, -5.0), (Some(1L), 0.0))
      .toDF("k", "price")
    val audit = Tools.dqAudit(df, Seq(
      "k_not_null" -> col("k").isNotNull,
      "price_positive" -> (col("price") > 0),
      // predicate NULL for the None row: must count as a violation
      "k_positive" -> (col("k") > 0)))
    val byRule = audit.collect()
      .map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations")).toMap
    assert(byRule == Map("k_not_null" -> 1L, "price_positive" -> 2L, "k_positive" -> 1L))
    // duplicates AND null keys violate: 3 rows, 1 distinct non-null key
    val uq = Tools.dqUnique(df, "k", "k_unique").collect().head
    assert(uq.getAs[Long]("n_violations") == 2L && uq.getAs[Long]("pass") == 0L)
    // the predicate-rule pass is one aggregate over one scan: no joins
    val p = audit.queryExecution.executedPlan.toString()
    assert(!p.contains("Join"), p)
    // rule names reach generated SQL — non-identifier names must be
    // rejected up front, not passed through to the expression parser
    val e = intercept[IllegalArgumentException] {
      Tools.dqAudit(df, Seq("bad'name` -- " -> col("k").isNotNull))
    }
    assert(e.getMessage.contains("[A-Za-z0-9_]+"))
  }

  test("rolling_range_window: value-based frame honors calendar gaps") {
    // days 1,2,9: the day-9 trailing-7 window must NOT include day 1/2
    val df = Seq((1L, 10L), (2L, 20L), (9L, 40L)).toDF("day", "day_cents")
    import org.apache.spark.sql.expressions.Window
    val out = df.withColumn("rev_7d_cents",
        sum("day_cents").over(Window.orderBy("day").rangeBetween(-6, 0)))
      .collect().map(r => r.getAs[Long]("day") -> r.getAs[Long]("rev_7d_cents")).toMap
    assert(out == Map(1L -> 10L, 2L -> 30L, 9L -> 40L), out.toString)
  }

  test("agg_mode: the pick is the max-count value with the smallest-value tie-break") {
    val rows = q("agg_mode").collect()
    val counts = graft.core.Tables.load(spark, sfDir, "orders")
      .groupBy("o_orderstatus", "o_orderpriority").count().collect()
      .groupBy(_.getAs[String]("o_orderstatus"))
    for (r <- rows) {
      val g = counts(r.getAs[String]("o_orderstatus"))
        .map(x => (x.getAs[String]("o_orderpriority"), x.getAs[Long]("count")))
      val best = g.minBy { case (p, c) => (-c, p) }
      assert((r.getAs[String]("mode_priority"), r.getAs[Long]("cnt")) == best)
    }
  }

  test("bucket_agg: grouping by the bucket key needs zero hash exchanges") {
    val p = q("bucket_agg").queryExecution.executedPlan.toString()
    val hashEx = "(?<!Reused)(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 0, s"bucketed scan must satisfy the aggregate's distribution:\n$p")
  }

  test("pseudonymize_keys: tokens are deterministic and keep referential integrity") {
    val rows = q("pseudonymize_keys").collect()
    val direct = graft.core.Tables.load(spark, sfDir, "orders")
      .join(graft.core.Tables.load(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_tokens"),
        sum(floor(col("o_totalprice") * 100).cast("bigint")).as("revenue_cents"))
      .orderBy("c_mktsegment").collect()
    assert(rows.toSeq.map(_.toString) == direct.toSeq.map(_.toString),
      "token join must reproduce the raw-key join exactly")
  }

  test("watermark_lag_audit: lags tile the corpus and stay under the jitter bound") {
    val rows = q("watermark_lag_audit").collect()
    val n = graft.core.Tables.load(spark, sfDir, "events").count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == n)
    // ±5 min jitter within 10-min arrival windows can never produce a
    // lag past 10 minutes
    assert(rows.forall(_.getAs[Long]("max_lag_s") < 600L))
    // and the modeled disorder is real: some events lag at least a minute
    assert(rows.exists(r => r.getAs[Long]("lag_bin") >= 1L))
  }

  test("asofNearest: forward beats backward when closer, ties resolve backward") {
    val probes = Seq((10L, 1L, 100L), (11L, 2L, 100L), (12L, 3L, 100L))
      .toDF("event_id", "k", "us")
    val quotes = Seq((1L, 1L, 90L), (2L, 1L, 105L),   // fwd closer (5 vs 10)
        (3L, 2L, 95L), (4L, 2L, 105L))                // tie (5 vs 5) -> backward
      .toDF("qid", "k", "us")
    val out = graft.core.AsofJoin
      .asofNearest(probes, quotes, "k", "us", "event_id", "qid")
      .collect().map(r => r.getAs[Long]("event_id") ->
        (Option(r.get(r.fieldIndex("nn_id"))), Option(r.get(r.fieldIndex("dt_us"))))).toMap
    assert(out(10L) == ((Some(2L), Some(5L))), out(10L).toString)
    assert(out(11L) == ((Some(3L), Some(5L))), out(11L).toString)
    assert(out(12L) == ((None, None)), "no quotes for key 3 -> null match")
    // a NULL probeId keeps its one output row with a null verdict (r13
    // review: the inner probe-id joins silently dropped it, breaking
    // the one-output-row-per-probe shape both asof passes preserve)
    val withNull = probes.unionByName(
      Seq((Option.empty[Long], 1L, 100L)).toDF("event_id", "k", "us"))
    val nOut = graft.core.AsofJoin
      .asofNearest(withNull, quotes, "k", "us", "event_id", "qid")
    assert(nOut.count() == 4L, "NULL-probeId row vanished")
    val nullRow = nOut.where(col("event_id").isNull).collect()
    assert(nullRow.length == 1 &&
      nullRow.head.isNullAt(nullRow.head.fieldIndex("nn_id")),
      nullRow.mkString(","))
  }

  test("interval_islands: overlapping intervals merge, gaps split") {
    val base = 1700000000000000L // µs epoch, arbitrary
    val minUs = 60L * 1000000L
    val df = Seq((1L, base), (2L, base + 10 * minUs), (3L, base + 120 * minUs))
      .map { case (id, us) => (7L, id, new java.sql.Timestamp(us / 1000)) }
      .toDF("user_id", "event_id", "ts")
    import org.apache.spark.sql.expressions.Window
    // reuse the registered query's logic shape via a direct call on a
    // custom frame: easiest is to run the same pipeline inline
    val half = 1800L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("s", "event_id")
    val e = df.withColumn("us", unix_micros(col("ts")))
      .withColumn("s", col("us") - half).withColumn("en", col("us") + half)
      .withColumn("_pm", max("en").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new", when(col("_pm").isNull || col("s") > col("_pm"), 1L).otherwise(0L))
      .withColumn("island", sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island").agg(min("s").as("_is"), max("en").as("_ie"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        expr("sum(_ie - _is) div 1000000").as("covered_s"),
        expr("max(_ie - _is) div 1000000").as("longest_s"))
    val r = e.collect().head
    // events at 0, +10min merge ([-30,+40] = 70 min); +120min stands
    // alone (60 min): 2 islands, 130 min covered, longest 70 min
    assert(r.getAs[Long]("n_islands") == 2L)
    assert(r.getAs[Long]("covered_s") == 130L * 60)
    assert(r.getAs[Long]("longest_s") == 70L * 60)
  }

  test("histogram_equi_depth: buckets balance and tile the value axis in order") {
    val rows = q("histogram_equi_depth").collect().sortBy(_.getAs[Long]("bucket"))
    val n = graft.core.Tables.load(spark, sfDir, "orders").count()
    val sizes = rows.map(_.getAs[Long]("n_rows"))
    assert(sizes.sum == n)
    assert(sizes.max <= sizes.min + sizes.min / 4,
      s"equi-depth buckets out of balance: ${sizes.toSeq}")
    for (Array(a, b) <- rows.sliding(2).map(_.toArray) if a ne b)
      assert(a.getAs[Long]("hi_cents") < b.getAs[Long]("lo_cents"),
        "bucket ranges must be disjoint and ascending")
  }

  test("agg_mad: robust to one wild outlier where the moment stats are not") {
    // 9 values near 100 plus one at 1e9: median/MAD barely move
    val vals = (1L to 9L).map(i => 95L + i) ++ Seq(1000000000L)
    val df = vals.zipWithIndex
      .map { case (c, i) => (i.toLong, "g", c) }.toDF("event_id", "event_type", "c")
    val med = Tools.groupQuantiles(df, "event_type", "c", "event_id", Seq(50))
      .collect().head.getAs[Long]("p50")
    assert(med == 100L, s"median $med")   // rank ceil(5) of 10 sorted values
    val dev = df.withColumn("dev", abs(col("c") - lit(med)))
    val mad = Tools.groupQuantiles(dev, "event_type", "dev", "event_id", Seq(50))
      .collect().head.getAs[Long]("p50")
    assert(mad <= 3L, s"MAD blew up on the outlier: $mad")
  }

  test("anomaly_mad: flags the tail, and a planted outlier can't hide itself") {
    val rows = q("anomaly_mad").collect()
    assert(rows.nonEmpty)
    // contamination robustness: on a frame where the outlier IS the
    // only corruption, MAD flags it (the z-score's own stats inflate)
    val df = ((1L to 40L).map(i => (i, "g", 100L + i % 3)) :+ (99L, "g", 5000000L))
      .toDF("event_id", "event_type", "c")
    val med = Tools.groupQuantiles(df, "event_type", "c", "event_id", Seq(50))
      .collect().head.getAs[Long]("p50")
    val dev = df.withColumn("dev", abs(col("c") - lit(med)))
    val mad = Tools.groupQuantiles(dev, "event_type", "dev", "event_id", Seq(50))
      .collect().head.getAs[Long]("p50")
    val flagged = df.where(abs(col("c") - lit(med)) > lit(5L) * lit(mad)).collect()
    assert(flagged.length == 1 && flagged.head.getAs[Long]("c") == 5000000L)
  }

  test("session_funnel: depths are monotone and bounded by session counts") {
    val r = q("session_funnel").collect().head
    val (n, v, c, p) = (r.getAs[Long]("n_sessions"), r.getAs[Long]("with_view"),
      r.getAs[Long]("reached_click"), r.getAs[Long]("reached_purchase"))
    assert(n >= v && v >= c && c >= p && p >= 0, (n, v, c, p).toString)
    assert(v > 0 && c > 0, "funnel must not be degenerate at this gap")
  }

  test("attribution_first_touch: leads bounded by the window, no BNLJ in the plan") {
    val rows = q("attribution_first_touch").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val l = r.getAs[Long]("lead_s"); l >= 0 && l < 7L * 86400 })
    val p = q("attribution_first_touch").queryExecution.executedPlan.toString()
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval match must ride the binned equi-join:\n$p")
  }

  // ---- zone maps ------------------------------------------------------

  test("zone_map_prune: the date layout prunes to the quarter, natural barely prunes") {
    val rows = q("zone_map_prune").collect()
    val (byDate, natural) = rows.partition(_.getAs[String]("layout") == "by_date")
    val scannedDate = byDate.filter(_.getAs[Long]("scanned") == 1L)
    // exactly the three month-files of 1996 Q3 survive
    assert(scannedDate.map(_.getAs[Long]("file_id")).sorted.toSeq ==
      Seq(199607L, 199608L, 199609L))
    // the key-ordered layout has dates smeared across every chunk:
    // pruning saves (almost) nothing
    val frac = natural.count(_.getAs[Long]("scanned") == 1L).toDouble / natural.length
    assert(frac > 0.9, s"natural layout unexpectedly prunable: $frac")
  }

  // ---- date-tiered compaction ----------------------------------------

  test("dateTieredSelect: incoming window holds the 6-file bar, old windows compact at 3") {
    // region 0: 3 files in the incoming window (ages 0-2: below the
    // 6-file incoming bar), 3 files aged 20-22 (tier 1 window 1: meets
    // the ordinary 3-file bar), 2 files aged 40-41 (tier 1 window 2:
    // below the bar)
    val days = Seq(0, 1, 2, 20, 21, 22, 40, 41)
    val df = days.zipWithIndex.map { case (age, i) =>
      (0L, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).minusDays(age)), 10L + i)
    }.toDF("region", "file_day", "size")
    val out = Tools.dateTieredSelect(df).collect()
      .map(r => ((r.getAs[Long]("tier"), r.getAs[Long]("window_id")),
        (r.getAs[Long]("n_files"), r.getAs[Boolean]("compact")))).toMap
    assert(out((0L, 0L)) == (3L, false), "incoming window needs 6 files")
    assert(out((1L, 1L)) == (3L, true), "old window compacts at 3")
    assert(out((1L, 2L)) == (2L, false), "2 files never reach the bar")
  }

  test("compaction_date_tiered: windows partition the file set, one file set per (region, day)") {
    val rows = q("compaction_date_tiered").collect()
    // every window's ages lie inside its tier's span, and windows
    // within a (region, tier) don't overlap in age range
    for (r <- rows) {
      val (t, lo, hi) = (r.getAs[Long]("tier"), r.getAs[Long]("min_age"), r.getAs[Long]("max_age"))
      val span = Seq(16L, 64L, 256L, Long.MaxValue)
      assert(hi < span(t.toInt) && (t == 0 || lo >= span(t.toInt - 1)), r.toString)
      val w = Seq(4L, 16L, 64L, 256L)(t.toInt)
      assert(lo / w == r.getAs[Long]("window_id") && hi / w == r.getAs[Long]("window_id"))
    }
  }

  // ---- region mover ---------------------------------------------------

  test("regionMoverPlan: drained server empties, survivors stay within one region of even") {
    val assign = (0 until 16).map(b => (b.toLong, 100L - b, b % 5)).toDF("bucket", "n_rows", "server")
    val out = Tools.regionMoverPlan(assign, nServers = 5, drain = 2).collect()
    assert(out.forall(_.getAs[Int]("dest_server") != 2), "drained server must end empty")
    val moved = out.filter(_.getAs[Boolean]("moved"))
    assert(moved.forall(_.getAs[Int]("src_server") == 2))
    val dealt = moved.groupBy(_.getAs[Int]("dest_server")).view.mapValues(_.length)
    assert(dealt.values.max - dealt.values.min <= 1, dealt.toMap.toString)
    // untouched regions keep their server
    assert(out.filterNot(_.getAs[Boolean]("moved"))
      .forall(r => r.getAs[Int]("dest_server") == r.getAs[Int]("src_server")))
  }

  // ---- WAL roll / flush policy / cache audits ------------------------

  test("walRollPlan: segments close as running bytes cross the threshold") {
    val ts = (h: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    // server 0: 3000 + 3000 (crosses 4096 at chunk 2) + 9000 (giant
    // chunk: its OWN segment, single chunk) + 100
    val df = Seq((0L, ts(1), 5L, 3000L), (0L, ts(2), 5L, 3000L),
      (0L, ts(3), 5L, 9000L), (0L, ts(4), 5L, 100L))
      .toDF("server", "hour", "n_edits", "bytes")
    val out = Tools.walRollPlan(df, 4096L).collect()
      .map(r => r.getAs[Long]("segment_id") -> r.getAs[Long]("bytes")).toMap
    // cum-before: 0, 3000, 6000, 15000 → segments 0, 0, 1, 3
    assert(out == Map(0L -> 6000L, 1L -> 9000L, 3L -> 100L), out.toString)
  }

  test("flushPolicy: qualifying families flush alone; none-qualify falls back to all") {
    // corpus total 1000 → trigger 100, lower bound 25
    val df = Seq(
      (0L, "a", 300L), (0L, "b", 10L),   // region 0 over trigger: only a flushes
      (1L, "a", 20L), (1L, "b", 24L),    // region 1: no family >= 25 and total < 100: nothing
      (2L, "a", 23L), (2L, "b", 23L),    // region 2: under trigger: nothing
      (3L, "a", 150L), (3L, "b", 450L))  // region 3: both qualify
      .toDF("region", "family", "mem_bytes")
    val out = Tools.flushPolicy(df).collect()
      .map(r => (r.getAs[Long]("region"), r.getAs[String]("family")) ->
        r.getAs[Boolean]("flushed")).toMap
    assert(out == Map((0L, "a") -> true, (0L, "b") -> false,
      (1L, "a") -> false, (1L, "b") -> false,
      (2L, "a") -> false, (2L, "b") -> false,
      (3L, "a") -> true, (3L, "b") -> true), out.toString)
    // the fallback: one over-trigger region whose families all sit
    // below the lower bound flushes EVERYTHING
    val fb = Seq((0L, "a", 60L), (0L, "b", 60L), (1L, "a", 500L))
      .toDF("region", "family", "mem_bytes")
    val fbOut = Tools.flushPolicy(fb, triggerDiv = 6L, lowerDiv = 4L).collect()
      .map(r => (r.getAs[Long]("region"), r.getAs[String]("family")) ->
        r.getAs[Boolean]("flushed")).toMap
    // total 620: trigger 103, lower 155; region 0 (120 > 103) has no
    // family >= 155 → both flush; region 1 qualifies on its own family
    assert(fbOut == Map((0L, "a") -> true, (0L, "b") -> true, (1L, "a") -> true))
  }

  test("block_cache_plan: capacity respected, hit ratio bounded and consistent") {
    val r = q("block_cache_plan").collect().head
    assert(r.getAs[Long]("cached_blocks") <= 32L)
    assert(r.getAs[Long]("cached_acc") <= r.getAs[Long]("total_acc"))
    assert(r.getAs[Long]("hit_ppm") ==
      r.getAs[Long]("cached_acc") * 1000000L / r.getAs[Long]("total_acc"))
  }

  // ---- SCD2 ----------------------------------------------------------

  test("scd2Build: intervals tile each key's history; zero-width ties never effective") {
    val ts = (h: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val df = Seq(
      (1L, "q", ts(1), "v1", 10L), (1L, "q", ts(5), "v2", 11L),
      (1L, "q", ts(5), "v3", 12L), // same-ts tie: 11 gets a zero-width interval
      (1L, "q", ts(9), "v4", 13L),
      (2L, "q", ts(3), "w1", 20L))
      .toDF("rowkey", "qualifier", "ts", "value", "event_id")
    val out = Tools.scd2Build(df, Seq("rowkey", "qualifier"), "ts", "event_id")
      .collect().map(r => r.getAs[Long]("event_id") ->
        (r.getAs[java.sql.Timestamp]("valid_from"), r.getAs[java.sql.Timestamp]("valid_to")))
      .toMap
    assert(out(10L) == (ts(1), ts(5)))
    assert(out(11L) == (ts(5), ts(5)), "superseded same-ts version is zero-width")
    assert(out(12L) == (ts(5), ts(9)))
    assert(out(13L)._2 == null && out(20L)._2 == null, "latest versions are current")
  }

  test("scd2_lookup: at most one effective version per (probe, key), matching as-of") {
    val rows = q("scd2_lookup").collect()
    val dupes = rows.groupBy(r => (r.getAs[java.sql.Timestamp]("probe_ts"),
        r.getAs[Long]("rowkey"), r.getAs[String]("qualifier")))
      .filter(_._2.length > 1)
    assert(dupes.isEmpty, s"ambiguous effectivity: ${dupes.keys.take(3)}")
    // every returned version was live at its probe
    assert(rows.forall(r => !r.getAs[java.sql.Timestamp]("valid_from")
      .after(r.getAs[java.sql.Timestamp]("probe_ts"))))
  }

  // ---- replication table-CFs scoping ---------------------------------

  test("replicationTableCfs: family wildcard covers every family, scoped peers only theirs") {
    val edits = Seq(("events", "web"), ("events", "web"), ("events", "act"),
      ("customer", "info"), ("customer", "id")).toDF("table_name", "family")
    val cfg = Seq(("p1", "events", Some("web")), ("p2", "events", None: Option[String]))
      .toDF("peer_id", "tbl", "fam")
    val out = Tools.replicationTableCfs(edits, cfg).collect()
      .map(r => (r.getAs[String]("peer_id"), r.getAs[String]("family")) -> r.getAs[Long]("n_edits"))
      .toMap
    assert(out == Map(("p1", "web") -> 2L, ("p2", "web") -> 2L, ("p2", "act") -> 1L))
  }

  test("regionSplitPoints: every uniform split key is the FIRST key of its own bucket") {
    // the r12 analytics review's off-by-one: floor(lo + span·idx/n)
    // lands one key below the bucket boundary at non-divisible spans
    // (keys 0..9, n=3: floor gave 3, but totalOrderBucket(3) = 0) —
    // the ceil form must agree with the file's own bucket arithmetic
    // at every boundary
    val keys = spark.range(0, 10).toDF("k") // span 10, n=3: non-divisible
    val pts = Tools.regionSplitPoints(keys, "k", 3)
      .select("split_idx", "uniform_key").as[(Long, Long)].collect().toMap
    assert(pts == Map(1L -> 4L, 2L -> 7L), s"got $pts")
    pts.foreach { case (idx, key) =>
      val b = keys.withColumn("b",
          Tools.totalOrderBucket(col("k"), lit(0L), lit(9L), 3))
        .where(col("k") === key).select("b").as[Long].head()
      val bPrev = keys.withColumn("b",
          Tools.totalOrderBucket(col("k"), lit(0L), lit(9L), 3))
        .where(col("k") === key - 1).select("b").as[Long].head()
      assert(b == idx && bPrev == idx - 1,
        s"split $idx at key $key: bucket($key)=$b, bucket(${key - 1})=$bPrev")
    }
  }

  test("walReplay refuses malformed time bounds; importTsv fails fast on bad lines") {
    // a bound that fails the timestamp cast turned the range predicate
    // NULL for every row — an empty replay indistinguishable from "no
    // surviving versions" (r12 analytics review)
    val edits = Seq((1L, "q", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      1.0, 1L, "put")).toDF("rowkey", "qualifier", "ts", "value", "event_id", "op")
    val e = intercept[IllegalArgumentException] {
      Tools.walReplay(edits, "not-a-timestamp", "2100-01-01 00:00:00")
    }
    assert(e.getMessage.contains("does not parse"), e.getMessage)
    // PERMISSIVE silently NULL-padded a malformed bigint field — the
    // scaladoc promises parse-time enforcement (ImportTsv's
    // BadTsvLineException surfaces bad lines)
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_bad")
    java.nio.file.Files.writeString(dir.resolve("bad.tsv"), "1\tok\nabc\tbroken\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    intercept[Exception] {
      Tools.importTsv(spark, dir.toString, schema).collect()
    }
  }
}
