package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

/** Per-key running counter state (HBase Increment's stored value). */
case class CounterState(n: Long, sum: Double)

/** Replica cell state for streaming WAL replication: the latest delete
  * tombstone and the lexicographically-latest put — (ts, event_id) in
  * epoch micros — per (rowkey, qualifier). Arrival-order independent:
  * the fold is a pair of maxes, so out-of-order shipment (which HBase
  * replication explicitly permits) converges to the same state. */
// putValue is BOXED (nullable): a put may legitimately carry a NULL
// payload, and the batch walReplay's max(struct(ts, eid, value)) fold
// lets it participate (NULL ordering below any value on a full tie) —
// a primitive Double could not represent the surviving NULL (r12
// streaming review, the tombstone-with-no-payload sibling fix)
case class ReplCellState(delUs: Long, putUs: Long, putEid: Long,
                         putValue: java.lang.Double)

/** One replica-table update per touched cell per micro-batch: the
  * cell's current surviving version (`live`), or a deletion marker
  * when every put is masked by a tombstone. `del_us`/`put_us` are the
  * monotone state clock — the latest update per key is the
  * lexicographic max of (del_us, put_us). */
case class ReplicaUpdate(rowkey: Long, qualifier: String,
                         del_us: Long, put_us: Long,
                         ts: java.sql.Timestamp, event_id: Long,
                         value: java.lang.Double, live: Boolean)

/** One update emitted per key per micro-batch: the post-increment
  * counter value, i.e. what a Get would return after the batch. */
case class CounterUpdate(event_type: String, n: Long, sum: Double)

/** Per-window trending state: event-type counts inside one tumbling
  * window — the map a serving top-k is computed from each batch. */
case class TopKWindowState(counts: Map[String, Long])

/** Live top-k row emitted per in-flight window per micro-batch. */
case class TopKUpdate(window_start: java.sql.Timestamp, rank: Long,
                      event_type: String, n_events: Long)

/** A near-dup candidate pair (i < j) emitted by the streaming LSH
  * ingest gate — a band-bucket anchor and a later arrival that hashed
  * into its bucket. */
case class LshCandidate(i: Long, j: Long)

/** Per-(user, day) request-quota state: requests seen so far in the
  * window. The running count is all the throttle needs — rejected =
  * max(0, n − limit) is derivable, so state stays one long per key. */
case class QuotaState(n: Long)

/** Quota decision emitted per touched (user, day) per micro-batch:
  * the window's running request count and how many of them the
  * throttle would have rejected — the live RpcThrottlingException
  * count [[graft.analytics.AnalyticsQueries]]'s batch
  * `quota_throttle` reports after the fact. */
case class QuotaUpdate(user_id: Long, window: java.sql.Timestamp,
                       n_reqs: Long, over_quota: Boolean, n_throttled: Long)

/** Streaming counters — HBase `Increment` at pipeline scale, re-expressed
  * as Structured Streaming windowed aggregation.
  *
  * The SAME transform serves both paths: applied to a batch DataFrame it
  * is the oracle-checked query; applied to a readStream DataFrame (with
  * the event-time watermark) it is the incremental view Structured
  * Streaming maintains. StreamingSpec drives the streaming path through
  * a MemoryStream and asserts it converges to the batch answer —
  * which is exactly the guarantee that matters when the counter table
  * is maintained continuously at 100 TB/day ingest.
  */
object StreamOps {

  /** Per-(day window, event_type) counters. */
  def windowedCounters(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_v"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_v"))

  /** Streaming form: 1-day tumbling windows with a 1-day watermark —
    * state for a window is dropped once the watermark passes, so state
    * size is bounded by (windows in flight × event types), not by the
    * stream length. CAVEAT: that eviction guarantee holds for
    * append/update sinks only — in COMPLETE output mode (what
    * [[maintainCounterTable]] and the convergence spec drive, since
    * they need the full running aggregate each batch) watermarks never
    * evict, and state grows with the number of distinct windows seen.
    * A perpetual complete-mode maintainer must bound its window span
    * (e.g. restart per retention epoch). */
  def streamingCounters(events: DataFrame): DataFrame =
    windowedCounters(events.withWatermark("ts", "1 day"))

  /** Dimension enrichment — the stream-static join every event
    * pipeline runs before aggregating (user → segment, device → tier,
    * region → geo). LEFT join so facts missing a dimension row survive
    * with `defaultVal` instead of silently vanishing — dropped-fact
    * enrichment is the classic silent-undercount bug. The dimension
    * side broadcasts (it is the small side by definition); in a
    * streaming query Spark re-plans the static side per micro-batch,
    * so a refreshed dimension table is picked up without restarting
    * the stream. The same call works batch and streaming — Structured
    * Streaming supports stream-static equi-joins natively. */
  def enrich(facts: DataFrame, dims: DataFrame, key: String,
             dimCol: String, defaultVal: String): DataFrame =
    facts.join(broadcast(dims), Seq(key), "left")
      .withColumn(dimCol, coalesce(col(dimCol), lit(defaultVal)))

  /** Stream-stream conversion join — the attribution query (which
    * signups convert to a purchase within the window) in its streaming
    * form: both sides are streams, so Spark must buffer rows waiting
    * for their match. The TIME-BOUND join condition
    * (`purchase.ts ∈ [signup.ts, signup.ts + window]`) plus a
    * watermark on BOTH sides is what makes the state finite: a
    * buffered signup can be evicted once the watermark passes
    * `signup.ts + window` (no future purchase can match it), and a
    * purchase once it can no longer match any retained signup —
    * without the bound, both sides buffer forever. LEFT OUTER so
    * non-converting signups emit (with nulls) once their window
    * expires — conversion RATE needs the denominator.
    *
    * The same call works batch (watermarks no-op there); the batch
    * form is the oracle-checked query, the streaming form is driven by
    * StreamingSpec. */
  def conversionJoin(signups: DataFrame, purchases: DataFrame,
                     window: String = "1 hour",
                     lateness: String = "1 hour"): DataFrame = {
    val s = signups.select(col("user_id"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", lateness)
    val p = purchases.select(col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", lateness)
    s.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + graft.core.Intervals.literal(window),
      "left_outer")
      .select(col("user_id"), col("signup_ts"), col("purchase_ts"),
        col("purchase_value"))
  }

  /** [[enrich]] + the per-(segment, event_type) counter rollup — the
    * batch form the oracle checks; streaming runs the identical plan
    * with [[streamingCounters]]-style watermarking upstream. */
  def enrichedCounters(facts: DataFrame, dims: DataFrame): DataFrame =
    enrich(facts, dims, "user_id", "segment", "unknown")
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_v"))

  /** Streaming form of [[sessionize]]: with the event-time watermark,
    * Structured Streaming keeps state only for OPEN sessions — a
    * session is emitted (append mode) and its state dropped once the
    * watermark passes its close. Same construct, bounded state at any
    * stream length; StreamingSpec drives it end-to-end. */
  def streamingSessionize(events: DataFrame, gap: String = "1 hour",
                          lateness: String = "1 hour"): DataFrame =
    sessionize(events.withWatermark("ts", lateness), gap)

  /** Maintain a queryable per-key counter TABLE from the stream — the
    * serving loop an HBase counter table gets from its write path
    * (Increment → memstore → flushed store): each micro-batch writes
    * the complete running aggregate as a NEW immutable `v=<batchId>`
    * snapshot (the same copy-on-write convention as Snapshots.write —
    * an in-place overwrite would delete the directory before rewriting
    * it, so a concurrent reader could catch a missing/partial table).
    * Readers resolve the latest COMPLETE version via
    * [[readCounterTable]]; superseded versions can be GC'd once no
    * reader can still hold them. Spec proves the maintained table
    * converges to the batch answer. */
  def maintainCounterTable(events: DataFrame, path: String): DataStreamWriter[Row] =
    events.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        maintainGuard(batch.sparkSession, path, batchId) { _ =>
          graft.core.Snapshots.write(batch, "event_type", path, batchId.toInt)
        }
      }

  /** ONE copy of the version-dir listing every maintained-table path
    * uses (read side, both maintainers, and the GC): `v=N` directories
    * split into (complete, partial) by the parquet `_SUCCESS` marker —
    * one listStatus + one probe per dir, shared so the GC's partial
    * arm can't double the FS RPCs or fork the name filter. A missing
    * base path is simply "no versions yet", never a raw
    * FileNotFoundException. */
  private def versionDirs(fs: org.apache.hadoop.fs.FileSystem,
                          base: org.apache.hadoop.fs.Path): (Seq[Int], Seq[Int]) = {
    import org.apache.hadoop.fs.Path
    if (!fs.exists(base)) (Seq.empty, Seq.empty)
    else {
      // full-match v=<1-9 digits>: a stray sibling (v=3.bak from a
      // manual copy, or a date-stamped v=20260815143000 backup) is
      // simply NOT a version — the old prefix match fed "3.bak" to
      // toInt and every read and both maintainers died on the
      // NumberFormatException forever; the digit cap keeps toInt from
      // reviving that mode on an over-Int all-digit name (batchIds
      // reaching 10^9 are not a real stream)
      val dirs = fs.listStatus(base).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("v=\\d{1,9}"))
      val (complete, partial) =
        dirs.partition(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      (complete.map(_.getPath.getName.drop(2).toInt),
        partial.map(_.getPath.getName.drop(2).toInt))
    }
  }

  private def completeVersions(fs: org.apache.hadoop.fs.FileSystem,
                               base: org.apache.hadoop.fs.Path): Seq[Int] =
    versionDirs(fs, base)._1

  /** GC for a maintained table: delete all but the newest `keepLast`
    * COMPLETE versions, plus any PARTIAL (crashed-write) version dirs
    * older than the oldest kept complete version; returns what was
    * dropped. The versioned-dir
    * design pays one directory listing per batch and never reclaims
    * disk on its own, so a perpetual maintainer accrues O(batches) FS
    * metadata and storage — run this from the maintenance cadence
    * once no reader can still hold the dropped versions (the same
    * copy-on-write visibility caveat as snapshot GC). keepLast >= 1
    * always preserves the serving version, which is also the SCD2
    * maintainer's merge base. */
  def gcMaintained(spark: org.apache.spark.sql.SparkSession, path: String,
                   keepLast: Int = 2): Seq[Int] = {
    import org.apache.hadoop.fs.Path
    require(keepLast >= 1, s"keepLast ($keepLast) must keep the serving version")
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (completeRaw, partialRaw) = versionDirs(fs, base)
    val complete = completeRaw.sorted
    val dropComplete = complete.dropRight(keepLast)
    // PARTIAL version dirs (no _SUCCESS — a crashed write) older than
    // the oldest KEPT complete version can never become complete:
    // batchIds are monotonic and the checkpoint has already committed
    // a newer batch, so the crashed attempt is never replayed. Without
    // this arm the GC leaks storage on exactly the failure path it
    // exists to bound. Partials AT or ABOVE the kept range are left
    // alone — one may be the maintainer's write in progress.
    val oldestKept = complete.takeRight(keepLast).headOption
    val partials = oldestKept
      .map(k => partialRaw.filter(_ < k)).getOrElse(Seq.empty)
    // report only what was ACTUALLY deleted: a false return (perm
    // error, concurrent handle) must not read as reclaimed — the
    // maintenance cadence retries what stays in the listing. Paths
    // come from Snapshots.path, the writer's own naming, not a
    // re-interpolated copy of the v=N convention.
    (dropComplete ++ partials).distinct.sorted
      .filter(v => fs.delete(
        new Path(graft.core.Snapshots.path(path, v)), true))
  }

  /** Shared foreachBatch write discipline for the maintainers:
    *
    *  - REPLAY SKIP: on at-least-once redelivery of a committed batch,
    *    v=batchId is already complete and its content deterministic —
    *    rewriting it in place would delete-then-rewrite the directory
    *    under a concurrent reader that just resolved it as newest
    *    (the copy-on-write contract's one remaining hole). Skip.
    *  - FRESH-CHECKPOINT GUARD: a new checkpoint restarts batchIds at
    *    0; against a table holding versions from a previous stream the
    *    maintainer would silently rebuild v=0 from one batch while
    *    readers keep serving the stale old maximum — every key not
    *    re-shipped since is then lost. Refuse loudly: resume from the
    *    original checkpoint, or point the new stream at a fresh path. */
  // JVM-lifetime memo of verified (queryId, path) ownership — see the
  // marker-probe note inside maintainGuard
  private val ownershipVerified = new graft.core.SessionMemo[Unit]()

  private[graft] def maintainGuard(spark: org.apache.spark.sql.SparkSession,
                                   path: String, batchId: Long)
                                  (write: Seq[Int] => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = completeVersions(fs, base)
    // FOREIGN-STREAM check by IDENTITY, not version arithmetic: the
    // table carries its owning streaming query's id (_QUERY_ID —
    // stable across restarts from the same checkpoint, fresh per new
    // checkpoint), closing the one case the arithmetic below cannot
    // see: old max == new batchId. A previous stream that committed
    // only v=0 would otherwise make a fresh checkpoint's batch 0 look
    // like a replay and silently skip it — losing the new stream's
    // batch-0 rows with no error. Tables from before this marker (or
    // written outside a stream) have no marker and fall back to the
    // version arithmetic alone.
    val marker = new Path(base, "_QUERY_ID")
    val curId = Option(
      spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
    // ownership, once verified-or-branded for a (queryId, path), is
    // immutable for the life of the query run — re-reading the marker
    // every micro-batch paid two extra FS metadata RPCs per batch
    // forever, in the guard that elsewhere refuses to double its
    // per-batch round-trips (r12 streaming review). The memo only
    // skips the MARKER probe; the per-batch version arithmetic below
    // still runs on every call.
    def verifyOwner(): Unit = {
      val ownerId: Option[String] =
        if (!fs.exists(marker)) None
        else {
          val in = fs.open(marker)
          try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
          finally in.close()
        }
      (ownerId, curId) match {
        case (Some(own), Some(cur)) =>
          require(own == cur,
            s"maintained table at $path belongs to streaming query $own but " +
              s"this stream is $cur — a fresh checkpoint against an existing " +
              "table loses data; resume the original checkpoint or use a " +
              "fresh table path. If the owning stream never completed a " +
              s"write (a failed batch 0 brands the path too), verify the " +
              s"table is empty — no v=N dir holds a _SUCCESS marker — and " +
              s"delete $marker to release the claim")
        case _ => ()
      }
      // claim ownership at FIRST CONTACT, before any write: claiming
      // after the write left a crash window (v=0 complete, marker not
      // yet created) where a later fresh-checkpoint stream's batch 0
      // read as a replay of the unowned v=0 and was SILENTLY skipped —
      // the data-loss hole the marker exists to close. Branding first
      // is safe: the marker is idempotent for the owning query (same id
      // across restarts from one checkpoint), and a path branded by a
      // stream that then never completes a write refuses the NEXT
      // stream LOUDLY (operator cleanup) instead of losing its rows.
      if (ownerId.isEmpty) curId.foreach { id =>
        val out = fs.create(marker, true)
        try out.write(id.getBytes("UTF-8")) finally out.close()
      }
    }
    curId.fold(verifyOwner())(id => ownershipVerified(None, s"$id|$path")(verifyOwner()))
    require(versions.forall(_ <= batchId),
      s"maintained table at $path holds version ${versions.max} from a " +
        s"previous stream but this checkpoint is at batch $batchId — " +
        "resume the original checkpoint or use a fresh table path")
    // the write body receives the versions this guard already listed —
    // re-listing inside the body would double the per-batch FS
    // metadata round-trips (listStatus + per-dir _SUCCESS probes)
    if (!versions.contains(batchId.toInt)) write(versions)
  }

  /** The read side of every foreachBatch-maintained table
    * ([[maintainCounterTable]], [[maintainScd2Table]]): the highest
    * `v=N` snapshot whose write completed (parquet `_SUCCESS`
    * marker) — a version mid-write is simply not visible yet. */
  def readMaintained(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val base = new Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = completeVersions(fs, base)
    require(versions.nonEmpty, s"no complete maintained-table snapshot under $path")
    graft.core.Snapshots.read(spark, path, versions.max)
  }

  def readCounterTable(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readMaintained(spark, path)

  /** Streaming LSH near-dup candidate ingest — the streaming form of
    * [[graft.dedup.Dedup.minhashLsh]]'s candidate stage, for the
    * pipeline where the corpus ARRIVES as a stream and "is this a
    * near-copy of something already ingested?" must answer
    * incrementally (the near-dup sibling of the exact-hash
    * [[streamingDedup]]). Each arriving doc's MinHash band keys
    * (identical banding to the batch path — one shared
    * [[graft.dedup.Dedup.bandKeys]] projection, stateless so it runs
    * unchanged on a stream) look up a per-bucket ANCHOR: a miss
    * claims the bucket for the doc, a hit emits the candidate pair
    * (min, max). Emission is the STAR to the batch path's per-bucket
    * clique — state is one long per live bucket and output is linear
    * in arrivals, while preserving exactly the batch buckets'
    * connectivity (every bucket member touches its anchor), which is
    * all downstream connectedComponents consumes. Pairs may repeat
    * across bands; consumers dedup or feed CC, which is
    * idempotent. Which doc anchors depends on arrival order, but the
    * COMPONENTS do not (spec-asserted under shuffled file order).
    *
    * STATE LIFETIME: one long per live (band, key) bucket. With
    * `idleTimeout = None` state grows with the stream's cumulative
    * shingle vocabulary and never shrinks — fine for a bounded ingest
    * or the test harness. A perpetual production gate passes an
    * `idleTimeout` (e.g. "6 hours"): a bucket untouched for that long
    * expires via ProcessingTimeTimeout and its state row is removed —
    * the [[streamingQuota]] eviction lifecycle. An expired anchor only
    * means the next member of that bucket re-anchors, i.e. a missed
    * CANDIDATE pair across the expiry gap, never corruption (CC
    * downstream is idempotent across the seam). Choose the TTL by how
    * far apart true near-dups arrive; restarting the query per corpus
    * epoch remains the zero-state alternative. */
  def streamingLshCandidates(docs: DataFrame, perms: Int = 128,
                             bands: Int = 32,
                             idleTimeout: Option[String] = None): Dataset[LshCandidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    graft.dedup.Dedup.bandKeys(graft.dedup.Dedup.shingles(docs), perms, bands)
      .select(col("band"), col("key"), col("doc_id"))
      .as[(Int, String, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (_: (Int, String), rows: Iterator[(Int, String, Long)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // cold bucket: drop the anchor; the bucket's next member
            // re-anchors it (missed pair across the gap, by contract)
            state.remove()
            Iterator.empty
          } else {
            // Option, not an in-band sentinel: a doc_id equal to any
            // sentinel value must still be able to anchor its bucket
            var anchor = state.getOption
            val out = List.newBuilder[LshCandidate]
            rows.foreach { case (_, _, doc) =>
              anchor match {
                case None => anchor = Some(doc)
                case Some(a) if doc != a =>
                  out += LshCandidate(math.min(a, doc), math.max(a, doc))
                case _ => ()
              }
            }
            anchor.foreach(state.update)
            // re-arm on every touch: the timeout measures IDLENESS
            idleTimeout.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  /** Maintain an SCD Type-2 dimension TABLE from a stream of versioned
    * cells — the streaming half of [[graft.analytics.Tools.scd2Build]]
    * (KeyValue.java's ts dimension turned into effectivity intervals),
    * i.e. the incremental MERGE a warehouse dimension gets from its
    * CDC feed. Each micro-batch:
    *
    *  1. reads the latest complete table version,
    *  2. carries every UNTOUCHED key's rows forward verbatim (the
    *     batch's distinct keys broadcast; carry-forward is a
    *     left-anti against that tiny set),
    *  3. re-windows ONLY the touched keys — their existing versions
    *     (intervals dropped back to raw versions) unioned with the
    *     batch's new versions through scd2Build's one key-partitioned
    *     lead() window,
    *  4. writes the result as a new immutable `v=<batchId>` snapshot
    *     (the [[maintainCounterTable]] copy-on-write convention —
    *     readers never catch a partial table; [[maintainGuard]]
    *     additionally skips the replay rewrite of a committed version
    *     and refuses a fresh checkpoint over an older table).
    *
    * Out-of-order and late versions are handled by construction: the
    * re-window sorts each touched key's FULL history, so a version
    * arriving in a later batch splices its interval correctly and
    * clips its neighbors — convergence to the batch scd2Build over all
    * shipped cells is spec-asserted under shuffled batch order.
    *
    * Scale note: the window cost is per-touched-key history (bounded
    * by maxVersions, never corpus-wide); the carry-forward rewrites
    * the full table per batch — the copy-on-write price of plain
    * parquet versioning. The at-scale refinement is file-pruned MERGE
    * (rewrite only the key-bucketed files the batch touches), which is
    * table-format (Delta/Iceberg) territory, not a different plan. */
  def maintainScd2Table(cells: DataFrame, path: String, keyCols: Seq[String],
                        tsCol: String, tieCol: String): DataStreamWriter[Row] = {
    import org.apache.hadoop.fs.Path
    cells.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        maintainGuard(spark, path, batchId) { versions =>
          val intervalCols = Seq("valid_from", "valid_to", "is_current")
          // merge base = the newest version STRICTLY BEFORE this batch:
          // with maintainGuard's replay skip the committed-v=N case no
          // longer reaches here, but the strict bound stays — it is
          // what makes the batch a pure rewrite of its own version
          // even if a half-written (no _SUCCESS) v=N is left behind.
          versions.filter(_ < batchId) match {
            case Nil => graft.core.Snapshots.write(
              graft.analytics.Tools.scd2Build(batch, keyCols, tsCol, tieCol),
              keyCols.head, path, batchId.toInt)
            case vs =>
              // the base snapshot feeds BOTH merge legs (anti + semi);
              // without the pin each leg re-reads the full table from
              // parquet — the dominant per-batch IO, paid twice
              val existing = graft.core.Snapshots.read(spark, path, vs.max)
                .persist()
              try {
                val touched = batch.select(keyCols.map(col): _*).distinct()
                val untouched =
                  existing.join(broadcast(touched), keyCols, "left_anti")
                val affectedRaw = existing
                  .join(broadcast(touched), keyCols, "left_semi")
                  .drop(intervalCols: _*)
                  .unionByName(batch)
                graft.core.Snapshots.write(
                  untouched.unionByName(graft.analytics.Tools
                    .scd2Build(affectedRaw, keyCols, tsCol, tieCol)),
                  keyCols.head, path, batchId.toInt)
              } finally existing.unpersist(false)
          }
        }
      }
  }

  /** Sessionization — gaps-and-islands over per-user event streams:
    * events closer than `gap` belong to one session. Uses Spark's
    * native `session_window` aggregate, which merges windows in the
    * aggregation itself — ONE shuffle on the key, no self-join, no
    * lag-window two-pass — and is the identical construct the
    * streaming path would run with a watermark (bounded state: open
    * sessions only). Session end = last event + gap (the window's
    * close), per Spark's session-window semantics. */
  def sessionize(events: DataFrame, gap: String = "1 hour"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_v"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_v"))

  /** Streaming exact dedup — the ingest-side gate of the dedup family:
    * the first record carrying a given content digest passes, later
    * copies arriving within the watermark horizon are dropped, and
    * digest state older than the watermark is EVICTED. That eviction is
    * the 100 TB/day point: a plain dropDuplicates on an unbounded
    * stream pins every digest ever seen in the state store forever;
    * dropDuplicatesWithinWatermark keeps state proportional to the
    * ingest rate × horizon. (Dedup against all history belongs to the
    * batch operators — Dedup.exact over the accumulated table.)
    * The shuffle key is the 128-bit digest, never the payload.
    * NULL text is MISSING content, not SHARED content (the batch
    * Dedup.exact discipline, r12 review): md5(NULL) is NULL and
    * dropDuplicatesWithinWatermark treats NULL fingerprints as EQUAL,
    * so the first extraction-failed record would silently swallow
    * every later one inside the horizon — NULL-text records bypass
    * the digest gate entirely, each passing through kept. */
  def streamingDedup(docs: DataFrame, textCol: String, tsCol: String,
                     watermark: String = "1 day"): DataFrame = {
    val wm = docs.withWatermark(tsCol, watermark)
    wm.where(col(textCol).isNotNull)
      .withColumn("_fp", md5(col(textCol).cast("binary")))
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")
      .unionByName(wm.where(col(textCol).isNull))
  }

  /** HBase cluster replication (ReplicationSource tails the WAL, ships
    * edit batches to the peer; the peer applies them in arrival order,
    * which is NOT commit order) re-expressed as Structured Streaming:
    * the edit stream folds into per-cell state with the same tombstone
    * masking as [[graft.analytics.Tools.walReplay]] — latest put
    * strictly newer than the latest delete survives — and each
    * micro-batch emits the touched cells' current versions (the
    * replica-table write). State is one small struct per cell EVER
    * TOUCHED — tombstone-masked cells keep their (delUs, putUs) pair,
    * because evicting a tombstone would let an arbitrarily-late older
    * put resurrect the cell (the replica's analogue of keeping delete
    * markers until major compaction). That is the replica table's own
    * key cardinality, the floor for order-independent replication;
    * a deployment with bounded shipment lateness can add watermark +
    * event-time timeout to reclaim dead cells, trading away exactly
    * the unbounded-lateness guarantee. Convergence to the batch
    * replay (and so VerifyReplication-green against the source) is
    * spec-asserted under multi-batch out-of-order shipment.
    *
    * @param edits streaming (rowkey, qualifier, ts, value, event_id,
    *              op ∈ {put, delete}) — the WAL entry shape. */
  def replicateWal(edits: DataFrame): Dataset[ReplicaUpdate] = {
    val spark = edits.sparkSession
    import spark.implicits._
    // floorDiv/floorMod, not truncation: HBase permits arbitrary
    // user-set cell timestamps, and truncating division sign-flips the
    // microsecond clock for pre-epoch values (a 1969 edit would sort
    // AFTER a 1970 one, inverting tombstone masking)
    def micros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    def fromMicros(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos(Math.floorMod(us, 1000000L).toInt * 1000)
      t
    }
    // UNFOLDABLE edits are filtered, never crashed on: a NULL ts is
    // undated (the batch walReplay's range predicate drops it), and a
    // NULL rowkey/qualifier/event_id cannot key or sequence a cell —
    // any of them would throw inside the typed encoder and crash-loop
    // the stream redelivering the poisoned batch forever (r12
    // streaming review: a tombstone's naturally-NULL VALUE hit exactly
    // that). value itself is nullable by contract — deletes carry no
    // payload, and even a put may (the batch fold lets a NULL value
    // participate).
    edits.where(col("ts").isNotNull && col("rowkey").isNotNull &&
        col("qualifier").isNotNull && col("event_id").isNotNull)
      .selectExpr("rowkey", "qualifier", "ts", "value", "event_id", "op")
      .as[(Long, String, java.sql.Timestamp, java.lang.Double, Long, String)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (Long, String),
         rows: Iterator[(Long, String, java.sql.Timestamp, java.lang.Double, Long, String)],
         state: GroupState[ReplCellState]) =>
          // batch-parity NULL ordering for the value tie-break: NULL
          // below every value (Spark struct max), never an unboxing NPE
          def vGt(a: java.lang.Double, b: java.lang.Double): Boolean =
            if (a == null) false else b == null || a > b
          val had = state.getOption
          var st = had.getOrElse(
            ReplCellState(Long.MinValue, Long.MinValue, Long.MinValue, 0.0))
          var changed = false
          rows.foreach { case (_, _, ts, v, eid, op) =>
            val us = micros(ts)
            // the WAL vocabulary is EXACTLY {put, delete}, matching the
            // batch walReplay's op === 'put' filter: an out-of-vocabulary
            // op folded in as a put could resurrect a cell the batch
            // replay masks — the convergence contract would silently
            // break on the replica only
            // the fold mirrors the batch replay's max(struct(ts,
            // event_id, value)) LEXICOGRAPHICALLY — value included:
            // on a full (ts, event_id) tie the larger value wins, so
            // a duplicated eid in the feed converges to the same
            // survivor whatever the shipment order (first-arrival-
            // wins would be VerifyReplication-red on one ordering)
            if (op == "delete") {
              if (us > st.delUs) { st = st.copy(delUs = us); changed = true }
            } else if (op == "put" &&
                (us > st.putUs || (us == st.putUs && (eid > st.putEid ||
                  (eid == st.putEid && vGt(v, st.putValue)))))) {
              st = st.copy(putUs = us, putEid = eid, putValue = v)
              changed = true
            }
          }
          // a group whose batch held ONLY ignored ops (out-of-vocabulary
          // or a no-op fold) and which has no prior state must neither
          // pin sentinel state forever nor emit a deletion marker for a
          // cell that never existed (r12 streaming review). A cell WITH
          // prior state still re-emits its current version — idempotent
          // for the replica consumer.
          if (changed) state.update(st)
          if (had.isEmpty && !changed) Iterator.empty
          else {
            val live = st.putUs != Long.MinValue && st.putUs > st.delUs
            Iterator(
              if (live)
                ReplicaUpdate(key._1, key._2, st.delUs, st.putUs,
                  fromMicros(st.putUs), st.putEid, st.putValue, live = true)
              else
                ReplicaUpdate(key._1, key._2, st.delUs, st.putUs,
                  null, -1L, 0.0, live = false))
          }
      }
  }

  /** Streaming quota enforcement — the RpcThrottle applied at ingest
    * instead of audited after the fact: per (user, day-window) running
    * request counts held in flatMapGroupsWithState, each micro-batch
    * emitting the window's current count and the requests the throttle
    * would have rejected. Tier limits arrive as a plain function (the
    * broadcast hbase:quota row in the batch form). State really is
    * bounded by active users × retention: the watermark (delayed
    * `retentionDays`) both admits late requests within the retention
    * horizon AND drives an EVENT-TIME TIMEOUT that removes a window's
    * state on the first batch where the watermark passes it — the
    * exact moment further updates become impossible. Without eviction,
    * every (user, day) key ever seen would sit in the state store
    * forever (the unbounded-state trap [[streamingDedup]]'s watermark
    * eviction exists to avoid). Converges to the batch
    * `quota_throttle` report (spec-asserted under multi-batch
    * arrival). */
  def streamingQuota(events: DataFrame, limitOf: Long => Long,
                     retentionDays: Int = 2): Dataset[QuotaUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("window"))
      .withWatermark("window", s"$retentionDays days")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, java.sql.Timestamp),
         rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[QuotaState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val n = state.getOption.getOrElse(QuotaState(0L)).n + rows.size
            state.update(QuotaState(n))
            // retention is already fully enforced by the watermark delay
            // (rows for a window stop arriving once the watermark passes
            // it), so state can die the moment updates become impossible:
            // the first batch whose watermark exceeds the window. The
            // max(...) keeps the timestamp ahead of the current watermark
            // (Spark rejects timeouts at or behind it).
            state.setTimeoutTimestamp(
              math.max(key._2.getTime, state.getCurrentWatermarkMs) + 1)
            val lim = limitOf(key._1)
            Iterator(QuotaUpdate(key._1, key._2, n, n > lim, math.max(0L, n - lim)))
          }
      }
  }

  /** Per-day-window trending top-k — the "what's hot" serving view a
    * counter table feeds: event types ranked by count inside each
    * tumbling window. The per-window selection rides the bounded-state
    * TopKStruct heap (map-side k-row partials) — at real cardinality
    * (per-URL / per-entity counters, not 5 event types) a window
    * row_number would sort and shuffle the whole per-window count
    * table; the heap shuffles ≤ k rows per partition. Tie order at
    * equal counts: lexicographically larger key first (the heap keeps
    * the largest structs; oracle mirrors ORDER BY n DESC, key DESC). */
  def windowedTopK(events: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.sim.TopKStruct
    val counts = events
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"))
    val payload = struct(col("n_events").as("c"), col("event_type").as("t"))
    val agg = ColumnBridge.column(
      TopKStruct(ColumnBridge.expression(payload), k).toAggregateExpression())
    counts.groupBy("window_start").agg(agg.as("_top"))
      .select(col("window_start"), posexplode(col("_top")))
      .select(col("window_start"), (col("pos") + 1).cast("bigint").as("rank"),
        col("col.t").as("event_type"), col("col.c").as("n_events"))
  }

  /** Streaming form of [[windowedTopK]]: per-window type counts held in
    * flatMapGroupsWithState (chained stateful aggregations — counts
    * THEN top-k — don't compose as windowed aggs in one streaming
    * query), each micro-batch emitting the window's live top-k. State
    * is one count map per in-flight window, evicted by event-time
    * timeout once the watermark passes the window (the same
    * watermark-then-timeout lifecycle as [[streamingQuota]] — bounded
    * state at unbounded stream length). */
  def streamingTopK(events: DataFrame, k: Int = 3,
                    retentionDays: Int = 2): Dataset[TopKUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(date_trunc("DAY", col("ts")).as("window"), col("event_type"))
      .withWatermark("window", s"$retentionDays days")
      .as[(java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (w: java.sql.Timestamp,
         rows: Iterator[(java.sql.Timestamp, String)],
         state: GroupState[TopKWindowState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val counts = rows.foldLeft(
                state.getOption.getOrElse(TopKWindowState(Map.empty)).counts) {
              case (m, (_, t)) => m.updated(t, m.getOrElse(t, 0L) + 1L)
            }
            state.update(TopKWindowState(counts))
            state.setTimeoutTimestamp(
              math.max(w.getTime, state.getCurrentWatermarkMs) + 1)
            counts.toSeq
              .sortBy { case (t, c) => (c, t) }(Ordering[(Long, String)].reverse)
              .take(k).zipWithIndex
              .map { case ((t, c), i) => TopKUpdate(w, i + 1L, t, c) }
              .iterator
          }
      }
  }

  /** HBase `Increment` held as explicit streaming state: per event_type,
    * a running (count, sum) maintained with flatMapGroupsWithState —
    * the custom-state escape hatch for semantics windowed aggregation
    * can't express (here: emit the exact post-increment value per
    * micro-batch, like the return of HTable.increment). State is one
    * small struct per key, partitioned by key — bounded and
    * shuffle-local at any stream length. */
  def runningCounters(events: DataFrame): Dataset[CounterUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("event_type", "value").as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[CounterState]) =>
          var dn = 0L; var dsum = 0.0
          rows.foreach { case (_, v) => dn += 1; dsum += v }
          val prev = state.getOption.getOrElse(CounterState(0L, 0.0))
          val next = CounterState(prev.n + dn, prev.sum + dsum)
          state.update(next)
          Iterator(CounterUpdate(key, next.n, next.sum))
      }
  }
}
