package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout: the HBase region model (rowkey-sorted HFiles per
  * region) re-expressed as rowkey-range-partitioned, within-partition-
  * sorted parquet. Each output file covers a disjoint key range with
  * monotone pages, so a rowkey range predicate prunes at three levels —
  * partition file min/max, row-group stats, page index — which is the
  * moral equivalent of region pruning + HFile block index seeks.
  */
object Layout {

  /** Write `df` as a sorted snapshot: range-partition on the rowkey
    * (`buckets` ≈ region count), sort within partitions, one parquet
    * dir. Scans with rowkey predicates then touch only the matching
    * files/row groups. */
  def writeSorted(df: DataFrame, keyCol: String, path: String, buckets: Int = 8): Unit =
    df.repartitionByRange(buckets, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("overwrite").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** Bucket `df` unless this JVM already holds `table`. Bucketing is
    * ingest-time work done once; the recurring operation a bucketed
    * layout exists FOR is the exchange-free join/agg on top of it — so
    * repeated calls (e.g. a benchmark's warmup + timed pass) must not
    * re-pay the write. A fresh JVM has an empty in-memory catalog and
    * always rewrites, so stale on-disk leftovers are never trusted. */
  private val bucketed = new SessionMemo[Unit]()

  def ensureBucketed(df: => DataFrame, keyCol: String, buckets: Int, table: String)
                    (spark: SparkSession): Unit =
    // one memo slot, not bare check-then-act: two threads racing the
    // same table (bucket_join and bucket_agg share lineitem_bkt) would
    // both see tableExists=false and concurrently DROP/delete/create.
    // The catalog check stays inside for the leaf-write case of a table
    // dropped out-of-band; a thrown write caches nothing. JVM-scoped and
    // keyed by TABLE, not (session, table): spark.newSession() shares
    // the catalog and the warehouse location, so per-session keys let
    // two sessions run DROP/delete/create concurrently on the SAME path
    // — the exact corruption race the memo exists to close (r12 core
    // review).
    bucketed(None, table) {
      if (!spark.catalog.tableExists(table))
        writeBucketed(df, keyCol, buckets, table)
    }

  /** Write as a bucketed+sorted catalog table: both sides of a future
    * equi-join bucketed by the same key into the same bucket count
    * join WITHOUT a shuffle (Spark plans SortMergeJoin over the
    * existing bucketing — the co-located join HBase gets from
    * co-partitioned regions). */
  def writeBucketed(df: DataFrame, keyCol: String, buckets: Int, table: String): Unit = {
    val spark = df.sparkSession
    // the table name splices into DROP TABLE SQL below — the shared
    // identifier guard every other splice point enforces (r13 review:
    // a backtick-bearing name re-tokenized the statement AND desynced
    // from the unvalidated name saveAsTable/defaultTablePath see)
    Hashes.requireIdentifier(table, "writeBucketed table")
    // true overwrite across JVMs: the in-memory catalog is per-session,
    // so a previous run may have left the managed location on disk with
    // no catalog entry — CREATE then refuses with LOCATION_ALREADY_EXISTS
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      org.apache.spark.sql.graftbridge.SessionBridge.defaultTablePath(spark, table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .format("parquet").saveAsTable(table)
  }

  import org.apache.spark.sql.Column

  /** Normalize a numeric column to an integer bucket in [0, 2^bits)
    * against broadcast corpus bounds `lo`/`hi` — DELEGATES to
    * [[graft.analytics.Tools.totalOrderBucket]] with n = 2^bits: that
    * is THE one copy of the parity-load-bearing bucket formula every
    * DuckDB oracle mirrors (this function was a second hand copy of
    * the identical double-multiply expression — the r10 dirKey
    * hand-sync class). Exact while x·2^bits < 2^53, hence bits ≤ 16. */
  def dimBucket(c: Column, lo: Column, hi: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 16, s"bits ($bits) must be in [1, 16]")
    graft.analytics.Tools.totalOrderBucket(c, lo, hi, 1 << bits)
  }

  /** Morton (Z-order) interleave of two `bits`-bit buckets: dim A takes
    * the odd bit positions, dim B the even. Rows sorted by this key
    * cluster in BOTH dimensions at once, so min/max zone maps prune
    * two-column predicates — the multi-dimensional clustering
    * OPTIMIZE ZORDER gives a lakehouse table, built from shifts and
    * masks that stay inside whole-stage codegen. */
  def mortonKey(a: Column, b: Column, bits: Int): Column = {
    // bits = 0 would crash an empty reduce; bits >= 32 shifts past 63
    // and the JVM wraps shift counts mod 64 — silently COLLIDING
    // Z-order keys, the worst failure mode for a clustering key
    require(bits >= 1 && bits <= 16, s"bits ($bits) must be in [1, 16]")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)
  }
}

/** Ensure-once side artifacts (secondary-index tables). HBase
  * applications maintain index tables at INGEST time (each Put writes
  * the base row and its index row); serving-time reads only consume
  * them. Building the index inside a read query both times a write in
  * a read and rebuilds per invocation — this registry keys each build
  * on (session, source dir, name) so it runs once per JVM/session,
  * exactly like [[Layout.ensureBucketed]] for bucketed layouts. */
object Indexes {
  private val built = new SessionMemo[String]()

  /** Path of the `name` index over source `dir`, building it via
    * `build(targetDir)` only on first request for this session
    * (concurrent callers of the same index wait for the one build). A
    * failed build deletes its partial output and caches nothing, so
    * the next request retries cleanly. */
  def ensure(spark: SparkSession, dir: String, name: String)
            (build: String => Unit): String =
    built(Some(spark), s"$dir|$name") {
      val target = java.nio.file.Files.createTempDirectory(s"graft_idx_$name")
      try { build(target.toString); target.toString }
      catch { case e: Throwable =>
        // clean through the SAME filesystem the builders write: a
        // scheme-less path resolves against the Hadoop DEFAULT FS,
        // so off-local the former java.nio walk cleaned an empty
        // LOCAL twin and left the partial parquet orphaned forever
        // (fresh random name per retry — the copyVersionDir
        // FS-abstraction class). A cleanup failure is SUPPRESSED
        // onto the build error, never replacing it.
        try {
          val tp = new org.apache.hadoop.fs.Path(target.toString)
          val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(tp)) fs.delete(tp, true)
          java.nio.file.Files.deleteIfExists(target)
        } catch { case c: Throwable => e.addSuppressed(c) }
        throw e
      }
    }
}

/** Snapshots (HBase admin snapshots / MultiTableSnapshotInputFormat):
  * a snapshot is an immutable versioned directory; point-in-time read =
  * read that version's directory. Mutations write the NEXT version
  * (copy-on-write), never touching previous ones — so old snapshots
  * stay readable byte-for-byte, which is the property snapshot_read
  * verifies.
  */
object Snapshots {
  def path(base: String, version: Int): String = s"$base/v=$version"

  def write(df: DataFrame, keyCol: String, base: String, version: Int): Unit = {
    Layout.writeSorted(df, keyCol, path(base, version))
    evictManifests(base, version)
  }

  /** The manifest memo trusts version immutability, but EVERY path
    * that replaces a version dir breaks it — writeSorted's
    * mode(overwrite) (the documented half-written-version recovery
    * path, or a caller re-calling write), restore's roll-forward into
    * an existing slot, and a re-export over a populated target
    * (copyVersionDir deletes dst first). Each replacement site evicts
    * all cached manifests of its (base, version), whatever session or
    * keyCol cached them, AFTER the replacement commits — a stale
    * manifest would read deleted part-file paths. */
  private def evictManifests(base: String, version: Int): Unit =
    manifests.evict(_.startsWith(s"$base|$version|"))

  def read(spark: SparkSession, base: String, version: Int): DataFrame =
    Layout.read(spark, path(base, version))

  /** Row-level diff of two snapshot versions — the "what changed
    * between yesterday's and today's snapshot" audit (HBase answers it
    * with SyncTable's re-scan of mismatched ranges; here the diff IS
    * the output). One full-outer sort-merge join on the row id; each
    * emitted row carries its change kind. Payload comparison is a
    * struct equality over `cmpCols` — map-side projections, the join
    * is the only shuffle. */
  def diff(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
           keyCol: String, cmpCols: Seq[String]): org.apache.spark.sql.DataFrame =
    labeledDiff(a, b, keyCol, cmpCols,
      onlyInA = "removed", onlyInB = "added", changed = "changed")

  /** ONE copy of the labeled full-outer diff shape shared by [[diff]]
    * and [[restoreAudit]] (their docs each say "same join shape" — so
    * it IS the same code): key + struct payload per side, full-outer
    * SMJ, a change label per divergence class, identical rows silent. */
  private def labeledDiff(a: DataFrame, b: DataFrame, keyCol: String,
                          cmpCols: Seq[String], onlyInA: String,
                          onlyInB: String, changed: String): DataFrame = {
    val av = a.select(col(keyCol), struct(cmpCols.map(col): _*).as("_a"))
    val bv = b.select(col(keyCol), struct(cmpCols.map(col): _*).as("_b"))
    av.join(bv, Seq(keyCol), "full_outer")
      .withColumn("change",
        when(col("_b").isNull, onlyInA)
          .when(col("_a").isNull, onlyInB)
          .when(!(col("_a") === col("_b")), changed))
      .where(col("change").isNotNull)
      .select(col(keyCol), col("change"))
  }

  /** The snapshot's region manifest: per part-file key-range stats
    * (start/end key + row count). [[Layout.writeSorted]] range-
    * partitions on the rowkey, so each part file IS a region — disjoint
    * key range, sorted within — and this table is the split table
    * TableSnapshotInputFormat derives from the snapshot manifest
    * (hbase-server/.../mapreduce/TableSnapshotInputFormat.java:86,
    * one split per region with its key range). Built from a single-
    * column pass over the snapshot (only `keyCol` is read — column
    * pruning keeps it at one thin column even when the snapshot is
    * wide); at real scale a pipeline persists this at snapshot-write
    * time exactly like the reference's manifest. */
  def regionManifest(spark: SparkSession, base: String, version: Int,
                     keyCol: String): DataFrame = {
    val src = read(spark, base, version)
    // integral keys only, widened to bigint: the manifest's consumers
    // (scanDirect's collect) read start/end as Long — an IntegerType
    // rowkey would ClassCastException at SCAN time, far from the
    // write that fixed the type (r12 core review); a string rowkey
    // has no numeric range semantics here at all
    // simpleString vocabulary: tinyint/smallint, NOT the Scala-side
    // byte/short names — the old allowlist could never match a
    // ByteType/ShortType rowkey and rejected the very keys the bigint
    // widening below exists to carry (r12 core review)
    val kt = src.schema(keyCol).dataType
    require(Seq("tinyint", "smallint", "int", "bigint").contains(kt.simpleString),
      s"regionManifest needs an integral key column; '$keyCol' is $kt")
    src
      .select(input_file_name().as("file"), col(keyCol).cast("bigint").as(keyCol))
      .groupBy("file")
      .agg(min(col(keyCol)).as("start_key"), max(col(keyCol)).as("end_key"),
        count(lit(1)).as("n_rows"))
  }

  /** TableSnapshotInputFormat-style DIRECT snapshot scan: read the
    * snapshot's files with no serving table in the path, touching ONLY
    * the region files whose key range overlaps `[lo, hi)`. The file
    * pick is driver-side over the manifest's #regions rows — the same
    * O(regions) work the reference's getSplits does when it turns the
    * snapshot manifest into splits; the data itself never routes
    * through a scan of non-overlapping regions (they are absent from
    * the read, not filtered after it). The residual in-file predicate
    * still pushes to parquet for the boundary regions. */
  // manifest rows memoized per (session, base, version, keyCol): a
  // snapshot version is immutable, and recomputing the manifest —
  // a full thin-column scan + shuffle — on EVERY direct-scan call
  // charged the "pruned" read more IO than an unpruned one (the
  // reference persists the manifest at snapshot-write time; this memo
  // is the session-local stand-in)
  private val manifests = new SessionMemo[Array[(String, Long, Long)]]()

  def scanDirect(spark: SparkSession, base: String, version: Int,
                 keyCol: String, lo: Long, hi: Long): DataFrame = {
    require(hi >= lo, s"bad range [$lo, $hi)")
    val name = s"$base|$version|$keyCol"
    def build() = manifests(Some(spark), name)(
      regionManifest(spark, base, version, keyCol)
        .select("file", "start_key", "end_key").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
    def pick(m: Array[(String, Long, Long)]) =
      m.filter { case (_, s0, e0) => s0 < hi && e0 >= lo }.map(_._1)
    // VALIDATE-ON-USE: eviction at the replacement sites covers every
    // in-process deterministic path, but a scan RACING a replacement
    // can still publish a stale manifest after the eviction ran, and an
    // out-of-process rewrite evicts nothing. Every replacement writes
    // fresh random part-file names, so staleness always shows as a
    // missing file — #regions driver-side existence probes (the same
    // metadata cost as the reference's getSplits), then one rebuild
    // heals it. The probe walks the WHOLE manifest, not just the picked
    // subset: a stale manifest can pick ZERO files (the rewrite moved
    // data into a key range the old regions never covered) and a
    // picked-only probe returned a wrong EMPTY result forever (r12 core
    // review). An EMPTY manifest has no file paths to probe, so it can
    // never detect an out-of-process rewrite that filled the version
    // (r13 review: a previously empty version returned a wrong empty
    // result FOREVER) — empties are rebuilt on every call; the rebuild
    // is a metadata-sized job on a genuinely empty version, and a
    // filled version heals on its first read.
    var manifest = build()
    val stale = manifest.isEmpty || {
      val fs = new org.apache.hadoop.fs.Path(manifest.head._1)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      !manifest.forall { case (f, _, _) => fs.exists(new org.apache.hadoop.fs.Path(f)) }
    }
    if (stale) {
      manifests.evict(_ == name)
      manifest = build()
    }
    val picked = pick(manifest)
    val pred = col(keyCol) >= lo && col(keyCol) < hi
    if (picked.isEmpty) read(spark, base, version).where(lit(false))
    else spark.read.parquet(picked.toIndexedSeq: _*).where(pred)
  }

  /** MultiTableSnapshotInputFormat (hbase-server/.../mapreduce/
    * MultiTableSnapshotInputFormat.java:62, getSplits collecting one
    * split list PER configured snapshot): ONE job reading SEVERAL
    * snapshots, each contributing only the region files whose key
    * range overlaps the scan — the per-snapshot split planning of
    * [[scanDirect]] repeated per snapshot, unioned under a snapshot
    * name column so downstream code can tell the sources apart (the
    * reference encodes the same provenance in each split's snapshot
    * name).
    *
    * Scale shape: split pruning is driver-side over each snapshot's
    * #regions-row manifest (exactly the reference's getSplits cost);
    * the union is a no-shuffle concatenation of pruned scans, and the
    * residual key predicate still pushes into every parquet leaf. */
  def multiSnapshotScan(spark: SparkSession,
                        scans: Seq[(String, String, Int)],
                        keyCol: String, lo: Long, hi: Long): DataFrame = {
    require(scans.nonEmpty, "multiSnapshotScan needs at least one snapshot")
    scans.map { case (name, base, version) =>
      scanDirect(spark, base, version, keyCol, lo, hi)
        .withColumn("snapshot", lit(name))
    }.reduce(_.unionByName(_))
  }

  /** ExportSnapshot (hbase-server/.../snapshot/ExportSnapshot.java) —
    * ship a snapshot to another cluster by copying its files directly
    * (the tool moves HFiles, bypassing region servers entirely; the
    * receiving side verifies integrity). Here: a byte-level copy of the
    * version directory; verification is the caller composing per-bucket
    * digests over source and export (see the export_snapshot query). */
  def exportSnapshot(base: String, version: Int, targetBase: String): Unit = {
    copyVersionDir(path(base, version), path(targetBase, version))
    evictManifests(targetBase, version)
  }

  /** In-place restoreSnapshot (hbase-server/.../master/snapshot/
    * RestoreSnapshotHandler.java:63, executing RestoreSnapshotHelper
    * .restoreHdfsRegions): roll an EXISTING table back to a snapshot —
    * the table's content is REPLACED by the snapshot version (regions
    * only in the current table are dropped, regions only in the
    * snapshot re-added, shared regions restored to snapshot files);
    * reference files are put in place without moving data. Unlike
    * clone (a NEW table), every mutation made after the snapshot is
    * lost — the disaster-recovery path. Here: a file-level copy of
    * the snapshot version into the next version slot, the
    * copy-on-write equivalent of reference placement — older versions
    * (including the pre-restore current state) stay readable, which
    * is what lets [[restoreAudit]] price exactly what the rollback
    * discarded, and keeps clones taken from the snapshot independent
    * of the restore (the spec's clone-unaffected contract). */
  def restore(base: String, snapshotVersion: Int, newCurrentVersion: Int): Unit = {
    require(newCurrentVersion > snapshotVersion,
      s"restore writes a NEW current version (got v$newCurrentVersion " +
        s"over snapshot v$snapshotVersion)")
    copyVersionDir(path(base, snapshotVersion), path(base, newCurrentVersion))
    evictManifests(base, newCurrentVersion)
  }

  /** The rollback audit — the dual of [[diff]]: given the snapshot
    * being restored and the PRE-restore current state, report every
    * row the in-place restore changes, keyed by what happened to it:
    *  - `resurrected`: deleted after the snapshot → comes back;
    *  - `discarded_insert`: inserted after the snapshot → lost (the
    *    mutation-loss class the handler's javadoc warns about);
    *  - `reverted_update`: updated after the snapshot → snapshot
    *    payload wins.
    * Rows identical in both states survive unchanged (not reported).
    * Same single full-outer sort-merge join shape as [[diff]]. */
  def restoreAudit(snapshot: DataFrame, current: DataFrame,
                   keyCol: String, cmpCols: Seq[String]): DataFrame =
    labeledDiff(snapshot, current, keyCol, cmpCols,
      onlyInA = "resurrected", onlyInB = "discarded_insert",
      changed = "reverted_update")

  /** Byte-level copy of one snapshot version directory, at the SAME
    * filesystem abstraction the snapshot writes use (Hadoop FS — a
    * java.nio walk would silently look at the LOCAL path while
    * Snapshots.write landed on the session's default FS, e.g. HDFS/S3
    * on a real cluster; writeBucketed already bridges the same way).
    * REPLACES the destination: snapshot part files carry fresh random
    * names per write, so merging into stale leftovers from an earlier
    * process would silently double the data. */
  private def copyVersionDir(srcPath: String, dstPath: String): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val src = new HPath(srcPath)
    val dst = new HPath(dstPath)
    // each side resolves its OWN FileSystem: exportSnapshot's whole
    // point is shipping to another cluster, and resolving the
    // destination through the source's FS threw "Wrong FS" the moment
    // the schemes differed (r12 core review)
    val srcFs = src.getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    if (dstFs.exists(dst)) dstFs.delete(dst, true)
    dstFs.mkdirs(dst.getParent)
    if (!FileUtil.copy(srcFs, src, dstFs, dst, false, true, conf))
      throw new java.io.IOException(s"copy $srcPath -> $dstPath failed")
  }
}

