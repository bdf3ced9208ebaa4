package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Candidate-volume + wall audit of the two IVF routing structures at
  * corpus sizes where the flat quantizer's 4096-cell cap BINDS
  * (√N > 4096 ⇔ N ≳ 16.8M) — the r13 verdict's one measured scale
  * frontier (dedup_embedding_ivf at ~N^1.07 against the 10× bar).
  *
  * The corpus is synthesized IN-PLAN (spark.range → hash-derived
  * floats in [-1, 1], deterministic, no RNG, no disk): this is a
  * ROUTING audit, not a correctness gate — what's measured is how
  * many scored pairs each index admits for the same 10 queries and
  * what the end-to-end search costs, at an N no driver-generated
  * table reaches. Generation costs N·d integer hashes per pass —
  * noise against the N·nCells·d assignment arithmetic under audit.
  *
  * Reads (written to stdout as one JSON line):
  *  - flat.cells = min(4096, ⌈√N⌉): capped past 16.8M, so its
  *    admitted candidates/query grow like nprobe·N/4096 — LINEAR in N
  *    — and its assignment costs N·4096·d madds.
  *  - imi.k_half = ⌈N^¼⌉ per half (cap 4096 binds past ~2.8e14):
  *    K² ≈ √N effective cells keep candidates/query ~nprobe·√N and
  *    assignment at N·K·d.
  *  Crossover at the registered operating points (flat nprobe=4, IMI
  *  nprobe=8 pairs): IMI admits fewer candidates once K² > 2·4096
  *  (N ≳ 6.9e7) and does ~4096/K ≈ 60× less assignment arithmetic
  *  already at 2e7.
  *
  * Usage: runMain graft.ImiAudit <N> [dim] [arms]
  *   arms: "both" (default) | "imi" (skip the flat arm — at N ≥ 5e7
  *   its N·4096·d assignment is the multi-ten-minute cost this audit
  *   exists to document, not to keep re-paying).
  */
object ImiAudit {
  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val dim = if (args.length > 1) args(1).toInt else 64
    val arms = if (args.length > 2) args(2) else "both"
    val spark = Harness.session(32)

    // deterministic synthetic corpus: element (id, i) = a hash folded
    // to [-1, 1]; float-typed like the real embedding column
    val vectors = spark.range(n).toDF("vec_id")
      .withColumn("embedding", expr(
        s"transform(sequence(0, ${dim - 1}), " +
          "i -> CAST((pmod(xxhash64(vec_id, i), 2000001) - 1000000) / 1e6 AS FLOAT))"))
    val queries = vectors.where(col("vec_id") < 10)

    def num(v: Double) =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    // each arm prints ITS OWN line the moment it lands — a killed or
    // timed-out later arm can't lose an earlier arm's 10-minute result
    def report(tag: String, detail: String)(mk: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val c = mk.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"arm":"$tag","n":$n,"dim":$dim,"queries":10,$detail,""" +
        s""""cand":$c,"sec":${num(sec)}}""")
    }
    val flatCells = math.min(4096,
      math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))
    val kHalf = math.min(4096,
      math.max(4, math.ceil(math.sqrt(math.sqrt(n.toDouble))).toInt))
    val imiDetail = s""""k_half":$kHalf,"eff_cells":${kHalf.toLong * kHalf}"""

    // IMI arms at the trained operating point (trainIters = 1: one
    // Lloyd round — volume is routing-structural, not iteration-
    // sensitive). The nprobe=4 row is the MATCHED-PROBE-BUDGET
    // comparison against flat's 4 probed cells; nprobe=8 is the
    // registered default (recall-parity budget).
    report("imi_np8", s"""$imiDetail,"nprobe_pairs":8""")(
      graft.sim.Ann.ivfImiScored(vectors, queries, trainIters = 1))
    report("imi_np4", s"""$imiDetail,"nprobe_pairs":4""")(
      graft.sim.Ann.ivfImiScored(vectors, queries, nprobe = 4, trainIters = 1))
    // the flat arm runs UNTRAINED (trainIters = 0, seeded quantizer):
    // one N·4096·d assignment pass instead of two — a LOWER BOUND on
    // the capped flat arm's cost (the trained form the registered
    // queries run pays this pass once per Lloyd round on top).
    // nCells is passed EXPLICITLY (r15 review): past the cap the auto
    // path now reroutes to IMI (Ann.flatCapBinds — the very rule this
    // audit justifies), which silently turned this control arm into a
    // second IMI measurement; an explicit nCells pins the flat
    // structure, which is the whole point of the arm.
    if (arms != "imi")
      report("flat_seeded", s""""cells":$flatCells,"nprobe":4,"train_iters":0""")(
        graft.sim.Ann.ivfScored(vectors, queries, nCells = flatCells,
          trainIters = 0))
    spark.stop()
  }
}
