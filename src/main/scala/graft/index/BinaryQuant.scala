package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{cosine_sim, hamming_dist, sign_bits}

/**
 * Binary (sign-bit) quantization kNN: 1 bit per dimension, bit-packed
 * into ceil(dim/64) longs, Hamming-distance prefilter, exact cosine
 * rerank on the surviving candidates only.
 *
 * Sign random projections (Charikar, STOC'02) make angle proportional
 * to Hamming distance between sign signatures; with the coordinate
 * axes as the projections the signature needs NO arithmetic at all —
 * bit i is the stored float's sign, exact on every engine, which is
 * what makes this the one ANN tier whose prefilter is replayable in
 * plain SQL with zero margin guards (AnnOracles.q116).
 *
 * The at-scale shape (the reason this tier exists):
 *
 *  - The prefilter scans the 8-byte/64-dims `sig` column — 32× less
 *    I/O than the 256-byte float32 embedding — and is a pure
 *    xor+popcount whole-stage-codegen loop (no interpreted
 *    higher-order functions on the n-row path, the round-10 rule).
 *  - The top-C heap carries only (id, ham): `TakeOrderedAndProject`,
 *    per-partition heaps of C narrow rows, no corpus shuffle.
 *  - Only the C winners touch float vectors again, via a broadcast
 *    semi-join back into the corpus — at 100 TB that is a C-row
 *    broadcast against a column-pruned scan, not a second full read
 *    of the wide column on the driver.
 *
 * In production the signature table is materialized once
 * ([[signatures]]) next to the corpus and maintained by the same
 * append/reconcile contract as the LSH/IVF tiers; the one-shot [[knn]]
 * plan computes it inline, which costs one wide scan at fixture scale
 * but keeps the operator self-contained.
 */
object BinaryQuant {

  /** Driver-side packing, bit-identical to the SignBits expression. */
  def pack(v: Array[Float]): Array[Long] = {
    val words = new Array[Long]((v.length + 63) >>> 6)
    var i = 0
    while (i < v.length) {
      if (v(i) >= 0f) words(i >>> 6) |= (1L << (i & 63))
      i += 1
    }
    words
  }

  /** The narrow signature table: (id, sig) — materialize once, scan
    * many. 8 bytes per 64 dims per row. */
  def signatures(corpus: DataFrame, idCol: String, embCol: String): DataFrame =
    corpus.filter(col(embCol).isNotNull)
      .select(col(idCol), sign_bits(col(embCol)).as("sig"))

  /**
   * Multi-index Hamming near-dup join (the banded self-join of the
   * binary tier — Norouzi et al.'s multi-index hashing idea expressed
   * as a Spark plan): split each signature into `nb >= maxHamming+1`
   * disjoint bit bands; by pigeonhole, any pair within Hamming
   * `maxHamming` matches EXACTLY on at least one band, so a plain
   * equality self-join on (band, value) is a COMPLETE candidate
   * generator — a deterministic recall guarantee, unlike LSH banding's
   * probabilistic one. Candidates then pass the integer Hamming verify
   * (codegen popcount — exact, no float boundary) and the final exact
   * cosine threshold.
   *
   * Scale shape: only (id, sig) rides the exploded band join (8-16
   * bytes/row, never the embedding); duplicate emissions are dropped
   * by the canonical-first-shared-band filter (static integer
   * comparisons — the q106 canonical-table rule, no dropDuplicates
   * shuffle of the redundant mass); embeddings re-join only for the
   * few Hamming survivors. Random signatures collide on a w-bit band
   * with probability 2^-w (measured on the 64-dim fixture: 124
   * candidate pairs per 2000 rows at w=16), so candidate mass stays
   * near-linear. A corpus whose sign distribution is skewed enough to
   * make a band value hot (a constant-sign dim region puts the WHOLE
   * corpus in one band group — W²/2 pairs in one task) gets the LSH
   * hot-bucket treatment: groups wider than `maxBandWidth` (default
   * the derived [[graft.model.GraftConfig.binaryMaxBandWidth]], ≈724 —
   * W²/2 equals the per-task candidate budget) are thinned to ~cap members by a
   * seeded deterministic id-hash. Thinning is SURVIVAL-AWARE in the
   * dedup: each row carries a bitmask of the bands it survived, and
   * the canonical filter defers a pair to an earlier shared band ONLY
   * if both members survived there — so a hot band loses only pairs
   * confined to it (both members evicted from every shared band), and
   * a pair that still shares one unthinned band occurrence is found
   * exactly once. The guard costs two extra narrow exchanges and is
   * engaged only when a hot group actually exists (a cheap existence
   * probe); organic corpora keep the single-exchange plan and the
   * UNCONDITIONAL pigeonhole guarantee bit-identically.
   *
   * Band width `w` is the largest of 64/32/16/8/4/2/1 dividing `dim`
   * with at least maxHamming+1 bands, so bands never span words and
   * zero-padding bits (dim not a multiple of 64) never form a band
   * (a pad-only band is value-0 for EVERY row — one hot band holding
   * the full n²/2 cross product).
   */
  /** The band plan: largest of 64/32/16/8/4/2/1 dividing `dim` with at
    * least maxHamming+1 bands (see [[hammingNearDupPairs]]'s doc).
    * Public so the oracle replay computes the IDENTICAL plan instead
    * of hardcoding the fixture's answer. */
  def bandWidth(dim: Int, maxHamming: Int): Int =
    Seq(64, 32, 16, 8, 4, 2, 1)
      .find(x => dim % x == 0 && dim / x >= maxHamming + 1)
      .getOrElse(throw new IllegalArgumentException(
        s"dim=$dim cannot form ${maxHamming + 1} disjoint bands — " +
          "maxHamming must be < dim for the pigeonhole guarantee to exist"))

  /** Band b's w-bit value extracted from the packed signature column. */
  private def bandVal(sig: org.apache.spark.sql.Column, b: Int, w: Int) = {
    val mask = if (w == 64) -1L else (1L << w) - 1L
    shiftright(sig.getItem(b * w / 64), (b * w) % 64).bitwiseAND(lit(mask))
  }

  /** The (id, sig, b, v) band-occurrence stream, repartitioned on the
    * join key. ONE projection + explicit repartition, aliased only
    * ABOVE the self-join (the q106 exchange-reuse rule): both sides
    * then canonicalize to the identical exchange, so the scan +
    * sign_bits + band-explode pipeline executes ONCE and the second
    * side is a ReusedExchange, not a re-scan. */
  private[graft] def explodedBands(corpus: DataFrame, idCol: String,
      embCol: String, dim: Int, maxHamming: Int): DataFrame = {
    val w = bandWidth(dim, maxHamming)
    val nb = dim / w
    corpus.filter(col(embCol).isNotNull)
      .select(col(idCol).as("id"), sign_bits(col(embCol)).as("sig"))
      .select(col("id"), col("sig"),
        posexplode(array((0 until nb).map(b => bandVal(col("sig"), b, w)): _*))
          .as(Seq("b", "v")))
      .repartition(col("b"), col("v"))
  }

  /** The capped occurrence stream: (id, sig, bm, b, v) where `bm` is
    * the per-id bitmask of bands the row SURVIVED under the hot-band
    * width cap (seeded deterministic id-hash thinning of groups wider
    * than the cap — the LSH hot-bucket treatment), and only surviving
    * occurrences remain. The mask is what makes the canonical filter
    * survival-aware. Exposed for the skew-audit spec (candidate mass
    * = Σ over (b,v) groups of w(w−1)/2). */
  private[graft] def cappedBands(exploded: DataFrame, hot: DataFrame,
      hotN: Long, cap: Int, dim: Int, maxHamming: Int): DataFrame = {
    val w = bandWidth(dim, maxHamming)
    val nb = dim / w
    val hotSide = if (hotN <= 65536) broadcast(hot) else hot
    val surv = exploded.join(hotSide, Seq("b", "v"), "left")
      .withColumn("__s", col("__w").isNull ||
        pmod(xxhash64(col("id"), lit(0x5eedL)), col("__w")) < cap)
    val perId = surv.groupBy("id").agg(
      first(col("sig")).as("sig"),
      sum(when(col("__s"),
          expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0L)).as("bm"))
      .filter(col("bm") =!= 0L)
    perId.select(col("id"), col("sig"), col("bm"),
        posexplode(array((0 until nb).map(b => bandVal(col("sig"), b, w)): _*))
          .as(Seq("b", "v")))
      .filter(expr("bm & shiftleft(CAST(1 AS BIGINT), b)") =!= 0L)
      .repartition(col("b"), col("v"))
  }

  def hammingNearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
      dim: Int, maxHamming: Int, minCosine: Double,
      maxBandWidth: Int = graft.model.GraftConfig.binaryMaxBandWidth): DataFrame = {
    val w = bandWidth(dim, maxHamming)
    val nb = dim / w
    val exploded = explodedBands(corpus, idCol, embCol, dim, maxHamming)
    // hot-band existence probe: widths aggregate on the SAME (b, v)
    // exchange (ReusedExchange); hot groups are rare by construction
    // (expected width n/2^w for random signs), so this is a cheap
    // driver decision, and the common case keeps last round's plan
    val cap = maxBandWidth
    val widths = exploded.groupBy("b", "v").agg(count(lit(1)).as("__w"))
    val hot = widths.filter(col("__w") > cap)
    val hotN = hot.count()
    val canonical = if (hotN == 0L) {
      val joined = exploded.as("x").join(exploded.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.id") < col("y.id"))
      // keep a pair only at the FIRST band both signatures share
      (0 until nb - 1).foldLeft(joined) { (df, q) =>
        df.filter(col("x.b") <= q ||
          bandVal(col("x.sig"), q, w) =!= bandVal(col("y.sig"), q, w))
      }
    } else {
      val keyed = cappedBands(exploded, hot, hotN, cap, dim, maxHamming)
      val joined = keyed.as("x").join(keyed.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.id") < col("y.id"))
      // defer to an earlier shared band ONLY where both survived —
      // otherwise the pair was never emitted there and deferring
      // would lose it (the cascade the survival mask exists to stop)
      (0 until nb - 1).foldLeft(joined) { (df, q) =>
        df.filter(col("x.b") <= q ||
          bandVal(col("x.sig"), q, w) =!= bandVal(col("y.sig"), q, w) ||
          col("x.bm").bitwiseAND(lit(1L << q)) === 0L ||
          col("y.bm").bitwiseAND(lit(1L << q)) === 0L)
      }
    }
    val survivors = canonical
      .withColumn("ham", hamming_dist(col("x.sig"), col("y.sig")))
      .filter(col("ham") <= maxHamming)
      .select(col("x.id").as("ia"), col("y.id").as("ib"), col("ham"))
    survivors
      .join(corpus.select(col(idCol).as("ia"), col(embCol).as("ea")), Seq("ia"))
      .join(corpus.select(col(idCol).as("ib"), col(embCol).as("eb")), Seq("ib"))
      .withColumn("cosine", cosine_sim(col("ea"), col("eb")))
      .filter(col("cosine") >= minCosine)
      .select(col("ia"), col("ib"), col("ham"), col("cosine"))
  }

  /**
   * Single-query kNN: Hamming top-`candidates` over the signature
   * scan (integer distance, id-ascending tiebreak — deterministic with
   * no float boundary to guard), then exact cosine rerank of the C
   * winners to top-k (score desc, id asc — the shared Q1 tiebreak).
   */
  def knn(corpus: DataFrame, idCol: String, embCol: String,
      query: Array[Float], k: Int, candidates: Int): DataFrame = {
    val qSig = typedLit(pack(query).toSeq)
    val cand = signatures(corpus, idCol, embCol)
      .withColumn("ham", hamming_dist(col("sig"), qSig))
      .orderBy(col("ham").asc, col(idCol).asc)
      .limit(candidates)
      .select(col(idCol), col("ham"))
    corpus.join(broadcast(cand), idCol)
      .withColumn("score", cosine_sim(col(embCol), typedLit(query.toSeq)))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
