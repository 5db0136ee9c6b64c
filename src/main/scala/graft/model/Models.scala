package graft.model

import java.sql.Timestamp
import org.apache.spark.sql.types._

/**
 * Core entity rows of the Library -> Document -> Chunk hierarchy
 * (reference: app/models.py:21-106; mapping rationale SURVEY.md §1.4 —
 * `library_id` is denormalized onto chunks so the per-library scan is a
 * single partition-prunable filter instead of the reference's 2-hop
 * adjacency walk, storage.py:242-249).
 */
final case class ChunkRow(
    id: String,
    document_id: String,
    library_id: String,
    text: String,
    embedding: Option[Array[Float]],
    metadata: Map[String, String],
    created_at: Timestamp,
    updated_at: Timestamp)

object ChunkRow {
  /** Decode a row whose first eight columns follow [[Schemas.chunks]]. */
  def fromRow(r: org.apache.spark.sql.Row): ChunkRow =
    ChunkRow(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
      Option(r.getAs[scala.collection.Seq[Float]](4)).map(_.toArray),
      Option(r.getAs[scala.collection.Map[String, String]](5)).map(_.toMap).getOrElse(Map.empty),
      r.getTimestamp(6), r.getTimestamp(7))
}

final case class DocumentRow(
    id: String,
    library_id: String,
    name: String,
    description: Option[String],
    metadata: Map[String, String],
    created_at: Timestamp,
    updated_at: Timestamp)

final case class LibraryRow(
    id: String,
    name: String,
    description: Option[String],
    metadata: Map[String, String],
    is_indexed: Boolean,
    created_at: Timestamp,
    updated_at: Timestamp)

/** Search query (reference: app/models.py:109-120 — text XOR embedding). */
final case class SearchQuery(
    queryText: Option[String] = None,
    queryEmbedding: Option[Array[Float]] = None,
    k: Int = 5,
    metadataFilters: Map[String, String] = Map.empty) {
  def validated: Either[ApiError, SearchQuery] =
    if (queryText.isEmpty && queryEmbedding.isEmpty)
      Left(ApiError.Validation("Either query_text or query_embedding must be provided"))
    else if (queryEmbedding.exists(_.exists(f => !java.lang.Float.isFinite(f))))
      Left(ApiError.Validation("query_embedding must contain only finite numbers"))
    else Right(this)
}

/** One search hit (reference: app/models.py:123-127). */
final case class SearchResult(
    chunk: ChunkRow,
    similarityScore: Double,
    distance: Double)

/** Search response envelope (reference: app/models.py:130-135). */
final case class SearchResponse(
    results: Seq[SearchResult],
    totalResults: Int,
    executionTimeMs: Double)

sealed trait ApiError { def message: String }
object ApiError {
  /** 404-equivalent (reference routes' HTTPException(404)). */
  final case class NotFound(message: String) extends ApiError
  /** 400-equivalent. */
  final case class Validation(message: String) extends ApiError
}

object Schemas {
  val chunks: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("document_id", StringType, nullable = false),
    StructField("library_id", StringType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true),
    StructField("metadata", MapType(StringType, StringType), nullable = true),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false)))

  val documents: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("library_id", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("description", StringType, nullable = true),
    StructField("metadata", MapType(StringType, StringType), nullable = true),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false)))

  val libraries: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("description", StringType, nullable = true),
    StructField("metadata", MapType(StringType, StringType), nullable = true),
    StructField("is_indexed", BooleanType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false)))
}

/** Engine defaults mirroring reference config (app/config.py). */
object GraftConfig {
  val embeddingDimension: Int = 1024        // config.py:20
  val defaultK: Int = 5                     // config.py:35
  val maxK: Int = 100                       // config.py:36
  val lshNumTables: Int = 8                 // config.py:29
  val lshHashLength: Int = 12               // config.py:30
  val ivfNlist: Int = 100                   // config.py:31
  val ivfNprobe: Int = 5                    // config.py:32
  /** Multi-probe LSH bit flips per table (beyond parity; 0 = the
    * reference's fixed single-probe behavior). */
  @volatile var lshMultiProbeFlips: Int = 0
  /** Once a trained IVF model's nlist reaches this, its centroid probe
    * runs over a seeded HNSW graph instead of the linear scan
    * (IvfModel.coarseGraph). 1024 keeps every reference-scale index
    * (nlist=100, config.py:31) on the exact scan while the ~sqrt(n)
    * nlist of a billion-vector deployment gets O(log nlist) probes.
    * Read once per model at first probe. */
  @volatile var hnswCoarseMinNlist: Int = 1024
  /** Driver/broadcast budget for a direct HNSW graph
    * (HnswModel.maxGraphVectors). Var so the cap-boundary behavior
    * (build at cap; loud refusal past it) is testable without a
    * 200k-vector build; production leaves the default. */
  @volatile var hnswMaxGraphVectors: Int = 200000
  /** When true, the facade's `ivfpq` index type trains the OPQ-rotated
    * residual stack (OpqIvfPqModel — lower residual MSE / higher
    * candidate recall at the same code budget, at the cost of the
    * rotation training) instead of plain IVF-PQ. Read at index build;
    * a library keeps the variant it was built with. */
  @volatile var ivfpqUseOpq: Boolean = false
  /** k<=0 => default, k>max => max (config.py:62-68). */
  def clampK(k: Int): Int = if (k <= 0) defaultK else math.min(k, maxK)

  /** Hamming-prefilter candidate budget of the facade's `binary` tier,
    * as a FRACTION of the corpus (floored at 64, and always at least
    * 4k): one sign bit per dimension carries limited angle information,
    * so recall at FIXED C degrades as n grows — measured on the 64-dim
    * fixture (R13Probe binrecall): recall@10 at C=64 is 0.78 at n=500
    * but 0.53 at n=2000, while C=256 restores 0.85 at n=2000. An
    * n-proportional budget (default 1/8 of the corpus, i.e. scanning
    * 8-byte sigs to rerank 12.5% of rows — still ~4x less float math
    * than brute force plus the 32x cheaper scan) keeps the recall curve
    * flat instead of silently decaying with corpus growth. */
  @volatile var binaryCandidateFraction: Double = 0.125

  /** Target candidate mass (Hamming verifies) a single hot BAND group
    * may emit into the one task that owns its (band, value) key in the
    * multi-index Hamming near-dup join (BinaryQuant
    * .hammingNearDupPairs). Unlike the LSH kNN join — where a bucket's
    * task mass is cap × E[query-side occupancy] — the band join is a
    * SELF-join, so a group of width W emits W(W−1)/2 ≈ W²/2 pairs into
    * its task; the width cap below is therefore √(2·target). Same
    * budget rationale as lshTargetBucketCandidates: 2^18 integer
    * Hamming verifies is well under a second on a core. */
  @volatile var binaryTargetBandCandidates: Int = 1 << 18
  /** Optional FIXED hot-band width cap (tests / cluster tuning);
    * <= 0 means derive from the candidate-mass model above. */
  @volatile var binaryMaxBandWidthOverride: Int = 0
  /** Hot-band width cap: band groups wider than this are thinned to
    * ~this width by a seeded deterministic id-hash filter (the LSH
    * hot-bucket treatment — FAISS max_codes-style bounded work).
    * Derived: W²/2 = binaryTargetBandCandidates ⇒ W = √(2·2^18) ≈ 724.
    * A RANDOM sign corpus never comes near it (expected band width =
    * n/2^w — a 16-bit band needs n ≈ 47M in ONE shared sign pattern to
    * trip the cap), so the guard is inert on organic data and the
    * unconditional pigeonhole guarantee stands; a skewed-sign corpus
    * (constant-sign dim region) degrades to the documented trade:
    * complete for every pair that still shares one UNTHINNED band
    * occurrence (the survival-aware canonical filter in
    * hammingNearDupPairs makes thinning lose ONLY hot-band-confined
    * pairs, never cascade). */
  def binaryMaxBandWidth: Int =
    if (binaryMaxBandWidthOverride > 0) binaryMaxBandWidthOverride
    else math.max(1, math.sqrt(2.0 * binaryTargetBandCandidates).toInt)

  /** Target EXPECTED ids per LSH bucket per table for auto-sized bucket
    * bits (Similarity.autoBits): bits = ceil(log2(n / target)), i.e.
    * per-query candidate mass ≈ numTables · target and total bucket-join
    * mass ≈ numTables · target · n — linear in n BY CONSTRUCTION at any
    * corpus size (the previous fixed [4,16] bit clamp saturated at
    * ~64·2^16 ≈ 4.2M rows/table, past which buckets grew linearly with
    * n). 64 keeps per-query work ~512 exact-cosine evaluations at the
    * default 8 tables. */
  @volatile var lshTargetIdsPerBucket: Int = 64
  /** Hard ceiling on auto-sized bits: bucket keys pack `table << bits |
    * sig` into a signed long, so bits ≤ 63 - 1(sign headroom) -
    * 5(table-id bits, ≤32 tables) = 57. At 64 ids/bucket that is
    * ~9·10^18 rows/table — unreachable; the ceiling exists only to keep
    * the key packing valid, never to size buckets. */
  val lshMaxAutoBits: Int = 57
  /** Target candidate mass (pair rows, i.e. exact-cosine verifies) a
    * single hot bucket may emit into the ONE task that owns it — the
    * budget the width cap below is derived from. 2^18 ≈ 262k cosines
    * ≈ 17 MFLOP at dim 64: tens of milliseconds on a core, so even an
    * all-hot-bucket adversarial partition stays a sub-second task. */
  @volatile var lshTargetBucketCandidates: Int = 1 << 18
  /** Optional FIXED hot-bucket width cap (tests / cluster tuning);
    * <= 0 means derive from the candidate-mass model below. */
  @volatile var lshMaxBucketWidthOverride: Int = 0
  /** Hot-bucket width cap for the bulk LSH kNN join
    * (Similarity.lshKnnJoin): corpus buckets wider than this (DISTINCT
    * vectors — identical ones are exact-collapsed first) are thinned to
    * ~this width by a seeded deterministic id-hash filter; the standard
    * bounded-probe recall trade (FAISS max_codes).
    *
    * DERIVED, not a magic constant: a hot bucket's candidate mass is
    * cap × |q_bucket| pair rows landing in one task, so
    * cap = lshTargetBucketCandidates / E[|q_bucket|]. The expected
    * query-side occupancy E[|q_bucket|] IS lshTargetIdsPerBucket by
    * construction: autoBits sizes bits from the parquet footer row
    * count precisely so that expected ids/bucket/table equals the
    * target (and the dominant caller is the self-join, where the query
    * side is the corpus). Defaults: 2^18 / 64 = 4096 — the same value
    * the previous constant was calibrated to (64× the design width, so
    * the guard stays inert on non-adversarial data), but now it moves
    * WITH the occupancy target: denser buckets (higher target) mean
    * more queries share each bucket, and the cap shrinks to hold the
    * per-task mass budget constant. */
  def lshMaxBucketWidth: Int =
    if (lshMaxBucketWidthOverride > 0) lshMaxBucketWidthOverride
    else math.max(1,
      lshTargetBucketCandidates / math.max(1, lshTargetIdsPerBucket))
  /** k-means assignment routing for large-k distributed training
    * (SemDedup.trainModel → IvfModel.trainDistributed): past this k,
    * Lloyd passes assign via the HNSW-routed approximate path
    * (approxAssignEf below) instead of the exact k·dim scan. Flop
    * model: exact = k·dim/row; approx ≈ ef·dim·(log2 k + 4)/row
    * (measured graph fan-out). The RAW flop break-even is k ≈
    * ef·(log2 k + 4) ≈ 900 — but the exact scan is a codegen'd float
    * loop while the graph walk is a CodegenFallback expression, and
    * the measured throughput gap is ~4-5× (sf10 A-B of the q111 train,
    * k=4096: exact 80.4 s vs graph-routed 100.2 s min-of-3), putting
    * the REAL break-even near k ≈ 4.5·ef·(log2 k + 4) ≈ 6000. 8192
    * adds margin and sits above the SemDedup maxAutoNlist clamp
    * (4096), so auto-sized trains stay on the codegen path and only
    * explicitly-huge k routes through the graph. Overridable without
    * recompiling via GRAFT_APPROX_ASSIGN_MIN_K (cluster tuning / A-B
    * probes). */
  @volatile var approxAssignMinK: Int =
    sys.env.get("GRAFT_APPROX_ASSIGN_MIN_K").flatMap(_.toIntOption).getOrElse(8192)
  /** ef for the HNSW-routed approximate assignment above. */
  @volatile var approxAssignEf: Int = 64

  /** Trainer routing for the large-n·k regime (SemDedup.trainModel):
    * route to mini-batch k-means once the exact path's assignment
    * flops exceed the mini-batch path's by this factor —
    * `exactPasses·n ≥ margin · miniBatchIters·miniBatchRows(k)`.
    * Both paths use the same codegen'd assignment expression, so the
    * flop model is handicap-free (unlike the graph-routed case above);
    * the margin covers the mini-batch path's fixed costs (working-set
    * materialization scan + per-iteration job floor). Anchor: sf10 A-B
    * of the q111 train corpus (n=475,600, k=4096 ⇒ flop ratio 5.8)
    * measured 2.4× wall win (min-of-3: 37.7 s exact vs 15.9 s
    * mini-batch, inertia premium +2.1%, drop-set Jaccard 0.94 — the
    * same parity band the sampled A-B established as acceptable).
    * Overhead roughly halves the flop advantage, so ratio 2 ≈ wall
    * break-even, and 3 adds margin. Double.MaxValue disables the
    * route (always exact); overridable via
    * GRAFT_MINIBATCH_TRAIN_MARGIN. */
  @volatile var miniBatchTrainMargin: Double =
    sys.env.get("GRAFT_MINIBATCH_TRAIN_MARGIN")
      .flatMap(_.toDoubleOption).getOrElse(3.0)

  /** An LSH sizing + probe preset (tables x bits, multi-probe flips). */
  final case class LshPreset(numTables: Int, bitsPerTable: Int, flips: Int)

  /** Recall-targeted preset, measured in RECALL.md on the uniform
    * synthetic corpus: 16 tables x 8 bits with 2 low-|dot| bit-flip
    * probes per table = 0.59 recall@10 at 0.198 candidate fraction —
    * the measured sign-LSH frontier point nearest the 0.6-recall /
    * 0.15-fraction target (no config on that corpus reaches both; its
    * wide-angle neighbors are the worst case for sign-bit LSH — see
    * RECALL.md takeaways). Corpora with duplicate-like neighbors (the
    * reference's own sizing assumption) sit well above this floor at
    * the same cost. */
  val lshRecallPreset: LshPreset = LshPreset(numTables = 16, bitsPerTable = 8, flips = 2)

  /** Opt-in active preset: None (default) keeps exact reference parity
    * (8x12 single-probe, config.py:29-30). Assign `Some(lshRecallPreset)`
    * before `indexLibrary` to build recall-targeted LSH indexes; search
    * picks up the preset's flips for libraries indexed under it. */
  @volatile var lshActivePreset: Option[LshPreset] = None
}
