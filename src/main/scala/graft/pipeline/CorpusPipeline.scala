package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Embedder, HashingEmbedder}
import graft.operators.{Dedup, TextAnalysis}

/**
 * The end-to-end training-corpus curation pipeline, composed from the
 * engine's operators — the workload the 100 TB framing is about:
 *
 *   raw docs -> quality metrics (single-pass expression)
 *            -> quality/language gates
 *            -> exact dedup (hash groupBy)
 *            -> near-dup removal (MinHash-LSH candidates, exact verify,
 *               greedy keep-lowest-id per pair)
 *            -> distributed embedding
 *
 * Every stage is a narrow transform or a hash-bucket join; nothing
 * collects to the driver, so the pipeline shape is scale-invariant.
 */
object CorpusPipeline {

  final case class CurationConfig(
      minQuality: Double = 0.5,
      keepLangs: Set[String] = Set.empty, // empty = keep all
      nearDupJaccard: Double = 0.8,
      shingleSize: Int = 3,
      embedDim: Int = 64,
      // train/val/test percentages; assignment is a pure hash of the id
      // (splitmix64 bucket), so splits are stable across runs/engines.
      // Requires a numeric id column; set trainPct = 0 to skip.
      trainPct: Int = 80,
      valPct: Int = 10,
      // redact emails/phones/IPs BEFORE metrics and dedup (so near-dup
      // comparison sees the scrubbed text, and no PII reaches the
      // embedder). Off by default: scrubbing changes the text column.
      redactPii: Boolean = false,
      // semantic (SemDeDup) stage AFTER lexical near-dup removal, over
      // the freshly embedded corpus — catches paraphrases/translations
      // that share no shingles (Abbas et al. 2023 run it as the last
      // dedup pass for the same reason). None = stage off (default:
      // it adds a k-means train unless the caller supplies a model).
      semanticMinCosine: Option[Double] = None)

  /** Returns the curated corpus: original columns + quality metrics +
    * `embedding`.
    *
    * @param semanticModel caller-supplied k-means clustering for the
    *   semantic stage (train once, curate many — the same trained-index
    *   reuse story as the served IVF index); auto-trained on the
    *   curated batch when absent and `cfg.semanticMinCosine` is set. */
  def curate(docs0: DataFrame, idCol: String, textCol: String,
      cfg: CurationConfig = CurationConfig(),
      semanticModel: Option[graft.index.IvfModel] = None): DataFrame = {

    // 0. optional PII scrub (before metrics/dedup/embedding see text)
    val docs = if (!cfg.redactPii) docs0
      else docs0.withColumn(textCol, TextAnalysis.redactPii(col(textCol)))

    // 1-2. metrics + gates
    val withMetrics = docs
      .withColumn("__m", TextAnalysis.textMetrics(col(textCol)))
      .withColumn("quality_score", col("__m.quality_score"))
      .withColumn("lang_pred", col("__m.lang_pred"))
      .withColumn("n_tokens", col("__m.n_tokens"))
      .drop("__m")
    val gated = {
      val q = withMetrics.filter(col("quality_score") >= cfg.minQuality)
      if (cfg.keepLangs.isEmpty) q
      else q.filter(col("lang_pred").isin(cfg.keepLangs.toSeq: _*))
    }

    // 3. exact dedup (keep min id per text hash)
    val exactDeduped = Dedup.exactDedup(gated, idCol, textCol)

    // 4. near-dup removal: candidates via MinHash banding, exact
    // verification, connected components over the surviving pairs, keep
    // the min-id representative per component. (A greedy per-pair drop
    // over-removes on chains: B~A and C~B but C!~A would lose C; the
    // component view keeps exactly one doc per duplicate GROUP.)
    val pairs = Dedup.minHashNearDupPairs(exactDeduped, idCol, textCol,
      shingleSize = cfg.shingleSize, numHashes = 64, bands = 32,
      minJaccard = cfg.nearDupJaccard)
    val components = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
    val dropIds = components.filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    val nearDeduped = exactDeduped.join(dropIds, Seq(idCol), "left_anti")

    // 5. distributed embedding
    val embed = Embedder.embedColumn(HashingEmbedder(dimension = cfg.embedDim))
    val embedded0 = nearDeduped.withColumn("embedding", embed(col(textCol)))

    // 5b. optional semantic dedup (SemDeDup) over the embeddings —
    // runs AFTER lexical near-dup so its cluster self-join never sees
    // the lexical duplicate mass. Checkpoint first: the embed pipeline
    // above would otherwise re-execute for the k-means train, the
    // assignment AND the keep-join.
    val embedded = cfg.semanticMinCosine match {
      case None => embedded0
      case Some(minCos) =>
        val mat = embedded0.localCheckpoint(false)
        val flags = graft.operators.SemDedup.semDedup(
          mat, idCol, "embedding", minCosine = minCos, model = semanticModel)
        val dropIds = flags.filter(!col("keep")).select(col(idCol))
        mat.join(dropIds, Seq(idCol), "left_anti")
    }

    // 6. deterministic split assignment (pure function of the id).
    // Guard first: cast("long") on a string/UUID id yields nulls and
    // every row would silently land in "test".
    if (cfg.trainPct <= 0) embedded
    else {
      import org.apache.spark.sql.graft.Bridge
      import org.apache.spark.sql.graft.expressions.HashBucket
      graft.operators.Packing.requireIntegralId(embedded, idCol)
      val bucket = Bridge.column(HashBucket(
        Bridge.expression(col(idCol).cast("long")), 100))
      embedded.withColumn("split",
        when(bucket < cfg.trainPct, "train")
          .when(bucket < cfg.trainPct + cfg.valPct, "val")
          .otherwise("test"))
    }
  }

  /**
   * Incremental curation: run the same gates over a NEW batch only,
   * then dedup it against an authoritative already-curated corpus
   * (exact within the batch, near-dup vs corpus + within batch via
   * `Dedup.incrementalDedup` — the existing-existing pair mass never
   * forms, which is what makes re-curation affordable at 100 TB).
   * Returns the curated rows of the NEW batch only; append them to
   * `existing` to advance the corpus. Kept for PipelineSpec's
   * batch-vs-corpus dedup tests, the gate of the incremental stages.
   */
  def curateIncremental(existing: DataFrame, incoming0: DataFrame,
      idCol: String, textCol: String,
      cfg: CurationConfig = CurationConfig(),
      semanticModel: Option[graft.index.IvfModel] = None): DataFrame = {
    val incoming = if (!cfg.redactPii) incoming0
      else incoming0.withColumn(textCol, TextAnalysis.redactPii(col(textCol)))
    val withMetrics = incoming
      .withColumn("__m", TextAnalysis.textMetrics(col(textCol)))
      .withColumn("quality_score", col("__m.quality_score"))
      .withColumn("lang_pred", col("__m.lang_pred"))
      .withColumn("n_tokens", col("__m.n_tokens"))
      .drop("__m")
    val gated = {
      val q = withMetrics.filter(col("quality_score") >= cfg.minQuality)
      if (cfg.keepLangs.isEmpty) q
      else q.filter(col("lang_pred").isin(cfg.keepLangs.toSeq: _*))
    }
    val exactDeduped = Dedup.exactDedup(gated, idCol, textCol)
    val survivors = Dedup.incrementalDedup(
      existing.select(col(idCol), col(textCol)), exactDeduped, idCol, textCol,
      shingleSize = cfg.shingleSize, numHashes = 64, bands = 32,
      minJaccard = cfg.nearDupJaccard)
    val embed = Embedder.embedColumn(HashingEmbedder(dimension = cfg.embedDim))
    val embedded0 = survivors.withColumn("embedding", embed(col(textCol)))

    // optional semantic stage: dedup the batch against the curated
    // corpus via SemDedup.semDedupIncremental — the existing side is
    // authoritative and its pair mass never re-forms. The corpus
    // carries its `embedding` column when curated by `curate` with the
    // same config; re-derived deterministically here if absent.
    val embedded = cfg.semanticMinCosine match {
      case None => embedded0
      case Some(minCos) =>
        val exEmb =
          if (existing.columns.contains("embedding"))
            existing.select(col(idCol), col("embedding"))
          else existing.select(col(idCol),
            embed(col(textCol)).as("embedding"))
        val mat = embedded0.localCheckpoint(false)
        graft.operators.SemDedup.semDedupIncremental(
          exEmb, mat, idCol, "embedding", minCosine = minCos,
          model = semanticModel)
    }
    if (cfg.trainPct <= 0) embedded
    else {
      import org.apache.spark.sql.graft.Bridge
      import org.apache.spark.sql.graft.expressions.HashBucket
      graft.operators.Packing.requireIntegralId(embedded, idCol)
      val bucket = Bridge.column(HashBucket(
        Bridge.expression(col(idCol).cast("long")), 100))
      embedded.withColumn("split",
        when(bucket < cfg.trainPct, "train")
          .when(bucket < cfg.trainPct + cfg.valPct, "val")
          .otherwise("test"))
    }
  }

  /** Per-stage survival counts (one action per stage; diagnostics).
    * When the semantic stage is on, lexical and semantic drops are
    * counted separately (`after_near_dedup` vs `after_semantic_dedup`).
    * Kept for PipelineSpec's stage-monotonicity test. */
  def curationReport(docs: DataFrame, idCol: String, textCol: String,
      cfg: CurationConfig = CurationConfig(),
      semanticModel: Option[graft.index.IvfModel] = None): Map[String, Long] = {
    val withMetrics = docs
      .withColumn("__m", TextAnalysis.textMetrics(col(textCol)))
    val quality = withMetrics.filter(col("__m.quality_score") >= cfg.minQuality)
    val lang = if (cfg.keepLangs.isEmpty) quality
      else quality.filter(col("__m.lang_pred").isin(cfg.keepLangs.toSeq: _*))
    val exact = Dedup.exactDedup(lang.drop("__m"), idCol, textCol)
    val lexical = curate(docs, idCol, textCol,
      cfg.copy(semanticMinCosine = None))
    val base = Map(
      "input" -> docs.count(),
      "after_quality" -> quality.count(),
      "after_lang" -> lang.count(),
      "after_exact_dedup" -> exact.count(),
      "after_near_dedup" -> lexical.count())
    cfg.semanticMinCosine match {
      case None => base
      case Some(_) =>
        val curated = curate(docs, idCol, textCol, cfg, semanticModel)
        base + ("after_semantic_dedup" -> curated.count())
    }
  }
}
