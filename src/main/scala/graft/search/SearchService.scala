package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

import graft.catalog.{HnswState, IndexState, IndexType, VectorCatalog}
import graft.filter.MetadataFilter
import graft.functions.GraftFunctions._
import graft.model._

/**
 * Search orchestration replicating the reference's
 * `SearchService.search_library` order of operations
 * (search_service.py:24-77 / SURVEY.md §2.10 Q4):
 *
 *   1. validate query (text XOR embedding)         models.py:116-120
 *   2. library must exist                          search_service.py:37-39
 *   3. clamp k                                     config.py:62-68
 *   4. resolve embedding (pass-through or embed)   search_service.py:79-86
 *   5. PRE-filter chunk universe by metadata, then
 *      the index search POST-filters its candidates
 *      against that universe                       search_service.py:98-110
 *   6. exact cosine rerank -> top-k, timed         indexes.py:162-168
 *
 * Post-filter semantics preserved deliberately: with a selective filter
 * an ANN index may return < k rows even when k matches exist — that is
 * the reference's observable behavior (SURVEY.md §7 risk register).
 * Edge semantics preserved: IVF untrained => empty (indexes.py:343);
 * LSH zero candidates => full-scan fallback (indexes.py:151-153).
 *
 * Two read paths with one answer: a library under the resident cap is
 * served from the catalog's driver snapshot with zero Spark jobs
 * ([[LocalSearch]]); a larger one (or one with pending streamed
 * batches, or a tier without a driver copy) runs the Spark plans
 * below. Bad input — a query vector of the wrong dimension or with a
 * non-finite element, an unparseable `created_*` filter — is a
 * Validation error on both, raised before any job or scan.
 */
final class SearchService(catalog: VectorCatalog) {
  import SearchService._

  def search(libraryId: String, query: SearchQuery): Either[ApiError, SearchResponse] =
    prepared(libraryId, query).map(p =>
      respond(p, localSearch(libraryId, p).getOrElse(sparkPlans(libraryId, p))))

  /** The Spark plans alone, after the same validation — the reference
    * the resident path is tested against. */
  private[graft] def sparkSearch(libraryId: String, query: SearchQuery): Either[ApiError, SearchResponse] =
    prepared(libraryId, query).map(p => respond(p, sparkPlans(libraryId, p)))

  /** A validated query, ready for either path; `t0` starts its clock. */
  private final case class Prepared(q: SearchQuery, matches: ChunkRow => Boolean, t0: Long,
      k: Int, queryVec: Array[Float], state: Option[IndexState])

  private def prepared(libraryId: String, query: SearchQuery): Either[ApiError, Prepared] =
    for {
      q <- query.validated
      _ <- catalog.getLibrary(libraryId)
      _ <- q.queryEmbedding.filter(_.length != catalog.embeddingDim)
        .map(e => ApiError.Validation(s"query_embedding has dimension ${e.length}; " +
          s"the catalog's embedding dimension is ${catalog.embeddingDim}")).toLeft(())
      matches <- MetadataFilter.local(q.metadataFilters,
        DateTimeUtils.getZoneId(catalog.spark.sessionState.conf.sessionLocalTimeZone))
    } yield {
      val t0 = System.nanoTime()
      // one read of the index state: both paths probe the same version
      Prepared(q, matches, t0, GraftConfig.clampK(q.k),
        q.queryEmbedding.getOrElse(catalog.embedder.embedOne(q.queryText.get)),
        catalog.indexState(libraryId))
    }

  private def respond(p: Prepared, results: Seq[SearchResult]): SearchResponse =
    SearchResponse(results, results.size, (System.nanoTime() - p.t0) / 1e6)

  /** The zero-job path: the tier's driver probe, then the filtered
    * resident view, then the exact rerank. None when the tier has no
    * driver copy or the library is not resident (Spark path). */
  private def localSearch(libraryId: String, p: Prepared): Option[Seq[SearchResult]] =
    for {
      cands <- LocalSearch.candidates(p.state, p.queryVec, p.k)
      view <- if (cands == LocalSearch.Candidates.Empty) Some(Array.empty[ChunkRow])
        else catalog.residentView(libraryId)
    } yield {
      val admitted: ChunkRow => Boolean = cands match {
        case LocalSearch.Candidates.Only(ids) => r => ids.contains(r.id)
        case _ => _ => true
      }
      LocalSearch.topK(view.iterator.filter(r => admitted(r) && p.matches(r)), p.queryVec, p.k)
    }

  private def sparkPlans(libraryId: String, p: Prepared): Seq[SearchResult] = {
    val (queryVec, k) = (p.queryVec, p.k)
    // (5) metadata pre-filter defines the chunk universe
    val universe = catalog.chunksFiltered(libraryId, p.q.metadataFilters)
      .filter(col("embedding").isNotNull)
    p.state match {
      case Some(s) if s.indexType == IndexType.Lsh && s.signatures.isDefined =>
        lshSearch(s, universe, queryVec, k)
      case Some(s) if s.indexType == IndexType.Ivf =>
        ivfSearch(s, universe, queryVec, k)
      case Some(s) if s.indexType == IndexType.Hnsw && s.hnsw.isDefined =>
        exactTopK(universe.filter(col("id").isin(hnswCandidates(s.hnsw.get, queryVec, k): _*)),
          queryVec, k)
      case Some(s) if s.indexType == IndexType.IvfPq =>
        ivfPqSearch(s, universe, queryVec, k)
      case Some(s) if s.indexType == IndexType.Binary && s.signatures.isDefined =>
        binarySearch(s, universe, queryVec, k)
      case _ => // exact index type, or index never built => brute force
        exactTopK(universe, queryVec, k)
    }
  }

  /** Q1 exact: cosine + euclid, deterministic tiebreak (desc score, asc id). */
  private def exactTopK(universe: DataFrame, queryVec: Array[Float], k: Int): Seq[SearchResult] =
    collectResults(universe
      .withColumn("similarity_score", cosine_sim(col("embedding"), typedLit(queryVec)))
      .withColumn("distance", euclidean_dist(col("embedding"), typedLit(queryVec)))
      .orderBy(col("similarity_score").desc, col("id").asc)
      .limit(k))

  /** Q2: bucket-join candidates; an EMPTY CANDIDATE SET falls back to a
    * full scan (indexes.py:151-153 — the fallback fires before the
    * universe membership check, so a non-empty candidate set that the
    * metadata post-filter eliminates correctly returns < k rows, it
    * does NOT fall back). */
  private def lshSearch(state: IndexState, universe: DataFrame,
      queryVec: Array[Float], k: Int): Seq[SearchResult] = {
    val candidates = state.lsh.get.multiProbeCandidates(
      state.signatures.get, queryVec, lshFlips)
    if (candidates.isEmpty) exactTopK(universe, queryVec, k)
    else exactTopK(universe.join(candidates, Seq("id"), "left_semi"), queryVec, k)
  }

  /** Q3: probe nprobe clusters; untrained => empty (indexes.py:343). */
  private def ivfSearch(state: IndexState, universe: DataFrame,
      queryVec: Array[Float], k: Int): Seq[SearchResult] =
    state.ivf match {
      case None => Seq.empty // untrained IVF returns no results
      case Some(model) =>
        val probed = model.candidates(state.assigned.get, queryVec).select("id")
        val candidateChunks = universe.join(probed, Seq("id"), "left_semi")
        exactTopK(candidateChunks, queryVec, k)
    }

  /** IVF-PQ tier: residual-ADC candidate generation over the encoded
    * codes (probe nprobe cells, fetch 4k floor 50), exact cosine
    * rerank over the survivors. Untrained (below the nlist threshold
    * at build) => empty, exactly like plain IVF. */
  private def ivfPqSearch(state: IndexState, universe: DataFrame,
      queryVec: Array[Float], k: Int): Seq[SearchResult] =
    state.ivfpq match {
      case None => Seq.empty // untrained: reference IVF semantics
      case Some(s) =>
        val cands = s.candidatesWith(queryVec,
          nprobe = GraftConfig.ivfNprobe, n = ivfPqFetch(k)).select("id")
        exactTopK(universe.join(cands, Seq("id"), "left_semi"), queryVec, k)
    }

  /** Binary sign-quantization tier: Hamming top-C over the packed
    * signature table (integer distance, id tiebreak — a per-partition
    * heap over 8-byte-per-64-dims rows, the cheapest prefilter scan of
    * any tier), then the shared post-filter + exact-cosine top-k. The
    * candidate set is never empty for a non-empty index (every indexed
    * chunk has a signature), so there is no LSH-style fallback. */
  private def binarySearch(state: IndexState, universe: DataFrame,
      queryVec: Array[Float], k: Int): Seq[SearchResult] = {
    // The count was captured when the cached table was materialized at
    // build/refresh/restore — no Spark job on the search hot path.
    val n = state.sigCount.getOrElse(state.signatures.get.count())
    val qSig = graft.index.BinaryQuant.pack(queryVec)
    val cands = state.signatures.get
      .withColumn("ham", hamming_dist(col("sig"), typedLit(qSig.toSeq)))
      .orderBy(col("ham").asc, col("id").asc)
      .limit(binaryFetch(n, k))
      .select("id")
    exactTopK(universe.join(cands, Seq("id"), "left_semi"), queryVec, k)
  }

  private def collectResults(df: DataFrame): Seq[SearchResult] =
    df.select(col("id"), col("document_id"), col("library_id"), col("text"),
        col("embedding"), col("metadata"), col("created_at"), col("updated_at"),
        col("similarity_score"), col("distance"))
      .collect()
      .map(r => SearchResult(ChunkRow.fromRow(r), r.getDouble(8), r.getDouble(9)))
      .toSeq
}

/** Tier parameters shared by the Spark plans and their driver twins. */
object SearchService {

  /** LSH multi-probe flips: 0 is exactly the reference's single-probe
    * candidates; >0 adds Lv-et-al multi-probe buckets (opt-in,
    * GraftConfig — either the explicit flips knob or the active recall
    * preset). */
  def lshFlips: Int =
    GraftConfig.lshActivePreset.map(_.flips).getOrElse(GraftConfig.lshMultiProbeFlips)

  /** HNSW tier: graph navigation proposes a candidate set (fetch factor
    * 4k, floor 50 — the two-tier contract: graph error is removed by
    * the exact rerank). The graph covers all indexed chunks, so like
    * IVF a selective metadata filter may return < k — the reference's
    * observable post-filter semantics. */
  def hnswCandidates(hs: HnswState, queryVec: Array[Float], k: Int): Seq[String] = {
    val fetch = math.max(4 * k, 50)
    hs.graph.search(queryVec, fetch, ef = math.max(100, fetch))
      .map { case (node, _) => hs.chunkIds(node.toInt) }
  }

  /** IVF-PQ candidate budget: 4k, floor 50. */
  def ivfPqFetch(k: Int): Int = math.max(4 * k, 50)

  /** Binary candidate budget over `n` signatures: n-proportional, since
    * 1-bit/dim signatures lose recall at FIXED C as the corpus grows
    * (measured curve in GraftConfig.binaryCandidateFraction's doc). */
  def binaryFetch(n: Long, k: Int): Int =
    math.max(math.max(4 * k, 64), math.ceil(n * GraftConfig.binaryCandidateFraction).toInt)
}
