package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

import graft.catalog.{Candidates, IndexState, VectorCatalog}
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
 * ([[LocalSearch]]); a larger one (or a tier without a driver copy)
 * runs the Spark plans below. Bad input — a query vector of the wrong dimension or with a
 * non-finite element, an unparseable `created_*` filter — is a
 * Validation error on both, raised before any job or scan.
 */
final class SearchService(catalog: VectorCatalog) {
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
      cands <- p.state.fold[Option[Candidates]](Some(Candidates.All))(s =>
        s.indexType.driverCandidates(s, p.queryVec, p.k))
      view <- if (cands == Candidates.Empty) Some(Array.empty[ChunkRow])
        else catalog.residentView(libraryId)
    } yield {
      val admitted: ChunkRow => Boolean = cands match {
        case Candidates.Ids(ids) => r => ids.contains(r.id)
        case _ => _ => true
      }
      LocalSearch.topK(view.iterator.filter(r => admitted(r) && p.matches(r)), p.queryVec, p.k)
    }

  /** The Spark path: the tier's Spark probe, then the exact rerank over
    * the metadata-filtered universe (step 5) restricted to it. */
  private def sparkPlans(libraryId: String, p: Prepared): Seq[SearchResult] = {
    lazy val universe = catalog.chunksFiltered(libraryId, p.q.metadataFilters)
      .filter(col("embedding").isNotNull)
    (p.state.fold[Candidates](Candidates.All)(s => s.indexType.sparkCandidates(s, p.queryVec, p.k)) match {
      case Candidates.Empty => None
      case Candidates.All => Some(universe)
      case Candidates.Ids(ids) => Some(universe.filter(col("id").isin(ids.toSeq: _*)))
      case Candidates.Plan(ids) => Some(universe.join(ids, Seq("id"), "left_semi"))
    }).fold(Seq.empty[SearchResult])(exactTopK(_, p.queryVec, p.k))
  }

  /** Q1 exact: cosine + euclid, deterministic tiebreak (desc score, asc id). */
  private def exactTopK(universe: DataFrame, queryVec: Array[Float], k: Int): Seq[SearchResult] =
    universe
      .withColumn("similarity_score", cosine_sim(col("embedding"), typedLit(queryVec)))
      .withColumn("distance", euclidean_dist(col("embedding"), typedLit(queryVec)))
      .orderBy(col("similarity_score").desc, col("id").asc)
      .limit(k)
      .select(col("id"), col("document_id"), col("library_id"), col("text"),
        col("embedding"), col("metadata"), col("created_at"), col("updated_at"),
        col("similarity_score"), col("distance"))
      .collect()
      .map(r => SearchResult(ChunkRow.fromRow(r), r.getDouble(8), r.getDouble(9)))
      .toSeq
}
