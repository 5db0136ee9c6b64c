package graft.catalog

import java.sql.Timestamp
import java.util.UUID
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.MetadataFilter
import graft.functions.Embedder
import graft.index.{IvfModel, IvfPqModel, LshModel}
import graft.model._
import graft.search.LocalSearch

/** Index type selector (reference: config.py:25 allows lsh|ivf; exact
  * brute-force is the always-available fallback, SURVEY.md §2.11). */
sealed trait IndexType
object IndexType {
  case object Exact extends IndexType
  case object Lsh extends IndexType
  case object Ivf extends IndexType
  /** Beyond reference parity (config.py:25 knows only lsh|ivf): the
    * graph tier as a first-class selectable index. Additive — a
    * reference client never sends "hnsw", so parity is untouched. */
  case object Hnsw extends IndexType
  /** The composed residual-coded index (IvfPqModel) as a selectable
    * type — 32x-compressed candidate tier behind the same facade.
    * Additive like Hnsw. */
  case object IvfPq extends IndexType
  /** Binary sign-quantization tier (graft.index.BinaryQuant): 1
    * bit/dim packed signatures, Hamming top-C prefilter, exact rerank.
    * Untrained by construction (a stored float's sign is the code), so
    * unlike LSH/IVF there is no model state at all — the index IS the
    * (id, sig) table. Additive like Hnsw. */
  case object Binary extends IndexType
  /** The canonical selectable names (HTTP error messages and docs
    * derive from this — one list, no drift; "flat" stays an accepted
    * alias of exact). */
  val names: Seq[String] = Seq("lsh", "ivf", "exact", "hnsw", "ivfpq", "binary")
  def parse(s: String): Either[ApiError, IndexType] = s.toLowerCase match {
    case "flat" | "exact" => Right(Exact)
    case "lsh" => Right(Lsh)
    case "ivf" => Right(Ivf)
    case "hnsw" => Right(Hnsw)
    case "ivfpq" => Right(IvfPq)
    case "binary" => Right(Binary)
    case other => Left(ApiError.Validation(s"Invalid index type: $other"))
  }
}

/** Built HNSW graph for one library: graph node i holds the vector of
  * chunk `chunkIds(i)` (chunk ids are uuids; the graph keys by dense
  * node index internally). Bounded driver/broadcast state like the
  * LSH/IVF models (HnswModel.maxGraphVectors). */
final case class HnswState(graph: graft.index.HnswModel, chunkIds: Array[String],
    embHashes: Array[Long] = Array.empty)

/** Built IVF-PQ state for one library: the trained composed model —
  * plain residual coding (Left) or the OPQ-rotated variant (Right,
  * GraftConfig.ivfpqUseOpq at build time) — and the encoded
  * (id, cluster_id, codes) table: 8 bytes of codes per chunk vs the
  * full float vector. Both variants share the encode/candidates
  * contract; the helpers below dispatch. */
final case class IvfPqState(
    coded: Either[graft.index.IvfPqModel, graft.index.OpqIvfPqModel],
    encoded: DataFrame) {
  def encodeWith(chunks: DataFrame, idCol: String, embCol: String): DataFrame =
    coded.fold(_.encode(chunks, idCol, embCol), _.encode(chunks, idCol, embCol))
  def candidatesWith(query: Array[Float], nprobe: Int, n: Int): DataFrame =
    coded.fold(_.candidates(encoded, query, nprobe, n),
      _.candidates(encoded, query, nprobe, n))
  /** Driver twin of [[candidatesWith]] over the collected `encoded`. */
  def candidatesLocal(codes: IvfPqModel.LocalCodes, query: Array[Float],
      nprobe: Int, n: Int): Array[String] =
    coded.fold(_.candidatesLocal(codes, query, nprobe, n),
      _.candidatesLocal(codes, query, nprobe, n))
}

/** A tier's derived table collected to the driver (built with the
  * table when the library is under `LocalSearch.maxLibraryFloats`), so
  * the resident read path probes it without a Spark job. */
sealed trait ResidentIndex
object ResidentIndex {
  /** LSH: bucket key -> chunk ids. */
  final case class Buckets(ids: Map[Long, Array[String]]) extends ResidentIndex
  /** IVF: cell -> chunk ids. */
  final case class Cells(ids: Map[Int, Array[String]]) extends ResidentIndex
  /** IVF-PQ / OPQ: (id, cell, codes) rows. */
  final case class Codes(codes: IvfPqModel.LocalCodes) extends ResidentIndex
  /** Binary: (id, packed signature) rows. */
  final case class Sigs(ids: Array[String],
      sigs: Array[org.apache.spark.sql.catalyst.util.ArrayData]) extends ResidentIndex
}

/** One resident library at one catalog version: its folded-base rows
  * and copies of the log entries that can touch them (chunk ids, doc
  * ids and the library's own cascade, its buffered upserts). Base rows
  * predate every tombstone, so each one applies. */
private[catalog] final case class ResidentSnapshot(rows: Array[ChunkRow],
    deadChunks: collection.Set[String], deadDocs: collection.Set[String],
    libraryDeleted: Boolean, fresh: Array[ChunkRow]) {
  def visible: Array[ChunkRow] = {
    val kept =
      if (libraryDeleted) Array.empty[ChunkRow]
      else if (deadChunks.isEmpty && deadDocs.isEmpty) rows
      else rows.filter(r => !deadChunks.contains(r.id) && !deadDocs.contains(r.document_id))
    if (fresh.isEmpty) kept else kept ++ fresh
  }
}

/** Versioned per-library index state: the Spark-native replacement for
  * the reference's mutable `IndexManager` registry + locks
  * (library_service.py:18, concurrency.py). DataFrames are immutable, so
  * "locking" reduces to an atomic swap of this state. */
final case class IndexState(
    indexType: IndexType,
    signatures: Option[DataFrame],   // LSH: (id, bucket); Binary: (id, sig, emb_hash)
    assigned: Option[DataFrame],     // IVF: chunks + cluster_id
    lsh: Option[LshModel],
    ivf: Option[IvfModel],
    builtAtVersion: Long,
    hnsw: Option[HnswState] = None,  // HNSW: graph + node->chunk-id map
    ivfpq: Option[IvfPqState] = None, // IVF-PQ: model + encoded codes
    // Binary: signature row count, captured from the count() that
    // materializes the cache at build/refresh/restore — sizes the
    // n-proportional candidate budget WITHOUT a per-search Spark job
    sigCount: Option[Long] = None,
    // driver copy of the derived table for the resident read path
    resident: Option[ResidentIndex] = None)

/**
 * Driver-side catalog + chunk store for the Library -> Document -> Chunk
 * hierarchy. Libraries and documents are driver-side registries (they
 * are tiny dimension data — thousands of entries); chunks are a
 * DataFrame (the 100 TB side) behind a log-structured write path:
 * mutations buffer on the driver (upserts + tombstones), reads see
 * base -> tombstone filter -> union(buffer), and compaction folds the
 * log into a fresh base. Cascade semantics match storage.py:67-90
 * (library cascade) and :137-161 (document cascade).
 *
 * Duplicate-id create overwrites (dict-set semantics, storage.py:40,
 * 105, 182); updates with None/absent fields leave fields unchanged
 * (library_service.py:66-69).
 */
final class VectorCatalog(val spark: SparkSession,
    val embedder: Embedder = Embedder.default,
    val embeddingDim: Int = 64) {
  import spark.implicits._
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[VectorCatalog])

  private val libraries = new TrieMap[String, LibraryRow]()
  private val documents = new TrieMap[String, DocumentRow]()
  private val indexes = new TrieMap[String, IndexState]()
  private val version = new java.util.concurrent.atomic.AtomicLong(0L)

  // ---- chunk write path: a driver-side mutation log over a stable base.
  // The reference mutates dicts in O(1) (storage.py:175-249); the Spark
  // analog is NOT one plan rewrite per CRUD op (lineage grows without
  // bound) but a write BUFFER: upserted rows and tombstone id-sets live
  // on the driver, the read view is base -> anti-tombstone filter ->
  // union of buffered rows, and compaction periodically folds the log
  // into a fresh checkpointed base. Mutations are O(1) driver work;
  // the view plan depth is constant.
  private val stateLock = new Object
  private var base: DataFrame = emptyChunks
  private val upserts = scala.collection.mutable.LinkedHashMap.empty[String, ChunkRow]
  private val chunkTombstones = scala.collection.mutable.HashSet.empty[String]
  // Cascade tombstones are sequence-stamped (id -> mutationSeq at delete)
  // so they hide only data that existed at delete time: a streamed batch
  // appended AFTER a delete+re-create of the same library/document id
  // must NOT be filtered by the earlier tombstone. chunk-id tombstones
  // stay global: they implement upsert-wins (hide any older copy of a
  // re-written id), which IS retroactive by design.
  private val docTombstones = scala.collection.mutable.HashMap.empty[String, Long]
  private val libTombstones = scala.collection.mutable.HashMap.empty[String, Long]
  private var streamedAppends = Vector.empty[(DataFrame, Long)] // (batch, seq at append)
  private var mutationSeq = 0L
  private var mutationsSinceCompact = 0

  // ---- driver-resident read path (graft.search.LocalSearch): the
  // folded-base rows of each small library, collected on its first
  // search (after a count says they fit) and carried through folds, so
  // only `load` drops them. Reads copy the log entries that touch a
  // library under stateLock, as assembleView does, and overlay them
  // outside it, so writes never force a re-collect. None marks a
  // library that does not fit this epoch. `admitting` maps a library
  // to the epoch its count and collect are running for: concurrent
  // first searches wait for that admission instead of issuing their
  // own jobs. All guarded by stateLock.
  private var baseEpoch = 0L
  private val residentRows = scala.collection.mutable.LinkedHashMap.empty[String, Option[Array[ChunkRow]]]
  private val residentById = scala.collection.mutable.HashMap.empty[String, ChunkRow]
  private val admitting = scala.collection.mutable.HashMap.empty[String, Long]
  private var residentFloats = 0L

  private def emptyChunks: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.chunks)

  private def now(): Timestamp = new Timestamp(System.currentTimeMillis())
  private def newId(): String = UUID.randomUUID().toString

  /** Immutable snapshot of the chunk table (base + buffered log). */
  def chunks: DataFrame = stateLock.synchronized(assembleView())
  def currentVersion: Long = version.get()

  // ---------------------------------------------------------------- library
  def createLibrary(name: String, description: Option[String] = None,
      metadata: Map[String, String] = Map.empty,
      indexType: String = "lsh", id: Option[String] = None): Either[ApiError, LibraryRow] =
    IndexType.parse(indexType).map { it =>
      val t = now()
      val row = LibraryRow(id.getOrElse(newId()), name, description, metadata,
        is_indexed = false, created_at = t, updated_at = t)
      libraries.put(row.id, row)
      indexes.put(row.id, IndexState(it, None, None, None, None, -1L))
      row
    }

  def getLibrary(id: String): Either[ApiError, LibraryRow] =
    libraries.get(id).toRight(ApiError.NotFound(s"Library $id not found"))

  def listLibraries(): Seq[LibraryRow] = libraries.values.toSeq.sortBy(_.id)

  def updateLibrary(id: String, name: Option[String] = None,
      description: Option[String] = None,
      metadata: Option[Map[String, String]] = None): Either[ApiError, LibraryRow] =
    getLibrary(id).map { lib =>
      val updated = lib.copy(
        name = name.getOrElse(lib.name),
        description = description.orElse(lib.description),
        metadata = metadata.getOrElse(lib.metadata),
        updated_at = now())
      libraries.put(id, updated)
      updated
    }

  /** Cascade: documents and chunks of the library go too (storage.py:67-90). */
  def deleteLibrary(id: String): Either[ApiError, Unit] =
    getLibrary(id).map { _ =>
      libraries.remove(id)
      indexes.remove(id)
      documents.filterInPlace { case (_, d) => d.library_id != id }
      mutate {
        upserts.filterInPlace((_, c) => c.library_id != id)
        libTombstones(id) = mutationSeq
      }
    }

  // --------------------------------------------------------------- document
  def createDocument(libraryId: String, name: String,
      description: Option[String] = None,
      metadata: Map[String, String] = Map.empty,
      id: Option[String] = None): Either[ApiError, DocumentRow] =
    getLibrary(libraryId).map { _ =>
      val t = now()
      val row = DocumentRow(id.getOrElse(newId()), libraryId, name, description, metadata, t, t)
      documents.put(row.id, row)
      row
    }

  def getDocument(id: String): Either[ApiError, DocumentRow] =
    documents.get(id).toRight(ApiError.NotFound(s"Document $id not found"))

  def listDocuments(libraryId: String): Seq[DocumentRow] =
    documents.values.filter(_.library_id == libraryId).toSeq.sortBy(_.id)

  def updateDocument(id: String, name: Option[String] = None,
      description: Option[String] = None,
      metadata: Option[Map[String, String]] = None): Either[ApiError, DocumentRow] =
    getDocument(id).map { doc =>
      val updated = doc.copy(
        name = name.getOrElse(doc.name),
        description = description.orElse(doc.description),
        metadata = metadata.getOrElse(doc.metadata),
        updated_at = now())
      documents.put(id, updated)
      updated
    }

  /** Cascade: the document's chunks go too (storage.py:137-161). */
  def deleteDocument(id: String): Either[ApiError, Unit] =
    getDocument(id).map { _ =>
      documents.remove(id)
      mutate {
        upserts.filterInPlace((_, c) => c.document_id != id)
        docTombstones(id) = mutationSeq
      }
    }

  /** Equality-only metadata filter over documents (document_service.py:117-143). */
  def documentsByMetadata(libraryId: String, filters: Map[String, String]): Seq[DocumentRow] =
    listDocuments(libraryId).filter(d => filters.forall { case (k, v) => d.metadata.get(k).contains(v) })

  // ------------------------------------------------------------------ chunk
  /** Create with embed-at-insert (chunk_service.py:22-54). */
  def createChunk(documentId: String, text: String,
      metadata: Map[String, String] = Map.empty,
      embedding: Option[Array[Float]] = None,
      id: Option[String] = None): Either[ApiError, ChunkRow] =
    getDocument(documentId).map { doc =>
      val t = now()
      val emb = embedding.orElse(Some(embedder.embedOne(text)))
      val row = ChunkRow(id.getOrElse(newId()), documentId, doc.library_id, text, emb, metadata, t, t)
      appendChunks(Seq(row))
      row
    }

  /** Bulk create for batch ingest — single union, one embed pass. */
  def createChunks(documentId: String, items: Seq[(String, Map[String, String])]): Either[ApiError, Seq[ChunkRow]] =
    getDocument(documentId).map { doc =>
      val t = now()
      val embs = embedder.embed(items.map(_._1))
      val rows = items.zip(embs).map { case ((text, meta), emb) =>
        ChunkRow(newId(), documentId, doc.library_id, text, Some(emb), meta, t, t)
      }
      appendChunks(rows)
      rows
    }

  def getChunk(id: String): Either[ApiError, ChunkRow] = {
    // O(1) fast path: a recently-written row lives in the driver buffer
    // (already consistent with later deletes); a tombstoned id that is
    // NOT buffered was deleted; a folded row of a resident library is
    // read through the same cascade overlay. Only base rows of
    // non-resident libraries need a scan.
    val notFound = Left(ApiError.NotFound(s"Chunk $id not found"))
    val buffered = stateLock.synchronized {
      if (upserts.contains(id)) Some(Right(upserts(id)))
      else if (chunkTombstones.contains(id)) Some(notFound)
      else if (streamedAppends.nonEmpty) None
      else residentById.get(id).map(r =>
        if (docTombstones.contains(r.document_id) || libTombstones.contains(r.library_id)) notFound
        else Right(r))
    }
    buffered.getOrElse {
      val hits = chunks.filter($"id" === id).as[ChunkRow].collect()
      hits.headOption.toRight(ApiError.NotFound(s"Chunk $id not found"))
    }
  }

  /** Update; text change re-embeds (chunk_service.py:81-98); absent
    * fields unchanged (PATCH semantics). */
  def updateChunk(id: String, text: Option[String] = None,
      metadata: Option[Map[String, String]] = None): Either[ApiError, ChunkRow] =
    getChunk(id).map { old =>
      val t = now()
      val updated = old.copy(
        text = text.getOrElse(old.text),
        embedding = text.map(tx => embedder.embedOne(tx)).orElse(old.embedding),
        metadata = metadata.getOrElse(old.metadata),
        updated_at = t)
      appendChunks(Seq(updated)) // upsert: buffers the row, tombstones the old
      updated
    }

  def deleteChunk(id: String): Either[ApiError, Unit] =
    getChunk(id).map { _ =>
      mutate {
        upserts.remove(id)
        chunkTombstones += id
      }
    }

  def chunksByDocument(documentId: String): DataFrame =
    chunks.filter($"document_id" === documentId)

  def chunksByLibrary(libraryId: String): DataFrame =
    chunks.filter($"library_id" === libraryId)

  /** Exact-equality metadata filter over chunks (chunk_service.py:154-177). */
  def chunksByMetadata(libraryId: String, filters: Map[String, String]): DataFrame =
    filters.foldLeft(chunksByLibrary(libraryId)) { case (df, (k, v)) =>
      df.filter(element_at($"metadata", k).isNotNull && element_at($"metadata", k) === v)
    }

  /** Rich-filter variant used by search (F1 forms, search_service.py:155-197). */
  def chunksFiltered(libraryId: String, filters: Map[String, String]): DataFrame =
    chunksByLibrary(libraryId)
      .filter(MetadataFilter.compile(filters, $"metadata", $"created_at"))

  /** The library's chunk rows at one catalog version, served from the
    * driver: the resident base rows minus chunk/cascade tombstones plus
    * the library's buffered upserts — the rows `chunksByLibrary` would
    * scan. The first call after `load`, or for a library no fold
    * carried, counts the library's base rows and collects them only
    * when they fit: a library over the cap costs the driver one number,
    * never its rows. One caller per library and epoch runs those jobs;
    * the others wait for it. None when the library must take the Spark
    * path: it exceeds the resident cap or budget, or streamed batches
    * are pending. */
  private[graft] def residentView(libraryId: String): Option[Array[ChunkRow]] = {
    val found = stateLock.synchronized {
      var s = snapshot(libraryId)
      while (s.isLeft && admitting.get(libraryId).contains(baseEpoch)) {
        stateLock.wait()
        s = snapshot(libraryId)
      }
      s.swap.foreach { case (_, epoch) => admitting(libraryId) = epoch }
      s
    }
    val snap = found match {
      case Right(s) => s
      case Left((b, epoch)) => admit(libraryId, b, epoch)
    }
    snap.map(_.visible).filter(v => LocalSearch.fits(v.length, embeddingDim))
  }

  /** Count and collect one library's base rows outside the lock
    * (writers keep going), then admit them unless a fold replaced the
    * base meanwhile; wakes the callers waiting for this admission. */
  private def admit(libraryId: String, b: DataFrame, epoch: Long): Option[ResidentSnapshot] =
    try {
      val libRows = b.filter($"library_id" === libraryId)
      val n = rowCount(libRows)
      val rows =
        if (stateLock.synchronized(admissible(n))) Some(libRows.collect().map(ChunkRow.fromRow))
        else None
      stateLock.synchronized {
        if (baseEpoch == epoch && !residentRows.contains(libraryId))
          install(libraryId, rows.filter(_ => admissible(n)))
        snapshot(libraryId).toOption.flatten
      }
    } finally stateLock.synchronized {
      if (admitting.get(libraryId).contains(epoch)) admitting.remove(libraryId)
      stateLock.notifyAll()
    }

  /** Under stateLock: `n` more rows fit the per-library cap and the
    * catalog-wide budget. */
  private def admissible(n: Long): Boolean = LocalSearch.fits(n, embeddingDim) &&
    residentFloats + n * embeddingDim <= LocalSearch.maxResidentFloats

  /** Under stateLock: `rows` (None: the Spark path) become the
    * library's resident snapshot for this epoch. */
  private def install(libraryId: String, rows: Option[Array[ChunkRow]]): Unit = {
    residentRows(libraryId) = rows
    rows.foreach { rs =>
      residentFloats += rs.length.toLong * embeddingDim
      rs.foreach(r => residentById(r.id) = r)
    }
  }

  /** Under stateLock: Right(the library's resident snapshot, or None
    * for the Spark path), or Left(the base to collect and its epoch)
    * when the library has not been collected this epoch. Copies only
    * the log entries: the per-row filtering runs outside the lock. */
  private def snapshot(libraryId: String): Either[(DataFrame, Long), Option[ResidentSnapshot]] =
    if (streamedAppends.nonEmpty) Right(None)
    else residentRows.get(libraryId) match {
      case None => Left((base, baseEpoch))
      case Some(rows) => Right(rows.map(overlay(libraryId, _, chunkTombstones.toSet,
        docTombstones.keySet.toSet)))
    }

  /** Under stateLock: `rows` with the library's own log entries. */
  private def overlay(libraryId: String, rows: Array[ChunkRow],
      deadChunks: collection.Set[String], deadDocs: collection.Set[String]): ResidentSnapshot =
    ResidentSnapshot(rows, deadChunks, deadDocs, libTombstones.contains(libraryId),
      upserts.valuesIterator.filter(_.library_id == libraryId).toArray)

  private def dropResident(): Unit = {
    baseEpoch += 1
    residentRows.clear()
    residentById.clear()
    residentFloats = 0L
  }

  /** `df`'s rows when it holds at most `maxRows`, else None. The count
    * job comes first, so an over-cap table never reaches the driver. */
  private def collectBounded(df: DataFrame, maxRows: Long): Option[Array[Row]] =
    if (rowCount(df) > maxRows) None else Some(df.collect())

  /** `df.count()` in ONE job: no aggregation exchange (which adaptive
    * execution runs as a job of its own), no row conversion. */
  private def rowCount(df: DataFrame): Long =
    df.select(lit(1)).queryExecution.toRdd.count()

  /** `s` with its driver copy: reused from `prior` when the derived
    * table is the same object, else collected when under the cap. */
  private def withResident(s: IndexState, prior: Option[IndexState] = None): IndexState = {
    def same(a: Option[AnyRef], b: Option[AnyRef]) = (a, b) match {
      case (Some(x), Some(y)) => x eq y
      case (None, None) => true
      case _ => false
    }
    prior.filter(p => p.indexType == s.indexType && same(p.signatures, s.signatures) &&
        same(p.assigned, s.assigned) && same(p.ivfpq.map(_.encoded), s.ivfpq.map(_.encoded)))
      .map(p => s.copy(resident = p.resident))
      .getOrElse(s.copy(resident = residentIndexOf(s)))
  }

  private def residentIndexOf(s: IndexState): Option[ResidentIndex] = {
    val maxRows = LocalSearch.maxRows(embeddingDim).toLong
    def cell(r: Row, i: Int): Int = r.getAs[Number](i).intValue
    s.indexType match {
      case IndexType.Lsh => for {
        m <- s.lsh; sigs <- s.signatures
        rows <- collectBounded(sigs.select("id", "bucket"), maxRows * m.numTables)
      } yield {
        // one String per chunk, not one per (chunk, table): the ids
        // dominate this table's heap
        val canon = scala.collection.mutable.HashMap.empty[String, String]
        ResidentIndex.Buckets(rows.groupMap(_.getLong(1)) { r =>
          val id = r.getString(0)
          canon.getOrElseUpdate(id, id)
        }.map { case (b, ids) => b -> ids.toArray })
      }
      case IndexType.Ivf => for {
        _ <- s.ivf; assigned <- s.assigned
        rows <- collectBounded(assigned.select("id", "cluster_id"), maxRows)
      } yield ResidentIndex.Cells(
        rows.groupMap(cell(_, 1))(_.getString(0)).map { case (c, ids) => c -> ids.toArray })
      case IndexType.IvfPq => for {
        p <- s.ivfpq
        rows <- collectBounded(p.encoded.select("id", "cluster_id", "codes"), maxRows)
      } yield ResidentIndex.Codes(IvfPqModel.LocalCodes(rows.map(_.getString(0)),
        rows.map(cell(_, 1)), rows.map(_.getSeq[Int](2).toArray)))
      case IndexType.Binary => for {
        sigs <- s.signatures
        rows <- collectBounded(sigs.select("id", "sig"), maxRows)
      } yield ResidentIndex.Sigs(rows.map(_.getString(0)), rows.map(r =>
        org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
          .fromPrimitiveArray(r.getSeq[Long](1).toArray)))
      case _ => None
    }
  }

  // ------------------------------------------------------------------ index
  /** Build/rebuild a library's index (libraries POST /{id}/index;
    * library_service.py:120-158 / M5-M7). */
  def indexLibrary(libraryId: String, indexType: String): Either[ApiError, IndexState] =
    for {
      _ <- getLibrary(libraryId)
      it <- IndexType.parse(indexType)
      state <- {
        val libChunks = chunksByLibrary(libraryId).filter($"embedding".isNotNull)
        it match {
          case IndexType.Exact =>
            Right(IndexState(it, None, None, None, None, version.get()))
          case IndexType.Lsh =>
            // Reference-parity sizing by default (8x12, config.py:29-30);
            // an active recall preset (GraftConfig.lshActivePreset,
            // measured in RECALL.md) overrides tables x bits opt-in.
            val model = GraftConfig.lshActivePreset match {
              case Some(p) => LshModel(numTables = p.numTables,
                bitsPerTable = p.bitsPerTable, dim = embeddingDim)
              case None => LshModel(dim = embeddingDim)
            }
            val sigs = model.build(libChunks, "id", "embedding").cache()
            sigs.count() // materialize now: the build is the batch job
            Right(IndexState(it, Some(sigs), None, Some(model), None, version.get()))
          case IndexType.Ivf =>
            Right(IvfModel.trainIfReady(libChunks, "embedding") match {
              case Some(model) =>
                val assigned = model.assign(libChunks, "embedding").cache()
                assigned.count()
                IndexState(it, None, Some(assigned), None, Some(model), version.get())
              case None => // below training threshold: index exists, untrained
                IndexState(it, None, None, None, None, version.get())
            })
          case IndexType.Hnsw =>
            // the graph is bounded driver/broadcast state BY DESIGN —
            // refuse loudly past the cap instead of silently indexing
            // a truncated subset (LSH/IVF/IVF-PQ cover every chunk and
            // are the right tiers at that scale)
            val n = libChunks.count()
            if (n > graft.index.HnswModel.maxGraphVectors)
              Left(ApiError.Validation(
                s"hnsw index holds bounded graph state: $n chunks > " +
                  s"${graft.index.HnswModel.maxGraphVectors}; use ivf or ivfpq"))
            else Right(IndexState(it, None, None, None, None, version.get(),
              hnsw = buildHnswState(libChunks)))
          case IndexType.IvfPq =>
            Right(IndexState(it, None, None, None, None, version.get(),
              ivfpq = buildIvfPqState(libChunks)))
          case IndexType.Binary =>
            // no training, no model: the signature table IS the index —
            // 8 bytes/64-dims/row, the Hamming prefilter's whole scan.
            // emb_hash rides along for the (id, emb_hash) reconcile.
            val sigs = buildBinarySignatures(libChunks).cache()
            val n = sigs.count()
            Right(IndexState(it, Some(sigs), None, None, None, version.get(),
              sigCount = Some(n)))
        }
      }
    } yield {
      val built = withResident(state)
      indexes.put(libraryId, built)
      libraries.get(libraryId).foreach(l =>
        libraries.put(libraryId, l.copy(is_indexed = true, updated_at = now())))
      built
    }

  def indexState(libraryId: String): Option[IndexState] = indexes.get(libraryId)

  /**
   * Incremental index maintenance (reference M1-M4/M8: per-chunk
   * add/remove without retraining — indexes.py:103-135, 310-338;
   * k-means is trained once and never retrained after, indexes.py:280).
   * Spark-native shape: the delta between the current chunk table and
   * the built index is reconciled with one anti-join (deletes) and one
   * append of newly-embedded rows (inserts). IVF assigns new rows with
   * the EXISTING centroids, faithfully preserving the never-retrain
   * semantics; LSH hyperplanes are stateless so appends are exact.
   */
  def refreshIndex(libraryId: String): Either[ApiError, IndexState] =
    getLibrary(libraryId).map { _ =>
      val state = indexes(libraryId)
      val libChunks = chunksByLibrary(libraryId).filter($"embedding".isNotNull)
      // Reconcile on (id, emb_hash), not id alone: a chunk updated with
      // new text is re-embedded under the SAME id, and an id-only
      // semi-join would keep its stale index rows (old bucket / cell /
      // codes) — silent recall loss for updated chunks. The hash pair
      // turns an embedding change into delete+insert. Tables persisted
      // before emb_hash existed fall back to id-only reconcile.
      val liveKeys = libChunks.select($"id", xxhash64($"embedding").as("emb_hash"))
      def keysOf(current: DataFrame): Seq[String] =
        if (current.columns.contains("emb_hash")) Seq("id", "emb_hash") else Seq("id")
      def changedOrNew(current: DataFrame): DataFrame =
        libChunks.withColumn("emb_hash", xxhash64($"embedding"))
          .join(current.select(keysOf(current).map(col): _*).distinct(),
            keysOf(current), "left_anti")
          .drop("emb_hash")
      val refreshed = state.indexType match {
        case IndexType.Lsh if state.lsh.isDefined =>
          val model = state.lsh.get
          val current = state.signatures.get
          // re-select in the original column order: a using-columns
          // semi-join moves the join keys first, and letting the
          // signature schema drift across refreshes would make
          // refreshed and freshly-built indexes structurally unequal
          val kept = current.join(liveKeys, keysOf(current), "left_semi")
            .select(current.columns.map(col).toIndexedSeq: _*)
          val sigs = kept.unionByName(
            model.build(changedOrNew(current), "id", "embedding"),
            allowMissingColumns = true).cache()
          sigs.count()
          state.signatures.foreach(_.unpersist())
          state.copy(signatures = Some(sigs), builtAtVersion = version.get())
        case IndexType.Ivf if state.ivf.isDefined =>
          val model = state.ivf.get
          // assigned carries the embedding itself, so its hash is
          // computed on the fly rather than stored
          val current = state.assigned.get
            .withColumn("emb_hash", xxhash64($"embedding"))
          val kept = current.join(liveKeys, Seq("id", "emb_hash"), "left_semi")
            .drop("emb_hash")
            .select(state.assigned.get.columns.map(col).toIndexedSeq: _*)
          val assigned = kept.unionByName(
            model.assign(changedOrNew(current), "embedding")).cache()
          assigned.count()
          state.assigned.foreach(_.unpersist())
          state.copy(assigned = Some(assigned), builtAtVersion = version.get())
        case IndexType.Ivf => // built below nlist: train now if the chunk
          // count has crossed the threshold (reference trains
          // automatically once size reaches nlist, indexes.py:280)
          IvfModel.trainIfReady(libChunks, "embedding") match {
            case Some(model) =>
              val assigned = model.assign(libChunks, "embedding").cache()
              assigned.count()
              state.copy(assigned = Some(assigned), ivf = Some(model),
                builtAtVersion = version.get())
            case None => state.copy(builtAtVersion = version.get())
          }
        case IndexType.Hnsw =>
          // Additions-only refresh INSERTS into the existing graph
          // (HnswModel.insertAll — the paper's insert IS the build
          // step, and continuing the seeded level sequence keeps the
          // result deterministic: O(new·log n) instead of the full
          // O(n log n) driver rebuild, 417 s at the 200k cap). Any
          // delete or update (detected via the same (id, emb_hash)
          // key the other tiers reconcile on) still REBUILDS — graph
          // unlinking is outside the paper's contract and tombstones
          // decay recall silently. A library grown past the cap keeps
          // its last complete graph rather than silently truncating
          // (indexLibrary refuses outright). NOTE: inserted chunk ids
          // need not sort after existing ones, so an insert-refreshed
          // graph can differ from a from-scratch rebuild of the same
          // corpus (insertion order is build state); it is still a
          // deterministic function of the refresh history, which is
          // the contract searches rely on.
          val n = libChunks.count()
          if (n > graft.index.HnswModel.maxGraphVectors) {
            log.warn(s"library $libraryId grew past the hnsw graph cap " +
              s"($n > ${graft.index.HnswModel.maxGraphVectors}); keeping the " +
              "previous graph — reindex as ivf/ivfpq")
            state.copy(builtAtVersion = version.get())
          } else {
            val prior = state.hnsw
            val live = collectHnswRows(libChunks)
            val liveByKey = live.map(r => (r._1, r._3)).toMap
            val additionsOnly = prior.exists(s =>
              s.embHashes.length == s.chunkIds.length &&
                s.chunkIds.indices.forall(i =>
                  liveByKey.get(s.chunkIds(i)).contains(s.embHashes(i))))
            if (additionsOnly) {
              val s = prior.get
              val known = s.chunkIds.toSet
              val fresh = live.filterNot(r => known(r._1))
              if (fresh.isEmpty) state.copy(builtAtVersion = version.get())
              else {
                val base = s.graph.size
                val g = s.graph.insertAll(
                  Array.tabulate(fresh.length)(j => (base + j).toLong),
                  fresh.map(_._2))
                state.copy(hnsw = Some(HnswState(g,
                    s.chunkIds ++ fresh.map(_._1),
                    s.embHashes ++ fresh.map(_._3))),
                  builtAtVersion = version.get())
              }
            } else state.copy(hnsw = buildHnswState(libChunks),
              builtAtVersion = version.get())
          }
        case IndexType.IvfPq if state.ivfpq.isDefined =>
          // never-retrain semantics, like IVF: new OR re-embedded chunks
          // encode with the EXISTING centroids + codebooks; deletes and
          // stale (id, old-embedding) rows drop via the (id, emb_hash)
          // semi-join against live keys
          val s = state.ivfpq.get
          val kept = s.encoded.join(liveKeys, keysOf(s.encoded), "left_semi")
          val enc = kept.unionByName(
            s.encodeWith(changedOrNew(s.encoded), "id", "embedding"),
            allowMissingColumns = true).cache()
          enc.count()
          s.encoded.unpersist()
          state.copy(ivfpq = Some(s.copy(encoded = enc)),
            builtAtVersion = version.get())
        case IndexType.IvfPq => // below threshold at build: train if ready
          state.copy(ivfpq = buildIvfPqState(libChunks),
            builtAtVersion = version.get())
        case IndexType.Binary if state.signatures.isDefined =>
          // stateless codes, like LSH hyperplanes: appends are exact;
          // deletes and re-embedded chunks drop via (id, emb_hash)
          val current = state.signatures.get
          val kept = current.join(liveKeys, keysOf(current), "left_semi")
            .select(current.columns.map(col).toIndexedSeq: _*)
          val sigs = kept.unionByName(
            buildBinarySignatures(changedOrNew(current)),
            allowMissingColumns = true).cache()
          val nSigs = sigs.count()
          state.signatures.foreach(_.unpersist())
          state.copy(signatures = Some(sigs), builtAtVersion = version.get(),
            sigCount = Some(nSigs))
        case IndexType.Binary => // restored from WAL without state: full build
          val sigs = buildBinarySignatures(libChunks).cache()
          val nSigs = sigs.count()
          state.copy(signatures = Some(sigs), builtAtVersion = version.get(),
            sigCount = Some(nSigs))
        case _ => // exact or never-built LSH index: nothing derived to refresh
          state.copy(builtAtVersion = version.get())
      }
      val withCopy = withResident(refreshed, Some(state))
      indexes.put(libraryId, withCopy)
      withCopy
    }

  /** The binary tier's signature table: (id, sig, emb_hash) — sig is
    * the packed sign bits (ceil(dim/64) longs), emb_hash the reconcile
    * key shared with the other tiers. */
  private def buildBinarySignatures(libChunks: DataFrame): DataFrame =
    libChunks.select($"id",
      graft.functions.GraftFunctions.sign_bits($"embedding").as("sig"),
      xxhash64($"embedding").as("emb_hash"))

  /** Train the composed IVF-PQ index over the library's embedded
    * chunks: coarse centroids + residual codebooks (trained once,
    * reference trigger semantics — n >= nlist, indexes.py:280), then
    * encode every chunk to (cluster_id, codes). None below the
    * training threshold (searches return empty, matching untrained
    * IVF). `m` adapts to the embedding dimension (largest power of two
    * <= 8 dividing it). */
  private def buildIvfPqState(libChunks: DataFrame): Option[IvfPqState] = {
    val n = libChunks.count()
    if (n < GraftConfig.ivfNlist) None
    else {
      val m = Seq(8, 4, 2, 1).find(embeddingDim % _ == 0).get
      val coded: Either[graft.index.IvfPqModel, graft.index.OpqIvfPqModel] =
        if (GraftConfig.ivfpqUseOpq)
          Right(graft.index.OpqIvfPqModel.train(libChunks, "embedding", m = m))
        else
          Left(graft.index.IvfPqModel.train(libChunks, "embedding", m = m))
      val state = IvfPqState(coded, spark.emptyDataFrame)
      val encoded = state.encodeWith(libChunks, "id", "embedding").cache()
      encoded.count()
      Some(state.copy(encoded = encoded))
    }
  }

  /** Collect the library's embedded chunks (id order => deterministic
    * graph) and build the HNSW graph over dense node indexes, keeping
    * the node->chunk-id map alongside. None when nothing is embedded. */
  private def buildHnswState(libChunks: DataFrame): Option[HnswState] = {
    val rows = collectHnswRows(libChunks)
    if (rows.isEmpty) None
    else {
      val ids = rows.map(_._1)
      val vecs = rows.map(_._2)
      Some(HnswState(graft.index.HnswModel.fromVectors(
        Array.tabulate(ids.length)(_.toLong), vecs), ids, rows.map(_._3)))
    }
  }

  /** (chunkId, embedding, embHash) sorted by chunk id — the graph's
    * deterministic insertion order; the hash is the same
    * xxhash64(embedding) the (id, emb_hash) reconcile key uses, kept
    * in HnswState so a refresh can tell pure additions apart from
    * updates/deletes without storing raw embeddings twice. */
  private def collectHnswRows(libChunks: DataFrame): Array[(String, Array[Float], Long)] =
    libChunks
      .select($"id", $"embedding".cast("array<float>"),
        xxhash64($"embedding".cast("array<float>")).as("emb_hash"))
      .orderBy($"id")
      .limit(graft.index.HnswModel.maxGraphVectors)
      .collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray, r.getLong(2)))

  /** True when chunk mutations occurred after the index build. */
  def indexStale(libraryId: String): Boolean =
    indexes.get(libraryId).exists(s => s.builtAtVersion < version.get() && s.builtAtVersion >= 0)

  // ------------------------------------------------------------------ stats
  /** Entity counts (storage.py:253-265 — defined there, never routed). */
  def stats(): Map[String, Long] = Map(
    "libraries" -> libraries.size.toLong,
    "documents" -> documents.size.toLong,
    "chunks" -> chunks.count())

  /** Orphan checks (storage.py:278-306) as anti-joins. */
  def validateRelationships(): Map[String, Long] = {
    val docIds = documents.keys.toSeq.toDF("id")
    val libIds = libraries.keys.toSeq.toDF("id")
    val orphanChunks = chunks.join(docIds, chunks("document_id") === docIds("id"), "left_anti").count()
    val orphanDocs = documents.values.count(d => !libraries.contains(d.library_id)).toLong
    Map("orphan_chunks" -> orphanChunks, "orphan_documents" -> orphanDocs)
  }

  // ------------------------------------------------------------- internals
  private def chunkToRow(c: ChunkRow): Row = Row(
    c.id, c.document_id, c.library_id, c.text,
    c.embedding.orNull, c.metadata, c.created_at, c.updated_at)

  /** Upsert: duplicate-id create OVERWRITES (dict-set parity,
    * storage.py:40/105/182) — the buffer keys by id and the tombstone
    * hides any base-resident row with the same id. O(1), no Spark job. */
  private def appendChunks(rows: Seq[ChunkRow]): Unit =
    mutate {
      rows.foreach { r =>
        upserts(r.id) = r
        chunkTombstones += r.id
      }
    }

  // ---- WAL replay hooks (DurableCatalog). Replay must reproduce the
  // EXACT post-op state, so these restore logged results verbatim —
  // no id/timestamp generation, no existence-check Spark jobs — while
  // still flowing through `mutate` so staleness versions and
  // compaction behave as in the original run.
  private[graft] def restoreLibrary(row: LibraryRow, indexType: Option[IndexType]): Unit = {
    libraries.put(row.id, row)
    indexType.foreach { it =>
      if (!indexes.contains(row.id))
        indexes.put(row.id, IndexState(it, None, None, None, None, -1L))
    }
  }
  private[graft] def restoreDocument(row: DocumentRow): Unit =
    documents.put(row.id, row)
  private[graft] def restoreChunks(rows: Seq[ChunkRow]): Unit =
    appendChunks(rows)
  private[graft] def restoreDeleteLibrary(id: String): Unit = {
    libraries.remove(id)
    indexes.remove(id)
    documents.filterInPlace { case (_, d) => d.library_id != id }
    mutate {
      upserts.filterInPlace((_, c) => c.library_id != id)
      libTombstones(id) = mutationSeq
    }
  }
  private[graft] def restoreDeleteDocument(id: String): Unit = {
    documents.remove(id)
    mutate {
      upserts.filterInPlace((_, c) => c.document_id != id)
      docTombstones(id) = mutationSeq
    }
  }
  private[graft] def restoreDeleteChunk(id: String): Unit =
    mutate {
      upserts.remove(id)
      chunkTombstones += id
    }
  private[graft] def indexTypeOf(libraryId: String): Option[IndexType] =
    indexes.get(libraryId).map(_.indexType)

  /** Apply a buffered mutation under the state lock, bump the index-
    * staleness version, and fold the log when it crosses the threshold. */
  private def mutate(f: => Unit): Unit = stateLock.synchronized {
    mutationSeq += 1
    f
    version.incrementAndGet()
    mutationsSinceCompact += 1
    if (mutationsSinceCompact >= compactEvery) compactLocked()
  }

  private val compactEvery = 64

  /** The read view: base minus tombstones, plus streamed batches, plus
    * buffered upserts. Constant plan depth regardless of CRUD history.
    * Callers hold stateLock; the returned plan is an immutable snapshot
    * (buffer contents are copied into it). */
  private def assembleView(): DataFrame = {
    // Cascade tombstones hide only rows that existed when the delete ran:
    // base predates everything; a streamed batch is filtered only by
    // tombstones stamped after its append seq. chunk-id tombstones
    // (upsert-wins) apply everywhere.
    def cascadeFiltered(df: DataFrame, appendedAt: Long): DataFrame = {
      var v = df
      val dt = docTombstones.collect { case (id, s) if s > appendedAt => id }.toSeq
      val lt = libTombstones.collect { case (id, s) if s > appendedAt => id }.toSeq
      if (dt.nonEmpty) v = v.filter(!$"document_id".isin(dt: _*))
      if (lt.nonEmpty) v = v.filter(!$"library_id".isin(lt: _*))
      v
    }
    val parts = cascadeFiltered(base, Long.MinValue) +:
      streamedAppends.map { case (df, seq) => cascadeFiltered(df, seq) }
    var v = parts.reduce(_.unionByName(_))
    if (chunkTombstones.nonEmpty) v = v.filter(!$"id".isin(chunkTombstones.toSeq: _*))
    if (upserts.isEmpty) v
    else v.unionByName(spark.createDataFrame(
      upserts.values.map(chunkToRow).toSeq.asJava, Schemas.chunks))
  }

  /** Fold the mutation log into a fresh lineage-free base. */
  def compact(): Unit = stateLock.synchronized(compactLocked())

  private def compactLocked(): Unit = {
    // a resident library's visible rows are exactly what the fold
    // writes for it, so they become its snapshot in the new epoch;
    // streamed batches fold rows no snapshot holds, so nothing carries
    // past them. A library deleted and not re-created has nothing left.
    val carried =
      if (streamedAppends.nonEmpty) Nil
      else residentRows.toList.flatMap { case (lib, rows) =>
        rows.map(rs => lib -> overlay(lib, rs, chunkTombstones, docTombstones.keySet).visible)
      }.filter { case (lib, rows) => rows.nonEmpty || !libTombstones.contains(lib) }
    // fold the buffer into the existing partitions: the base must not
    // gain partitions with every fold
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (base +: streamedAppends.map(_._1)).map(_.rdd.getNumPartitions).sum)
    base = assembleView().coalesce(parts).localCheckpoint(true)
    dropResident()
    carried.foreach { case (lib, rows) => if (admissible(rows.length)) install(lib, Some(rows)) }
    upserts.clear()
    chunkTombstones.clear()
    docTombstones.clear()
    libTombstones.clear()
    streamedAppends = Vector.empty
    mutationsSinceCompact = 0
  }

  /**
   * Streaming ingest (SURVEY.md §7.11): append chunk-shaped micro-
   * batches into the catalog. The stream must carry the chunks schema
   * minus embedding (text is embedded per batch with the catalog's
   * embedder, mirroring embed-at-insert). Each micro-batch is one
   * append + staleness bump; indexes reconcile via refreshIndex.
   */
  def startIngest(stream: DataFrame, queryName: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val e = embedder // local binding: the udf must not capture `this`
    val embedUdf = org.apache.spark.sql.functions.udf(
      (text: String) => e.embed(Seq(text)).head)
    stream.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Validate against the LIVE registries at append time: a late
        // batch for a deleted (and not re-created) library/document must
        // not become permanently-visible orphan chunks — its sequence
        // stamp postdates the cascade tombstone, so nothing downstream
        // would ever hide it. The registry snapshot is driver-side
        // dimension data (thousands of (doc, lib) pairs): broadcast
        // semi-join, no shuffle of the batch.
        val validPairs = documents.values
          .map(d => (d.id, d.library_id)).toSeq
          .toDF("document_id", "library_id")
        val withEmb = batch
          .join(broadcast(validPairs), Seq("document_id", "library_id"), "left_semi")
          .withColumn("embedding", embedUdf(col("text")))
          .select(Schemas.chunks.fieldNames.toIndexedSeq.map(col): _*)
        // localCheckpoint: the micro-batch source is transient; pin the
        // rows so the catalog's chunk table outlives the batch
        val pinned = withEmb.localCheckpoint(true)
        mutate { streamedAppends :+= ((pinned, mutationSeq)) }
      }
      .start()
  }

  /** Persist built index state alongside `save`: models (KB-scale) and
    * the derived tables in their probe-pruned layouts (IndexStore).
    * A loaded catalog then probes WITHOUT rebuilding. */
  def saveIndexes(path: String): Unit =
    indexes.snapshot().foreach { case (libId, state) =>
      (state.lsh, state.signatures) match {
        case (Some(m), Some(sigs)) =>
          graft.index.IndexStore.writeLshModel(spark, m, s"$path/indexes/$libId/lsh_model")
          graft.index.IndexStore.writeLshSignatures(sigs, s"$path/indexes/$libId/lsh_sigs")
        case _ =>
      }
      (state.ivf, state.assigned) match {
        case (Some(m), Some(assigned)) =>
          graft.index.IndexStore.writeIvfModel(spark, m, s"$path/indexes/$libId/ivf_model")
          graft.index.IndexStore.writeIvfAssigned(assigned, s"$path/indexes/$libId/ivf_assigned")
        case _ =>
      }
      if (state.indexType == IndexType.Binary)
        state.signatures.foreach(sigs =>
          graft.index.IndexStore.writeBinarySignatures(sigs,
            s"$path/indexes/$libId/binary_sigs"))
      state.hnsw.foreach { hs =>
        import spark.implicits._
        graft.index.HnswModel.write(spark, hs.graph, s"$path/indexes/$libId/hnsw_graph")
        hs.chunkIds.zipWithIndex.map { case (id, i) =>
          (i, id, if (i < hs.embHashes.length) hs.embHashes(i) else 0L)
        }.toSeq
          .toDF("idx", "chunk_id", "emb_hash")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$path/indexes/$libId/hnsw_ids")
      }
      state.ivfpq.foreach { s =>
        val (ivf, pq) = s.coded.fold(m => (m.ivf, m.pq), m => (m.ivf, m.pq))
        graft.index.IndexStore.writeIvfModel(spark, ivf,
          s"$path/indexes/$libId/ivfpq_centroids")
        graft.index.IndexStore.writePqModel(spark, pq,
          s"$path/indexes/$libId/ivfpq_codebooks")
        // the OPQ variant additionally persists its rotation — its
        // presence is also the variant marker at load time
        s.coded.foreach { m =>
          graft.index.IndexStore.writeRotation(spark, m.opq.rotation,
            s"$path/indexes/$libId/ivfpq_rotation")
        }
        graft.index.IndexStore.writeIvfPqEncoded(s.encoded,
          s"$path/indexes/$libId/ivfpq_encoded")
      }
    }

  /** Restore index state written by `saveIndexes` for one library.
    * Existence checks go through the Hadoop FileSystem of the path
    * (saveIndexes writes via Spark's Hadoop-capable writers, so the
    * index may live on HDFS/S3 where `java.io.File` always says no);
    * a missing save surfaces as a NotFound Left, never an exception. */
  def loadIndex(path: String, libraryId: String): Either[ApiError, IndexState] =
    getLibrary(libraryId).flatMap { _ =>
      val base = s"$path/indexes/$libraryId"
      val hconf = spark.sparkContext.hadoopConfiguration
      def exists(p: String): Boolean = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).exists(hp)
      }
      if (exists(s"$base/lsh_model")) {
        val m = graft.index.IndexStore.readLshModel(spark, s"$base/lsh_model")
        val sigs = spark.read.parquet(s"$base/lsh_sigs").select("id", "bucket")
        val state = IndexState(IndexType.Lsh, Some(sigs), None, Some(m), None, version.get())
        Right(state)
      } else if (exists(s"$base/ivf_model")) {
        val m = graft.index.IndexStore.readIvfModel(spark, s"$base/ivf_model")
        val assigned = spark.read.parquet(s"$base/ivf_assigned")
        val state = IndexState(IndexType.Ivf, None, Some(assigned), None, Some(m), version.get())
        Right(state)
      } else if (exists(s"$base/ivfpq_centroids")) {
        val ivf = graft.index.IndexStore.readIvfModel(spark, s"$base/ivfpq_centroids")
        val pq = graft.index.IndexStore.readPqModel(spark, s"$base/ivfpq_codebooks")
        // a persisted rotation marks the OPQ variant
        val coded: Either[graft.index.IvfPqModel, graft.index.OpqIvfPqModel] =
          if (exists(s"$base/ivfpq_rotation"))
            Right(graft.index.OpqIvfPqModel(ivf,
              graft.index.OpqModel(
                graft.index.IndexStore.readRotation(spark, s"$base/ivfpq_rotation"),
                pq)))
          else Left(graft.index.IvfPqModel(ivf, pq))
        // cache + materialize like the build path: every search probes
        // this table, and an uncached restore would re-read parquet
        // per query until the first refresh
        val encoded = graft.index.IndexStore
          .readIvfPqEncoded(spark, s"$base/ivfpq_encoded")
          .select("id", "cluster_id", "codes")
          .cache()
        encoded.count()
        val state = IndexState(IndexType.IvfPq, None, None, None, None,
          version.get(), ivfpq = Some(IvfPqState(coded, encoded)))
        Right(state)
      } else if (exists(s"$base/hnsw_graph")) {
        val g = graft.index.HnswModel.read(spark, s"$base/hnsw_graph")
        val idsDf = spark.read.parquet(s"$base/hnsw_ids")
        // layouts persisted before emb_hash was stored load without
        // hashes: the additions-only check then fails closed and the
        // first refresh rebuilds (re-establishing hashes)
        val hasHashes = idsDf.columns.contains("emb_hash")
        val rows = idsDf
          .select(Seq("idx", "chunk_id") ++
            (if (hasHashes) Seq("emb_hash") else Nil) map col: _*)
          .orderBy("idx").collect()
        val ids = rows.map(_.getString(1))
        val hashes = if (hasHashes) rows.map(_.getLong(2)) else Array.empty[Long]
        val state = IndexState(IndexType.Hnsw, None, None, None, None,
          version.get(), hnsw = Some(HnswState(g, ids, hashes)))
        Right(state)
      } else if (exists(s"$base/binary_sigs")) {
        // cache + materialize like the build path: every search scans
        // this table (it IS the prefilter), and an uncached restore
        // would re-read parquet per query until the first refresh
        val sigs = spark.read.parquet(s"$base/binary_sigs")
          .select("id", "sig", "emb_hash").cache()
        val nSigs = sigs.count()
        val state = IndexState(IndexType.Binary, Some(sigs), None, None,
          None, version.get(), sigCount = Some(nSigs))
        Right(state)
      } else if (exists(base)) {
        // saveIndexes writes nothing for an Exact library — an existing
        // base dir with no model is still a valid (exact) restore.
        val state = IndexState(IndexType.Exact, None, None, None, None, version.get())
        Right(state)
      } else {
        Left(ApiError.NotFound(s"No saved index for library $libraryId under $path"))
      }
    }.map { state =>
      val restored = withResident(state)
      indexes.put(libraryId, restored)
      restored
    }

  /** Persist the full catalog: chunks partitioned by library (partition
    * pruning on the per-library scan path, SURVEY.md §4) + the
    * library/document registries as parquet dimension tables. */
  def save(path: String): Unit = {
    chunks.write.mode("overwrite").partitionBy("library_id").parquet(s"$path/chunks")
    spark.createDataFrame(libraries.values.toSeq.map(l => Row(
        l.id, l.name, l.description.orNull, l.metadata, l.is_indexed,
        l.created_at, l.updated_at)).asJava, Schemas.libraries)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/libraries")
    spark.createDataFrame(documents.values.toSeq.map(d => Row(
        d.id, d.library_id, d.name, d.description.orNull, d.metadata,
        d.created_at, d.updated_at)).asJava, Schemas.documents)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/documents")
  }

  /** Restore a saved catalog (indexes rebuild on demand — they are
    * derived data). */
  def load(path: String): Unit = {
    stateLock.synchronized {
      base = spark.read.schema(Schemas.chunks).parquet(s"$path/chunks")
        .select(Schemas.chunks.fieldNames.toIndexedSeq.map(col): _*)
      upserts.clear(); chunkTombstones.clear()
      docTombstones.clear(); libTombstones.clear()
      streamedAppends = Vector.empty
      mutationsSinceCompact = 0
      dropResident()
    }
    libraries.clear()
    spark.read.schema(Schemas.libraries).parquet(s"$path/libraries").collect().foreach { r =>
      libraries.put(r.getString(0), LibraryRow(r.getString(0), r.getString(1),
        Option(r.getString(2)),
        Option(r.getAs[scala.collection.Map[String, String]](3)).map(_.toMap).getOrElse(Map.empty),
        r.getBoolean(4), r.getTimestamp(5), r.getTimestamp(6)))
    }
    documents.clear()
    spark.read.schema(Schemas.documents).parquet(s"$path/documents").collect().foreach { r =>
      documents.put(r.getString(0), DocumentRow(r.getString(0), r.getString(1),
        r.getString(2), Option(r.getString(3)),
        Option(r.getAs[scala.collection.Map[String, String]](4)).map(_.toMap).getOrElse(Map.empty),
        r.getTimestamp(5), r.getTimestamp(6)))
    }
    version.incrementAndGet()
  }
}
