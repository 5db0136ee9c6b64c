package graft.catalog

import java.sql.Timestamp
import java.util.UUID
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.filter.MetadataFilter
import graft.functions.Embedder
import graft.model._
import graft.search.LocalSearch

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

/** One catalog mutation as its result, generated ids and timestamps
  * included: what a public write applies and a durable catalog logs, and
  * what WAL replay applies again (`WalCodec` maps each to its record). */
private[catalog] sealed trait Mutation
private[catalog] object Mutation {
  /** A library row put. A create and a build carry their tier, and a
    * build the state it derived, which is derived data and is not
    * logged; an update carries neither. */
  final case class LibraryPut(row: LibraryRow, tier: Option[IndexType],
      built: Option[IndexState] = None) extends Mutation
  final case class LibraryDelete(id: String) extends Mutation
  final case class DocumentPut(row: DocumentRow) extends Mutation
  final case class DocumentDelete(id: String) extends Mutation
  final case class ChunkPut(rows: Seq[ChunkRow]) extends Mutation
  final case class ChunkDelete(id: String) extends Mutation
}

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
 *
 * One write path: a public write builds its result (ids, timestamps,
 * embeddings), on a catalog `DurableCatalog.recover` opened appends it
 * to the write-ahead log and hsyncs it, and applies it through
 * `applyMutation` — the function WAL replay calls — before returning.
 * On a durable catalog the existence check, the append and the apply
 * hold one lock, so the log's order is the apply order; a rejected
 * write, or one whose append fails, logs and applies nothing.
 *
 * `driverDerivation` off makes every index tier take its Spark form,
 * even for a resident library: the reference that the driver form is
 * tested and measured against. `hnswCap` is the HNSW tier's graph cap,
 * which a test lowers to reach the cap boundary with a few chunks.
 */
final class VectorCatalog(val spark: SparkSession,
    val embedder: Embedder = Embedder.default,
    val embeddingDim: Int = 64,
    private[graft] val driverDerivation: Boolean = true,
    private[graft] val hnswCap: Int = graft.index.HnswModel.maxGraphVectors) {
  import spark.implicits._
  import Mutation._

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
  // Cascade tombstones hide the base rows of a deleted document or
  // library. The delete drops the entity's buffered upserts itself, and
  // rows written after it are upserts too, so a re-created id is never
  // hidden by its earlier delete.
  private val docTombstones = scala.collection.mutable.HashSet.empty[String]
  private val libTombstones = scala.collection.mutable.HashSet.empty[String]
  private var mutationsSinceCompact = 0
  // `load` set the base to a parquet read that no fold has replaced yet
  private var baseFromFiles = false
  // a WAL replay is running (`openLog`): mutations skip the threshold fold
  private var replay = false

  // the write-ahead log, on a catalog `DurableCatalog.recover` opened:
  // set once, before `recover` returns the catalog, and appended to
  // under writeLock
  private val writeLock = new Object
  @volatile private var durable: Option[CatalogWal] = None

  // ---- driver-resident read path (graft.search.LocalSearch): the
  // folded-base rows of each small library — none for a library created
  // with a generated id, else collected on its first search or index
  // derivation (after a count says they fit) — carried through folds,
  // so only `load` drops them. Reads copy the log entries that touch a
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

  // ---------------------------------------------------------------- library
  def createLibrary(name: String, description: Option[String] = None,
      metadata: Map[String, String] = Map.empty,
      indexType: String = "lsh", id: Option[String] = None): Either[ApiError, LibraryRow] =
    IndexType.parse(indexType).flatMap { it =>
      commit(Right {
        val t = now()
        LibraryRow(id.getOrElse(newId()), name, description, metadata,
          is_indexed = false, created_at = t, updated_at = t)
      })(LibraryPut(_, Some(it)))
    }.map { row =>
      // a generated id has no base rows: the library is resident from
      // its creation, its upserts overlay the empty snapshot, and the
      // next fold carries it
      if (id.isEmpty) stateLock.synchronized(install(row.id, Some(Array.empty)))
      row
    }

  def getLibrary(id: String): Either[ApiError, LibraryRow] =
    libraries.get(id).toRight(ApiError.NotFound(s"Library $id not found"))

  def listLibraries(): Seq[LibraryRow] = libraries.values.toSeq.sortBy(_.id)

  def updateLibrary(id: String, name: Option[String] = None,
      description: Option[String] = None,
      metadata: Option[Map[String, String]] = None): Either[ApiError, LibraryRow] =
    commit(getLibrary(id).map(lib => lib.copy(
      name = name.getOrElse(lib.name),
      description = description.orElse(lib.description),
      metadata = metadata.getOrElse(lib.metadata),
      updated_at = now())))(LibraryPut(_, None))

  /** Cascade: documents and chunks of the library go too (storage.py:67-90). */
  def deleteLibrary(id: String): Either[ApiError, Unit] =
    commit(getLibrary(id).map(_ => ()))(_ => LibraryDelete(id))

  // --------------------------------------------------------------- document
  def createDocument(libraryId: String, name: String,
      description: Option[String] = None,
      metadata: Map[String, String] = Map.empty,
      id: Option[String] = None): Either[ApiError, DocumentRow] =
    commit(getLibrary(libraryId).map { _ =>
      val t = now()
      DocumentRow(id.getOrElse(newId()), libraryId, name, description, metadata, t, t)
    })(DocumentPut)

  def getDocument(id: String): Either[ApiError, DocumentRow] =
    documents.get(id).toRight(ApiError.NotFound(s"Document $id not found"))

  def listDocuments(libraryId: String): Seq[DocumentRow] =
    documents.values.filter(_.library_id == libraryId).toSeq.sortBy(_.id)

  def updateDocument(id: String, name: Option[String] = None,
      description: Option[String] = None,
      metadata: Option[Map[String, String]] = None): Either[ApiError, DocumentRow] =
    commit(getDocument(id).map(doc => doc.copy(
      name = name.getOrElse(doc.name),
      description = description.orElse(doc.description),
      metadata = metadata.getOrElse(doc.metadata),
      updated_at = now())))(DocumentPut)

  /** Cascade: the document's chunks go too (storage.py:137-161). */
  def deleteDocument(id: String): Either[ApiError, Unit] =
    commit(getDocument(id).map(_ => ()))(_ => DocumentDelete(id))

  /** Equality-only metadata filter over documents (document_service.py:117-143). */
  def documentsByMetadata(libraryId: String, filters: Map[String, String]): Seq[DocumentRow] =
    listDocuments(libraryId).filter(d => filters.forall { case (k, v) => d.metadata.get(k).contains(v) })

  // ------------------------------------------------------------------ chunk
  /** Create with embed-at-insert (chunk_service.py:22-54). */
  def createChunk(documentId: String, text: String,
      metadata: Map[String, String] = Map.empty,
      embedding: Option[Array[Float]] = None,
      id: Option[String] = None): Either[ApiError, ChunkRow] =
    commit(for {
      doc <- getDocument(documentId)
      _ <- embedding.flatMap(embeddingError).toLeft(())
    } yield {
      val t = now()
      val emb = embedding.orElse(Some(embedder.embedOne(text)))
      ChunkRow(id.getOrElse(newId()), documentId, doc.library_id, text, emb, metadata, t, t)
    })(row => ChunkPut(Seq(row)))

  /** The chunk-write boundary for a caller-supplied embedding, checked
    * before anything is buffered or logged: a wrong dimension would make
    * every later search of the library throw, and a non-finite element
    * would top every descending top-k. WAL replay (`openLog`) checks
    * logged rows the same way: a root reopened with another dimension
    * fails at recovery, not at a later search. */
  private def embeddingError(v: Array[Float]): Option[ApiError] =
    if (v.length != embeddingDim)
      Some(ApiError.Validation(s"embedding has dimension ${v.length}; " +
        s"the catalog's embedding dimension is $embeddingDim"))
    else if (!SearchQuery.finite(v))
      Some(ApiError.Validation("embedding must contain only finite numbers"))
    else None

  /** Bulk create for batch ingest — single union, one embed pass, one
    * WAL record for the whole batch on a durable catalog. */
  def createChunks(documentId: String, items: Seq[(String, Map[String, String])]): Either[ApiError, Seq[ChunkRow]] =
    commit(getDocument(documentId).map { doc =>
      val t = now()
      val embs = embedder.embed(items.map(_._1))
      items.zip(embs).map { case ((text, meta), emb) =>
        ChunkRow(newId(), documentId, doc.library_id, text, Some(emb), meta, t, t)
      }
    })(ChunkPut)

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
    commit(getChunk(id).map(old => old.copy(
      text = text.getOrElse(old.text),
      embedding = text.map(tx => embedder.embedOne(tx)).orElse(old.embedding),
      metadata = metadata.getOrElse(old.metadata),
      updated_at = now())))(row => ChunkPut(Seq(row)))

  def deleteChunk(id: String): Either[ApiError, Unit] =
    commit(getChunk(id).map(_ => ()))(_ => ChunkDelete(id))

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
    * path: it exceeds the resident cap or budget. */
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
      val n = IndexType.rowCount(libRows)
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
    residentRows.get(libraryId) match {
      case None => Left((base, baseEpoch))
      case Some(rows) => Right(rows.map(overlay(libraryId, _, chunkTombstones.toSet,
        docTombstones.toSet)))
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

  /** `s` becomes the library's index state (None: it has none), and the
    * cached table of the state it replaces is released. */
  private def setIndex(libraryId: String, s: Option[IndexState]): Unit =
    s.fold(indexes.remove(libraryId))(indexes.put(libraryId, _))
      .foreach(old => old.indexType.release(old))

  // ------------------------------------------------------------------ index
  /** Build/rebuild a library's index (libraries POST /{id}/index;
    * library_service.py:120-158 / M5-M7): a refresh from the tier's
    * initial state, as the reference's rebuild re-adds every chunk
    * through its incremental add hook (indexes.py:437-452). The
    * derivation runs outside the write path; the row change
    * (`is_indexed`, `updated_at`, the tier) is then one logged write. A
    * library deleted meanwhile gets nothing, and the derived state is
    * released. */
  def indexLibrary(libraryId: String, indexType: String): Either[ApiError, IndexState] =
    for {
      _ <- getLibrary(libraryId)
      it <- IndexType.parse(indexType)
      built <- derive(libraryId, it.initial(embeddingDim))
      _ <- commit(getLibrary(libraryId).map(_.copy(is_indexed = true, updated_at = now())))(
        LibraryPut(_, Some(it), Some(built))).left.map { e => it.release(built); e }
    } yield built

  def indexState(libraryId: String): Option[IndexState] = indexes.get(libraryId)

  /**
   * Incremental index maintenance (reference M1-M4/M8: per-chunk
   * add/remove without retraining — indexes.py:103-135, 310-338;
   * k-means is trained once and never retrained after, indexes.py:280).
   * A past-cap HNSW library is refused with the same Validation as
   * `indexLibrary`, and its state is left as it was. The reconcile
   * releases the table it replaces. Kept for IndexLifecycleSpec's
   * refresh contracts.
   */
  def refreshIndex(libraryId: String): Either[ApiError, IndexState] =
    getLibrary(libraryId).flatMap(_ => derive(libraryId, indexes(libraryId))).map { s =>
      indexes.put(libraryId, s)
      s
    }

  /** The only derivation of a tier's structures: `state` (a tier's
    * initial state, or its current one) carried by its tier to the
    * library's embedded chunks at the current version — on the driver
    * from the rows `residentView` shows when the library is resident
    * (unless `driverDerivation` is off), else with Spark. The version
    * is read before either snapshot, so a racing write leaves the index
    * stale rather than fresh. */
  private def derive(libraryId: String, state: IndexState): Either[ApiError, IndexState] = {
    val at = version.get()
    val d = new Derivation(spark, embeddingDim, hnswCap,
      chunksByLibrary(libraryId).filter($"embedding".isNotNull).withColumn("emb_hash", xxhash64($"embedding")),
      if (driverDerivation) residentView(libraryId) else None)
    state.indexType.derive(state, d).map(_.copy(builtAtVersion = at))
  }

  /** True when chunk mutations occurred after the index build; kept
    * as the staleness probe of CatalogSpec and IndexLifecycleSpec. */
  def indexStale(libraryId: String): Boolean =
    indexes.get(libraryId).exists(s => s.builtAtVersion < version.get() && s.builtAtVersion >= 0)

  // ------------------------------------------------------------------ stats
  /** Entity counts (storage.py:253-265 — defined there, never routed). */
  def stats(): Map[String, Long] = Map(
    "libraries" -> libraries.size.toLong,
    "documents" -> documents.size.toLong,
    "chunks" -> chunks.count())

  /** Orphan checks (storage.py:278-306) as anti-joins; kept as the
    * reference's oracle for CatalogSpec's cascade tests. */
  def validateRelationships(): Map[String, Long] = {
    val docIds = documents.keys.toSeq.toDF("id")
    val orphanChunks = chunks.join(docIds, chunks("document_id") === docIds("id"), "left_anti").count()
    val orphanDocs = documents.values.count(d => !libraries.contains(d.library_id)).toLong
    Map("orphan_chunks" -> orphanChunks, "orphan_documents" -> orphanDocs)
  }

  // ------------------------------------------------------------- internals
  private def chunkToRow(c: ChunkRow): Row = Row(
    c.id, c.document_id, c.library_id, c.text,
    c.embedding.orNull, c.metadata, c.created_at, c.updated_at)

  /** `result`, once built, logged and hsync'ed on a durable catalog and
    * then applied; a Left, or an append that throws, applies and logs
    * nothing. A durable write holds writeLock throughout; an in-memory
    * one takes no lock beyond the state's own. */
  private def commit[A](result: => Either[ApiError, A])(mutation: A => Mutation): Either[ApiError, A] = {
    def run(): Either[ApiError, A] = result.map { a =>
      val m = mutation(a)
      durable.foreach(_.append(WalCodec.record(m)))
      applyMutation(m)
      a
    }
    if (durable.isEmpty) run() else writeLock.synchronized(run())
  }

  /** The one apply of each mutation, for a public write and for WAL
    * replay alike. It takes the result verbatim — no id or timestamp
    * generation, no existence check — so replay reproduces the exact
    * post-op state; chunk mutations flow through `mutate`, so staleness
    * versions advance as in the original run. A chunk put is an upsert:
    * duplicate-id create OVERWRITES (dict-set parity, storage.py:40/105/
    * 182) — the buffer keys by id and the tombstone hides any base row
    * with the same id. O(1), no Spark job. */
  private def applyMutation(m: Mutation): Unit = m match {
    case LibraryPut(row, tier, built) =>
      libraries.put(row.id, row)
      // a create gets its tier's empty state and a build its derived one;
      // a replayed build has none, as `load` restores a built library:
      // it is searched exact until it is rebuilt
      tier.foreach(it => setIndex(row.id, if (row.is_indexed) built else Some(IndexState.empty(it))))
    case LibraryDelete(id) =>
      libraries.remove(id)
      setIndex(id, None)
      documents.filterInPlace { case (_, d) => d.library_id != id }
      mutate {
        upserts.filterInPlace((_, c) => c.library_id != id)
        libTombstones += id
      }
    case DocumentPut(row) => documents.put(row.id, row)
    case DocumentDelete(id) =>
      documents.remove(id)
      mutate {
        upserts.filterInPlace((_, c) => c.document_id != id)
        docTombstones += id
      }
    case ChunkPut(rows) =>
      mutate {
        rows.foreach { r =>
          upserts(r.id) = r
          chunkTombstones += r.id
        }
      }
    case ChunkDelete(id) =>
      mutate {
        upserts.remove(id)
        chunkTombstones += id
      }
  }

  /** Apply a buffered mutation under the state lock, bump the index-
    * staleness version, and fold the log when it crosses the threshold
    * (outside a WAL replay: a fold is invisible to reads, so a replay
    * folds once at its end). */
  private def mutate(f: => Unit): Unit = stateLock.synchronized {
    f
    version.incrementAndGet()
    mutationsSinceCompact += 1
    if (!replay && mutationsSinceCompact >= compactEvery) compactLocked()
  }

  private val compactEvery = 64

  /** Open the write-ahead log at `root` on this new catalog: load the
    * manifest's snapshot, replay every record past its fence through
    * `applyMutation` without the threshold fold, fold once if the replay
    * crossed it, and log every later write there. A logged chunk's
    * embedding is checked as a caller's is. */
  private[catalog] def openLog(root: String): Unit = writeLock.synchronized {
    stateLock.synchronized {
      replay = true
      val wal =
        try CatalogWal.open(spark, root)(load) { record =>
          val m = WalCodec.mutation(record)
          m match {
            case ChunkPut(rows) =>
              for (r <- rows; e <- r.embedding.flatMap(embeddingError))
                throw new IllegalStateException(s"chunk ${r.id}: ${e.message}")
            case _ =>
          }
          applyMutation(m)
        } finally replay = false
      if (mutationsSinceCompact >= compactEvery) compactLocked()
      durable = Some(wal)
    }
  }

  /** The catalog's write-ahead log; DurabilitySpec's probe of it. */
  private[graft] def wal: CatalogWal =
    durable.getOrElse(throw new IllegalStateException("an in-memory catalog has no write-ahead log"))

  /** Fold the catalog into a parquet snapshot, point the manifest at it
    * and truncate the log; a no-op on an in-memory catalog. A crash at
    * any point recovers to a consistent state (see
    * [[CatalogWal.checkpoint]]). A base still read from the snapshot
    * being replaced is folded first, so deleting that snapshot loses no
    * rows. */
  def checkpoint(): Unit = writeLock.synchronized {
    durable.foreach(_.checkpoint { snapshot =>
      stateLock.synchronized(if (baseFromFiles) compactLocked())
      save(snapshot)
    })
  }

  /** The read view: base minus tombstones, plus buffered upserts.
    * Constant plan depth regardless of CRUD history. Callers hold
    * stateLock; the returned plan is an immutable snapshot (buffer
    * contents are copied into it). */
  private def assembleView(): DataFrame = {
    var v = base
    if (docTombstones.nonEmpty) v = v.filter(!$"document_id".isin(docTombstones.toSeq: _*))
    if (libTombstones.nonEmpty) v = v.filter(!$"library_id".isin(libTombstones.toSeq: _*))
    if (chunkTombstones.nonEmpty) v = v.filter(!$"id".isin(chunkTombstones.toSeq: _*))
    if (upserts.isEmpty) v
    else v.unionByName(spark.createDataFrame(
      upserts.values.map(chunkToRow).toSeq.asJava, Schemas.chunks))
  }

  /** Fold the mutation log into a fresh lineage-free base. */
  def compact(): Unit = stateLock.synchronized(compactLocked())

  private def compactLocked(): Unit = {
    // a resident library's visible rows are exactly what the fold
    // writes for it, so they become its snapshot in the new epoch. A
    // library deleted and not re-created has nothing left.
    val carried = residentRows.toList.flatMap { case (lib, rows) =>
      rows.map(rs => lib -> overlay(lib, rs, chunkTombstones, docTombstones).visible)
    }.filter { case (lib, rows) => rows.nonEmpty || !libTombstones.contains(lib) }
    // fold the buffer into the existing partitions: the base must not
    // gain partitions with every fold, and keeps the view's row order,
    // the order of every carried snapshot (base rows, then upserts)
    val parts = math.max(spark.sparkContext.defaultParallelism, base.rdd.getNumPartitions)
    base = org.apache.spark.sql.graft.Bridge.coalesceInOrder(assembleView(), parts).localCheckpoint(true)
    baseFromFiles = false
    dropResident()
    carried.foreach { case (lib, rows) => if (admissible(rows.length)) install(lib, Some(rows)) }
    upserts.clear()
    chunkTombstones.clear()
    docTombstones.clear()
    libTombstones.clear()
    mutationsSinceCompact = 0
  }

  /** Persist built index state alongside `save`, each library through
    * its tier: models (KB-scale) and the derived tables (IndexStore).
    * A loaded catalog then probes WITHOUT rebuilding. */
  def saveIndexes(path: String): Unit =
    indexes.snapshot().foreach { case (libId, s) =>
      s.indexType.save(s, new IndexDir(spark, s"$path/indexes/$libId"))
    }

  /** Restore index state written by `saveIndexes` for one library: the
    * first tier, in `IndexType.loadOrder`, whose save the library's
    * directory holds. A missing save surfaces as a NotFound Left, never
    * an exception. */
  def loadIndex(path: String, libraryId: String): Either[ApiError, IndexState] =
    getLibrary(libraryId).flatMap { _ =>
      val dir = new IndexDir(spark, s"$path/indexes/$libraryId")
      IndexType.loadOrder.iterator.flatMap(_.load(dir)).nextOption()
        .toRight(ApiError.NotFound(s"No saved index for library $libraryId under $path"))
    }.map { state =>
      val restored = state.copy(builtAtVersion = version.get(),
        resident = state.indexType.driverCopy(state, LocalSearch.maxRows(embeddingDim).toLong))
      setIndex(libraryId, Some(restored))
      restored
    }

  /** The saved library table: the registry's rows and each library's
    * index type (null in saves written before it was kept). */
  private val savedLibraries = Schemas.libraries.add("index_type", StringType)

  /** Persist the full catalog: chunks partitioned by library (partition
    * pruning on the per-library scan path, SURVEY.md §4) + the
    * library/document registries as parquet dimension tables. */
  def save(path: String): Unit = {
    chunks.write.mode("overwrite").partitionBy("library_id").parquet(s"$path/chunks")
    spark.createDataFrame(libraries.values.toSeq.map(l => Row(
        l.id, l.name, l.description.orNull, l.metadata, l.is_indexed,
        l.created_at, l.updated_at, indexes.get(l.id).map(_.indexType.name).orNull)).asJava, savedLibraries)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/libraries")
    spark.createDataFrame(documents.values.toSeq.map(d => Row(
        d.id, d.library_id, d.name, d.description.orNull, d.metadata,
        d.created_at, d.updated_at)).asJava, Schemas.documents)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/documents")
  }

  /** Restore a saved catalog. A never-built library (`is_indexed`
    * false) that the catalog holds no index state for gets its saved
    * type's empty state, as at its creation. A built library gets no
    * state and is searched as exact until its index is rebuilt (built
    * indexes are derived data) or loaded through `loadIndex`. */
  def load(path: String): Unit = {
    stateLock.synchronized {
      base = spark.read.schema(Schemas.chunks).parquet(s"$path/chunks")
        .select(Schemas.chunks.fieldNames.toIndexedSeq.map(col): _*)
      upserts.clear(); chunkTombstones.clear()
      docTombstones.clear(); libTombstones.clear()
      mutationsSinceCompact = 0
      baseFromFiles = true
      dropResident()
    }
    libraries.clear()
    spark.read.schema(savedLibraries).parquet(s"$path/libraries").collect().foreach { r =>
      libraries.put(r.getString(0), LibraryRow(r.getString(0), r.getString(1),
        Option(r.getString(2)),
        Option(r.getAs[scala.collection.Map[String, String]](3)).map(_.toMap).getOrElse(Map.empty),
        r.getBoolean(4), r.getTimestamp(5), r.getTimestamp(6)))
      Option(r.getString(7)).filterNot(_ => r.getBoolean(4)).foreach { t =>
        val it = IndexType.parse(t).fold(e => throw new IllegalStateException(s"$path: ${e.message}"), identity)
        indexes.putIfAbsent(r.getString(0), IndexState.empty(it))
      }
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
