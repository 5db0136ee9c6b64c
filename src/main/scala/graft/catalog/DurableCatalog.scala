package graft.catalog

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.model.{ApiError, ChunkRow, DocumentRow, LibraryRow}

/**
 * Restart durability for the catalog: a write-ahead log of acknowledged
 * mutations plus periodic snapshot checkpoints, the transaction-log
 * pattern of log-structured table formats (one JSON commit file per
 * mutation under `wal/`, a `_manifest.json` naming the snapshot that
 * truncates the log — cf. the Delta Lake / Hudi commit-file layout,
 * which is exactly this at table scope).
 *
 * Semantics:
 *  - A mutation is applied in memory FIRST, then its RESULT (generated
 *    ids and timestamps included) is logged; the call returns only
 *    after the log write. So every *acknowledged* mutation survives a
 *    crash, and replay reproduces byte-identical rows — replaying
 *    requests instead of results would re-generate ids and break every
 *    cross-reference.
 *  - `checkpoint()` folds the catalog into a parquet snapshot
 *    (`VectorCatalog.save`), points the manifest at it, and deletes
 *    the logged prefix. `recover()` = load manifest snapshot (if any)
 *    + replay the WAL tail in sequence order.
 *  - All paths go through the Hadoop FileSystem API, so the log can
 *    live on HDFS/S3/local alike. Commit files are created with
 *    overwrite=false: two writers racing the same sequence number —
 *    the classic split-brain — fail loudly instead of silently
 *    clobbering.
 *  - Streamed ingest (`startIngest`) is deliberately NOT logged here:
 *    Structured Streaming already replays unacknowledged micro-batches
 *    from its own checkpoint on restart; double-logging them would
 *    duplicate rows. Scope: CRUD-facade mutations.
 *
 * The reference holds its state in process dicts with no durability
 * (storage.py keeps everything in memory); this layer is the part a
 * production deployment adds on top, and is opt-in — `VectorCatalog`
 * alone stays zero-I/O.
 */
final class DurableCatalog private (
    val inner: VectorCatalog,
    private val wal: CatalogWal,
    groupCommit: Boolean) {

  // WAL order must equal application order: apply + STAGE happen under
  // one lock. In the default mode the file write also happens under it
  // (one commit file per mutation — simple, gapless). With
  // `groupCommit` the write moves OUTSIDE the lock behind a
  // leader-flush (LevelDB-style): concurrent callers pile up behind
  // the flush, the first one in drains the whole queue into ONE
  // segment file and completes everyone — mutations-per-file rises
  // with contention, each caller still returns only after its record
  // is durable, and a segment holds a CONTIGUOUS seq range written by
  // a single leader, so a crash can only lose a clean tail (no gaps).
  private val logLock = new Object
  private val appender: WalAppender =
    if (groupCommit) new GroupCommitAppender(wal) else new ImmediateAppender(wal)

  private def logged[A](op: => Either[ApiError, A])(record: A => ObjectNode): Either[ApiError, A] = {
    val staged = logLock.synchronized { op.map { a => (a, appender.stage(record(a))) } }
    staged.map { case (a, ticket) => appender.await(ticket); a }
  }

  def createLibrary(name: String, description: Option[String] = None,
      metadata: Map[String, String] = Map.empty,
      indexType: String = "lsh", id: Option[String] = None): Either[ApiError, LibraryRow] =
    logged(inner.createLibrary(name, description, metadata, indexType, id)) { row =>
      WalCodec.libRecord("lib_create", row,
        indexTypeName = inner.indexTypeOf(row.id).map(WalCodec.indexTypeName))
    }

  def updateLibrary(id: String, name: Option[String] = None,
      description: Option[String] = None,
      metadata: Option[Map[String, String]] = None): Either[ApiError, LibraryRow] =
    logged(inner.updateLibrary(id, name, description, metadata))(
      WalCodec.libRecord("lib_update", _, None))

  def deleteLibrary(id: String): Either[ApiError, Unit] =
    logged(inner.deleteLibrary(id))(_ => WalCodec.deleteRecord("lib_delete", id))

  def createDocument(libraryId: String, name: String,
      description: Option[String] = None,
      metadata: Map[String, String] = Map.empty,
      id: Option[String] = None): Either[ApiError, DocumentRow] =
    logged(inner.createDocument(libraryId, name, description, metadata, id))(
      WalCodec.docRecord("doc_put"))

  def updateDocument(id: String, name: Option[String] = None,
      description: Option[String] = None,
      metadata: Option[Map[String, String]] = None): Either[ApiError, DocumentRow] =
    logged(inner.updateDocument(id, name, description, metadata))(
      WalCodec.docRecord("doc_put"))

  def deleteDocument(id: String): Either[ApiError, Unit] =
    logged(inner.deleteDocument(id))(_ => WalCodec.deleteRecord("doc_delete", id))

  def createChunk(documentId: String, text: String,
      metadata: Map[String, String] = Map.empty,
      embedding: Option[Array[Float]] = None,
      id: Option[String] = None): Either[ApiError, ChunkRow] =
    logged(inner.createChunk(documentId, text, metadata, embedding, id))(
      row => WalCodec.chunkRecord(Seq(row)))

  /** Bulk create is ONE commit record — group commit for free. */
  def createChunks(documentId: String,
      items: Seq[(String, Map[String, String])]): Either[ApiError, Seq[ChunkRow]] =
    logged(inner.createChunks(documentId, items))(WalCodec.chunkRecord)

  def updateChunk(id: String, text: Option[String] = None,
      metadata: Option[Map[String, String]] = None): Either[ApiError, ChunkRow] =
    logged(inner.updateChunk(id, text, metadata))(
      row => WalCodec.chunkRecord(Seq(row)))

  def deleteChunk(id: String): Either[ApiError, Unit] =
    logged(inner.deleteChunk(id))(_ => WalCodec.deleteRecord("chunk_delete", id))

  /** Snapshot + manifest swap + log truncation. Crash-ordering: the
    * snapshot is complete before the manifest points at it, and WAL
    * files are deleted only after the manifest commit — a crash at any
    * point recovers to a consistent state (at worst replaying a tail
    * the snapshot already contains is prevented by the seq fence). */
  def checkpoint(): Unit = logLock.synchronized {
    appender.drainAll() // group mode: staged-but-unflushed records first
    val seq = wal.lastSeq
    val snap = wal.snapshotPath(seq)
    inner.save(snap)
    wal.commitManifest(seq, snap)
    wal.truncateThrough(seq)
  }

  /** Merge the accumulated commit files into one segment WITHOUT the
    * cost of a snapshot — the maintenance move for long-lived roots
    * between checkpoints (see [[CatalogWal.compact]]). Replay after
    * compaction is record-identical. */
  def compactWal(): Unit = logLock.synchronized {
    appender.drainAll()
    wal.compact()
  }
}

/** How acknowledged mutation records reach the log. `stage` runs under
  * the catalog's apply lock (so WAL order = application order);
  * `await` runs outside it and returns once the ticket is durable. */
private[catalog] sealed trait WalAppender {
  def stage(record: ObjectNode): scala.concurrent.Promise[Unit]
  def await(ticket: scala.concurrent.Promise[Unit]): Unit
  def drainAll(): Unit
}

/** Default: one commit file per mutation, written under the apply lock
  * — the simple gapless layout. */
private[catalog] final class ImmediateAppender(wal: CatalogWal) extends WalAppender {
  def stage(record: ObjectNode): scala.concurrent.Promise[Unit] = {
    wal.append(record)
    scala.concurrent.Promise.successful(())
  }
  def await(ticket: scala.concurrent.Promise[Unit]): Unit = ()
  def drainAll(): Unit = ()
}

/**
 * Leader-based group commit: staged records queue in application
 * order; the first caller to reach the flush lock drains the WHOLE
 * queue into one segment file and completes every queued ticket, so
 * followers that arrive later find their ticket already done. Under
 * contention the mutations-per-file ratio rises automatically; with a
 * single caller it degenerates to one record per file. Every segment
 * is written by exactly one leader and covers a contiguous seq range —
 * a crash loses at most a clean tail, never a gap.
 */
private[catalog] final class GroupCommitAppender(wal: CatalogWal) extends WalAppender {
  private val queue = scala.collection.mutable.ArrayBuffer
    .empty[(ObjectNode, scala.concurrent.Promise[Unit])]
  private val flushLock = new Object

  def stage(record: ObjectNode): scala.concurrent.Promise[Unit] =
    queue.synchronized {
      val p = scala.concurrent.Promise[Unit]()
      queue += ((record, p))
      p
    }

  def await(ticket: scala.concurrent.Promise[Unit]): Unit = {
    if (ticket.isCompleted) return
    flushLock.synchronized {
      if (!ticket.isCompleted) flushQueue()
    }
    // our record was in the queue, so either an earlier leader or our
    // own flush above completed it
    assert(ticket.isCompleted, "group-commit flush did not cover a staged record")
  }

  def drainAll(): Unit = flushLock.synchronized { flushQueue() }

  private def flushQueue(): Unit = {
    val batch = queue.synchronized {
      val b = queue.toVector
      queue.clear()
      b
    }
    if (batch.nonEmpty) {
      wal.appendBatch(batch.map(_._1))
      batch.foreach(_._2.success(()))
    }
  }
}

object DurableCatalog {

  /** Open a durable catalog at `root`, replaying any prior state:
    * manifest snapshot first, then the WAL tail past the snapshot's
    * sequence fence, in sequence order. */
  def recover(spark: SparkSession, root: String,
      embedder: graft.functions.Embedder = graft.functions.Embedder.default,
      embeddingDim: Int = 64, groupCommit: Boolean = false): DurableCatalog = {
    val inner = new VectorCatalog(spark, embedder, embeddingDim)
    val wal = new CatalogWal(spark, root)
    wal.readManifest().foreach { case (_, snapshot) =>
      inner.load(snapshot)
    }
    val fence = wal.readManifest().map(_._1).getOrElse(-1L)
    wal.replayAfter(fence) { node =>
      node.get("op").asText() match {
        case "lib_create" =>
          inner.restoreLibrary(WalCodec.libFrom(node),
            Option(node.get("index_type")).map(n => WalCodec.parseIndexType(n.asText())))
        case "lib_update" => inner.restoreLibrary(WalCodec.libFrom(node), None)
        case "lib_delete" => inner.restoreDeleteLibrary(node.get("id").asText())
        case "doc_put" => inner.restoreDocument(WalCodec.docFrom(node))
        case "doc_delete" => inner.restoreDeleteDocument(node.get("id").asText())
        case "chunk_put" => inner.restoreChunks(WalCodec.chunksFrom(node))
        case "chunk_delete" => inner.restoreDeleteChunk(node.get("id").asText())
        case other => throw new IllegalStateException(s"Unknown WAL op: $other")
      }
    }
    new DurableCatalog(inner, wal, groupCommit)
  }
}

/**
 * The log itself: numbered JSON commit files `wal/%020d.json` plus an
 * atomically-renamed `_manifest.json`. Sequence numbers are dense per
 * writer; `create(overwrite = false)` turns a second writer on the
 * same root into an immediate error rather than corruption.
 */
final class CatalogWal(spark: SparkSession, root: String) {
  private val mapper = new ObjectMapper()
  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fs(p: Path): FileSystem = p.getFileSystem(hconf)
  private val walDir = new Path(root, "wal")
  private val manifestPath = new Path(root, "_manifest.json")

  /** First sequence number encoded in a WAL file name: plain segments
    * are `%020d.json`, compacted segments `%020dc%020d.json` (first and
    * last seq — the last makes re-compaction after a crashed compaction
    * idempotent by name). */
  private def firstSeqOf(name: String): Option[Long] =
    if (!name.endsWith(".json")) None
    else scala.util.Try(name.stripSuffix(".json").split('c')(0).toLong).toOption

  private def listWal(f: FileSystem): Array[(Long, Path)] =
    if (!f.exists(walDir)) Array.empty
    else f.listStatus(walDir).map(_.getPath)
      .flatMap(p => firstSeqOf(p.getName).map(s => (s, p)))
      .sortBy(_._1)

  private def readRecords(f: FileSystem, p: Path): Seq[JsonNode] = {
    val in = f.open(p)
    val node =
      try mapper.readTree(in)
      finally in.close()
    recordsOf(node)
  }

  @volatile private var seq: Long = {
    // scan ALL files' records, not just the max-named file: after a
    // crashed compaction the merged segment (named by its FIRST seq)
    // can hold the true maximum while higher-named originals are
    // partially deleted — a name-only bootstrap would under-read and
    // re-issue live sequence numbers. The manifest fence counts too: a
    // checkpoint truncates every record at or below it, and a number
    // re-issued there would be skipped by the next recovery.
    val f = fs(walDir)
    val all = listWal(f).flatMap { case (_, p) =>
      readRecords(f, p).map(_.get("seq").asLong())
    }
    (all ++ readManifest().map(_._1)).maxOption.getOrElse(-1L)
  }

  def lastSeq: Long = seq

  def snapshotPath(atSeq: Long): String =
    new Path(root, f"snapshot-$atSeq%020d").toString

  def append(record: ObjectNode): Unit = synchronized {
    val next = seq + 1
    record.put("seq", next)
    writeFile(next, record)
    seq = next
  }

  /** Group-commit segment: the whole batch in ONE file (named by its
    * first seq), records carrying their own dense seq numbers. */
  def appendBatch(records: Seq[ObjectNode]): Unit = synchronized {
    if (records.isEmpty) return
    val first = seq + 1
    records.zipWithIndex.foreach { case (r, i) => r.put("seq", first + i) }
    val node = mapper.createObjectNode()
    val arr = node.putArray("batch")
    records.foreach(arr.add)
    writeFile(first, node)
    seq = first + records.length - 1
  }

  private def writeFile(atSeq: Long, node: ObjectNode): Unit = {
    val p = new Path(walDir, f"$atSeq%020d.json")
    val f = fs(p)
    if (!f.exists(walDir)) f.mkdirs(walDir)
    val out = f.create(p, /* overwrite = */ false)
    try out.write(mapper.writeValueAsBytes(node))
    finally out.close()
  }

  def readManifest(): Option[(Long, String)] = {
    val f = fs(manifestPath)
    if (!f.exists(manifestPath)) None
    else {
      val in = f.open(manifestPath)
      val node =
        try mapper.readTree(in)
        finally in.close()
      Some((node.get("seq").asLong(), node.get("snapshot").asText()))
    }
  }

  /** Manifest commit via write-temp-then-rename — the atomic publish
    * primitive on HDFS (and good enough on local FS; object stores
    * substitute conditional PUT). */
  def commitManifest(atSeq: Long, snapshot: String): Unit = {
    val node = mapper.createObjectNode()
    node.put("seq", atSeq)
    node.put("snapshot", snapshot)
    val tmp = new Path(root, s"_manifest.json.tmp")
    val f = fs(manifestPath)
    val out = f.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(node))
    finally out.close()
    if (f.exists(manifestPath)) f.delete(manifestPath, false)
    if (!f.rename(tmp, manifestPath))
      throw new IllegalStateException(s"Manifest rename failed at $manifestPath")
  }

  /** Records inside one WAL file: singles hold one record, group-commit
    * segments hold a `batch` array. */
  private def recordsOf(node: JsonNode): Seq[JsonNode] =
    Option(node.get("batch")) match {
      case Some(arr: ArrayNode) => (0 until arr.size()).map(arr.get)
      case _ => Seq(node)
    }

  def truncateThrough(atSeq: Long): Unit = {
    val f = fs(walDir)
    listWal(f)
      .filter(_._1 <= atSeq)
      .filter { case (_, p) =>
        // a segment is deletable only if its LAST record is fenced
        // (checkpoint drains staged records first, so a straddling
        // segment cannot normally exist — this keeps truncation safe
        // even if one does)
        readRecords(f, p).forall(_.get("seq").asLong() <= atSeq)
      }
      .foreach { case (_, p) => f.delete(p, false) }
  }

  /**
   * Merge every commit file into ONE compacted segment — the
   * between-checkpoints file-count lever: a long-lived root in
   * single-mutation mode holds one file per acknowledged mutation, and
   * both recovery opens and object-store LIST costs grow with file
   * count. Compaction is pure log rewriting (no snapshot write, no
   * catalog involvement).
   *
   * Crash safety by ordering + idempotent replay: the merged segment
   * (named `firstSeq c lastSeq`) is fully written FIRST, originals are
   * deleted after. A crash in between leaves overlapping segments —
   * `replayAfter` dedups by sequence number, and a re-run targets the
   * same merged name (found complete, skipped) then finishes the
   * deletes.
   */
  def compact(): Unit = synchronized {
    val f = fs(walDir)
    val files = listWal(f)
    if (files.length <= 1) return
    // read + sort + dedup (a prior crashed compaction may have left
    // overlapping segments)
    var last = Long.MinValue
    val records = files.flatMap { case (_, p) => readRecords(f, p) }
      .sortBy(_.get("seq").asLong())
      .flatMap { r =>
        val s = r.get("seq").asLong()
        if (s <= last) None else { last = s; Some(r) }
      }
    val first = records.head.get("seq").asLong()
    val merged = new Path(walDir, f"$first%020dc$last%020d.json")
    if (!f.exists(merged)) {
      val node = mapper.createObjectNode()
      val arr = node.putArray("batch")
      records.foreach(arr.add)
      // write-temp-then-rename: the merged segment must appear at its
      // final name ATOMICALLY — a crash mid-write would otherwise
      // leave a partial file that poisons replay, and whose existence
      // a re-run would mistake for a complete merge before deleting
      // the originals. The .tmp name has no ".json" suffix, so listWal
      // (and therefore replay, truncation, and the seq bootstrap)
      // never reads it; a leaked tmp from a crash is inert garbage
      // overwritten by the next compaction.
      val tmp = new Path(walDir, merged.getName + ".tmp")
      val out = f.create(tmp, /* overwrite = */ true)
      try out.write(mapper.writeValueAsBytes(node))
      finally out.close()
      if (!f.rename(tmp, merged))
        throw new IllegalStateException(s"WAL compaction rename failed at $merged")
    }
    files.map(_._2).filter(_.getName != merged.getName)
      .foreach(p => f.delete(p, false))
  }

  def replayAfter(fence: Long)(apply: JsonNode => Unit): Unit = {
    val f = fs(walDir)
    // per-RECORD fence and sequence dedup: a segment may straddle the
    // fence, and a crashed compaction may leave the same record in two
    // segments — each seq is applied exactly once, in order
    var applied = fence
    listWal(f).foreach { case (_, p) =>
      readRecords(f, p).filter(_.get("seq").asLong() > applied).foreach { rec =>
        try {
          apply(rec)
          applied = rec.get("seq").asLong()
        } catch {
          case NonFatal(e) =>
            throw new IllegalStateException(s"WAL replay failed at ${p.getName}", e)
        }
      }
    }
  }
}

/** JSON <-> row codecs for WAL records. Timestamps travel as epoch
  * millis (catalog `now()` is millis-granular); embeddings as float
  * arrays. */
private[catalog] object WalCodec {
  private val mapper = new ObjectMapper()

  def indexTypeName(it: IndexType): String = it match {
    case IndexType.Exact => "exact"
    case IndexType.Lsh => "lsh"
    case IndexType.Ivf => "ivf"
    case IndexType.Hnsw => "hnsw"
    case IndexType.IvfPq => "ivfpq"
    case IndexType.Binary => "binary"
  }
  def parseIndexType(s: String): IndexType =
    IndexType.parse(s).getOrElse(throw new IllegalStateException(s"Bad index type in WAL: $s"))

  private def putMeta(node: ObjectNode, meta: Map[String, String]): Unit = {
    val m = node.putObject("metadata")
    meta.foreach { case (k, v) => m.put(k, v) }
  }
  private def metaFrom(node: JsonNode): Map[String, String] = {
    val m = node.get("metadata")
    val it = m.properties().iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.asText()) }
    b.result()
  }
  private def ts(millis: Long) = new java.sql.Timestamp(millis)

  def deleteRecord(op: String, id: String): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("op", op)
    n.put("id", id)
    n
  }

  def libRecord(op: String, row: LibraryRow, indexTypeName: Option[String]): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("op", op)
    n.put("id", row.id)
    n.put("name", row.name)
    row.description.foreach(n.put("description", _))
    indexTypeName.foreach(n.put("index_type", _))
    putMeta(n, row.metadata)
    n.put("is_indexed", row.is_indexed)
    n.put("created_at", row.created_at.getTime)
    n.put("updated_at", row.updated_at.getTime)
    n
  }

  def libFrom(n: JsonNode): LibraryRow = LibraryRow(
    n.get("id").asText(), n.get("name").asText(),
    Option(n.get("description")).map(_.asText()),
    metaFrom(n), n.get("is_indexed").asBoolean(),
    ts(n.get("created_at").asLong()), ts(n.get("updated_at").asLong()))

  def docRecord(op: String)(row: DocumentRow): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("op", op)
    n.put("id", row.id)
    n.put("library_id", row.library_id)
    n.put("name", row.name)
    row.description.foreach(n.put("description", _))
    putMeta(n, row.metadata)
    n.put("created_at", row.created_at.getTime)
    n.put("updated_at", row.updated_at.getTime)
    n
  }

  def docFrom(n: JsonNode): DocumentRow = DocumentRow(
    n.get("id").asText(), n.get("library_id").asText(), n.get("name").asText(),
    Option(n.get("description")).map(_.asText()),
    metaFrom(n),
    ts(n.get("created_at").asLong()), ts(n.get("updated_at").asLong()))

  def chunkRecord(rows: Seq[ChunkRow]): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("op", "chunk_put")
    val arr = n.putArray("chunks")
    rows.foreach { c =>
      val cn = arr.addObject()
      cn.put("id", c.id)
      cn.put("document_id", c.document_id)
      cn.put("library_id", c.library_id)
      cn.put("text", c.text)
      c.embedding.foreach { e =>
        val en = cn.putArray("embedding")
        e.foreach(en.add(_))
      }
      putMeta(cn, c.metadata)
      cn.put("created_at", c.created_at.getTime)
      cn.put("updated_at", c.updated_at.getTime)
    }
    n
  }

  def chunksFrom(n: JsonNode): Seq[ChunkRow] = {
    val arr = n.get("chunks").asInstanceOf[ArrayNode]
    (0 until arr.size()).map { i =>
      val cn = arr.get(i)
      val emb = Option(cn.get("embedding")).map { en =>
        Array.tabulate(en.size())(j => en.get(j).floatValue())
      }
      ChunkRow(
        cn.get("id").asText(), cn.get("document_id").asText(),
        cn.get("library_id").asText(), cn.get("text").asText(),
        emb, metaFrom(cn),
        ts(cn.get("created_at").asLong()), ts(cn.get("updated_at").asLong()))
    }
  }
}
