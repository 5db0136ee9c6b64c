package graft.catalog

import java.io.File
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.zip.CRC32

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileSystem, LocalFileSystem, Path, RawLocalFileSystem, StreamCapabilities}
import org.apache.spark.sql.SparkSession

import graft.model.{ChunkRow, DocumentRow, LibraryRow}

/**
 * Restart durability for the catalog: a write-ahead log of acknowledged
 * mutations plus periodic snapshot checkpoints, the transaction-log
 * pattern of log-structured table formats (CRC-framed records appended
 * to one segment per writing process under `wal/`, a `_manifest.json`
 * naming the snapshot that truncates the log).
 *
 * Semantics:
 *  - A mutation's RESULT (generated ids and timestamps included) is
 *    appended and hsync'ed FIRST, then applied in memory, and the call
 *    returns after both. So every *acknowledged* mutation survives a
 *    crash, a write whose append fails is not applied, and replay
 *    reproduces byte-identical rows — replaying requests instead of
 *    results would re-generate ids and break every cross-reference. The
 *    catalog does both itself, in its one write path
 *    (`VectorCatalog.commit`). An index build logs its library-row
 *    change; its derived structures are not logged, so a replayed built
 *    library is searched exact until it is rebuilt.
 *  - `VectorCatalog.checkpoint()` folds the catalog into a parquet
 *    snapshot (`VectorCatalog.save`), points the manifest at it, deletes
 *    the snapshot the manifest named before, rolls the active segment
 *    and deletes the logged prefix. `recover()` = load manifest snapshot
 *    (if any) + replay the WAL tail in sequence order.
 *  - All paths go through the Hadoop FileSystem API. Writes need the
 *    root's writer lock, an OS file lock, so only `file:` roots take
 *    them; other roots recover read-only. See [[CatalogWal]] for the
 *    segment format, the one-writer rule and the crash rules of replay.
 *
 * The reference holds its state in process dicts with no durability
 * (storage.py keeps everything in memory); this layer is the part a
 * production deployment adds on top, and is opt-in — a catalog built
 * with `new VectorCatalog` stays zero-I/O.
 */
object DurableCatalog {

  /** Open a durable catalog at `root`, replaying any prior state:
    * manifest snapshot first, then the WAL tail past the snapshot's
    * sequence fence, in sequence order. Every later write through the
    * returned catalog is logged. */
  def recover(spark: SparkSession, root: String,
      embedder: graft.functions.Embedder = graft.functions.Embedder.default,
      embeddingDim: Int = 64): VectorCatalog = {
    val catalog = new VectorCatalog(spark, embedder, embeddingDim)
    catalog.openLog(root)
    catalog
  }
}

/**
 * The log itself: append-only segments `wal/%020d.wal`, each named by
 * the sequence number of its first record, plus an atomically replaced
 * `_manifest.json`.
 *
 * Writing: a process opens one segment on its first append and keeps
 * appending to it until a checkpoint rolls it — there is no size-based
 * roll. A record is one frame, `[u32 length][u32 CRC32][payload]`, the
 * payload being the record's JSON with its `seq`, and `append` returns
 * only after the frame is written and hsync'ed. Frames carry their own
 * checksum, so segments (and the manifest) go through the raw local
 * file system, without the checksummed one's `.crc` sibling. After a
 * failed append the log refuses further appends: a later frame behind a
 * partial one would make the segment unreadable.
 *
 * One writer at a time: every append and checkpoint holds the root's
 * writer lock (`_wal.lock`, an OS file lock, which the OS drops when
 * its holder dies) and first checks that no other writer wrote since
 * this one read or wrote the log — another writer's records sit in a
 * segment of its own, newer than ours, and its checkpoint deletes ours.
 * A stale writer fails loudly without writing. Locks need a local file
 * system, so only `file:` roots take writes; other roots recover
 * read-only.
 *
 * Reading (replay and the seq bootstrap are one pass): segments in order
 * of their first seq; a segment ends at EOF or at its first bad frame
 * (short header, short payload, CRC mismatch). A bad frame with no valid
 * frame after it is a torn, never-acknowledged tail and is dropped, and
 * the next process numbers its writes from the last valid frame + 1. A
 * valid frame after a bad one, or a gap in the sequence, is corruption:
 * the read fails, naming the segment and byte offset. Files of the
 * earlier layout — one `%020d.json` commit file per record and
 * `%020dc%020d.json` compacted segments — replay read-only,
 * deduplicated by seq.
 */
final class CatalogWal private (spark: SparkSession, root: String) {
  import CatalogWal.{Header, Segment}

  private val mapper = new ObjectMapper()
  private val walDir = new Path(root, "wal")
  private val manifestPath = new Path(root, "_manifest.json")
  private val manifestTmp = new Path(root, "_manifest.json.tmp")
  private val fs: FileSystem = walDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val logFs: FileSystem = fs match {
    case local: LocalFileSystem => local.getRawFileSystem
    case other => other
  }
  private val lockFile: Option[File] = logFs match {
    case raw: RawLocalFileSystem => Some(raw.pathToFile(new Path(root, "_wal.lock")))
    case _ => None
  }

  @volatile private var seq: Long = -1L
  private var active: FSDataOutputStream = null
  private var activePath: Path = null
  private var failure: Throwable = null

  /** The last sequence number written or replayed; kept as
    * DurabilitySpec's probe of the numbering rules. */
  def lastSeq: Long = seq

  def append(record: ObjectNode): Unit = synchronized {
    if (failure != null)
      throw new IllegalStateException(s"an earlier append to the WAL under $walDir failed; reopen the root", failure)
    exclusively {
      val next = seq + 1
      record.put("seq", next)
      try {
        if (active == null) openSegment(next)
        active.write(frame(mapper.writeValueAsBytes(record)))
        active.hsync()
      } catch {
        case NonFatal(e) => failure = e; throw e
      }
      seq = next
    }
  }

  /** `VectorCatalog.checkpoint` under the writer lock: `save` writes
    * the snapshot, then the manifest points at it, then the snapshot it
    * replaces and the logged prefix are deleted. So a crash at any point
    * recovers to a consistent state: records the snapshot already holds
    * are skipped by the seq fence. */
  def checkpoint(save: String => Unit): Unit = synchronized {
    exclusively {
      val at = seq
      val previous = readManifest().map(_._2)
      val snapshot = new Path(root, f"snapshot-$at%020d").toString
      save(snapshot)
      commitManifest(at, snapshot)
      previous.filter(_ != snapshot).foreach(p => fs.delete(new Path(p), true))
      truncateThrough(at)
    }
  }

  /** Run a write under the root's writer lock, once no other writer has
    * written since this one last read or wrote the log. */
  private[graft] def exclusively[A](write: => A): A = lockFile match {
    case None => throw new IllegalStateException(s"$root: WAL writes need a writer lock, which only file: roots provide")
    case Some(f) =>
      CatalogWal.holding(f) {
        val current =
          if (active != null) segments().lastOption.exists(_.path.getName == activePath.getName)
          else lastOnDisk() == seq
        if (!current)
          throw new IllegalStateException(
            s"another writer has written to the WAL under $walDir since this catalog read it at seq $seq; reopen the root")
        write
      }
  }

  private def openSegment(firstSeq: Long): Unit = {
    val p = new Path(walDir, f"$firstSeq%020d.wal")
    // under the lock, with the log's last seq ours, a segment named by
    // our next seq holds no valid frame: its writer died or failed
    // between the create and its first frame, which one lock hold spans
    if (logFs.exists(p)) logFs.delete(p, false)
    val out = logFs.create(p, /* overwrite = */ false)
    if (!out.hasCapability(StreamCapabilities.HSYNC)) {
      out.close()
      throw new IllegalStateException(s"$p: ${logFs.getScheme} streams cannot hsync, so WAL appends would not be durable")
    }
    active = out
    activePath = p
  }

  private def frame(payload: Array[Byte]): Array[Byte] = {
    val crc = new CRC32
    crc.update(payload)
    ByteBuffer.allocate(Header + payload.length)
      .putInt(payload.length).putInt(crc.getValue.toInt).put(payload).array()
  }

  /** The payload of the frame at `pos`, if a whole frame whose CRC32
    * matches starts there. No record is empty, so a zero length is bad:
    * a zero-filled tail never reads as frames. */
  private def frameAt(in: FSDataInputStream, pos: Long, len: Long): Option[Array[Byte]] =
    if (len - pos < Header) None
    else {
      val head = ByteBuffer.allocate(Header)
      in.readFully(pos, head.array())
      val n = head.getInt(0) & 0xffffffffL
      if (n == 0 || n > len - pos - Header || n > Int.MaxValue - Header) None
      else {
        val payload = new Array[Byte](n.toInt)
        in.readFully(pos + Header, payload)
        val crc = new CRC32
        crc.update(payload)
        if (crc.getValue == (head.getInt(4) & 0xffffffffL)) Some(payload) else None
      }
    }

  /** Byte offset and payload of each valid frame of one segment; a torn
    * tail is dropped, a valid frame after a bad one throws. */
  private def frames(p: Path): Seq[(Long, Array[Byte])] = {
    val len = logFs.getFileStatus(p).getLen
    val in = logFs.open(p)
    try {
      val out = ArrayBuffer.empty[(Long, Array[Byte])]
      var pos = 0L
      var next = frameAt(in, pos, len)
      while (next.isDefined) {
        out += pos -> next.get
        pos += Header + next.get.length
        next = frameAt(in, pos, len)
      }
      (pos + 1 until len).find(frameAt(in, _, len).isDefined).foreach { valid =>
        throw new IllegalStateException(
          s"WAL corrupt: $p has a bad frame at byte $pos and a valid frame after it at byte $valid")
      }
      out.toSeq
    } finally in.close()
  }

  /** Every log file, framed or legacy, in order of its first seq. */
  private def segments(): Seq[Segment] =
    if (!logFs.exists(walDir)) Nil
    else logFs.listStatus(walDir).toSeq.map(_.getPath).flatMap { p =>
      val name = p.getName
      val first =
        if (name.endsWith(".wal")) Try(name.stripSuffix(".wal").toLong).toOption
        else if (name.endsWith(".json")) Try(name.stripSuffix(".json").split('c')(0).toLong).toOption
        else None
      first.map(Segment(_, p))
    }.sortBy(_.firstSeq)

  /** Byte offset and record of each record of one segment. A legacy
    * file holds one record, or a compacted `batch` array at offset 0. */
  private def recordsIn(s: Segment): Seq[(Long, JsonNode)] =
    if (!s.legacy) frames(s.path).map(record(s.path))
    else {
      val in = fs.open(s.path)
      val node =
        try parse(s.path, 0)(mapper.readTree(in))
        finally in.close()
      Option(node.get("batch")) match {
        case Some(arr: ArrayNode) => arr.asScala.toSeq.map(0L -> _)
        case _ => Seq(0L -> node)
      }
    }

  private def record(p: Path)(frame: (Long, Array[Byte])): (Long, JsonNode) =
    frame._1 -> parse(p, frame._1)(mapper.readTree(frame._2))

  private def parse(p: Path, pos: Long)(node: => JsonNode): JsonNode =
    try node
    catch {
      case NonFatal(e) => throw new IllegalStateException(s"WAL corrupt: $p at byte $pos is not a JSON record", e)
    }

  /** The log's last seq: its newest record's, or the manifest's fence
    * where a checkpoint truncated past every record. Only the last frame
    * of a segment is parsed. */
  private def lastOnDisk(): Long = {
    val newest = segments().flatMap { s =>
      (if (s.legacy) recordsIn(s).lastOption else frames(s.path).lastOption.map(record(s.path)))
        .map(_._2.get("seq").asLong())
    }
    (readManifest().fold(-1L)(_._1) +: newest).max
  }

  /** The one reader: hand every record above `fence` to `apply` in seq
    * order and return the last seq read (`fence` if none). Records at or
    * below the fence are in the snapshot; a legacy record at or below the
    * last one read is a duplicate a crashed compaction left. */
  private def scan(fence: Long)(apply: JsonNode => Unit): Long = {
    var last = fence
    for (s <- segments(); (pos, rec) <- recordsIn(s)) {
      val at = rec.get("seq").asLong()
      def where = s"${s.path} at byte $pos"
      if (at == last + 1) {
        try apply(rec)
        catch {
          case NonFatal(e) => throw new IllegalStateException(s"WAL replay failed at seq $at ($where)", e)
        }
        last = at
      } else if (at > last)
        throw new IllegalStateException(s"WAL gap: $where holds seq $at, expected seq ${last + 1}")
      else if (at > fence && !s.legacy)
        throw new IllegalStateException(s"WAL overlap: $where holds seq $at again (two writers on one root?)")
    }
    last
  }

  /** Every record the log holds past the manifest's fence, in seq order. */
  private[graft] def records(): Seq[JsonNode] = {
    val out = ArrayBuffer.empty[JsonNode]
    scan(readManifest().fold(-1L)(_._1))(out += _)
    out.toSeq
  }

  private def parseManifest(p: Path): (Long, String) = {
    val in = logFs.open(p)
    val node =
      try mapper.readTree(in)
      finally in.close()
    (node.get("seq").asLong(), node.get("snapshot").asText())
  }

  private def readManifest(): Option[(Long, String)] =
    if (logFs.exists(manifestPath)) Some(parseManifest(manifestPath)) else None

  /** Roots written before the manifest was replaced by one rename
    * deleted it first, then renamed the tmp manifest into place; a crash
    * between the two left only the tmp one. It is complete — closed
    * before the delete, its snapshot written before it — so finish the
    * rename. `commitManifest` never leaves this state. */
  private def rollManifestForward(): Unit =
    if (!logFs.exists(manifestPath) && logFs.exists(manifestTmp) && Try(parseManifest(manifestTmp)).isSuccess &&
        !logFs.rename(manifestTmp, manifestPath))
      throw new IllegalStateException(s"Manifest roll-forward failed at $manifestPath")

  /** Write the manifest to a tmp file, hsync it and rename it over the
    * old one. On a local file system the rename replaces the destination
    * atomically, so a crash leaves the old manifest or the new one. */
  private def commitManifest(atSeq: Long, snapshot: String): Unit = {
    val node = mapper.createObjectNode()
    node.put("seq", atSeq)
    node.put("snapshot", snapshot)
    val out = logFs.create(manifestTmp, true)
    try {
      out.write(mapper.writeValueAsBytes(node))
      out.hsync()
    } finally out.close()
    if (!logFs.rename(manifestTmp, manifestPath))
      throw new IllegalStateException(s"Manifest rename failed at $manifestPath")
  }

  /** Roll the active segment — a checkpoint is the only roll — and
    * delete every segment whose last record is at or below `atSeq`. */
  private def truncateThrough(atSeq: Long): Unit = {
    if (active != null)
      try active.close()
      finally { active = null; activePath = null }
    segments().filter(_.firstSeq <= atSeq)
      .filter(s => recordsIn(s).forall(_._2.get("seq").asLong() <= atSeq))
      .foreach(s => fs.delete(s.path, false))
  }
}

object CatalogWal {
  private val Header = 8 // u32 length + u32 CRC32

  private final case class Segment(firstSeq: Long, path: Path) {
    def legacy: Boolean = path.getName.endsWith(".json")
  }

  /** One channel per lock file in this JVM, never closed: closing any
    * descriptor of a file drops every lock the process holds on it. Its
    * monitor orders this process's writers, its OS lock orders
    * processes. */
  private val lockChannels = new ConcurrentHashMap[File, FileChannel]()

  private def holding[A](lock: File)(body: => A): A = {
    val channel = lockChannels.computeIfAbsent(lock.getCanonicalFile, { f =>
      Files.createDirectories(f.toPath.getParent)
      FileChannel.open(f.toPath, StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    })
    channel.synchronized {
      val os = channel.lock()
      try body
      finally os.release()
    }
  }

  /** Open the log at `root`: finish an interrupted manifest swap, hand
    * the manifest's snapshot to `restore`, then replay every record past
    * its fence through `apply`. The next append is numbered from the
    * last record read. */
  def open(spark: SparkSession, root: String)(restore: String => Unit)(apply: JsonNode => Unit): CatalogWal = {
    val wal = new CatalogWal(spark, root)
    wal.rollManifestForward()
    val fence = wal.readManifest().fold(-1L) { case (at, snapshot) => restore(snapshot); at }
    wal.seq = wal.scan(fence)(apply)
    wal
  }
}

/** JSON <-> mutation codec for WAL records, one op string per record
  * kind. Timestamps travel as epoch millis (catalog `now()` is
  * millis-granular); embeddings as float arrays. */
private[catalog] object WalCodec {
  import Mutation._

  private val mapper = new ObjectMapper()

  def record(m: Mutation): ObjectNode = m match {
    case LibraryPut(row, tier, _) => libRecord(row, tier)
    case LibraryDelete(id) => deleteRecord("lib_delete", id)
    case DocumentPut(row) => docRecord(row)
    case DocumentDelete(id) => deleteRecord("doc_delete", id)
    case ChunkPut(rows) => chunkRecord(rows)
    case ChunkDelete(id) => deleteRecord("chunk_delete", id)
  }

  def mutation(n: JsonNode): Mutation = n.get("op").asText() match {
    case "lib_create" | "lib_update" =>
      LibraryPut(libFrom(n), Option(n.get("index_type")).map(t => parseIndexType(t.asText())))
    case "lib_delete" => LibraryDelete(n.get("id").asText())
    case "doc_put" => DocumentPut(docFrom(n))
    case "doc_delete" => DocumentDelete(n.get("id").asText())
    case "chunk_put" => ChunkPut(chunksFrom(n))
    case "chunk_delete" => ChunkDelete(n.get("id").asText())
    case other => throw new IllegalStateException(s"Unknown WAL op: $other")
  }

  private def parseIndexType(s: String): IndexType =
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

  private def deleteRecord(op: String, id: String): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("op", op)
    n.put("id", id)
    n
  }

  /** A create is the put of a never-built row with its tier; a build's
    * put is a `lib_update` that carries its tier. */
  private def libRecord(row: LibraryRow, tier: Option[IndexType]): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("op", if (tier.isDefined && !row.is_indexed) "lib_create" else "lib_update")
    n.put("id", row.id)
    n.put("name", row.name)
    row.description.foreach(n.put("description", _))
    tier.foreach(it => n.put("index_type", it.name))
    putMeta(n, row.metadata)
    n.put("is_indexed", row.is_indexed)
    n.put("created_at", row.created_at.getTime)
    n.put("updated_at", row.updated_at.getTime)
    n
  }

  private def libFrom(n: JsonNode): LibraryRow = LibraryRow(
    n.get("id").asText(), n.get("name").asText(),
    Option(n.get("description")).map(_.asText()),
    metaFrom(n), n.get("is_indexed").asBoolean(),
    ts(n.get("created_at").asLong()), ts(n.get("updated_at").asLong()))

  private def docRecord(row: DocumentRow): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("op", "doc_put")
    n.put("id", row.id)
    n.put("library_id", row.library_id)
    n.put("name", row.name)
    row.description.foreach(n.put("description", _))
    putMeta(n, row.metadata)
    n.put("created_at", row.created_at.getTime)
    n.put("updated_at", row.updated_at.getTime)
    n
  }

  private def docFrom(n: JsonNode): DocumentRow = DocumentRow(
    n.get("id").asText(), n.get("library_id").asText(), n.get("name").asText(),
    Option(n.get("description")).map(_.asText()),
    metaFrom(n),
    ts(n.get("created_at").asLong()), ts(n.get("updated_at").asLong()))

  private def chunkRecord(rows: Seq[ChunkRow]): ObjectNode = {
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

  private def chunksFrom(n: JsonNode): Seq[ChunkRow] = {
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
