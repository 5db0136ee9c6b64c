package graft.catalog

import scala.collection.immutable.ArraySeq
import scala.reflect.ClassTag

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData, XxHash64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.expressions.{BinarySig, LshPlanes, NearestCentroidEval}
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions.{hamming_dist, sign_bits}
import graft.index.{BinaryQuant, HnswModel, IndexStore, IvfModel, IvfPqModel, LshModel}
import graft.model.{ApiError, ChunkRow, GraftConfig}
import graft.search.LocalSearch

/** Index type selector (reference: config.py:25 allows lsh|ivf; exact
  * brute-force is the always-available fallback, SURVEY.md §2.11).
  *
  * Each case object is the one definition of its tier, as each of the
  * reference's index classes owns its add, remove, search and rebuild
  * (indexes.py:103-168, 280-370): how its structures derive from its
  * empty or current state (a driver form for a resident library, a
  * Spark form for the rest, the same bits from both), its driver copy,
  * its Spark and driver candidates, its saved directories and the
  * cached table it releases. The steps every tier shares stay outside
  * it: the (id, emb_hash) reconcile ([[Derivation]]) and the
  * count-then-collect ([[IndexType.collectBounded]]). */
sealed abstract class IndexType(val name: String) {
  /** The state `indexLibrary` derives from. */
  private[catalog] def initial(dim: Int): IndexState = IndexState.empty(this)
  /** `state` (this tier's empty state, or its current one) carried to
    * the library's embedded chunks at the current version, with the
    * driver copy of its table. */
  private[catalog] def derive(state: IndexState, d: Derivation): Either[ApiError, IndexState]
  /** The derived table this tier keeps, if it has one. */
  private[catalog] def table(s: IndexState): Option[DataFrame] = None
  /** The derived table collected to the driver, when under `maxRows`
    * chunks, so the resident read path probes it without a Spark job. */
  private[catalog] def driverCopy(s: IndexState, maxRows: Long): Option[ResidentIndex] = None
  /** The candidates of the Spark read path, computed by Spark plans. */
  def sparkCandidates(s: IndexState, query: Array[Float], k: Int): Candidates
  /** The same candidates from the driver copy, or None when the state
    * has none (the search then takes the Spark path). */
  def driverCandidates(s: IndexState, query: Array[Float], k: Int): Option[Candidates]
  private[catalog] def save(s: IndexState, dir: IndexDir): Unit
  /** The state saved in `dir`, or None when `dir` holds no save of
    * this tier. */
  private[catalog] def load(dir: IndexDir): Option[IndexState]
  /** Unpersist the cached table of a state the catalog no longer holds;
    * a search still holding the state recomputes it from lineage. */
  private[catalog] final def release(s: IndexState): Unit = table(s).foreach(_.unpersist())
}

/** A tier that derives a table (LSH, IVF, IVF-PQ, binary) and keeps a
  * driver copy of it. */
sealed abstract class TableTier(name: String) extends IndexType(name) {
  /** The columns of [[table]] the driver copy reads, in order; a table
    * derived on the driver starts with the same columns. */
  protected def copyColumns: Seq[String]
  /** Table rows per chunk: the copy of a library of `maxRows` chunks
    * holds up to `maxRows` times this many rows. */
  protected def rowsPerChunk(s: IndexState): Int = 1
  /** The driver copy over rows that start with [[copyColumns]]. */
  protected def copyOf(s: IndexState, rows: Array[Row]): ResidentIndex
  override private[catalog] final def driverCopy(s: IndexState, maxRows: Long): Option[ResidentIndex] = for {
    t <- table(s)
    rows <- IndexType.collectBounded(t.select(copyColumns.map(col): _*), maxRows * rowsPerChunk(s))
  } yield copyOf(s, rows)
  /** `s`, whose table `t` derived, with its driver copy: built from the
    * driver form's rows, else collected from the Spark form's table. */
  protected final def withCopy(s: IndexState, t: Derived, d: Derivation): IndexState =
    s.copy(resident = t.rows.fold(driverCopy(s, d.maxRows))(rows => Some(copyOf(s, rows))))
}

object IndexType {
  import Candidates._

  case object Exact extends IndexType("exact") {
    private[catalog] def derive(state: IndexState, d: Derivation): Either[ApiError, IndexState] = Right(state)
    def sparkCandidates(s: IndexState, query: Array[Float], k: Int): Candidates = All
    def driverCandidates(s: IndexState, query: Array[Float], k: Int): Option[Candidates] = Some(All)
    /** Nothing is derived: the library's directory alone marks the save. */
    private[catalog] def save(s: IndexState, dir: IndexDir): Unit = dir.create()
    private[catalog] def load(dir: IndexDir): Option[IndexState] =
      Option.when(dir.exists)(IndexState.empty(this))
  }

  case object Lsh extends TableTier("lsh") {
    /** Multi-probe flips: 0 is exactly the reference's single-probe
      * candidates; >0 adds Lv-et-al multi-probe buckets (opt-in,
      * GraftConfig — either the explicit flips knob or the active recall
      * preset). */
    def flips: Int =
      GraftConfig.lshActivePreset.map(_.flips).getOrElse(GraftConfig.lshMultiProbeFlips)
    /** Reference-parity sizing by default (8x12, config.py:29-30); an
      * active recall preset (GraftConfig.lshActivePreset, measured in
      * RECALL.md) overrides tables x bits opt-in. */
    override private[catalog] def initial(dim: Int): IndexState =
      IndexState.empty(this).copy(lsh = Some(GraftConfig.lshActivePreset.fold(LshModel(dim = dim))(p =>
        LshModel(numTables = p.numTables, bitsPerTable = p.bitsPerTable, dim = dim))))
    private[catalog] def derive(state: IndexState, d: Derivation): Either[ApiError, IndexState] =
      Right(state.lsh.fold(state) { m =>
        val t = d.table(state.signatures, schema)(
          e => LshPlanes.buckets(e.array, m.numTables, m.bitsPerTable, m.dim, m.seed).toLongArray()
            .iterator.map(b => Row(e.id, b, e.hash)),
          m.build(_, "id", "embedding"))
        withCopy(state.copy(signatures = Some(t.table)), t, d)
      })
    private val schema = Derivation.schema("bucket" -> LongType)
    override private[catalog] def table(s: IndexState): Option[DataFrame] = s.signatures
    override protected def copyColumns: Seq[String] = Seq("id", "bucket")
    override protected def rowsPerChunk(s: IndexState): Int = s.lsh.fold(1)(_.numTables)
    /** One String per chunk, not one per (chunk, table): the ids
      * dominate this copy's heap. */
    override protected def copyOf(s: IndexState, rows: Array[Row]): ResidentIndex = {
      val canon = scala.collection.mutable.HashMap.empty[String, String]
      ResidentIndex.Buckets(rows.groupMap(_.getLong(1)) { r =>
        val id = r.getString(0)
        canon.getOrElseUpdate(id, id)
      }.map { case (b, ids) => b -> ids.toArray })
    }
    /** Bucket-join candidates; an EMPTY candidate set falls back to a
      * full scan (indexes.py:151-153 — the fallback fires before the
      * universe membership check, so a non-empty candidate set that the
      * metadata post-filter eliminates correctly returns < k rows, it
      * does NOT fall back). */
    def sparkCandidates(s: IndexState, query: Array[Float], k: Int): Candidates =
      (s.lsh, s.signatures) match {
        case (Some(m), Some(sigs)) =>
          val ids = m.multiProbeCandidates(sigs, query, flips)
          if (ids.isEmpty) All else Plan(ids)
        case _ => All
      }
    def driverCandidates(s: IndexState, query: Array[Float], k: Int): Option[Candidates] =
      if (s.signatures.isEmpty) Some(All)
      else s.resident.collect { case ResidentIndex.Buckets(byBucket) =>
        val ids = s.lsh.get.multiProbeBucketsOf(query, flips)
          .iterator.flatMap(b => byBucket.getOrElse(b, Array.empty[String])).toSet
        if (ids.isEmpty) All else Ids(ids)
      }
    private[catalog] def save(s: IndexState, dir: IndexDir): Unit =
      for (m <- s.lsh; sigs <- s.signatures) {
        IndexStore.writeLshModel(dir.spark, m, dir("lsh_model"))
        IndexStore.writeSignatures(sigs, dir("lsh_sigs"))
      }
    private[catalog] def load(dir: IndexDir): Option[IndexState] =
      Option.when(dir.holds("lsh_model"))(IndexState.empty(this).copy(
        signatures = Some(dir.table("lsh_sigs")._1),
        lsh = Some(IndexStore.readLshModel(dir.spark, dir("lsh_model")))))
  }

  case object Ivf extends TableTier("ivf") {
    /** An untrained tier trains once the library holds nlist chunks
      * (reference trigger semantics, indexes.py:280) and keeps its model
      * after. `assigned` is (id, cluster_id, emb_hash): every probe
      * reads the first two, the reconcile the first and last. */
    private[catalog] def derive(state: IndexState, d: Derivation): Either[ApiError, IndexState] =
      Right(state.ivf.orElse(d.rows.fold(IvfModel.trainIfReady(d.chunks, "embedding"))(es =>
          IvfModel.trainLocalIfReady(es.map(_.embedding)))).fold(state) { m =>
        val t = d.table(state.assigned, schema)(
          e => Iterator(Row(e.id, NearestCentroidEval.eval(e.array, m.centroids), e.hash)),
          m.assign(_, "embedding").select("id", "cluster_id", "emb_hash"))
        withCopy(state.copy(assigned = Some(t.table), ivf = Some(m)), t, d)
      })
    private val schema = Derivation.schema("cluster_id" -> IntegerType)
    override private[catalog] def table(s: IndexState): Option[DataFrame] = s.assigned
    override protected def copyColumns: Seq[String] = Seq("id", "cluster_id")
    override protected def copyOf(s: IndexState, rows: Array[Row]): ResidentIndex =
      ResidentIndex.Cells(rows.groupMap(cell)(_.getString(0)).map { case (c, ids) => c -> ids.toArray })
    /** Probe nprobe clusters; untrained => empty (indexes.py:343). */
    def sparkCandidates(s: IndexState, query: Array[Float], k: Int): Candidates =
      s.ivf.fold[Candidates](Empty)(m => Plan(m.candidates(s.assigned.get, query).select("id")))
    def driverCandidates(s: IndexState, query: Array[Float], k: Int): Option[Candidates] =
      s.ivf.fold[Option[Candidates]](Some(Empty))(m => s.resident.collect { case ResidentIndex.Cells(byCell) =>
        Ids(m.probe(query).iterator.flatMap(c => byCell.getOrElse(c, Array.empty[String])).toSet)
      })
    /** An untrained tier saves its marker alone. */
    private[catalog] def save(s: IndexState, dir: IndexDir): Unit =
      (s.ivf, s.assigned) match {
        case (Some(m), Some(assigned)) =>
          IndexStore.writeIvfModel(dir.spark, m, dir("ivf_model"))
          IndexStore.writeByCluster(assigned, dir("ivf_assigned"))
        case _ => dir.mark("ivf_untrained")
      }
    /** Saves from before `assigned` was narrowed hold whole chunk rows:
      * the three columns are selected on read. */
    private[catalog] def load(dir: IndexDir): Option[IndexState] =
      if (dir.holds("ivf_model")) Some(IndexState.empty(this).copy(
        assigned = Some(dir.table("ivf_assigned", Seq("id", "cluster_id", "emb_hash"))._1),
        ivf = Some(IndexStore.readIvfModel(dir.spark, dir("ivf_model")))))
      else Option.when(dir.holds("ivf_untrained"))(IndexState.empty(this))
  }

  /** Beyond reference parity (config.py:25 knows only lsh|ivf): the
    * graph tier as a first-class selectable index. Additive — a
    * reference client never sends "hnsw", so parity is untouched. */
  case object Hnsw extends IndexType("hnsw") {
    /** The graph over the library's embedded chunks, in chunk-id order
      * (a deterministic build). The graph is bounded driver state BY
      * DESIGN: past the cap the library is refused loudly instead of
      * silently indexing a truncated subset (LSH/IVF/IVF-PQ cover every
      * chunk and are the right tiers at that scale).
      *
      * Additions only INSERT into the existing graph (HnswModel.insertAll
      * — the paper's insert IS the build step, and continuing the seeded
      * level sequence keeps the result deterministic: O(new·log n)
      * instead of the full O(n log n) driver rebuild, 417 s at the 200k
      * cap). Any delete or update, detected with the (id, emb_hash) key
      * of the other tiers, rebuilds: graph unlinking is outside the
      * paper's contract and tombstones decay recall silently. Inserted
      * ids need not sort after existing ones, so an insert-refreshed
      * graph can differ from a from-scratch build of the same corpus; it
      * is still a deterministic function of the refresh history. */
    private[catalog] def derive(state: IndexState, d: Derivation): Either[ApiError, IndexState] = {
      val cap = d.hnswCap
      // a Spark-form library is counted first, so a past-cap library is
      // refused before any embedding reaches the driver
      d.rows.fold(collectBounded(d.chunks.select("id", "embedding", "emb_hash"), cap).map(_.map(r =>
          (r.getString(0), r.getSeq[Float](1).toArray, r.getLong(2)))))(es =>
          Option.when(es.length <= cap)(es.map(e => (e.id, e.embedding, e.hash)))) match {
        case None => Left(ApiError.Validation(
          s"hnsw index holds bounded graph state: more than $cap chunks; use ivf or ivfpq"))
        case Some(rows) =>
          val live = rows.sortBy(_._1)
          val liveByKey = live.map(r => (r._1, r._3)).toMap
          val hnsw = state.hnsw.filter(s => s.embHashes.length == s.chunkIds.length &&
              s.chunkIds.indices.forall(i => liveByKey.get(s.chunkIds(i)).contains(s.embHashes(i)))) match {
            case Some(s) =>
              val known = s.chunkIds.toSet
              val fresh = live.filterNot(r => known(r._1))
              Some(if (fresh.isEmpty) s
                else HnswState(s.graph.insertAll(
                    Array.tabulate(fresh.length)(j => (s.graph.size + j).toLong), fresh.map(_._2), cap),
                  s.chunkIds ++ fresh.map(_._1), s.embHashes ++ fresh.map(_._3)))
            case None => Option.when(live.nonEmpty)(HnswState(HnswModel.fromVectors(
              Array.tabulate(live.length)(_.toLong), live.map(_._2), cap = cap), live.map(_._1), live.map(_._3)))
          }
          Right(state.copy(hnsw = hnsw))
      }
    }
    /** Graph navigation proposes the candidates on the driver, for both
      * read paths (fetch factor 4k, floor 50 — the two-tier contract:
      * graph error is removed by the exact rerank). The graph covers all
      * indexed chunks, so like IVF a selective metadata filter may
      * return < k — the reference's observable post-filter semantics.
      * An unbuilt graph searches exactly. */
    def sparkCandidates(s: IndexState, query: Array[Float], k: Int): Candidates =
      s.hnsw.fold[Candidates](All) { hs =>
        val fetch = math.max(4 * k, 50)
        Ids(hs.graph.search(query, fetch, ef = math.max(100, fetch))
          .iterator.map { case (node, _) => hs.chunkIds(node.toInt) }.toSet)
      }
    def driverCandidates(s: IndexState, query: Array[Float], k: Int): Option[Candidates] =
      Some(sparkCandidates(s, query, k))
    /** A library with no embedded chunk has no graph: its marker alone. */
    private[catalog] def save(s: IndexState, dir: IndexDir): Unit =
      s.hnsw.fold(dir.mark("hnsw_empty")) { hs =>
        import dir.spark.implicits._
        HnswModel.write(dir.spark, hs.graph, dir("hnsw_graph"))
        hs.chunkIds.indices.map(i => (i, hs.chunkIds(i), hs.embHashes.lift(i).getOrElse(0L)))
          .toDF("idx", "chunk_id", "emb_hash").coalesce(1).write.mode("overwrite").parquet(dir("hnsw_ids"))
      }
    private[catalog] def load(dir: IndexDir): Option[IndexState] =
      if (!dir.holds("hnsw_graph")) Option.when(dir.holds("hnsw_empty"))(IndexState.empty(this))
      else Some {
        val g = HnswModel.read(dir.spark, dir("hnsw_graph"))
        val idsDf = dir.spark.read.parquet(dir("hnsw_ids"))
        // layouts persisted before emb_hash was stored load without
        // hashes: the additions-only check then fails closed and the
        // first refresh rebuilds (re-establishing hashes)
        val cols = Seq("idx", "chunk_id", "emb_hash").filter(idsDf.columns.contains)
        val rows = idsDf.select(cols.map(col): _*).orderBy("idx").collect()
        val hashes = if (cols.size == 3) rows.map(_.getLong(2)) else Array.empty[Long]
        IndexState.empty(this).copy(hnsw = Some(HnswState(g, rows.map(_.getString(1)), hashes)))
      }
  }

  /** The composed residual-coded index (IvfPqModel) as a selectable
    * type — 32x-compressed candidate tier behind the same facade.
    * Additive like Hnsw. */
  case object IvfPq extends TableTier("ivfpq") {
    /** Candidate budget: 4k, floor 50. */
    def fetch(k: Int): Int = math.max(4 * k, 50)
    /** Coarse centroids + residual codebooks, trained once like IVF
      * (n >= nlist, indexes.py:280); below the threshold the tier stays
      * untrained (searches return empty, matching untrained IVF). `m`
      * adapts to the embedding dimension (largest power of two <= 8
      * dividing it). */
    private[catalog] def derive(state: IndexState, d: Derivation): Either[ApiError, IndexState] = {
      val m = Seq(8, 4, 2, 1).find(d.dim % _ == 0).get
      Right(state.ivfpq.map(_.coded).orElse(d.rows.fold(IvfModel.trainIfReady(d.chunks, "embedding")
          .map(IvfPqModel.withCoarse(_, d.chunks, "embedding", m = m))) { es =>
          Option.when(es.length >= GraftConfig.ivfNlist)(IvfPqModel.trainLocal(es.map(_.embedding), m = m))
        }).fold(state) { coded =>
          val t = d.table(state.ivfpq.map(_.encoded), schema)(
            e => {
              val (cell, codes) = coded.encodeLocal(e.array)
              Iterator(Row(e.id, cell, ArraySeq.unsafeWrapArray(codes), e.hash))
            },
            coded.encode(_, "id", "embedding"))
          withCopy(state.copy(ivfpq = Some(IvfPqState(coded, t.table))), t, d)
        })
    }
    private val schema = Derivation.schema("cluster_id" -> IntegerType,
      "codes" -> ArrayType(IntegerType, containsNull = false))
    override private[catalog] def table(s: IndexState): Option[DataFrame] = s.ivfpq.map(_.encoded)
    override protected def copyColumns: Seq[String] = Seq("id", "cluster_id", "codes")
    override protected def copyOf(s: IndexState, rows: Array[Row]): ResidentIndex =
      ResidentIndex.Codes(IvfPqModel.LocalCodes(rows.map(_.getString(0)),
        rows.map(cell), rows.map(_.getSeq[Int](2).toArray)))
    /** Residual-ADC candidates over the encoded codes (probe nprobe
      * cells, fetch 4k floor 50); untrained => empty, like plain IVF. */
    def sparkCandidates(s: IndexState, query: Array[Float], k: Int): Candidates =
      s.ivfpq.fold[Candidates](Empty)(p =>
        Plan(p.candidatesWith(query, nprobe = GraftConfig.ivfNprobe, n = fetch(k)).select("id")))
    def driverCandidates(s: IndexState, query: Array[Float], k: Int): Option[Candidates] =
      s.ivfpq.fold[Option[Candidates]](Some(Empty))(p => s.resident.collect { case ResidentIndex.Codes(codes) =>
        Ids(p.coded.candidatesLocal(codes, query, GraftConfig.ivfNprobe, fetch(k)).toSet)
      })
    /** An untrained tier saves its marker alone. */
    private[catalog] def save(s: IndexState, dir: IndexDir): Unit =
      s.ivfpq.fold(dir.mark("ivfpq_untrained")) { p =>
        IndexStore.writeIvfModel(dir.spark, p.coded.ivf, dir("ivfpq_centroids"))
        IndexStore.writePqModel(dir.spark, p.coded.pq, dir("ivfpq_codebooks"))
        IndexStore.writeByCluster(p.encoded, dir("ivfpq_encoded"))
      }
    private[catalog] def load(dir: IndexDir): Option[IndexState] =
      if (dir.holds("ivfpq_centroids")) Some(IndexState.empty(this).copy(ivfpq = Some(IvfPqState(
        IvfPqModel(IndexStore.readIvfModel(dir.spark, dir("ivfpq_centroids")),
          IndexStore.readPqModel(dir.spark, dir("ivfpq_codebooks"))),
        dir.table("ivfpq_encoded")._1))))
      else Option.when(dir.holds("ivfpq_untrained"))(IndexState.empty(this))
  }

  /** Binary sign-quantization tier (graft.index.BinaryQuant): 1
    * bit/dim packed signatures, Hamming top-C prefilter, exact rerank.
    * Untrained by construction (a stored float's sign is the code), so
    * unlike LSH/IVF there is no model state at all — the index IS the
    * (id, sig, emb_hash) table, the prefilter's whole scan. Additive
    * like Hnsw. */
  case object Binary extends TableTier("binary") {
    /** Candidate budget over `n` signatures: n-proportional, since
      * 1-bit/dim signatures lose recall at FIXED C as the corpus grows
      * (measured curve in GraftConfig.binaryCandidateFraction's doc). */
    def fetch(n: Long, k: Int): Int =
      math.max(math.max(4 * k, 64), math.ceil(n * GraftConfig.binaryCandidateFraction).toInt)
    /** `sig` is the packed sign bits (ceil(dim/64) longs). */
    private[catalog] def derive(state: IndexState, d: Derivation): Either[ApiError, IndexState] = {
      val t = d.table(state.signatures, schema)(
        e => Iterator(Row(e.id, ArraySeq.unsafeWrapArray(BinarySig.pack(e.array).toLongArray()), e.hash)),
        _.select(col("id"), sign_bits(col("embedding")).as("sig"), col("emb_hash")))
      Right(withCopy(state.copy(signatures = Some(t.table), sigCount = Some(t.count)), t, d))
    }
    private val schema = Derivation.schema("sig" -> ArrayType(LongType, containsNull = false))
    override private[catalog] def table(s: IndexState): Option[DataFrame] = s.signatures
    override protected def copyColumns: Seq[String] = Seq("id", "sig")
    override protected def copyOf(s: IndexState, rows: Array[Row]): ResidentIndex =
      ResidentIndex.Sigs(rows.map(_.getString(0)), rows.map(r =>
        UnsafeArrayData.fromPrimitiveArray(r.getSeq[Long](1).toArray)))
    /** Hamming top-C over the signature table (integer distance, id
      * tiebreak — a per-partition heap over 8-byte-per-64-dims rows, the
      * cheapest prefilter scan of any tier). Never empty for a non-empty
      * index, so there is no LSH-style fallback. */
    def sparkCandidates(s: IndexState, query: Array[Float], k: Int): Candidates =
      s.signatures.fold[Candidates](All) { sigs =>
        val n = s.sigCount.getOrElse(sigs.count())
        Plan(sigs.withColumn("ham", hamming_dist(col("sig"), typedLit(BinaryQuant.pack(query).toSeq)))
          .orderBy(col("ham").asc, col("id").asc)
          .limit(fetch(n, k))
          .select("id"))
      }
    def driverCandidates(s: IndexState, query: Array[Float], k: Int): Option[Candidates] =
      if (s.signatures.isEmpty) Some(All)
      else s.resident.collect { case ResidentIndex.Sigs(ids, sigs) =>
        val q = UnsafeArrayData.fromPrimitiveArray(BinaryQuant.pack(query))
        val scored = ids.indices.iterator.map(i => (BinarySig.hamming(sigs(i), q).toDouble, ids(i)))
        val n = fetch(s.sigCount.getOrElse(ids.length.toLong), k)
        Ids(LocalSearch.firstN(scored, n, LocalSearch.ascending).iterator.map(_._2).toSet)
      }
    private[catalog] def save(s: IndexState, dir: IndexDir): Unit =
      s.signatures.foreach(IndexStore.writeSignatures(_, dir("binary_sigs")))
    private[catalog] def load(dir: IndexDir): Option[IndexState] =
      Option.when(dir.holds("binary_sigs")) {
        val (sigs, n) = dir.table("binary_sigs")
        IndexState.empty(this).copy(signatures = Some(sigs), sigCount = Some(n))
      }
  }

  /** Every type, in the order HTTP error messages list their names. */
  val all: Seq[IndexType] = Seq(Lsh, Ivf, Exact, Hnsw, IvfPq, Binary)
  /** The order `loadIndex` probes a saved directory in: exact last, as
    * its save is the directory alone. */
  private[catalog] val loadOrder: Seq[IndexType] = Seq(Lsh, Ivf, IvfPq, Hnsw, Binary, Exact)
  /** The canonical selectable names (HTTP error messages, WAL records
    * and docs derive from this — one list, no drift; "flat" stays an
    * accepted alias of exact). */
  val names: Seq[String] = all.map(_.name)
  def parse(s: String): Either[ApiError, IndexType] = s.toLowerCase match {
    case "flat" => Right(Exact)
    case other => all.find(_.name == other)
      .toRight(ApiError.Validation(s"Invalid index type: $other"))
  }

  /** `df`'s rows when it holds at most `maxRows`, else None. The count
    * job comes first, so an over-cap table never reaches the driver. */
  private[catalog] def collectBounded(df: DataFrame, maxRows: Long): Option[Array[Row]] =
    if (rowCount(df) > maxRows) None else Some(df.collect())

  /** `df.count()` in ONE job: no aggregation exchange (which adaptive
    * execution runs as a job of its own), no row conversion. */
  private[catalog] def rowCount(df: DataFrame): Long =
    df.select(lit(1)).queryExecution.toRdd.count()

  /** The `cluster_id` of a collected (id, cluster_id, ...) row. */
  private def cell(r: Row): Int = r.getAs[Number](1).intValue
}

/** Which chunks a tier's probe admits to the exact rerank, on either
  * read path. */
sealed trait Candidates
object Candidates {
  /** Every chunk of the filtered universe (exact, an unbuilt tier, or
    * LSH's fallback). */
  case object All extends Candidates
  /** Untrained IVF / IVF-PQ: no results by contract. */
  case object Empty extends Candidates
  /** Chunk ids computed on the driver. */
  final case class Ids(ids: Set[String]) extends Candidates
  /** A Spark plan of chunk ids (its `id` column); the Spark path only. */
  final case class Plan(ids: DataFrame) extends Candidates
}

/** One derivation's input: the library's embedded chunks at the current
  * version, and the reconcile every derived table (LSH and binary
  * signatures, IVF `assigned`, IVF-PQ `encoded`) shares. A resident
  * library hands its tier the rows it shows (`rows`, its driver form);
  * any other, the chunk view with emb_hash (`chunks`, its Spark form).
  * Both are read on first use, so a tier that derives nothing (exact)
  * reads neither. */
private[catalog] final class Derivation(spark: SparkSession, val dim: Int, val hnswCap: Int,
    chunksOf: => DataFrame, residentOf: => Option[Array[ChunkRow]]) {
  import Derivation.Embedded

  lazy val chunks: DataFrame = chunksOf
  /** The library's embedded chunks, in the order the Spark form
    * collects `chunks`: folded-base rows in partition order, then
    * buffered upserts in insertion order. None: the Spark form. */
  lazy val rows: Option[Array[Embedded]] = residentOf.map { rs =>
    val live = rs.filter(_.embedding.isDefined)
    Derivation.parTabulate(live.length)(i => new Embedded(live(i).id, live(i).embedding.get))
  }
  /** The chunks of a library whose driver copy is kept. */
  def maxRows: Long = LocalSearch.maxRows(dim).toLong

  /** The tier's table carried from `current` to the library's chunks.
    * Driver form: each live (id, emb_hash) key's rows from `local` — the
    * rows the Spark reconcile keeps are those the same model derives
    * from the same embedding, so deriving every key gives the same bag
    * of rows — in a DataFrame over driver rows (what
    * `spark.createDataFrame` builds, converted on every core), with no
    * cache and no job. Spark form: [[reconcile]] with `deriveRows`.
    * `current` is released. */
  def table(current: Option[DataFrame], schema: StructType)(
      local: Embedded => Iterator[Row], deriveRows: DataFrame => DataFrame): Derived =
    rows match {
      case Some(es) =>
        val out = Derivation.parTabulate(es.length)(i => local(es(i)).toArray).flatten
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
        val internal = Derivation.parTabulate(out.length)(i => toCatalyst(out(i)).asInstanceOf[InternalRow])
        current.foreach(_.unpersist())
        Derived(Bridge.localDataFrame(spark, schema, ArraySeq.unsafeWrapArray(internal)), out.length, Some(out))
      case None =>
        val (t, n) = reconcile(current, deriveRows)
        Derived(t, n, None)
    }

  /** `current` carried to `chunks` on (id, emb_hash), not id alone: a
    * chunk updated with new text is re-embedded under the SAME id, and
    * its hash turns the change into delete + insert. Rows whose key is
    * live are kept, changed or new chunks go through `deriveRows` (the
    * existing model); a table with no emb_hash (none yet, or persisted
    * before the column existed) is derived in full. The result is
    * cached and counted — the derivation is the batch job — and
    * `current` is released. */
  def reconcile(current: Option[DataFrame], deriveRows: DataFrame => DataFrame): (DataFrame, Long) = {
    val table = current.filter(_.columns.contains("emb_hash")) match {
      case None => deriveRows(chunks)
      case Some(cur) =>
        val key = Seq("id", "emb_hash")
        // re-select in the table's column order: a using-columns
        // semi-join moves the join keys first
        cur.join(chunks.select(key.map(col): _*), key, "left_semi")
          .select(cur.columns.map(col).toIndexedSeq: _*)
          .unionByName(deriveRows(chunks.join(cur.select(key.map(col): _*).distinct(), key, "left_anti")))
    }
    val cached = table.cache()
    val n = cached.count()
    current.foreach(_.unpersist())
    (cached, n)
  }
}

private[catalog] object Derivation {
  /** One embedded chunk of a resident library. `hash` is its emb_hash:
    * `xxhash64(embedding)`'s own expression evaluated on the driver. */
  final class Embedded(val id: String, val embedding: Array[Float]) {
    val array: ArrayData = UnsafeArrayData.fromPrimitiveArray(embedding)
    val hash: Long = embHash.eval(InternalRow(array)).asInstanceOf[Long]
  }
  private val embHash = XxHash64(Seq(BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = false)), 42L)

  /** `f` over `0 until n` on every core (the common fork-join pool), in
    * runs of adjacent indexes, each result stored at its index: the
    * output is the serial map's. */
  def parTabulate[A: ClassTag](n: Int)(f: Int => A): Array[A] = {
    val out = new Array[A](n)
    val runs = math.max(1, math.min(n / 256, 4 * Runtime.getRuntime.availableProcessors))
    java.util.stream.IntStream.range(0, runs).parallel().forEach { r =>
      var i = (r.toLong * n / runs).toInt
      val end = ((r + 1).toLong * n / runs).toInt
      while (i < end) { out(i) = f(i); i += 1 }
    }
    out
  }

  /** A derived table's schema: id, the tier's columns, emb_hash. */
  def schema(cols: (String, DataType)*): StructType =
    StructType((("id" -> StringType) +: cols :+ ("emb_hash" -> LongType)).map { case (n, t) =>
      StructField(n, t, nullable = n == "id")
    })
}

/** A derived table, its row count, and its rows when the driver form
  * derived it. */
private[catalog] final case class Derived(table: DataFrame, count: Long, rows: Option[Array[Row]])

/** One library's directory in a catalog save (`<path>/indexes/<id>`).
  * Existence checks go through the Hadoop FileSystem of the path: the
  * tiers write through Spark's Hadoop-capable writers, so the index may
  * live on HDFS/S3, where `java.io.File` always says no. */
private[catalog] final class IndexDir(val spark: SparkSession, path: String) {
  private val root = new Path(path)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  def apply(name: String): String = s"$path/$name"
  def exists: Boolean = fs.exists(root)
  def holds(name: String): Boolean = fs.exists(new Path(root, name))
  def create(): Unit = fs.mkdirs(root)
  /** Save a tier with nothing derived: the directory and an empty
    * marker file named `name`. */
  def mark(name: String): Unit = fs.create(new Path(root, name), true).close()
  /** A saved derived table, whole, with its emb_hash, cached and
    * counted like a derived one: every search probes it, and the next
    * refresh reconciles on it. `cols`, when given, are the columns kept
    * (those the save holds). */
  def table(name: String, cols: Seq[String] = Nil): (DataFrame, Long) = {
    val saved = IndexStore.readTable(spark, apply(name))
    val kept = cols.filter(saved.columns.contains)
    val t = (if (kept.isEmpty) saved else saved.select(kept.map(col): _*)).cache()
    (t, t.count())
  }
}

/** Built HNSW graph for one library: graph node i holds the vector of
  * chunk `chunkIds(i)` (chunk ids are uuids; the graph keys by dense
  * node index internally). Bounded driver/broadcast state like the
  * LSH/IVF models (HnswModel.maxGraphVectors). */
final case class HnswState(graph: HnswModel, chunkIds: Array[String],
    embHashes: Array[Long] = Array.empty)

/** Built IVF-PQ state for one library: the trained residual-coded
  * model and the encoded (id, cluster_id, codes) table: 8 bytes of
  * codes per chunk vs the full float vector. */
final case class IvfPqState(coded: IvfPqModel, encoded: DataFrame) {
  def candidatesWith(query: Array[Float], nprobe: Int, n: Int): DataFrame =
    coded.candidates(encoded, query, nprobe, n)
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
  /** IVF-PQ: (id, cell, codes) rows. */
  final case class Codes(codes: IvfPqModel.LocalCodes) extends ResidentIndex
  /** Binary: (id, packed signature) rows. */
  final case class Sigs(ids: Array[String], sigs: Array[ArrayData]) extends ResidentIndex
}

/** Versioned per-library index state: the Spark-native replacement for
  * the reference's mutable `IndexManager` registry + locks
  * (library_service.py:18, concurrency.py). DataFrames are immutable, so
  * "locking" reduces to an atomic swap of this state. */
final case class IndexState(
    indexType: IndexType,
    signatures: Option[DataFrame],   // LSH: (id, bucket, emb_hash); Binary: (id, sig, emb_hash)
    assigned: Option[DataFrame],     // IVF: (id, cluster_id, emb_hash)
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

object IndexState {
  /** A tier with nothing derived and no build yet. */
  def empty(indexType: IndexType): IndexState =
    IndexState(indexType, None, None, None, None, -1L)
}
