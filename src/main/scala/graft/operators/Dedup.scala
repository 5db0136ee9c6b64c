package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.expressions.{MinHashSignature, SimHash64, StringHash64}
import graft.functions.GraftFunctions

/**
 * Deduplication operators for training-data pipelines, each designed to
 * scale: no driver-side loops, candidate generation always via
 * hash-bucket equi-joins (shuffle on bucket key), exact verification only
 * on candidate pairs.
 *
 *  - exact:     one groupBy on a text hash (single shuffle).
 *  - minhash:   shingle -> MinHash signature -> LSH bands -> bucket join.
 *  - simhash:   64-bit fingerprint -> 4x16-bit chunk index (finds all
 *               pairs within Hamming distance 3 by pigeonhole).
 *  - ngram:     exact Jaccard via shingle inverted index (the standard
 *               "explode + self-join on shingle" plan).
 *  - embedding: cosine near-dup via random-hyperplane buckets, exact
 *               verify on candidates.
 */
object Dedup {

  def simhash(tokens: Column, seed: Long = 42L): Column =
    Bridge.column(SimHash64(Bridge.expression(tokens), seed))

  /**
   * Distinct candidate pairs (id_a < id_b) of ids sharing a bucket:
   * groupBy the bucket key, collect the member ids, expand pairs inside
   * each group. Evaluates the upstream plan ONCE (a self-join would run
   * it per side) and shuffles each id exactly once per bucket row. A
   * bucket of size m yields m(m-1)/2 pairs — callers bound worst-case
   * buckets upstream (stop-shingle pruning / bucket caps) at scale.
   */
  private def bucketPairs(df: DataFrame, bucketCols: Seq[String],
      payload: Seq[String] = Nil, dedup: Boolean = true): DataFrame = {
    val member = struct(col("id") +: payload.map(col): _*)
    val pairCols =
      Seq(col("pair._1.id").as("id_a"), col("pair._2.id").as("id_b")) ++
        payload.flatMap(p => Seq(col(s"pair._1.$p").as(s"${p}_a"),
          col(s"pair._2.$p").as(s"${p}_b")))
    val pairs = df.groupBy(bucketCols.map(col): _*)
      .agg(sort_array(collect_set(member)).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("_1"), y.as("_2")))))).as("pair"))
      .select(pairCols: _*)
    if (dedup) pairs.dropDuplicates("id_a", "id_b") else pairs
  }

  def minhash(tokens: Column, numHashes: Int, seed: Long = 42L): Column =
    Bridge.column(MinHashSignature(Bridge.expression(tokens), numHashes, seed))

  /**
   * Exact duplicate groups by full-text hash: one row per distinct text,
   * with the kept (minimum) id and the duplicate count.
   */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Rows surviving exact dedup (min-id representative per text). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDuplicateGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /**
   * MinHash-LSH candidate pairs: signature of `numHashes` hashes split
   * into `bands` bands; docs sharing any band land in the same bucket.
   * Exact Jaccard (on distinct shingles) verifies candidates >= minJaccard.
   * Output: (id_a, id_b, jaccard) with id_a < id_b.
   */
  /** Banded minhash signature table (id, band, bucket) for a text
    * column — the joinable form of the LSH index. Shared by the batch
    * pair generators and the stream-static flagger (CorpusStream). */
  def minHashBanded(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    df.select(col(idCol).as("id"),
        TextAnalysis.shingles(col(textCol), shingleSize).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("sig", minhash(col("shingles"), numHashes, seed))
      .select(col("id"), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * rows + 1, lit(rows)))).as(Seq("band", "bucket")))
  }

  def minHashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.5, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val shingleTable = df.select(col(idCol).as("id"),
        TextAnalysis.shingles(col(textCol), shingleSize).as("shingles"))
      .filter(size(col("shingles")) > 0)

    // Band WITHOUT carrying the shingle arrays: only (id, band, bucket)
    // triples shuffle. Pairs are generated INSIDE each bucket group
    // (groupBy + collect_list + in-array pair expansion) rather than a
    // bucket self-join — one shuffle and one execution of the
    // shingle+minhash pipeline instead of two, and at scale the
    // difference between shuffling ids and shuffling whole documents.
    // The bucket key is the RAW signature slice (array<long>), not a
    // re-hash of it: equality is the same relation minus re-hash
    // collisions, grouping on a short array costs the same shuffle,
    // and the whole pipeline stays replayable by the DuckDB oracle.
    val banded = shingleTable
      .withColumn("sig", minhash(col("shingles"), numHashes, seed))
      .select(col("id"), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * rows + 1, lit(rows)))).as(Seq("band", "bucket")))

    val candidates = bucketPairs(banded, "band" :: "bucket" :: Nil)
    verifyJaccard(candidates, shingleTable, minJaccard)
  }

  /**
   * Exact Jaccard verification of candidate id pairs with ONE scan of
   * the shingle table: melt each pair into two (pair, role, id) rows,
   * join the arrays once, reassemble both sides per pair in the
   * aggregate. Joining the arrays per side would scan + re-shingle the
   * corpus twice.
   */
  private def verifyJaccard(candidates: DataFrame, shingleTable: DataFrame,
      minJaccard: Double): DataFrame = {
    val melted = candidates.select(col("id_a"), col("id_b"),
        explode(array(struct(lit("a").as("role"), col("id_a").as("id")),
          struct(lit("b").as("role"), col("id_b").as("id")))).as("m"))
      .select(col("id_a"), col("id_b"), col("m.role"), col("m.id"))
    melted.join(shingleTable, Seq("id"))
      .groupBy("id_a", "id_b")
      .agg(first(when(col("role") === "a", col("shingles")), ignoreNulls = true).as("sh_a"),
        first(when(col("role") === "b", col("shingles")), ignoreNulls = true).as("sh_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Exact n-gram Jaccard similarity pairs via shingle inverted index:
   * explode distinct shingles, self-join on shingle, count common
   * shingles per pair, then Jaccard = common / (|A| + |B| - common).
   * Scales as the classic similarity-join plan (shuffle on shingle);
   * stop-shingle removal (df > maxShingleFreq) bounds the worst bucket.
   *
   * `usePrefixFilter` opts into PPJoin-style prefix filtering — worth
   * it ONLY for long documents over a long-tail shingle vocabulary
   * (prefixes are then selective). On short docs / small vocabularies
   * the rarest shingles are still common, candidates explode, and the
   * default counting plan wins at every threshold (measured: 10x on
   * the synthetic corpus at t=0.6).
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minJaccard: Double = 0.5,
      maxShingleFreq: Long = Long.MaxValue,
      usePrefixFilter: Boolean = false): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        TextAnalysis.shingles(col(textCol), shingleSize).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .select(col("id"), size(col("shingles")).as("n_sh"),
        explode(col("shingles")).as("shingle"))

    if (!usePrefixFilter) {
      // Counting plan (default): the inverted-index self-join STREAMS
      // each co-shingle occurrence as one narrow row straight into the
      // counting hash aggregate — unlike an in-bucket pair expansion,
      // nothing quadratic is ever materialized per hot shingle. The
      // explicit repartition makes every consumer an IDENTICAL plan
      // partitioned on the join key: one exchange, executed once,
      // reused by the other side (ReuseExchange) — the tokenize+
      // shingle pipeline runs once.
      // Join on the 64-bit shingle FINGERPRINT, not the string: the
      // exchange row shrinks from (~20-40B string, id, n_sh) to
      // (8B long, id, n_sh) — the co-occurrence count is identical
      // unless two distinct shingles collide in 64 bits (~2^-64 per
      // pair; the hash-compared oracle, which joins on strings, would
      // catch exactly that).
      // PINNED partition count (round 17): with a bare repartition(col)
      // AQE coalesces the exchange by BYTES (advisory/minPartitionSize),
      // but the counting join downstream EXPLODES each narrow row into
      // per-pair work — 3.2 MiB of shuffle carried ~4 CPU-seconds of
      // pair counting in 3 coalesced tasks at sf0.1. Pin the exchange
      // to the session's parallelism so the CPU-dense stage keeps it;
      // at cluster scale defaultParallelism is the configured core
      // count, exactly what a CPU-bound stage wants.
      val byShingle = sh
        .select(Bridge.column(StringHash64(
          Bridge.expression(col("shingle")))).as("shingle"),
          col("id"), col("n_sh"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism,
          col("shingle"))
      // Stop-shingle pruning to bound bucket skew at scale: heavy
      // shingles are FEW (broadcast-able) — a groupBy + broadcast
      // anti-join beats a window count, which would sort-and-buffer the
      // hottest bucket in one task (exactly the partition that breaks
      // at 100 TB). Measured honesty: the df aggregate's exchange has
      // partial-agg beneath it, so ReuseExchange does NOT dedup it with
      // the join-side exchange (the a/b sides do reuse) — the prune
      // costs one extra narrow codegen'd scan. The alternative (group
      // by shingle, cap, expand pairs in-group — one scan, no join)
      // measured ~10% SLOWER at sf0.1: collect_list materialization +
      // interpreted HOF expansion cost more than the extra scan.
      val pruned =
        if (maxShingleFreq == Long.MaxValue) byShingle
        else {
          val heavy = byShingle.groupBy("shingle").agg(count(lit(1)).as("df_count"))
            .filter(col("df_count") > maxShingleFreq).select("shingle")
          byShingle.join(broadcast(heavy), Seq("shingle"), "left_anti")
        }
      val a = pruned.select(col("shingle"), col("id").as("id_a"), col("n_sh").as("n_a"))
      val b = pruned.select(col("shingle"), col("id").as("id_b"), col("n_sh").as("n_b"))
      a.join(b, Seq("shingle"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(count(lit(1)).as("common"))
        .withColumn("jaccard", col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")))
        .filter(col("jaccard") >= minJaccard)
        .select("id_a", "id_b", "jaccard")
    } else {
      // Prefix filtering (SSJoin/PPJoin family, Chaudhuri et al. 2006 /
      // Xiao et al. 2008): under a global rarest-first shingle order,
      // any pair with Jaccard >= t must share a shingle within each
      // side's first (|S| - ceil(t*|S|) + 1) shingles. Only prefixes
      // join, collapsing the candidate space from sum(df^2) over ALL
      // shingles to the rare-shingle prefixes — WHEN rare shingles are
      // actually selective (long-tail vocabularies; see scaladoc).
      // per-shingle document frequency via aggregation (no hot-bucket
      // sort), joined back for the rarest-first per-doc ranking
      val pruned =
        if (maxShingleFreq == Long.MaxValue) sh
        else {
          val heavy = sh.groupBy("shingle").agg(count(lit(1)).as("df_count"))
            .filter(col("df_count") > maxShingleFreq).select("shingle")
          sh.join(broadcast(heavy), Seq("shingle"), "left_anti")
        }
      val freq = pruned.groupBy("shingle").agg(count(lit(1)).as("df_count"))
      val ranked = pruned.join(freq, Seq("shingle"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("id")
            .orderBy(col("df_count").asc, col("shingle").asc)))
        .withColumn("prefix_len",
          col("n_sh") - ceil(col("n_sh") * minJaccard).cast("int") + 1)
      val prefix = ranked.filter(col("rn") <= col("prefix_len"))
        .select(col("shingle"), col("id"), col("n_sh"), col("rn"))

      // PPJoin length filter: jaccard >= t forces the set sizes within
      // a factor of t of each other — applied at pair expansion, before
      // any array work, it kills the size-mismatched candidate mass.
      //
      // PPJoin POSITIONAL filter (Xiao et al. 2008 §3.2): a shared
      // prefix shingle at ranks (rn_a, rn_b) of the rarest-first order
      // bounds the overlap at 1 + min(n_a - rn_a, n_b - rn_b), and
      // jaccard >= t needs overlap >= t/(1+t) * (n_a + n_b). Shared
      // shingles appear in the SAME relative order on both sides
      // (one global order), so the pair's first shared shingle
      // maximizes the bound — keeping a pair when ANY of its prefix
      // co-occurrences passes is exactly the canonical first-match
      // test, which is why the expansion runs dedup=false and pairs
      // dedup AFTER the positional prune (dedup-first would keep an
      // arbitrary, possibly stricter, occurrence and over-prune).
      val candidates = bucketPairs(prefix, Seq("shingle"),
          payload = Seq("n_sh", "rn"), dedup = false)
        .filter(col("n_sh_a") >= ceil(col("n_sh_b") * minJaccard) &&
          col("n_sh_b") >= ceil(col("n_sh_a") * minJaccard))
        .filter(lit(1) + least(col("n_sh_a") - col("rn_a"), col("n_sh_b") - col("rn_b")) >=
          lit(minJaccard / (1.0 + minJaccard)) * (col("n_sh_a") + col("n_sh_b")))
        .select("id_a", "id_b").dropDuplicates("id_a", "id_b")

      // exact verification: single scan of the shingle arrays
      val arrays = df.select(col(idCol).as("id"),
          TextAnalysis.shingles(col(textCol), shingleSize).as("shingles"))
        .filter(size(col("shingles")) > 0)
      verifyJaccard(candidates, arrays, minJaccard)
    }
  }

  /**
   * Connected components over an undirected pair list (id_a, id_b):
   * the dedup-cluster step — every near-dup pair group collapses to one
   * component labeled by its minimum member id. Iterative min-label
   * propagation: each round every vertex takes the min of its own and
   * its neighbors' labels; converges in O(component diameter) rounds
   * (near-dup clusters are small and dense, so a handful). Each round
   * is one join + one aggregation, distributed; the driver only checks
   * the convergence counter. `localCheckpoint` cuts plan lineage so
   * round N does not replay rounds 1..N-1.
   */
  /** Below this edge count, components are solved with a driver-side
    * union-find: one collect of (id_a, id_b) longs instead of
    * O(diameter) distributed rounds, each of which costs a full job.
    * The label function (min member id) is identical on both paths. */
  val localCcMaxEdges: Long = 1000000L

  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // The local fast path requires integral ids (a cast("long") on
    // string ids would silently null them out); any other id type goes
    // distributed, which is type-generic.
    val integralIds = pairs.schema.take(2).forall(f => f.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    })
    if (!integralIds) return connectedComponentsDistributed(pairs, maxIter)
    // size-guarded collect: ONE execution of the (possibly expensive)
    // pair pipeline decides the path AND feeds the local solver — a
    // count() first would run the pipeline twice
    val sample = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .limit(localCcMaxEdges.toInt + 1).collect()
    if (sample.length <= localCcMaxEdges)
      connectedComponentsLocal(sample.map(r => (r.getLong(0), r.getLong(1))),
        pairs.sparkSession)
    else connectedComponentsDistributed(pairs, maxIter)
  }

  /** The distributed min-label loop (any edge count; one join + one
    * aggregation per round). Kept callable directly for testing and
    * for callers that know the graph is big. */
  def connectedComponentsDistributed(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val und = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(false)
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(false)
    // the changed-counter rides the eager-checkpoint job as an
    // accumulator instead of a separate count() job per round (was 2
    // jobs/round). Task retries can only OVER-count rows that truly
    // changed — a converged round (zero changes) never adds — so the
    // exit condition stays exact and the loud non-convergence guard
    // keeps its guarantee.
    val acc = pairs.sparkSession.sparkContext.longAccumulator("cc-changed")
    val markChanged = udf((chg: Boolean) => { if (chg) acc.add(1L); chg })
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = und.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      acc.reset()
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
          markChanged(coalesce(col("nbr_label"), col("label")) < col("label")).as("__chg"))
        .localCheckpoint(true) // eager: runs the round's one job, filling acc
      changed = acc.value
      labels = next.drop("__chg")
      iter += 1
    }
    // A silent exit here returns WRONG labels (two docs in one duplicate
    // group with different labels) and downstream dedup keeps both —
    // fail loudly instead. min-label needs O(component diameter) rounds;
    // real dedup graphs are shallow, so hitting 50 means something
    // pathological (a chain) — raise maxIter deliberately, not silently.
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponentsDistributed did not converge after $maxIter rounds " +
        s"($changed labels still changing); raise maxIter — labels would be wrong")
    labels
  }

  /** Driver-side union-find with min-id roots (path-compressed). */
  private def connectedComponentsLocal(edges: Array[(Long, Long)],
      spark: SparkSession): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min id becomes the root, matching the distributed labels
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("id", "label")
  }

  /**
   * Incremental near-dup: which `incoming` docs duplicate the already-
   * deduped `existing` corpus or each other — the production shape of
   * dedup (a new crawl lands against a 100 TB corpus; re-deduping the
   * whole corpus would re-pay the full existing-existing pair mass for
   * pairs that by construction cannot exist). Both sides band as in
   * `minHashNearDupPairs`; pair generation then keeps only pairs with
   * an incoming side. Returns (id_a, id_b, jaccard) with id_b always
   * incoming; id_a may be existing (dup of corpus) or incoming
   * (dup within the batch, id_a < id_b).
   */
  def incrementalMinHashPairs(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16, minJaccard: Double = 0.5,
      seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val flagged = existing.select(col(idCol).as("id"), col(textCol).as("__text"))
      .withColumn("__new", lit(0))
      .unionByName(incoming.select(col(idCol).as("id"), col(textCol).as("__text"))
        .withColumn("__new", lit(1)))
    val shingleTable = flagged.select(col("id"), col("__new"),
        TextAnalysis.shingles(col("__text"), shingleSize).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val banded = shingleTable
      .withColumn("sig", minhash(col("shingles"), numHashes, seed))
      .select(col("id"), col("__new"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("sig"), b * rows + 1, lit(rows)))).as(Seq("band", "bucket")))
    // existing-existing pairs dropped at expansion (both flags 0):
    // the quadratic mass inside a bucket full of old docs never forms
    val candidates = bucketPairs(banded, Seq("band", "bucket"), payload = Seq("__new"))
      .filter(col("__new_a") + col("__new_b") >= 1)
      .select("id_a", "id_b")
    val verified = verifyJaccard(candidates,
      shingleTable.select("id", "shingles"), minJaccard)
    // orient: id_b must be the incoming side (sorted pair may put an
    // incoming id first when both are incoming — already fine; flip
    // when id_b is the existing one)
    val newIds = incoming.select(col(idCol).as("__nid")).distinct()
    verified
      .join(newIds.withColumnRenamed("__nid", "id_b"), Seq("id_b"), "left_semi")
      .unionByName(
        verified.join(newIds.withColumnRenamed("__nid", "id_b"), Seq("id_b"), "left_anti")
          .select(col("id_b").as("id_a"), col("id_a").as("id_b"), col("jaccard")))
  }

  /** Incoming docs that survive incremental dedup: not a near-dup of
    * the existing corpus (existing is authoritative and always kept),
    * and the min-id representative within any incoming-only dup group. */
  def incrementalDedup(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16, minJaccard: Double = 0.5,
      seed: Long = 42L): DataFrame = {
    val pairs = incrementalMinHashPairs(existing, incoming, idCol, textCol,
      shingleSize, numHashes, bands, minJaccard, seed)
    val existingIds = existing.select(col(idCol).as("id_a"))
    // dup of corpus -> drop the incoming side outright
    val dupOfExisting = pairs.join(existingIds, Seq("id_a"), "left_semi")
      .select(col("id_b").as(idCol)).distinct()
    val survivors0 = incoming.join(dupOfExisting, Seq(idCol), "left_anti")
    // within-batch groups (both sides incoming) -> keep min id per component
    val newPairs = pairs.join(existingIds, Seq("id_a"), "left_anti")
    val drop = connectedComponents(newPairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    survivors0.join(drop, Seq(idCol), "left_anti")
  }

  /**
   * Embedding cosine near-duplicate pairs. Candidate generation via
   * random-hyperplane LSH sign-buckets (same family as the reference's
   * LSH index, indexes.py:86-101); exact cosine verification on
   * candidates. `bruteForce = true` skips bucketing (exact, O(n^2) —
   * only for oracle-scale data).
   *
   * Bucket-count sizing is the scale contract: per-table occupancy is
   * n/2^bits, so in-bucket pair mass is ~n^2/2^bits per table —
   * QUADRATIC in corpus size if bits stay fixed. Pass `bitsPerTable
   * <= 0` to auto-size bits from the corpus count targeting ~64
   * ids/bucket/table (Similarity.autoBits, targeting
   * GraftConfig.lshTargetIdsPerBucket ids/bucket, clamped to
   * [4, lshMaxAutoBits=57] — the 57-bit key-packing ceiling, NOT a
   * saturation point): expected candidate mass then
   * grows ~32·numTables·n — linear. The sizing count comes from parquet
   * footer metadata when the input is a bare table scan (no Spark job;
   * see [[graft.sources.TableStats]]), falling back to one count()
   * action otherwise. Verification filters BEFORE the pair dedup so only
   * above-threshold pairs (rare at near-dup thresholds) pay the
   * dedup shuffle, never the raw candidate mass.
   */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, embCol: String,
      minCosine: Double = 0.95, bruteForce: Boolean = false,
      numTables: Int = 8, bitsPerTable: Int = 8, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    // brute-force arm: the stream side of the broadcast cross join
    // inherits the scan's split count — one split means ONE task pays
    // the whole n²/2 cosine mass; spread it first (round 17, no-op on
    // well-split inputs). Per-pair math only, so output is unchanged.
    val a =
      if (bruteForce) Parallelism.spreadForMapWork(
        df.select(col(idCol).as("id_a"), col(embCol).as("emb_a")), "id_a")
      else df.select(col(idCol).as("id_a"), col(embCol).as("emb_a"))
    val b = df.select(col(idCol).as("id_b"), col(embCol).as("emb_b"))
    val candidates =
      if (bruteForce) a.crossJoin(b).filter(col("id_a") < col("id_b"))
      else {
        val bits =
          if (bitsPerTable > 0) bitsPerTable
          else Similarity.autoBits(graft.sources.TableStats.rowCountForSizing(df))
        val lsh = graft.index.LshModel(numTables, bits, dim, seed)
        // Pair expansion as a bucket SELF-JOIN, not an in-bucket
        // collect_set expansion: the payload here is the embedding
        // itself (dim floats), and materializing per-bucket arrays of
        // embeddings in an aggregation buffer is exactly the memory
        // shape that collapses under a hot bucket at scale (measured
        // as multi-x GC swings at sf10). The join STREAMS each pair
        // through the cosine verify instead; the explicit repartition
        // on the join key makes both sides one identical exchange
        // (ReuseExchange), so the scan+LSH pipeline runs once.
        // canonical-table emission (SemDedup.canonicalTable): each
        // colliding pair leaves the multi-table join exactly once, so
        // the verify and the post-verify dedup see the distinct pair
        // mass, not numTables x it on a duplicate-heavy corpus
        // Both join sides are the SAME projection of the bucketed
        // table (no per-side column renames below the join): column
        // pruning then reduces both subtrees to one canonical shape,
        // so ReuseExchange dedups the repartition(bucket) and the
        // scan+LSH pipeline executes ONCE (PlanAuditSpec pins this —
        // an asymmetric projection, e.g. only one side keeping `pos`,
        // makes the pruned exchanges differ and the planner silently
        // re-executes the whole pipeline on the build side). The
        // pos = pos predicate is implied by the bucket key (which
        // embeds the table index) but forces identical pruning.
        val withBucket = SemDedup.bucketedWithSigs(
          df.select(col(idCol).as("id"), col(embCol).as("emb")), lsh,
          Seq(col("bucket")))
        withBucket.as("ga").join(withBucket.as("gb"),
            col("ga.bucket") === col("gb.bucket") &&
              col("ga.pos") === col("gb.pos") &&
              col("ga.id") < col("gb.id"))
          .filter(SemDedup.canonicalTablePair(numTables,
            col("ga.pos"), col("ga.sigs"), col("gb.sigs")))
          .select(col("ga.id").as("id_a"), col("gb.id").as("id_b"),
            col("ga.emb").as("emb_a"), col("gb.emb").as("emb_b"))
      }
    val verified = candidates
      .withColumn("cosine", GraftFunctions.cosine_sim(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= minCosine)
    (if (bruteForce) verified else verified.dropDuplicates("id_a", "id_b"))
      .select("id_a", "id_b", "cosine")
  }

  // ------------------------------------------------------ repeated spans

  /** Fingerprinted full token windows: (idCol, span_idx, span_hash).
    * Only FULL windows count — a short tail window would fingerprint a
    * different-length span and poison cross-doc matching (Lee et al.
    * 2021's substring dedup uses fixed-length windows for the same
    * reason). Shuffle payload downstream is (hash, id) pairs — the
    * span text never leaves the map side. */
  private def spanTable(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, stride: Int): DataFrame =
    // tokenize+window+hash is the expensive map work here — spread the
    // documents first when the scan under-fills the session (round-17
    // A/B: q81 2.3s -> 0.8s; no-op on well-split inputs)
    TextAnalysis.chunkByTokens(
      Parallelism.spreadForMapWork(df, idCol), idCol, textCol, spanTokens, stride)
      .filter(col("chunk_tokens") === spanTokens)
      .select(col(idCol), col("chunk_idx").as("span_idx"),
        Bridge.column(StringHash64(
          Bridge.expression(col("chunk_text")))).as("span_hash"))
      // explicit so BOTH consumers of the shared exchange carry the
      // same inferred-nonnull form — otherwise the optimizer adds
      // isnotnull only on the aggregate side, the canonical subtrees
      // diverge, and ReuseExchange silently stops deduping the
      // tokenize pipeline (it runs twice)
      .filter(col("span_hash").isNotNull)

  /**
   * Per-document repetition profile: how much of each document is made
   * of cross-document repeated spans — the quality-filter signal that
   * thresholds out boilerplate-heavy documents. One aggregate by hash
   * (to mark repeated spans), one join back, one aggregate by id; the
   * span table hangs off a single repartition exchange so the
   * tokenize+window+hash pipeline executes once (ReuseExchange).
   * Documents shorter than one full window carry no spans and are
   * excluded (no signal either way).
   * Output: (idCol, n_spans, n_repeated, repeated_frac).
   */
  def repetitionProfile(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 8, stride: Int = 4, minDocs: Int = 2): DataFrame = {
    val spans = spanTable(df, idCol, textCol, spanTokens, stride)
      .repartition(col("span_hash"))
    val docCounts = spans
      .groupBy("span_hash")
      .agg(countDistinct(col(idCol)).as("n_docs"))
    spans.join(docCounts, Seq("span_hash"), "left")
      .withColumn("rep", when(col("n_docs") >= minDocs, 1L).otherwise(0L))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"), sum(col("rep")).as("n_repeated"))
      .withColumn("repeated_frac",
        round(col("n_repeated").cast("double") / col("n_spans"), 6))
  }
}
