package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * tokenization, token counting, quality scoring, n-gram shingling, and
 * stopword-based language identification. All pure Catalyst column
 * expressions (no UDFs) — they stay inside whole-stage codegen and scale
 * linearly with no shuffle.
 */
object TextAnalysis {

  /** Whitespace tokens of trimmed lowercased text; empty text => [].
    * Native expression (single tokenization pass, duplicates kept). */
  def tokens(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(org.apache.spark.sql.graft.expressions.WordTokens(Bridge.expression(text)))
  }

  /** Token count (reference analog: demo.py:144 `len(content.split())`). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram shingles joined with single spaces (for MinHash/
    * Jaccard). Backed by a native expression: the Column-composed
    * `transform(sequence..., slice(tokens...))` form re-tokenizes per
    * lambda index (interpreted higher-order functions do not cache
    * their target array), turning an m-token doc into O(m) splits. */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(org.apache.spark.sql.graft.expressions.WordShingles(Bridge.expression(text), n))
  }

  /**
   * Split documents into overlapping token-window chunks — the
   * upstream splitter the reference's chunk model assumes (its chunks
   * arrive pre-split; SURVEY §1.4). Windows of `size` tokens start
   * every `stride` tokens; the last window keeps the tail, so every
   * token lands in at least one chunk and consecutive chunks share
   * `size - stride` tokens of overlap context. Deterministic (pure
   * function of the text), a narrow map with no shuffle; output adds
   * `chunk_idx`, `chunk_text`, `chunk_tokens`.
   */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
      size: Int = 64, stride: Int = 48): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val toks = tokens(col(textCol))
    val n = org.apache.spark.sql.functions.size(toks)
    // 1 window when n <= size, else 1 + ceil((n - size) / stride)
    val nWindows = when(n <= size, lit(1))
      .otherwise(lit(1) + ceil((n - size).cast("double") / stride).cast("int"))
    df.filter(n > 0)
      .select(col(idCol), toks.as("__toks"),
        posexplode(sequence(lit(0), nWindows - 1)).as(Seq("chunk_idx", "__w")))
      .select(col(idCol), col("chunk_idx"),
        slice(col("__toks"), col("chunk_idx") * stride + 1, lit(size)).as("__win"))
      .select(col(idCol), col("chunk_idx"),
        array_join(col("__win"), " ").as("chunk_text"),
        org.apache.spark.sql.functions.size(col("__win")).as("chunk_tokens"))
  }

  // Small fixed stopword lists per language for the n-gram/stopword
  // language-ID heuristic. Deterministic and mirrored verbatim in the
  // DuckDB oracle SQL.
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you", "zai", "ta", "men", "zhe"))

  /** Fraction of tokens that are (any-language) stopwords. */
  def stopwordRatio(text: Column): Column = {
    val ts = tokens(text)
    val all = stopwords.flatMap(_._2).distinct
    when(size(ts) === 0, 0.0).otherwise(
      size(filter(ts, t => t.isin(all.map(lit): _*))).cast("double") / size(ts))
  }

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      (length(text) - length(regexp_replace(text, "[\\.,;:!\\?'\"\\-\\(\\)]", "")))
        .cast("double") / length(text))

  /** Mean token length. */
  def avgTokenLen(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) === 0, 0.0).otherwise(
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(ts))
  }

  /**
   * Composite quality score in [0,1] — the usual pretraining-corpus
   * heuristics (length band, stopword presence, punctuation sanity).
   * Deterministic arithmetic only; weights are arbitrary but fixed.
   */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val lengthOk = when(nTok.between(5, 5000), 1.0).otherwise(0.0)
    val sw = stopwordRatio(text)
    val swOk = when(sw.between(0.01, 0.7), 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(text) < 0.2, 1.0).otherwise(0.0)
    val avgOk = when(avgTokenLen(text).between(2.0, 12.0), 1.0).otherwise(0.0)
    (lengthOk * 0.3 + swOk * 0.3 + punctOk * 0.2 + avgOk * 0.2)
  }

  /**
   * Stopword-overlap language ID: score(lang) = |distinct tokens ∩
   * stopwords(lang)|; argmax with deterministic ascending-lang tiebreak;
   * no hits at all => "und" (undetermined).
   */
  def langId(text: Column): Column = {
    val ts = array_distinct(tokens(text))
    // struct(score DESC via negation, lang ASC) -> array_min gives argmax
    val scored = stopwords.sortBy(_._1).map { case (lang, words) =>
      struct((-size(array_intersect(ts, array(words.map(lit): _*)))).as("neg"),
        lit(lang).as("lang"))
    }
    val best = array_min(array(scored: _*))
    when(best.getField("neg") === 0, "und").otherwise(best.getField("lang"))
  }

  /**
   * Fused single-pass metrics struct (n_tokens, avg_token_len,
   * stopword_ratio, punct_ratio, quality_score, lang_pred). Same
   * semantics as the Column-composed functions above, but one
   * tokenization instead of six — higher-order array functions are
   * interpreted, so Spark's subexpression elimination cannot merge the
   * repeated splits; the custom expression is the hot path.
   */
  def textMetrics(text: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(org.apache.spark.sql.graft.expressions.TextMetrics(Bridge.expression(text)))
  }

  /**
   * PII redaction: emails, then dashed/dotted phone numbers, then
   * IPv4 addresses are replaced with typed placeholder tokens — the
   * standard pre-training scrub pass. Patterns use only syntax common
   * to Java regex and RE2 (no lookarounds, no backrefs), with a FIXED
   * application order, so DuckDB replays the redaction exactly (q74).
   * A narrow codegen'd map — no shuffle, scales linearly.
   */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipv4Pattern, "<IP>")

  /** Count of PII matches (pre-redaction) by kind, as a struct.
    * Group index 0 = the whole match (the patterns have no groups). */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(emailPattern), lit(0))).as("n_email"),
    size(regexp_extract_all(text, lit(phonePattern), lit(0))).as("n_phone"),
    size(regexp_extract_all(regexp_replace(text, phonePattern, " "),
      lit(ipv4Pattern), lit(0))).as("n_ip"))

  /**
   * Benchmark decontamination: corpus docs sharing >= `minOverlap`
   * word `n`-gram shingles with any single benchmark document — the
   * "is this eval data?" gate every pretraining corpus needs. The
   * benchmark side is SMALL by construction (eval sets), so its
   * exploded shingle table broadcasts and the check is a map-side
   * join: the 100 TB corpus is never shuffled. Returns
   * (id, bench_id, n_shared) per contaminated (doc, benchmark) pair.
   */
  def contaminationPairs(corpus: DataFrame, corpusId: String, corpusText: String,
      benchmark: DataFrame, benchId: String, benchText: String,
      n: Int = 8, minOverlap: Int = 1): DataFrame = {
    // join on the 64-bit span fingerprint, not the n-token string: the
    // broadcast table shrinks ~5x (8 bytes vs a ~50-byte 8-gram), and a
    // false contamination flag needs a 2^-64 collision — the oracle
    // (which joins strings) would catch one
    def h(c: org.apache.spark.sql.Column) = {
      import org.apache.spark.sql.graft.Bridge
      import org.apache.spark.sql.graft.expressions.StringHash64
      Bridge.column(StringHash64(Bridge.expression(c)))
    }
    val corpusSh = corpus.select(col(corpusId).as("id"),
        explode(shingles(col(corpusText), n)).as("__s"))
      .select(col("id"), h(col("__s")).as("shingle"))
    val benchSh = benchmark.select(col(benchId).as("bench_id"),
        explode(shingles(col(benchText), n)).as("__s"))
      .select(col("bench_id"), h(col("__s")).as("shingle"))
    corpusSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy("id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /**
   * Decontamination against MULTIPLE benchmarks in ONE pass: the named
   * benchmark shingle tables stack into a single broadcast (tagged by
   * benchmark name), so the corpus is scanned and shingled once total
   * instead of once per benchmark — at 100 TB the corpus scan IS the
   * cost, and real pipelines screen against many eval sets at once.
   * Benchmarks' id columns must share a type (they union). Output:
   * (id, benchmark, bench_id, n_shared).
   */
  def contaminationPairsMulti(corpus: DataFrame, corpusId: String,
      corpusText: String,
      benchmarks: Seq[(String, DataFrame, String, String)],
      n: Int = 8, minOverlap: Int = 1): DataFrame = {
    require(benchmarks.nonEmpty, "at least one benchmark")
    def h(c: org.apache.spark.sql.Column) = {
      import org.apache.spark.sql.graft.Bridge
      import org.apache.spark.sql.graft.expressions.StringHash64
      Bridge.column(StringHash64(Bridge.expression(c)))
    }
    val corpusSh = corpus.select(col(corpusId).as("id"),
        explode(shingles(col(corpusText), n)).as("__s"))
      .select(col("id"), h(col("__s")).as("shingle"))
    val benchSh = benchmarks.map { case (name, df, idCol, textCol) =>
      df.select(lit(name).as("benchmark"), col(idCol).as("bench_id"),
          explode(shingles(col(textCol), n)).as("__s"))
        .select(col("benchmark"), col("bench_id"), h(col("__s")).as("shingle"))
    }.reduce(_.unionByName(_))
    corpusSh.join(broadcast(benchSh), Seq("shingle"))
      .groupBy("id", "benchmark", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /**
   * Decontamination with a Bloom-prefiltered SHUFFLE join — the scale
   * path for when the benchmark registry is too large to broadcast
   * (contaminationPairs' broadcast table stops fitting somewhere in the
   * tens of millions of shingles; real pipelines screen against every
   * eval set ever published). A Bloom filter over the benchmark shingle
   * hashes (KB-to-MB of driver state regardless of registry size)
   * prefilters the corpus shingles MAP-SIDE — no false negatives, so
   * the exact shuffle join downstream returns precisely the true pairs;
   * false positives (rate `fpp`) only add wasted shuffle rows. On a
   * non-contaminated corpus the exchange moves ~fpp of the shingle
   * volume instead of all of it. Output is identical to
   * contaminationPairs: (id, bench_id, n_shared).
   */
  def contaminationPairsBloom(corpus: DataFrame, corpusId: String,
      corpusText: String, benchmark: DataFrame, benchId: String,
      benchText: String, n: Int = 8, minOverlap: Int = 1,
      fpp: Double = 0.01): DataFrame = {
    def h(c: org.apache.spark.sql.Column) = {
      import org.apache.spark.sql.graft.Bridge
      import org.apache.spark.sql.graft.expressions.StringHash64
      Bridge.column(StringHash64(Bridge.expression(c)))
    }
    val benchSh = benchmark.select(col(benchId).as("bench_id"),
        explode(shingles(col(benchText), n)).as("__s"))
      .select(col("bench_id"), h(col("__s")).as("shingle"))
    // sizing job runs over the (small) benchmark side only; the corpus
    // is never touched before the prefiltered scan below
    val nBench = math.max(benchSh.count(), 1000L)
    val bloom = graft.operators.BloomJoin.buildBloom(benchSh, "shingle",
      expectedItems = nBench, fpp = fpp)
    val corpusSh = corpus.select(col(corpusId).as("id"),
        explode(shingles(col(corpusText), n)).as("__s"))
      .select(col("id"), h(col("__s")).as("shingle"))
      .filter(graft.operators.BloomJoin.mightContain(bloom, col("shingle")))
    // shuffle_hash, not broadcast: the premise is a benchmark side too
    // big to broadcast — the Bloom pass is what keeps the corpus side
    // of this exchange small
    corpusSh.join(benchSh.hint("shuffle_hash"), Seq("shingle"))
      .groupBy("id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /**
   * Exact top-`k` terms by corpus frequency WITHOUT shuffling the term
   * universe — the two-pass heavy-hitters pattern for vocabulary
   * extraction at 100 TB:
   *
   *  1. candidate generation: ONE scan aggregates a Misra-Gries summary
   *     of `counters` counters (see MisraGries's doc — the exchange
   *     moves one fixed-size summary per partition, vs `groupBy(term)`
   *     shuffling a key per distinct term per partition; at web scale
   *     the term universe is billions of keys, the summary is one map);
   *     the same scan also counts total tokens N exactly.
   *  2. exact recount: a second scan counts ONLY the ≤ `counters`
   *     candidate terms (broadcast semi-join), then takes the top k
   *     with the deterministic (count desc, term asc) tiebreak.
   *
   * The MG guarantee (every term with true frequency > N/counters is a
   * candidate) makes the result EXACT — and provably so — whenever the
   * k-th result's exact count clears the bound: the emitted
   * `provably_complete = cnt_k · counters > N` verdict column is pure
   * arithmetic over exact counts, so an oracle replays it. When the
   * verdict is true the output equals the full-shuffle top-k
   * bit-for-bit under ANY partitioning (candidate sets may differ
   * across partitionings, but all of them contain the true top k, and
   * the recount is exact). Size `counters` ≫ k·(N/expected cnt_k); for
   * Zipf-ish natural-language corpora a few thousand counters cover any
   * top-100 comfortably.
   */
  def heavyHitterTerms(df: DataFrame, textCol: String, k: Int,
      counters: Int = 4096): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val spark = df.sparkSession
    val mg = Bridge.column(org.apache.spark.sql.graft.expressions.MisraGries(
      Bridge.expression(tokens(col(textCol))), counters).toAggregateExpression())
    // coalesce: sum() over zero rows is SQL NULL — an empty corpus must
    // yield an empty result, not an NPE (the streaming sink already
    // guards its copy of this aggregate the same way)
    val pass1 = df.agg(mg.as("cand"),
      coalesce(sum(size(tokens(col(textCol)))), lit(0L))
        .cast("long").as("n_tokens")).collect()(0)
    recountTopK(df, textCol, pass1.getSeq[String](0), k, counters,
      pass1.getLong(1))
  }

  /** The exact-recount half of [[heavyHitterTerms]] (shared by the
    * streaming fold, which brings its own accumulated candidate set and
    * token count): count ONLY `candidates` (broadcast semi-join), take
    * the top `k` with the deterministic tiebreak, and emit the
    * provable-completeness verdict cnt_k·counters > nTokens AND
    * |result| == k: the count bound alone can hold on a candidate set
    * with fewer than k terms (all heavy), in which case ranks
    * |candidates|+1..k of the exact top-k are missing — a short result
    * must never be certified complete. (A corpus with fewer than k
    * distinct terms therefore reports false even though the result is
    * trivially complete — the verdict stays a conservative proof.) */
  def recountTopK(df: DataFrame, textCol: String, candidates: Seq[String],
      k: Int, counters: Int, nTokens: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val candDf = candidates.toDF("term")
    // rank + verdict over the post-limit(k) set: ≤ k rows by
    // construction, already ordered — collect them and compute both
    // driver-side (bounded). Round 17: the previous form used a
    // Window.partitionBy(lit(0)) to "state" the boundedness, but
    // constant folding strips literal partition keys, so it still
    // planned a genuine empty-partition WindowExec (and warned on
    // every run); k driver-side rows need no window at all.
    val top = recountPlan(df, textCol, candDf, k).collect()
    val complete = top.length == k &&
      top.iterator.map(_.getLong(1)).min * counters > nTokens
    top.iterator.zipWithIndex.map { case (r, i) =>
      (i + 1, r.getString(0), r.getLong(1), complete)
    }.toSeq.toDF("rank", "term", "cnt", "provably_complete")
  }

  /** The distributed half of [[recountTopK]] (exposed so PlanAuditSpec
    * can pin its broadcast + partial-agg shape): exact counts of the
    * candidate terms only, top-k with the deterministic tiebreak. */
  private[graft] def recountPlan(df: DataFrame, textCol: String,
      candDf: DataFrame, k: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("term"))
      .join(broadcast(candDf), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(k)

  /**
   * Gopher-style repetition quality gate (Rae et al. '21 §A1.1) — the
   * repetitious-document filter every pretraining pipeline runs: one
   * codegen'd expression computes the whole battery per document
   * (RepetitionMetrics scaladoc — in-row run-length stats over sorted
   * n-gram arrays, NO shuffle; the naive explode+groupBy(doc, gram)
   * form shuffles every n-gram occurrence in the corpus). The display
   * fractions round to 6 dp; `keep` — the conjunction of the paper's
   * thresholds (token-based here): drop when the top 2/3/4-gram covers
   * > 20/18/16% of the doc or when > 15%/10% of 5/8-gram occurrences
   * are repeats — compares the UNROUNDED fractions, and the exact
   * integer numerators/denominators are appended so downstream
   * aggregation (q125) and oracle hashing never depend on a rounded
   * double.
   */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      maxTop2: Double = 0.20, maxTop3: Double = 0.18, maxTop4: Double = 0.16,
      maxDup5: Double = 0.15, maxDup8: Double = 0.10,
      passthrough: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val m = Bridge.column(org.apache.spark.sql.graft.expressions
      .RepetitionMetrics(Bridge.expression(col(textCol))))
    df.select((col(idCol) +: passthrough.map(col)) :+ m.as("__m"): _*)
      .select((col(idCol) +: passthrough.map(col)) ++ Seq(
        col("__m.n_tokens").as("n_tokens"),
        round(col("__m.frac_dup_tokens"), 6).as("frac_dup_tokens"),
        round(col("__m.frac_top_2gram"), 6).as("frac_top_2gram"),
        round(col("__m.frac_top_3gram"), 6).as("frac_top_3gram"),
        round(col("__m.frac_top_4gram"), 6).as("frac_top_4gram"),
        round(col("__m.frac_dup_5gram"), 6).as("frac_dup_5gram"),
        round(col("__m.frac_dup_8gram"), 6).as("frac_dup_8gram"),
        // keep compares the UNROUNDED fractions: each is a single IEEE
        // division of integer stats, bit-identical on any engine — a
        // rounded value is not (round-algorithm variance flips a value
        // sitting on a .5e-6 boundary), so thresholds never touch the
        // display rounding
        (col("__m.frac_top_2gram") <= maxTop2 &&
          col("__m.frac_top_3gram") <= maxTop3 &&
          col("__m.frac_top_4gram") <= maxTop4 &&
          col("__m.frac_dup_5gram") <= maxDup5 &&
          col("__m.frac_dup_8gram") <= maxDup8).as("keep"),
        // exact integer sufficient statistics — the hash-safe columns
        (col("__m.n_tokens") - col("__m.distinct_tokens")).as("dup_tokens"),
        col("__m.top2_cnt").as("top2_cnt"),
        col("__m.top3_cnt").as("top3_cnt"),
        col("__m.top4_cnt").as("top4_cnt"),
        col("__m.dup5_num").as("dup5_num"),
        col("__m.dup5_den").as("dup5_den"),
        col("__m.dup8_num").as("dup8_num"),
        col("__m.dup8_den").as("dup8_den")): _*)
  }

  /**
   * heavyHitterTerms PER GROUP — top-`k` vocabulary per data source in
   * two scans, the shape behind per-source mixing decisions: pass 1 is
   * ONE `groupBy(group).agg(misra_gries, sum)` (an m-counter summary
   * and an exact token count per group ride the same exchange), pass 2
   * exact-recounts the ≤ groups·m candidate (group, term) pairs via
   * broadcast and ranks within each group. The per-group verdict
   * cnt_k·m > N_group proves that group's top k complete, exactly as in
   * the ungrouped form. Groups must be low-cardinality (sources,
   * languages — the summaries come back to the driver as groups·m
   * strings); the TERM universe per group is unbounded as ever.
   */
  def heavyHitterTermsPerGroup(df: DataFrame, groupCol: String,
      textCol: String, k: Int, counters: Int = 4096): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val spark = df.sparkSession
    val mg = Bridge.column(org.apache.spark.sql.graft.expressions.MisraGries(
      Bridge.expression(tokens(col(textCol))), counters).toAggregateExpression())
    val pass1 = df.groupBy(col(groupCol))
      .agg(mg.as("cand"),
        sum(size(tokens(col(textCol)))).cast("long").as("n_tokens"))
      .collect()
    import spark.implicits._
    val candDf = pass1.toSeq.flatMap { r =>
      r.getSeq[String](1).map(t => (r.getString(0), t))
    }.toDF(groupCol, "term")
    val nTokDf = pass1.toSeq.map(r => (r.getString(0), r.getLong(2)))
      .toDF(groupCol, "n_tokens")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val ranked = df.select(col(groupCol), explode(tokens(col(textCol))).as("term"))
      .join(broadcast(candDf), Seq(groupCol, "term"))
      .groupBy(groupCol, "term").agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(
        w.orderBy(col("cnt").desc, col("term").asc)).cast("int"))
      .filter(col("rank") <= k)
    ranked
      .withColumn("__kth", min(col("cnt")).over(w))
      .withColumn("__nret", count(lit(1)).over(w))
      .join(broadcast(nTokDf), Seq(groupCol))
      // same short-candidate guard as recountTopK: a group returning
      // fewer than k terms is never certified complete
      .withColumn("provably_complete",
        col("__kth") * counters > col("n_tokens") && col("__nret") === k)
      .select(col(groupCol), col("rank"), col("term"), col("cnt"),
        col("provably_complete"))
  }

  /**
   * TF-IDF top-`k` terms per document. Term frequency is the raw token
   * count within the doc; idf = ln((N+1)/(df+1)) (add-one smoothed,
   * division-safe); score = tf * idf with deterministic (score desc,
   * term asc) ranking. The plan is three hash aggregations + one
   * broadcast of the 1-row corpus count — no window over the full
   * corpus, so it scales to any N.
   */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = toks.select(countDistinct(col("id")).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select(col("id").as(idCol), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"), col("rank"))
  }

  /**
   * N-gram language-model perplexity scoring — the CCNet/RedPajama
   * quality filter: train a bigram LM with stupid backoff (Brants et
   * al., EMNLP'07) on a REFERENCE slice of the corpus (the high-quality
   * proxy — a trusted source, a wiki split), then score every document
   * by its average token log-probability; low-probability (high-
   * perplexity) documents are the drop candidates.
   *
   *   P(w2 | w1) = C(w1 w2) / C(w1)                 when the bigram is
   *                                                  in the reference
   *              = alpha * (C(w2) + 1) / (T + V)     otherwise (backoff
   *                                                  to an add-one
   *                                                  unigram — strictly
   *                                                  positive even for
   *                                                  unseen words)
   *
   * Replayability at the hash-compare gate: every probability is a
   * RATIO OF INTEGERS (counts), each per-position log rounds to 9 dp
   * and sums as DECIMAL(20,9) — the q01/q05 decimal-sum rule — so the
   * per-document sum is exact and order-independent on both engines;
   * `avg_logp`/`ppl` derive from that exact sum by one double division/
   * exp. The keep verdict compares the exact-derived double against the
   * threshold, so it can never flake on reassociation noise.
   *
   * Scale shape: two hash aggregations over the reference tokens (the
   * LM — C1 keyed by word, C2 by bigram, both corpus-bounded and
   * SHUFFLED, never driver-collected), one scalar (T, V) broadcast,
   * then the scoring joins keyed on the bigram/word — at 100 TB those
   * are plain shuffle joins whose build side is the reference slice.
   * No per-row state, no windows over the corpus. For reference slices
   * whose n-gram universe is itself too large to shuffle, pass
   * `maxModelTerms = Some(m)`: the model becomes the EXACT
   * frequency-cutoff model (cnt·m > N, kept bigrams require their
   * unigram head too), built via Misra-Gries candidates + exact
   * recount so the exchange is bounded by m instead of the vocabulary
   * — see the inline comment for the invariance argument.
   *
   * Output: (id, n_bigrams, sum_logp DECIMAL(20,9), avg_logp, ppl,
   * keep) — one row per document with >= 2 tokens.
   */
  def lmPerplexity(docs: DataFrame, idCol: String, textCol: String,
      refFilter: Column, alpha: Double = 0.4,
      keepThreshold: Double = -9.0,
      maxModelTerms: Option[Int] = None): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
    val refTok = docs.filter(refFilter)
      .select(explode(tokens(col(textCol))).as("w"))
    val c1Full = refTok.groupBy("w").agg(count(lit(1)).as("c1"))
    val c2Full = docs.filter(refFilter)
      .select(tokens(col(textCol)).as("tk")).filter(size(col("tk")) >= 2)
      .select(explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("bg"))
      .select(col("bg.0").as("w1"), col("bg.1").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // Bounded-model variant (VERDICT r14 item 4): the full c2 table
    // grows with the reference slice — at 100 TB the scoring joins
    // shuffle a vocabulary-scale model. With maxModelTerms = Some(m)
    // the model becomes the exact FREQUENCY-CUTOFF model — keep only
    // unigrams with cnt·m > T and bigrams with cnt·m > N₂ (integer
    // compares, no division) — computed the q122 way: a Misra-Gries
    // pass proposes ≤ m candidates per table (one m-counter summary
    // per partition crosses the exchange, never the n-gram universe),
    // an exact broadcast-semi-join recount counts only candidates, and
    // the MG guarantee (true freq > N/m ⇒ candidate) makes the cutoff
    // set EXACT and partitioning-invariant — so a plain HAVING
    // cnt·m > N replays it in SQL. A bigram whose unigram head fell
    // below the cutoff scores through backoff (hit requires BOTH
    // c2 and c1 rows), and a pruned backoff unigram counts as unseen —
    // the standard count-cutoff LM degradation, deterministic at any
    // scale.
    val (c1, c2) = maxModelTerms match {
      case None => (c1Full, c2Full)
      case Some(m) =>
        import org.apache.spark.sql.graft.Bridge
        val spark = docs.sparkSession
        import spark.implicits._
        val refDocs = docs.filter(refFilter)
        // ONE action builds every driver input of the bounded model
        // (round-18): both Misra-Gries candidate summaries and both
        // token totals ride a single aggregate over ONE tokenize pass
        // of the reference slice — this was four separate actions
        // (two MG aggs, refTok.count(), the n2 sum), i.e. four
        // reference tokenizations and ~6 extra sequential jobs.
        // Equivalences: n1 = refTok.count() = sum(size(tokens)) row by
        // row; MG over a per-row EMPTY array is a no-op, so guarding
        // the bigram array with when(size >= 2, ...) replays the old
        // size-filter exactly (and keeps slice() off negative lengths
        // — CaseWhen branches evaluate lazily); and the candidate SET's
        // sensitivity to partial-merge order is immaterial because the
        // exact recount + integer cutoff below makes the final model
        // partitioning-invariant either way (the MG guarantee: true
        // freq > N/m ⇒ candidate under ANY merge order).
        // materialize the arrays in a PROJECT first: aggregate-function
        // inputs are not common-subexpression-eliminated, so inlining
        // `tokens(text)` into all four aggregates would re-tokenize
        // every row several times (measured: 4x wall)
        val tk0 = tokens(col(textCol))
        val prepared = refDocs
          .select(tk0.as("__tk"))
          .select(col("__tk"),
            when(size(col("__tk")) >= 2, zip_with(
                slice(col("__tk"), lit(1), size(col("__tk")) - 1),
                slice(col("__tk"), lit(2), size(col("__tk")) - 1),
                (a, b) => concat(a, lit(" "), b)))
              .otherwise(array().cast("array<string>")).as("__bg"),
            size(col("__tk")).cast("long").as("__n1"),
            greatest(size(col("__tk")) - 1, lit(0)).cast("long").as("__n2"))
        def mg(arr: Column) =
          Bridge.column(org.apache.spark.sql.graft.expressions
            .MisraGries(Bridge.expression(arr), m).toAggregateExpression())
        val stats = prepared.agg(
          mg(col("__tk")).as("uc"), mg(col("__bg")).as("bc"),
          coalesce(sum(col("__n1")), lit(0L)).as("n1"),
          coalesce(sum(col("__n2")), lit(0L)).as("n2")).collect()(0)
        val uniCand = stats.getSeq[String](0)
        val biCand = stats.getSeq[String](1)
        val n1 = stats.getLong(2)
        val n2 = stats.getLong(3)
        // recount ONLY the ≤ m candidates (broadcast prefilter BELOW
        // the aggregation — the exchange then carries at most m keys'
        // map-side partials, never the n-gram universe), then apply
        // the exact integer cutoff
        val c1p = refTok
          .join(broadcast(uniCand.toDF("w")), Seq("w"))
          .groupBy("w").agg(count(lit(1)).as("c1"))
          .filter(col("c1") * m > n1)
        val refBg = docs.filter(refFilter)
          .select(tokens(col(textCol)).as("tk")).filter(size(col("tk")) >= 2)
          .select(explode(arrays_zip(
            slice(col("tk"), lit(1), size(col("tk")) - 1),
            slice(col("tk"), lit(2), size(col("tk")) - 1))).as("bg"))
          .select(col("bg.0").as("w1"), col("bg.1").as("w2"))
        val c2p = refBg
          .join(broadcast(biCand.toDF("cand")),
            concat(col("w1"), lit(" "), col("w2")) === col("cand"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
          .filter(col("c2") * m > n2)
        (c1p, c2p)
    }
    val tv = refTok.agg(count(lit(1)).as("t"),
      countDistinct(col("w")).as("v"))
    val docBg = toks.filter(size(col("tk")) >= 2)
      .select(col("id"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("bg"))
      .select(col("id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
    // bounded model ⇒ ≤ m rows per table by construction: broadcast
    // the model side explicitly so the corpus bigram stream NEVER
    // crosses an exchange for scoring (the LmProbe receipt — without
    // the hint the three left joins shuffle all 19·n doc bigrams even
    // though the build side is tiny)
    val hint: DataFrame => DataFrame =
      if (maxModelTerms.isDefined) broadcast(_) else identity
    val scored = docBg
      .join(hint(c2), Seq("w1", "w2"), "left")
      .join(hint(c1.select(col("w").as("w1"), col("c1").as("c1a"))),
        Seq("w1"), "left")
      .join(hint(c1.select(col("w").as("w2"), col("c1").as("c1b"))),
        Seq("w2"), "left")
      .crossJoin(broadcast(tv))
      .withColumn("logp", when(col("c2").isNotNull && col("c1a").isNotNull,
          log(col("c2") / col("c1a")))
        .otherwise(log(lit(alpha) * (coalesce(col("c1b"), lit(0L)) + 1) /
          (col("t") + col("v")))))
      // round each per-position log to 9 dp BEFORE summing: the sum is
      // then exact decimal arithmetic — order-independent, replayable
      .withColumn("logp_r", round(col("logp"), 9).cast("decimal(20,9)"))
    scored.groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("logp_r")).cast("decimal(20,9)").as("sum_logp"))
      .withColumn("avg_logp",
        round(col("sum_logp").cast("double") / col("n_bigrams"), 6))
      .withColumn("ppl",
        round(exp(-(col("sum_logp").cast("double") / col("n_bigrams"))), 6))
      .withColumn("keep",
        col("sum_logp").cast("double") / col("n_bigrams") >= keepThreshold)
      .select(col("id").as(idCol), col("n_bigrams"), col("sum_logp"),
        col("avg_logp"), col("ppl"), col("keep"))
  }
}
