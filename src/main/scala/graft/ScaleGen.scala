package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale-probe fixture generator: replicates the driver's sf0.1 tables
 * N× (default 10× ≈ "sf1") into a local directory so the bench suite
 * can measure how each plan's cost actually grows with volume — the
 * judge-bar claim "this plan survives a 100× scale-up" as a
 * measurement instead of an argument.
 *
 * Replication is NOT naive duplication: each copy k gets its own key
 * space (all BIGINT entity/foreign keys shifted by k·STRIDE, so join
 * fan-outs scale linearly like a real corpus, not quadratically like
 * key collisions would), and similarity-bearing payloads are
 * decorrelated per copy so near-dup/ANN candidate structure scales the
 * way a 10× corpus does (10 independent corpora of equal statistics):
 *
 *  - documents.text: copy k>0 suffixes every token with the copy digit
 *    — shingle/minhash/jaccard similarity WITHIN a copy is preserved,
 *    across copies destroyed (otherwise every doc would acquire 9
 *    exact duplicates and pair-expansion work would grow ~100×, which
 *    is a different experiment). n_chars is recomputed.
 *  - embeddings.embedding: per-copy sign-flip mask (dimension i
 *    negated iff bit i of k is set) — norms and within-copy pairwise
 *    cosine are exactly preserved, cross-copy similarity decorrelated.
 *  - nation/region stay fixed (genuine small dimensions).
 *
 * Timestamps keep their original range: 10× events in the same window
 * = 10× event rate, which is the realistic load shape for the
 * windowed/sessionize/funnel families (state size scales with users,
 * which DO get fresh ids per copy).
 */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/root/repo/data/sf1")
    val copies = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val stride = 100000000L

    // a fixed 32-wide shuffle, independent of cpus
    val spark = GraftSession.builder(GraftSession.cpus(32))
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def src(name: String): DataFrame = graft.queries.Tables.table(spark, srcDir, name)

    /** Union of `copies` transformed branches; transform(df, k) must use
      * only per-branch CONSTANTS so each branch stays fully codegen'd. */
    def replicate(name: String, files: Int)(transform: (DataFrame, Int) => DataFrame): Unit = {
      val base = src(name)
      val out = (0 until copies).map(k => transform(base, k)).reduce(_ unionAll _)
      out.repartition(files).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name x$copies -> $outDir/$name.parquet ($files files)")
    }

    def shift(df: DataFrame, k: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * stride)))

    replicate("lineitem", 32)((df, k) => shift(df, k, "l_orderkey", "l_partkey", "l_suppkey"))
    replicate("orders", 16)((df, k) => shift(df, k, "o_orderkey", "o_custkey"))
    replicate("customer", 4)((df, k) => shift(df, k, "c_custkey"))
    replicate("part", 4)((df, k) => shift(df, k, "p_partkey"))
    replicate("supplier", 1)((df, k) => shift(df, k, "s_suppkey"))
    replicate("nation", 1)((df, k) => if (k == 0) df else df.limit(0))
    replicate("region", 1)((df, k) => if (k == 0) df else df.limit(0))
    replicate("events", 16)((df, k) => shift(df, k, "event_id", "user_id"))
    replicate("documents", 16) { (df, k) =>
      val shifted = shift(df, k, "doc_id")
      val retexted =
        if (k == 0) shifted
        else shifted.withColumn("text",
          regexp_replace(col("text"), "([A-Za-z0-9]+)", "$1" + k.toString))
      retexted.withColumn("n_chars", length(col("text")).cast("long"))
    }
    replicate("embeddings", 8) { (df, k) =>
      val shifted = shift(df, k, "vec_id")
      if (k == 0) shifted
      else shifted.withColumn("embedding",
        expr(s"transform(embedding, (x, i) -> IF(((int($k) >> i) & 1) = 1, -x, x))")
          .cast("array<float>"))
    }

    spark.stop()
  }
}
