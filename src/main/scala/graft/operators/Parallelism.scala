package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Round-17 (optimization guide §2.5 "input skew: one huge unsplittable
 * file ... otherwise repartition immediately after the read"): a
 * single-file, single-row-group parquet input gives its scan stage —
 * and all the tokenize/shingle/codec map work Catalyst collapses into
 * it — exactly ONE task no matter how many cores the session has. For
 * operators whose per-row map CPU dwarfs the row's bytes (JPEG
 * encode/decode, span hashing, text-metrics, n-gram featurization),
 * [[Parallelism.spreadForMapWork]] spreads the rows across the
 * session's parallelism before the map work, hash-partitioned on a
 * deterministic id column (retry-safe; no round-robin pre-sort).
 *
 * Scale honesty: the repartition fires only when the input actually
 * under-fills the session (scan splits < cores). At real scale a big
 * table yields far more splits than cores and this is a plan-level
 * no-op — the condition, not a tuned constant, is what keeps it from
 * being a local[32]-only trick. Deliberately NOT applied to every
 * table read: the round-17 A/B showed exchange-dominated plans (exact
 * percentiles, ANN joins, streaming folds) lose more to the extra
 * exchange than their map stages gain.
 */
object Parallelism {
  /** Split-count cache: scan parallelism depends only on the file
    * layout and session file confs — compute it once per (session,
    * input files, canonical plan), not once per query build (building
    * the RDD DAG costs a few ms of planning). The key includes the
    * scan's file listing (paths + sizes), so re-written fixtures or a
    * semanticHash collision cannot replay a stale split count
    * (ADVICE r17). */
  private val splitCache =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** The input's parquet file listing as a stable string, or "" when
    * the plan has no file-source scan (keeps the key honest for
    * non-scan inputs). */
  private def fileFingerprint(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.inputFiles.sorted.mkString(",") + "#" + fs.sizeInBytes
    }.mkString(";")
  }

  /** Spread a SCAN-SHAPED input (scan + narrow projections/filters
    * only) before CPU-dense map work. The split probe resolves
    * `df.rdd`, which under AQE MATERIALIZES any exchange already in
    * `df`'s plan — callers must pass the raw table read, never a
    * joined/aggregated intermediate (ADVICE r17; all current call
    * sites are scan+project). */
  def spreadForMapWork(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val key = spark.hashCode() + "|" +
      df.queryExecution.logical.canonicalized.semanticHash().toString +
      "|" + fileFingerprint(df)
    val splits = splitCache.computeIfAbsent(key, _ =>
      try df.rdd.getNumPartitions
      catch { case scala.util.control.NonFatal(_) => Int.MaxValue })
    if (splits >= cores) df
    else df.repartition(cores, org.apache.spark.sql.functions.col(idCol))
  }
}
