package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every implemented operator from SURVEY.md §2 surfaces here as a named
  * query; SQL-expressible ones carry a DuckDB oracle for the driver's
  * hash-compare (column names/types aligned on both sides). */
object SparkEntry {

  def allQueries: Seq[QueryDef] =
    RelationalQueries.defs ++ VectorQueries.defs ++ TextQueries.defs ++
      EventQueries.defs ++ HierarchyQueries.defs ++ AdvancedQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    allQueries.find(_.name == "q20_knn_exact").get.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (engine-internal state that no literal dump makes replayable, e.g.
    * HNSW graph walks, sketches) → rows-only check. STATIC oracles
    * only: queries whose replay embeds seeded trained state (centroids,
    * hyperplanes) or data-sized parameters carry a dir-aware GENERATOR
    * that this form deliberately omits — callers that want generated
    * replays must use [[oracleSqlFor]] with the fixture dir actually
    * being verified (as `graft.Verify` does). Keeping this form
    * environment-independent means no hidden Spark jobs or
    * machine-specific paths behind an innocent-looking accessor. Kept
    * for SourcesSpec's driver-contract check. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** Dir-aware oracle map: static SQL plus generated replays for the
    * given fixture dir (generators may withhold — see QueryDef). */
  def oracleSqlFor(spark: SparkSession, dir: String): Map[String, String] =
    allQueries.flatMap(q => q.oracleAt(spark, dir).map(o => q.name -> o)).toMap
}
