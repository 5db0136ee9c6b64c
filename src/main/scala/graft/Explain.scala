package graft

/** Plan auditor: dumps the formatted physical plan of each named query
  * (or all) so pushdown (`PushedFilters`), pruned `ReadSchema`,
  * broadcast joins, `TakeOrderedAndProject`, and WholeStageCodegen
  * spans can be inspected. Usage: Explain <sfDir> [queryName...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.allQueries
      .filter(q => only.isEmpty || only.contains(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        try println(q.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
