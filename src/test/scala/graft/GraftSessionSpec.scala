package graft

/** The shared test session is built from the same factory as every
  * main, so the confs the oracle-checked plans depend on hold here. */
class GraftSessionSpec extends SparkSpec {
  test("the shared session carries GraftSession's contract") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }
}
