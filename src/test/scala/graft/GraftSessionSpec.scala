package graft

/** Tests run with the engine's own SQL conf, so plan and job-count tests
  * see the hash-aggregate and split sizes production runs with. */
class GraftSessionSpec extends SparkSuite {
  test("the shared test session carries the engine's SQL conf") {
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == (8 * 1024 * 1024).toString)
  }
}
