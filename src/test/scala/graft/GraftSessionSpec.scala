package graft

/** The cores rule every session is built with, and the shape of the
  * shared test session. */
class GraftSessionSpec extends SparkTestBase {
  private val host = Runtime.getRuntime.availableProcessors

  test("cores: SPARK_GRAFT_CPUS unset -> the host's core count") {
    assert(GraftSession.cores(None) == host)
  }

  test("cores: an int SPARK_GRAFT_CPUS is taken as is") {
    assert(GraftSession.cores(Some("4")) == 4)
  }

  test("cores: \"*\" -> the host's core count") {
    assert(GraftSession.cores(Some("*")) == host)
  }

  test("shared test session: local[8] with 8 shuffle partitions") {
    assert(spark.sparkContext.master == "local[8]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
  }
}
