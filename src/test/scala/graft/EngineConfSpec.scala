package graft

/** The test session is the mains' session: `EngineConf.local` wires the
  * extensions, the codegen-cache settings and UTC into both. */
class EngineConfSpec extends SparkSpec {

  test("the spec session carries the engine session's settings") {
    def conf(k: String) = spark.conf.get(k)
    assert(conf("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(conf("spark.sql.codegen.cache.maxEntries") ==
      sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
    assert(conf("spark.sql.codegen.useIdInClassName") == "false")
    assert(conf("spark.sql.session.timeZone") == "UTC")
    assert(conf("spark.sql.shuffle.partitions") == "8")
    assert(spark.sparkContext.master == "local[4]")
  }
}
