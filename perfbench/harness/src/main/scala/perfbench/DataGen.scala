package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes the benchmark's batch tables: the schemas of the engine's
  * testdata (a TPC-H-like star, an `events` tick table, `documents` and
  * 64-dim `embeddings`), generated from a fixed data seed so that the
  * recorded per-op output checksums hold on every run. Every value is a
  * pure function of (table, row id, seed) built from `xxhash64`, so the
  * output does not depend on partitioning or core count.
  *
  * Row counts follow the testdata scale factors: `sf` = 0.1 gives
  * 100k events, 600k line items, 5000 documents and 2000 embeddings. */
object DataGen {
  val version = "1"
  /** The data seed the recorded outputs (`expected.json`) hold for. */
  val Seed = 42L

  /** Uniform double in [0, 1) from the row id and a salt. */
  private def u(id: Column, salt: Int, seed: Long): Column =
    pmod(xxhash64(id, lit(salt), lit(seed)), lit(1000000007L)).cast("double") / 1000000007.0

  private def pick(values: Seq[String], id: Column, salt: Int, seed: Long): Column =
    element_at(array(values.map(lit): _*),
      (floor(u(id, salt, seed) * values.size) + 1).cast("int"))

  /** Approximately standard normal (Box-Muller over two hashed uniforms). */
  private def gauss(id: Column, salt: Int, seed: Long): Column =
    sqrt(lit(-2.0) * log(u(id, salt, seed) + lit(1e-12))) *
      cos(lit(2 * math.Pi) * u(id, salt + 7919, seed))

  private val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "column",
    "order", "small", "sort", "window", "stream", "data", "join", "filter", "group",
    "query", "big", "customer", "vector", "index", "shard")

  /** Generates the tables under `dir` unless a complete copy of this
    * generator version is already there. Returns the time spent (ms). */
  def ensure(spark: SparkSession, dir: String, sf: Double): Long = {
    val marker = new File(dir, s"_COMPLETE_v${version}_sf${sf}_s$Seed")
    if (marker.exists()) return 0L
    val t0 = System.nanoTime()
    write(spark, dir, sf, Seed)
    marker.createNewFile()
    (System.nanoTime() - t0) / 1000000L
  }

  private def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    def ids(count: Long): DataFrame = spark.range(0, count, 1, 4).toDF()
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")

    save("region", ids(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")))
    save("nation", ids(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nEvents = n(1000000)
    val nUsers = math.max(15L, nEvents / 67)
    val money = (lo: Double, hi: Double, salt: Int) =>
      round(lit(lo) + u(id, salt, seed) * (hi - lo), 2)

    save("customer", ids(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      floor(u(id, 1, seed) * 25).cast("int").as("c_nationkey"),
      money(-999.99, 9999.99, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id, 3, seed)
        .as("c_mktsegment")))
    save("supplier", ids(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      floor(u(id, 4, seed) * 25).cast("int").as("s_nationkey"),
      money(-999.99, 9999.99, 5).as("s_acctbal")))
    val adjectives = Seq("red", "small", "hot", "old", "large", "blue", "cold", "new")
    val nouns = Seq("ring", "widget", "plate", "rod", "gear", "valve", "bolt", "tube")
    save("part", ids(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(adjectives, id, 6, seed), pick(nouns, id, 7, seed)).as("p_name"),
      concat(lit("Brand#"), (floor(u(id, 8, seed) * 25) + 1).cast("int")).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), id, 9, seed).as("p_type"),
      (floor(u(id, 10, seed) * 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) * 0.1, 2).as("p_retailprice")))

    val day0 = java.time.LocalDateTime.of(1995, 1, 1, 0, 0)
    val orderDate = daysAfter(floor(u(id, 11, seed) * 2405).cast("int"), day0)
    val orders = ids(nOrders).select(id.as("o_orderkey"),
      floor(u(id, 12, seed) * nCust).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), id, 13, seed).as("o_orderstatus"),
      money(1000.0, 500000.0, 14).as("o_totalprice"),
      orderDate.as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id, 15, seed)
        .as("o_orderpriority"),
      (floor(u(id, 16, seed) * 7) + 1).cast("int").as("n_lines"))
    save("orders", orders.drop("n_lines"))
    // four lines per order on average (1..7), as in the testdata
    val lineId = col("o_orderkey") * 8 + col("l_linenumber")
    save("lineitem", orders
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), col("n_lines"))).as("l_linenumber"))
      .select(col("o_orderkey").as("l_orderkey"),
        floor(u(lineId, 17, seed) * nPart).cast("long").as("l_partkey"),
        floor(u(lineId, 18, seed) * nSupp).cast("long").as("l_suppkey"),
        col("l_linenumber"),
        (floor(u(lineId, 19, seed) * 50) + 1).as("l_quantity"),
        col("o_orderdate"), lineId.as("lid"))
      .withColumn("l_extendedprice",
        round(col("l_quantity") * (lit(900.0) + u(col("lid"), 20, seed) * 1200.0), 2))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"),
        round(floor(u(col("lid"), 21, seed) * 11) * 0.01, 2).as("l_discount"),
        round(floor(u(col("lid"), 22, seed) * 9) * 0.01, 2).as("l_tax"),
        pick(Seq("A", "N", "R"), col("lid"), 23, seed).as("l_returnflag"),
        pick(Seq("F", "O"), col("lid"), 24, seed).as("l_linestatus"),
        (col("o_orderdate") + make_interval(lit(0), lit(0), lit(0),
          (floor(u(col("lid"), 25, seed) * 121) + 1).cast("int"))).as("l_shipdate")))

    // events: time-ordered by event_id over 30 days, exponential values
    val stepMicros = 30L * 86400L * 1000000L / nEvents
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    save("events", ids(nEvents).select(id.as("event_id"),
      (lit(t0) + make_dt_interval(lit(0), lit(0), lit(0),
        ((id * stepMicros + floor(u(id, 26, seed) * stepMicros)) / 1e6).cast("decimal(18,6)")))
        .as("ts"),
      floor(u(id, 27, seed) * nUsers).cast("long").as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), id, 28, seed).as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u(id, 29, seed) * 0.99999), 2).as("value"),
      format_string("{\"k\": %d}", floor(u(id, 30, seed) * 100).cast("int")).as("props")))

    // documents: random word sequences; one in ten is a near-copy of an
    // earlier document (a few words swapped), one in 400 an exact copy
    val nDocs = math.max(500L, math.round(50000 * sf))
    val vocabArr = array(vocab.map(lit): _*)
    val base = when(u(id, 31, seed) < 0.1 && id > 0, floor(u(id, 32, seed) * id).cast("long"))
      .otherwise(id)
    val exact = u(id, 33, seed) < 0.0025
    val words = transform(sequence(lit(1), (floor(u(col("base"), 34, seed) * 92) + 8).cast("int")),
      i => when(!col("exact") && col("base") =!= col("id") && u(col("id") * 1000 + i, 35, seed) < 0.1,
          element_at(vocabArr, (floor(u(col("id") * 1000 + i, 36, seed) * vocab.size) + 1).cast("int")))
        .otherwise(element_at(vocabArr,
          (floor(u(col("base") * 1000 + i, 37, seed) * vocab.size) + 1).cast("int"))))
    save("documents", ids(nDocs)
      .select(id, when(exact && id > 0, floor(u(id, 38, seed) * id).cast("long"))
        .otherwise(base).as("base"), exact.as("exact"))
      .select(col("id").as("doc_id"), array_join(words, " ").as("text"),
        pick(Seq("en", "en", "en", "en", "en", "en", "zh", "zh", "zh", "es", "es", "es",
          "fr", "fr", "fr", "de", "de", "de", "en", "en"), col("id"), 39, seed).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: unit vectors around ten label centres; one in twenty is
    // a near-copy of an earlier vector
    val nEmb = math.max(500L, math.round(20000 * sf))
    val src = when(u(id, 41, seed) < 0.05 && id > 0, floor(u(id, 42, seed) * id).cast("long"))
      .otherwise(id)
    val raw = transform(sequence(lit(0), lit(63)), d =>
      gauss(col("label").cast("long") * 64 + d, 43, seed) * 0.6 +
        gauss(col("src") * 64 + d, 44, seed) * 0.8 +
        when(col("src") =!= col("id"), gauss(col("id") * 64 + d, 45, seed) * 0.02).otherwise(lit(0.0)))
    save("embeddings", ids(nEmb)
      .select(id, src.as("src0"))
      .select(col("id"), col("src0").as("src"),
        floor(u(col("src0"), 40, seed) * 10).cast("int").as("label"))
      .withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (s, x) => s + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label")))
  }

  private def daysAfter(days: Column, day0: java.time.LocalDateTime): Column =
    lit(day0) + make_interval(lit(0), lit(0), lit(0), days)
}
