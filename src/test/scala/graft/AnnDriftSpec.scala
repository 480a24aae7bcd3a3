package graft

/** Result drift gate for `scale.Similarity`: every row of
  * `Similarity.queries` (the ANN family plus the PCA, k-means, int8,
  * NDCG, projection and time-series rows) and, where one exists, its
  * `benchImpls` serve read must reproduce the `BenchAction.consume`
  * (rows, checksum) recorded at sf0.001. The DuckDB oracle cannot run
  * in-session, so a refactor of the shared index lifecycle or the
  * shared scoring and top-k helpers is checked against these values
  * instead. */
class AnnDriftSpec extends SparkSpec {

  test("every ann_* row reproduces its recorded rows and checksum") {
    spark.catalog.clearCache()
    val similarity = scale.Similarity.queries.keySet
    val rows = SparkEntry.queries.toSeq.filter(q => similarity(q._1)).sortBy(_._1) ++
      SparkEntry.benchImpls.toSeq.filter(q => similarity(q._1)).sortBy(_._1)
        .map { case (k, f) => (s"$k/bench", f) }
    val got = rows.map { case (name, fn) => name -> BenchAction.consume(fn(spark, sfDir)) }
    val drift = got.filter { case (name, nh) => !AnnDriftSpec.expected.get(name).contains(nh) }
    assert(got.size == AnnDriftSpec.expected.size && drift.isEmpty,
      s"Similarity drift (${got.size} rows run, ${AnnDriftSpec.expected.size} recorded); " +
        "observed (rows, checksum):\n  " + drift.mkString("\n  "))
  }
}

object AnnDriftSpec {
  /** row → (rows, checksum) at sf0.001, recorded twice in separate
    * JVMs before the stored-index lifecycle was shared (the `ann_*`
    * rows) and again before the scoring and top-k helpers were shared
    * (the six others); both recordings agreed on every checksum. */
  val expected: Map[String, (Long, Long)] = Seq[(String, Long, Long)](
    ("ann_brute_force", 50L, -3060307938L),
    ("ann_dot_expr", 50L, -3060307938L),
    ("ann_ivf2_append", 500L, -14613805414L),
    ("ann_ivf2_assign", 500L, -14613805414L),
    ("ann_ivf2_compact", 500L, -14613805414L),
    ("ann_ivf2_delete", 475L, -20668258561L),
    ("ann_ivf2_rebuild", 30L, -5961254027L),
    ("ann_ivf2_search", 30L, -5961254027L),
    ("ann_ivf2_serve", 30L, -5961254027L),
    ("ann_ivf2_staleness", 2L, 3482563793L),
    ("ann_ivf_assign", 500L, -14613805414L),
    ("ann_ivf_search", 30L, -5961254027L),
    ("ann_ivfsq_delete", 30L, -6828103233L),
    ("ann_ivfsq_delete_mor", 30L, -6828103233L),
    ("ann_ivfsq_mor_fold", 30L, -6828103233L),
    ("ann_ivfsq_search", 30L, -5961254027L),
    ("ann_ivfsq_serve", 30L, -5961254027L),
    ("ann_lsh_buckets", 500L, 6324069856L),
    ("ann_lsh_mp_search", 30L, -5261463981L),
    ("ann_lsh_search", 17L, 1068470772L),
    ("ann_opq_search", 30L, 2257080390L),
    ("ann_pq_encode", 500L, -11999395650L),
    ("ann_pq_search", 30L, -4117188931L),
    ("ann_recall", 28L, -5266993198L),
    ("ann_recall2", 90L, -5629270236L),
    ("ann_sq8_append", 30L, -5261463981L),
    ("ann_sq8_delete", 475L, -33138399550L),
    ("ann_sq8_search", 30L, -5261463981L),
    ("ann_sq8_serve", 30L, -5261463981L),
    ("emb_pca_power", 64L, 5226184400L),
    ("emb_project", 500L, -66406130042L),
    ("emb_quantize", 500L, -41608451991L),
    ("kmeans_fit", 512L, 15438924894L),
    ("rank_ndcg", 18L, -5054524509L),
    ("ts_similar_windows", 10L, 806156903L),
    ("ann_ivf2_serve/bench", 30L, -5961254027L),
    ("ann_ivfsq_serve/bench", 30L, -5961254027L),
    ("ann_sq8_serve/bench", 30L, -5261463981L)
  ).map { case (k, n, h) => k -> (n, h) }.toMap
}
