package graft.scale

import graft.Tables
import graft.util.CacheOnce._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * Two tiers (the 100 TB story):
  *  - brute-force top-k: broadcast the (small) query set against the
  *    corpus — one pass, no corpus shuffle, exact answers; the baseline
  *    and the verification stage for any ANN index;
  *  - random-hyperplane LSH buckets: corpus is hashed once into 2^8
  *    sign-pattern buckets (a map stage), queries probe only their own
  *    bucket — the candidate set shrinks ~256×; hyperplanes are
  *    md5-derived so the oracle reproduces them exactly.
  *
  * All dot products run in double as unrolled codegen'd expressions (no
  * UDF, no per-row array allocation). Embeddings are float32 in storage —
  * cast first, so both engines see identical doubles.
  */
object Similarity {

  private[scale] def vecDouble(c: Column): Column = transform(c, x => x.cast("double"))
  /** Dense dot product via the codegen'd [[graft.functions.DotProduct]]
    * expression — ascending-dimension summation, bit-identical to the
    * unrolled 64-term arithmetic it replaced (`DotProductSpec` pins the
    * equality; measured ~3× faster on the brute-force pass) and to
    * DuckDB's list_sum fold. Requires [[graft.functions.GraftFunctions
    * .register]], done in [[corpus]]. */
  private[scale] def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot(a, b)

  /** Hash-aggregable lexicographic argmin: `min(packArgmin(d, id))` ≡
    * `ORDER BY d, id LIMIT 1` per group. `min(struct(d, id))` plans as
    * a SortAggregate (struct buffers aren't UnsafeRow-mutable) and
    * sorts the full vectors×centroids input — 5.3 GB of spill at sf10
    * in the shuffle-byte audit; the packed DECIMAL form stays in
    * HashAggregate + codegen. See [[graft.functions.DoubleRawBits]]. */
  private[scale] def packArgmin(ord: Column, id: Column): Column =
    graft.functions.GraftFunctions.packOrdId(ord, id)
  private[scale] def packedId(p: Column): Column =
    graft.functions.GraftFunctions.packedId(p)
  private[scale] def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** The 32×64 hyperplane matrix, md5-derived EXACTLY like the oracle's
    * `('0x'||substr(md5(j||'_'||d),1,8))::BIGINT / 2^31 - 1` — computed
    * once on the driver and baked in as literals (the SQL form would
    * recompute 512 md5s per row). Rows 0–7 serve the ANN bucket index;
    * the full 32 serve the banded near-dup candidate generator in
    * [[Dedup]]. */
  private[scale] lazy val planes: Array[Array[Double]] = {
    // 1024 planes (≈ 512 KB) so the adaptive embedding-LSH schedule
    // (up to 64 bands × 16 bits, Dedup.lshSchedule) draws from the same
    // deterministic md5 family the 8/32-plane consumers already use —
    // plane j is identical at any width
    val mdig = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(1024, 64) { (j, d) =>
      val hex = mdig.digest(s"${j}_$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) / 2147483648.0 - 1.0
    }
  }

  /** Deterministic IVF coarse-centroid schedule — [[graft.scale.Dedup.lshSchedule]]'s
    * pattern applied to k (the round-7 sf10 audit's own prescription):
    *   k = smallest power of two in [16, 2^20] with n ≤ 256·k,
    * i.e. expected inverted-list population ≤ 256. That bound is what
    * keeps every list-local kernel linear-with-constant instead of
    * quadratic: SemDeDup's in-list pair scan tracks n·256 (not n²/16 as
    * the previous FIXED k = 16 did — measured 1.2e9 in-list pairs at
    * 200k vectors), and a per-probe list scan reads ~256 vectors
    * regardless of corpus size. Pure integer arithmetic so the oracle
    * mirrors it bit-for-bit ([[ivfSchedCte]], an integer search over
    * generate_series exactly like the LSH mirror). Fixture SFs
    * (500–2000 vectors) resolve to the k = 16 floor, so every
    * pre-schedule gate output is unchanged there.
    *
    * The trade this buys and the one it leaves, stated: assignment is a
    * brute n×k nearest-centroid scan — n·k ≈ n²/256 multiply-adds at
    * the schedule's density. Harmless through the measured range (sf10:
    * 200k vectors → k = 1024 → 2·10⁸ dots, sub-second for the codegen'd
    * kernel) and honest up to the 2^20 cap (~268M vectors), but at
    * n ≥ ~100M a production deployment samples the k-means fit and
    * routes assignment through its own coarse index over the centroids
    * (two-level IVF, the FAISS shape) — landed as [[annIvf2Assign]]:
    * the same schedule applied to the centroid set gives k1 supers,
    * routing work drops to n·(k1 + k/k1), and the super set stays
    * broadcastable everywhere k no longer is. */
  private[graft] def ivfSchedule(n: Long): Int =
    (4 to 20).map(b => 1 << b).find(k => n <= 256L * k).getOrElse(1 << 20)

  /** Corpus row count, memoized per dir and [[StoredIndex.fingerprint]]:
    * every schedule derivation ([[ivfK]], the LSH bits, the append cut)
    * needs n, and each `.count()` is a whole Spark job, while a
    * rewritten corpus must be recounted. */
  private val corpusCountCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  private[scale] def corpusCount(spark: SparkSession, dir: String): Long =
    corpusCountCache.computeIfAbsent((dir, StoredIndex.fingerprint(spark, dir)),
      _ => corpus(spark, dir).count())

  /** Scheduled centroid count for the corpus under `dir` — derived
    * from the memoized [[corpusCount]] (the same read [[graft.scale
    * .Dedup.embeddingLshPairs]] pays for its banding schedule). */
  private[scale] def ivfK(spark: SparkSession, dir: String): Int =
    ivfSchedule(corpusCount(spark, dir))

  /** Oracle mirror of [[ivfSchedule]]: DuckDB derives the same k from
    * the same count with the same integer arithmetic, so `vec_id <
    * (SELECT k FROM isched)` selects the identical centroid set at any
    * corpus size. */
  private[scale] val ivfSchedCte: String =
    """isched AS (
      |  SELECT coalesce(min(1::BIGINT << g.b), 1::BIGINT << 20) AS k
      |  FROM unnest(generate_series(4, 20)) AS g(b)
      |  WHERE (SELECT count(*) FROM embeddings) <= 256 * (1::BIGINT << g.b))""".stripMargin

  /** Corpus with precomputed norms. Cached (520 B/row — the in-memory
    * vector index): every ANN query reads it at least twice, and the
    * materialization boundary stops CollapseProject from inlining the
    * cast-`transform` into each of the 64 `element_at` sites of every
    * unrolled dot product. */
  private[scale] def corpus(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark) // graft_dot for every ANN query
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .cacheOnce()
  }

  // ------------------------------------------- scoring, top-k cuts, recall
  /** The query set (query_id, qv, qn): the first `n` vectors of a
    * (vec_id, v, nrm) corpus frame. */
  private def queryVecs(c: DataFrame, n: Int = 10): DataFrame =
    c.filter(col("vec_id") < n)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))

  /** Exact cosine of a corpus row (v, nrm) against a query (qv, qn). */
  private def cosine: Column = dot(col("v"), col("qv")) / (col("nrm") * col("qn"))

  /** The exact brute-force pass: every corpus row scored against every
    * other query, with `cosine` added. */
  private def exactScored(c: DataFrame): DataFrame =
    c.join(broadcast(queryVecs(c)), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine)

  /** The single-table LSH probe over a corpus frame carrying `bucket`:
    * each query scores only the rows of its own bucket. */
  private def lshScored(c: DataFrame): DataFrame = {
    val q = c.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qbucket"))
    c.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine)
  }

  /** The per-query top-k cut of a scored (query_id, vec_id, …) frame:
    * `row_number` over `order` with a vec_id tie-break, kept to ≤ k in
    * column `rank`. Cosine cuts rank descending; the ADC cuts pass their
    * ascending distance `col("adist")`. */
  private def topK(scored: DataFrame, k: Int, order: Column = col("cosine").desc,
      rank: String = "rank"): DataFrame =
    scored.withColumn(rank, row_number().over(
        Window.partitionBy(col("query_id")).orderBy(order, col("vec_id"))))
      .filter(col(rank) <= k)

  /** A top-k cut as result rows: (query_id, rank, neighbor_id, score
    * rounded to 6 decimals). */
  private def neighbors(cut: DataFrame, score: String = "cosine"): DataFrame =
    cut.select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
      round(col(score), 6).as(score))

  /** The top-10 (query_id, vec_id) pairs: a recall sheet's retrieved
    * or ground-truth set. */
  private def top10(scored: DataFrame, order: Column = col("cosine").desc): DataFrame =
    topK(scored, 10, order).select(col("query_id"), col("vec_id"))

  /** One recall@10 row per query: how many of the retrieved top-10
    * pairs (`approx`) are in the ground-truth top-10 (`truth`). */
  private def recallOf(approx: DataFrame, truth: DataFrame, method: String): DataFrame =
    approx.alias("a").join(truth.alias("b"),
        col("a.query_id") === col("b.query_id") && col("a.vec_id") === col("b.vec_id"),
        "left")
      .groupBy(col("a.query_id").as("query_id"))
      .agg(count(lit(1)).as("n_retrieved"), count(col("b.vec_id")).as("n_hits"))
      .select(col("query_id"), lit(method).as("method"),
        col("n_retrieved"), col("n_hits"),
        round(col("n_hits").cast("double") / 10, 6).as("recall_at_10"))

  // The same vocabulary on the oracle side: CTE fragments the DuckDB
  // mirrors compose, each the SQL form of the engine helper it names.

  /** CTE `name(vec_id, v, nrm)`: the embeddings as doubles with their L2
    * norm — the mirror of [[corpus]]. */
  private def normCte(name: String): String =
    s"""$name AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
       |  FROM embeddings)""".stripMargin

  /** CTE `name(query_id, vec_id, cosine)`: exact cosine of corpus alias
    * `e` against query alias `q` over the `from` clause — the mirror of
    * [[cosine]]. */
  private def cosineCte(name: String, from: String, e: String = "e", q: String = "q"): String =
    s"""$name AS (
       |  SELECT $q.query_id, $e.vec_id,
       |         list_sum(list_transform(list_zip($e.v, $q.qv), p -> p[1] * p[2])) / ($e.nrm * $q.qn) AS cosine
       |  FROM $from)""".stripMargin

  /** Final cut mirroring [[neighbors]] over [[topK]]: `src`'s
    * (query_id, vec_id, cosine) rows ranked, the first `k` kept. */
  private def neighborsSql(src: String, k: Int): String =
    s"""ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM $src)
       |SELECT query_id, rank, vec_id AS neighbor_id, round(cosine, 6) + 0 AS cosine
       |FROM ranked WHERE rank <= $k""".stripMargin

  /** `ORDER BY` of a cosine cut and of an ADC cut (the eight partial
    * distances summed in subspace order), for [[top10Cte]]. */
  private val byCosineSql = " ORDER BY cosine DESC"
  private val byAdistSql = "\n" + " " * 17 + "ORDER BY d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7"

  /** CTE `name(query_id, vec_id)`: the top-10 pairs of `src` — the
    * mirror of [[top10]]. */
  private def top10Cte(name: String, src: String, order: String = byCosineSql): String =
    s"""$name AS (
       |  SELECT query_id, vec_id
       |  FROM (SELECT query_id, vec_id,
       |               row_number() OVER (PARTITION BY query_id$order, vec_id) AS rank
       |        FROM $src)
       |  WHERE rank <= 10)""".stripMargin

  /** The recall sheet mirroring [[recallOf]]: CTE `rec` with one member
    * per (method, retrieved CTE, truth CTE), then the recall@10 select.
    * `notes` holds SQL comment lines set before a method's member. */
  private def recallSql(rows: Seq[(String, String, String)],
      notes: Map[String, String] = Map.empty): String = {
    val members = rows.zipWithIndex.map { case ((method, approx, truth), i) =>
      val counts =
        if (i == 0) s"'$method' AS method, count(*) AS n_retrieved, count(b.vec_id) AS n_hits"
        else s"'$method', count(*), count(b.vec_id)"
      notes.get(method).fold("")(_ + "\n") +
        s"  SELECT a.query_id, $counts\n" +
        s"  FROM $approx a LEFT JOIN $truth b ON a.query_id = b.query_id AND a.vec_id = b.vec_id\n" +
        "  GROUP BY a.query_id"
    }
    s"""rec AS (
       |${members.mkString("\n  UNION ALL\n")})
       |SELECT query_id, method, n_retrieved, n_hits,
       |       round(CAST(n_hits AS DOUBLE) / 10, 6) + 0 AS recall_at_10
       |FROM rec""".stripMargin
  }

  // ---------------------------------------------------------------- brute force
  /** Exact top-5 cosine neighbors for the first 10 vectors as queries. */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame =
    neighbors(topK(exactScored(corpus(spark, dir)), 5))

  val annBruteForceSql: String =
    s"""WITH ${normCte("e")},
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 10),
      |${cosineCte("scored", "e, q WHERE e.vec_id <> q.query_id")},
      |${neighborsSql("scored", 5)}""".stripMargin

  /** [[annBruteForce]] re-expressed over the codegen'd
    * [[graft.functions.DotProduct]] Catalyst expression (`graft_dot`) —
    * same semantics, same oracle, bit-identical results: the custom
    * `doGenCode` loop replaces 64 unrolled multiply-adds per pair. The
    * point is the extension tier: where an unrolled form blows the
    * codegen budget (join conditions, wider vectors), the expression
    * stays a single tree node and never falls back to interpretation.
    * [[annBruteForce]] itself now scores through the same expression,
    * so this row delegates to it; both stay registered. */
  def annDotExpr(spark: SparkSession, dir: String): DataFrame = annBruteForce(spark, dir)

  // ---------------------------------------------------------------- LSH
  /** Sign-pattern bucket id over the 8 precomputed hyperplanes: unrolled
    * plane dots (literal coefficients) summed into a bit pattern. */
  private[scale] def lshBucket(v: Column): Column =
    (0 until 8).map { j =>
      val planeDot = (0 until 64)
        .map(d => element_at(v, d + 1) * lit(planes(j)(d))).reduce(_ + _)
      when(planeDot >= 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** Bucketed-corpus ANN index (corpus + sign-pattern bucket), plus the
    * exact brute-force scored pairs over the probe query set — shared
    * UPSTREAM indexes of the two acceptance probes ([[annRecall]],
    * [[rankNdcg]]): both re-read the same scored ground truth, and the
    * brute pass is their dominant cost. Neither registered query serves
    * these frames as its own result, so the memo stays bench-honest. */
  private def bucketedCorpus(spark: SparkSession, dir: String): DataFrame =
    DirMemo.getOrCompute(spark, "ann_bucketed", dir)(
      corpus(spark, dir).withColumn("bucket", lshBucket(col("v"))).localCheckpoint())

  private def bruteScored(spark: SparkSession, dir: String): DataFrame =
    DirMemo.getOrCompute(spark, "ann_brute_scored", dir)(
      exactScored(bucketedCorpus(spark, dir))
        .select(col("query_id"), col("vec_id"), col("cosine"))
        .localCheckpoint())

  /** Corpus bucket assignment (one map pass — the index build). */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .select(col("vec_id"), lshBucket(col("v")).as("bucket"))

  /** CTE `name(j, h)`: hyperplanes 0 … `last` of [[planes]], md5-derived
    * exactly as the engine derives them. */
  private def planesCte(name: String, last: String): String =
    s"""$name AS (
       |  SELECT j, list_transform(generate_series(0, 63),
       |           d -> ('0x' || substr(md5(j::VARCHAR || '_' || d::VARCHAR), 1, 8))::BIGINT
       |                  / 2147483648.0 - 1.0) AS h
       |  FROM unnest(generate_series(0, $last)) AS t(j))""".stripMargin

  /** CTE `signs(vec_id, j, bit)`: each row of `src` against each of the
    * 8 `planes` — the terms [[lshBucket]] sums. */
  private def signsCte(src: String): String =
    s"""signs AS (
       |  SELECT $src.vec_id, p.j,
       |         CASE WHEN list_sum(list_transform(list_zip($src.v, p.h), q -> q[1] * q[2])) >= 0
       |              THEN CAST(pow(2.0, p.j) AS BIGINT) ELSE 0 END AS bit
       |  FROM $src, planes p)""".stripMargin

  /** The 8-plane bucket index chain: `e0` (norms), planes, sign bits,
    * `b` (bucket ids), `e` (e0 with its bucket) and `q`, the query set
    * with its bucket — shared by the LSH search, recall and NDCG
    * oracles. */
  private val lshChainCte: String =
    s"""${normCte("e0")},
       |${planesCte("planes", "7")},
       |${signsCte("e0")},
       |b AS (SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket FROM signs GROUP BY vec_id),
       |e AS (SELECT e0.*, b.bucket FROM e0 JOIN b USING (vec_id)),
       |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qbucket
       |      FROM e WHERE vec_id < 10)""".stripMargin

  /** The mirror of [[lshScored]]: each query scores its own bucket. */
  private def lshScoredCte(name: String): String =
    cosineCte(name, "e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id")

  val annLshBucketsSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |${planesCte("planes", "7")},
      |${signsCte("e")}
      |SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket
      |FROM signs GROUP BY vec_id""".stripMargin

  /** LSH-bucketed ANN: queries probe only their own bucket, exact cosine
    * within it — top-3. Scale path: join on bucket replaces the cross
    * join; recall < 1 by construction (the trade the operator makes).
    *
    * ADJUDICATED (round 10): as a single 8-bit table this index is a
    * NEGATIVE CONTROL, kept deliberately — measured recall@10 ≈ 0.02
    * at both sf0.1 and sf1 ([[annRecall]], SCALE.md ANN table). On
    * near-isotropic embeddings a neighbor at angle θ survives one
    * 8-bit sign pattern with probability (1−θ/π)^8 ≈ 0.02 at the
    * corpus's typical neighbor angle, so one table CANNOT work — no
    * parameter tweak short of restructuring fixes it. The usable
    * variant is [[annLshMpSearch]]: L = 8 independent tables with
    * schedule-adaptive width, whose unioned candidates lift recall to
    * the level the ANN table reports while keeping probe cost bounded.
    * This probe stays registered because the pair (single-table ≈ 0,
    * multi-table usable) is the deployment-facing finding. */
  def annLshSearch(spark: SparkSession, dir: String): DataFrame = {
    // cached: the 512-term bucket expression would otherwise evaluate on
    // BOTH sides of the query-probe join (corpus + queries derive from
    // the same scan)
    val c = corpus(spark, dir)
      .withColumn("bucket", lshBucket(col("v")))
      .cacheOnce()
    neighbors(topK(lshScored(c), 3))
  }

  val annLshSearchSql: String =
    s"""WITH $lshChainCte,
      |${lshScoredCte("scored")},
      |${neighborsSql("scored", 3)}""".stripMargin

  // ------------------------------------------------------- multi-table LSH
  /** Bits per LSH table, schedule-derived: b = log₂([[ivfSchedule]](n)),
    * i.e. the smallest power-of-two bucket count that keeps expected
    * population ≤ 256 — the same integer arithmetic the IVF family
    * uses, so the oracle mirrors it with the same CTE pattern. 2^b
    * buckets/table ⇒ per-table candidate cost ≈ 256 per query at ANY
    * corpus size (the bound the whole family is built on). */
  private[scale] def lshTableBits(n: Long): Int =
    Integer.numberOfTrailingZeros(ivfSchedule(n))

  /** Number of independent hash tables (L). Recall of a union of L
    * independent tables is 1−(1−p^b)^L for a neighbor whose per-plane
    * agreement is p — L is the knob that buys recall WITHOUT growing
    * any single probe, the classic LSH trade. */
  private[scale] val mpTables = 8

  /** All [[mpTables]] bucket ids of a vector — ONE codegen'd
    * [[graft.functions.LshBuckets]] pass over the flat plane matrix
    * (rows t·b … t·b+b−1 per table, the same md5 family the
    * single-table index and the oracle derive). The first cut composed
    * b `when(graft_dot(...))` trees per table; at b = 10 (sf10) that
    * is 80 expression nodes in one projection — past the codegen
    * budget, interpreted fallback, and 80 s of the 72 s lsh_mp wall
    * (LshMpProbe receipt; candidates were bounded as designed). */
  private def mpBucketsAll(v: Column, b: Int): Column =
    graft.functions.GraftFunctions.lshBuckets(
      v, planes.take(mpTables * b).flatten.toArray, mpTables, b)

  /** Scored multi-table multi-probe candidates (query_id, vec_id,
    * cosine): corpus hashed once into L bucket ids (one map pass, the
    * array computed once per row then exploded to L index rows); each
    * QUERY probes, per table, its own bucket plus the b Hamming-1
    * neighbors (one sign bit flipped) — the standard multi-probe trade:
    * a near neighbor that missed the exact pattern by ONE plane is
    * still found, which is where most of the recall lost at larger b
    * lives (measured mean recall@10 at sf1, b = 7: 0.37 exact-bucket
    * → 0.86 with Hamming-1). Probe rows stay tiny (queries × L × (b+1)) and
    * broadcast into the (t, bucket) equi-join; candidates dedup across
    * tables and probes; exact cosine once per surviving pair. No
    * corpus shuffle wider than the L-row fan-out; candidate volume is
    * bounded by L·(b+1)·256 per query by the bits schedule — constant
    * in corpus size. */
  private def lshMpCandidates(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val b = lshTableBits(corpusCount(spark, dir))
    val tabbed = c
      .select(col("vec_id"), posexplode(mpBucketsAll(col("v"), b)))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "bucket")
    val qtab = tabbed.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("t"),
        explode(array(col("bucket") +:
          (0 until b).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*)).as("bucket"))
    val pairs = tabbed.join(broadcast(qtab), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    pairs.join(c, "vec_id").join(broadcast(queryVecs(c)), "query_id")
      .select(col("query_id"), col("vec_id"), cosine.as("cosine"))
  }

  /** Multi-table multi-probe LSH search: top-3 over the unioned
    * candidates of [[mpTables]] independent sign-pattern tables, each
    * probed at Hamming distance ≤ 1 — the USABLE LSH index the
    * single-table [[annLshSearch]] negative control points at. Probe
    * cost per query stays ≈ L·(b+1)·256 at any corpus size; recall
    * comes from table independence × probe width (measured in
    * [[annRecall2]] and the SCALE.md ANN table). */
  def annLshMpSearch(spark: SparkSession, dir: String): DataFrame =
    neighbors(topK(lshMpCandidates(spark, dir), 3))

  /** Oracle CTE fragment for the multi-table candidates — assumes a
    * preceding `e` CTE with (vec_id, v, nrm). Ends at `mscored`. */
  private[scale] val lshMpCandCte: String =
    s"""bsched AS (
      |  SELECT coalesce(min(1::BIGINT << g.b), 1::BIGINT << 20) AS k,
      |         coalesce(min(g.b), 20) AS b
      |  FROM unnest(generate_series(4, 20)) AS g(b)
      |  WHERE (SELECT count(*) FROM embeddings) <= 256 * (1::BIGINT << g.b)),
      |${planesCte("mplanes", "8 * (SELECT b FROM bsched) - 1")},
      |msigns AS (
      |  SELECT e.vec_id, p.j // (SELECT b FROM bsched) AS t,
      |         CASE WHEN list_sum(list_transform(list_zip(e.v, p.h), q -> q[1] * q[2])) >= 0
      |              THEN (1::BIGINT << (p.j % (SELECT b FROM bsched))) ELSE 0 END AS bit
      |  FROM e, mplanes p),
      |mb AS (SELECT vec_id, t, CAST(sum(bit) AS BIGINT) AS bucket
      |       FROM msigns GROUP BY vec_id, t),
      |mq AS (SELECT vec_id AS query_id, t, bucket FROM mb WHERE vec_id < 10),
      |mqp AS (
      |  SELECT query_id, t, xor(bucket, f.flip) AS bucket
      |  FROM mq, unnest([0::BIGINT] || list_transform(
      |         generate_series(0, (SELECT b FROM bsched) - 1),
      |         i -> (1::BIGINT << i))) AS f(flip)),
      |mpairs AS (
      |  SELECT DISTINCT q.query_id, c.vec_id
      |  FROM mb c JOIN mqp q ON c.t = q.t AND c.bucket = q.bucket
      |  WHERE c.vec_id <> q.query_id),
      |qm AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 10),
      |mscored AS (
      |  SELECT p.query_id, p.vec_id,
      |         list_sum(list_transform(list_zip(e.v, q.qv), z -> z[1] * z[2])) / (e.nrm * q.qn) AS cosine
      |  FROM mpairs p JOIN e ON e.vec_id = p.vec_id
      |       JOIN qm q ON q.query_id = p.query_id)""".stripMargin

  val annLshMpSearchSql: String =
    s"""WITH ${normCte("e")},
      |$lshMpCandCte,
      |${neighborsSql("mscored", 3)}""".stripMargin

  // ---------------------------------------------------------------- IVF
  /** IVF coarse assignment (the second ANN index family — inverted file):
    * [[ivfSchedule]]-many deterministic centroids (`vec_id < k` —
    * reproducible in the oracle without k-means), every vector assigned
    * to its nearest by squared L2 via a hash-aggregate argmin on
    * (dist, cid) — one broadcast join and one aggregate, the index-build
    * shape (at scale the centroid set comes from a sampled k-means fit,
    * the assignment plan is identical). k is corpus-size-adaptive so the
    * expected list length stays ≤ 256 — the bound every downstream
    * list-local kernel ([[graft.scale.Dedup.dedupSemantic]], the probe
    * scans here and in [[annRecall]]) relies on to stay sub-quadratic. */
  def annIvfAssign(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val cents = c.filter(col("vec_id") < ivfK(spark, dir))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // argmin as a HASH AGGREGATE, not a rank-1 window: min over the
    // packed (dist, cid) value ([[packArgmin]]) is exactly ORDER BY
    // dist, cid LIMIT 1 per vector, partial-aggregates map-side (k
    // centroid rows collapse to 1 before the shuffle) and never sorts
    // — the assignment shape that holds at corpus scale. min(dist)
    // rides in the same aggregate: it always equals the packed
    // winner's dist (the pack orders by dist first).
    c.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("cid"), sqDist("v", "cv").as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(packArgmin(col("dist"), col("cid"))).as("p"),
        min(col("dist")).as("d"))
      .select(col("vec_id"), packedId(col("p")).as("centroid_id"),
        round(col("d"), 6).as("dist_sq"))
  }

  val annIvfAssignSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |$ivfSchedCte,
      |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < (SELECT k FROM isched)),
      |dists AS (
      |  SELECT e.vec_id, c.cid,
      |         list_sum(list_transform(list_zip(e.v, c.cv),
      |                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
      |  FROM e CROSS JOIN cents c)
      |SELECT vec_id, cid AS centroid_id, round(dist, 6) + 0 AS dist_sq
      |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      |      FROM dists)
      |WHERE rk = 1""".stripMargin

  /** TWO-LEVEL IVF assignment — the FAISS-shape coarse index the
    * [[ivfSchedule]] scaladoc names as the production path past the
    * brute n×k assignment wall (n ≥ ~100M ⇒ k ≥ 2^19 ⇒ n·k ≥ 5·10¹³
    * multiply-adds; measured below in SCALE.md).
    *
    * Structure: the schedule applied to the CENTROID set gives
    * k1 = ivfSchedule(k) super-centroids (`vec_id < k1`); each centroid
    * routes to its nearest super (k×k1 dots); each vector routes to its
    * nearest super (n×k1 dots) and then exact-assigns among only that
    * super's centroid group (expected k/k1 ≤ 256 per group). Total
    * routing work is n·(k1 + k/k1) instead of n·k — at n = 268M,
    * k = 2^20: 4.4·10¹² → 1.2·10¹² ops, and k1 (≤ 2^12 there) stays
    * broadcastable where k no longer is.
    *
    * Every stage is the same hash-aggregable packed argmin; tie-break
    * (dist, id) everywhere; the oracle replays the nested argmin with
    * the schedule derived twice from the same integer arithmetic
    * ([[ivf2SchedCte]]). At fixture SFs — sf0.001 (500 vectors) through
    * sf0.1 (2000 vectors) — the schedule DEGENERATES to k1 = k = 16
    * (supers ≡ centroids, singleton groups): each vector's nearest
    * super IS its nearest centroid, so the output is bit-identical to
    * [[annIvfAssign]] — the degeneracy the spec pins. The genuinely
    * NESTED shape first appears at sf1 (20k vectors, k = 128, k1 = 16)
    * and sf10 (200k vectors, k = 1024, k1 = 16), both hash-green
    * against the nested-argmin oracle in the committed MATCHECK/bench
    * artifacts, plus a committed 5000-vector (k = 32, k1 = 16)
    * Verify-vs-DuckDB parity artifact so nested tie-break parity is
    * oracle-pinned, not only checksum-pinned.
    * Single-super routing (nprobe = 1) is the FAISS add-time
    * convention: a vector near a group boundary may land in a
    * near-optimal list (dist_sq ≥ the exact assignment's — the spec's
    * admissibility bound); query-time recall is recovered by probing
    * MORE lists at search ([[annIvf2Search]]), not by a perfect build. */
  def annIvf2Assign(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivf2Index(spark, dir)
    idx.assigned
      .select(col("vec_id"), col("cid").as("centroid_id"),
        round(col("d"), 6).as("dist_sq"))
  }

  /** Squared-L2 over two 64-dim array columns, unrolled for codegen —
    * ascending-dimension summation, the order every oracle replays. */
  private def sqDist(a: String, b: String): Column = (0 until 64)
    .map { d =>
      val diff = element_at(col(a), d + 1) - element_at(col(b), d + 1)
      diff * diff
    }.reduce(_ + _)

  /** The two-level index frames [[annIvf2Assign]] and [[annIvf2Search]]
    * share: supers (k1 rows), groups (centroids + their routed super,
    * k rows), and the per-vector exact-within-group assignment
    * (vec_id, cid, d). All lazy — each registered query pays for what
    * it materializes, so the bench rows stay honest. */
  private[scale] case class Ivf2Index(k: Int, k1: Int, c: DataFrame,
      supers: DataFrame, groups: DataFrame, assigned: DataFrame)

  private[scale] def ivf2Index(spark: SparkSession, dir: String): Ivf2Index =
    ivf2IndexOver(corpus(spark, dir), corpusCount(spark, dir))

  /** [[ivf2Index]] over an EXPLICIT corpus frame and its row count —
    * the training kernel behind both the steady-state index (full
    * corpus) and [[annIvf2Rebuild]]'s day-0 generation (a corpus
    * prefix, scheduled at ITS OWN n). The centroid/super sets are
    * vec_id prefixes, so any prefix slice contains its own training
    * set. */
  private[scale] def ivf2IndexOver(c: DataFrame, n: Long): Ivf2Index = {
    val k = ivfSchedule(n)
    val k1 = ivfSchedule(k.toLong)
    val cents = c.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val supers = c.filter(col("vec_id") < k1)
      .select(col("vec_id").as("sid"), col("v").as("sv"))
    // centroid -> super routing (k1 ≤ 2^12 everywhere, so the supers
    // side is always broadcastable — that is the point of the scheme)
    val croute = cents.join(broadcast(supers), lit(true))
      .select(col("cid"), col("cv"), col("sid"), sqDist("cv", "sv").as("dist"))
      .groupBy(col("cid"))
      .agg(min(packArgmin(col("dist"), col("sid"))).as("p"))
      .select(col("cid"), packedId(col("p")).as("sid"))
    val groups = cents.join(croute, "cid") // cid, cv, sid
    // vector -> super routing: n×k1 dots, map-side-combined argmin
    val vroute = c.join(broadcast(supers), lit(true))
      .select(col("vec_id"), col("sid"), sqDist("v", "sv").as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(packArgmin(col("dist"), col("sid"))).as("p"))
      .select(col("vec_id"), packedId(col("p")).as("sid"))
    // exact assignment within the routed group (expected ≤ 256 cents).
    // groups carries k centroid VECTORS (~0.5 GB at the 2^20 cap), so
    // broadcasting it unconditionally would reinstate the same k wall
    // the supers/groups split exists to break: broadcast only while k
    // is comfortably in executor-memory range (2^17 ⇒ ~64 MB), else
    // shuffle-join on sid — each sid key carries its ≤256-centroid
    // group to the routed vectors, k1 (16–4096) keys spread across the
    // shuffle, and no single task ever sees more than one group's
    // centroids per vector batch.
    val groupsSide = if (k <= (1 << 17)) broadcast(groups) else groups
    val assigned = c.join(vroute, "vec_id")
      .join(groupsSide, "sid")
      .select(col("vec_id"), col("cid"), sqDist("v", "cv").as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(packArgmin(col("dist"), col("cid"))).as("p"),
        min(col("dist")).as("d"))
      .select(col("vec_id"), packedId(col("p")).as("cid"), col("d"))
    Ivf2Index(k, k1, c, supers, groups, assigned)
  }

  /** [[ivfSchedCte]] applied twice: k from the corpus count, k1 from k. */
  private[scale] val ivf2SchedCte: String =
    s"""$ivfSchedCte,
       |isched2 AS (
       |  SELECT coalesce(min(1::BIGINT << g.b), 1::BIGINT << 20) AS k1
       |  FROM unnest(generate_series(4, 20)) AS g(b)
       |  WHERE (SELECT k FROM isched) <= 256 * (1::BIGINT << g.b))""".stripMargin

  /** Oracle CTE fragment for the two-level build routing — assumes a
    * preceding `e` CTE with (vec_id, v). Ends at `vroute` (vec_id, sid)
    * with `croute` (cid, cv, sid) alongside. */
  private[scale] val ivf2RouteCte: String =
    s"""$ivf2SchedCte,
      |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < (SELECT k FROM isched)),
      |sups AS (SELECT vec_id AS sid, v AS sv FROM e WHERE vec_id < (SELECT k1 FROM isched2)),
      |croute AS (
      |  SELECT cid, cv, sid FROM (
      |    SELECT c.cid, c.cv, s.sid,
      |           row_number() OVER (PARTITION BY c.cid ORDER BY
      |             list_sum(list_transform(list_zip(c.cv, s.sv),
      |                                     p -> (p[1] - p[2]) * (p[1] - p[2]))), s.sid) AS rk
      |    FROM cents c CROSS JOIN sups s)
      |  WHERE rk = 1),
      |vroute AS (
      |  SELECT vec_id, sid FROM (
      |    SELECT e.vec_id, s.sid,
      |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |             list_sum(list_transform(list_zip(e.v, s.sv),
      |                                     p -> (p[1] - p[2]) * (p[1] - p[2]))), s.sid) AS rk
      |    FROM e CROSS JOIN sups s)
      |  WHERE rk = 1)""".stripMargin

  val annIvf2AssignSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |$ivf2RouteCte,
      |dists AS (
      |  SELECT e.vec_id, c.cid,
      |         list_sum(list_transform(list_zip(e.v, c.cv),
      |                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
      |  FROM e JOIN vroute r ON e.vec_id = r.vec_id
      |         JOIN croute c ON c.sid = r.sid)
      |SELECT vec_id, cid AS centroid_id, round(dist, 6) + 0 AS dist_sq
      |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      |      FROM dists)
      |WHERE rk = 1""".stripMargin

  /** TWO-LEVEL IVF search — the query-time side of [[annIvf2Assign]]:
    * a query routes through the k1 supers first (k1 dots), then scans
    * only the centroids of its 2 nearest super groups (2·k/k1 ≤ 512
    * dots) to pick its nprobe = 2 lists, then exact-searches those
    * lists. Per-query routing cost is k1 + 2·k/k1 instead of the k
    * dots [[annIvfSearch]] pays — at k = 2^20 that is ~4.6k vs 10⁶
    * per query, the difference between a query fan-out that needs its
    * own Spark job per batch and one that rides a broadcast.
    *
    * Plan shape: the corpus-side list assignment is the shared
    * two-level [[ivf2Index]] (three hash-agg packed argmins, the
    * group-side join size-gated exactly as at build time); the
    * query-side routing frames are nprobe×queries rows — rank windows
    * over genuinely tiny sets, then broadcast into the one corpus-sized
    * probe join. At fixture SFs the schedule degenerates (k1 = k,
    * singleton groups), so super-routing ≡ centroid-routing and the
    * output is bit-identical to [[annIvfSearch]] — spec-pinned like the
    * build side; nested behavior is oracle-pinned at sf1/sf10 and on
    * the committed 5000-vector parity artifact.
    *
    * Production shape: this oracle query rebuilds the corpus list
    * assignment inline (the [[ivf2Index]] `assigned` frame) so the
    * measured row stays self-contained; a deployment materializes
    * `assigned` ONCE at index-build time and searches against the
    * stored table, so steady-state query cost is routing (k1 + 2·k/k1
    * dots) plus the probed lists only — no per-query index rebuild. */
  def annIvf2Search(spark: SparkSession, dir: String): DataFrame =
    neighbors(topK(ivf2Candidates(spark, dir), 3))

  /** The scored (query_id, vec_id, cosine) candidate frame behind
    * [[annIvf2Search]] (top-3) and the `ivf2` row of [[annRecall2]]
    * (top-10) — the routing is identical, only the cut differs. */
  private def ivf2Candidates(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivf2Index(spark, dir)
    ivf2Route(idx.c, idx.supers, idx.groups,
      idx.assigned.select(col("vec_id"), col("cid")))
  }

  /** Query-time two-level routing over EXPLICIT index frames — the same
    * code path serves both the self-contained oracle query (frames
    * fresh from [[ivf2Index]]) and the production shape (frames read
    * back from the materialized index, [[annIvf2Serve]]). `assigned`
    * carries (vec_id, cid) only. */
  private def ivf2Route(c: DataFrame, supers: DataFrame, groups: DataFrame,
      assigned: DataFrame): DataFrame = {
    val probes = ivf2Probes(c, supers, groups)
    // exact search over only the probed lists
    c.join(assigned, "vec_id")
      .join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine.as("cosine"))
  }

  /** The query→super→list routing alone: (query_id, qv, qn, cid), the
    * nprobe = 2 probed lists per query — shared by the exact probed
    * scan ([[ivf2Route]]) and the quantized one ([[annIvfSqSearch]]). */
  private[scale] def ivf2Probes(c: DataFrame, supers: DataFrame,
      groups: DataFrame): DataFrame = {
    // query -> super routing: k1 dots per query, keep the 2 nearest
    val qsup = queryVecs(c, annQueryCount).join(broadcast(supers), lit(true))
      .select(col("query_id"), col("qv"), col("qn"), col("sid"),
        sqDist("qv", "sv").as("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist"), col("sid"))))
      .filter(col("rk") <= 2)
      .select(col("query_id"), col("qv"), col("qn"), col("sid"))
    // centroid probe set within the routed supers: 2·k/k1 candidates,
    // keep the nprobe = 2 nearest lists
    groups.join(broadcast(qsup), "sid")
      .select(col("query_id"), col("qv"), col("qn"), col("cid"),
        sqDist("qv", "cv").as("dist"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist"), col("cid"))))
      .filter(col("rk") <= 2)
      .select(col("query_id"), col("qv"), col("qn"), col("cid"))
  }

  /** TWO-LEVEL IVF, production serve shape: the index (supers, groups,
    * vec→list assignment) is MATERIALIZED to parquet once — the
    * index-build write a deployment pays at ingest time — and the
    * search then runs entirely against the stored tables: per-query
    * cost is routing (k1 + 2·k/k1 dots against two tiny read-back
    * frames) plus the probed lists, with NO index recomputation in the
    * query plan. Output is bit-identical to [[annIvf2Search]] (same
    * routing code via [[ivf2Route]], same oracle); what changes is the
    * PLAN — the croute/vroute build joins disappear into the stored
    * tables, leaving the query→super broadcast as the only nested-loop
    * stage (census-pinned: 4 BNLJ inline vs 1 served). The bench row's
    * warm pass measures the serve path alone ([[ivf2ServeRead]] via
    * `SparkEntry.benchImpls`), i.e. the steady-state query cost the
    * annIvf2Search scaladoc's production note promises. */
  def annIvf2Serve(spark: SparkSession, dir: String): DataFrame = {
    ivf2Stored(spark, dir, rebuild = true)
    ivf2ServeRead(spark, dir)
  }

  /** The stored serve index's base dir: supers, groups and the (vec_id,
    * cid, d) assignment, built once per corpus. `d` rides along so the
    * delete rows stage from the stored table instead of recomputing the
    * n×k1 assignment; the serve readers' (vec_id, cid) schema
    * column-prunes it. */
  private[scale] def ivf2Stored(spark: SparkSession, dir: String,
      rebuild: Boolean = false): String =
    StoredIndex.ensure(spark, dir, ivf2ServePath(dir), rebuild)(
      StoredIndex.writeIvf2(ivf2ServePath(dir), ivf2Index(spark, dir), "vec_id", "cid", "d"))

  /** The stored serve index's assignment table. */
  private[scale] def ivf2Assigned(spark: SparkSession, dir: String): StoredIndex.Table =
    StoredIndex.Table(s"${ivf2Stored(spark, dir)}/assigned", ivf2AssignSchema)

  /** TWO-LEVEL IVF, incremental ingest: the assignment table is
    * APPEND-ONLY, so adding a batch of vectors to a built index costs
    * routing for the BATCH alone — the standard FAISS add() contract,
    * which is what makes the index maintainable under streaming ingest
    * instead of rebuilt per batch. The query stages it end-to-end:
    * day-0 corpus (first 90% of vec_ids) assigned and written, then the
    * arriving batch (last 10%) routed and APPENDED (`mode("append")` —
    * a pure file add, no rewrite of day-0 partitions), then the full
    * read-back checked against the SAME oracle as [[annIvf2Assign]] —
    * valid because each vector routes independently (batch ≡
    * incremental for assignment) and the batch excludes `vec_id < k`,
    * so day-0's centroid/super sets equal the full corpus's. The
    * vec_id filters push THROUGH the routing argmins to the corpus
    * scan (group-key predicate pushdown), so each write really routes
    * only its slice — the day-0 write never touches batch rows and the
    * append never re-routes day-0. Freeze caveat a deployment inherits
    * from FAISS: appended vectors are assigned under the index's
    * schedule; once n outgrows the schedule boundary, rebuild. */
  def annIvf2Append(spark: SparkSession, dir: String): DataFrame =
    ivf2AssignmentView(spark, ivf2AppendWrite(spark, dir))

  /** The append-table WRITE staged by [[annIvf2Append]] (day-0
    * overwrite job + batch append job), factored out so the
    * compaction operator can build the same small-file input. */
  private def ivf2AppendWrite(spark: SparkSession, dir: String): String = {
    val tmp = graft.util.Scratch.path("ivf2append", dir)
    val idx = ivf2Index(spark, dir)
    val cut = lit(corpusCount(spark, dir) * 9L / 10L)
    val full = idx.assigned.select(col("vec_id"), col("cid"), col("d"))
    // r16: day-0 is BY DEFINITION a built index — stage its rows from
    // the stored serve table (one markered build per corpus) instead
    // of re-routing 90% of the corpus per run. Bit-identical by this
    // row's own argument: each vector routes independently and the
    // batch excludes vec_id < k, so the full assignment's prefix IS
    // the day-0 assignment. The BATCH stays routed in-plan — the
    // incremental cost this row exists to measure.
    ivf2Assigned(spark, dir).read(spark)
      .filter(col("vec_id") < cut)
      .write.mode("overwrite").parquet(tmp)        // day-0 build
    full.filter(col("vec_id") >= cut)
      .write.mode("append").parquet(tmp)           // the batch: append-only
    tmp
  }

  /** Oracle-shaped read-back of a stored assignment table. */
  private def ivf2AssignmentView(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("vec_id BIGINT, cid BIGINT, d DOUBLE").parquet(path)
      .select(col("vec_id"), col("cid").as("centroid_id"),
        round(col("d"), 6).as("dist_sq"))

  /** Compaction write target: one output file per this many input
    * bytes — `spark.sql.files.maxPartitionBytes`'s default, i.e. the
    * size at which a scan stops paying per-file open cost. */
  private[scale] val compactTargetBytes = 128L << 20

  /** Small-file COMPACTION of the append-only assignment table — the
    * maintenance half of K5's "Parquet ZSTD + file compaction" row and
    * the operator [[annIvf2Append]]'s contract needs: every appended
    * batch adds files, and a year of small batches turns the scan's
    * per-file open cost into the dominant term. The rewrite is a
    * bin-packed `coalesce` (NOT `repartition`): reading the table
    * already bin-packs splits to `maxPartitionBytes`, so collapsing to
    * ceil(bytes / target) partitions rewrites into target-sized files
    * with ZERO shuffle — the same shape a Delta/Iceberg OPTIMIZE file
    * group executes — and sidesteps round-robin repartition's
    * retry-determinism hazard. Content is byte-identical to the input
    * (the oracle checks the read-back against the same full-assignment
    * SQL as the append row); CompactionSpec pins the physical claim —
    * file count drops to the target while the checksum is unchanged. */
  def annIvf2Compact(spark: SparkSession, dir: String): DataFrame = {
    val src = ivf2AppendWrite(spark, dir)
    val dst = graft.util.Scratch.path("ivf2compact", dir)
    val p = new org.apache.hadoop.fs.Path(src)
    val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val nFiles = math.max(1L, (bytes + compactTargetBytes - 1) / compactTargetBytes).toInt
    spark.read.schema("vec_id BIGINT, cid BIGINT, d DOUBLE").parquet(src)
      .coalesce(nFiles)
      .write.mode("overwrite").option("compression", "zstd").parquet(dst)
    ivf2AssignmentView(spark, dst)
  }

  /** INDEX-STALENESS census — the detection query for the FAISS freeze
    * caveat [[annIvf2Append]] documents: appended vectors are assigned
    * under the schedule frozen at build time (k = [[ivfSchedule]](n₀)
    * centroids chosen for the day-0 corpus), so once n outgrows the
    * schedule's capacity (n > 256·k, the bound the whole family's
    * per-list population math rests on) the index must be rebuilt. One
    * row per scenario: `current` (the staged day-0 build vs today's
    * corpus) and `projected_3x` (the same index after 3× growth), so
    * both branches of the rebuild flag are exercised at every SF. n
    * and the schedule come from the memoized [[corpusCount]] — a
    * metadata census, the same driver-side shape a Delta/Iceberg
    * table-health check runs. */
  def annIvf2Staleness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = corpusCount(spark, dir)
    val n0 = n * 9L / 10L            // the day-0 build annIvf2Append stages
    val kBuilt = ivfSchedule(n0).toLong
    val cap = 256L * kBuilt
    Seq(
      ("current", n, kBuilt, cap, n > cap),
      ("projected_3x", 3L * n, kBuilt, cap, 3L * n > cap))
      .toDF("scenario", "n", "k_built", "capacity", "rebuild_needed")
  }

  val annIvf2StalenessSql: String =
    """WITH nt AS (SELECT count(*) AS n FROM embeddings),
      |kt AS (
      |  SELECT coalesce(min(1::BIGINT << g.b), 1::BIGINT << 20) AS k_built
      |  FROM unnest(generate_series(4, 20)) AS g(b)
      |  WHERE (SELECT n * 9 // 10 FROM nt) <= 256 * (1::BIGINT << g.b)),
      |s AS (
      |  SELECT 'current' AS scenario, (SELECT n FROM nt) AS n
      |  UNION ALL
      |  SELECT 'projected_3x', 3 * (SELECT n FROM nt))
      |SELECT s.scenario, s.n, kt.k_built, 256 * kt.k_built AS capacity,
      |       s.n > 256 * kt.k_built AS rebuild_needed
      |FROM s CROSS JOIN kt""".stripMargin

  // ------------------------------------------------------------- rebuild
  /** Root dir of the GENERATIONED serve index [[annIvf2Rebuild]]
    * maintains: `$root/gen-<g>/{supers,groups,assigned}` per
    * generation, with the live one named by the
    * [[StoredIndex.cutover]] pointer. */
  private[scale] def ivf2RebuildPath(dir: String): String =
    graft.util.Scratch.path("ivf2rebuild", dir)

  /** Build ONE generation aside: train the two-level index over the
    * given corpus slice at ITS OWN schedule and land it under
    * `$root/$gen`. Nothing here touches the live generation. */
  private[scale] def ivf2RebuildAside(spark: SparkSession, root: String,
      gen: String, c: DataFrame, n: Long): Unit =
    StoredIndex.build(s"$root/$gen")(
      StoredIndex.writeIvf2(s"$root/$gen", ivf2IndexOver(c, n), "vec_id", "cid"))

  /** Serve against whatever generation the pointer names — the read
    * path a deployment's query fleet runs while rebuilds happen
    * underneath it. */
  private[scale] def ivf2GenServeRead(spark: SparkSession, dir: String,
      root: String): DataFrame = {
    val gen = StoredIndex.currentGen(root).getOrElse(
      sys.error(s"no live generation at $root"))
    StoredIndex.requireComplete(s"$root/$gen", s"live generation $gen")
    ivf2ServeFrom(spark, dir, s"$root/$gen")
  }

  /** INDEX REBUILD — the retrain-and-swap executor for the
    * [[annIvf2Staleness]] census's `rebuild_needed` flag, the last
    * verb of the FAISS index lifecycle (build → serve → add → compact
    * → delete → RETRAIN): day-0 serves a generation trained on the
    * early corpus (the first 10% of vec_ids, scheduled at ITS n — the
    * frozen codebook every append inherits), growth then outruns it
    * (the census detects n > 256·k_built; at sf10 the day-0 schedule
    * genuinely differs, k 128 → 1024), and the executor retrains ASIDE
    * at the grown corpus's own schedule, lands the new generation
    * behind its completion marker, and CUTS OVER with one atomic
    * pointer rename. The old generation serves every query until the
    * flip — RebuildSpec pins that a serve issued after the new build
    * lands but before the cutover still returns day-0 results — so a
    * query fleet never sees a partial index, the same contract the
    * journaled COW swap gives the delete rows. Oracle: the fresh-build
    * search at the post-growth corpus ([[annIvf2SearchSql]]) — a
    * rebuilt index must be indistinguishable from one built from
    * scratch today. */
  def annIvf2Rebuild(spark: SparkSession, dir: String): DataFrame = {
    val root = ivf2RebuildPath(dir)
    val c = corpus(spark, dir)
    val n = corpusCount(spark, dir)
    if (StoredIndex.currentGen(root).isEmpty) { // day-0: the soon-stale build
      ivf2RebuildAside(spark, root, "gen-0", c.filter(col("vec_id") < n / 10L), n / 10L)
      StoredIndex.cutover(root, "gen-0")
    }
    ivf2RebuildAside(spark, root, "gen-1", c, n) // retrain at grown n
    StoredIndex.cutover(root, "gen-1")            // atomic flip
    ivf2GenServeRead(spark, dir, root)
  }

  /** The assignment-table schema (vec_id, cid, d). */
  private[scale] val ivf2AssignSchema = "vec_id BIGINT, cid BIGINT, d DOUBLE"

  /** The stored int8-corpus schema ([[sq8QTable]] as written). */
  private[scale] val sq8Schema = "vec_id BIGINT, q ARRAY<TINYINT>, qn DOUBLE"

  /** COW DELETE from the stored assignment table — the index-lifecycle
    * operator FAISS calls `remove_ids` and a lakehouse calls `DELETE
    * WHERE`, completing the family (build → search → serve → append →
    * compact → staleness → DELETE): a retention purge drops the oldest
    * 5% of vectors (`vec_id < n/20`) from the range-clustered staged
    * table via [[StoredIndex.cowApply]]'s file-pruned copy-on-write, then
    * the read-back is oracle-checked against the full assignment SQL
    * filtered by the same predicate. Deletion applies to the
    * assignment TABLE only — the day-0 centroid/super sets are part of
    * the frozen index and keep serving (FAISS semantics: removed ids
    * stop appearing in results; the codebook is untouched until the
    * [[annIvf2Staleness]] census says rebuild). */
  def annIvf2Delete(spark: SparkSession, dir: String): DataFrame = {
    val t = StoredIndex.stage(spark, ivf2Assigned(spark, dir), "ivf2del", dir)
    StoredIndex.cowApply(spark, t,
      StoredIndex.Doomed.where(col("vec_id") < corpusCount(spark, dir) / 20L))
    ivf2AssignmentView(spark, t.path)
  }

  val annIvf2DeleteSql: String =
    s"""SELECT * FROM ($annIvf2AssignSql)
       |WHERE vec_id >= (SELECT count(*) // 20 FROM embeddings)""".stripMargin

  /** Per-dir AND per-JVM (pid suffix): concurrent engine processes on
    * the same dir must not race each other's index rewrites — the same
    * scratch-collision class the k1 COW table hit (Sinks.k1CowPath).
    * Digest-keyed and swept at JVM exit via [[graft.util.Scratch]]. */
  private[scale] def ivf2ServePath(dir: String): String =
    graft.util.Scratch.path("ivf2serve", dir)

  /** The read-only serve path: search against the stored index
    * (building it first when it is missing or the corpus changed), so
    * the measured warm call is always the stored-table search. */
  private[graft] def ivf2ServeRead(spark: SparkSession, dir: String): DataFrame =
    ivf2ServeFrom(spark, dir, ivf2Stored(spark, dir))

  private def ivf2ServeFrom(spark: SparkSession, dir: String, base: String): DataFrame = {
    val (supers, groups, assigned) = StoredIndex.readIvf2(spark, base)
    neighbors(topK(ivf2Route(corpus(spark, dir), supers, groups, assigned), 3))
  }

  /** Oracle CTE fragment for the two-level ROUTING — assumes a
    * preceding `e` CTE with (vec_id, v, nrm). Ends at `probes`
    * (query_id, qv, qn, cid) with `lists` (vec_id, cid) alongside;
    * [[ivf2CandCte]] adds the exact probed scan, [[annIvfSqSearchSql]]
    * the quantized one. */
  private[scale] val ivf2ProbeCte: String =
    s"""$ivf2RouteCte,
      |lists AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |             list_sum(list_transform(list_zip(e.v, c.cv),
      |                                     p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rk
      |    FROM e JOIN vroute r ON e.vec_id = r.vec_id
      |           JOIN croute c ON c.sid = r.sid)
      |  WHERE rk = 1),
      |q2 AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 10),
      |qsup AS (
      |  SELECT query_id, qv, qn, sid FROM (
      |    SELECT q2.query_id, q2.qv, q2.qn, s.sid,
      |           row_number() OVER (PARTITION BY q2.query_id ORDER BY
      |             list_sum(list_transform(list_zip(q2.qv, s.sv),
      |                                     p -> (p[1] - p[2]) * (p[1] - p[2]))), s.sid) AS rk
      |    FROM q2 CROSS JOIN sups s)
      |  WHERE rk <= 2),
      |probes AS (
      |  SELECT query_id, qv, qn, cid FROM (
      |    SELECT u.query_id, u.qv, u.qn, g.cid,
      |           row_number() OVER (PARTITION BY u.query_id ORDER BY
      |             list_sum(list_transform(list_zip(u.qv, g.cv),
      |                                     p -> (p[1] - p[2]) * (p[1] - p[2]))), g.cid) AS rk
      |    FROM qsup u JOIN croute g ON g.sid = u.sid)
      |  WHERE rk <= 2)""".stripMargin

  /** [[ivf2ProbeCte]] plus the exact probed-list scan. Ends at `cand`. */
  private[scale] val ivf2CandCte: String =
    s"""$ivf2ProbeCte,
      |cand AS (
      |  SELECT p.query_id, e.vec_id,
      |         list_sum(list_transform(list_zip(e.v, p.qv), z -> z[1] * z[2])) / (e.nrm * p.qn) AS cosine
      |  FROM e JOIN lists l ON e.vec_id = l.vec_id
      |         JOIN probes p ON l.cid = p.cid
      |  WHERE e.vec_id <> p.query_id)""".stripMargin

  val annIvf2SearchSql: String =
    s"""WITH ${normCte("e")},
      |$ivf2CandCte,
      |${neighborsSql("cand", 3)}""".stripMargin

  /** IVF search: each query probes its nprobe=2 nearest centroid lists
    * and exact-searches only those — the candidate set shrinks ~8×
    * against 16 lists; recall < 1 when a true neighbor lives in an
    * unprobed list (the IVF trade). */
  def annIvfSearch(spark: SparkSession, dir: String): DataFrame =
    neighbors(topK(ivfCandidates(spark, dir, corpus(spark, dir)), 3))

  /** The scored nprobe = 2 candidates over a (vec_id, v, nrm) corpus
    * frame, `cosine` added — behind [[annIvfSearch]] (top-3) and the
    * `ivf` row of [[annRecall]] (top-10). */
  private def ivfCandidates(spark: SparkSession, dir: String, c: DataFrame): DataFrame = {
    val cents = c.filter(col("vec_id") < ivfK(spark, dir))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val assigned = c.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"), sqDist("v", "cv").as("dist"))
    // hash-agg packed argmin (see annIvfAssign) for the corpus-wide
    // list assignment; the nprobe=2 probe set keeps the rank window —
    // it's 10 query rows, and top-k(>1) has no aggregate form
    val lists = assigned
      .groupBy(col("vec_id"))
      .agg(min(packArgmin(col("dist"), col("cid"))).as("p"))
      .select(col("vec_id"), packedId(col("p")).as("cid"))
    val probes = assigned.filter(col("vec_id") < 10)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))))
      .filter(col("rk") <= 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cid"))
    // lists is corpus-sized (one assignment row per vector) — no
    // broadcast hint; the equi-join on vec_id shuffles (or AQE
    // broadcasts the smaller side at runtime). probes is nprobe×queries
    // rows — genuinely tiny, hint it.
    c.join(lists, "vec_id")
      .join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine)
  }

  /** The mirror of [[ivfCandidates]]' routing over a (vec_id, v, nrm)
    * CTE `src`: centroid distances, `lists` (each vector's nearest
    * centroid) and `probes` (each query's nprobe = 2 nearest). */
  private def ivfProbeCte(src: String): String =
    s"""$ivfSchedCte,
      |cents AS (SELECT vec_id AS cid, v AS cv FROM $src WHERE vec_id < (SELECT k FROM isched)),
      |dists AS (
      |  SELECT $src.vec_id, $src.v, $src.nrm, c.cid,
      |         list_sum(list_transform(list_zip($src.v, c.cv),
      |                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
      |  FROM $src CROSS JOIN cents c),
      |lists AS (
      |  SELECT vec_id, cid
      |  FROM (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      |        FROM dists)
      |  WHERE rk = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, v AS qv, nrm AS qn, cid
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      |        FROM dists WHERE vec_id < 10)
      |  WHERE rk <= 2)""".stripMargin

  val annIvfSearchSql: String =
    s"""WITH ${normCte("e")},
      |${ivfProbeCte("e")},
      |cand AS (
      |  SELECT p.query_id, e.vec_id,
      |         list_sum(list_transform(list_zip(e.v, p.qv), q -> q[1] * q[2])) / (e.nrm * p.qn) AS cosine
      |  FROM e JOIN lists l ON e.vec_id = l.vec_id
      |         JOIN probes p ON l.cid = p.cid
      |  WHERE e.vec_id <> p.query_id),
      |${neighborsSql("cand", 3)}""".stripMargin

  // ---------------------------------------------------------------- projection
  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    * 64-dim embeddings → 16 dims via the md5-derived plane matrix (rows
    * 0–15 of [[planes]]) — the embedding-compression step a 100 TB
    * vector store runs before indexing (4× smaller vectors, pairwise
    * distances preserved within JL distortion). A pure map stage.
    *
    * The 16×64 multiply runs as a typed kernel: the same matrix as an
    * unrolled 1024-term Column expression falls out of whole-stage
    * codegen and runs interpreted at ~1 µs/term/row (the
    * ann_lsh/embedding-band lesson). Ascending-dimension summation
    * matches the oracle's list_sum fold exactly. */
  def embProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pl = planes
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), vecDouble(col("embedding")).as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val out = new Array[Double](16)
        var j = 0
        while (j < 16) {
          val p = pl(j)
          var s = 0.0
          var d = 0
          while (d < 64) { s += v(d) * p(d); d += 1 }
          out(j) = s
          j += 1
        }
        (id, out)
      }
      .toDF("vec_id", "p")
      .select(col("vec_id") +:
        (0 until 16).map(j => round(element_at(col("p"), j + 1), 6).as(s"p$j")): _*)
  }

  val embProjectSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |${planesCte("planes", "15")},
      |proj AS (
      |  SELECT e.vec_id, p.j,
      |         list_sum(list_transform(list_zip(e.v, p.h), q -> q[1] * q[2])) AS s
      |  FROM e, planes p)
      |SELECT vec_id,
      |""".stripMargin +
      (0 until 16).map(j =>
        s"  round(max(CASE WHEN j = $j THEN s END), 6) + 0 AS p$j")
        .mkString(",\n") +
      "\nFROM proj GROUP BY vec_id"

  // ---------------------------------------------------------------- recall
  /** Recall@10 self-measurement — the acceptance test every ANN index
    * deployment runs before trading exactness for speed: both index
    * families (LSH buckets, IVF nprobe=2) retrieve top-10 per query, and
    * each set is scored against the brute-force top-10 ground truth.
    * One row per (query, method): retrieved count, hits, recall. The
    * ground truth reuses the broadcast-query brute pass — at 100 TB this
    * runs on a sampled query set, exactly this plan shape.
    *
    * Measured at sf0.01: IVF ≈ 0.88, PQ ≈ 0.28, LSH ≈ 0 — the LSH
    * index is mis-sized for a 500-vector corpus (2⁸ buckets → ~2
    * vectors each, so a query's bucket rarely holds its true
    * neighbors), and 16 sub-centroids quantize these near-isotropic
    * synthetic embeddings coarsely. That is the finding this operator
    * exists to surface: index parameters must track corpus shape, and
    * the recall probe is how a deployment notices. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    // shared memoized indexes: the bucketed corpus and the brute-force
    // scored ground truth are read by this probe AND [[rankNdcg]] —
    // the brute pass was this query's dominant warm cost
    val c = bucketedCorpus(spark, dir)
    val brute = top10(bruteScored(spark, dir))
    recallOf(top10(lshScored(c)), brute, "lsh")
      // IVF candidates exactly as in [[annIvfSearch]] (nprobe = 2;
      // centroid count from the shared corpus-size schedule)
      .union(recallOf(top10(ivfCandidates(spark, dir, c)), brute, "ivf"))
      // PQ: top-10 of the whole corpus by asymmetric distance — measures
      // pure quantization error (no candidate restriction to confound it)
      .union(recallOf(top10(pqScoredOver(c), col("adist")), brute, "pq"))
  }

  val annRecallSql: String =
    s"""WITH $lshChainCte,
      |${cosineCte("bscored", "e, q WHERE e.vec_id <> q.query_id")},
      |${top10Cte("brute", "bscored")},
      |${lshScoredCte("lscored")},
      |${top10Cte("lsh", "lscored")},
      |${ivfProbeCte("e0")},
      |iscored AS (
      |  SELECT p.query_id, e0.vec_id,
      |         list_sum(list_transform(list_zip(e0.v, p.qv), z -> z[1] * z[2])) / (e0.nrm * p.qn) AS cosine
      |  FROM e0 JOIN lists l ON e0.vec_id = l.vec_id
      |         JOIN probes p ON l.cid = p.cid
      |  WHERE e0.vec_id <> p.query_id),
      |${top10Cte("ivf", "iscored")},
      |psub AS (
      |  SELECT vec_id, s, v[(s*8+1):(s*8+8)] AS sub
      |  FROM e0, unnest(generate_series(0, 7)) AS t(s)),
      |pcsub AS (SELECT vec_id AS cid, s, sub AS csub FROM psub WHERE vec_id < 16),
      |pd AS (
      |  SELECT p.vec_id, p.s, c.cid,
      |         list_sum(list_transform(list_zip(p.sub, c.csub),
      |                                 z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d
      |  FROM psub p JOIN pcsub c USING (s)),
      |pcodes AS (
      |  SELECT vec_id, s, cid
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rk
      |        FROM pd)
      |  WHERE rk = 1),
      |pqd AS (SELECT vec_id AS query_id, s, cid, d FROM pd WHERE vec_id < 10),
      |pagg AS (
      |  SELECT c.vec_id, g.query_id,
      |         sum(CASE WHEN c.s = 0 THEN g.d END) AS d0,
      |         sum(CASE WHEN c.s = 1 THEN g.d END) AS d1,
      |         sum(CASE WHEN c.s = 2 THEN g.d END) AS d2,
      |         sum(CASE WHEN c.s = 3 THEN g.d END) AS d3,
      |         sum(CASE WHEN c.s = 4 THEN g.d END) AS d4,
      |         sum(CASE WHEN c.s = 5 THEN g.d END) AS d5,
      |         sum(CASE WHEN c.s = 6 THEN g.d END) AS d6,
      |         sum(CASE WHEN c.s = 7 THEN g.d END) AS d7
      |  FROM pcodes c JOIN pqd g ON g.s = c.s AND g.cid = c.cid
      |  WHERE c.vec_id <> g.query_id
      |  GROUP BY c.vec_id, g.query_id),
      |${top10Cte("pq", "pagg", byAdistSql)},
      |${recallSql(Seq(("lsh", "lsh", "brute"), ("ivf", "ivf", "brute"), ("pq", "pq", "brute")))}""".stripMargin

  /** Recall@10 acceptance sheet over every DEPLOYABLE index: `ivf2`
    * (two-level routed search, nprobe 2), `lsh_mp` (L = 8 multi-table
    * union), `sq8` (quantized stage-1, inline), `sq8_serve` (the same
    * stage 1 over the STORED int8 table — proves the lossless
    * round-trip through the oracle), `pq` (8-byte ADC codes, the
    * 32× compression point), and `opq` (the same 8-byte codes behind
    * the fixed orthogonal rotation — ≈ pq here, the isotropic-corpus
    * answer) — all scored against the shared
    * brute-force ground truth: the table a deployment reads before
    * picking an index (see README's index-selection table). A SECOND
    * probe rather than a rewrite of [[annRecall]], so the historical
    * single-index rows keep their committed oracle unchanged. */
  def annRecall2(spark: SparkSession, dir: String): DataFrame = {
    val brute = top10(bruteScored(spark, dir))
    // PQ orders by ASYMMETRIC DISTANCE (ascending), not cosine — its
    // own cut, same ground truth
    val adist = col("adist")
    val pqTop = top10(pqScored(spark, dir), adist)
    val opqTop = top10(opqScored(spark, dir), adist)
    // r16: the ivf2 and ivfsq rows route through the STORED index
    // tables (one markered build per corpus — the frames the serve
    // rows already read) instead of re-running the n×k1 assignment
    // argmins TWICE inside this one query's plan. Recall is a property
    // of the index CONTENTS, which are identical bytes either way
    // (parquet round-trip exactness; sq8's lossless TINYINT round-trip
    // is itself proved by the sq8_serve row below) — what this sheet
    // measures is unchanged. sq8/pq/opq stay self-contained: sq8 is
    // the inline half of the round-trip proof, and pq/opq have no
    // stored index to read.
    val (s2, g2, a2) = StoredIndex.readIvf2(spark, ivf2Stored(spark, dir))
    recallOf(top10(ivf2Route(corpus(spark, dir), s2, g2, a2)), brute, "ivf2")
      .union(recallOf(top10(lshMpCandidates(spark, dir)), brute, "lsh_mp"))
      // r12: the SQ8 index joins the acceptance sheet — its stage-1
      // quantized top-10 against the same exact ground truth
      .union(recallOf(top10(sq8Scored(spark, dir)), brute, "sq8"))
      // r13: the sheet covers every DEPLOYABLE index — `pq` (the 32×
      // compression point) and `sq8_serve` (the stored-int8 table the
      // production path actually scans; bit-identical to `sq8` by the
      // lossless TINYINT round-trip, and this row PROVES it through
      // the oracle, not just the spec)
      .union(recallOf(pqTop, brute, "pq"))
      .union(recallOf(top10(
        sq8ScoredOver(spark, dir, sq8View(spark, sq8Stored(spark, dir)))), brute, "sq8_serve"))
      // the composed production index: routing-bounded recall, scored
      // through the quantized list scan (stored frames — see above)
      .union(recallOf(top10(ivfSqScoredOver(spark, dir, s2, g2, a2,
        sq8View(spark, sq8Stored(spark, dir)))), brute, "ivfsq"))
      // r14: `opq` — PQ behind the fixed orthogonal rotation at the
      // SAME 8-byte code size; on this isotropic fixture the honest
      // measured delta vs `pq` is ≈ 0 (no energy imbalance to fix —
      // see [[annOpqSearch]]); the row is how an anisotropic corpus
      // would surface the standard OPQ win
      .union(recallOf(opqTop, brute, "opq"))
      // r15: the ANISOTROPIC regime the opq row could not show on the
      // isotropic fixture — a deterministic energy-concentrated corpus
      // variant ([[anisoCorpus]]: dim j scaled by the exact 2^-(j/8),
      // so PQ subspace s carries 4^-s of the variance), ground truth
      // recomputed exact on it, then the SAME pq and opq kernels at
      // the same 8-byte code size. Here the rotation has real work to
      // do (spread the dominant block across all 8 subspaces so the
      // fixed 4-bit budget per subspace quantizes signal, not dead
      // dims) and the sheet carries the measured opq>pq delta next to
      // the honest isotropic null — both regimes, one acceptance row.
      .union(recallOf(top10(pqScoredOver(anisoCorpus(spark, dir)), adist),
        anisoBrute(spark, dir), "pq_aniso"))
      .union(recallOf(top10(pqScoredOver(anisoCorpus(spark, dir)
          .select(col("vec_id"), hdRotate(col("v")).as("v"))), adist),
        anisoBrute(spark, dir), "opq_aniso"))
  }

  /** Deterministic ANISOTROPIC corpus variant: dim j scaled by
    * 2^-(j div 8) — an exact exponent shift in IEEE double (no rounding
    * anywhere, so DuckDB reproduces it bit-for-bit), giving PQ
    * subspace s exactly 4^-s of the per-dim variance. This is the
    * energy concentration trained encoders actually exhibit (the OPQ
    * paper's premise) made reproducible: strong enough that vanilla
    * PQ's uniform 4-bit-per-subspace budget is provably misallocated,
    * axis-aligned so the fixed Hadamard rotation's spreading is
    * exactly the fix. */
  private def anisoCorpus(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir).select(col("vec_id"),
      zip_with(col("v"), sequence(lit(0), lit(63)),
        (x, j) => x / pow(lit(2.0), floor(j / lit(8.0)))).as("v"))

  /** Exact top-10 ground truth on the anisotropic corpus (cosine, same
    * cut as the main sheet's `brute`) — memoized like the isotropic
    * ground truth: both aniso rows re-read it. */
  private def anisoBrute(spark: SparkSession, dir: String): DataFrame =
    DirMemo.getOrCompute(spark, "ann_aniso_brute", dir)(
      top10(exactScored(anisoCorpus(spark, dir).withColumn("nrm", norm(col("v")))))
        .localCheckpoint())

  val annRecall2Sql: String = {
    val recall = recallSql(
      Seq(("ivf2", "i2top", "brute"), ("lsh_mp", "mptop", "brute"),
        ("sq8", "sq8top", "brute"), ("pq", "pqtop", "brute"), ("sq8_serve", "sq8top", "brute"),
        ("ivfsq", "ivfsqtop", "brute"), ("opq", "opqtop", "brute"),
        ("pq_aniso", "apqtop", "abrute"), ("opq_aniso", "aopqtop", "abrute")),
      Map(
        "sq8_serve" ->
          """  -- the engine's sq8_serve row scans the STORED int8 table; its
            |  -- stage-1 scores round-trip TINYINT losslessly, so the oracle
            |  -- derivation is the same quantized top-10""".stripMargin,
        "pq_aniso" ->
          """  -- the anisotropic regime: same kernels, energy-concentrated
            |  -- corpus, ground truth recomputed exact on it""".stripMargin))
    s"""WITH ${normCte("e")},
      |qb AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 10),
      |${cosineCte("bscored", "e, qb WHERE e.vec_id <> qb.query_id", q = "qb")},
      |${top10Cte("brute", "bscored")},
      |$ivf2CandCte,
      |$lshMpCandCte,
      |${top10Cte("i2top", "cand")},
      |${top10Cte("mptop", "mscored")},
      |${sqQuantCte("sq8n", "sq8qn")},
      |sq8q AS (SELECT vec_id AS query_id, q AS qq, qn AS qqn
      |         FROM sq8qn WHERE vec_id < 10),
      |sscored8 AS (
      |  SELECT sq8q.query_id, c.vec_id,
      |         list_sum(list_transform(list_zip(c.q, sq8q.qq), p -> p[1] * p[2]))
      |           / nullif(c.qn * sq8q.qqn, 0) AS cosine
      |  FROM sq8qn c, sq8q WHERE c.vec_id <> sq8q.query_id),
      |${top10Cte("sq8top", "sscored8")},
      |${pqAdcCte("pq", "e")},
      |${top10Cte("pqtop", "pqagg", byAdistSql)},
      |${rotCte("rote", "e")},
      |${pqAdcCte("opq", "rote")},
      |${top10Cte("opqtop", "opqagg", byAdistSql)},
      |aniso AS (
      |  SELECT vec_id,
      |         list_transform(generate_series(0, 63), j -> v[j+1] / pow(2.0, j // 8)) AS v
      |  FROM e),
      |anison AS (
      |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      |  FROM aniso),
      |aqb AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM anison WHERE vec_id < 10),
      |${cosineCte("abscored", "anison c, aqb WHERE c.vec_id <> aqb.query_id", "c", "aqb")},
      |${top10Cte("abrute", "abscored")},
      |${pqAdcCte("apq", "aniso")},
      |${top10Cte("apqtop", "apqagg", byAdistSql)},
      |${rotCte("arote", "aniso")},
      |${pqAdcCte("aopq", "arote")},
      |${top10Cte("aopqtop", "aopqagg", byAdistSql)},
      |ivfsqscored AS (
      |  SELECT p.query_id, c.vec_id,
      |         list_sum(list_transform(list_zip(c.q, sq8q.qq), z -> z[1] * z[2]))
      |           / nullif(c.qn * sq8q.qqn, 0) AS cosine
      |  FROM sq8qn c JOIN lists l ON c.vec_id = l.vec_id
      |               JOIN probes p ON l.cid = p.cid
      |               JOIN sq8q ON sq8q.query_id = p.query_id
      |  WHERE c.vec_id <> p.query_id),
      |${top10Cte("ivfsqtop", "ivfsqscored")},
      |$recall""".stripMargin
  }

  // ---------------------------------------------------------------- ndcg
  /** NDCG@10 of the LSH ranking — recall counts WHICH of the true
    * top-k were retrieved; NDCG scores the ORDER they came back in,
    * with graded relevance (cosine binned to grades 0–3) and a
    * log-position discount — the metric a retrieval stack actually
    * reports. The exact brute-force ranking is both the "exact"
    * baseline row (NDCG 1 by construction) and the ideal DCG: grades
    * are monotone in cosine, so the cosine-ordered exact list IS the
    * ideal ordering (within-grade ties contribute identically).
    *
    * Grades are INTEGER bins, so each DCG term (2^g−1)/log2(rank+1)
    * is one of a small closed set of doubles and the ≤10-term sums are
    * cross-engine stable at 6 decimals. Plan shape: same broadcast
    * query-side joins as [[annRecall]]; scoring adds one window per
    * method over ≤10·|queries| rows. */
  def rankNdcg(spark: SparkSession, dir: String): DataFrame = {
    val grade = when(col("cosine") >= 0.6, 3).when(col("cosine") >= 0.4, 2)
      .when(col("cosine") >= 0.2, 1).otherwise(0)
    def dcgOf(scored: DataFrame, method: String): DataFrame =
      topK(scored, 10)
        .withColumn("g", grade)
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_retrieved"),
          sum((pow(lit(2.0), col("g")) - 1) / log2(col("rank") + 1)).as("dcg"))
        .select(col("query_id"), lit(method).as("method"),
          col("n_retrieved"), col("dcg"))
    val brute = dcgOf(bruteScored(spark, dir), "exact").localCheckpoint()
    val lsh = dcgOf(lshScored(bucketedCorpus(spark, dir)), "lsh")
    brute.unionByName(lsh)
      .join(brute.select(col("query_id"), col("dcg").as("idcg")), "query_id")
      .select(col("query_id"), col("method"), col("n_retrieved"),
        round(col("dcg"), 6).as("dcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
  }

  val rankNdcgSql: String = {
    // the mirror of rankNdcg's dcgOf: graded DCG over one method's top-10
    def dcg(name: String, method: String, src: String): String =
      s"""$name AS (
         |  SELECT query_id, '$method' AS method, count(*) AS n_retrieved,
         |         sum((pow(2.0, CASE WHEN cosine >= 0.6 THEN 3 WHEN cosine >= 0.4 THEN 2
         |                            WHEN cosine >= 0.2 THEN 1 ELSE 0 END) - 1)
         |             / log2(rank + 1)) AS dcg
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |                                     ORDER BY cosine DESC, vec_id) AS rank
         |        FROM $src) WHERE rank <= 10 GROUP BY query_id)""".stripMargin
    s"""WITH $lshChainCte,
       |${cosineCte("bscored", "e JOIN q ON e.vec_id <> q.query_id")},
       |${lshScoredCte("lscored")},
       |${dcg("bdcg", "exact", "bscored")},
       |${dcg("ldcg", "lsh", "lscored")},
       |u AS (SELECT * FROM bdcg UNION ALL SELECT * FROM ldcg)
       |SELECT u.query_id, u.method, u.n_retrieved,
       |       round(u.dcg, 6) + 0 AS dcg,
       |       round(u.dcg / i.dcg, 6) + 0 AS ndcg
       |FROM u JOIN bdcg i ON i.query_id = u.query_id""".stripMargin
  }

  // ---------------------------------------------------------------- ts search
  /** Time-series subsequence similarity search (the pattern-matching
    * query a FOREX engine runs against its own history; cf. EDBT'19
    * distributed ts-similarity search): z-normalize every 24-candle
    * close window, take user 0's latest window as the query, rank all
    * other windows by squared Euclidean distance — top 10.
    *
    * The windows come from ONE `collect_list` frame over the shared
    * (user_id, bucket) exchange; the query window broadcasts. Flat
    * windows (zero variance) are filtered, not divided by. Ordering is
    * on the ROUNDED distance with a (user, bucket) tie-break so the
    * top-k boundary is ulp-stable across engines. */
  def tsSimilarWindows(spark: SparkSession, dir: String): DataFrame = {
    val wSpec = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
      .rowsBetween(-23, 0)
    val n = lit(24.0)
    def m1(c: Column) = aggregate(c, lit(0.0), _ + _) / n
    def m2(c: Column) = aggregate(c, lit(0.0), (acc, x) => acc + x * x) / n
    val wins = Tables.candles(spark, dir)
      .withColumn("closes", collect_list(col("close")).over(wSpec))
      .filter(size(col("closes")) === 24)
      .withColumn("m", m1(col("closes")))
      .withColumn("sd", sqrt(m2(col("closes")) - m1(col("closes")) * m1(col("closes"))))
      .filter(col("sd") > 0)
      .select(col("user_id"), col("bucket").as("end_bucket"),
        transform(col("closes"), x => (x - col("m")) / col("sd")).as("z"))
      // cached: read once as the query side (latest window) and once as
      // the corpus side — without this the candle+window chain runs twice
      .cacheOnce()
    val q = wins.filter(col("user_id") === 0)
      .orderBy(col("end_bucket").desc).limit(1)
      .select(col("z").as("qz"), col("end_bucket").as("q_end"))
    wins.crossJoin(broadcast(q))
      .filter(!(col("user_id") === 0 && col("end_bucket") === col("q_end")))
      .withColumn("dist", round(aggregate(
        zip_with(col("z"), col("qz"), (a, b) => (a - b) * (a - b)),
        lit(0.0), _ + _), 6))
      .orderBy(col("dist"), col("user_id"), col("end_bucket"))
      .limit(10)
      .select(col("user_id"), col("end_bucket"), col("dist"))
  }

  val tsSimilarWindowsSql: String =
    """WITH candles AS (
      |  SELECT user_id, date_trunc('hour', ts) AS bucket,
      |         arg_max(value, ts) AS close
      |  FROM events GROUP BY 1, 2),
      |wins0 AS (
      |  SELECT user_id, bucket AS end_bucket,
      |         list(close) OVER (PARTITION BY user_id ORDER BY bucket
      |                           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS closes
      |  FROM candles),
      |wins1 AS (SELECT * FROM wins0 WHERE len(closes) = 24),
      |st AS (
      |  SELECT user_id, end_bucket, closes,
      |         list_sum(closes) / 24.0 AS m,
      |         sqrt(list_sum(list_transform(closes, x -> x * x)) / 24.0 -
      |              (list_sum(closes) / 24.0) * (list_sum(closes) / 24.0)) AS sd
      |  FROM wins1),
      |norm AS (
      |  SELECT user_id, end_bucket,
      |         list_transform(closes, x -> (x - m) / sd) AS z
      |  FROM st WHERE sd > 0),
      |q AS (SELECT z AS qz, end_bucket AS q_end FROM norm
      |      WHERE user_id = 0 ORDER BY end_bucket DESC LIMIT 1)
      |SELECT n.user_id, n.end_bucket,
      |       round(list_sum(list_transform(list_zip(n.z, q.qz),
      |                                     p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) + 0 AS dist
      |FROM norm n, q
      |WHERE NOT (n.user_id = 0 AND n.end_bucket = q.q_end)
      |ORDER BY dist, user_id, end_bucket LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- PQ
  /** One row per (input row, subspace) with the 8-dim slice of `vcol` —
    * the decomposition both PQ stages share. */
  private def pqPieces(df: DataFrame, vcol: String): DataFrame =
    df.withColumn("s", explode(sequence(lit(0), lit(7))))
      .withColumn("sub", slice(col(vcol), col("s") * 8 + 1, lit(8)))

  private def pqSubDist: Column = (0 until 8).map { i =>
    val diff = element_at(col("sub"), i + 1) - element_at(col("csub"), i + 1)
    diff * diff
  }.reduce(_ + _)

  /** Product quantization encode (the third ANN family — the MEMORY
    * story: 64 float32 dims → 8 one-byte codes, 32× compression, which
    * is what makes a 100 TB vector corpus fit an index at all). 8
    * subspaces × 16 deterministic sub-centroids (subvectors of
    * `vec_id < 16`, reproducible in the oracle). Unlike the IVF coarse
    * k ([[ivfSchedule]]), the PQ codebook size is a QUANTIZATION
    * parameter, not a partitioning one — encode work is n·16 per
    * subspace (linear) at any corpus size, so a fixed 16 is correct
    * here, not the fixed-k defect the IVF schedule fixed. Each vector's
    * code is its per-subspace nearest sub-centroid by squared L2
    * (hash-aggregate argmin on (dist, cid)). One broadcast join over (vec, subspace)
    * rows — a map-side stage, no corpus shuffle beyond the code
    * reassembly. */
  def annPqEncode(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val cents = pqPieces(c.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v")), "v")
      .select(col("cid"), col("s"), col("sub").as("csub"))
    pqPieces(c.select(col("vec_id"), col("v")), "v")
      .select(col("vec_id"), col("s"), col("sub"))
      .join(broadcast(cents), Seq("s"))
      .select(col("vec_id"), col("s"), col("cid"), pqSubDist.as("d"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(packArgmin(col("d"), col("cid"))).as("m"))
      .select(col("vec_id"), col("s"), packedId(col("m")).as("cid"))
      .groupBy(col("vec_id"))
      .agg(collect_list(struct(col("s"), col("cid"))).as("sc"))
      .select(col("vec_id"),
        // comma-joined like the minhash signature: the driver's compare
        // sorts rows by every column, and array cells don't sort
        concat_ws(",", transform(array_sort(col("sc")), p => p.getField("cid")))
          .as("code"))
  }

  /** Oracle CTE chain of the PQ codebook over `src(vec_id, v)`, every
    * name prefixed `p`: `sub` (the 8-dim slices [[pqPieces]] cuts),
    * `csub` (the `vec_id < 16` sub-centroids) and `d` (slice ×
    * sub-centroid squared distances, [[pqSubDist]]). */
  private def pqDistCte(p: String, src: String): String =
    s"""${p}sub AS (
       |  SELECT vec_id, s, v[(s*8+1):(s*8+8)] AS sub
       |  FROM $src, unnest(generate_series(0, 7)) AS t(s)),
       |${p}csub AS (SELECT vec_id AS cid, s, sub AS csub FROM ${p}sub WHERE vec_id < 16),
       |${p}d AS (
       |  SELECT p.vec_id, p.s, c.cid,
       |         list_sum(list_transform(list_zip(p.sub, c.csub),
       |                                 q -> (q[1] - q[2]) * (q[1] - q[2]))) AS d
       |  FROM ${p}sub p JOIN ${p}csub c USING (s))""".stripMargin

  /** [[pqDistCte]] plus the ADC scoring of [[pqScoredOver]]: `codes`
    * (each vector's nearest sub-centroid per subspace), `qd` (the query
    * lookup table) and `agg` (the eight per-subspace partial distances
    * of each (vector, query) pair, `d0` … `d7`). */
  private def pqAdcCte(p: String, src: String): String =
    s"""${pqDistCte(p, src)},
       |${p}codes AS (
       |  SELECT vec_id, s, cid
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rk
       |        FROM ${p}d)
       |  WHERE rk = 1),
       |${p}qd AS (SELECT vec_id AS query_id, s, cid, d FROM ${p}d WHERE vec_id < 10),
       |${p}agg AS (
       |  SELECT c.vec_id, q.query_id,
       |${(0 until 8).map(i => s"         sum(CASE WHEN c.s = $i THEN q.d END) AS d$i").mkString(",\n")}
       |  FROM ${p}codes c JOIN ${p}qd q ON q.s = c.s AND q.cid = c.cid
       |  WHERE c.vec_id <> q.query_id
       |  GROUP BY c.vec_id, q.query_id)""".stripMargin

  val annPqEncodeSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |${pqDistCte("", "e")},
      |code1 AS (
      |  SELECT vec_id, s, cid
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rk
      |        FROM d)
      |  WHERE rk = 1)
      |SELECT vec_id, array_to_string(list(cid ORDER BY s), ',') AS code
      |FROM code1 GROUP BY vec_id""".stripMargin

  /** PQ search via asymmetric distance (ADC): the query stays exact,
    * the corpus is its 8-byte codes. The per-query lookup table
    * (query × subspace × sub-centroid distances — 10×8×16 rows)
    * broadcasts; corpus code rows join it on (subspace, code) and the
    * 8 partial distances reassemble in FIXED subspace order (eight
    * single-valued conditional sums — a bare sum() would re-associate
    * doubles nondeterministically and flip near-tie ranks vs the
    * oracle). Approximation error vs exact cosine is the PQ trade. */
  def annPqSearch(spark: SparkSession, dir: String): DataFrame =
    neighbors(topK(pqScored(spark, dir), 3, col("adist")), "adist")

  /** The ADC-scored (query_id, vec_id, adist) frame behind
    * [[annPqSearch]]'s top-3 cut and the `pq` row of [[annRecall2]]
    * (top-10, ascending — adist is a DISTANCE). */
  private[scale] def pqScored(spark: SparkSession, dir: String): DataFrame =
    pqScoredOver(corpus(spark, dir))

  /** The ADC pipeline over an EXPLICIT (vec_id, v) corpus frame — the
    * same kernel serves plain PQ ([[pqScored]]) and OPQ
    * ([[opqScored]]: the frame arrives pre-rotated; codebook, codes
    * and query LUT all derive from the rotated vectors, which is the
    * whole OPQ recipe — rotate once, then vanilla PQ). */
  private def pqScoredOver(c: DataFrame): DataFrame = {
    val cents = pqPieces(c.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v")), "v")
      .select(col("cid"), col("s"), col("sub").as("csub"))
    val codeRows = pqPieces(c.select(col("vec_id"), col("v")), "v")
      .select(col("vec_id"), col("s"), col("sub"))
      .join(broadcast(cents), Seq("s"))
      .select(col("vec_id"), col("s"), col("cid"), pqSubDist.as("d"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(packArgmin(col("d"), col("cid"))).as("m"))
      .select(col("vec_id"), col("s"), packedId(col("m")).as("cid"))
    val qd = pqPieces(c.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v")), "v")
      .select(col("query_id"), col("s"), col("sub"))
      .join(broadcast(cents), Seq("s"))
      .select(col("query_id"), col("s"), col("cid"), pqSubDist.as("d"))
    val parts = (0 until 8).map(s =>
      sum(when(col("s") === s, col("d"))).as(s"d$s"))
    codeRows.join(broadcast(qd), Seq("s", "cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(parts.head, parts.tail: _*)
      .withColumn("adist", (0 until 8).map(s => col(s"d$s")).reduce(_ + _))
      .select(col("query_id"), col("vec_id"), col("adist"))
  }

  /** The ADC oracle body over a caller-supplied corpus CTE chain that
    * must end in `e(vec_id, v)` — the SQL mirror of [[pqScoredOver]]'s
    * explicit-frame parameter: plain PQ passes the raw embeddings CTE,
    * OPQ the rotated chain ([[opqRotCte]]), the anisotropic recall
    * rows their rescaled variants. Parameterizing here (instead of
    * string-surgery on a finished oracle) is what keeps every derived
    * oracle immune to reformatting — the r14 advice's stripPrefix
    * hazard. */
  private def pqAdcSql(corpusCte: String): String =
    s"""WITH $corpusCte,
      |${pqAdcCte("", "e")},
      |ranked AS (
      |  SELECT query_id, vec_id,
      |         d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7 AS adist,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7, vec_id) AS rank
      |  FROM agg)
      |SELECT query_id, rank, vec_id AS neighbor_id, round(adist, 6) + 0 AS adist
      |FROM ranked WHERE rank <= 3""".stripMargin

  val annPqSearchSql: String =
    pqAdcSql("e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)")

  // ---------------------------------------------------------------- OPQ
  /** Fixed Hadamard-with-signs ROTATION — the deterministic stand-in
    * for OPQ's learned rotation (FAISS `OPQ` prefix; a fixed random
    * rotation is the standard cheap variant): r_i = (1/8)·Σ_j s_j·
    * (-1)^popcount(i AND j)·v_j with s_j = (-1)^popcount(j). That is
    * R = (1/√64)·H·D — H the 64-point Walsh-Hadamard matrix, D a ±1
    * diagonal — an ORTHOGONAL matrix, so L2 distances (and hence PQ
    * code semantics) are preserved exactly while every input
    * coordinate spreads across all 8 PQ subspaces. Everything is
    * integer-signed sums divided by a power of two, reproducible
    * bit-for-bit in the DuckDB mirror. Written as one codegen'd
    * expression (d = 64 ⇒ 4096 fused terms per row — a map-side pass;
    * the O(d log d) in-place FWHT would need mapPartitions and fall
    * out of codegen for no win at this d).
    *
    * r15: the HOF form of this rotation (transform/aggregate/zip_with
    * lambdas) evaluated interpreted at ~0.6 ms/vector — see
    * [[graft.functions.HadamardRotate]] for the codegen'd replacement
    * and its bit-identity argument; the DuckDB mirror (opqRotCte) is
    * unchanged and the oracle pins the equivalence. */
  private def hdRotate(v: Column): Column =
    graft.functions.GraftFunctions.hdRotate64(v)

  /** OPQ-rotated ADC scores — [[pqScoredOver]] on the rotated corpus:
    * codebook (rotated slices of `vec_id < 16`), corpus codes, and the
    * query LUT all live in the rotated space. */
  private[scale] def opqScored(spark: SparkSession, dir: String): DataFrame =
    pqScoredOver(corpus(spark, dir)
      .select(col("vec_id"), hdRotate(col("v")).as("v")))

  /** OPQ SEARCH — PQ behind a fixed orthogonal rotation, at IDENTICAL
    * compression (same 8 one-byte codes per vector): the standard fix
    * for PQ's subspace-independence assumption. MEASURED HONESTLY on
    * this fixture: the embeddings table is isotropic (per-dim std
    * uniform at ~0.125, off-diagonal correlation ≈ 0 — checked
    * directly on the testdata), so the rotation has no energy
    * imbalance to fix and recall lands ≈ pq's (the `opq` row of
    * [[annRecall2]] pins the measured delta). The row exists because
    * a deployment's real embeddings are anisotropic (trained encoders
    * concentrate energy — the OPQ paper's premise) and the engine must
    * ship the rotated path for them; the acceptance sheet is where the
    * per-corpus decision gets made. */
  def annOpqSearch(spark: SparkSession, dir: String): DataFrame =
    neighbors(topK(opqScored(spark, dir), 3, col("adist")), "adist")

  /** The rotation CTE (`e0` raw → `e(vec_id, v)` rotated) shared by the
    * opq oracle and the opq row of the recall2 oracle. */
  private val opqRotCte: String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |${rotCte("e", "e0")}""".stripMargin

  /** CTE `name(vec_id, v)`: `src`'s vectors through the fixed rotation
    * ([[hdRotate]]). */
  private def rotCte(name: String, src: String): String =
    s"""$name AS (
       |  SELECT vec_id,
       |         list_transform(generate_series(0, 63), i ->
       |           list_sum(list_transform(generate_series(0, 63), j ->
       |             CASE WHEN (bit_count(i & j) + bit_count(j)) % 2 = 0
       |                  THEN v[j+1] ELSE -v[j+1] END)) / 8.0) AS v
       |  FROM $src)""".stripMargin

  // vanilla PQ oracle with the corpus CTE swapped for the rotated one
  val annOpqSearchSql: String = pqAdcSql(opqRotCte)

  // ---------------------------------------------------------------- SQ8
  /** Corpus with per-vector int8 SCALAR QUANTIZATION attached — the
    * fourth compression point on the ANN memory/recall curve (FAISS
    * `SQ8`): each dimension stores `floor(x·127/maxabs(v))` ∈
    * [-127, 127], one byte instead of four, so a float32 corpus scans
    * 4× less IO than exact search and keeps per-DIMENSION resolution
    * PQ gives up (PQ's 8 bytes/vector vs SQ8's 64 here — opposite ends
    * of the compression/recall trade, and real deployments ship both).
    * The per-vector scale makes quantized COSINE scale-free:
    * qdot/(|qa|·|qb|) cancels both scales, and because every quantized
    * cell is an integer the candidate scores are EXACT in float — no
    * cross-engine summation-order hazard anywhere in stage 1. The
    * clamp to [-127, 127] closes floor's 1-ulp hazard: (x·127)/maxabs
    * at the max-|x| dim double-rounds to 127±1ulp, and the NEGATIVE
    * max would otherwise floor to -128 — outside both the documented
    * range and TINYINT-storable symmetry FAISS SQ8 keeps. maxabs=0
    * (the all-zero vector) quantizes to all-zero with qn 0; stage 1
    * NULLIFs its cosine in both engines (see [[sq8ScoredOver]]). The
    * formula is one codegen'd expression ([[graft.functions
    * .Sq8Quantize]]), shared with the streamed arrivals of
    * [[graft.streaming.IndexNearDup]]. */
  private[scale] def sq8Corpus(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    c.withColumn("q", graft.functions.GraftFunctions.sq8(col("v")))
      .withColumn("qn", sqrt(dot(col("q"), col("q"))))
  }

  /** ANN query-set size — 10 by default (the oracle-pinned value every
    * SQL mirror hardcodes as `vec_id < 10`); the env knob exists ONLY
    * for scale receipts (SCALE.md's |queries|-scaling row runs the
    * serve paths at 1000 to pin that serving cost grows with
    * |queries|·(routing + probed lists) while the corpus-side scan is
    * shared). Never set it under MatCheck/Verify/Bench — the DuckDB
    * mirrors stay at 10 by design, so a non-default value is an
    * intentional oracle mismatch; a set knob therefore fails FAST on a
    * malformed or non-positive value (a bare NumberFormatException
    * surfacing from deep inside a query plan was the r14 advice nit)
    * and every oracle-divergence hazard it creates is asserted at the
    * point of hazard (see [[annIvfSqDelete]]'s query-survival check). */
  private[scale] def annQueryCount: Int =
    sys.env.get("SPARK_GRAFT_ANN_QUERIES") match {
      case None => 10
      case Some(s) =>
        val n = try s.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"SPARK_GRAFT_ANN_QUERIES must be a positive integer, got '$s'")
        }
        require(n > 0, s"SPARK_GRAFT_ANN_QUERIES must be positive, got $n")
        n
    }

  /** The quantized query vectors (query_id, qq, qqn), derived from the
    * SAME frame stage 1 scans: inline callers pass the inline-quantized
    * corpus (queries re-quantize with it, as before), the serve paths
    * pass the STORED int8 table — so a serve plan's float-table
    * footprint is purely stage-2 (the ≤ 10·|queries| exact fetch plus
    * the query re-score rows) instead of re-quantizing the float corpus
    * for 10 query rows per run. */
  private def sq8QueryOf(stage1: DataFrame): DataFrame =
    stage1.filter(col("vec_id") < annQueryCount)
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("qn").as("qqn"))

  /** Stage-1 quantized scoring over an EXPLICIT quantized-corpus frame
    * (vec_id, q, qn) — the same kernel serves the self-contained
    * measured query ([[sq8Scored]]: quantize the float corpus inline)
    * and the production shape ([[sq8ServeRead]]: the frame is the
    * STORED int8 table, the 4×-smaller scan that is the point of SQ8).
    * The NULLIF'd divisor is the zero-vector guard: qn=0 (the all-zero
    * vector) would divide by zero, which Spark NULLs but DuckDB
    * ±inf/NaNs — ordering-visible; NULLIF makes BOTH engines emit NULL
    * cosine (ranked last under DESC in both, identically). A filter
    * would be wrong here, not just slower: filtering on the computed
    * qn above this join re-evaluates the whole quantization once in
    * the Filter and again in the Project (+50% measured wall at
    * sf0.1); NULLIF is one comparison inside the existing projection. */
  private def sq8ScoredOver(spark: SparkSession, dir: String,
      stage1: DataFrame): DataFrame =
    stage1
      .join(broadcast(sq8QueryOf(stage1)), col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        dot(col("q"), col("qq")) / nullif(col("qn") * col("qqn"), lit(0.0)))
      .select(col("query_id"), col("vec_id"), col("cosine"))

  /** Stage-1 quantized scores (query_id, vec_id, cosine) with the
    * quantization computed inline from the float corpus — the
    * candidate generator behind [[annSq8Search]]'s top-10 cut and the
    * `sq8` row of [[annRecall2]]. */
  private[scale] def sq8Scored(spark: SparkSession, dir: String): DataFrame =
    sq8ScoredOver(spark, dir,
      sq8Corpus(spark, dir).select(col("vec_id"), col("q"), col("qn")))

  /** Stage 2: cut the scored candidates to top-10 per query, fetch
    * ONLY those ≤ 10·|queries| winners' exact vectors (a candidate-
    * sized equi-join — the "random access into the float table" a
    * vector store pays per query), re-rank by exact cosine, keep 3. */
  private[scale] def sq8Rescore(spark: SparkSession, dir: String,
      scored: DataFrame): DataFrame = {
    val exact = corpus(spark, dir)
    val qx = exact.filter(col("vec_id") < annQueryCount)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnr"))
    val cand = topK(scored, 10, rank = "rk").select(col("query_id"), col("vec_id"))
    neighbors(topK(cand.join(exact, Seq("vec_id"))
      .join(qx, Seq("query_id"))
      .withColumn("cosine", dot(col("v"), col("qv")) / (col("nrm") * col("qnr"))), 3))
  }

  /** SCALAR-QUANTIZED ANN with exact re-scoring — the standard two-
    * stage SQ8 serving shape: stage 1 brute-scans the QUANTIZED corpus
    * (the projection keeps only `(vec_id, q, qn)` so the exact vectors
    * never enter the stage-1 join) and keeps top-10 per query by
    * quantized cosine; stage 2 re-ranks the winners by exact cosine
    * for the final top-3 (see [[sq8Rescore]]). Stage-1 scores are
    * integer-exact (see [[sq8Corpus]]) and stage-2 re-uses the brute-
    * force scoring, so the oracle mirrors both stages bit-for-bit.
    * This row stays SELF-CONTAINED (quantizes the float corpus
    * inline); the scan-IO win — stage 1 reading the 4×-smaller stored
    * byte table — is the serve variant, [[annSq8Serve]]. */
  def annSq8Search(spark: SparkSession, dir: String): DataFrame =
    sq8Rescore(spark, dir, sq8Scored(spark, dir))

  /** SQ8, production serve shape — the mirror of [[annIvf2Serve]]'s
    * build/serve split: the quantized corpus `(vec_id, q TINYINT[64],
    * qn)` is MATERIALIZED to parquet once (the index-build write a
    * deployment pays at ingest), gated by the same completion-marker
    * protocol as the ivf2 serve index, and stage 1 then SCANS THE
    * STORED BYTE TABLE — the 4×-smaller sequential read (the FAISS
    * float32 convention; 8× vs this fixture's stored float64 table)
    * that is SQ8's whole value at 100 TB — instead of re-quantizing
    * the float corpus
    * per query. TINYINT round-trips losslessly (every cell is an
    * integer in [-127, 127]; qn is stored as the exact double), so the
    * output is bit-identical to [[annSq8Search]] and shares its
    * oracle; what changes is the PLAN — the measured warm pass
    * ([[sq8ServeRead]] via `SparkEntry.benchImpls`) reads `qtable` in
    * stage 1 and touches the float table only for the ≤ 100 stage-2
    * winners plus the 10-row query set. */
  def annSq8Serve(spark: SparkSession, dir: String): DataFrame = {
    sq8Stored(spark, dir, rebuild = true)
    sq8ServeRead(spark, dir)
  }

  /** The storable quantized corpus `(vec_id, q TINYINT[64], qn)` — the
    * frame every int8-table write lands ([[sq8Stored]],
    * [[annSq8Append]]'s day-0 build and batch). */
  private def sq8QTable(spark: SparkSession, dir: String): DataFrame =
    sq8Corpus(spark, dir)
      .select(col("vec_id"),
        transform(col("q"), _.cast("tinyint")).as("q"), col("qn"))

  /** The stored int8 table, quantized once per corpus. */
  private[scale] def sq8Stored(spark: SparkSession, dir: String,
      rebuild: Boolean = false): StoredIndex.Table = {
    val base = StoredIndex.ensure(spark, dir, sq8ServePath(dir), rebuild)(
      sq8QTable(spark, dir).write.mode("overwrite").parquet(s"${sq8ServePath(dir)}/qtable"))
    StoredIndex.Table(s"$base/qtable", sq8Schema)
  }

  /** A stored int8 table read back as a stage-1 frame (TINYINT cast to
    * double — lossless). */
  private def sq8View(spark: SparkSession, t: StoredIndex.Table): DataFrame =
    t.read(spark).select(col("vec_id"), vecDouble(col("q")).as("q"), col("qn"))

  /** Per-dir, per-JVM, exit-swept — same rationale as [[ivf2ServePath]]. */
  private[scale] def sq8ServePath(dir: String): String =
    graft.util.Scratch.path("sq8serve", dir)

  /** The read-only SQ8 serve path: stage 1 over the stored int8 table
    * (building it first when missing or stale), stage 2 unchanged. */
  private[graft] def sq8ServeRead(spark: SparkSession, dir: String): DataFrame =
    sq8Rescore(spark, dir, sq8ScoredOver(spark, dir, sq8View(spark, sq8Stored(spark, dir))))

  /** SQ8 incremental ingest — the CORPUS half of the FAISS `add()`
    * contract ([[annIvf2Append]] is the routing half; together the
    * composed [[annIvfSqServe]] index ingests end-to-end): per-vector
    * scalar quantization carries NO cross-vector state (each vector's
    * scale is its own max-|x|, not a corpus statistic), so batch ≡
    * incremental EXACTLY and adding a batch to a built int8 table costs
    * quantizing the BATCH alone. The query stages it: day-0 corpus
    * (first 90% of vec_ids) quantized and written, the arriving batch
    * (last 10%) quantized and APPENDED (`mode("append")` — a pure file
    * add; Sq8Spec pins that day-0 files are byte-identical after the
    * append). The vec_id filters push through the quantization to the
    * parquet scan, so each write really quantizes only its slice. The
    * full read-back then runs the SAME two-stage search as
    * [[annSq8Search]] and checks its oracle verbatim — valid precisely
    * because of the no-cross-vector-state property. Unlike IVF's
    * append, there is no freeze caveat: SQ8 has no trained codebook to
    * outgrow, so the int8 table never needs a staleness-driven rebuild.
    * Reference anchor: the K5 retention/compaction lifecycle rows
    * (SURVEY §2.5) that `ann_ivf2_append` already follows. */
  def annSq8Append(spark: SparkSession, dir: String): DataFrame =
    sq8Rescore(spark, dir, sq8ScoredOver(spark, dir,
      sq8View(spark, StoredIndex.Table(sq8AppendWrite(spark, dir), sq8Schema))))

  /** Both phases of the append-table write; the spec drives the phases
    * separately to snapshot file state between them. */
  private def sq8AppendWrite(spark: SparkSession, dir: String): String = {
    val tmp = sq8AppendDay0(spark, dir)
    sq8AppendBatch(spark, dir, tmp)
    tmp
  }

  /** Day-0 build: quantize and land the first 90% of vec_ids. */
  private[scale] def sq8AppendDay0(spark: SparkSession, dir: String): String = {
    val tmp = graft.util.Scratch.path("sq8append", dir)
    val cut = lit(corpusCount(spark, dir) * 9L / 10L)
    sq8QTable(spark, dir).filter(col("vec_id") < cut)
      .write.mode("overwrite").parquet(tmp)
    tmp
  }

  /** The arriving batch: quantize the last 10% and append — a pure
    * file add, no day-0 partition is rewritten. */
  private[scale] def sq8AppendBatch(spark: SparkSession, dir: String, tmp: String): Unit = {
    val cut = lit(corpusCount(spark, dir) * 9L / 10L)
    sq8QTable(spark, dir).filter(col("vec_id") >= cut)
      .write.mode("append").parquet(tmp)
  }

  /** COW DELETE from the stored int8 corpus — the delete half of the
    * corpus-maintenance contract ([[annSq8Append]] is the add half,
    * [[annIvf2Delete]] the routing-table half): FAISS `remove_ids` on
    * an `IVF,SQ8` index drops BOTH the list entry and the code, and
    * this row is the code half — without it a deleted vector's int8
    * row survives in the qtable and the standalone [[annSq8Serve]]
    * scan (which has no assignment join to tombstone-filter it, unlike
    * the composed index — see the contract note on [[annIvfSqServe]])
    * would keep returning it. Same retention predicate and machinery
    * as the assignment delete: drop the oldest 5% (`vec_id < n/20`)
    * from the range-clustered staged table via [[StoredIndex.cowApply]]'s
    * journaled file-pruned copy-on-write. The read-back projects the
    * surviving quantized rows to scalars `(vec_id, qnorm, qsum)` — qn
    * and the cell sum are integer-exact,
    * so the DuckDB oracle recomputes them from the float table and
    * hash-matches bit-for-bit. */
  def annSq8Delete(spark: SparkSession, dir: String): DataFrame = {
    val t = StoredIndex.stage(spark, sq8Stored(spark, dir), "sq8del", dir)
    StoredIndex.cowApply(spark, t,
      StoredIndex.Doomed.where(col("vec_id") < corpusCount(spark, dir) / 20L))
    t.read(spark)
      .select(col("vec_id"), round(col("qn"), 6).as("qnorm"),
        aggregate(vecDouble(col("q")), lit(0.0), _ + _).as("qsum"))
  }

  /** The quantization CTEs shared by the sq8 oracles (→ `sqn(vec_id,
    * q, qn)` over the full corpus). */
  private val sq8QuantCte: String =
    s"""e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |${sqQuantCte("sq", "sqn")}""".stripMargin

  /** CTEs `sq(vec_id, q)` and `sqn(vec_id, q, qn)` under the given names:
    * the quantization of [[sq8Corpus]] over a preceding `e(vec_id, v)`. */
  private def sqQuantCte(sq: String, sqn: String): String =
    s"""$sq AS (
       |  SELECT vec_id,
       |         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
       |              THEN list_transform(v, x -> greatest(-127.0, least(127.0,
       |                     floor(x * 127 / list_max(list_transform(v, y -> abs(y)))))))
       |              ELSE list_transform(v, x -> 0.0) END AS q
       |  FROM e),
       |$sqn AS (
       |  SELECT vec_id, q, sqrt(list_sum(list_transform(q, x -> x * x))) AS qn
       |  FROM $sq)""".stripMargin

  val annSq8DeleteSql: String =
    s"""WITH $sq8QuantCte
      |SELECT vec_id, round(qn, 6) + 0 AS qnorm, list_sum(q) + 0 AS qsum
      |FROM sqn
      |WHERE vec_id >= (SELECT count(*) // 20 FROM embeddings)""".stripMargin

  /** The scattered GDPR-purge predicate both composed-delete rows
    * apply — `vec_id % 20 = 13`, exactly 5% of every id block at every
    * SF (modular, so the scaled fixtures' replica-offset id spaces keep
    * the same fraction), chosen to defeat row-group pruning by design.
    * Mirrored as a SQL conjunct by [[ivfSqDoomedSql]]; change BOTH or
    * neither. */
  private[scale] val ivfSqDoomed: Column = col("vec_id") % 20 === 13
  private def ivfSqDoomedLong(id: Long): Boolean = id % 20 == 13
  private val ivfSqDoomedSql: String = " AND c.vec_id % 20 <> 13"

  /** The oracle-equivalence guard the r14 advice asked to enforce
    * rather than imply: Spark's quantized queries come from the PURGED
    * qtable while the oracle's q8 CTE is unpurged, so the equivalence
    * holds only while every query id survives the purge. Checked at
    * the point of hazard — a doomed query id (a changed predicate, or
    * the receipts-only SPARK_GRAFT_ANN_QUERIES knob pushed past one)
    * now fails loudly instead of silently dropping whole queries on
    * the Spark side only. */
  private def requireQueriesSurvive(op: String): Unit = {
    val doomedQ = (0L until annQueryCount.toLong).filter(ivfSqDoomedLong)
    require(doomedQ.isEmpty,
      s"$op: query ids ${doomedQ.mkString(",")} fall inside the purge " +
        "predicate — the Spark side would drop their queries while the " +
        "oracle keeps them; shrink SPARK_GRAFT_ANN_QUERIES or change the predicate")
  }

  /** COMPOSED IVF-SQ8 DELETE — the end-to-end FAISS `remove_ids` for
    * the production index: one purge predicate applied to BOTH stored
    * halves (the assignment table AND the int8 corpus, each through
    * the journaled COW swap), then the composed search served over the
    * post-delete tables. The purge is SCATTERED — `vec_id % 20 = 13`,
    * exactly 5% of every id block at every SF (the scaled fixtures'
    * replica offsets are multiples of 20, and a dense space is
    * trivially uniform) — deliberately the OPPOSITE workload from the
    * retention rows' clustered range: a GDPR/user purge hits ids
    * spread across the table, row-group stats prune NOTHING, every
    * file censuses dirty, and the COW swap runs its full-rewrite worst
    * case. Together the delete family now covers both ends: clustered
    * range → file-pruned COW ([[annIvf2Delete]]/[[annSq8Delete]]);
    * scattered ids → full rewrite (this row). The query set
    * (vec_id < 10; 0–9 mod 20 ≠ 13) survives the purge. Centroids and
    * supers stay — frozen-index semantics, same as [[annIvf2Delete]].
    * The oracle is the ivfsq search SQL with the purged ids excluded
    * from the candidate set — equivalent to deleting from both tables
    * because a stage-1 candidate requires presence in BOTH (the list
    * entry routes it, the code row scores it). */
  def annIvfSqDelete(spark: SparkSession, dir: String): DataFrame = {
    requireQueriesSurvive("ann_ivfsq_delete")
    // r15: the two halves (assignment table, int8 corpus) stage and
    // COW-rewrite INDEPENDENT scratch dirs with independent journals —
    // run them concurrently (guide §2.6) instead of idling the cluster
    // through each half's write/census/swap barriers in turn
    val purge = StoredIndex.Doomed.where(ivfSqDoomed)
    val (asg, qt) = graft.util.Par.both(
      { val a = StoredIndex.stage(spark, ivf2Assigned(spark, dir), "ivfsqdelA", dir)
        StoredIndex.cowApply(spark, a, purge); a },
      { val q = StoredIndex.stage(spark, sq8Stored(spark, dir), "ivfsqdelQ", dir)
        StoredIndex.cowApply(spark, q, purge); q })
    // r16: the serve routes through the STORED supers/groups (already
    // built for the staging above) — the composed production shape —
    // instead of recomputing them from the corpus after the overlap
    StoredIndex.ivfSqServe(spark, dir, asg.read(spark), sq8View(spark, qt))
  }

  // the composed search oracle with the purged ids excluded from the
  // stage-1 candidate set — parameterized, not string-replaced
  val annIvfSqDeleteSql: String = ivfSqSearchSqlWith(ivfSqDoomedSql)

  /** MERGE-ON-READ composed delete — the same scattered GDPR purge as
    * [[annIvfSqDelete]] (same predicate, same survivors, SAME oracle)
    * through the mechanism a 100 TB deployment actually wants for it:
    * the COW row honestly measures that a scattered predicate defeats
    * file pruning and full-rewrites both corpus-sized tables — the
    * known lakehouse pain a DELETION VECTOR solves. Here delete time
    * writes ONLY the tombstone sidecar (the purge-set id table — KB to
    * MB at any corpus size, one column-pruned scan to derive, zero
    * data-file rewrites; MorSpec pins the census byte-identical), and
    * the serve path merges on read: both stored halves anti-join the
    * BROADCAST sidecar (purge sets are fit-sized — that is the deletion-
    * vector premise) before the composed search runs. Reclaim is
    * deferred to compaction ([[annIvfSqMorFold]]), exactly the
    * Delta/Iceberg merge-on-read → OPTIMIZE split, and the reference's
    * own K5 retention is likewise deferred-not-eager. Delete-time cost
    * is O(purge set) instead of O(table); the serve pays one broadcast
    * anti-join per half — SCALE.md carries the measured comparison
    * against the COW row. */
  def annIvfSqDeleteMor(spark: SparkSession, dir: String): DataFrame = {
    requireQueriesSurvive("ann_ivfsq_delete_mor")
    // the two staged halves are independent writes — overlap them (§2.6)
    val (asg, qt) = graft.util.Par.both(
      StoredIndex.stage(spark, ivf2Assigned(spark, dir), "ivfsqmorA", dir),
      StoredIndex.stage(spark, sq8Stored(spark, dir), "ivfsqmorQ", dir))
    val tomb = StoredIndex.tombstones(spark, asg, ivfSqDoomed, "ivfsqmorT", dir)
    ivfSqMorServeRead(spark, dir, asg, qt, tomb)
  }

  /** The merge-on-read serve: each stored half applies the tombstones
    * at read time via a broadcast anti-join, then the composed search
    * runs unchanged. An id in the sidecar can never be served even
    * though its bytes are still in both tables — the deletion-vector
    * contract. */
  private[scale] def ivfSqMorServeRead(spark: SparkSession, dir: String,
      asg: StoredIndex.Table, qt: StoredIndex.Table, tomb: String): DataFrame = {
    val tombIds = StoredIndex.tombstoneIds(spark, tomb)
    StoredIndex.ivfSqServe(spark, dir, StoredIndex.live(asg.read(spark), tombIds),
      StoredIndex.live(sq8View(spark, qt), tombIds))
  }

  /** The FOLD half of the merge-on-read delete — compaction applying
    * the accumulated tombstones to the data files (Delta/Iceberg's
    * OPTIMIZE folding deletion vectors): both stored halves run the
    * KEYED COW kernel ([[StoredIndex.Doomed.keys]] — doomed rows selected by
    * a broadcast semi-join against the sidecar, journal/swap machinery
    * shared with the eager row), the sidecar is cleared, and the
    * composed search then serves the folded tables with NO anti-join in
    * the plan. Same survivors as both other delete rows, same oracle —
    * the lifecycle claim is that delete → serve-merged → fold → serve-
    * plain never changes a result, only WHEN the rewrite cost is paid
    * (at compaction, amortized across every other reason to compact,
    * instead of inline with the delete). */
  def annIvfSqMorFold(spark: SparkSession, dir: String): DataFrame = {
    requireQueriesSurvive("ann_ivfsq_mor_fold")
    // staging, and later the two keyed folds, touch independent dirs
    // with independent journals — overlap each pair (§2.6)
    val (asg, qt) = graft.util.Par.both(
      StoredIndex.stage(spark, ivf2Assigned(spark, dir), "ivfsqfoldA", dir),
      StoredIndex.stage(spark, sq8Stored(spark, dir), "ivfsqfoldQ", dir))
    val tomb = StoredIndex.tombstones(spark, asg, ivfSqDoomed, "ivfsqfoldT", dir)
    val keys = StoredIndex.Doomed.keys(StoredIndex.tombstoneIds(spark, tomb))
    graft.util.Par.both(
      StoredIndex.cowApply(spark, asg, keys),
      StoredIndex.cowApply(spark, qt, keys))
    graft.util.Scratch.cleanupPath(tomb) // tombstones folded in: sidecar retires
    StoredIndex.ivfSqServe(spark, dir, asg.read(spark), sq8View(spark, qt))
  }

  /** IVF-SQ8 — the composed index FAISS ships as `IVF<k>,SQ8`, and the
    * one a 100 TB deployment actually runs: two-level ROUTING picks the
    * nprobe = 2 lists per query (the [[annIvf2Search]] machinery,
    * exact float centroids — routing tables are k-sized, compressing
    * them buys nothing), the probed lists are scanned QUANTIZED (the
    * [[annSq8Search]] stage-1 kernel over only the routed vectors —
    * this scan is the term that is corpus-sized in a pure IVF, and
    * SQ8 cuts its bytes 4×; multiplied, the two stages read
    * ~nprobe/k · 1/4 of the float corpus), and the ≤ 10·|queries|
    * quantized winners re-score exact ([[sq8Rescore]], shared with
    * both SQ8 rows). Quantized list scores are integer-exact, routing
    * reuses the spec-pinned ivf2 argmins, and stage 2 is the brute
    * scoring — so the whole composition carries no cross-engine float
    * hazard beyond what its parents already pinned. Self-contained
    * like `ann_ivf2_search` (index frames built in-plan); the
    * production shape combines [[annIvf2Serve]]'s stored routing
    * tables with [[annSq8Serve]]'s stored int8 corpus. Recall is
    * bounded by the routing (the ivf2 row of [[annRecall2]]): within
    * probed lists 127-level quantization reorders nothing on this
    * corpus, so the `ivfsq` acceptance row scores ≈ ivf2's. */
  def annIvfSqSearch(spark: SparkSession, dir: String): DataFrame =
    sq8Rescore(spark, dir, ivfSqScored(spark, dir))

  /** Quantized probed-list scores (query_id, vec_id, cosine) with the
    * index frames built in-plan — the stage-1 candidate generator
    * behind [[annIvfSqSearch]] and the `ivfsq` row of [[annRecall2]]. */
  private def ivfSqScored(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivf2Index(spark, dir)
    ivfSqScoredOver(spark, dir, idx.supers, idx.groups,
      idx.assigned.select(col("vec_id"), col("cid")),
      sq8Corpus(spark, dir).select(col("vec_id"), col("q"), col("qn")))
  }

  /** The quantized probed-list scan over EXPLICIT index frames — the
    * same kernel serves the self-contained query ([[ivfSqScored]]) and
    * the full production composition ([[ivfSqServeRead]]: routing
    * tables from [[ivf2Stored]], corpus from [[sq8Stored]]). */
  private[scale] def ivfSqScoredOver(spark: SparkSession, dir: String,
      supers: DataFrame, groups: DataFrame, assigned: DataFrame,
      qcorpus: DataFrame): DataFrame = {
    val probes = ivf2Probes(corpus(spark, dir), supers, groups)
      .select(col("query_id"), col("cid"))
    // quantized queries from the SAME frame the lists scan (the stored
    // int8 table on the serve path — see [[sq8QueryOf]])
    val q8 = sq8QueryOf(qcorpus)
    // ≤ nprobe·|queries| rows carrying the quantized query — broadcast
    val probeQ = probes.join(q8, "query_id")
    qcorpus
      .join(assigned, "vec_id")
      .join(broadcast(probeQ), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        dot(col("q"), col("qq")) / nullif(col("qn") * col("qqn"), lit(0.0)))
      .select(col("query_id"), col("vec_id"), col("cosine"))
  }

  /** IVF-SQ8, full production composition — BOTH halves of
    * [[annIvfSqSearch]]'s scaladoc promise stored and scanned: routing
    * reads [[annIvf2Serve]]'s three tables, the probed lists read
    * [[annSq8Serve]]'s int8 corpus, each behind its own completion
    * marker. Per-query steady-state cost is routing (k1 + 2·k/k1 dots
    * against tiny read-back frames) + a quantized scan of the probed
    * lists (nprobe/k of the corpus at 1/4 the bytes) + the ≤ 10·
    * |queries| exact re-score — NO index computation anywhere in the
    * plan. Output bit-identical to [[annIvfSqSearch]] (same routing
    * argmins from the stored tables, lossless int8 round-trip), same
    * oracle; the bench warm pass measures [[ivfSqServeRead]].
    *
    * MAINTENANCE CONTRACT: ingest appends BOTH halves
    * ([[annIvf2Append]] for routing, [[annSq8Append]] for the int8
    * corpus); deletes likewise route through both
    * ([[annIvf2Delete]] / [[annSq8Delete]]). The composed index is
    * additionally tombstone-safe against a ROUTING-ONLY delete: stage
    * 1's inner join on the assignment table filters any vec_id absent
    * from it, so an int8 row whose assignment was deleted can never
    * reach the output even before the corpus-side delete lands
    * (Sq8Spec's tombstone-proof pins this). The standalone
    * [[annSq8Serve]] has no such join — its deletes MUST go through
    * [[annSq8Delete]]. */
  def annIvfSqServe(spark: SparkSession, dir: String): DataFrame = {
    ivf2Stored(spark, dir, rebuild = true)
    sq8Stored(spark, dir, rebuild = true)
    ivfSqServeRead(spark, dir)
  }

  /** The read-only composed serve path, building either stored half
    * when missing or stale. */
  private[graft] def ivfSqServeRead(spark: SparkSession, dir: String): DataFrame =
    StoredIndex.ivfSqServe(spark, dir, ivf2Assigned(spark, dir).read(spark),
      sq8View(spark, sq8Stored(spark, dir)))

  /** The stored composed index re-laid for the STREAMING serve path
    * ([[graft.streaming.IndexNearDup]]): (routing, lists) where
    * `routing` is a ONE-ROW frame packing the fit-sized routing tables
    * (supers + groups as array<struct> columns) and `lists` is the
    * stored int8 corpus re-laid one-row-per-inverted-list (cid, entries
    * array<struct<vec_id, q TINYINT[], qn>>) — the contiguous-list
    * layout FAISS itself serves from, materialized once behind the
    * completion-marker protocol every other index table uses, so both
    * frames follow a rewritten corpus. List size is bounded by the
    * k-schedule (~256 vectors per list), so a list row is O(tens of KB)
    * at any corpus size. The stream collects both frames once per call
    * into its broadcast snapshot ([[graft.functions.IvfSqSnapshot]]). */
  private[graft] def ivfSqStreamIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (supers, groups, assigned) = StoredIndex.readIvf2(spark, ivf2Stored(spark, dir))
    val qtable = sq8Stored(spark, dir)
    val tmp = graft.util.Scratch.path("ivfsqlists", dir)
    StoredIndex.ensure(spark, dir, tmp)(
      qtable.read(spark)
        .join(assigned, "vec_id")
        .groupBy(col("cid"))
        .agg(collect_list(struct(col("vec_id"), col("q"), col("qn"))).as("entries"))
        .write.mode("overwrite").parquet(tmp))
    val routing = supers.agg(collect_list(struct(col("sid"), col("sv"))).as("supers"))
      .crossJoin(groups.agg(collect_list(struct(col("cid"), col("cv"), col("sid"))).as("groups")))
    val lists = spark.read.schema(
        "cid BIGINT, entries ARRAY<STRUCT<vec_id: BIGINT, q: ARRAY<TINYINT>, qn: DOUBLE>>")
      .parquet(tmp)
    (routing, lists)
  }

  /** The composed IVF-SQ8 oracle with a caller-supplied extra stage-1
    * candidate filter (SQL conjunct over `c`, empty for the plain
    * search) — shared by [[annIvfSqSearchSql]] and the delete rows'
    * purged-ids exclusion, so the derived oracles are parameterized at
    * the source instead of string-replaced after the fact (the r14
    * verdict's brittleness nit). */
  private def ivfSqSearchSqlWith(candFilter: String): String =
    s"""WITH ${normCte("e")},
      |$ivf2ProbeCte,
      |${sqQuantCte("sq", "sqn")},
      |q8 AS (SELECT vec_id AS query_id, q AS qq, qn AS qqn FROM sqn WHERE vec_id < 10),
      |scored AS (
      |  SELECT p.query_id, c.vec_id,
      |         list_sum(list_transform(list_zip(c.q, q8.qq), z -> z[1] * z[2]))
      |           / nullif(c.qn * q8.qqn, 0) AS cosine
      |  FROM sqn c JOIN lists l ON c.vec_id = l.vec_id
      |             JOIN probes p ON l.cid = p.cid
      |             JOIN q8 ON q8.query_id = p.query_id
      |  WHERE c.vec_id <> p.query_id$candFilter),
      |cand10 AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |           row_number() OVER (PARTITION BY query_id
      |                              ORDER BY cosine DESC, vec_id) AS rk
      |    FROM scored)
      |  WHERE rk <= 10),
      |qx AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnr FROM e WHERE vec_id < 10),
      |resc AS (
      |  SELECT t.query_id, t.vec_id,
      |         list_sum(list_transform(list_zip(c.v, qx.qv), z -> z[1] * z[2]))
      |           / (c.nrm * qx.qnr) AS cosine
      |  FROM cand10 t JOIN e c ON c.vec_id = t.vec_id
      |                JOIN qx ON qx.query_id = t.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cosine,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, vec_id) AS rank
      |  FROM resc)
      |SELECT query_id, rank, vec_id AS neighbor_id, round(cosine, 6) + 0 AS cosine
      |FROM ranked WHERE rank <= 3""".stripMargin

  val annIvfSqSearchSql: String = ivfSqSearchSqlWith("")

  val annSq8SearchSql: String =
    s"""WITH ${normCte("e")},
      |sq AS (
      |  SELECT vec_id, v, nrm,
      |         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
      |              THEN list_transform(v, x -> greatest(-127.0, least(127.0,
      |                     floor(x * 127 / list_max(list_transform(v, y -> abs(y)))))))
      |              ELSE list_transform(v, x -> 0.0) END AS q
      |  FROM e),
      |sqn AS (
      |  SELECT vec_id, v, nrm, q,
      |         sqrt(list_sum(list_transform(q, x -> x * x))) AS qn
      |  FROM sq),
      |q8 AS (SELECT vec_id AS query_id, q AS qq, qn AS qqn
      |       FROM sqn WHERE vec_id < 10),
      |cand AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT q8.query_id, c.vec_id,
      |           row_number() OVER (PARTITION BY q8.query_id ORDER BY
      |             list_sum(list_transform(list_zip(c.q, q8.qq), p -> p[1] * p[2]))
      |               / nullif(c.qn * q8.qqn, 0) DESC, c.vec_id) AS rk
      |    FROM sqn c, q8 WHERE c.vec_id <> q8.query_id)
      |  WHERE rk <= 10),
      |qx AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnr FROM e WHERE vec_id < 10),
      |resc AS (
      |  SELECT t.query_id, t.vec_id,
      |         list_sum(list_transform(list_zip(c.v, qx.qv), p -> p[1] * p[2]))
      |           / (c.nrm * qx.qnr) AS cosine
      |  FROM cand t JOIN e c ON c.vec_id = t.vec_id
      |              JOIN qx ON qx.query_id = t.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cosine,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cosine DESC, vec_id) AS rank
      |  FROM resc)
      |SELECT query_id, rank, vec_id AS neighbor_id, round(cosine, 6) + 0 AS cosine
      |FROM ranked WHERE rank <= 3""".stripMargin

  // ---------------------------------------------------------------- k-means
  /** Third-iteration Lloyd assignment (vec_id, v, cid) — shared by the
    * fit output and [[Ranking.clusterTopics]]' per-cluster summaries,
    * and read TWICE inside [[kmeansFit]] itself (update + occupancy
    * counts); memoized+cached so the 3-iteration chain materializes
    * once per (session, dir) instead of once per consumer branch. */
  private[scale] def kmeansAssign3(spark: SparkSession, dir: String): DataFrame =
    // localCheckpoint, not cache: three unrolled Lloyd iterations of
    // 64-term distance expressions make a logical tree Catalyst spends
    // ~1 s re-optimizing per consumer action; truncate to a LogicalRDD
    DirMemo.getOrCompute(spark, "kmeans_a3", dir)(
      kmeansAssign3Impl(spark, dir).localCheckpoint())

  private def kmeansAssign3Impl(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    // hash-agg packed argmin (see annIvfAssign); the update step's v is
    // re-attached by an n-row equi-join on vec_id AFTER the aggregate
    // rather than riding in the argmin buffer — min(struct(dist,cid,v))
    // forced a SortAggregate whose sort rows each carried the 64-double
    // array (n·k wide rows sorted per iteration); the skinny
    // aggregate + join shape is how distributed Lloyd keeps the
    // assignment map-side at corpus scale
    def assign(cents: DataFrame): DataFrame =
      c.join(broadcast(cents), lit(true))
        .select(col("vec_id"), col("cid"), sqDist("v", "cv").as("dist"))
        .groupBy(col("vec_id"))
        .agg(min(packArgmin(col("dist"), col("cid"))).as("p"),
          min(col("dist")).as("d"))
        .select(col("vec_id"), packedId(col("p")).as("cid"),
          col("d").as("dist"))
        .join(c.select(col("vec_id"), col("v")), "vec_id")
        .select(col("vec_id"), col("v"), col("cid"), col("dist"))
    val init = c.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    assign(kmeansUpdate(assign(kmeansUpdate(assign(init)))))
  }

  private def kmeansUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cid"), col("dim")).agg(round(avg(col("x")), 6).as("cx"))
      .groupBy(col("cid"))
      .agg(sort_array(collect_list(struct(col("dim"), col("cx")))).as("s"))
      .select(col("cid"), transform(col("s"), p => p("cx")).as("cv"))

  /** K-MEANS FIT — the index-training step the IVF family assumes
    * (`annIvfAssign` takes its centroid set as given): k=8, init =
    * the first 8 vectors, 3 unrolled Lloyd iterations. Each iteration
    * is (a) assignment — broadcast the 8 centroids, 64-term ascending-
    * dimension squared-L2, rank-1 pick on (dist, cid), exactly the
    * [[annIvfAssign]] plan — and (b) update — per-(cluster, dim) mean
    * via posexplode + one hash aggregate, re-assembled into an array
    * ordered by dim. Centroids are QUANTIZED to 6 decimals after every
    * update, in the engine and the oracle alike: cross-engine mean
    * summation order can differ in the last ulp, and an unquantized
    * ulp would flip boundary assignments in the next iteration and
    * diverge the whole fit. The fixed iteration count keeps the plan a
    * static 3-deep chain (no driver-side convergence loop) — at 100 TB
    * each iteration is one broadcast join + two shuffles over (cid,
    * dim) rows, and the centroid table never leaves the executors.
    * Output grain: (cid, dim, c, n_members) — the fitted codebook plus
    * final cluster occupancy. */
  def kmeansFit(spark: SparkSession, dir: String): DataFrame = {
    val a3 = kmeansAssign3(spark, dir)
    val counts = a3.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
    kmeansUpdate(a3)
      .select(col("cid"), posexplode(col("cv")).as(Seq("d0", "c")))
      .select(col("cid"), (col("d0") + 1).as("dim"), col("c"))
      .join(broadcast(counts), "cid")
  }

  /** CTE chain ending in `a3(vec_id, cid, v)` — the 3-iteration Lloyd
    * replay shared by the `kmeans_fit` and `text_cluster_topics`
    * oracles. */
  private[scale] val kmeansCtes: String = {
    def assign(cents: String, tag: String): String =
      s"""$tag AS (
         |  SELECT vec_id, cid, v FROM (
         |    SELECT e.vec_id, c.cid, e.v,
         |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |             list_sum(list_transform(list_zip(e.v, c.cv),
         |                      p -> (p[1] - p[2]) * (p[1] - p[2]))), c.cid) AS rk
         |    FROM e CROSS JOIN $cents c)
         |  WHERE rk = 1)""".stripMargin
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
       |${assign("c0", "a1")},
       |${kmeansUpdateSql("a1", "c1")},
       |${assign("c1", "a2")},
       |${kmeansUpdateSql("a2", "c2")},
       |${assign("c2", "a3")}""".stripMargin
  }

  private def kmeansUpdateSql(assigned: String, tag: String): String =
    s"""$tag AS (
       |  SELECT cid, list(cx ORDER BY dim) AS cv FROM (
       |    SELECT cid, i AS dim, round(avg(v[i]), 6) AS cx
       |    FROM $assigned, unnest(generate_series(1, 64)) g(i)
       |    GROUP BY cid, i)
       |  GROUP BY cid)""".stripMargin

  val kmeansFitSql: String =
    s"""WITH $kmeansCtes,
       |${kmeansUpdateSql("a3", "c3")},
       |nm AS (SELECT cid, count(*) AS n_members FROM a3 GROUP BY cid)
       |SELECT c3.cid, CAST(g.i AS INT) AS dim, c3.cv[g.i] + 0 AS c, nm.n_members
       |FROM c3, unnest(generate_series(1, 64)) g(i)
       |JOIN nm ON nm.cid = c3.cid""".stripMargin

  // ---------------------------------------------------------------- int8 quantization
  /** Scalar INT8 quantization of the embedding column — the storage
    * format a 100 TB vector corpus actually ships (64 float32 dims →
    * 64 bytes, 4×, composable with PQ's 32×): per-dimension [min, max]
    * from one tiny stats aggregate (64 rows to the driver, the same
    * fit-then-fold shape as the BPE/RFE loops), then
    * `code_d = min(255, floor((x_d − min_d)/(max_d − min_d)·256))`
    * folded into the row expression as EXACT literal constants — min/
    * max are order-insensitive so both engines see bit-identical
    * bounds, and floor (not round) sidesteps cross-engine half-up/
    * half-even divergence. Midpoint reconstruction; output per vector:
    * the code checksum plus ascending-dimension MSE and max-abs
    * reconstruction error. Pure map stage — no join, no shuffle. */
  def embQuantize(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val stats = c.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    if (stats.isEmpty) {
      // empty corpus: nothing to quantize — emit the empty result frame
      // instead of NPEing on the per-dim stats lookup
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Double)]
        .toDF("vec_id", "code_sum", "mse", "max_err")
    }
    def codeCol(d: Int): Column = {
      val (mn, mx) = stats(d)
      if (mx == mn) lit(0L)
      else least(lit(255L),
        floor((element_at(col("v"), d + 1) - lit(mn)) / lit(mx - mn) * 256))
    }
    def errCol(d: Int): Column = {
      val (mn, mx) = stats(d)
      val rec = lit(mn) + (codeCol(d).cast("double") + 0.5) / 256.0 * lit(mx - mn)
      element_at(col("v"), d + 1) - rec
    }
    val mse = (0 until 64).map(d => errCol(d) * errCol(d)).reduce(_ + _) / 64.0
    val maxErr = greatest((0 until 64).map(d => abs(errCol(d))): _*)
    val checksum = (0 until 64).map(codeCol).reduce(_ + _)
    c.select(col("vec_id"), checksum.as("code_sum"),
      round(mse, 6).as("mse"), round(maxErr, 6).as("max_err"))
  }

  val embQuantizeSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |st AS (
      |  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
      |  FROM e, unnest(generate_series(1, 64)) g(i) GROUP BY i),
      |mm AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM st),
      |q AS (
      |  SELECT e.vec_id,
      |    list_transform(generate_series(1, 64), i ->
      |      CASE WHEN mxs[i] = mns[i] THEN 0
      |           ELSE least(255, floor((v[i] - mns[i]) / (mxs[i] - mns[i]) * 256))::BIGINT
      |      END) AS codes,
      |    list_transform(generate_series(1, 64), i ->
      |      v[i] - (mns[i] + (CASE WHEN mxs[i] = mns[i] THEN 0
      |                             ELSE least(255, floor((v[i] - mns[i]) / (mxs[i] - mns[i]) * 256))::BIGINT
      |                        END + 0.5) / 256.0 * (mxs[i] - mns[i]))) AS errs
      |  FROM e, mm)
      |SELECT vec_id, list_sum(codes)::BIGINT AS code_sum,
      |  round(list_sum(list_transform(errs, x -> x * x)) / 64.0, 6) + 0 AS mse,
      |  round(list_max(list_transform(errs, x -> abs(x))), 6) + 0 AS max_err
      |FROM q""".stripMargin

  // ---------------------------------------------------------------- PCA
  /** Top principal component of the embedding corpus via 3 unrolled power
    * iterations on the centered Gram matrix — the fit every whitening /
    * dimensionality-reduction stage needs, in the same fit-then-fold
    * shape as [[kmeansFit]] and [[embQuantize]]: each iteration is ONE
    * aggregate over (dim, x·v) rows, the 64-double iterate comes back to
    * the driver (O(dim), scale-free) and folds into the next iteration's
    * row expression as literals. The iterate is re-normalized and
    * QUANTIZED to 6 decimals after every step (cross-engine sum order
    * differs in the last ulp; unquantized that noise would compound
    * through the recurrence — the kmeans lesson). Sign is fixed by making
    * the largest-|loading| dimension positive (lowest dim on ties), so
    * both engines agree even when dim 0's loading is near zero. Output:
    * (dim, mean_d, loading, explained_var) — the fitted component plus
    * the Rayleigh-quotient variance it explains. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame =
    // Not memoized (unlike the shared kmeans_a3 index): the fit is this
    // query's own work and nothing else consumes it — a memo would make
    // the bench's warm pass measure a count over a cached checkpoint.
    pcaPowerImpl(spark, dir)

  private[graft] def pcaPowerImpl(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val dims = 0 until 64
    // one corpus pass for BOTH n and the per-dim means (count rides the
    // same 64-group aggregate; a separate c.count() is a whole extra
    // scan — at 100 TB the fit is 4 passes, not 5)
    val meanRows = c
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(avg(col("x")).as("m"), count(lit(1)).as("n"))
      .collect()
    if (meanRows.isEmpty) {
      // empty corpus: no component to fit — empty curve, not a crash
      import spark.implicits._
      return Seq.empty[(Int, Double, Double, Double)]
        .toDF("dim", "mean_d", "loading", "explained_var")
    }
    val nRows = meanRows.head.getLong(2)
    val mean: Array[Double] = meanRows
      .map(r => r.getInt(0) -> (math.rint(r.getDouble(1) * 1e6) / 1e6 + 0.0))
      .sortBy(_._1).map(_._2)
    val cx = c.select(col("vec_id"),
      array(dims.map(d => element_at(col("v"), d + 1) - lit(mean(d))): _*).as("cx"))
    // one power step: u[d] = Σ_rows cx[d]·(cx·vk), as (dim → u) rows
    def step(vk: Array[Double]): DataFrame = {
      val s = dims.map(d => element_at(col("cx"), d + 1) * lit(vk(d))).reduce(_ + _)
      cx.withColumn("s", s)
        .select(col("s"), posexplode(col("cx")).as(Seq("d", "x")))
        .groupBy(col("d")).agg(sum(col("x") * col("s")).as("u"))
    }
    def normQuant(u: DataFrame): Array[Double] = {
      val raw = u.collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      raw.map(x => math.rint(x / nrm * 1e6) / 1e6)
    }
    val e1 = Array.tabulate(64)(d => if (d == 0) 1.0 else 0.0)
    val v1 = normQuant(step(e1))
    val v2 = normQuant(step(v1))
    // the final iterate is 64 doubles — collect it ONCE and finish the
    // fit (norm, Rayleigh eigenvalue, sign flip) in the driver. The
    // previous shape (checkpoint + 3 broadcast-subquery crossJoins)
    // launched 5 extra jobs over a 64-row frame; per-job scheduling
    // overhead was the whole cost. Driver sums over 64 dims are
    // deterministic (d-order), which the distributed agg wasn't.
    val u3: Array[Double] = step(v2).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)
    val nrm3 = math.sqrt(u3.map(x => x * x).sum)
    val lam = math.rint(dims.map(d => u3(d) * v2(d)).sum / (nRows - 1) * 1e6) / 1e6
    val loadings = u3.map(x => math.rint(x / nrm3 * 1e6) / 1e6)
    val flipDim = dims.maxBy(d => (math.abs(loadings(d)), -d))
    val flip = if (loadings(flipDim) < 0) -1.0 else 1.0
    import spark.implicits._
    dims.map(d => (d + 1, mean(d), loadings(d) * flip + 0.0, lam))
      .toDF("dim", "mean_d", "loading", "explained_var")
  }

  val pcaPowerSql: String = {
    // one lockstep power step over centered rows; vk = CTE(d, vc)
    def step(vk: String, tag: String): String =
      s"""s_$tag AS (
         |  SELECT cx.vec_id, sum(cx.x * $vk.vc) AS s
         |  FROM cx JOIN $vk USING (d) GROUP BY cx.vec_id),
         |$tag AS (
         |  SELECT cx.d, sum(cx.x * s_$tag.s) AS u
         |  FROM cx JOIN s_$tag USING (vec_id) GROUP BY cx.d)""".stripMargin
    def quant(u: String, tag: String): String =
      s"""$tag AS (
         |  SELECT d, round(u / sqrt((SELECT sum(u * u) FROM $u)), 6) AS vc
         |  FROM $u)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |m AS (
       |  SELECT i AS d, round(avg(v[i]), 6) AS m
       |  FROM e, unnest(generate_series(1, 64)) g(i) GROUP BY i),
       |cx AS (
       |  SELECT e.vec_id, g.i AS d, e.v[g.i] - m.m AS x
       |  FROM e, unnest(generate_series(1, 64)) g(i) JOIN m ON m.d = g.i),
       |v0 AS (SELECT i AS d, CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END AS vc
       |       FROM unnest(generate_series(1, 64)) g(i)),
       |${step("v0", "u1")},
       |${quant("u1", "v1")},
       |${step("v1", "u2")},
       |${quant("u2", "v2")},
       |${step("v2", "u3")},
       |lam AS (
       |  SELECT round(sum(u3.u * v2.vc) / ((SELECT count(*) FROM e) - 1), 6)
       |    AS explained_var
       |  FROM u3 JOIN v2 USING (d)),
       |${quant("u3", "v3")},
       |flip AS (
       |  SELECT CASE WHEN vc < 0 THEN -1.0 ELSE 1.0 END AS flip
       |  FROM v3 ORDER BY abs(vc) DESC, d LIMIT 1)
       |SELECT v3.d AS dim, m.m + 0 AS mean_d,
       |  v3.vc * flip.flip + 0 AS loading,
       |  lam.explained_var + 0 AS explained_var
       |FROM v3 JOIN m ON m.d = v3.d CROSS JOIN flip CROSS JOIN lam""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_pca_power"   -> (pcaPower _),
    "kmeans_fit"      -> (kmeansFit _),
    "emb_quantize"    -> (embQuantize _),
    "ann_brute_force" -> (annBruteForce _),
    "ann_pq_encode"   -> (annPqEncode _),
    "ann_pq_search"   -> (annPqSearch _),
    "ann_opq_search"  -> (annOpqSearch _),
    "ann_dot_expr"    -> (annDotExpr _),
    "ann_lsh_buckets" -> (annLshBuckets _),
    "ann_lsh_search"  -> (annLshSearch _),
    "ann_lsh_mp_search" -> (annLshMpSearch _),
    "ann_ivf_assign"  -> (annIvfAssign _),
    "ann_ivf2_assign" -> (annIvf2Assign _),
    "ann_ivf2_search" -> (annIvf2Search _),
    "ann_ivf2_serve"  -> (annIvf2Serve _),
    "ann_ivf2_append" -> (annIvf2Append _),
    "ann_ivf2_compact" -> (annIvf2Compact _),
    "ann_ivf2_staleness" -> (annIvf2Staleness _),
    "ann_ivf2_rebuild" -> (annIvf2Rebuild _),
    "ann_ivf2_delete" -> (annIvf2Delete _),
    "ann_sq8_search"  -> (annSq8Search _),
    "ann_sq8_serve"   -> (annSq8Serve _),
    "ann_sq8_append"  -> (annSq8Append _),
    "ann_sq8_delete"  -> (annSq8Delete _),
    "ann_ivfsq_delete" -> (annIvfSqDelete _),
    "ann_ivfsq_delete_mor" -> (annIvfSqDeleteMor _),
    "ann_ivfsq_mor_fold" -> (annIvfSqMorFold _),
    "ann_ivfsq_search" -> (annIvfSqSearch _),
    "ann_ivfsq_serve" -> (annIvfSqServe _),
    "ann_ivf_search"  -> (annIvfSearch _),
    "ann_recall"      -> (annRecall _),
    "ann_recall2"     -> (annRecall2 _),
    "rank_ndcg"       -> (rankNdcg _),
    "emb_project"     -> (embProject _),
    "ts_similar_windows" -> (tsSimilarWindows _))

  def oracles: Map[String, String] = Map(
    "emb_pca_power"   -> pcaPowerSql,
    "kmeans_fit"      -> kmeansFitSql,
    "emb_quantize"    -> embQuantizeSql,
    "ann_brute_force" -> annBruteForceSql,
    "ann_pq_encode"   -> annPqEncodeSql,
    "ann_pq_search"   -> annPqSearchSql,
    "ann_opq_search"  -> annOpqSearchSql,
    "ann_dot_expr"    -> annBruteForceSql,
    "ann_lsh_buckets" -> annLshBucketsSql,
    "ann_lsh_search"  -> annLshSearchSql,
    "ann_lsh_mp_search" -> annLshMpSearchSql,
    "ann_ivf_assign"  -> annIvfAssignSql,
    "ann_ivf2_assign" -> annIvf2AssignSql,
    "ann_ivf2_search" -> annIvf2SearchSql,
    // same output as the inline search (same routing code, same cut):
    // the serve row exists to pin the materialize-once plan shape
    "ann_ivf2_serve"  -> annIvf2SearchSql,
    // batch ≡ incremental for assignment (vectors route independently;
    // the batch excludes vec_id < k), so the append roundtrip checks
    // against the full-assignment oracle verbatim
    "ann_ivf2_append" -> annIvf2AssignSql,
    // compaction rewrites files, not rows: the read-back checks against
    // the same full-assignment oracle; CompactionSpec pins the physical
    // file-count drop
    "ann_ivf2_compact" -> annIvf2AssignSql,
    "ann_ivf2_staleness" -> annIvf2StalenessSql,
    // a rebuilt index must be indistinguishable from a fresh build at
    // the post-growth corpus: same search oracle as the inline row
    "ann_ivf2_rebuild" -> annIvf2SearchSql,
    "ann_ivf2_delete" -> annIvf2DeleteSql,
    "ann_sq8_search"  -> annSq8SearchSql,
    // serve = search content-wise (lossless TINYINT round-trip); only
    // the plan differs — stage 1 scans the stored int8 table
    "ann_sq8_serve"   -> annSq8SearchSql,
    // batch ≡ incremental for per-vector quantization (no cross-vector
    // state), so the appended table's full read-back searches against
    // the same two-stage oracle verbatim
    "ann_sq8_append"  -> annSq8SearchSql,
    "ann_sq8_delete"  -> annSq8DeleteSql,
    "ann_ivfsq_delete" -> annIvfSqDeleteSql,
    // merge-on-read and its fold share the eager COW row's oracle by
    // construction: same purge, same survivors, different mechanism
    "ann_ivfsq_delete_mor" -> annIvfSqDeleteSql,
    "ann_ivfsq_mor_fold" -> annIvfSqDeleteSql,
    "ann_ivfsq_search" -> annIvfSqSearchSql,
    // serve = search content-wise (stored routing argmins + lossless
    // int8 round-trip); only the plan differs — nothing recomputes
    "ann_ivfsq_serve" -> annIvfSqSearchSql,
    "ann_ivf_search"  -> annIvfSearchSql,
    "ann_recall"      -> annRecallSql,
    "ann_recall2"     -> annRecall2Sql,
    "rank_ndcg"       -> rankNdcgSql,
    "emb_project"     -> embProjectSql,
    "ts_similar_windows" -> tsSimilarWindowsSql)
}
