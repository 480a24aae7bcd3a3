package graft.scale

import graft.Tables
import graft.util.CacheOnce._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-deduplication operators for large-scale training-data
  * pipelines: exact, MinHash+LSH, SimHash, and blocked n-gram Jaccard.
  *
  * Hashing is md5-based everywhere so every stage is reproducible
  * bit-for-bit in the DuckDB oracle (no engine-specific hash functions).
  * At 100 TB each stage is shuffle-bounded by design:
  *  - exact dedup: one hash aggregate on the content hash;
  *  - MinHash LSH: signatures are a map stage; candidate generation
  *    shuffles (band, hash) pairs — rows ≈ docs × bands, NOT docs²;
  *  - SimHash: banding again keeps the self-join off the full cross
  *    product;
  *  - n-gram Jaccard runs only inside (lang, source) blocks.
  */
object Dedup {

  /** Lowercased alphanumeric token array. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  val tokensSql = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** Word 3-gram shingles joined with spaces. */
  def shingles(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3))))
      .otherwise(array())

  /** SQL mirror of [[shingles]], over a column named `ts`. */
  val shinglesSql: String =
    """CASE WHEN len(ts) >= 3
      |     THEN list_transform(generate_series(1, len(ts) - 2),
      |                         i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
      |     ELSE [] END""".stripMargin

  /** Distinct 3-gram shingles as rows (doc_id, s) via posexplode + lead.
    *
    * NOT the array-lambda form: CollapseProject inlines the token-array
    * expression into every `element_at` call site inside a transform
    * lambda, so the regex tokenization re-runs ~3× per shingle (measured
    * 27 s at sf0.1 for 5000 docs). Exploding tokens to rows evaluates the
    * split exactly once per doc; the 3-gram assembly is two `lead`s over
    * (doc_id, pos) — one bounded shuffle, the shape a corpus-scale dedup
    * wants anyway. */
  def shingleRows(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1"), col("t2")).as("s"))
      .distinct()
  }

  /** The shingle rows of the FULL documents table, memoized + cached per
    * (session, dir): six registered queries read this exact relation
    * (heavy hitters, boilerplate coverage, CMS sketch, fingerprints,
    * decontamination, incremental dedup), and each cold build pays the
    * tokenize + explode + distinct shuffle. At scale this is the
    * materialized shingle INDEX a corpus pipeline maintains next to the
    * corpus; consumers that need a subset filter it (per-doc predicates
    * commute with per-doc shingling). */
  def shingleIndex(spark: SparkSession, dir: String): DataFrame =
    DirMemo.getOrCompute(spark, "shingles", dir)(
      shingleRows(Tables.documents(spark, dir).select(col("doc_id"), col("text"))).cacheOnce())

  // ---------------------------------------------------------------- exact
  /** Exact dedup by content hash: keep the lowest doc_id per hash group
    * (one aggregate; the 100 TB shape — never a pairwise comparison). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("kept_doc_id"), count(lit(1)).as("group_size"))

  val dedupExactSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS kept_doc_id, count(*) AS group_size
      |FROM documents GROUP BY md5(text)""".stripMargin

  // ---------------------------------------------------------------- minhash
  /** MinHash signature (k=16) as an array column over DISTINCT texts —
    * exact dedup runs first (the standard pipeline order: a corpus with
    * heavy exact duplication would otherwise pay shingling per copy and
    * flood the LSH buckets). Each distinct text is represented by its
    * lowest doc_id.
    *
    * Each shingle is md5-hashed ONCE to a 60-bit integer; the 16 hash
    * family members are multiply-mod mixes of it (cheap integer math vs
    * 16 md5 passes — 6× faster at sf0.1, identical formula in the
    * oracle; constants sized so every intermediate fits in a signed 64).
    */
  /** Distinct shingle rows of the exact-dedup representatives, cached:
    * reused by the signature aggregation and by both sides of the LSH
    * verification join. Rows of short strings columnar-encode cheaply —
    * unlike per-doc shingle-set arrays, which made cache materialization
    * cost more than the recomputation it saved. */
  private def shingleReps(spark: SparkSession, dir: String): DataFrame = {
    // exact-dedup reps first (the standard pipeline order: a corpus with
    // heavy exact duplication would otherwise pay shingling per copy and
    // flood the LSH buckets); md5 and the tokenizer each run exactly once
    // per shingle/doc (see [[shingleRows]] for why the array-lambda form
    // is pathological).
    // GROUP BY the text itself, min(doc_id) — NOT group-by-md5 +
    // min_by(text, doc_id): a string-valued min_by buffer isn't
    // UnsafeRow-mutable, so that shape planned as a SortAggregate that
    // sorted every map partition of the documents table (the
    // DoubleRawBits finding's string sibling). Var-length GROUPING keys
    // hash fine — only buffers must be mutable — so keying on text
    // keeps the long-only min inside HashAggregate with map-side
    // combine, and heavy exact duplication collapses before the
    // exchange. Same groups as keying on md5(text) wherever md5 is
    // collision-free on the corpus — the assumption dedup_exact's
    // content_hash output already makes.
    val reps = Tables.documents(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
    shingleRows(reps).cacheOnce()
  }

  private def minhashSigArr(spark: SparkSession, dir: String): DataFrame = {
    val exploded = shingleReps(spark, dir)
      .withColumn("h", conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10)
        .cast("long") % 1000000007L)
    val mins = (0 until 16).map(k =>
      min((col("h") + 1) * lit(1000003L + k * 99991L) % 2147483647L).as(s"m$k"))
    // cached: 16 ints per doc, read by the band self-join and the
    // signature query
    exploded.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until 16).map(k => col(s"m$k")): _*).as("minhash"))
      .cacheOnce()
  }

  /** Query surface: signature serialized to one string (array cells
    * don't compare stably across engines in the driver's hasher). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSigArr(spark, dir)
      .select(col("doc_id"), concat_ws(",", col("minhash")).as("minhash"))

  val minhashSigCte: String =
    s"""WITH reps AS (
       |  SELECT min(doc_id) AS doc_id, text
       |  FROM documents GROUP BY text),
       |toks AS (
       |  SELECT doc_id, $tokensSql AS ts FROM reps),
       |shs AS (
       |  SELECT doc_id, list_distinct($shinglesSql) AS sh FROM toks),
       |hs AS (
       |  SELECT doc_id, sh,
       |         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 1000000007) AS hs
       |  FROM shs WHERE len(sh) > 0),
       |sig AS (
       |  SELECT doc_id, sh,
       |    list_transform(generate_series(0, 15),
       |      k -> list_aggregate(list_transform(hs, h -> (h + 1) * (1000003 + k * 99991) % 2147483647),
       |                          'min')) AS minhash
       |  FROM hs)""".stripMargin

  val minhashSignaturesSql: String =
    minhashSigCte + "\nSELECT doc_id, array_to_string(minhash, ',') AS minhash FROM sig"

  /** MinHash LSH near-dup pairs: 4 bands × 4 rows → candidates sharing a
    * band bucket → verified by exact shingle Jaccard ≥ 0.5.
    *
    * The shuffle is on band hashes (docs × 4 rows), then only candidate
    * pairs pay the Jaccard verification — the standard web-scale dedup
    * shape. Verification joins shingle ROWS (broadcast the candidate
    * list, count matching shingles per pair), never shipping per-doc
    * shingle arrays through a shuffle: |A∩B| = matching-row count,
    * |A∪B| = nA + nB − |A∩B|.
    *
    * Memoized per (session, dir): the verified pair set is the near-dup
    * GRAPH read by three more consumers (the connected-components loop,
    * PageRank, and the keep-list) — each would re-pay band-join +
    * Jaccard verification per call. */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    DirMemo.getOrCompute(spark, "lsh_pairs", dir)(
      minhashLshPairsImpl(spark, dir).localCheckpoint())

  private[graft] def minhashLshPairsImpl(spark: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSigArr(spark, dir)
    val bands = sigs.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(3)),
          b => struct(b.as("band"),
            (((element_at(col("minhash"), b * 4 + 1) * 31 +
               element_at(col("minhash"), b * 4 + 2)) * 31 +
               element_at(col("minhash"), b * 4 + 3)) * 31 +
               element_at(col("minhash"), b * 4 + 4)).as("bh"))))
          .as("bandrec"))
      .select(col("doc_id"), col("bandrec.band").as("band"), col("bandrec.bh").as("bh"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val s = shingleReps(spark, dir)
    val sizes = s.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = broadcast(cand)
      .join(s.select(col("doc_id").as("doc_a"), col("s")), "doc_a")
      .join(s.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    // sizes is corpus-sized (one row per doc) — never hint it broadcast;
    // inter is the near-dup pair set, the genuinely small side, and AQE
    // broadcasts IT at runtime. A forced broadcast of sizes OOMs
    // executors at corpus scale.
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  val minhashLshPairsSql: String =
    minhashSigCte +
      """,
        |bands AS (
        |  SELECT doc_id, b AS band,
        |         ((minhash[b*4+1] * 31 + minhash[b*4+2]) * 31 +
        |           minhash[b*4+3]) * 31 + minhash[b*4+4] AS bh
        |  FROM sig, unnest(generate_series(0, 3)) AS t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |       round(len(list_intersect(sa.sh, sb.sh)) * 1.0 /
        |             len(list_distinct(list_concat(sa.sh, sb.sh))), 6) + 0 AS jaccard
        |FROM cand
        |JOIN sig sa ON sa.doc_id = doc_a
        |JOIN sig sb ON sb.doc_id = doc_b
        |WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
        |      len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5""".stripMargin

  // ------------------------------------------------------ fuzzy decontam
  /** FUZZY decontamination — the MinHash leg of the decontam family
    * (exact n-gram overlap and Bloom prefilter live in
    * [[graft.scale.Curation]]): a near-duplicate of a benchmark doc
    * leaks the benchmark even when no 3-gram matches verbatim (GPT-3
    * appendix-C style fuzzy dedup against eval sets). Benchmark side =
    * `doc_id % 97 = 0` (the suite's held-out convention). Corpus bands
    * join BENCHMARK bands — never corpus×corpus — and the benchmark
    * side broadcasts (eval sets are tiny relative to any training
    * corpus, the asymmetry that makes fuzzy decontam cheap at 100 TB);
    * candidates verify by exact shingle Jaccard ≥ 0.2 — a LOWER bar
    * than the dedup path's 0.5, the usual decontam asymmetry (flagging
    * a training doc cheaply beats leaking an eval set). Output: the contaminated corpus docs with their
    * benchmark match and similarity. */
  def decontamMinhash(spark: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSigArr(spark, dir)
    val bands = sigs.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(3)),
          b => struct(b.as("band"),
            (((element_at(col("minhash"), b * 4 + 1) * 31 +
               element_at(col("minhash"), b * 4 + 2)) * 31 +
               element_at(col("minhash"), b * 4 + 3)) * 31 +
               element_at(col("minhash"), b * 4 + 4)).as("bh"))))
          .as("bandrec"))
      .select(col("doc_id"), col("bandrec.band").as("band"), col("bandrec.bh").as("bh"))
    val benchBands = bands.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), col("band"), col("bh"))
    val cand = bands.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(benchBands), Seq("band", "bh"))
      .select(col("doc_id"), col("bench_id"))
      .distinct()
    val s = shingleReps(spark, dir)
    val sizes = s.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = broadcast(cand)
      .join(s, "doc_id")
      .join(s.select(col("doc_id").as("bench_id"), col("s")), Seq("bench_id", "s"))
      .groupBy(col("doc_id"), col("bench_id")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes, "doc_id")
      .join(sizes.select(col("doc_id").as("bench_id"), col("n").as("n_b")), "bench_id")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= 0.2)
      .select(col("doc_id"), col("bench_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  val decontamMinhashSql: String =
    minhashSigCte +
      """,
        |dbands AS (
        |  SELECT doc_id, b AS band,
        |         ((minhash[b*4+1] * 31 + minhash[b*4+2]) * 31 +
        |           minhash[b*4+3]) * 31 + minhash[b*4+4] AS bh
        |  FROM sig, unnest(generate_series(0, 3)) AS t(b)),
        |dcand AS (
        |  SELECT DISTINCT c.doc_id, e.doc_id AS bench_id
        |  FROM dbands c JOIN dbands e
        |    ON c.band = e.band AND c.bh = e.bh
        |   AND c.doc_id % 97 <> 0 AND e.doc_id % 97 = 0)
        |SELECT dcand.doc_id, dcand.bench_id,
        |       round(len(list_intersect(sc.sh, se.sh)) * 1.0 /
        |             len(list_distinct(list_concat(sc.sh, se.sh))), 6) + 0 AS jaccard
        |FROM dcand
        |JOIN sig sc ON sc.doc_id = dcand.doc_id
        |JOIN sig se ON se.doc_id = dcand.bench_id
        |WHERE len(list_intersect(sc.sh, se.sh)) * 1.0 /
        |      len(list_distinct(list_concat(sc.sh, se.sh))) >= 0.2""".stripMargin

  // ---------------------------------------------------------------- simhash
  /** 32-bit SimHash over distinct tokens (md5-derived token hashes), with
    * byte-band LSH pairing at Hamming distance ≤ 3. Vote aggregation is a
    * (doc × 32 bits) explode + sum — linear, shuffle on doc_id. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok").cast("binary")), 1, 8), 16, 10).cast("long"))
    val votes = toks
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(31))).as("bit"))
      .groupBy(col("doc_id"), col("bit"))
      .agg(sum(when(expr("shiftright(h, bit) & 1") === 1, 1)
        .otherwise(-1)).as("vote"))
    // cached: one long per doc; the pair query's band self-join reads it
    // twice and the fingerprint query shares the same entry
    votes.groupBy(col("doc_id"))
      .agg(sum(when(col("vote") > 0,
        pow(lit(2.0), col("bit")).cast("long")).otherwise(0L)).as("simhash"))
      .cacheOnce()
  }

  val simhashCte: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct($tokensSql)) AS tok FROM documents),
       |th AS (
       |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
       |votes AS (
       |  SELECT doc_id, bit,
       |         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM th, unnest(generate_series(0, 31)) AS t(bit)
       |  GROUP BY doc_id, bit),
       |sh AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2.0, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id)""".stripMargin

  val simhashSql: String = simhashCte + "\nSELECT doc_id, simhash FROM sh"

  /** SimHash near-dup pairs: byte-band candidates, Hamming ≤ 3. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = simhash(spark, dir)
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_val",
        expr("shiftright(simhash, band * 8) & 255"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  val simhashPairsSql: String = simhashCte +
    """,
      |bands AS (
      |  SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS band_val
      |  FROM sh, unnest(generate_series(0, 3)) AS t(band))
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  // ---------------------------------------------------------------- jaccard
  /** Blocked n-gram Jaccard: exact token-set Jaccard ≥ 0.5 within
    * (lang, source) blocks.
    *
    * The self-join is bounded TWICE before any array touches a pair —
    * both prefilters are lossless for τ = 0.5, so the result (and the
    * all-pairs oracle) is unchanged:
    *  1. power-of-two length buckets join the candidate space: J ≥ τ
    *     implies min(|A|,|B|)/max ≥ τ, so for τ = 0.5 the floor(log2 n)
    *     buckets of a qualifying pair differ by at most 1. Each doc sits
    *     in its home bucket k and guests in k+1; pairs meet exactly once
    *     (in max(kA,kB), where at least one side is home) — the join key
    *     grows by 2× rows instead of leaving an unbounded per-block
    *     quadratic.
    *  2. the exact τ-band `min ≥ τ·max` prunes the survivors to the
    *     provably-feasible set before the array intersect evaluates.
    * At 100 TB the (lang, source, bucket) key is the shuffle unit; the
    * heaviest block is one length-doubling of one language, not the
    * whole language. */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    // cached: tokenization runs once, not once per self-join side
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(tokens(col("text"))).as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") > 0)
      .withColumn("lb", floor(log2(col("n"))))
      .cacheOnce()
    val side = d.withColumn("bkt", col("lb")).withColumn("home", lit(true))
      .unionByName(
        d.withColumn("bkt", col("lb") + 1).withColumn("home", lit(false)))
    // per-(lang, source, bucket) typed kernel instead of a self-join:
    // each doc's token hash-set is built ONCE per group (array_intersect
    // as a join expression rebuilds both sides' sets per PAIR), the
    // length band prunes before any probing, and |A∪B| = nA + nB − |A∩B|
    // avoids materializing unions. Group memory = one block's docs — the
    // bound the blocking exists to provide.
    import spark.implicits._
    side.select(col("lang"), col("source"), col("bkt"),
        col("doc_id"), col("ts"), col("n"), col("home"))
      .as[(String, String, Long, Long, Seq[String], Int, Boolean)]
      .groupByKey(t => (t._1, t._2, t._3))
      .flatMapGroups { (key, it) =>
        val m = it.toArray
        val sets = m.map(t => t._5.toSet)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Double)]
        var i = 0
        while (i < m.length) {
          var j = i + 1
          while (j < m.length) {
            // at least one side in its home bucket (pairs meet exactly
            // once, in max(kA, kB)); exact τ-band before any set probe
            if ((m(i)._7 || m(j)._7) &&
                math.min(m(i)._6, m(j)._6).toDouble >= math.max(m(i)._6, m(j)._6) * 0.5) {
              val (a, b) = if (sets(i).size <= sets(j).size) (sets(i), sets(j)) else (sets(j), sets(i))
              var inter = 0
              a.foreach(t => if (b.contains(t)) inter += 1)
              val jac = inter.toDouble / (m(i)._6 + m(j)._6 - inter)
              if (jac >= 0.5) {
                val (da, db) = if (m(i)._4 < m(j)._4) (m(i)._4, m(j)._4) else (m(j)._4, m(i)._4)
                out += ((da, db, key._1, jac))
              }
            }
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("doc_a", "doc_b", "lang", "jaccard")
      .select(col("doc_a"), col("doc_b"), col("lang"), round(col("jaccard"), 6).as("jaccard"))
  }

  val ngramJaccardSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, source, list_distinct($tokensSql) AS ts FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
       |       round(len(list_intersect(a.ts, b.ts)) * 1.0 /
       |             len(list_distinct(list_concat(a.ts, b.ts))), 6) + 0 AS jaccard
       |FROM d a JOIN d b
       |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.ts, b.ts)) * 1.0 /
       |      len(list_distinct(list_concat(a.ts, b.ts))) >= 0.5""".stripMargin

  // ---------------------------------------------------------------- embedding
  /** Corpus with double vectors + norms, shared by both embedding-dedup
    * variants. Cached: without the materialization boundary,
    * CollapseProject inlines the `transform` cast into all 64
    * `element_at` sites of every pair's dot product (the [[shingleRows]]
    * trap — measured 20 s vs 2 s at sf0.1), and the cache is 520 bytes a
    * row — the in-memory vector index any similarity engine keeps. */
  private def embCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.vecDouble(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .cacheOnce()

  /** Embedding near-dup pairs, EXACT semantics: cosine ≥ 0.4 over all
    * pairs.
    *
    * τ = 0.4 is information-theoretically too weak for sub-quadratic
    * candidate generation: measured on this corpus, 16×2-bit hyperplane
    * bands need 4× MORE comparisons than all-pairs for full recall, and
    * IVF lists miss 47–85% of true pairs — there is no lossless pruning
    * at this threshold, so the honest exact plan distributes the O(n²)
    * work instead of pretending to avoid it: a block-nested-loop over
    * B×B block pairs via `cogroup`. Each side replicates its rows B ways
    * (shuffle = 2·n·B rows), task (i, j) holds only blocks i and j
    * (per-task memory 2n/B — no full-corpus broadcast, no driver
    * collect; B scales with cluster width), and pair {x, y} meets
    * exactly once at (blk(x), blk(y)) where the `<` guard passes. The
    * kernel is a fused multiply-add loop — measured ~100× cheaper per
    * pair than the same dot as a join-condition expression, which falls
    * out of whole-stage codegen at 128 terms. Summation runs
    * dimension-ascending, matching the oracle's list_sum. For the
    * sub-quadratic trade at dedup-realistic thresholds see
    * [[embeddingLshPairs]]. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val B = 32
    val ds = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v.map(_.toDouble)) }
    val left = ds.flatMap { case (id, v) =>
      val bi = (id % B).toInt
      (0 until B).map(j => (bi * B + j, id, v))
    }
    val right = ds.flatMap { case (id, v) =>
      val bj = (id % B).toInt
      (0 until B).map(i => (i * B + bj, id, v))
    }
    left.groupByKey(_._1).cogroup(right.groupByKey(_._1)) { (_, ls, rs) =>
      val lv = ls.map(t => (t._2, t._3)).toArray
      val rv = rs.map(t => (t._2, t._3)).toArray
      val ln = lv.map { case (_, v) => math.sqrt(v.map(x => x * x).sum) }
      val rn = rv.map { case (_, v) => math.sqrt(v.map(x => x * x).sum) }
      for {
        li <- lv.indices.iterator
        ri <- rv.indices.iterator
        if lv(li)._1 < rv(ri)._1
        cosine = {
          val a = lv(li)._2; val b = rv(ri)._2
          var dotSum = 0.0
          var i = 0
          while (i < a.length) { dotSum += a(i) * b(i); i += 1 }
          dotSum / (ln(li) * rn(ri))
        }
        if cosine >= 0.4
      } yield (lv(li)._1, rv(ri)._1, cosine)
    }.toDF("vec_a", "vec_b", "cosine")
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Deterministic banding schedule for [[embeddingLshPairs]], derived
    * from the measured corpus size in pure integer arithmetic so the
    * oracle can mirror it exactly:
    *   bits  = smallest b in [2, 16] with n ≤ 256 · 2^b  (avg bucket
    *           population ≤ 256 — the bound that keeps in-bucket verify
    *           work linear-with-constant instead of quadratic),
    *   bands = min(64, 16 + 8·(bits − 2))  (wider bands to hold recall
    *           as bits grow).
    * FIXED 2-bit bands were the round-7 sf10 finding: 4 buckets per
    * band means in-bucket pairs grow n²/4 — measured 716× wall on 100×
    * data with linear true output. Bucket-bounded bits make candidate
    * work track near-dup density, not corpus². */
  private[graft] def lshSchedule(n: Long): (Int, Int) = {
    val bits = (2 to 16).find(b => n <= 256L * (1L << b)).getOrElse(16)
    (bits, math.min(64, 16 + 8 * (bits - 2)))
  }

  /** Embedding near-dup via banded hyperplane LSH — the sub-quadratic
    * 100 TB path: `bands` × `bits` md5-derived hyperplane sign bits
    * ([[lshSchedule]]) generate candidates (shuffle rows = docs × bands,
    * never docs²; in-bucket verify bounded by the ≤256 expected bucket
    * population), each candidate verified by the exact unrolled cosine.
    * Recall < 1 by construction — a qualifying pair is missed iff it
    * disagrees in every band, P = (1 − p^bits)^bands with
    * p = 1 − θ/π: ≥ 99.9% at the fixture SFs (bits ≤ 3) even at the
    * 0.4 stress threshold, and ≥ 98% at the ≥ 0.8 thresholds real
    * dedup uses for corpora up to ~16M vectors (bits = 12, bands = 64);
    * at a 0.4 threshold and web scale the schedule degrades gracefully
    * rather than going quadratic — that trade is the mathematics of
    * hyperplane LSH at hard thresholds, stated rather than hidden. The
    * oracle mirrors the deterministic banding bit-for-bit, so the check
    * is exact regardless of recall. */
  def embeddingLshPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = embCorpus(spark, dir)
    // one typed pass computes all 32 plane dots per vector and emits its
    // 16 (band, value) rows — as an unrolled column expression the same
    // 2048-term projection falls out of codegen and runs interpreted at
    // ~2.4 ms/row (measured; the sign bits are md5-plane dots exactly as
    // in the oracle, ascending-k like list_sum). Each (band, value)
    // bucket then verifies its OWN pairs with the fused-multiply-add
    // kernel. Verifying inside the bucket — before any dedup — means the
    // cosine filter runs while the pairs are still implicit (docs×bands
    // shuffle rows, never a pair table): only the few surviving near-dup
    // rows reach the cross-band distinct, vs deduping millions of
    // candidate slots first and shipping vectors to them through joins.
    // A pair sharing k bands is verified k times — 64 multiply-adds per
    // extra hit, orders of magnitude cheaper than the avoided exchanges.
    import spark.implicits._
    // the schedule reads the corpus size once (embCorpus is cached)
    val (bits, bands) = lshSchedule(e.count())
    // slice the plane matrix to the bands×bits rows the schedule uses
    // BEFORE the closure captures it: the full 1024×64 table is ~512 KB
    // serialized with every task, vs ~24 KB at the fixture schedule
    // (plane j is identical at any width, so the slice changes nothing)
    val pl = Similarity.planes.take(bands * bits)
    e.select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)]
      .flatMap { case (id, v, nrm) =>
        def planeDot(j: Int): Double = {
          val p = pl(j)
          var s = 0.0
          var k = 0
          while (k < 64) { s += v(k) * p(k); k += 1 }
          s
        }
        (0 until bands).map { b =>
          var bv = 0
          var t = 0
          while (t < bits) {
            if (planeDot(b * bits + t) >= 0) bv |= 1 << t
            t += 1
          }
          (b, bv, id, v, nrm)
        }
      }
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (_, it) =>
        // imperative kernel: 64 fused multiply-adds per pair, zero
        // allocation until the (rare) emit — iterator/tuple overhead on
        // millions of in-bucket pairs would cost 10× the arithmetic
        val m = it.toArray
        val n = m.length
        val ids = new Array[Long](n)
        val vs = new Array[Array[Double]](n)
        val ns = new Array[Double](n)
        var x = 0
        while (x < n) { ids(x) = m(x)._3; vs(x) = m(x)._4; ns(x) = m(x)._5; x += 1 }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            // fixed orientation (smaller vec_id first) so every band that
            // re-verifies a pair produces the bitwise-same double and the
            // cross-band distinct collapses them
            val ia = if (ids(i) < ids(j)) i else j
            val ib = if (ids(i) < ids(j)) j else i
            val a = vs(ia); val b = vs(ib)
            var dotSum = 0.0
            var k = 0
            while (k < a.length) { dotSum += a(k) * b(k); k += 1 }
            val cosine = dotSum / (ns(ia) * ns(ib))
            if (cosine >= 0.4) out += ((ids(ia), ids(ib), cosine))
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("vec_a", "vec_b", "cosine")
      .distinct()
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
  }

  val embeddingLshPairsSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      |  FROM embeddings),
      |sched AS (
      |  SELECT bits, least(64, 16 + 8 * (bits - 2)) AS bands
      |  FROM (SELECT coalesce(min(g.b), 16) AS bits
      |        FROM unnest(generate_series(2, 16)) AS g(b)
      |        WHERE (SELECT count(*) FROM e) <= 256 * (1::BIGINT << g.b))),
      |planes AS (
      |  SELECT j, list_transform(generate_series(0, 63),
      |           d -> ('0x' || substr(md5(j::VARCHAR || '_' || d::VARCHAR), 1, 8))::BIGINT
      |                  / 2147483648.0 - 1.0) AS h
      |  FROM unnest(generate_series(0, (SELECT bands * bits - 1 FROM sched))) AS t(j)),
      |signs AS (
      |  SELECT e.vec_id, p.j,
      |         CASE WHEN list_sum(list_transform(list_zip(e.v, p.h), q -> q[1] * q[2])) >= 0
      |              THEN 1 ELSE 0 END AS bit
      |  FROM e, planes p),
      |bands AS (
      |  SELECT vec_id, j // (SELECT bits FROM sched) AS band,
      |         sum(bit * (1::BIGINT << (j % (SELECT bits FROM sched)))) AS bv
      |  FROM signs GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b,
      |       round(list_sum(list_transform(list_zip(ea.v, eb.v), p -> p[1] * p[2])) /
      |             (ea.nrm * eb.nrm), 6) + 0 AS cosine
      |FROM cand
      |JOIN e ea ON ea.vec_id = vec_a
      |JOIN e eb ON eb.vec_id = vec_b
      |WHERE list_sum(list_transform(list_zip(ea.v, eb.v), p -> p[1] * p[2])) /
      |      (ea.nrm * eb.nrm) >= 0.4""".stripMargin

  val embeddingNearDupSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) /
      |             (a.nrm * b.nrm), 6) + 0 AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) /
      |      (a.nrm * b.nrm) >= 0.4""".stripMargin

  // ---------------------------------------------------------------- clusters
  /** Connected components over the near-dup pair graph — the keep-one
    * stage every dedup pipeline ends with (pairs alone don't say which
    * doc to drop when duplicates chain A≈B≈C). Shared component loop
    * ([[GraphOps.connectedComponents]]): min-label propagation with
    * pointer doubling, O(log diameter) rounds, and a loud failure on
    * non-convergence — chain-shaped template families deeper than any
    * round cap get an exception, never silently-split clusters.
    * Cluster id = min doc_id of the component. Oracle-checked against
    * the recursive-CTE transitive closure ([[dedupClustersSql]]); the
    * invariants (pairs co-clustered, label = component min) are also
    * spec-pinned.
    *
    * Memoized per (session, dir) via [[DirMemo]]: the labels are an
    * INDEX that multiple consumers read ([[Sampling.splitByCluster]],
    * [[dedupKeepBest]], the dedup keep-list) — the iterative loop runs
    * driver-side actions, so Spark's plan cache cannot deduplicate
    * repeat calls by itself. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    DirMemo.getOrCompute(spark, "clusters", dir)(computeClusters(spark, dir))

  private[graft] def computeClusters(spark: SparkSession, dir: String): DataFrame =
    // the shared min-label propagation loop (GraphOps.connectedComponents):
    // checkpointed state, label-sum convergence, small fixed partition
    // count because the pair graph is orders of magnitude smaller than
    // the corpus (only near-dups appear)
    GraphOps.connectedComponents(
        minhashLshPairs(spark, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))

  // ---------------------------------------------------------------- incremental
  /** Incremental ingest dedup — the shape a 100 TB pipeline actually
    * runs daily: a NEW batch (docs with doc_id % 10 == 7 stand in for
    * today's crawl) is deduplicated AGAINST the existing corpus, never
    * corpus × corpus. Exact phase: shuffle join on content hash (the
    * corpus hash index is too big to broadcast — this is the one join
    * here that must shuffle, on a high-entropy key). Near phase: MinHash
    * band join restricted to new × corpus (shuffle rows = docs × bands),
    * candidates verified by exact shingle-row Jaccard ≥ 0.5. Output is
    * one verdict row per new-batch doc: drop_exact / drop_near / keep.
    * In-batch duplication is the batch-local [[dedupExact]]/
    * [[minhashLshPairs]] run — out of scope here by design. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val isNew = col("doc_id") % 10 === 7
    val hashed = docs.withColumn("content_hash", md5(col("text").cast("binary")))
    val corpusHash = hashed.filter(!isNew)
      .groupBy(col("content_hash")).agg(min(col("doc_id")).as("exact_dup_of"))
    // signatures over raw docs (no rep-collapse: the batch must see every
    // corpus doc); the shared memoized shingle index serves the sig
    // build and the verify join
    val sh = shingleIndex(spark, dir)
    val hashedSh = sh.withColumn("h",
      conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10)
        .cast("long") % 1000000007L)
    val mins = (0 until 16).map(k =>
      min((col("h") + 1) * lit(1000003L + k * 99991L) % 2147483647L).as(s"m$k"))
    val sigs = hashedSh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until 16).map(k => col(s"m$k")): _*).as("minhash"))
    val bands = sigs.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(3)),
          b => struct(b.as("band"),
            (((element_at(col("minhash"), b * 4 + 1) * 31 +
               element_at(col("minhash"), b * 4 + 2)) * 31 +
               element_at(col("minhash"), b * 4 + 3)) * 31 +
               element_at(col("minhash"), b * 4 + 4)).as("bh"))))
          .as("bandrec"))
      .select(col("doc_id"), col("bandrec.band").as("band"), col("bandrec.bh").as("bh"))
    val cand = bands.filter(isNew).as("n")
      .join(bands.filter(!isNew).as("c"),
        col("n.band") === col("c.band") && col("n.bh") === col("c.bh"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val near = broadcast(cand)
      .join(sh.select(col("doc_id").as("new_id"), col("s")), "new_id")
      .join(sh.select(col("doc_id").as("corpus_id"), col("s")), Seq("corpus_id", "s"))
      .groupBy(col("new_id"), col("corpus_id")).agg(count(lit(1)).as("inter"))
      // sizes is corpus-sized — no broadcast hint (the aggregated pair
      // set above is the small side; AQE broadcasts it at runtime)
      .join(sizes.select(col("doc_id").as("new_id"), col("n").as("n_a")), "new_id")
      .join(sizes.select(col("doc_id").as("corpus_id"), col("n").as("n_b")), "corpus_id")
      .filter(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")) >= 0.5)
      .groupBy(col("new_id")).agg(min(col("corpus_id")).as("near_dup_of"))
    hashed.filter(isNew).select(col("doc_id"), col("content_hash"))
      .join(corpusHash, Seq("content_hash"), "left")
      .join(near.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup_of"), col("near_dup_of"),
        when(col("exact_dup_of").isNotNull, "drop_exact")
          .when(col("near_dup_of").isNotNull, "drop_near")
          .otherwise("keep").as("verdict"))
  }

  val dedupIncrementalSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokensSql AS ts FROM documents),
       |shs AS (
       |  SELECT doc_id, list_distinct($shinglesSql) AS sh FROM toks),
       |hs AS (
       |  SELECT doc_id, sh,
       |         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 1000000007) AS hs
       |  FROM shs WHERE len(sh) > 0),
       |sig AS (
       |  SELECT doc_id, sh,
       |    list_transform(generate_series(0, 15),
       |      k -> list_aggregate(list_transform(hs, h -> (h + 1) * (1000003 + k * 99991) % 2147483647),
       |                          'min')) AS minhash
       |  FROM hs),
       |bands AS (
       |  SELECT doc_id, b AS band,
       |         ((minhash[b*4+1] * 31 + minhash[b*4+2]) * 31 +
       |           minhash[b*4+3]) * 31 + minhash[b*4+4] AS bh
       |  FROM sig, unnest(generate_series(0, 3)) AS t(b)),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
       |  FROM bands n JOIN bands c ON n.band = c.band AND n.bh = c.bh
       |  WHERE n.doc_id % 10 = 7 AND c.doc_id % 10 <> 7),
       |near AS (
       |  SELECT new_id, min(corpus_id) AS near_dup_of
       |  FROM cand
       |  JOIN sig sn ON sn.doc_id = new_id
       |  JOIN sig sc ON sc.doc_id = corpus_id
       |  WHERE len(list_intersect(sn.sh, sc.sh)) * 1.0 /
       |        len(list_distinct(list_concat(sn.sh, sc.sh))) >= 0.5
       |  GROUP BY new_id),
       |corp AS (
       |  SELECT md5(text) AS content_hash, min(doc_id) AS exact_dup_of
       |  FROM documents WHERE doc_id % 10 <> 7 GROUP BY 1),
       |newdocs AS (
       |  SELECT doc_id, md5(text) AS content_hash FROM documents WHERE doc_id % 10 = 7)
       |SELECT n.doc_id, c.exact_dup_of, nr.near_dup_of,
       |  CASE WHEN c.exact_dup_of IS NOT NULL THEN 'drop_exact'
       |       WHEN nr.near_dup_of IS NOT NULL THEN 'drop_near'
       |       ELSE 'keep' END AS verdict
       |FROM newdocs n
       |LEFT JOIN corp c ON c.content_hash = n.content_hash
       |LEFT JOIN near nr ON nr.new_id = n.doc_id""".stripMargin

  // ---------------------------------------------------------------- containment
  /** Asymmetric near-dup via CONTAINMENT — |A∩B| / min(|A|,|B|) ≥ 0.8:
    * the quote/wrapper case (a small doc embedded in a larger one) that
    * Jaccard structurally misses (a 10-shingle doc inside a 200-shingle
    * doc has J ≈ 0.05) and that MinHash bands therefore cannot
    * candidate.
    *
    * Candidate generation is PREFIX FILTERING (the SSJoin family,
    * Chaudhuri et al. 2006): order shingles globally by (document
    * frequency, shingle) — rarest first — and index only each doc's
    * first floor(0.2·n)+1 shingles. Pigeonhole: a contained doc has at
    * most floor(0.2·n) shingles outside the intersection, so at least
    * one PREFIX shingle lands in it → joining prefixes against full
    * shingle rows is lossless for the 0.8 threshold; requiring the
    * prefix side to be the smaller doc (n_p ≤ n_f) is also lossless
    * because the pigeonhole applies to the doc whose size sets
    * min(|A|,|B|). Prefix shingles are rare by construction, so the
    * per-shingle join fan-out stays bounded even when boilerplate
    * shingles are corpus-wide — the reason this scales where a raw
    * shingle self-join explodes.
    *
    * Per-doc state (size, df-ordered prefix, sorted full shingle set)
    * is built in ONE hash aggregation over the cached shingle rows —
    * a window-rank formulation costs the same information two extra
    * shuffles — and the exact verify is the codegen'd
    * [[graft.functions.IntersectCount]] two-pointer merge over the two
    * SORTED arrays per candidate pair (O(n_a+n_b) comparisons, zero
    * allocation — `size(array_intersect(..))` builds a hash set plus the
    * intersection array per pair), not a candidate×shingle row explosion:
    * verifying 150k candidates of ~100 shingles each touches 300k array
    * cells where the row-join form shuffles 14M rows. Measured at sf0.1:
    * 9.1 s → 3.8 s warm (array kernel), → see BENCH for the merge kernel.
    * (Building arrays from the cached EXPLODED rows sidesteps the
    * CollapseProject re-evaluation trap documented at
    * [[shingleRows]].) */
  /** Memoized per (session, dir): the pair set is read by the
    * registered `dedup_containment` query AND [[dedupFunnel]]'s stage-4
    * drop count — without the memo the second consumer re-pays the
    * whole prefix-filter candidate pipeline. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    // localCheckpoint, not cache: the candidate pipeline's LOGICAL plan
    // (shingle explode + prefix bands + codegen'd intersect) is big
    // enough that Catalyst re-optimizing it per consumer action costs
    // ~2 s before the cache is even substituted; a LogicalRDD plans in
    // microseconds and the pair set is tiny relative to the corpus
    DirMemo.getOrCompute(spark, "containment", dir)(
      containmentPairsImpl(spark, dir).localCheckpoint())

  private[graft] def containmentPairsImpl(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark) // graft_intersect_count
    // r16: this query's s⋈df join evaluates the document-frequency
    // join + the per-doc collect_list partials on byte-tiny rows — AQE
    // coalesced that stage to ONE task (PhaseProbe: 1t/0.9s of a 2.0 s
    // query). Spreading THIS QUERY's read of the shared shingle memo
    // on the join key pins the co-partitioned df build and join at
    // cluster width (the r15 negative result spread the MEMO itself,
    // which regressed its many light consumers; this is local).
    val reps = shingleReps(spark, dir)
    val s = reps.repartition(graft.util.Spread.width(reps), col("s"))
    // df is shingle-vocab-sized and distinct shingles grow ~linearly
    // with the corpus (unlike a word vocab, 5-gram shingles never
    // saturate) — a broadcast hint here is the bigram-table OOM failure
    // mode; the shuffle hash join on s is the scale-safe shape
    val df = s.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // r16: the per-doc state build (collect_list merge + sort_array +
    // two array transforms) is CPU-dense on byte-tiny rows, so AQE
    // coalesced the aggregate's final stage to ONE task (PhaseProbe:
    // 1t/0.9s of a 2.0 s query). Repartitioning on doc_id BEFORE the
    // groupBy lets the aggregate REUSE the explicit exchange (§2.4 —
    // ClusteredDistribution(doc_id) is satisfied, no new exchange),
    // and a REPARTITION_BY_NUM reader is exempt from AQE coalescing,
    // so the final agg, the array building, and the cache all run at
    // cluster width.
    val joined = s.join(df, "s")
    val docs = joined
      .repartition(graft.util.Spread.width(joined), col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("by_df"),
        count(lit(1)).as("n"))
      .withColumn("prefix", transform(
        slice(col("by_df"), lit(1), (floor(col("n") * 0.2) + 1).cast("int")),
        x => x("s")))
      .withColumn("arr", array_sort(transform(col("by_df"), x => x("s"))))
      .drop("by_df")
      .cacheOnce()
    val prefix = docs.select(col("doc_id").as("pa"), col("n").as("n_p"),
      explode(col("prefix")).as("s"))
    // docs is corpus-sized (one row per doc carrying the full sorted
    // shingle array) — broadcast hints on it would ship the whole
    // corpus to every executor; the small sides are the prefix rows
    // (candidate join) and the candidate pair set (verify joins), and
    // AQE broadcasts the right side at runtime. The full shingle rows
    // re-explode from the cached docs arrays — one Generate over the
    // cache instead of a corpus-shuffle join against a sizes table.
    val full = docs.select(col("doc_id").as("pb"), col("n").as("n_f"),
      explode(col("arr")).as("s"))
    // r16: the candidate dedup feeds the verify joins as a BROADCAST
    // build, and its final HashAggregate read an AQE-coalesced
    // exchange — the whole distinct ran as ONE task inside the
    // broadcast-build job. Same §2.4 exchange-sharing pin as the docs
    // aggregate above: distinct's ClusteredDistribution(doc_a, doc_b)
    // is satisfied by the explicit repartition, whose reader AQE
    // cannot coalesce.
    val cand0 = prefix.join(full, "s")
      .filter(col("pa") =!= col("pb") && col("n_p") <= col("n_f"))
      .select(least(col("pa"), col("pb")).as("doc_a"),
        greatest(col("pa"), col("pb")).as("doc_b"))
    val cand = cand0
      .repartition(graft.util.Spread.width(cand0), col("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"),
        col("arr").as("arr_a"), col("n").as("n_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"),
        col("arr").as("arr_b"), col("n").as("n_b")), "doc_b")
      .withColumn("inter",
        graft.functions.GraftFunctions.intersectCount(col("arr_a"), col("arr_b")))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= 0.8)
      .select(col("doc_a"), col("doc_b"),
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_doc"),
        round(col("containment"), 6).as("containment"),
        round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 6).as("jaccard"))
  }

  val containmentPairsSql: String =
    s"""WITH reps AS (
        |  SELECT min(doc_id) AS doc_id, text
        |  FROM documents GROUP BY text),
        |toks AS (
        |  SELECT doc_id, $tokensSql AS ts FROM reps),
        |srows AS (
        |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS s FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM srows GROUP BY doc_id),
        |dfreq AS (SELECT s, count(*) AS df FROM srows GROUP BY s),
        |ranked AS (
        |  SELECT r.doc_id, r.s,
        |         row_number() OVER (PARTITION BY r.doc_id ORDER BY d.df, r.s) AS rk,
        |         z.n
        |  FROM srows r JOIN dfreq d USING (s) JOIN sizes z USING (doc_id)),
        |cand AS (
        |  SELECT DISTINCT least(p.doc_id, f.doc_id) AS doc_a,
        |                  greatest(p.doc_id, f.doc_id) AS doc_b
        |  FROM ranked p JOIN srows f USING (s)
        |  WHERE p.rk <= CAST(floor(p.n * 0.2) AS BIGINT) + 1 AND p.doc_id <> f.doc_id),
        |inter AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS i
        |  FROM cand c
        |  JOIN srows sa ON sa.doc_id = c.doc_a
        |  JOIN srows sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
        |  GROUP BY c.doc_a, c.doc_b)
        |SELECT i.doc_a, i.doc_b,
        |       CASE WHEN za.n <= zb.n THEN i.doc_a ELSE i.doc_b END AS contained_doc,
        |       round(i.i * 1.0 / least(za.n, zb.n), 6) + 0 AS containment,
        |       round(i.i * 1.0 / (za.n + zb.n - i.i), 6) + 0 AS jaccard
        |FROM inter i
        |JOIN sizes za ON za.doc_id = i.doc_a
        |JOIN sizes zb ON zb.doc_id = i.doc_b
        |WHERE i.i * 1.0 / least(za.n, zb.n) >= 0.8""".stripMargin

  /** CTE list computing the near-dup connected components in DuckDB —
    * transitive closure over the LSH pair graph (tiny: only near-dups
    * appear), min-id labeling. Shared by the `dedup_clusters` /
    * `dedup_keep_best` oracles and Sampling's `split_by_cluster`. Must
    * be opened with WITH RECURSIVE. */
  val connectedComponentsCte: String =
    s"""pairs AS (
       |$minhashLshPairsSql
       |),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b),
       |cc AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $connectedComponentsCte
       |SELECT doc_id, cluster_id FROM cc""".stripMargin

  // ---------------------------------------------------------------- paragraphs
  /** Paragraph-level exact dedup (the Dolma/CCNet line-dedup stage):
    * repeated content is removed at sub-document granularity, so a doc
    * that quotes another wholesale keeps only its novel spans. The
    * corpus fixture has no newlines, so a "paragraph" is a 10-token
    * chunk — the plan is delimiter-agnostic (swap the chunker for
    * `split(text, "\n")` on real corpora, everything downstream is
    * identical).
    *
    * Keep-first policy: a chunk survives only at its globally first
    * occurrence (min doc_id, then min position — also kills in-doc
    * repetition). One shuffle on the chunk hash (row_number per chunk),
    * one per-doc reassembly aggregate; at 100 TB both keys are
    * high-entropy, and a skewed boilerplate chunk degrades into a single
    * hot window partition that AQE splits. */
  def dedupParagraphs(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0), (ceil(size(col("ts")) / lit(10.0)) - 1).cast("int")),
          i => concat_ws(" ", slice(col("ts"), i * 10 + 1, lit(10)))))
        .as(Seq("chunk_idx", "chunk")))
    val rk = row_number().over(
      Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("chunk_idx")))
    chunks.withColumn("rk", rk)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rk") > 1, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("rk") === 1,
            struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk"))).as("clean_text"))
  }

  val dedupParagraphsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, $tokensSql AS ts FROM documents),
       |c AS (
       |  SELECT doc_id, i AS chunk_idx,
       |         array_to_string(ts[(i*10+1):(i*10+10)], ' ') AS chunk
       |  FROM t, unnest(generate_series(0, CAST(ceil(len(ts)/10.0) AS BIGINT) - 1)) AS g(i)),
       |k AS (
       |  SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rk
       |  FROM c)
       |SELECT doc_id, count(*) AS n_chunks,
       |       CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE rk = 1), '')
       |         AS clean_text
       |FROM k GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- keep-best
  /** Cluster resolution by QUALITY, not id: per near-dup cluster
    * ([[dedupClusters]]; singletons are their own cluster), keep the
    * member with the highest [[TextAnalysis.qualityScoreCol]] — what
    * production dedup actually ships (min-id keeps an arbitrary copy;
    * keep-best retains the cleanest). Scores are rounded to 6 BEFORE
    * ranking so both engines rank identical values; ties break on
    * doc_id. Cost over [[dedupClusters]]: one scoring map + one window
    * over cluster_key. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val labels = dedupClusters(spark, dir)
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        round(TextAnalysis.qualityScoreCol, 6).as("quality_score"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_key", coalesce(col("cluster_id"), col("doc_id")))
    scored.select(
      col("doc_id"), col("cluster_key"), col("quality_score"),
      (row_number().over(Window.partitionBy(col("cluster_key"))
        .orderBy(col("quality_score").desc, col("doc_id"))) === 1).as("keep"))
  }

  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE $connectedComponentsCte,
       |${TextAnalysis.qualityCtes},
       |scored AS (
       |  SELECT d.doc_id,
       |         coalesce(c.cluster_id, d.doc_id) AS cluster_key,
       |         round(q.score, 6) + 0 AS quality_score
       |  FROM documents d
       |  LEFT JOIN cc c USING (doc_id)
       |  JOIN qs q USING (doc_id))
       |SELECT doc_id, cluster_key, quality_score,
       |       row_number() OVER (PARTITION BY cluster_key
       |                          ORDER BY quality_score DESC, doc_id) = 1 AS keep
       |FROM scored""".stripMargin

  // ---------------------------------------------------------------- semantic
  /** SemDeDup (Abbas et al. 2023): semantic dedup via embedding
    * clustering — vectors are assigned to their nearest coarse centroid
    * ([[Similarity.annIvfAssign]]'s inverted-file shape) and near-dup
    * pairs are searched ONLY within a centroid's list, turning the n²
    * all-pairs scan into k·(n/k)² — the approximation the paper makes at
    * scale (cross-centroid dups are missed by design; the centroid count
    * trades recall for cost). Within a list: exact cosine ≥ 0.4 via the
    * codegen'd dot, drop the higher id, report who shadowed it.
    *
    * The coarse-centroid count is CORPUS-SIZE-ADAPTIVE
    * ([[Similarity.ivfSchedule]]: k = smallest power of two in
    * [16, 2^20] with n ≤ 256·k) — the round-7 sf10 audit flagged the
    * previous FIXED k = 16 as the same defect class as the fixed-band
    * LSH it caught (in-list pair work n²/16 — 1.2e9 pairs at 200k
    * vectors); under the schedule the expected list length stays ≤ 256
    * so in-list pair work tracks n·256. The oracle derives the same k
    * from the same count in the same integer arithmetic
    * ([[Similarity.ivfSchedCte]]), and fixture SFs resolve to the
    * k = 16 floor, so gate outputs there are unchanged. The residual
    * trade (brute n×k assignment, ≈ n²/256 multiply-adds, two-level
    * routing at n ≥ ~100M) is stated on the schedule's scaladoc. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.vecDouble(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val assign = Similarity.annIvfAssign(spark, dir)
      .select(col("vec_id"), col("centroid_id"))
    val av = assign.join(e, "vec_id").cacheOnce()
    val a = av.select(col("centroid_id"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = av.select(col("centroid_id"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dups = a.join(b, "centroid_id")
      .filter(col("vec_a") < col("vec_b"))
      .filter(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")) >= 0.4)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"))
    assign.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  val dedupSemanticSql: String =
    s"""WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      |  FROM embeddings),
      |${Similarity.ivfSchedCte},
      |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < (SELECT k FROM isched)),
      |dists AS (
      |  SELECT e.vec_id, c.cid,
      |         list_sum(list_transform(list_zip(e.v, c.cv),
      |                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
      |  FROM e CROSS JOIN cents c),
      |assign AS (
      |  SELECT vec_id, cid
      |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
      |        FROM dists)
      |  WHERE rk = 1),
      |av AS (SELECT a.vec_id, a.cid, e.v, e.nrm FROM assign a JOIN e USING (vec_id)),
      |pairs AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) /
      |        (a.nrm * b.nrm) >= 0.4),
      |dups AS (SELECT vec_b AS vec_id, min(vec_a) AS dup_of FROM pairs GROUP BY vec_b)
      |SELECT a.vec_id, a.cid AS centroid_id, d.dup_of, d.dup_of IS NULL AS keep
      |FROM assign a LEFT JOIN dups d USING (vec_id)""".stripMargin

  // ---------------------------------------------------------------- funnel
  /** The DEDUP FUNNEL report — stage-by-stage survivor counts through
    * exact → near-dup (MinHash CC, keep-min) → containment (drop the
    * contained doc), the summary every dedup pipeline publishes with a
    * release. Each stage's drop set is computed against the PREVIOUS
    * stage's survivors (a containment pair whose contained member was
    * already dropped by its cluster doesn't double-count). Four one-row
    * aggregates stacked — nothing here is bigger than the pair/cluster
    * sets the stages already compute, and all of those are memoized. */
  def dedupFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nRaw = docs.agg(count(lit(1)).as("n_raw"))
    val nExact = docs.agg(
      countDistinct(md5(col("text").cast("binary"))).as("n_exact"))
    val ccDropped = dedupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    val nCc = ccDropped.agg(count(lit(1)).as("n_cc_dropped"))
    val contExtra = containmentPairs(spark, dir)
      .select(col("contained_doc").as("doc_id")).distinct()
      .join(ccDropped, Seq("doc_id"), "left_anti")
    val nCont = contExtra.agg(count(lit(1)).as("n_cont_dropped"))
    nRaw.crossJoin(nExact).crossJoin(nCc).crossJoin(nCont)
      .selectExpr(
        """stack(4,
          |  1, 'raw',         n_raw,                     0L,
          |  2, 'exact',       n_exact,                   n_raw - n_exact,
          |  3, 'near_dup',    n_exact - n_cc_dropped,    n_cc_dropped,
          |  4, 'containment', n_exact - n_cc_dropped - n_cont_dropped, n_cont_dropped
          |) AS (stage, stage_name, docs_remaining, docs_dropped)""".stripMargin)
  }

  val dedupFunnelSql: String =
    s"""WITH RECURSIVE $connectedComponentsCte,
       |nraw AS (SELECT count(*) AS n FROM documents),
       |nexact AS (SELECT count(DISTINCT md5(text)) AS n FROM documents),
       |ccdrop AS (SELECT doc_id FROM cc WHERE doc_id <> cluster_id),
       |ncc AS (SELECT count(*) AS n FROM ccdrop),
       |contdrop AS (
       |  SELECT DISTINCT contained_doc AS doc_id FROM ($containmentPairsSql)
       |  WHERE contained_doc NOT IN (SELECT doc_id FROM ccdrop)),
       |ncont AS (SELECT count(*) AS n FROM contdrop)
       |SELECT 1 AS stage, 'raw' AS stage_name,
       |       CAST(nraw.n AS BIGINT) AS docs_remaining, 0::BIGINT AS docs_dropped
       |FROM nraw
       |UNION ALL SELECT 2, 'exact', nexact.n, nraw.n - nexact.n
       |FROM nraw, nexact
       |UNION ALL SELECT 3, 'near_dup', nexact.n - ncc.n, ncc.n
       |FROM nexact, ncc
       |UNION ALL SELECT 4, 'containment', nexact.n - ncc.n - ncont.n, ncont.n
       |FROM nexact, ncc, ncont""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_funnel"         -> (dedupFunnel _),
    "dedup_incremental"    -> (dedupIncremental _),
    "dedup_clusters"       -> (dedupClusters _),
    "dedup_paragraphs"     -> (dedupParagraphs _),
    "dedup_containment"    -> (containmentPairs _),
    "dedup_keep_best"      -> (dedupKeepBest _),
    "dedup_semantic"       -> (dedupSemantic _),
    "dedup_exact"          -> (dedupExact _),
    "dedup_minhash_sig"    -> (minhashSignatures _),
    "dedup_minhash_lsh"    -> (minhashLshPairs _),
    "dedup_simhash"        -> (simhash _),
    "dedup_simhash_pairs"  -> (simhashPairs _),
    "dedup_ngram_jaccard"  -> (ngramJaccardPairs _),
    "dedup_embedding_cos"  -> (embeddingNearDup _),
    "dedup_embedding_lsh"  -> (embeddingLshPairs _),
    "decontam_minhash"     -> (decontamMinhash _))

  def oracles: Map[String, String] = Map(
    "dedup_incremental"    -> dedupIncrementalSql,
    "dedup_funnel"         -> dedupFunnelSql,
    "dedup_clusters"       -> dedupClustersSql,
    "dedup_paragraphs"     -> dedupParagraphsSql,
    "dedup_containment"    -> containmentPairsSql,
    "dedup_keep_best"      -> dedupKeepBestSql,
    "dedup_semantic"       -> dedupSemanticSql,
    "dedup_exact"          -> dedupExactSql,
    "dedup_minhash_sig"    -> minhashSignaturesSql,
    "dedup_minhash_lsh"    -> minhashLshPairsSql,
    "dedup_simhash"        -> simhashSql,
    "dedup_simhash_pairs"  -> simhashPairsSql,
    "dedup_ngram_jaccard"  -> ngramJaccardSql,
    "dedup_embedding_cos"  -> embeddingNearDupSql,
    "dedup_embedding_lsh"  -> embeddingLshPairsSql,
    "decontam_minhash"     -> decontamMinhashSql)
}
