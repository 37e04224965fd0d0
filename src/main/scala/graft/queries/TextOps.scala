package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{CompileFree, Tables}
import graft.core.Tables._
import graft.functions.{NativeHashes => NH, NativeText => NT, Rounding => R, TextFunctions => TF, VectorOps => V}

/** Training-data pipeline operators over `documents` and `embeddings`:
  * deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard), text
  * analysis (token stats, quality scoring, language profiling,
  * fingerprinting) and similarity search (brute-force cosine top-k).
  *
  * Scale notes are inline — these are the operators that must survive
  * 100 TB: everything is a distributed scan + hash-shuffle on a derived
  * key; no driver-side loops, no cross join of the full corpus.
  */
object TextOps {

  private val Stopwords = Seq("the", "a")

  // ---------------------------------------------------------------- t01
  /** Exact dedup via content hash (hash-groupBy): one scan, shuffle on the
    * 128-bit digest only. `keep_id` = min doc_id is the canonical survivor —
    * deterministic under re-runs.
    */
  def t01DedupExact(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("content_hash"))

  val t01Sql: String =
    """SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY content_hash""".stripMargin

  // ---------------------------------------------------------------- t02
  /** Per-document token/quality metrics: token count, stopword ratio,
    * punctuation density, mean token length. Single narrow projection —
    * all codegen'd string ops, no shuffle at all.
    */
  def t02TokenStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      // materialize intermediate columns: multiple references to a column
      // attribute are free; multiple inline copies of the tokenizer are not
      .select(col("doc_id"), col("lang"), col("n_chars"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(col("toks")).as("n_tokens"),
        TF.stopwordCount(col("toks"), Stopwords).as("n_stopwords"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_stopwords"),
        round(col("n_stopwords").cast("double") / col("n_tokens"), 4).as("stopword_ratio"),
        round(col("n_chars").cast("double") / col("n_tokens"), 2).as("avg_token_len"))
      .orderBy(col("doc_id"))

  val t02Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
      |  FROM documents)
      |SELECT doc_id, lang,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS INT) AS n_stopwords,
      |  round(len(list_filter(toks, x -> x IN ('the', 'a'))) * 1.0 / len(toks), 4) AS stopword_ratio,
      |  round(n_chars * 1.0 / len(toks), 2) AS avg_token_len
      |FROM t
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t03
  /** Corpus profile per (lang, source): counts and average length — the
    * grouping a filtering/curation pipeline reports on.
    */
  def t03LangProfile(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
           round(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy(col("lang"), col("source"))

  val t03Sql: String =
    """SELECT lang, source, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- t04
  /** Token histogram via explode (the reference's only generator-shaped op,
    * T7 answers-explode, re-expressed): top-20 tokens. At scale this is a
    * classic map-side-combine aggregation; the explode never materializes —
    * it streams straight into the partial hash agg.
    */
  def t04TokenHistogram(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  val t04Sql: String =
    """SELECT token, count(*) AS n
      |FROM (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS token
      |      FROM documents)
      |GROUP BY token
      |ORDER BY n DESC, token
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- t05
  /** Embedding column statistics per label: count + mean L2 norm. The norm
    * is a sequential double fold (VectorOps) so any engine reproducing the
    * same fold order gets bit-identical sums.
    */
  def t05EmbedStats(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("label"), V.norm(V.toDouble(col("embedding"))).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), round(avg(col("nrm")), 4).as("avg_norm"))
      .orderBy(col("label"))

  val t05Sql: String =
    """SELECT label, count(*) AS n_vecs,
      |  round(avg(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))), 4) AS avg_norm
      |FROM embeddings
      |GROUP BY label
      |ORDER BY label""".stripMargin

  // ------------------------------------------------- minhash/LSH shared
  // Configuration shared by t06/t08/t13 AND their generated oracle SQL:
  // 16-slot MinHash signatures over md5-derived shingle hashes (the
  // md5 base hash is what makes every value reproducible in DuckDB),
  // 4 bands of 4, band-bucket cap 1000, candidate threshold 0.5.
  private val NumHashes = 16
  private val Bands = 4
  private val RowsPerBand = NumHashes / Bands
  private[graft] val MaxBucket = 1000

  /** The skew guard every banded self-join must pass through (t06 minhash,
    * t07 simhash, the Curation pipeline's near-dup stage): drop band
    * buckets holding more than `maxBucket` docs BEFORE the a⋈b self-join.
    * A boilerplate-heavy corpus can put thousands of documents in one
    * bucket and make that bucket's join quadratic at 100 TB; oversized
    * buckets are boilerplate collisions, not near-duplicates worth
    * pairing. One implementation so no caller can forget the cap.
    */
  private[graft] def capBuckets(banded: DataFrame, maxBucket: Int = MaxBucket,
                                keys: Seq[String] = Seq("band", "band_key")): DataFrame =
    banded
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
  private[graft] val MinJaccard = 0.5
  private val P = 2147483647L // MinHash family modulus (2^31 - 1)
  private val FpP = 1000000007L // rolling-fingerprint modulus

  /** doc_id + md5 shingle hashes (mod p): one corpus scan, one native
    * expression per row (the composed HOF chain re-evaluates the tokenizer
    * per lambda element — 90s vs <1s at sf0.1).
    */
  private def shingledOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), NT.md5ShingleHashes(col("text"), 3).as("hs"))
      .filter(size(col("hs")) > 0)

  private def shingled(s: SparkSession, dir: String): DataFrame =
    shingledOf(documents(s, dir))

  /** MinHash-LSH candidate pairs (doc_a < doc_b, est_jaccard ≥ 0.5),
    * cached per (session, corpus) so t06/t08/t13 share ONE LSH pass per
    * run instead of each re-shuffling the banded self-join.
    *
    * Pipeline: 3-token shingles → 16-slot MinHash signature → 4 bands of 4
    * → explode band keys → self-join per bucket → estimated Jaccard filter.
    * At 100 TB this is THE scalable near-dup algorithm: cost is one shuffle
    * on band keys; only colliding docs are ever paired.
    */
  private val pairCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, DataFrame)]

  /** Cache-invalidation stamp: the corpus table's per-file name/length/
    * mtime listing (Tables.contentStamp) — a rewritten corpus at the same
    * dir must not serve pre-rewrite pairs, including on object stores
    * where bare directory mtimes are synthetic.
    */
  private def docsStamp(s: SparkSession, dir: String): String =
    Tables.contentStamp(s, s"$dir/documents.parquet")

  /** The LSH pipeline over an arbitrary (doc_id, text) frame — also the
    * spec hook for cap/skew behavior on synthetic corpora.
    */
  /** One row per (doc_id, band) with the full 16-slot MinHash signature
    * and the band's key — the frame every LSH consumer self-joins on, and
    * the row set [[BandIndex]] persists so an ingest batch can probe the
    * settled corpus's buckets without re-banding it.
    */
  private[graft] def bandedSigsOf(docs: DataFrame): DataFrame =
    shingledOf(docs)
      .select(col("doc_id"), NH.minhashSignature(col("hs"), NumHashes).as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(TF.bandKeys(col("sig"), Bands, RowsPerBand)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))

  def minhashPairsOf(docs: DataFrame, maxBucket: Int = MaxBucket): DataFrame = {
    val bounded = capBuckets(bandedSigsOf(docs), maxBucket)
    val a = bounded.select(col("band"), col("band_key"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = bounded.select(col("band"), col("band_key"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    // shuffle-hash PINNED (same reasoning as t15's narrow probe): the
    // banded frame's true size is bands × n rows, invisible to the
    // planner through Generate, so it elects one corpus-sized side for a
    // BroadcastExchange — fine at test scale, OOM one or two decades up.
    // Both sides already hash-partition on (band, band_key) for the
    // capBuckets window, so the pinned join adds ZERO new shuffle, and
    // the cap bounds every build group at maxBucket rows.
    a.hint("shuffle_hash").join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(TF.estJaccard(col("sig_a"), col("sig_b")), 4).as("est_jaccard"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
      .filter(col("est_jaccard") >= MinJaccard)
  }

  /** Drop every cached LSH pair frame. Bench hook: with per-query
    * best-of-two timing, a second run hitting the persisted pair frame
    * would measure an in-memory cache scan instead of the LSH pipeline —
    * invalidating before each measured run keeps the t06/t08/t13 numbers
    * honest (production runs share the pass by design; the bench reports
    * each operator cold).
    */
  def invalidatePairCache(): Unit = {
    // a frame cached under a since-stopped session throws from unpersist
    // (stopped RpcEnv) — that entry needs no unpersist at all, and one
    // bad entry must not abort the sweep before clear()
    def sweep(dfs: Iterable[(String, DataFrame)]): Unit = dfs.foreach { case (_, df) =>
      try { if (!df.sparkSession.sparkContext.isStopped) df.unpersist(false) }
      catch { case _: IllegalStateException => () }
    }
    sweep(pairCache.values)
    pairCache.clear()
    sweep(cosinePairCache.values)
    cosinePairCache.clear()
  }

  /** One cosine near-dup pass per (corpus, dial), shared by t15 and t34 —
    * the embedding-space analog of [[minhashCandidatePairs]]: a driver
    * pass running both queries pays the LSH bucket join + cosine verify
    * ONCE. Same staleness protocol (embeddings content stamp) and the
    * same [[invalidatePairCache]] bench hook, so per-query bench numbers
    * stay cold/honest.
    */
  private val cosinePairCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int, Int, Int), (String, DataFrame)]

  def cosineCandidatePairs(s: SparkSession, dir: String,
                           bits: Int = Lsh.Bits, radius: Int = Lsh.PolicyRadius,
                           maxBucket: Int = EmbBucketCap): DataFrame = {
    // resolve the sentinel BEFORE the cache key, so a policy-defaulted
    // call and an explicit call at the same resolved radius share one
    // pinned frame
    val rr = Lsh.resolveRadius(bits, radius, PairRadius)
    cosinePairCache.filterInPlace { case ((sess, _, _, _, _), _) => !sess.sparkContext.isStopped }
    val mt = Tables.contentStamp(s, s"$dir/embeddings.parquet")
    val key = (s, dir, bits, rr, maxBucket)
    cosinePairCache.get(key) match {
      case Some((`mt`, df)) => df
      case _ =>
        // the miss path re-checks under the cache's lock: the bare
        // check-then-act let two concurrent callers both persist(), and
        // the loser's pinned frame (the full cosine pair set) leaked
        // executor storage with no owner until invalidatePairCache. Only
        // plan construction + the persist MARK happen under the lock —
        // no Spark job runs here.
        cosinePairCache.synchronized {
          cosinePairCache.get(key) match {
            case Some((`mt`, df)) => df
            case stale =>
              stale.foreach { case (_, old) => old.unpersist(false) }
              val fresh = t15CosineNearDup(s, dir, bits, rr, maxBucket = maxBucket).persist()
              cosinePairCache.put(key, (mt, fresh))
              fresh
          }
        }
    }
  }

  def minhashCandidatePairs(s: SparkSession, dir: String): DataFrame = {
    // sweep entries of stopped sessions — cached plans hold session refs,
    // and a long-lived JVM cycling sessions would otherwise leak them
    pairCache.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
    val mt = docsStamp(s, dir)
    pairCache.get((s, dir)) match {
      case Some((`mt`, df)) => df
      case _ =>
        // same synchronized re-check as cosineCandidatePairs: the miss
        // path must not double-persist under concurrency
        pairCache.synchronized {
          pairCache.get((s, dir)) match {
            case Some((`mt`, df)) => df
            case stale =>
              stale.foreach { case (_, old) => old.unpersist(false) }
              val fresh = minhashPairsOf(documents(s, dir)).persist()
              pairCache.put((s, dir), (mt, fresh))
              fresh
          }
        }
    }
  }

  // -------------------------------------------- shared oracle SQL pieces
  // The whole dedup family is replayed in DuckDB: md5-60bit base hash,
  // the (a_i, b_i) MinHash constants inlined from the same
  // TextFunctions.minhashParamsFor the Spark side uses, banding by slot
  // equality, the same bucket cap. est_jaccard is k/16 — an exact binary
  // fraction, so the float compare is bit-safe.

  /** md5-derived 60-bit bigint of a string expression (DuckDB side). */
  private def md5l(x: String): String =
    s"CAST(('0x' || substring(md5($x), 1, 15)) AS BIGINT)"

  private val toksCte =
    """tk AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS toks
      |  FROM documents)""".stripMargin

  private[graft] def shingleCtes: String =
    s"""$toksCte,
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks)-2),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
       |  FROM tk WHERE len(toks) >= 3),
       |hs AS (
       |  SELECT doc_id, list_transform(shs, x -> ${md5l("x")} % $P) AS hs
       |  FROM sh)""".stripMargin

  private def sigCte: String = sigCteFrom("hs")

  /** The 16-slot signature CTE over any (doc_id, hs) source — shared with
    * the Curation audit oracle, whose signatures run over the exact-stage
    * SURVIVORS rather than the whole corpus.
    */
  private[graft] def sigCteFrom(src: String): String = {
    val slots = TF.minhashParamsFor(NumHashes).zipWithIndex.map {
      case ((a, b), i) =>
        s"list_min(list_transform(hs, h -> ($a * h + $b) % $P)) AS s$i"
    }.mkString(",\n    ")
    s"sig AS (\n  SELECT doc_id,\n    $slots\n  FROM $src)"
  }

  private[graft] def candPairCtes: String = {
    val bandCase = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"s${b * RowsPerBand + r}").mkString(" || '_' || ")
      s"WHEN $b THEN $key"
    }.mkString("CASE band ", " ", " END")
    val eqSum = (0 until NumHashes).map(i => s"(sa.s$i = sb.s$i)::INT").mkString(" + ")
    s"""banded AS (
       |  SELECT doc_id, band, $bandCase AS band_key
       |  FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)),
       |bounded AS (
       |  SELECT doc_id, band, band_key FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bn FROM banded)
       |  WHERE bn <= $MaxBucket),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bounded a JOIN bounded b USING (band, band_key)
       |  WHERE a.doc_id < b.doc_id),
       |est AS (
       |  SELECT doc_a, doc_b, round(($eqSum) / $NumHashes.0, 4) AS est_jaccard
       |  FROM pairs
       |  JOIN sig sa ON sa.doc_id = pairs.doc_a
       |  JOIN sig sb ON sb.doc_id = pairs.doc_b)""".stripMargin
  }

  // ---------------------------------------------------------------- t06
  /** MinHash + LSH near-duplicate candidates — see
    * [[minhashCandidatePairs]] for the pipeline; this entry only adds the
    * presentation ordering. Oracle-checked: the DuckDB SQL replays the
    * full md5→minhash→band→cap→pair pipeline with the same constants.
    */
  def t06MinhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashCandidatePairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  lazy val t06Sql: String =
    s"""WITH $shingleCtes,
       |$sigCte,
       |$candPairCtes
       |SELECT doc_a, doc_b, est_jaccard FROM est
       |WHERE est_jaccard >= $MinJaccard ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- t07
  /** SimHash near-duplicate pairs (oracle-checked). 63-bit token-level
    * SimHash over md5-60bit token hashes; candidate generation by 4 ×
    * 16-bit band equality (pigeonhole: hamming ≤ 3 ⇒ at least one band
    * equal), verified by bit_count(xor). Band buckets carry the same cap
    * as t06 — a boilerplate corpus would otherwise make one bucket
    * quadratic.
    */
  def simhashPairsOf(docs: DataFrame, maxBucket: Int = MaxBucket): DataFrame = {
    val sims = docs
      .select(col("doc_id"), NT.md5TokenHashes(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), NH.simhash63(col("hs")).as("simhash"))
    val banded = sims.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          (shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL))).as("band_key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.band_key"))
    val capped = capBuckets(banded, maxBucket)
    val a = capped.select(col("band"), col("band_key"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = capped.select(col("band"), col("band_key"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    // shuffle-hash PINNED — see minhashPairsOf: banded self-joins never
    // broadcast a corpus-derived side; partitioning from the cap window
    // is reused, so no new exchange appears.
    a.hint("shuffle_hash").join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def t07SimhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairsOf(documents(s, dir))

  lazy val t07Sql: String =
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM tk WHERE len(toks) >= 1),
       |h AS (SELECT doc_id, ${md5l("t")} AS h FROM tok),
       |bits AS (
       |  SELECT doc_id, b, sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 62)) AS b)
       |  GROUP BY doc_id, b),
       |sim AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, simhash, band, (simhash >> (16 * band)) & 65535 AS band_key
       |  FROM sim CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)),
       |bounded AS (
       |  SELECT doc_id, simhash, band, band_key FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bn FROM banded)
       |  WHERE bn <= $MaxBucket),
       |prs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM bounded a JOIN bounded b USING (band, band_key)
       |  WHERE a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM prs WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- t08
  /** Exact n-gram Jaccard over candidate pairs (oracle-checked): set
    * Jaccard of the md5 shingle-hash sets, computed only for pairs the
    * LSH pass surfaced. Takes the pair source as a parameter so a driver
    * run shares one LSH pass across t06/t08/t13 (the registry wrapper
    * passes the cached [[minhashCandidatePairs]]).
    */
  def ngramJaccard(s: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    val sh = shingled(s, dir)
    // shuffle-hash PINNED on the shingle side: sh carries every doc's
    // FULL shingle-hash array — the planner's estimate of the computed
    // array column sits under the broadcast threshold while the true
    // payload is corpus_rows × |shingles| × 8 B (it elected BOTH attach
    // sides for BroadcastExchange at sf1.0). Attaching heavy payload to
    // candidate pairs shuffles on the id — t15's narrow-probe shape.
    pairs.select(col("doc_a"), col("doc_b"))
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("sh_a")).hint("shuffle_hash"), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("sh_b")).hint("shuffle_hash"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(TF.exactJaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def t08NgramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccard(s, dir, minhashCandidatePairs(s, dir))

  lazy val t08Sql: String =
    s"""WITH $shingleCtes,
       |$sigCte,
       |$candPairCtes,
       |cand AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= $MinJaccard)
       |SELECT c.doc_a, c.doc_b,
       |  round(len(list_filter(list_distinct(ha.hs), x -> list_contains(hb.hs, x))) * 1.0
       |        / len(list_distinct(list_concat(ha.hs, hb.hs))), 4) AS jaccard
       |FROM cand c
       |JOIN hs ha ON ha.doc_id = c.doc_a
       |JOIN hs hb ON hb.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- t09
  /** Rolling-hash document fingerprint (oracle-checked): order-sensitive
    * polynomial over the md5-60bit token-hash stream, mod 1e9+7.
    */
  def t09Fingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), NT.md5TokenHashes(col("text")).as("hs"))
      .select(col("doc_id"), NH.rollingFingerprint(col("hs")).as("fingerprint"),
        size(col("hs")).as("n_tokens"))
      .orderBy(col("doc_id"))

  lazy val t09Sql: String =
    s"""WITH $toksCte
       |SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(toks, t -> ${md5l("t")} % $FpP)),
       |    (acc, h) -> (acc * 31 + h) % $FpP) AS fingerprint,
       |  CAST(len(toks) AS INT) AS n_tokens
       |FROM tk ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t10
  /** Brute-force cosine top-k (the ANN baseline): k=5 neighbors for the 10
    * lowest vec_ids. The query side is broadcast; the corpus side streams —
    * cost is |corpus| × |queries| dot products with NO shuffle of the
    * corpus. At 100 TB the scale path is the LSH/IVF variant (t11/round 2);
    * this exact scan is the recall=1.0 baseline it is measured against.
    */
  def t10AnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        R.halfUp(V.cosine(col("q_emb"), col("emb")), 6).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  // cosine columns round via the shared portable halfUp (Rounding) on both
  // engines — round(double, 6) near a .xxxxx5 boundary can flip the 6th
  // digit differently per engine (the money-column divergence), and for
  // t15 would also flip the >= CosTau candidate filter
  lazy val t10Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |    ${R.halfUpSql(cosineSql("q.q_emb", "e.emb"), 6)} AS cosine
      |  FROM e CROSS JOIN q
      |  WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cosine,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
      |  FROM scored)
      |SELECT query_id, vec_id, cosine, rk
      |FROM ranked
      |WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------------------------- t11
  /** Language-ID heuristic (n-gram/marker based) + confusion matrix vs the
    * labeled lang column. Pure string expressions: marker-token ratios and
    * character-class densities feed a when-chain classifier — the
    * structural shape of any rule-based langid at scale (single scan, tiny
    * groupBy).
    */
  def t11LangidConfusion(s: SparkSession, dir: String): DataFrame = {
    val lower_ = lower(col("text"))
    val len = length(col("text")).cast("double")
    // marker densities per character: 'the'-trigram, 'th'-bigram, vowels
    val theCnt = (length(lower_) - length(regexp_replace(lower_, "the", ""))) / 3.0
    val vowelRatio = length(regexp_replace(lower_, "[^aeiou]", "")).cast("double") / len
    val predicted =
      when(theCnt / len >= 0.01 && vowelRatio >= 0.28, "en_like")
        .when(vowelRatio >= 0.33, "vowel_heavy")
        .otherwise("other")
    documents(s, dir)
      .select(col("lang"), predicted.as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  val t11Sql: String =
    """SELECT lang,
      |  CASE WHEN (length(lower(text)) - length(replace(lower(text), 'the', ''))) / 3.0
      |              / length(text) >= 0.01
      |         AND length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) * 1.0
      |              / length(text) >= 0.28
      |       THEN 'en_like'
      |       WHEN length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) * 1.0
      |              / length(text) >= 0.33
      |       THEN 'vowel_heavy'
      |       ELSE 'other' END AS predicted,
      |  count(*) AS n
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY lang, predicted""".stripMargin

  // ---------------------------------------------------------------- t12
  /** LSH-bucketed ANN — the scale path next to the t10 exact baseline
    * (oracle-checked: the hyperplanes are seeded literals inlined into the
    * DuckDB SQL, which replays bucket assignment, multi-probe and ranking
    * bit-for-bit; AnnSpec additionally asserts recall ≥ 0.8 vs t10).
    *
    * Random-hyperplane signatures: [[Lsh.Bits]] fixed Rademacher (±1)
    * hyperplanes; bucket = sign-bit code. The corpus is scanned once to
    * assign buckets (shuffle-free projection); each query probes every
    * bucket within Hamming radius [[Lsh.HammingRadius]] of its own code,
    * so per-query cost is |probed buckets|/2^Bits of the corpus instead of
    * all of it. On this isotropic synthetic corpus that fraction must be
    * large to reach recall 0.8 (see Lsh's scaladoc and SCALE.md); the
    * plan shape — corpus-side single scan + broadcast of exploded query
    * probes — is unchanged by the dial settings.
    *
    * (bits, radius) are arguments so a deployment dials the code space to
    * its corpus (`bits ≈ log2(n/bucket_target)`) without a code change;
    * the defaults are the test-corpus dials and what the oracle replays.
    */
  def t12AnnLsh(s: SparkSession, dir: String,
                bits: Int = Lsh.Bits, radius: Int = Lsh.PolicyRadius): DataFrame = {
    val rr = Lsh.resolveRadius(bits, radius, Lsh.HammingRadius)
    val e = embeddings(s, dir)
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
      .withColumn("bucket", Lsh.bucketOf(col("emb"), bits))
    // multi-probe: every bucket within the Hamming radius — near neighbors
    // that straddle up to `radius` hyperplanes are recovered
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        explode(array(Lsh.masksWithin(rr, bits).map(m =>
          col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("bucket"),
        R.halfUp(V.cosine(col("q_emb"), col("emb")), 6).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .orderBy(col("query_id"), col("rk"))
  }

  private def cosineSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_sum(list_transform($a, x -> x * x))) = 0
       |          OR sqrt(list_sum(list_transform($b, x -> x * x))) = 0 THEN 0.0
       |     ELSE list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))
       |          / (sqrt(list_sum(list_transform($a, x -> x * x)))
       |             * sqrt(list_sum(list_transform($b, x -> x * x)))) END""".stripMargin

  /** The (bits, radius) the REGISTERED t12/t15 queries and their oracle
    * SQL run at: `SPARK_GRAFT_LSH_BITS` / `SPARK_GRAFT_LSH_RADIUS` when
    * set (one dial read per JVM — env is immutable per process, and both
    * the DataFrame plan and the generated SQL must see the same value),
    * else the test-corpus defaults. This makes the parameterization
    * ORACLE-provable at any dial: run Verify + tools/check_oracle.py with
    * the env set and both engines replay the dialed code space (recorded
    * run at bits=10: SCALE.md "ANN recall"). The driver leaves the env
    * unset. Radius applies its entry point's own default (t12 Hamming 3,
    * t15 pair radius 4) unless overridden. `SPARK_GRAFT_EMB_CAP` dials
    * the t15/t34 per-bucket skew cap ([[EmbBucketCap]]), and
    * `SPARK_GRAFT_IVF_K` / `SPARK_GRAFT_IVF_NPROBE` dial t14's quantizer
    * the same way — a dialed K refits the stamped centroid table, and
    * the oracle reads whatever generation that run committed.
    */
  /** Validated dial parse: every `SPARK_GRAFT_*` numeric env dial comes
    * through here. A malformed value used to crash with a bare
    * NumberFormatException that named neither the dial nor the value, and
    * a zero/negative budget divided the slice math by zero (round-15
    * ADVICE) — now non-numeric input fails with the dial's NAME in the
    * message, and below-minimum values clamp LOUDLY to the stated floor.
    */
  private[graft] def parseDial(name: String, raw: String, min: Long): Long = {
    val v =
      try raw.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"env dial $name must be an integer, got '$raw'")
      }
    if (v < min) {
      System.err.println(s"[graft.dial] $name=$v is below the minimum $min — clamped")
      min
    } else v
  }
  /** Values ABOVE a stated ceiling clamp loudly too — the symmetric case
    * of the floor ([[parseDial]]): an Int dial parsed as Long used to
    * truncate 2^32 to 0, and the probe-budget MB dial shifted into Long
    * overflow — both silent wraps the validation layer exists to prevent
    * (round-16 ADVICE).
    */
  private[graft] def clampDialMax(name: String, v: Long, max: Long): Long =
    if (v > max) {
      System.err.println(s"[graft.dial] $name=$v is above the maximum $max — clamped")
      max
    } else v
  private[graft] def envInt(name: String, min: Int, default: => Int): Int =
    sys.env.get(name)
      .map(r => clampDialMax(name, parseDial(name, r, min), Int.MaxValue).toInt)
      .getOrElse(default)
  private[graft] def envLongCapped(name: String, min: Long, max: Long,
                                   default: => Long): Long =
    sys.env.get(name).map(r => clampDialMax(name, parseDial(name, r, min), max))
      .getOrElse(default)

  private[graft] lazy val DialBits: Int =
    envInt("SPARK_GRAFT_LSH_BITS", 1, Lsh.Bits)
  private[graft] lazy val DialRadius: Option[Int] =
    sys.env.get("SPARK_GRAFT_LSH_RADIUS")
      .map(r => clampDialMax("SPARK_GRAFT_LSH_RADIUS",
        parseDial("SPARK_GRAFT_LSH_RADIUS", r, 0), Int.MaxValue).toInt)
  /** The radius the registered queries RUN at when the env leaves it to
    * policy: [[Lsh.radiusFor]] of the dialed bits, from each family's
    * base (pair family 4, ANN probe 3). This is what closes the round-11
    * `weak`: a deployment that dials only `bits` (or lets `Lsh.bitsFor`
    * grow it with the corpus) gets the mask-budgeted radius
    * automatically, instead of a hand-held radius 4 compounding
    * C(bits, 4) across decades. An explicit SPARK_GRAFT_LSH_RADIUS still
    * wins — it is the recall-vs-cost override, and the oracle SQL
    * inlines the same resolved value either way.
    */
  private[graft] lazy val DialPairRadius: Int =
    DialRadius.getOrElse(Lsh.radiusFor(DialBits, PairRadius))
  private[graft] lazy val DialProbeRadius: Int =
    DialRadius.getOrElse(Lsh.radiusFor(DialBits, Lsh.HammingRadius))
  private[graft] lazy val DialEmbCap: Int =
    envInt("SPARK_GRAFT_EMB_CAP", 1, EmbBucketCap)
  private[graft] lazy val DialIvfK: Int =
    envInt("SPARK_GRAFT_IVF_K", 1, IvfModel.K)
  private[graft] lazy val DialIvfNProbe: Int =
    envInt("SPARK_GRAFT_IVF_NPROBE", 1, IvfModel.NProbe)
  /** `SPARK_GRAFT_PQ_KS` dials the PQ codes-per-subspace the same way —
    * the registered t47/t48 and their oracle SQL both read it, so the
    * production 256-code dial is oracle-provable: run Verify +
    * check_oracle with the env set (needs a corpus with ≥ ks sample
    * vectors per subspace fit; recorded run in SCALE.md). A dialed ks
    * refits the stamped codebook + coded lists; the driver leaves the
    * env unset and verifies the test dial.
    */
  private[graft] lazy val DialPqKs: Int =
    envInt("SPARK_GRAFT_PQ_KS", 1, PqModel.CodesPerSub)

  lazy val t12Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |eb AS (SELECT vec_id, emb, ${Lsh.bucketSql("emb", DialBits)} AS bucket FROM e),
       |q AS (
       |  SELECT vec_id AS query_id, emb AS q_emb, xor(bucket, m) AS bucket
       |  FROM eb CROSS JOIN (SELECT unnest(${Lsh.masksSqlWithin(DialProbeRadius, DialBits)}) AS m)
       |  WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.query_id, e.vec_id, e.bucket,
       |    ${R.halfUpSql(cosineSql("q.q_emb", "e.emb"), 6)} AS cosine
       |  FROM eb e JOIN q ON e.bucket = q.bucket
       |  WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, bucket, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT query_id, vec_id, bucket, cosine, rk FROM ranked
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------------------------- t14
  /** IVF ANN — the centroid-bucketed scale path beside t12's hyperplane
    * LSH (oracle-checked: both engines read the SAME persisted centroid
    * table, so the DuckDB SQL replays assignment, probe selection and
    * ranking exactly; AnnSpec asserts recall ≥ 0.8 vs t10).
    *
    * The coarse quantizer is trained ONCE per corpus ([[IvfModel.ensure]] —
    * seeded KMeans, persisted parquet centroids); the query path is pure
    * assignment + probe joins, no ML fit. Assignment is a MAP-SIDE argmin:
    * the k centroids are folded into ONE array row (`collect_list` over the
    * k-row control table) and attached to every vector by a 1-row broadcast
    * nested-loop join — a column attach, zero row expansion — then
    * `transform` scores all k centroids per row and `array_min` picks the
    * nearest by (dist, cid) struct order. No shuffle, no window, no n×k
    * intermediate anywhere on the corpus side; the only exchange left in
    * the query is the top-k window over the probed candidates, which is
    * bounded by the query set. (Rounds 1-5 computed the same argmin as
    * crossJoin×k + row_number window — an n×k row expansion through an
    * exchange that amplifies the corpus shuffle k-fold at 100 TB; that
    * formulation now lives only in AnnSpec's oracle-mirror test, which
    * pins this plan's results to it.)
    */
  /** (k, nProbe) are arguments for the same reason as t12's (bits,
    * radius): K must track the corpus (`K ≈ √n` — see [[IvfModel.K]]) and
    * nProbe is the recall/latency dial over the persisted lists. Defaults
    * = test-corpus dials = what the oracle SQL replays; a non-default k
    * refits via the stamp, never probes stale centroids.
    */
  def t14AnnIvf(s: SparkSession, dir: String,
                k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe): DataFrame = {
    IvfModel.ensure(s, dir, k = k)
    val e = embeddings(s, dir)
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
    // k rows -> 1 row holding array<struct<cid,cvec>>, sorted by cid so the
    // per-row scan order is deterministic
    val centArr = IvfModel.centroids(s, dir)
      .agg(sort_array(collect_list(struct(col("cid"), col("cvec")))).as("cents"))
    val withC = e.crossJoin(broadcast(centArr))
    // struct(dist, cid): struct comparison orders by dist first, then cid —
    // identical tie-break to the oracle's ORDER BY dist, cid. The dist fold
    // is the exact expression the oracle replays (left-fold of squared
    // diffs), so argmin decisions match bit-for-bit.
    def scored = transform(col("cents"), c =>
      struct(
        aggregate(zip_with(col("emb"), c.getField("cvec"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x).as("dist"),
        c.getField("cid").as("cid")))
    val assigned = withC
      .select(col("vec_id"), col("emb"),
        array_min(scored).getField("cid").as("cluster"))
    val probes = withC.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        explode(slice(array_sort(scored), 1, nProbe)
          .getField("cid")).as("cluster"))

    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cluster"),
        R.halfUp(V.cosine(col("q_emb"), col("emb")), 6).as("cosine"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)
      .orderBy(col("query_id"), col("rk"))
  }

  // ---------------------------------------------------------------- t36
  /** IVF probe over the MATERIALIZED inverted lists ([[IvfModel.ensureLists]]):
    * identical results to t14 (same centroids, same argmin, same probe
    * selection — the oracle runs t14's SQL against it), but the corpus
    * side reads the `cluster`-PARTITIONED list table, so the probe join
    * prunes to the probed cells at the SCAN — nProbe/K of the corpus off
    * disk, the serving shape at 100 TB (t14's compute-on-read is right
    * for one-off batches; a vector store amortizes assignment into
    * storage once). Partition pruning is plan-asserted in AnnSpec.
    */
  def t36AnnIvfLists(s: SparkSession, dir: String,
                     k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe): DataFrame = {
    IvfModel.ensureLists(s, dir, k = k)
    ivfListsProbe(IvfModel.lists(s, dir), IvfModel.centroids(s, dir), nProbe)
  }

  /** The t36 probe body over explicit lists + centroids — shared with
    * t46's incrementally-maintained list table and t49's attributed
    * lists so the three cannot drift. `candFilter` constrains the
    * CANDIDATE side only (probe queries stay unconstrained): it is
    * applied directly on the list scan, so a predicate on a stored list
    * column reaches the parquet reader as a pushed data filter. The
    * registered queries probe the fixed 10-lowest-vec_id set (what the
    * oracle SQL replays); [[annTopKBatch]] is the same body over an
    * arbitrary query frame.
    */
  private def ivfListsProbe(lists: DataFrame, centroids: DataFrame, nProbe: Int,
                            candFilter: Column = lit(true)): DataFrame =
    ivfListsProbeFor(lists, centroids,
      lists.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb")),
      nProbe, candFilter, broadcastQueries = true)

  /** The IVF list probe over an ARBITRARY query frame
    * (query_id, q_emb) — the batched-serving generalization behind
    * [[annTopKBatch]]. `broadcastQueries = true` is the one-off shape
    * (exploded probe frame broadcast to the list scan — the registered
    * queries); `false` is the batch-scoring shape: the probe frame is
    * materialized once, the list scan is pruned to the UNION of probed
    * cells through [[BucketPrune]] (static IN ≤ its inline cap,
    * broadcast-semi-join DPP above — pruning never depends on the join
    * strategy), and the join hashes the PROBE side under a shuffle
    * exchange on `cluster`, so the corpus side is never broadcast and
    * never re-shuffled beyond its own partitioned layout. Per-cell skew
    * (a popular cell probed by a large share of the queries) is AQE
    * skew-join territory, same as any key-skewed shuffle join here.
    */
  /** The query frame re-spread across the shuffle width before the
    * per-query probe compute (centroid scoring; on the PQ path also the
    * per-(query, cell) ADC-table build) — ONLY on the shuffle branch.
    *
    * Why: everything between the query frame and the candidate join is
    * NARROW (broadcast-crossJoin, select, explode), so the probe side
    * inherits the CALLER's partitioning — and the natural way to build a
    * reproducible query batch (`orderBy(id).limit(n)`, a global sort) is
    * exactly ONE partition. Measured on the sf10sub corpus at the
    * production dial (10⁴ queries, K=256, ks=256): the single-partition
    * uniform batch served in 1793 s — the whole interpreted ADC-table
    * build (160k probe rows × a 2048-slot higher-order fold) ran on ONE
    * core — while the same volume arriving 32-way (the skewed fixture's
    * `range(n)` crossJoin) took 258 s. The hash repartition pins an
    * EXPLICIT partition count (plain `repartition(col)` is
    * REPARTITION_BY_COL, which AQE size-coalesces right back to one
    * partition at 10⁴-query row sizes — the compute cost per row is
    * invisible to size-based coalescing). Cost: one shuffle of the raw
    * (query_id, q_emb) rows, ~0.5 KB each — noise against the per-probe
    * work it parallelizes. The broadcast branch is left alone: a
    * under-cap query frame's probe compute is small by the same gate
    * that allows the broadcast.
    */
  private[graft] def redistributeQueries(q: DataFrame, broadcastQueries: Boolean): DataFrame =
    if (broadcastQueries) q
    else q.repartition(q.sparkSession.sessionState.conf.numShufflePartitions, col("query_id"))

  private[graft] def ivfListsProbeFor(lists: DataFrame, centroids: DataFrame,
                                      queries: DataFrame, nProbe: Int,
                                      candFilter: Column = lit(true),
                                      broadcastQueries: Boolean = true,
                                      topK: Int = 5): DataFrame = {
    val centArr = centroids
      .agg(sort_array(collect_list(struct(col("cid"), col("cvec")))).as("cents"))
    def scored = transform(col("cents"), c =>
      struct(
        aggregate(zip_with(col("q_emb"), c.getField("cvec"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x).as("dist"),
        c.getField("cid").as("cid")))
    val probes0 = redistributeQueries(
        queries.select(col("query_id"), col("q_emb")), broadcastQueries)
      .crossJoin(broadcast(centArr))
      .select(col("query_id"), col("q_emb"),
        explode(slice(array_sort(scored), 1, nProbe)
          .getField("cid")).as("cluster"))
    val cand = lists.filter(candFilter)
    val joined =
      if (broadcastQueries) cand.join(broadcast(probes0), Seq("cluster"))
      else {
        // the probe frame feeds the prune's bounded collect AND the
        // join — materialize it once (batch-sized by definition)
        val probes = Frames.cutIfPlain(probes0)
        // exact rows (cheap on the materialized frame) × the known row
        // width: ids + the full query vector each probe row carries
        def probeBytes = probes.count() * (32L + Lsh.Dim.toLong * 8)
        BucketPrune.restrict(cand, "cluster", probes)
          .join(pinnedSide(probes, broadcastIt = false, probeBytes), Seq("cluster"))
      }
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    joined
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cluster"),
        R.halfUp(V.cosine(col("q_emb"), col("emb")), 6).as("cosine"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= topK)
      .orderBy(col("query_id"), col("rk"))
  }

  /** BATCHED ANN SERVING — top-`topK` cosine neighbors over the
    * materialized inverted lists for an ARBITRARY query frame
    * (query_id BIGINT, q_emb ARRAY<DOUBLE>). The registered t36/t46/t49
    * queries are this shape with the fixed 10-query probe set; a real
    * pipeline batch-scores 10⁴-10⁶ queries, where broadcasting the
    * query side flips from optimization to OOM. Past
    * `broadcastQueryCap` queries the probe side is hashed under a
    * SHUFFLE join instead — the corpus is never broadcast, and the list
    * scan still partition-prunes to the union of probed cells (both
    * plan-asserted in AnnSpec, with batch == broadcast-reference
    * results). Strategy costs ONE count of the caller's query frame;
    * pass `broadcastQueries = Some(...)` to skip it. `candFilter` is
    * the filtered-search hook (pushed to the list scan like t49's).
    */
  def annTopKBatch(s: SparkSession, dir: String, queries: DataFrame,
                   k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe,
                   topK: Int = 5,
                   candFilter: Column = lit(true),
                   broadcastQueryCap: Long = 10000,
                   broadcastQueries: Option[Boolean] = None): DataFrame = {
    IvfModel.ensureLists(s, dir, k = k)
    val q = Frames.cutIfPlain(queries.select(col("query_id"), col("q_emb")))
    val bc = broadcastQueries.getOrElse(q.count() <= broadcastQueryCap)
    ivfListsProbeFor(IvfModel.lists(s, dir), IvfModel.centroids(s, dir), q, nProbe,
      candFilter, broadcastQueries = bc, topK = topK)
  }

  // ---------------------------------------------------------------- t46
  /** INCREMENTAL IVF as a registered, oracle-checked query — the last
    * cell of the incremental matrix (text dedup t37, embedding dedup
    * t40, curation t41-t43, ANN here): the inverted lists are SEEDED
    * from the settled half of the corpus and GROWN by the batch half
    * through [[IvfModel.appendListsFrame]] — batch-sized assignment
    * against the SAME persisted quantizer, replay-idempotent append —
    * then probed exactly like t36. Oracle = t14's SQL over the full
    * corpus: assignment is per-vector deterministic given the centroid
    * table, so increment == full re-materialization bit-for-bit (the
    * claim AnnSpec pins in-memory, proved here through the warehouse).
    * Same stamped-seed / forced-reseed protocol as the other lifecycle
    * queries; Bench warms the seed, measures the append + probe.
    */
  def t46AnnIvfIncrement(s: SparkSession, dir: String,
                         k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe): DataFrame =
    CompileFree.run(s, s"$dir/embeddings.parquet") { s =>
      val wh = t46EnsureSeeded(s, dir, k)
      val cents = IvfModel.centroids(s, dir)
      val partB = embeddings(s, dir)
        .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
        .filter(splitBucket(col("vec_id")) >= 50)
      IvfModel.appendListsFrame(wh, partB, cents)
      ivfListsProbe(IvfModel.listsOf(wh), cents, nProbe)
    }

  private[graft] def t46EnsureSeeded(s: SparkSession, dir: String, k: Int): graft.etl.Warehouse = {
    // the quantizer is the FULL-corpus stamped artifact (same generation
    // t14/t36 probe — and the one the oracle reads)
    IvfModel.ensure(s, dir, k = k)
    val wh = graft.etl.Warehouse(s, new java.io.File(
      IvfModel.warehouseFor(s, dir).dir, "t46_increment").toString)
    val stamp = s"t46-seed\n$dir\nk=$k\n" +
      graft.core.Tables.contentStamp(s, s"$dir/embeddings.parquet")
    StampedTable.ensureSeeded(wh, "t46_seed", stamp) {
      val partA = embeddings(s, dir)
        .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
        .filter(splitBucket(col("vec_id")) < 50)
      IvfModel.seedListsFrame(wh, partA, IvfModel.centroids(s, dir))
    }
    wh
  }

  /** The centroid path derives from the corpus dir EXPLICITLY — the caller
    * (Verify, via [[SparkEntry.oracleSqlFor]]) threads the dir it ran the
    * queries against, rather than routing it through JVM-global state
    * that a concurrent or re-ordered ensure() could have repointed.
    */
  def t14Sql(dir: String): String = ivfProbeSql(dir, 10)

  /** The IVF probe replay at an arbitrary query-set bound — t14/t36/t46
    * use the registered 10-query set; t51 replays the batched-serving
    * shape over [[BatchQueryBound]] queries (the SQL is bound-agnostic:
    * result semantics don't depend on the join strategy the Spark side
    * picked).
    */
  private def ivfProbeSql(dir: String, queryBound: Int): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |c AS (SELECT cid, cvec FROM read_parquet('${IvfModel.oraclePath(dir)}/*.parquet')),
       |ad AS (
       |  SELECT vec_id, emb, cid,
       |    list_sum(list_transform(list_zip(emb, cvec), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |  FROM e CROSS JOIN c),
       |assigned AS (
       |  SELECT vec_id, emb, cid AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM ad)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, emb AS q_emb, cid AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS pr
       |    FROM ad WHERE vec_id < $queryBound)
       |  WHERE pr <= $DialIvfNProbe),
       |scored AS (
       |  SELECT p.query_id, a.vec_id, a.cluster,
       |    ${R.halfUpSql(cosineSql("p.q_emb", "a.emb"), 6)} AS cosine
       |  FROM assigned a JOIN probes p USING (cluster)
       |  WHERE a.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cluster, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT query_id, vec_id, cluster, cosine, rk FROM ranked
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------------------------- t47
  /** IVF-PQ probe over the COMPRESSED inverted lists ([[PqModel]]): the
    * memory-feasible 100 TB serving shape. Coarse probe selection is
    * t14's (same persisted centroids, same nProbe cells); candidates are
    * then scored by ASYMMETRIC distance — M table lookups against the
    * query's per-subspace distance table, no float vector read — the
    * top [[PqModel.RerankDepth]] per query are RERANKED exactly against
    * their full vectors, and the final top-5 is by exact cosine, t14's
    * output shape. Work shape: the list scan reads (vec_id, codes) only
    * from the probed cluster partitions; the full-vector fetch is a
    * pointed join of queries × RerankDepth ids against the embeddings
    * table. The oracle replays every stage from the persisted artifacts
    * (hash-checked, not rows-only); AnnSpec measures recall vs t10 and
    * pins the no-payload claim on the list schema.
    */
  def t47AnnIvfPq(s: SparkSession, dir: String,
                  k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe,
                  rerankDepth: Int = PqModel.RerankDepth,
                  ks: Int = DialPqKs): DataFrame = {
    PqModel.ensure(s, dir, k = k, ks = ks)
    ivfPqProbe(s, dir, PqModel.pqLists(s, dir), nProbe, rerankDepth, ks)
  }

  /** The IVF-PQ serving probe over an arbitrary coded-list frame —
    * shared by t47 (the globally-ensured lists) and t48 (a maintained
    * warehouse-scoped table): coarse cell selection → per-cell RESIDUAL
    * ADC tables → ADC shortlist → exact rerank, all against the SAME
    * persisted centroid + codebook generations. The registered queries
    * probe the fixed 10-lowest-vec_id set; [[annTopKBatchPq]] is the
    * same body over an arbitrary query frame.
    */
  private def ivfPqProbe(s: SparkSession, dir: String, pqListsFrame: DataFrame,
                         nProbe: Int,
                         rerankDepth: Int = PqModel.RerankDepth,
                         ks: Int = DialPqKs): DataFrame =
    ivfPqProbeFor(s, dir, pqListsFrame,
      embeddings(s, dir)
        .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb")),
      nProbe, rerankDepth, ks, broadcastQueries = true)

  /** The IVF-PQ probe over an ARBITRARY query frame (query_id, q_emb) —
    * the batched-serving generalization ([[ivfListsProbeFor]]'s
    * compressed twin). Per query it selects the nProbe nearest coarse
    * cells and builds one flat ADC table PER PROBED CELL from the
    * query's residual against that cell's centroid (the IVFADC probe —
    * M×ks doubles per (query, cell)); candidates pay M table lookups,
    * never a float read; the ADC top-`rerankDepth` per query is
    * reranked exactly. With `broadcastQueries = false` every
    * query-derived side (probe tables, shortlist, query vectors) joins
    * by SHUFFLE instead of broadcast — the corpus is never broadcast —
    * and the coded-list scan is pruned to the union of probed cells
    * through [[BucketPrune]].
    */
  private[graft] def ivfPqProbeFor(s: SparkSession, dir: String, pqListsFrame: DataFrame,
                                   queries: DataFrame, nProbe: Int,
                                   rerankDepth: Int, ks: Int,
                                   broadcastQueries: Boolean,
                                   topK: Int = 5): DataFrame = {
    val cents = IvfModel.centroids(s, dir)
    val centArr = cents
      .agg(sort_array(collect_list(struct(col("cid"), col("cvec")))).as("cents"))
    // struct(dist, cid, cvec): ordered by (dist, cid) — cid is unique so
    // the trailing cvec never participates in the comparison; carrying
    // it through the sort hands each probed cell its centroid for the
    // residual without a second join
    def scored = transform(col("cents"), c =>
      struct(
        aggregate(zip_with(col("q_emb"), c.getField("cvec"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x).as("dist"),
        c.getField("cid").as("cid"),
        c.getField("cvec").as("cvec")))
    val q0 = queries.select(col("query_id"), col("q_emb"))
    // per (query, probed cell): the cell + the flat ADC table of the
    // query's RESIDUAL against that cell's centroid
    val probes0 = redistributeQueries(q0, broadcastQueries)
      .crossJoin(broadcast(centArr))
      .crossJoin(broadcast(PqModel.codebookArr(s, dir)))
      .select(col("query_id"), col("cb"), col("q_emb"),
        explode(slice(array_sort(scored), 1, nProbe)).as("pc"))
      .select(col("query_id"), col("pc").getField("cid").as("cluster"),
        PqModel.dtabFlat(PqModel.residual(col("q_emb"), col("pc").getField("cvec")),
          col("cb")).as("dtab"))
    val probes = if (broadcastQueries) probes0 else Frames.cutIfPlain(probes0)
    def side(df: DataFrame) = if (broadcastQueries) broadcast(df) else df
    val listScan =
      if (broadcastQueries) pqListsFrame
      else BucketPrune.restrict(pqListsFrame, "cluster", probes)
    // ADC shortlist: codes-only scan of the probed partitions
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("vec_id"))
    // the shuffle_hash pin belongs ONLY to the shuffle branch: wrapping
    // broadcast() around a hinted frame stacks two conflicting
    // join-strategy hints on one side, and correctness then rides on
    // Spark's outer-hint-wins tiebreak (a logged "hint overridden"
    // warning, fragile across versions). Past the non-spillable build
    // budget the shuffle branch takes sort-merge (see [[pinnedSide]] —
    // the 10⁵-query ADC-table build is the measured failure).
    // ids + the flat ADC table (M × ks doubles) each probe row carries
    def probeBytes = probes.count() * (32L + ks.toLong * PqModel.SubSpaces * 8)
    val short = listScan.join(pinnedSide(probes, broadcastQueries, probeBytes), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        R.halfUp(PqModel.adcDist(col("codes"), col("dtab"), ks), 6).as("adist"))
      .withColumn("cr", row_number().over(wAdc))
      .filter(col("cr") <= rerankDepth)
      .select(col("query_id"), col("vec_id"))
    // exact rerank of the shortlist against full vectors — a pointed
    // queries×rerankDepth fetch (broadcast when the query set is small,
    // shuffle joins otherwise)
    val full = embeddings(s, dir)
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    full.join(side(short), Seq("vec_id"))
      .join(side(q0), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        R.halfUp(V.cosine(col("q_emb"), col("emb")), 6).as("cosine"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= topK)
      .orderBy(col("query_id"), col("rk"))
  }

  /** [[annTopKBatch]] over the COMPRESSED lists — batched IVF-PQ
    * serving for an arbitrary (query_id, q_emb) frame at any ks dial;
    * same strategy flip past `broadcastQueryCap` queries. `rerankDepth`
    * defaults to AUTO ([[PqModel.servingDepth]] — the measured
    * depth/probed-candidates law applied to the current generation's
    * corpus count, jobless dispatch): a fixed depth audited at one
    * corpus size under-reranks at ten times it (recall 0.74 where the
    * law holds 0.92; SCALE.md round-11 recall table). Pass an explicit
    * depth to reproduce a pinned dial (t47's oracle replays the audited
    * 50).
    */
  def annTopKBatchPq(s: SparkSession, dir: String, queries: DataFrame,
                     k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe,
                     rerankDepth: Option[Int] = None,
                     ks: Int = DialPqKs, topK: Int = 5,
                     broadcastQueryCap: Long = 10000,
                     broadcastQueries: Option[Boolean] = None): DataFrame = {
    PqModel.ensure(s, dir, k = k, ks = ks)
    val depth = rerankDepth.getOrElse(PqModel.servingDepth(s, dir, k, nProbe))
    val q = Frames.cutIfPlain(queries.select(col("query_id"), col("q_emb")))
    val bc = broadcastQueries.getOrElse(q.count() <= broadcastQueryCap)
    ivfPqProbeFor(s, dir, PqModel.pqLists(s, dir), q, nProbe, depth, ks,
      broadcastQueries = bc, topK = topK)
  }

  /** t47's oracle: the full IVF-PQ (IVFADC) path replayed from the
    * persisted artifacts — coarse probes from the centroid table (t14's
    * CTEs), per-(query, cell) RESIDUAL ADC tables from the codebook
    * parquet, shortlist from the coded lists parquet (hive-partitioned
    * by cluster), exact rerank from the embeddings table. The index
    * arithmetic inlines [[PqModel.SubDim]] / the ks dial; the
    * per-subspace position list is a literal so no index-lambda support
    * is required of DuckDB.
    */
  def t47Sql(dir: String): String = {
    val sd = PqModel.SubDim
    val ks = DialPqKs
    val subIdx = (0 until PqModel.SubSpaces).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |c AS (SELECT cid, cvec FROM read_parquet('${IvfModel.oraclePath(dir)}/*.parquet')),
       |cb AS (SELECT sub, code, cvec
       |       FROM read_parquet('${IvfModel.oraclePathFor(dir, PqModel.CodebookTable)}/*.parquet')),
       |pl AS (SELECT vec_id, codes, cluster
       |       FROM read_parquet('${IvfModel.oraclePathFor(dir, PqModel.PqListsTable)}/*/*.parquet',
       |                         hive_partitioning = true)),
       |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
       |ad AS (
       |  SELECT query_id, q_emb, cid, cvec,
       |    list_sum(list_transform(list_zip(q_emb, cvec), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |  FROM q CROSS JOIN c),
       |probes AS (
       |  SELECT query_id, cid AS cluster, cvec FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, cid) AS pr FROM ad)
       |  WHERE pr <= $DialIvfNProbe),
       |pres AS (
       |  SELECT p.query_id, p.cluster,
       |    list_transform(list_zip(q.q_emb, p.cvec), z -> z[1] - z[2]) AS res
       |  FROM probes p JOIN q USING (query_id)),
       |qd AS (
       |  SELECT r.query_id, r.cluster, cb.sub, cb.code,
       |    list_sum(list_transform(
       |      list_zip(r.res[cb.sub * $sd + 1 : cb.sub * $sd + $sd], cb.cvec),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS d
       |  FROM pres r CROSS JOIN cb),
       |dt AS (SELECT query_id, cluster, list(d ORDER BY sub, code) AS dtab
       |       FROM qd GROUP BY query_id, cluster),
       |adc AS (
       |  SELECT p.query_id, l.vec_id,
       |    ${R.halfUpSql(
             s"list_sum(list_transform(list_zip(l.codes, $subIdx), " +
               s"p -> dt.dtab[p[2] * $ks + p[1] + 1]))", 6)} AS adist
       |  FROM pl l JOIN probes p USING (cluster)
       |    JOIN dt ON dt.query_id = p.query_id AND dt.cluster = l.cluster
       |  WHERE l.vec_id <> p.query_id),
       |short AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS cr
       |    FROM adc)
       |  WHERE cr <= ${PqModel.RerankDepth}),
       |rescored AS (
       |  SELECT s.query_id, s.vec_id,
       |    ${R.halfUpSql(cosineSql("q.q_emb", "e.emb"), 6)} AS cosine
       |  FROM short s JOIN e ON e.vec_id = s.vec_id JOIN q ON q.query_id = s.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
       |  FROM rescored)
       |SELECT query_id, vec_id, cosine, rk FROM ranked
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
  }

  // ---------------------------------------------------------------- t48
  /** INCREMENTAL IVF-PQ lists — t46's protocol on the COMPRESSED serving
    * artifact, closing the incremental matrix for the memory-feasible
    * 100 TB path: the coded lists are seeded on the settled half of the
    * corpus (vec_id hash split, t46's), then each batch codes ONLY
    * itself against the SAME persisted coarse quantizer + codebook
    * generations and appends into its cluster partitions
    * ([[PqModel.appendPqListsFrame]], replay-idempotent). The probe then
    * serves t47's full query shape from the maintained table, and the
    * oracle is t47's SQL over the GLOBAL artifacts — increment ==
    * re-materialization, hash-checked end to end. Codebook/quantizer
    * refit stays an explicit rebuild event (the IVF append contract);
    * per-batch cost is the batch's M argmin projections + one pruned
    * anti-join.
    */
  def t48AnnIvfPqIncrement(s: SparkSession, dir: String,
                           k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe,
                           ks: Int = DialPqKs): DataFrame =
    CompileFree.run(s, s"$dir/embeddings.parquet") { s =>
      val wh = t48EnsureSeeded(s, dir, k, ks)
      val partB = embeddings(s, dir)
        .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
        .filter(splitBucket(col("vec_id")) >= 50)
      PqModel.appendPqListsFrame(wh, partB, IvfModel.centroids(s, dir),
        PqModel.codebookArr(s, dir))
      ivfPqProbe(s, dir, PqModel.pqListsOf(wh), nProbe, ks = ks)
    }

  private[graft] def t48EnsureSeeded(s: SparkSession, dir: String, k: Int,
                                     ks: Int = DialPqKs): graft.etl.Warehouse = {
    // quantizer + codebook are the FULL-corpus stamped artifacts (the
    // generations t47 probes — and the ones the oracle reads)
    PqModel.ensure(s, dir, k = k, ks = ks)
    val wh = graft.etl.Warehouse(s, new java.io.File(
      IvfModel.warehouseFor(s, dir).dir, "t48_increment").toString)
    val stamp = s"t48-seed\n$dir\nk=$k\nm=${PqModel.SubSpaces}\nks=$ks\nenc=res\n" +
      graft.core.Tables.contentStamp(s, s"$dir/embeddings.parquet")
    StampedTable.ensureSeeded(wh, "t48_seed", stamp) {
      val partA = embeddings(s, dir)
        .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
        .filter(splitBucket(col("vec_id")) < 50)
      PqModel.seedPqListsFrame(wh, partA, IvfModel.centroids(s, dir),
        PqModel.codebookArr(s, dir))
    }
    wh
  }

  // ---------------------------------------------------------------- t49
  /** FILTERED similarity search — top-5 cosine neighbors among vectors
    * satisfying a metadata predicate (`label = $FilterLabel`), served
    * from the ATTRIBUTED inverted lists ([[IvfModel.ensureAttrLists]]):
    * the filterable column rides IN the list payload (denormalized at
    * index-build time, one amortized join), so the probe is a
    * partition-pruned scan with the predicate pushed INTO the parquet
    * reader — never a per-query join against corpus metadata. Probe
    * cells are selected exactly like t14/t36 (queries are NOT
    * label-constrained); the filter applies to candidates BEFORE
    * scoring, so the excluded ~90% never pay a cosine.
    *
    * Scale note: under a selectivity-f predicate each probed cell holds
    * ×f candidates, so a production deployment widens nProbe to hold
    * recall (or flips to brute force over the filtered subset below a
    * candidate floor — the standard pre-/post-filter crossover in
    * filtered vector search). At the test dials (nProbe=16 of K=32,
    * f≈0.1) AnnSpec measures the filtered recall floor directly without
    * widening. As with t14/t36's (k, nProbe), the REGISTERED query runs
    * the default dials and the oracle pins the same defaults
    * ($DialIvfNProbe / [[FilterLabel]]) — a non-default `label`/`nProbe`
    * argument is deployment API, not an oracle-checked path.
    */
  val FilterLabel: Int = IvfModel.RegisteredLabel

  def t49AnnFiltered(s: SparkSession, dir: String,
                     k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe,
                     label: Int = FilterLabel): DataFrame = {
    IvfModel.ensureAttrLists(s, dir, k = k)
    ivfListsProbe(IvfModel.attrLists(s, dir), IvfModel.centroids(s, dir), nProbe,
      candFilter = col("label") === lit(label))
  }

  /** t14's SQL with the label carried through assignment and the
    * candidate side constrained — the oracle replays the same persisted
    * centroids, so filtered increment == filtered re-materialization.
    */
  def t49Sql(dir: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
       |c AS (SELECT cid, cvec FROM read_parquet('${IvfModel.oraclePath(dir)}/*.parquet')),
       |ad AS (
       |  SELECT vec_id, emb, label, cid,
       |    list_sum(list_transform(list_zip(emb, cvec), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |  FROM e CROSS JOIN c),
       |assigned AS (
       |  SELECT vec_id, emb, label, cid AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM ad)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, emb AS q_emb, cid AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS pr
       |    FROM ad WHERE vec_id < 10)
       |  WHERE pr <= $DialIvfNProbe),
       |scored AS (
       |  SELECT p.query_id, a.vec_id, a.cluster,
       |    ${R.halfUpSql(cosineSql("p.q_emb", "a.emb"), 6)} AS cosine
       |  FROM assigned a JOIN probes p USING (cluster)
       |  WHERE a.vec_id <> p.query_id AND a.label = $FilterLabel),
       |ranked AS (
       |  SELECT query_id, vec_id, cluster, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT query_id, vec_id, cluster, cosine, rk FROM ranked
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** The pre-/post-filter CROSSOVER the t49 scaladoc documents, as a
    * served API: when the predicate's corpus-wide survivor count falls
    * at or below `bruteFloor`, an IVF probe reads nProbe/K of a
    * near-empty universe — recall collapses while exact brute force
    * over the filtered subset is both MORE accurate and cheaper (the
    * subset IS small; that is what the floor detects). Above the floor
    * the partition-pruned probe serves exactly like [[t49AnnFiltered]].
    * The decision reads a PRECOMPUTED per-label stat
    * ([[IvfModel.attrLabelCount]] — persisted at index-build time,
    * memoized per generation), so dispatch on a warm JVM launches NO
    * Spark job: probe latency never pays a corpus-side count. Both
    * branches return the t49 frame shape
    * (query_id, vec_id, cluster, cosine, rk), and AnnSpec pins each
    * branch against its reference (probe branch == t49; brute branch ==
    * exact filtered top-5) plus the jobless-dispatch claim.
    */
  def filteredTopK(s: SparkSession, dir: String, label: Int = FilterLabel,
                   k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe,
                   bruteFloor: Long = 1000): DataFrame = {
    IvfModel.ensureAttrLists(s, dir, k = k)
    val attr = IvfModel.attrLists(s, dir)
    val survivors = attr.filter(col("label") === lit(label))
    if (IvfModel.attrLabelCount(s, dir, label, k = k) > bruteFloor)
      ivfListsProbe(attr, IvfModel.centroids(s, dir), nProbe,
        candFilter = col("label") === lit(label))
    else {
      // exact path: ≤ bruteFloor candidates × ≤10 queries — the query
      // side broadcasts, the filtered scan is the only corpus read
      val queries = attr.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      survivors.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("cluster"),
          R.halfUp(V.cosine(col("q_emb"), col("emb")), 6).as("cosine"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .orderBy(col("query_id"), col("rk"))
    }
  }

  // ---------------------------------------------------------------- t50
  /** The crossover's BRUTE branch as its own oracle-checked query:
    * exact filtered top-5 over the attributed lists (floor forced past
    * the corpus). With t49 covering the probe branch, BOTH sides of
    * [[filteredTopK]]'s crossover are hash-checked through DuckDB — the
    * dispatch itself is spec-pinned (AnnSpec: each branch equals its
    * reference). Also the recall ORACLE for filtered search generally:
    * at 100 TB this exact path is only affordable under a selective
    * predicate, which is precisely when the crossover takes it.
    */
  def t50AnnFilteredExact(s: SparkSession, dir: String): DataFrame =
    filteredTopK(s, dir, bruteFloor = Long.MaxValue)

  /** t49's SQL without the probe restriction: every label-constrained
    * candidate scored exactly (the assignment CTE still derives the
    * output's cluster column from the same persisted centroids).
    */
  def t50Sql(dir: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
       |c AS (SELECT cid, cvec FROM read_parquet('${IvfModel.oraclePath(dir)}/*.parquet')),
       |ad AS (
       |  SELECT vec_id, emb, label, cid,
       |    list_sum(list_transform(list_zip(emb, cvec), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |  FROM e CROSS JOIN c),
       |assigned AS (
       |  SELECT vec_id, emb, label, cid AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM ad)
       |  WHERE rn = 1),
       |queries AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.query_id, a.vec_id, a.cluster,
       |    ${R.halfUpSql(cosineSql("q.q_emb", "a.emb"), 6)} AS cosine
       |  FROM assigned a CROSS JOIN queries q
       |  WHERE a.vec_id <> q.query_id AND a.label = $FilterLabel),
       |ranked AS (
       |  SELECT query_id, vec_id, cluster, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT query_id, vec_id, cluster, cosine, rk FROM ranked
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------------------------- t51
  /** BATCHED ANN serving as a registered, ORACLE-CHECKED query: the
    * [[annTopKBatch]] path FORCED into its past-the-broadcast-cap shape
    * (probe side shuffle-hashed, corpus never broadcast, list scan
    * pruned to the union of probed cells) over a [[BatchQueryBound]]-
    * query batch. The oracle is the same IVF replay as t14/t36 at the
    * wider bound — the join strategy must be invisible in the results,
    * which is exactly the claim batch serving has to prove. (AnnSpec
    * additionally pins the 10⁴-query scale and the plan shape; this
    * registered entry makes the driver's hash gate cover the serving
    * path itself.)
    */
  val BatchQueryBound = 100

  def t51AnnBatchServe(s: SparkSession, dir: String,
                       k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe): DataFrame = {
    IvfModel.ensureLists(s, dir, k = k)
    val lists = IvfModel.lists(s, dir)
    ivfListsProbeFor(lists, IvfModel.centroids(s, dir),
      lists.filter(col("vec_id") < BatchQueryBound)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb")),
      nProbe, broadcastQueries = false)
  }

  def t51Sql(dir: String): String = ivfProbeSql(dir, BatchQueryBound)

  // ---------------------------------------------------------------- t52
  /** COMPOSITE filtered similarity search — t49 generalized to a
    * CONJUNCTIVE predicate over two denormalized attributes
    * (`label = 3 AND n_chars >= 300`: a categorical equality and a
    * numeric range), served from [[IvfModel.ensureCompAttrLists]]'s
    * composite attributed lists. This is the shape production filtered
    * vector search actually runs (the reference's serving layer builds
    * multi-predicate filters — periodo + territorio — per request,
    * `app.py:692-704`): BOTH predicates ride in the list payload, so
    * the whole conjunction is pushed into the partition-pruned parquet
    * scan (PushedFilters shows both; the excluded rows never pay a
    * cosine). Everything else is the t49 contract verbatim: probe cells
    * from the same persisted quantizer, queries not filter-constrained,
    * registered defaults pinned by the oracle.
    */
  val FilterMinChars: Long = IvfModel.RegisteredMinChars

  def t52AnnFilteredComposite(s: SparkSession, dir: String,
                              k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe,
                              label: Int = FilterLabel,
                              minChars: Long = FilterMinChars): DataFrame = {
    IvfModel.ensureCompAttrLists(s, dir, k = k,
      registered = Seq(IvfModel.registeredCompPreds(label, minChars)))
    ivfListsProbe(IvfModel.compAttrLists(s, dir), IvfModel.centroids(s, dir), nProbe,
      candFilter = col("label") === lit(label) && col("n_chars") >= lit(minChars))
  }

  /** t49's SQL with the documents attach (same inner join the index
    * build denormalizes) and the conjunction on the candidate side.
    */
  def t52Sql(dir: String): String =
    s"""WITH e AS (
       |  SELECT e0.vec_id, e0.embedding::DOUBLE[] AS emb, e0.label, d.n_chars
       |  FROM embeddings e0 JOIN documents d ON e0.vec_id = d.doc_id),
       |c AS (SELECT cid, cvec FROM read_parquet('${IvfModel.oraclePath(dir)}/*.parquet')),
       |ad AS (
       |  SELECT vec_id, emb, label, n_chars, cid,
       |    list_sum(list_transform(list_zip(emb, cvec), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
       |  FROM e CROSS JOIN c),
       |assigned AS (
       |  SELECT vec_id, emb, label, n_chars, cid AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM ad)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, emb AS q_emb, cid AS cluster FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS pr
       |    FROM ad WHERE vec_id < 10)
       |  WHERE pr <= $DialIvfNProbe),
       |scored AS (
       |  SELECT p.query_id, a.vec_id, a.cluster,
       |    ${R.halfUpSql(cosineSql("p.q_emb", "a.emb"), 6)} AS cosine
       |  FROM assigned a JOIN probes p USING (cluster)
       |  WHERE a.vec_id <> p.query_id
       |    AND a.label = $FilterLabel AND a.n_chars >= $FilterMinChars),
       |ranked AS (
       |  SELECT query_id, vec_id, cluster, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT query_id, vec_id, cluster, cosine, rk FROM ranked
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** [[filteredTopK]]'s crossover for the COMPOSITE predicate. The
    * dispatch statistic is [[IvfModel.compSurvivorBound]] — an O(1),
    * jobless-on-warm-JVM survivor UPPER bound from per-attribute stats
    * (exact label counts; histogram bound for the range), min'd across
    * the conjunction. The bound errs wide, which errs SAFE: at or below
    * `bruteFloor` the true survivor set is provably small and the exact
    * brute branch is both cheaper and more accurate (an IVF probe over
    * a near-empty universe reads nProbe/K of nothing); above it the
    * partition-pruned probe serves with the conjunction pushed to the
    * scan. Both branches return the t49/t52 frame shape and are pinned
    * against their references in CompositeFilterSpec.
    */
  def compositeFilteredTopK(s: SparkSession, dir: String, label: Int = FilterLabel,
                            minChars: Long = FilterMinChars,
                            k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe,
                            bruteFloor: Long = 1000): DataFrame =
    compositeFilteredTopKOf(s, dir, IvfModel.registeredCompPreds(label, minChars),
      k = k, nProbe = nProbe, bruteFloor = bruteFloor)

  /** [[compositeFilteredTopK]] for an ARBITRARY declared attribute set
    * and N-ary conjunction — the deployment-facing shape (the
    * reference's predicate builder is N-ary, `app.py:692-704`). The
    * served conjunction is REGISTERED into the stats build, so dispatch
    * reads its EXACT survivor count (correlation-immune) and only falls
    * back to the min-over-attributes independence bound for predicates
    * the build didn't declare. Both branches and the pushed-scan plan
    * shape are pinned for a 3-attribute set in NaryCompositeSpec.
    */
  def compositeFilteredTopKOf(s: SparkSession, dir: String,
                              preds: Seq[IvfModel.CompPred],
                              attrs: Seq[IvfModel.CompAttr] = IvfModel.DefaultCompAttrs,
                              k: Int = IvfModel.K, nProbe: Int = IvfModel.NProbe,
                              bruteFloor: Long = 1000): DataFrame = {
    val registered = Seq(preds)
    IvfModel.ensureCompAttrLists(s, dir, k = k, attrs = attrs, registered = registered)
    val attr = IvfModel.compAttrLists(s, dir, attrs)
    val pred = preds.map(_.condition).reduce(_ && _)
    if (IvfModel.compSurvivorBoundOf(s, dir, preds, attrs, registered, k = k) > bruteFloor)
      ivfListsProbe(attr, IvfModel.centroids(s, dir), nProbe, candFilter = pred)
    else {
      // exact path: ≤ bruteFloor candidates × ≤10 queries, query side
      // broadcast, the filtered scan the only corpus read — t50's shape
      val queries = attr.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
      val wTop = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("vec_id"))
      attr.filter(pred).crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("cluster"),
          R.halfUp(V.cosine(col("q_emb"), col("emb")), 6).as("cosine"))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 5)
        .orderBy(col("query_id"), col("rk"))
    }
  }

  // ---------------------------------------------------------------- t16
  /** BPE-style token counting beside the whitespace count (t02): a GPT-2
    * pretokenizer-shaped regex (contraction suffixes, space-prefixed
    * letter runs, digit runs, punctuation runs, residual whitespace) and
    * the fertility ratio bpe/ws that tokenizer-budget pipelines track.
    * The pattern stays inside the RE2 subset (no lookahead — the one
    * GPT-2 construct dropped) so Java regex and DuckDB's regexp engine
    * tokenize identically and the oracle replays the count. Single narrow
    * projection, codegen'd, no shuffle — same scan shape as t02.
    */
  val BpePattern = "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def t16TokenBpe(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"),
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)).as("bpe"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens_ws"),
        size(col("bpe")).as("n_tokens_bpe"),
        // empty/whitespace-only doc: ws count 0 but '\s+' still matches →
        // guard the divide (NULL both engines, not Infinity vs error)
        when(size(col("toks")) === 0, lit(null).cast("double"))
          .otherwise(round(size(col("bpe")).cast("double") / size(col("toks")), 4))
          .as("fertility"))
      .orderBy(col("doc_id"))

  val t16Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks,
       |    regexp_extract_all(text, '${BpePattern.replace("'", "''")}') AS bpe
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS INT) AS n_tokens_ws,
       |  CAST(len(bpe) AS INT) AS n_tokens_bpe,
       |  round(len(bpe) * 1.0 / NULLIF(len(toks), 0), 4) AS fertility
       |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t18
  /** Document chunking — fixed-size token windows with stride overlap
    * (the pretraining / retrieval-context chunker): window [[ChunkSize]],
    * stride [[ChunkStride]], so consecutive chunks share
    * ChunkSize − ChunkStride tokens. One `sequence` + `explode` per doc —
    * a narrow map-side expansion, no shuffle until the final sort; at
    * 100 TB chunk rows write straight back out partitioned by whatever
    * the corpus is partitioned by. Chunks are reported as (token count,
    * md5 of the space-joined window) so the oracle verifies CONTENT, not
    * just shape, without materializing chunk text in the result.
    */
  val ChunkSize = 64
  val ChunkStride = 48

  /** The chunker over an arbitrary (doc_id, text) frame (t18's windows,
    * also reusable for chunking any probe corpus the same way; note the
    * contamination check t22 deliberately uses 13-gram shingles instead —
    * chunk-window hashes miss near-verbatim overlap).
    */
  def chunksOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(ChunkStride))).as("start"))
      .select(col("doc_id"),
        (col("start") / ChunkStride).cast("int").as("chunk_idx"),
        slice(col("toks"), col("start") + 1, lit(ChunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))

  def t18Chunks(s: SparkSession, dir: String): DataFrame =
    chunksOf(documents(s, dir)).orderBy(col("doc_id"), col("chunk_idx"))

  val t18Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, toks, unnest(range(0, len(toks), $ChunkStride)) AS start
       |  FROM t WHERE len(toks) > 0),
       |ch AS (
       |  SELECT doc_id, CAST(start / $ChunkStride AS INT) AS chunk_idx,
       |    list_slice(toks, start + 1, start + $ChunkSize) AS chunk
       |  FROM st)
       |SELECT doc_id, chunk_idx,
       |  CAST(len(chunk) AS INT) AS chunk_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_hash
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- t19
  /** Repeated-passage (boilerplate / contamination) detection: chunk the
    * corpus (t18's windows) and find chunk hashes occurring in more than
    * one document — the scalable primitive behind boilerplate stripping
    * and benchmark-contamination checks (hash the probe set's chunks the
    * same way and semi-join). Shuffle is on the 128-bit chunk hash —
    * uniform by construction, like t01.
    */
  def t19Boilerplate(s: SparkSession, dir: String): DataFrame =
    t18Chunks(s, dir)
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("chunk_hash"))

  val t19Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, toks, unnest(range(0, len(toks), $ChunkStride)) AS start
       |  FROM t WHERE len(toks) > 0),
       |ch AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_slice(toks, start + 1, start + $ChunkSize), ' ')) AS chunk_hash
       |  FROM st)
       |SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM ch GROUP BY chunk_hash HAVING count(DISTINCT doc_id) > 1
       |ORDER BY chunk_hash""".stripMargin

  // ---------------------------------------------------------------- t17
  /** Deterministic train/val/test split — the reproducible way to split a
    * training corpus at scale: bucket = md5(doc_id) mod 100, split by
    * fixed bucket ranges (90/5/5). No randomness, no sampling pass, no
    * state: the assignment is a pure per-row expression, stable under
    * re-runs, re-partitioning, and corpus growth (a doc's split never
    * changes when others are added — the property random splits lose).
    * Same md5-60bit bigint trick as the dedup family, so DuckDB replays
    * the exact assignment.
    */
  /** THE split recipe — single-sourced so t17 (assignment), t26 (leakage)
    * and t28 (decontamination) can never disagree about which documents
    * are train: md5-offset-1 bucket mod 100, train < [[TrainUpper]] ≤
    * val < [[ValUpper]] ≤ test. Scala and SQL twins below; change
    * thresholds HERE only.
    */
  val TrainUpper = 90
  val ValUpper = 95

  def splitBucket(id: Column): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("bigint"), lit(100L))

  def splitAssign(id: Column): Column = {
    val b = splitBucket(id)
    when(b < TrainUpper, "train").when(b < ValUpper, "val").otherwise("test")
  }

  def splitBucketSql(idExpr: String): String =
    s"CAST(('0x' || substring(md5(CAST($idExpr AS VARCHAR)), 1, 15)) AS BIGINT) % 100"

  def splitAssignSql(idExpr: String): String =
    s"CASE WHEN ${splitBucketSql(idExpr)} < $TrainUpper THEN 'train' " +
      s"WHEN ${splitBucketSql(idExpr)} < $ValUpper THEN 'val' ELSE 'test' END"

  def trainSplitOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), splitBucket(col("doc_id")).as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainUpper, "train")
          .when(col("bucket") < ValUpper, "val")
          .otherwise("test"))
      .orderBy(col("doc_id"))

  def t17TrainSplit(s: SparkSession, dir: String): DataFrame =
    trainSplitOf(documents(s, dir))

  val t17Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    ${splitBucketSql("doc_id")} AS bucket
       |  FROM documents)
       |SELECT doc_id, lang, bucket,
       |  CASE WHEN bucket < $TrainUpper THEN 'train'
       |       WHEN bucket < $ValUpper THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t15
  /** Embedding-cosine NEAR-DUP PAIRS — the vector-space member of the
    * dedup family (beside t01 exact, t06 MinHash, t07 SimHash, t08
    * Jaccard): every unordered pair with cosine ≥ [[CosTau]].
    *
    * Candidate generation is hyperplane-LSH bucketed: each vector probes
    * all buckets within Hamming radius [[PairRadius]] of its own sign
    * code, so the pair join is EQUI on probe bucket — never all-pairs. A
    * qualifying pair (hamming h ≤ radius) matches on exactly one mask
    * (m = code_a XOR code_b), so no dedup step is needed. The exact cosine
    * then verifies candidates. At 6 bits / radius 4 the per-bit flip
    * probability at τ=0.4 (angle 66°, θ/π ≈ 0.37) gives expected pair
    * recall ≈ 0.97 on this isotropic corpus (asserted ≥ 0.9 in AnnSpec);
    * real near-dup corpora (cosine ≥ 0.9, flip prob ≈ 0.14) reach the
    * same recall at radius 1-2 and a far smaller probe fraction.
    *
    * Oracle parity: DuckDB replays bucket assignment (same seeded ±1
    * hyperplane literals as t12), the probe explosion, the a<b pairing and
    * the rounded-cosine threshold bit-for-bit.
    */
  val CosTau = 0.4
  val PairRadius = 4

  /** Per-sign-code bucket cap for the t15/t34 candidate join — the
    * embedding-space twin of the text family's [[capBuckets]] guard. The
    * dial contract (`bits ≈ log2(n/bucket_target)`) bounds the AVERAGE
    * bucket; real embedding corpora are clustered, and one dense semantic
    * cluster (mass near-duplicates, templated content) piles into a single
    * sign code and makes that bucket's probe join quadratic. Buckets over
    * the cap are excluded from candidate generation BEFORE the join —
    * t06 semantics: a mass-collision bucket is degenerate content, its
    * members are conservatively KEPT (they pair with nothing, so dedup
    * never drops them). Raise `bits` (locally finer codes) to split such
    * buckets when they are genuine dup mass worth pairing.
    */
  val EmbBucketCap = 1000

  /** (bits, radius) are arguments for the same reason as [[t12AnnLsh]]:
    * candidate volume is probe_fraction × n²/2^bits, so bits must grow
    * with the corpus (`bits ≈ log2(n/bucket_target)`) for the candidate
    * join to stay sub-quadratic. Defaults = test-corpus dials = what the
    * oracle SQL replays.
    *
    * `narrowProbe` controls what the probe explosion carries. The wide
    * default rides the 64-double embedding through every exploded probe
    * row — one join, no extra shuffle, fastest while masks are few. The
    * narrow form explodes (vec_a, bucket) only and re-joins the
    * embeddings by vec_a AFTER candidate generation — an extra
    * candidate-sized shuffle, but the exploded volume drops from
    * masks × row-width to masks × 16 bytes: the right shape once wide
    * codes push mask counts into the hundreds (see SCALE.md's measured
    * dial crossover). Identical results by construction (spec-pinned).
    */
  def t15CosineNearDup(s: SparkSession, dir: String,
                       bits: Int = Lsh.Bits, radius: Int = Lsh.PolicyRadius,
                       narrowProbe: Option[Boolean] = None,
                       maxBucket: Int = EmbBucketCap): DataFrame =
    t15CosineNearDupOf(embeddings(s, dir), bits,
      Lsh.resolveRadius(bits, radius, PairRadius), narrowProbe, maxBucket)

  /** Probe-shape crossover: at or below this mask count the wide probe
    * (embedding rides every exploded row, single join, zero extra
    * shuffles — the measured-fastest shape at the test dials' 57 masks)
    * wins; above it the exploded frame outgrows what any single node can
    * hold — Catalyst CANNOT see this (Generate stats don't multiply the
    * child by the array length, so the planner happily puts the exploded
    * side in a BroadcastExchange: measured OOM at 20k vectors × 386
    * masks × 550 B/row ≈ 4 GB on an 8 GB driver) — so the narrow shape
    * takes over and the candidate join is PINNED to shuffle-hash.
    */
  val NarrowProbeMaskThreshold = 64

  /** The narrow probe's OTHER precondition, found by the round-11 sf10
    * decade² run: its post-candidate attach join is only cheap while the
    * attach side (the per-vector embedding frame) BROADCASTS. Auto-
    * broadcast stops at 10 MB, and past that the planner silently flips
    * the attach to a shuffle of the CANDIDATE intermediate —
    * probe_fraction × n × occupancy rows × ~550 B, i.e. hundreds of GB
    * of shuffle spill at 200k vectors (measured: filled the disk at
    * bits=13). So the narrow shape now broadcasts the attach side
    * EXPLICITLY while its plan-stats estimate fits this budget, and
    * falls back to the WIDE shape beyond it: the wide probe shuffle is
    * masks × n × row-width — linear in n — and its candidates reduce
    * map-side (filter + partial agg) without ever being shuffled.
    */
  val AttachBroadcastMaxBytes: Long = 256L << 20

  /** The increment pair join's OTHER side of the same coin: when the
    * EXPLODED probe frame's true size — the batch's honest plan-stats
    * bytes × the mask fan-out — provably fits this budget, broadcasting
    * it EXPLICITLY is strictly better than shuffle-hash (the corpus/
    * index scan stays in place; a small increment against a huge index
    * moves ZERO corpus bytes). Past the budget, shuffle-hash on bucket.
    * The planner cannot make this call either way: Generate keeps its
    * child's estimate, so left alone it broadcasts a ~2 GB exploded
    * frame (the sf1.0 decade OOM) — the gate multiplies the pre-explode
    * estimate by the fan-out itself, and the estimate errs WIDE for the
    * narrow (ids-only) probe shape, so over-budget only ever demotes to
    * the shuffle that is already linear and safe. The budget is set
    * against Catalyst's ESTIMATE, which over-counts array columns by
    * ~10× (measured: a 110 KB coded batch estimates 1.33 MB) — 256 MB
    * estimated is a few tens of MB on the wire, while the sf1.0 OOM
    * case (2000-row batch × 386 masks ≈ 5 GB estimated) stays firmly on
    * the shuffle side.
    */
  val ProbeBroadcastMaxBytes: Long = 256L << 20

  /** `SPARK_GRAFT_PROBE_BC_MB` dials [[ProbeBroadcastMaxBytes]] for a
    * session (MB) — the knob a cluster deployment raises to cut the
    * sliced banded probe's slice count K (each slice re-streams the
    * pruned corpus, so at a fixed batch the wall's stream term is
    * ~K × stream; SCALE.md round 14's decade³ completion paid K ≈ 19 at
    * the 256 MB default). Driver memory AND `spark.driver.maxResultSize`
    * must cover the raised budget: one slice holds ~2 budgets of
    * broadcast (slim probes + slice vectors), collected through the
    * driver, × the effective dispatch width when slices dispatch
    * concurrently ([[BandEmbIndex.dialSlicePar]]).
    *
    * The MB value is clamped to [[MaxProbeBcMb]] (loudly) so the byte
    * conversion below cannot overflow Long — an absurd dial used to wrap
    * silently past 2^43 MB, defeating the loud-validation layer for this
    * one dial (round-16 ADVICE).
    */
  private[graft] val MaxProbeBcMb: Long = 1L << 24 // 16 TB — far past any heap
  private[graft] lazy val DialProbeBroadcastMaxBytes: Long =
    envLongCapped("SPARK_GRAFT_PROBE_BC_MB", 1, MaxProbeBcMb,
      ProbeBroadcastMaxBytes >> 20) << 20

  /** Budget for a SHUFFLED-HASH build side. The shuffle-hash pin exists
    * to keep the planner from broadcasting Generate-hidden or
    * query-derived frames — but SHJ's per-partition hash map CANNOT
    * SPILL, so past this estimated size the pinned side flips to a
    * `merge` hint instead: sort-merge shuffles the same bytes and
    * spills gracefully, at a sort's cost. Measured, not hypothetical:
    * the round-12 10⁵-query IVFADC serving run died with "Can't
    * acquire 67108864 bytes memory to build hash relation" — 1.6e6
    * probe rows × ~1 KB ADC tables ≈ 1.7 GB of build across 32
    * partitions under 32-way task-memory contention. 512 MB total (a
    * few tens of MB per partition at default parallelism) passes every
    * bench/test volume and flips exactly the corpus-scale serving
    * batches that need the spillable path; deployments that raise
    * shuffle.partitions proportionally can raise it.
    */
  val ShuffleHashBuildMaxBytes: Long = 512L << 20

  /** The query-derived JOIN SIDE under the three-way strategy gate:
    * explicit broadcast when the caller proved it tiny; shuffle-hash
    * while `estBytes` fits the non-spillable build budget; sort-merge
    * past it. `estBytes` must be computed by the caller from an EXACT
    * row count × known row width — a localCheckpoint carries its ORIGIN
    * plan's statistics, so `optimizedPlan.stats` on a materialized
    * query frame still reports the pre-materialization fantasy (the
    * first version of this gate read that and sent the 10⁵-query ADC
    * build straight into the SHJ failure it exists to prevent).
    * Evaluated lazily: the broadcast branch never pays the count.
    */
  private[graft] def pinnedSide(df: DataFrame, broadcastIt: Boolean,
                                estBytes: => Long): DataFrame =
    if (broadcastIt) broadcast(df)
    else if (estBytes <= ShuffleHashBuildMaxBytes) df.hint("shuffle_hash")
    else df.hint("merge")

  /** The t15 pipeline over an arbitrary (vec_id, embedding) frame — also
    * the spec hook for the [[EmbBucketCap]] skew guard on pathological
    * dense-bucket corpora.
    */
  def t15CosineNearDupOf(embSrc: DataFrame,
                         bits: Int = Lsh.Bits, radius: Int = Lsh.PolicyRadius,
                         narrowProbe: Option[Boolean] = None,
                         maxBucket: Int = EmbBucketCap): DataFrame = {
    // norms materialize per VECTOR before the join (n rows), so the only
    // per-PAIR work is one native dot product and a divide — the HOF
    // cosine here re-evaluated three 64-element folds per candidate pair
    // and measured 105 s at sf0.1 vs ~2 s for this shape
    val e0 = embSrc
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", V.norm(col("emb")))
      .withColumn("bucket", Lsh.bucketOf(col("emb"), bits))
    // The skew guard. Per-bucket counts collapse to ≤ 2^bits rows under
    // map-side partial aggregation, and only the OVERSIZED codes (normally
    // zero) broadcast back as an anti-join — the corpus side takes no
    // shuffle for the guard, unlike the text family's window-based
    // capBuckets (whose banded frames are about to shuffle anyway). The
    // capped frame bounds every join-key group: ≤ maxBucket corpus rows
    // per bucket and ≤ |masks| × maxBucket probe rows targeting it, so
    // per-key candidate work is ≤ |masks| × maxBucket² regardless of skew.
    val oversized = e0.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("bucket"))
    val e = e0.join(broadcast(oversized), Seq("bucket"), "left_anti")
    val masks = Lsh.masksWithin(Lsh.resolveRadius(bits, radius, PairRadius), bits)
    // narrow is only safe while the attach side BROADCASTS (see
    // [[AttachBroadcastMaxBytes]]): its attach join otherwise shuffles
    // the candidate intermediate — probe_fraction × n × occupancy rows
    // of ~550 B, the disk-filling shape the sf10 decade² run measured.
    // The estimate is honest here: embSrc is scan-derived or a
    // materialized checkpoint, no Generate in its lineage.
    lazy val attachFits =
      embSrc.queryExecution.optimizedPlan.stats.sizeInBytes <= AttachBroadcastMaxBytes
    val scored =
      if (narrowProbe.getOrElse(masks.length > NarrowProbeMaskThreshold && attachFits)) {
        val probes = e.select(col("vec_id").as("vec_a"),
          explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
        // shuffle-hash PINNED: the probe side's true size is masks × n —
        // invisible to the planner (Generate keeps the child's estimate),
        // which otherwise elects it for a BroadcastExchange that OOMs the
        // driver the moment corpus × masks outgrows heap. Build side = e
        // (≤ maxBucket rows per bucket after the guard, so the per-
        // partition hash map is bounded on any skew).
        e.hint("shuffle_hash").join(probes, Seq("bucket"))
          .filter(col("vec_a") < col("vec_id"))
          .select(col("vec_a"), col("vec_id").as("vec_b"),
            col("emb").as("emb_b"), col("nrm").as("nrm_b"))
          // EXPLICIT broadcast: the gate above guarantees it fits, and
          // letting the planner decide flips this into a shuffle of the
          // candidate intermediate the moment the frame crosses the
          // 10 MB auto threshold
          .join(broadcast(e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
            col("nrm").as("nrm_a"))), Seq("vec_a"))
          .select(col("vec_a"), col("vec_b"),
            R.halfUp(when(col("nrm_a") === 0.0 || col("nrm_b") === 0.0, 0.0)
              .otherwise(V.dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))), 6)
              .as("cosine"))
      } else {
        val probes = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
          col("nrm").as("nrm_a"),
          explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
        // same shuffle-hash pin as the narrow branch: even at ≤ 64 masks
        // the exploded side's true size is masks × n (the planner's
        // broadcast pick cost 39 s of single-threaded build at the sf1.0
        // rehearsal before dying outright at the wider dial); sf0.1
        // timing is unchanged and the build side stays cap-bounded.
        e.hint("shuffle_hash").join(probes, Seq("bucket"))
          .filter(col("vec_a") < col("vec_id"))
          .select(col("vec_a"), col("vec_id").as("vec_b"),
            R.halfUp(when(col("nrm_a") === 0.0 || col("nrm") === 0.0, 0.0)
              .otherwise(V.dot(col("emb_a"), col("emb")) / (col("nrm_a") * col("nrm"))), 6)
              .as("cosine"))
      }
    scored
      .filter(col("cosine") >= CosTau)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The t15 candidate chain (embeddings → dialed bucket codes → probe
    * explosion → cosine-scored candidates) as ONE shared oracle fragment —
    * t15Sql and t34Sql both splice it, the same way the t06/t08/t13 family
    * shares shingle/sig/pair CTEs, so a dial or rounding change can never
    * leave one of the two checking stale semantics.
    */
  private[graft] def t15CandCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |eb0 AS (SELECT vec_id, emb, ${Lsh.bucketSql("emb", DialBits)} AS bucket FROM e),
       |eb AS (
       |  SELECT vec_id, emb, bucket FROM (
       |    SELECT vec_id, emb, bucket, count(*) OVER (PARTITION BY bucket) AS bucket_n FROM eb0)
       |  WHERE bucket_n <= $DialEmbCap),
       |pr AS (
       |  SELECT vec_id AS vec_a, emb AS emb_a, xor(bucket, m) AS bucket
       |  FROM eb CROSS JOIN (SELECT unnest(${Lsh.masksSqlWithin(DialPairRadius, DialBits)}) AS m)),
       |cand AS (
       |  SELECT p.vec_a, e.vec_id AS vec_b,
       |    ${R.halfUpSql(cosineSql("p.emb_a", "e.emb"), 6)} AS cosine
       |  FROM eb e JOIN pr p USING (bucket)
       |  WHERE p.vec_a < e.vec_id)""".stripMargin

  lazy val t15Sql: String =
    s"""WITH $t15CandCtes
       |SELECT vec_a, vec_b, cosine FROM cand
       |WHERE cosine >= $CosTau ORDER BY vec_a, vec_b""".stripMargin

  // ---------------------------------------------------------------- t34
  /** Transitive near-duplicate clusters in EMBEDDING space — the semantic
    * counterpart of t13's text clusters: connected components over the t15
    * cosine pair graph, one canonical survivor (min vec_id) per cluster.
    * A chain A≈B≈C collapses to {A} even when cos(A, C) < τ — exactly the
    * treatment semantic dedup needs when paraphrase chains drift. Pure
    * composition of the library's pieces (t15's capped LSH candidate join
    * feeding [[dedupClustersOf]]'s label propagation), so the scale shape
    * is inherited: banded candidate generation, one join+agg job per
    * propagation iteration, lineage cut each round. The oracle replays
    * bucket codes, cosines AND the transitive closure (recursive CTE) in
    * DuckDB — both engines honor the same (bits, radius) dial.
    */
  def t34EmbedDedupClusters(s: SparkSession, dir: String,
                            bits: Int = Lsh.Bits, radius: Int = Lsh.PolicyRadius,
                            maxBucket: Int = EmbBucketCap): DataFrame = {
    val pairs = cosineCandidatePairs(s, dir, bits,
      Lsh.resolveRadius(bits, radius, PairRadius), maxBucket)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val nodes = embeddings(s, dir).select(col("vec_id").as("doc_id")).distinct()
    dedupClustersOf(nodes, pairs)
      .select(col("doc_id").as("vec_id"), col("cluster"),
        col("is_canonical"), col("cluster_size"))
      .orderBy(col("cluster"), col("vec_id"))
  }

  lazy val t34Sql: String =
    s"""WITH RECURSIVE $t15CandCtes,
       |pairs AS (SELECT DISTINCT vec_a, vec_b FROM cand WHERE cosine >= $CosTau),
       |edge AS (
       |  SELECT vec_a AS a, vec_b AS b FROM pairs
       |  UNION ALL
       |  SELECT vec_b AS a, vec_a AS b FROM pairs),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edge
       |  UNION
       |  SELECT r.src, e2.b FROM reach r JOIN edge e2 ON r.dst = e2.a),
       |comp AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster FROM reach GROUP BY src),
       |sized AS (
       |  SELECT vec_id, cluster, (vec_id = cluster) AS is_canonical,
       |    count(*) OVER (PARTITION BY cluster) AS cluster_size
       |  FROM comp)
       |SELECT vec_id, cluster, is_canonical, cluster_size FROM sized
       |WHERE cluster_size > 1 ORDER BY cluster, vec_id""".stripMargin

  // ---------------------------------------------------------------- t54
  /** Banded (OR-amplification) dials for the t54 family — env-dialed
    * like the single-table (bits, radius), and like them inlined
    * identically into the oracle SQL. Per-table code width defaults to
    * the session's [[DialBits]] (one `SPARK_GRAFT_LSH_BITS` dials both
    * families consistently); the table count defaults to the
    * RECALL-FLOOR policy [[Lsh.bandTablesFor]] — the banded family's
    * analog of `radiusFor`, sizing L so per-pair recall on genuine
    * duplicates clears [[Lsh.BandRecallFloor]] at the dialed width.
    */
  private[graft] lazy val DialBandBits: Int =
    envInt("SPARK_GRAFT_BAND_BITS", 1, DialBits)
  private[graft] lazy val DialBandRadius: Int =
    envInt("SPARK_GRAFT_BAND_RADIUS", 0, 1)
  private[graft] lazy val DialBandTables: Int =
    envInt("SPARK_GRAFT_BAND_TABLES", 1, Lsh.bandTablesFor(DialBandBits, DialBandRadius))

  /** Embedding near-dup pairs by BANDED LSH — L independent sign-bit
    * tables over disjoint plane windows ([[Lsh.planesForTable]]), each
    * probed within a small in-band Hamming radius; a pair is a candidate
    * if ANY table matches (the classic OR-construction, the same
    * AND-within/OR-across structure as t06's MinHash bands — applied to
    * the embedding side). Same contract as t15: exact-cosine-verified
    * pairs at τ = [[CosTau]], subset of the brute-force pair set by
    * construction.
    *
    * WHY a second pair family: the round-13 lifecycle measurement showed
    * the single-table Hamming-ball's cost is EXPLODE-DOMINATED — wall
    * tracks batch × masks (the probe fan-out), not matched candidates —
    * so holding recall ≥ 0.85 as `bitsFor` widens codes forces 400+
    * masks/item and the pair join's decade² to ~4×. The banded family
    * hits the same recall at L × (1 + bits) fan-out (band4:12:1
    * measured dup-recall 0.931 vs the 576-mask (15, 3) single table's
    * 0.853 — 11× less fan-out, HIGHER recall), and its scaling law is
    * closed-form: L from [[Lsh.bandTablesFor]] grows ~n^0.22 while the
    * single table loses recall every decade at any bounded budget.
    *
    * Scale shape mirrors t15's wide probe: codes are computed per
    * vector (L × bits dots, codegen'd), the probe side explodes
    * L × (1+bits) rows per vector — linear in n — the candidate join is
    * PINNED to shuffle-hash on (tbl, bucket) (same Generate-blind
    * planner rationale as t15), per-(table, bucket) skew is capped by
    * the same anti-join guard, and the OR-dedup is a groupBy on the
    * VERIFIED pairs only (map-side partial agg; duplicates across
    * tables carry identical cosines).
    */
  def t54NearDupBanded(s: SparkSession, dir: String): DataFrame =
    // the slim sliced self-probe, not the direct construction below: the
    // direct shape shuffles the embedding payload on the mask explode and
    // ENOSPC'd the round-17 3M-vector seed; routing the one-shot query
    // here keeps it scale-safe AND puts the self-probe path (including
    // its empty-index increment semantics) under the driver's t54 hash
    // oracle every round. t54NearDupBandedOf remains as the reference
    // implementation the equivalence spec compares against.
    BandEmbIndex.selfCosinePairsOf(embeddings(s, dir),
      DialBandTables, DialBandBits, DialBandRadius)

  def t54NearDupBandedOf(embSrc: DataFrame, tables: Int, bits: Int,
                         radius: Int, maxBucket: Int = EmbBucketCap): DataFrame = {
    require(tables >= 1 && radius >= 0)
    val e0 = embSrc
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", V.norm(col("emb")))
      // one-pass native coding — see BandEmbIndex.codedOf's note
      .select(col("vec_id"), col("emb"), col("nrm"),
        posexplode(Lsh.bucketsOfTables(col("emb"), bits, tables)).as(Seq("tbl", "bucket")))
    // per-(table, bucket) skew guard — t15's cap, keyed by band too
    val oversized = e0.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select(col("tbl"), col("bucket"))
    val e = e0.join(broadcast(oversized), Seq("tbl", "bucket"), "left_anti")
    val masks = Lsh.masksWithin(radius, bits)
    val probes = e.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"), col("tbl"),
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    e.hint("shuffle_hash").join(probes, Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_id"))
      .select(col("vec_a"), col("vec_id").as("vec_b"),
        R.halfUp(when(col("nrm_a") === 0.0 || col("nrm") === 0.0, 0.0)
          .otherwise(V.dot(col("emb_a"), col("emb")) / (col("nrm_a") * col("nrm"))), 6)
          .as("cosine"))
      .filter(col("cosine") >= CosTau)
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(max(col("cosine")).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The t54 candidate chain (per-table codes → per-(tbl, bucket) cap →
    * in-band probe → cosine-scored candidates) as ONE shared oracle
    * fragment — [[t54Sql]] and [[t55Sql]] both splice it, the same
    * pairing discipline as [[t15CandCtes]] for t15/t34.
    */
  private[graft] def t54CandCtes: String = {
    val perTable = (0 until DialBandTables).map { t =>
      s"SELECT vec_id, emb, $t AS tbl, ${Lsh.bucketSqlTable("emb", DialBandBits, t)} AS bucket FROM e"
    }.mkString("\n  UNION ALL\n  ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |ebt0 AS (
       |  $perTable),
       |ebt AS (
       |  SELECT vec_id, emb, tbl, bucket FROM (
       |    SELECT vec_id, emb, tbl, bucket,
       |      count(*) OVER (PARTITION BY tbl, bucket) AS bucket_n FROM ebt0)
       |  WHERE bucket_n <= $DialEmbCap),
       |prt AS (
       |  SELECT vec_id AS vec_a, emb AS emb_a, tbl, xor(bucket, m) AS bucket
       |  FROM ebt CROSS JOIN (SELECT unnest(${Lsh.masksSqlWithin(DialBandRadius, DialBandBits)}) AS m)),
       |candt AS (
       |  SELECT p.vec_a, e.vec_id AS vec_b,
       |    ${R.halfUpSql(cosineSql("p.emb_a", "e.emb"), 6)} AS cosine
       |  FROM ebt e JOIN prt p USING (tbl, bucket)
       |  WHERE p.vec_a < e.vec_id)""".stripMargin
  }

  lazy val t54Sql: String =
    s"""WITH $t54CandCtes
       |SELECT vec_a, vec_b, max(cosine) AS cosine FROM candt
       |WHERE cosine >= $CosTau GROUP BY vec_a, vec_b ORDER BY vec_a, vec_b""".stripMargin

  /** t55's oracle: the BANDED whole-corpus transitive closure — t54's
    * candidate chain feeding t34's recursive-CTE component block. t55's
    * claim is t40's with the banded pair source: increment through the
    * persisted [[BandEmbIndex]] == full banded recluster.
    */
  lazy val t55Sql: String =
    s"""WITH RECURSIVE $t54CandCtes,
       |pairs AS (SELECT DISTINCT vec_a, vec_b FROM candt WHERE cosine >= $CosTau),
       |edge AS (
       |  SELECT vec_a AS a, vec_b AS b FROM pairs
       |  UNION ALL
       |  SELECT vec_b AS a, vec_a AS b FROM pairs),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edge
       |  UNION
       |  SELECT r.src, e2.b FROM reach r JOIN edge e2 ON r.dst = e2.a),
       |comp AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster FROM reach GROUP BY src),
       |sized AS (
       |  SELECT vec_id, cluster, (vec_id = cluster) AS is_canonical,
       |    count(*) OVER (PARTITION BY cluster) AS cluster_size
       |  FROM comp)
       |SELECT vec_id, cluster, is_canonical, cluster_size FROM sized
       |WHERE cluster_size > 1 ORDER BY cluster, vec_id""".stripMargin

  // ---------------------------------------------------------------- t13
  /** Near-duplicate CLUSTERS: connected components over the MinHash
    * candidate graph via iterative min-label propagation, then one
    * canonical survivor per cluster (oracle-checked: DuckDB computes the
    * same components with a recursive transitive-closure CTE over the
    * same candidate pairs). Takes the pair source as a parameter so a
    * driver run shares one LSH pass across t06/t08/t13.
    *
    * Scale shape: each iteration is one join + one aggregate, both
    * shuffling on doc_id; lineage is cut every iteration (iterative
    * algorithms otherwise stack plans) — via RELIABLE checkpoint when the
    * session has a checkpoint dir configured
    * (`spark.sparkContext.setCheckpointDir`, object storage at 100 TB:
    * survives executor loss), else localCheckpoint (executor memory,
    * single-node dev/test). Near-dup components are tiny (diameter ≤ a
    * few hops), so propagation converges quickly; the loop runs until a
    * full fixpoint (up to MaxIters) and REPORTS if the budget ran out
    * rather than silently returning a split clustering.
    */
  def dedupClusters(s: SparkSession, dir: String, pairsSrc: DataFrame): DataFrame =
    dedupClustersOf(documents(s, dir).select(col("doc_id")).distinct(), pairsSrc)

  /** Reliable checkpoint when configured, localCheckpoint otherwise —
    * same lazy/eager contract either way. Reliable checkpoint files are
    * reclaimed by Spark's context cleaner ONLY with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (set by
    * `Graft.session`; Spark's default is false) — without it a driver
    * looping the clustering leaks checkpoint copies per iteration.
    */
  private def cutLineage(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Rebuild `df` (a just-checkpointed frame) as a plain scan of its own
    * RDD, dropping the statistics the checkpoint carried over.
    *
    * `Dataset.checkpoint` rewrites the SOURCE plan's statistics onto the
    * checkpointed node (`LogicalRDD.rewriteStatsAndConstraints`), so a
    * loop that re-checkpoints a self-join of its previous output — the
    * path-halving round below — multiplies the carried sizeInBytes into
    * itself every round: the BigInt's digit count grows geometrically,
    * and once the seed lineage is deep (t43 chains the whole clustered
    * curation tree into [[propagateLabels]]) a SINGLE stats walk
    * (`SizeInBytesOnlyStatsPlanVisitor`) burns minutes of driver CPU
    * inside `BigInteger.multiply` before any job starts — observed live
    * at sf0.1, stuck in round ~15 with million-digit sizes. The rebuilt
    * frame reports the conservative default sizeInBytes instead, which is
    * what the astronomical carried number already meant operationally
    * (nothing that large ever broadcasts), so no join strategy changes —
    * but every subsequent stats walk is constant-cost. The Row round-trip
    * is lazy and per-action costs one extra ser/de pass over a
    * label-width (two/three long columns) frame — noise next to the
    * round's shuffle.
    */
  private def dropCarriedStats(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Same clustering over an explicit node set — the reusable form
    * (Curation's transitive near-dup stage feeds its own survivor set).
    */
  def dedupClustersOf(nodes: DataFrame, pairsSrc: DataFrame): DataFrame =
    presentClusters(propagateLabels(nodes, pairsSrc))

  /** The converged min-label assignment over the EDGE-PARTICIPATING
    * subset of `nodes` — the iterative core shared by [[dedupClustersOf]]
    * and [[dedupClustersIncrement]]. Nodes without a pair never appear
    * (their label is trivially their own id — callers coalesce).
    */
  private def propagateLabels(nodes: DataFrame, pairsSrc: DataFrame): DataFrame = {
    // The pair source is cut FIRST, then mirrored: both union branches
    // reference one materialized frame, so an expensive uncached source
    // (t34 feeds the whole t15 LSH join in here) runs once, not once per
    // branch. The union itself is a cheap projection over the checkpoint
    // and needs no second cut.
    val pairs = cutLineage(pairsSrc.select(col("doc_a"), col("doc_b")), eager = true)
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))

    // Propagate over the EDGE-PARTICIPATING subset of `nodes` only: a node
    // with no candidate pair can never join a >1 cluster, and the final
    // cluster_size > 1 filter drops it regardless — so iterating it adds
    // nothing. At 100 TB this is the difference between shuffling the
    // whole corpus per iteration and shuffling only the dup-involved
    // sliver (near-dup fractions are typically a few percent). The
    // semi-join also keeps the node-set contract: pair endpoints outside
    // `nodes` stay excluded, exactly as when every node carried a label.
    val participating = nodes.join(
      edges.select(col("doc_a").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")

    // BOUNDED LOCAL FALLBACK — the broadcast-join principle applied to
    // connected components: when the edge-participating graph fits the
    // driver comfortably (≤ [[LocalCCMaxEdges]] pairs ≈ 16 MB of longs,
    // the same order as a broadcast join's small side), a driver-side
    // union-find answers in TWO jobs (collect pairs + collect nodes)
    // what the distributed loop answers in one job per round — at test
    // scale the sliver is thousands of edges and the loop was pure
    // job-scheduling overhead. The result is bit-identical: union-by-min
    // makes every component's root its minimum id, which IS the
    // converged min-label (order-independent, so partitioning-invariant
    // like the loop). At 100 TB the FULL-corpus recluster exceeds the
    // bound and runs the distributed loop unchanged — but the
    // INCREMENT's contracted graph ([[dedupClustersIncrement]]) is
    // batch-bounded by construction, so per-batch maintenance stays on
    // the 2-job path at any corpus size, exactly like its merged
    // relabeling already broadcasts. The pair count is one cheap job
    // over the already-materialized cut. Dial:
    // `graft.cc.localMaxEdges` (specs set 0 to force the loop).
    val localMax = sys.props.get("graft.cc.localMaxEdges").map(_.toLong)
      .getOrElse(LocalCCMaxEdges)
    val nPairs = pairs.count()
    // budget telemetry: the contracted-graph edge count IS the term that
    // decides local-vs-distributed, so surface it when it matters —
    // past half the budget (a deployment approaching the collect bound
    // should see it coming)
    if (nPairs > localMax / 2)
      System.err.println(s"[graft.cc] contracted pairs=$nPairs localMax=$localMax " +
        s"path=${if (nPairs <= localMax) "driver-union-find" else "distributed-loop"}")
    // the driver union-find collects everything it reads, so the pair
    // cut has no consumer past it — release it instead of leaving it
    // pinned for the caller's lifetime
    if (nPairs <= localMax) {
      val labels = localComponents(participating, pairs)
      Frames.release(pairs)
      return labels
    }

    // Shuffle partitions must track the GRAPH, not the core count — the
    // capacity-model deployment rule measured by failing first
    // (BENCH_R16_CC.json: at 400M edges, partitions=cpus=32 put ~25M
    // mirrored rows in every per-task aggregation map and died
    // AGGREGATE_OUT_OF_MEMORY on a 48 GB heap; 200 still died, 400
    // completed ⇒ ~2M mirrored rows ≈ 1M pairs per task). Guards belong
    // in arithmetic, not SCALE.md notes (PLANS.md rule), so the loop
    // raises the session's shuffle partitions itself for its own rounds
    // and restores the caller's value after — the edge count is already
    // in hand from the routing decision, so the scaling is free.
    val sess = nodes.sparkSession
    val prevParts = sess.sessionState.conf.numShufflePartitions
    val ccParts = ccShufflePartitionsFor(nPairs, prevParts)
    if (ccParts > prevParts) {
      System.err.println(s"[graft.cc] shuffle partitions $prevParts → $ccParts " +
        s"for the propagation loop (~${ccPairsPerTask} pairs/task at $nPairs edges)")
      sess.conf.set("spark.sql.shuffle.partitions", ccParts.toString)
    }
    // the loop's last round is a materialized cut, so the pair cut has no
    // consumer past it either
    try propagateLoop(participating, edges)
    finally {
      if (ccParts > prevParts)
        sess.conf.set("spark.sql.shuffle.partitions", prevParts.toString)
      Frames.release(pairs)
    }
  }

  /** Pairs per task for the distributed CC loop's shuffles — measured,
    * not chosen: 1M pairs mirror to 2M edge rows per task, the densest
    * packing that survived a 48 GB heap at 400M edges (BENCH_R16_CC.json;
    * 200 partitions = 2M pairs/task still died, 400 completed).
    */
  private[graft] val CcPairsPerTask = 1000000L

  /** Spec hook mirroring `graft.cc.localMaxEdges`: the per-task pair
    * budget, overridable so a 40-edge test graph can exercise the
    * raise-and-restore path without forty million rows.
    */
  private def ccPairsPerTask: Long =
    sys.props.get("graft.cc.pairsPerTask").map(_.toLong).getOrElse(CcPairsPerTask)

  /** The loop's shuffle-partition count: the session default (small
    * graphs never pay extra tasks) raised to ~[[CcPairsPerTask]] pairs
    * per task, bounded so a pathological edge count cannot demand
    * millions of tasks (at the bound each task still holds its budget;
    * past it the cluster is mis-sized for the graph and task-count is
    * not the binding constraint).
    */
  private[graft] def ccShufflePartitionsFor(nPairs: Long, sessionParts: Int): Int = {
    val perTask = ccPairsPerTask
    math.max(sessionParts.toLong,
      math.min(200000L, (nPairs + perTask - 1) / perTask)).toInt
  }

  /** The iterative min-label propagation itself, over the already-routed
    * distributed path — split from [[propagateLabels]] so the
    * shuffle-partition scaling wraps exactly the rounds it sized.
    */
  private def propagateLoop(participating: DataFrame, edges: DataFrame): DataFrame = {
    val MaxIters = 32
    // PATH HALVING (pointer jumping) is GATED on round count: rounds
    // before [[HalvingStart]] run plain neighbor-min (ONE join + groupBy
    // per round), later rounds also adopt the label's own label,
    // L''(x) = min(L'(x), L'(L'(x))) — a second self-join per round.
    // Rationale, measured both ways: neighbor-min alone converges in
    // O(diameter) rounds (17 on the t34 embedding graph at sf0.1 —
    // cosine chains run deep; DedupClusterSpec's 40-edge chain cannot
    // converge inside MaxIters at all), while halving makes distances
    // shrink geometrically → O(log diameter). But round 8 ran halving
    // from round 0 and t13 DOUBLED (4.2-5.3 s vs its 2.18 s baseline):
    // typical near-dup graphs are near-cliques that converge in ≤ 5
    // plain rounds, so the unconditional second self-join cost more per
    // round than the saved rounds returned. Gating recovers the plain
    // loop for shallow graphs and keeps the geometric bound for deep
    // ones: a chain of diameter d ≤ HalvingStart pays no halving at all;
    // past the gate the remaining distance collapses in O(log d) halved
    // rounds, so worst-case rounds ≈ HalvingStart + log2(d) ≪ MaxIters.
    val HalvingStart = 6
    var labels = dropCarriedStats(
      cutLineage(participating.withColumn("cluster", col("doc_id")), eager = true))
    var iter = 0
    var converged = false
    while (iter < MaxIters && !converged) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("doc_b"), col("cluster").as("nb_cluster")), Seq("doc_b"))
        .groupBy(col("doc_a")).agg(min(col("nb_cluster")).as("min_nb"))
        .select(col("doc_a").as("doc_id"), col("min_nb"))
      // one job per round either way: the lazy checkpoint materializes
      // under the change-count action (old and new label side by side),
      // so the convergence check costs no second pass over the lineage
      val joined = if (iter < HalvingStart) {
        // plain round: one join, lazy cut
        val j = dropCarriedStats(cutLineage(labels.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("cluster").as("prev"),
            least(col("cluster"), coalesce(col("min_nb"), col("cluster"))).as("cluster")),
          eager = false))
        converged = j.filter(col("cluster") =!= col("prev")).isEmpty
        j
      } else {
        // halving round. stepped is PERSISTED before the self-join
        // references it twice — without it, both join sides embed the
        // labels⋈neighborMin plan and only its exchanges dedupe via
        // ReuseExchange, so the post-shuffle work would run twice per
        // round. persist (not a checkpoint: the cut below already bounds
        // lineage) computes it once under this round's single action;
        // released after the round so at most one round's cache is held.
        val stepped = labels.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("cluster").as("prev"),
            least(col("cluster"), coalesce(col("min_nb"), col("cluster"))).as("cluster"))
          .persist()
        // labels are always node ids of `participating`, so the
        // self-lookup is total (left join + coalesce only guards the
        // converged fixpoint where L(x) = x).
        val byNode = stepped.select(col("doc_id").as("cluster"), col("cluster").as("hop"))
        // dropCarriedStats here is load-bearing: without it the round's
        // rewritten statistics compound through `labels` round over round
        // (see the helper's doc) — the cut bounds the LINEAGE, this
        // bounds the STATS
        val j = dropCarriedStats(cutLineage(stepped.join(byNode, Seq("cluster"), "left")
          .select(col("doc_id"), col("prev"),
            least(col("cluster"), coalesce(col("hop"), col("cluster"))).as("cluster")),
          eager = false))
        // materialize under the convergence action BEFORE dropping the
        // pin — unpersisting first would recompute stepped on both join
        // sides, the exact double-run the persist exists to prevent
        converged = j.filter(col("cluster") =!= col("prev")).isEmpty
        stepped.unpersist(false)
        j
      }
      labels = joined.select(col("doc_id"), col("cluster"))
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"t13 label propagation did not converge after $MaxIters iterations — " +
          "component diameter exceeds the budget; raise MaxIters")
    labels
  }

  /** Edge-count bound for the driver-side union-find fallback (see the
    * call site in [[propagateLabels]]): 1M (doc_a, doc_b) pairs ≈ 16 MB
    * collected — a deliberate, documented driver budget, not a hidden
    * collect (the distributed loop takes over beyond it).
    */
  private[graft] val LocalCCMaxEdges = 1000000L

  /** Driver union-find over the edge-participating sliver. Edges whose
    * endpoint falls OUTSIDE the node set connect nothing — the exact
    * semantics of the distributed loop, where an unlabeled neighbor
    * contributes no `min_nb`. Union-by-min keeps every root the
    * component minimum, so `find(n)` is directly the converged label.
    */
  private def localComponents(participating: DataFrame, pairs: DataFrame): DataFrame = {
    val s = participating.sparkSession
    val nodeArr = participating.select(col("doc_id")).collect().map(_.getLong(0))
    val parent = new java.util.HashMap[Long, Long](nodeArr.length * 2)
    nodeArr.foreach(n => parent.put(n, n))
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    pairs.select(col("doc_a"), col("doc_b")).collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (parent.containsKey(a) && parent.containsKey(b)) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
    }
    val labels = nodeArr.toSeq.map(n => (n, find(n)))
    s.createDataFrame(labels).toDF("doc_id", "cluster")
  }

  /** Presentation over a converged (doc_id, cluster) assignment:
    * converged ⇒ cluster = min doc_id of the component, so the canonical
    * survivor is exactly the doc whose id equals the label. Public so an
    * incrementally-maintained assignment presents identically to a full
    * recluster (spec-pinned).
    */
  def presentClusters(assignment: DataFrame): DataFrame =
    assignment
      .withColumn("is_canonical", col("doc_id") === col("cluster"))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .filter(col("cluster_size") > 1) // singleton docs are not duplicates
      .orderBy(col("cluster"), col("doc_id"))

  /** FULL label assignment over `nodes` (singletons as self-labels) — the
    * state [[dedupClustersIncrement]] maintains across batches.
    */
  def clusterAssignmentOf(nodes: DataFrame, pairsSrc: DataFrame): DataFrame =
    nodes.select(col("doc_id"))
      .join(propagateLabels(nodes, pairsSrc)
        .withColumnRenamed("cluster", "lab"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("cluster"))

  /** The increment's CONTRACTED graph: every prior connected component
    * collapses to its label (a super-node), so the propagation input is
    * the increment's edge neighborhood — new doc ids plus the labels of
    * prior components the new pairs touch — never the prior corpus.
    * Exposed for the spec that pins exactly that bound.
    */
  private[graft] def contractedGraph(prior: DataFrame, newNodes: DataFrame,
                                     incPairs: DataFrame): (DataFrame, DataFrame) = {
    // A left join's broadcast candidate is its RIGHT side, and here that
    // is the corpus-scale prior assignment — written naively, every
    // ingest batch SHUFFLES the prior corpus (twice: once per endpoint
    // key). Probe pattern instead: one column-pruned scan of the prior
    // assignment, semi-joined against a broadcast of the batch pairs'
    // endpoint ids (batch-bounded by the increment contract), yields the
    // batch-touched slice — and only that slice (re-broadcast, it is
    // ≤ 2× the pair count) enters the endpoint left joins. The prior
    // corpus is scanned once and never shuffled.
    // the pair feed is referenced three times below (both endpoint-id
    // branches + the rep joins) — materialize it once, batch-bounded
    val inc = cutLineage(incPairs.select(col("doc_a"), col("doc_b")), eager = true)
    val endpoints = inc.select(col("doc_a").as("doc_id"))
      .unionByName(inc.select(col("doc_b").as("doc_id"))).distinct()
    val pa = broadcast(prior.select(col("doc_id"), col("cluster"))
      .join(broadcast(endpoints), Seq("doc_id"), "left_semi"))
    val repped = cutLineage(inc
      .join(pa.withColumnsRenamed(Map("doc_id" -> "doc_a", "cluster" -> "rep_a")),
        Seq("doc_a"), "left")
      .join(pa.withColumnsRenamed(Map("doc_id" -> "doc_b", "cluster" -> "rep_b")),
        Seq("doc_b"), "left")
      .select(coalesce(col("rep_a"), col("doc_a")).as("doc_a"),
        coalesce(col("rep_b"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b")), eager = true)
    // every consumer of the pair cut is inside the materialized repped
    Frames.release(inc)
    val touched = repped.select(col("doc_a").as("doc_id"))
      .unionByName(repped.select(col("doc_b").as("doc_id")))
      .unionByName(newNodes.select(col("doc_id")))
      .distinct()
    (touched, repped)
  }

  /** Batch-increment cluster maintenance — the ETL's incremental posture
    * applied to dedup state (cf. the reference's checkpointed sync,
    * etl_sync.py:356-385): new documents join existing clusters WITHOUT
    * re-propagating the full corpus.
    *
    * `prior` is the full (doc_id, cluster) assignment of the existing
    * corpus ([[clusterAssignmentOf]] output, or the previous increment's
    * return). `incPairs` is every candidate pair with at least one
    * endpoint in the increment — the increment's edge neighborhood (for
    * deterministic LSH sources, pairs between two prior docs already
    * existed in the prior assignment). Every pair endpoint must lie in
    * `prior` ∪ `newNodes`: a foreign id would enter the contracted graph
    * as a phantom super-node and BRIDGE components a full recluster
    * (where non-node endpoints never connect anything) would keep apart —
    * candidate generation over the actual corpus satisfies this by
    * construction, and with `validateEndpoints` (the default) a mis-wired
    * caller fails loudly instead: one anti-join pass over the pair
    * endpoints (batch-sized probe side against the node set — a single
    * non-iterated job, like the composition join) throws naming the
    * foreign ids. Disable only when the pair feed is the library's own
    * index probe, which satisfies the contract by construction.
    *
    * REPLAY-SAFE: `newNodes` already present in `prior` are dropped
    * (anti-join) before contraction — a batch replayed after a crash
    * (advance committed, orchestrator's batch record didn't — the exact
    * window the reference's idempotent upsert covers) would otherwise
    * emit each replayed doc_id TWICE (once via the prior side, once via
    * the new side), inflating cluster_size downstream so prior singletons
    * present as 2-member "clusters" and get wrongly dropped. A full
    * replay is a no-op; its pairs degenerate to late old-old pairs whose
    * merges are already in `prior` (spec-pinned).
    *
    * Correctness: a prior component is connected, its label is its min
    * id, and new edges can only merge whole components — so contracting
    * each component to its label (and each new doc to itself), running
    * the SAME min-label propagation on that contracted graph, and
    * composing the relabeling (`final(x) = merged(prior(x))`) yields
    * exactly the labels of a full recluster of the union; the min over a
    * merged component of {component mins, new ids} is the union
    * component's global min. Spec pins increment(A, then B) ==
    * full(A ∪ B) including a new doc bridging two prior clusters and
    * taking over as canonical.
    *
    * Scale shape: propagation shuffles only the contracted neighborhood
    * (super-nodes + new docs); the prior corpus is touched exactly once,
    * by the final label-composition join — one map-side-joinable pass,
    * no iteration over it. `prior` is referenced three times (both pair
    * endpoints + the composition), so MATERIALIZE the state between
    * batches — in production it is a warehouse table per increment
    * (exactly the ETL's checkpoint posture), never a chained lazy plan.
    */
  def dedupClustersIncrement(prior: DataFrame, newNodes: DataFrame,
                             incPairs: DataFrame,
                             validateEndpoints: Boolean = true): DataFrame =
    dedupClustersIncrementOpt(prior, newNodes, incPairs, validateEndpoints)
      .getOrElse(prior.select(col("doc_id"), col("cluster")))

  /** [[dedupClustersIncrement]] that names the NO-OP case: `None` when
    * the increment provably leaves the state bit-identical — the batch
    * is fully replayed (zero fresh nodes) AND the contracted relabel map
    * is the identity (every component the batch's pairs touch already
    * carries its converged label). Both checks are batch-bounded reads
    * of frames the increment materializes anyway (the fresh-node cut and
    * the propagated label map), so the real-ingest path pays two take-1
    * probes — but a replayed batch's state REWRITE, a full corpus-scale
    * versioned write per [[graft.etl.Warehouse.rewrite]]'s commit
    * protocol, is skipped outright. That is the shape the bench's
    * min-of-two passes measures on every lifecycle query (the pass-2
    * ingest re-derives a state it already holds), and at 100 TB it is
    * the difference between a crash-redelivered batch costing a
    * batch-bounded probe and costing a corpus rewrite (guide §1.2 /
    * §6: don't write what you didn't change).
    */
  def dedupClustersIncrementOpt(prior: DataFrame, newNodes: DataFrame,
                                incPairs: DataFrame,
                                validateEndpoints: Boolean = true): Option[DataFrame] = {
    if (validateEndpoints) {
      // same probe shape as the hot path below: the corpus-scale node set
      // is scanned against a broadcast of the batch's endpoint ids, never
      // shuffled — the guard costs one prior pass even in debug mode
      val pairIds = incPairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      val knownHit = broadcast(prior.select(col("doc_id"))
        .unionByName(newNodes.select(col("doc_id")))
        .join(broadcast(pairIds), Seq("doc_id"), "left_semi"))
      val foreign = pairIds
        .join(knownHit, Seq("doc_id"), "left_anti")
        .limit(5).collect().map(_.get(0))
      if (foreign.nonEmpty)
        throw new IllegalArgumentException(
          s"incPairs name endpoints outside prior ∪ newNodes (e.g. ${foreign.mkString(", ")}) — " +
            "a foreign id would contract to a phantom super-node and bridge components a " +
            "full recluster keeps apart; fix the pair feed (or pre-filter the pairs)")
    }
    // replay guard: ids the prior assignment already governs are not new.
    // A left-anti join can only broadcast its RIGHT side — the corpus-
    // scale prior — so written directly it would shuffle the prior per
    // batch. Probe pattern: the prior's batch-overlap slice (one scan of
    // the prior probing a broadcast of the batch ids, batch-bounded
    // result) is what the batch anti-joins against, re-broadcast. Cut
    // eagerly — freshNodes is referenced twice (contraction + newFinal)
    val batchIds = newNodes.select(col("doc_id"))
    val replayed = broadcast(prior.select(col("doc_id"))
      .join(broadcast(batchIds), Seq("doc_id"), "left_semi"))
    val freshNodes = cutLineage(
      batchIds.join(replayed, Seq("doc_id"), "left_anti"), eager = true)
    val (touched, repped) = contractedGraph(prior, freshNodes, incPairs)
    // merged is the contracted increment's relabeling — bounded by the
    // batch's edge neighborhood, so it BROADCASTS: the composition join
    // over the prior corpus is a scan + map-side hash probe, zero prior
    // shuffle. This is the join the increment's scale contract hinges on
    // ("the prior corpus is touched exactly once") — the hint makes the
    // map-side claim physically true instead of leaving the planner to
    // sort-merge two sides whose stats it cannot see through the
    // propagation loop's checkpoints.
    // the propagated map is materialized (driver-built, or the loop's last
    // cut), so the contracted pairs have no consumer past it
    val mergedMap = try propagateLabels(touched, repped)
      .select(col("doc_id").as("rep"), col("cluster").as("merged"))
    finally Frames.release(repped)
    // no-op detection on the increment's own materialized frames: the
    // fresh-node cut is eager and the propagated map is a checkpoint (or
    // driver-built, on the local union-find path), so both probes are
    // batch-bounded take-1 jobs. Identity map ⇒ oldFinal == prior row
    // for row (coalesce returns `cluster` whether the map misses or maps
    // rep → rep); no fresh nodes ⇒ no newFinal rows.
    if (freshNodes.isEmpty &&
        mergedMap.filter(col("rep") =!= col("merged")).isEmpty) {
      // the no-op branch returns no tree for the caller's release walk —
      // drop the two cuts we still hold (the distributed loop's per-round
      // cuts are unreachable and left to the context cleaner)
      Frames.release(freshNodes, mergedMap)
      return None
    }
    val merged = broadcast(mergedMap)
    val oldFinal = prior.select(col("doc_id"), col("cluster"))
      .join(merged, col("cluster") === col("rep"), "left")
      .select(col("doc_id"), coalesce(col("merged"), col("cluster")).as("cluster"))
    val newFinal = freshNodes
      .join(merged, col("doc_id") === col("rep"), "left")
      .select(col("doc_id"), coalesce(col("merged"), col("doc_id")).as("cluster"))
    Some(oldFinal.unionByName(newFinal))
  }

  def t13DedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir, minhashCandidatePairs(s, dir))

  lazy val t13Sql: String =
    s"""WITH RECURSIVE $shingleCtes,
       |$sigCte,
       |$candPairCtes,
       |edge AS (
       |  SELECT doc_a AS a, doc_b AS b FROM est WHERE est_jaccard >= $MinJaccard
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM est WHERE est_jaccard >= $MinJaccard),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edge
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edge e ON r.dst = e.a),
       |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster FROM reach GROUP BY src),
       |sized AS (
       |  SELECT doc_id, cluster, (doc_id = cluster) AS is_canonical,
       |    count(*) OVER (PARTITION BY cluster) AS cluster_size
       |  FROM comp)
       |SELECT doc_id, cluster, is_canonical, cluster_size FROM sized
       |WHERE cluster_size > 1 ORDER BY cluster, doc_id""".stripMargin

  // ------------------------------------------------------------ registry
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t01_dedup_exact"     -> (t01DedupExact _),
    "t02_token_stats"     -> (t02TokenStats _),
    "t03_lang_profile"    -> (t03LangProfile _),
    "t04_token_histogram" -> (t04TokenHistogram _),
    "t05_embed_stats"     -> (t05EmbedStats _),
    "t06_minhash_pairs"   -> (t06MinhashPairs _),
    "t07_simhash_pairs"   -> (t07SimhashPairs _),
    "t08_ngram_jaccard"   -> (t08NgramJaccard _),
    "t09_fingerprint"     -> (t09Fingerprint _),
    "t10_ann_brute_force" -> (t10AnnBruteForce _),
    "t11_langid_confusion"-> (t11LangidConfusion _),
    "t12_ann_lsh"         -> ((s: SparkSession, d: String) =>
      t12AnnLsh(s, d, DialBits, DialProbeRadius)),
    "t13_dedup_clusters"  -> (t13DedupClusters _),
    "t14_ann_ivf"         -> ((s: SparkSession, d: String) =>
      t14AnnIvf(s, d, DialIvfK, DialIvfNProbe)),
    "t36_ann_ivf_lists"   -> ((s: SparkSession, d: String) =>
      t36AnnIvfLists(s, d, DialIvfK, DialIvfNProbe)),
    "t46_ann_ivf_increment" -> ((s: SparkSession, d: String) =>
      t46AnnIvfIncrement(s, d, DialIvfK, DialIvfNProbe)),
    "t47_ann_ivfpq"       -> ((s: SparkSession, d: String) =>
      t47AnnIvfPq(s, d, DialIvfK, DialIvfNProbe)),
    "t48_ann_ivfpq_increment" -> ((s: SparkSession, d: String) =>
      t48AnnIvfPqIncrement(s, d, DialIvfK, DialIvfNProbe)),
    "t49_ann_filtered"    -> ((s: SparkSession, d: String) =>
      t49AnnFiltered(s, d, DialIvfK, DialIvfNProbe)),
    "t50_ann_filtered_exact" -> (t50AnnFilteredExact _),
    "t51_ann_batch_serve" -> ((s: SparkSession, d: String) =>
      t51AnnBatchServe(s, d, DialIvfK, DialIvfNProbe)),
    "t52_ann_filtered_composite" -> ((s: SparkSession, d: String) =>
      t52AnnFilteredComposite(s, d, DialIvfK, DialIvfNProbe)),
    "t15_cosine_near_dup" -> ((s: SparkSession, d: String) =>
      cosineCandidatePairs(s, d, DialBits, DialPairRadius, DialEmbCap)),
    "t54_near_dup_banded" -> (t54NearDupBanded _),
    "t16_token_bpe"       -> (t16TokenBpe _),
    "t34_embed_dedup_clusters" -> ((s: SparkSession, d: String) =>
      t34EmbedDedupClusters(s, d, DialBits, DialPairRadius, DialEmbCap)),
    "t17_train_split"     -> (t17TrainSplit _),
    "t18_chunks"          -> (t18Chunks _),
    "t19_boilerplate"     -> (t19Boilerplate _),
  )

  /** Every TextOps query is oracle-checked. The dedup/fingerprint family
    * (t06-t09, t13) replays the md5-based hash pipeline in DuckDB with the
    * MinHash constants inlined; the ANN family replays bucket assignment +
    * probing (t12: hyperplane literals; t14: the shared persisted centroid
    * table).
    */
  def oracles: Map[String, String] =
    oraclesFor(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))

  def oraclesFor(dir: String): Map[String, String] = Map(
    "t01_dedup_exact"     -> t01Sql,
    "t02_token_stats"     -> t02Sql,
    "t03_lang_profile"    -> t03Sql,
    "t04_token_histogram" -> t04Sql,
    "t05_embed_stats"     -> t05Sql,
    "t06_minhash_pairs"   -> t06Sql,
    "t07_simhash_pairs"   -> t07Sql,
    "t08_ngram_jaccard"   -> t08Sql,
    "t09_fingerprint"     -> t09Sql,
    "t10_ann_brute_force" -> t10Sql,
    "t11_langid_confusion"-> t11Sql,
    "t12_ann_lsh"         -> t12Sql,
    "t13_dedup_clusters"  -> t13Sql,
    "t14_ann_ivf"         -> t14Sql(dir),
    // t36 is result-identical to t14 by construction (same centroids,
    // argmin, probes — only the storage layout differs), so the oracle
    // replays the same SQL; a hash mismatch here means the materialized
    // assignment drifted from the computed one
    "t36_ann_ivf_lists"   -> t14Sql(dir),
    // increment == full re-materialization given the same quantizer, so
    // the incrementally-maintained lists answer t14's oracle exactly
    "t46_ann_ivf_increment" -> t14Sql(dir),
    // t47 replays the WHOLE IVF-PQ path from the persisted artifacts —
    // coarse probes, ADC tables, coded-list shortlist, exact rerank
    "t47_ann_ivfpq"       -> t47Sql(dir),
    // t48's maintained table must serve EXACTLY what the global coded
    // lists serve (increment == re-materialization), so its oracle is
    // t47's SQL over the global artifacts
    "t48_ann_ivfpq_increment" -> t47Sql(dir),
    // filtered probe: t14's replay with the label carried through and
    // the candidate side constrained — same persisted centroids
    "t49_ann_filtered"    -> t49Sql(dir),
    // the crossover's exact branch: no probe restriction, every
    // label-constrained candidate scored
    "t50_ann_filtered_exact" -> t50Sql(dir),
    // the batched-serving shape answers the same IVF replay at the
    // wider query bound — strategy-invisible results ARE the claim
    "t51_ann_batch_serve" -> t51Sql(dir),
    // composite filtered probe: the conjunction (label equality +
    // n_chars range, attrs denormalized by the same inner attach join
    // the index build runs) constrains the candidate side only
    "t52_ann_filtered_composite" -> t52Sql(dir),
    "t15_cosine_near_dup" -> t15Sql,
    "t54_near_dup_banded" -> t54Sql,
    "t16_token_bpe"       -> t16Sql,
    "t34_embed_dedup_clusters" -> t34Sql,
    "t17_train_split"     -> t17Sql,
    "t18_chunks"          -> t18Sql,
    "t19_boilerplate"     -> t19Sql,
  )
}
