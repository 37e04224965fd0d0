package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables._
import graft.functions.{NativeText => NT, Rounding => R, TextFunctions => TF}

/** Corpus-curation operators beyond the dedup/ANN family (TextOps): the
  * filters and bookkeeping a large-scale training-data pipeline runs
  * between "raw crawl" and "training mix" — heuristic quality flags
  * (Gopher-style rules: Rae et al. 2021 §A.1.1), PII scan/redaction,
  * benchmark-contamination checks, deterministic stratified sampling,
  * source-mix weighting, and intra-document repetition scoring.
  *
  * The per-row operators (t20/t21/t23/t24/t25/t27) are a single corpus
  * scan plus at most one uniform-key shuffle; the cross-split overlap
  * family (t22/t26/t28) scans the corpus once per join side — the probe
  * branch here is a corpus slice standing in for an external eval table,
  * which in production is its own (tiny) input and the corpus side is one
  * scan. Every query is oracle-checked: the per-row signals are pure
  * string/array expressions DuckDB reproduces exactly.
  *
  * Scale notes: the per-row array lambdas (lines, bullets) are interpreted
  * HOFs — fine per ROW (unlike the per-PAIR hot paths that needed native
  * expressions, NativeVector/NativeHashes); the regex counts are codegen'd.
  */
object QualityOps {

  // ------------------------------------------------------------- t20
  /** Gopher-style rule thresholds (the published ballpark, not a claim of
    * exact parity with any paper's constants).
    */
  val MinTokens = 10
  val TokLenLo = 2.0
  val TokLenHi = 12.0
  val MaxSymbolRatio = 0.3
  val MaxBulletRatio = 0.5
  val MaxDupLineFrac = 0.3

  /** Per-document quality signals + keep/drop flag: token count, mean
    * token length, symbol-character ratio, bullet-line ratio, duplicate-
    * line fraction. One narrow STATELESS projection per document — the
    * shape of every heuristic quality filter at 100 TB (no shuffle at all
    * until the presentation sort), which is also why the same frame drops
    * into a Structured Streaming ingest unchanged (QualityOpsSpec proves
    * stream == batch; the sort lives in the batch wrapper because global
    * sorts don't exist on unbounded streams).
    */
  def qualitySignalsOf(docs: DataFrame): DataFrame = {
    val lines = filter(transform(split(col("text"), "\n"), l => trim(l)), l => l =!= "")
    val withSignals = docs
      .select(col("doc_id"), col("n_chars"),
        size(TF.tokens(col("text"))).as("n_tokens"),
        lines.as("lines"),
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).as("n_symbols"))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_symbols"),
        size(col("lines")).as("n_lines"),
        size(filter(col("lines"), l =>
          l.startsWith("-") || l.startsWith("*") || l.startsWith("•"))).as("n_bullets"),
        size(array_distinct(col("lines"))).as("n_distinct_lines"))
    // unrounded doubles feed the flag so both engines compare identical
    // values; division guards are explicit NULLs (Spark's double x/0 is
    // Inf/NaN while SQL engines NULL or error — never rely on either)
    def ratio(num: Column, den: Column): Column =
      when(den === 0, lit(null).cast("double")).otherwise(num.cast("double") / den)
    val avgTokLen = ratio(col("n_chars"), col("n_tokens"))
    val symbolRatio = ratio(col("n_symbols"), col("n_chars"))
    val bulletRatio = ratio(col("n_bullets"), col("n_lines"))
    val dupLineFrac = ratio(col("n_lines") - col("n_distinct_lines"), col("n_lines"))
    withSignals
      .select(col("doc_id"), col("n_tokens"), col("n_lines"),
        R.halfUp(avgTokLen, 4).as("avg_token_len"),
        R.halfUp(symbolRatio, 4).as("symbol_ratio"),
        R.halfUp(bulletRatio, 4).as("bullet_ratio"),
        R.halfUp(dupLineFrac, 4).as("dup_line_frac"),
        (col("n_tokens") >= MinTokens &&
          avgTokLen.between(TokLenLo, TokLenHi) &&
          symbolRatio <= MaxSymbolRatio &&
          bulletRatio <= MaxBulletRatio &&
          dupLineFrac <= MaxDupLineFrac).as("keep"))
  }

  def qualityFlagsOf(docs: DataFrame): DataFrame =
    qualitySignalsOf(docs).orderBy(col("doc_id"))

  def t20QualityFlags(s: SparkSession, dir: String): DataFrame =
    qualityFlagsOf(documents(s, dir))

  val t20Sql: String = {
    val rawAvg = "n_chars * 1.0 / NULLIF(n_tokens, 0)"
    val rawSym = "n_symbols * 1.0 / NULLIF(n_chars, 0)"
    val rawBul = "n_bullets * 1.0 / NULLIF(n_lines, 0)"
    val rawDup = "(n_lines - n_distinct_lines) * 1.0 / NULLIF(n_lines, 0)"
    s"""WITH sig AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS INT) AS n_tokens,
       |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lines,
       |    CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS INT) AS n_symbols
       |  FROM documents),
       |cnt AS (
       |  SELECT doc_id, n_chars, n_tokens, n_symbols,
       |    CAST(len(lines) AS INT) AS n_lines,
       |    CAST(len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%')) AS INT) AS n_bullets,
       |    CAST(len(list_distinct(lines)) AS INT) AS n_distinct_lines
       |  FROM sig)
       |SELECT doc_id, n_tokens, n_lines,
       |  ${R.halfUpSql(rawAvg, 4)} AS avg_token_len,
       |  ${R.halfUpSql(rawSym, 4)} AS symbol_ratio,
       |  ${R.halfUpSql(rawBul, 4)} AS bullet_ratio,
       |  ${R.halfUpSql(rawDup, 4)} AS dup_line_frac,
       |  (n_tokens >= $MinTokens
       |    AND $rawAvg BETWEEN $TokLenLo AND $TokLenHi
       |    AND $rawSym <= $MaxSymbolRatio
       |    AND $rawBul <= $MaxBulletRatio
       |    AND $rawDup <= $MaxDupLineFrac) AS keep
       |FROM cnt ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- t21
  /** PII patterns — RE2-subset regexes (no lookaround) so Java and DuckDB
    * match identically. Redaction replaces in a fixed order (email → ip →
    * phone) so overlapping matches resolve the same way on both engines.
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pat = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePat = "\\+[0-9][0-9\\- ]{5,}[0-9]"

  /** Per-document PII scan + redaction audit: match counts per category,
    * a has_pii flag, and the md5 of the fully-redacted text — the check
    * that redaction actually happened (content-verified, without shipping
    * redacted text through the result). Single scan, all regex ops
    * codegen'd, no shuffle — and no sort, so it drops unchanged into a
    * streaming ingest (same split as t20's signals/flags pair).
    */
  def piiSignalsOf(docs: DataFrame): DataFrame = {
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailPat, "<EMAIL>"),
          Ipv4Pat, "<IP>"),
        PhonePat, "<PHONE>")
    docs
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(Ipv4Pat), lit(0))).as("n_ips"),
        size(regexp_extract_all(col("text"), lit(PhonePat), lit(0))).as("n_phones"),
        md5(redacted).as("redacted_hash"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ips") + col("n_phones") > 0)
  }

  /** Batch wrapper: the signals plus the presentation sort (global sorts
    * don't exist on unbounded streams, so the sort lives here, not in
    * [[piiSignalsOf]]).
    */
  def piiScanOf(docs: DataFrame): DataFrame =
    piiSignalsOf(docs).orderBy(col("doc_id"))

  def t21PiiScan(s: SparkSession, dir: String): DataFrame =
    piiScanOf(documents(s, dir))

  val t21Sql: String = {
    // SQL '...' literals do not process backslashes — escape quotes only
    // (none in these patterns; kept for safety), backslashes pass through
    def esc(p: String) = p.replace("'", "''")
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${esc(EmailPat)}')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '${esc(Ipv4Pat)}')) AS INT) AS n_ips,
       |  CAST(len(regexp_extract_all(text, '${esc(PhonePat)}')) AS INT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |    '${esc(EmailPat)}', '<EMAIL>', 'g'),
       |    '${esc(Ipv4Pat)}', '<IP>', 'g'),
       |    '${esc(PhonePat)}', '<PHONE>', 'g')) AS redacted_hash,
       |  (len(regexp_extract_all(text, '${esc(EmailPat)}'))
       |   + len(regexp_extract_all(text, '${esc(Ipv4Pat)}'))
       |   + len(regexp_extract_all(text, '${esc(PhonePat)}'))) > 0 AS has_pii
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- t22
  /** Benchmark-contamination check: which corpus documents share a
    * [[ContamNGram]]-token shingle with a "benchmark" probe set (here: a
    * deterministic slice of the corpus, doc_id ≡ 0 mod [[ProbeMod]],
    * standing in for an eval set hashed the same way). 13-grams are the
    * published contamination window (GPT-3 appx C); a 64-token chunk
    * window misses near-verbatim overlap, which is the whole point. The
    * scalable primitive: shingle-hash both sides identically (the dedup
    * family's native single-pass expression), join on the hash — shuffle
    * is uniform by construction. A REAL eval probe set is tiny and
    * broadcastable at any corpus scale; the corpus-derived stand-in wired
    * here (a fixed corpus fraction, exploded) is demo-sized only — at
    * warehouse scale its shingles outgrow the broadcast limit and the
    * hint must come off (the hash equi-join shape is unchanged, shuffled
    * on both sides). Matching on the mod-p hash admits
    * the same (documented, negligible) collision odds as the MinHash
    * family — both engines compute identical hashes, so parity is exact.
    */
  val ProbeMod = 17
  val ContamNGram = 13

  /** The production shape: corpus vs an EXTERNAL probe table (an eval
    * set's documents), each shingle-hashed identically. The probe side is
    * genuinely tiny there, hence the broadcast hint; see t22's scaladoc
    * for when it must come off.
    */
  def contaminationAgainst(corpus: DataFrame, probe: DataFrame): DataFrame = {
    def shingles(df: DataFrame, idAs: String) = df.select(
      col("doc_id").as(idAs),
      explode(NT.md5ShingleHashes(col("text"), ContamNGram)).as("h"))
    shingles(corpus, "corpus_doc")
      .join(broadcast(shingles(probe, "probe_doc")), Seq("h"))
      .groupBy(col("probe_doc"), col("corpus_doc"))
      .agg(countDistinct(col("h")).as("n_shared_ngrams"))
      .orderBy(col("probe_doc"), col("corpus_doc"))
  }

  /** Testdata stand-in: the probe set is a deterministic corpus slice. */
  def contaminationOf(docs: DataFrame): DataFrame =
    contaminationAgainst(
      docs.filter(col("doc_id") % ProbeMod =!= 0),
      docs.filter(col("doc_id") % ProbeMod === 0))

  def t22Contamination(s: SparkSession, dir: String): DataFrame =
    contaminationOf(documents(s, dir))

  val t22Sql: String = {
    val gram = (0 until ContamNGram).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(toks) - ${ContamNGram - 1}), i -> $gram)) AS shs
       |  FROM t WHERE len(toks) >= $ContamNGram),
       |hs AS (
       |  SELECT doc_id,
       |    unnest(list_transform(shs,
       |      x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT) % 2147483647)) AS h
       |  FROM sh)
       |SELECT p.doc_id AS probe_doc, c.doc_id AS corpus_doc,
       |  count(DISTINCT c.h) AS n_shared_ngrams
       |FROM hs c JOIN hs p USING (h)
       |WHERE p.doc_id % $ProbeMod = 0 AND c.doc_id % $ProbeMod <> 0
       |GROUP BY 1, 2 ORDER BY probe_doc, corpus_doc""".stripMargin
  }

  // ------------------------------------------------------------- t23
  /** Deterministic stratified sample: within each language, rank documents
    * by md5(doc_id) (a stable pseudo-random order — no RNG state, no
    * sampling pass) and keep the first ceil([[SampleFrac]] · |lang|) —
    * EXACT per-stratum quotas. Honest scale note: the rank window puts a
    * whole stratum in one task, so this exact-quota form is for
    * dim-cardinality strata / report-sized corpora. The 100 TB path is
    * [[stratifiedSampleApproxOf]]: a pure per-row hash threshold (t17's
    * mechanism) — no window, no per-stratum task, quotas exact in
    * expectation (binomial, ±0.3% at 10^6 docs/stratum).
    */
  val SampleFrac = 0.1

  /** md5-derived bucket in [0, n): 15 hex chars of md5(doc_id) starting
    * at `offset`, as a bigint mod n. Offset 1 is the t17/t26/t28 SPLIT
    * hash (and must stay in sync with their oracle SQL); offset 16 (the
    * digest's second half) gives a bucket INDEPENDENT of the split hash —
    * the sampler uses it so sampling never systematically favors one
    * split. Not a typo: the two offsets are deliberate decorrelation.
    */
  private def md5Bucket(id: Column, n: Long, offset: Int = 1): Column =
    pmod(conv(substring(md5(id.cast("string")), offset, 15), 16, 10).cast("bigint"), lit(n))

  /** The scale path: keep a document iff its md5 bucket (0-9999) falls
    * under frac·10000 — a stateless per-row filter (no window, no
    * shuffle; callers add their own presentation sort), stable under
    * corpus growth (a doc's membership never changes when others are
    * added, the property rand() sampling loses). Stratification is
    * implicit: the hash is independent of lang, so each stratum is
    * sampled at `frac` in expectation regardless of skew.
    */
  def stratifiedSampleApproxOf(docs: DataFrame, frac: Double = SampleFrac): DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .filter(md5Bucket(col("doc_id"), 10000L, offset = 16) < math.round(frac * 10000).toInt)

  def stratifiedSampleOf(docs: DataFrame): DataFrame = {
    val orderKey = md5(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("lang")).orderBy(orderKey, col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"))
      .withColumn("n_lang", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= ceil(col("n_lang") * SampleFrac))
      .orderBy(col("lang"), col("rk"))
  }

  def t23StratifiedSample(s: SparkSession, dir: String): DataFrame =
    stratifiedSampleOf(documents(s, dir))

  val t23Sql: String =
    s"""WITH r AS (
       |  SELECT doc_id, lang,
       |    count(*) OVER (PARTITION BY lang) AS n_lang,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
       |  FROM documents)
       |SELECT doc_id, lang, n_lang, rk FROM r
       |WHERE rk <= ceil(n_lang * $SampleFrac)
       |ORDER BY lang, rk""".stripMargin

  // ------------------------------------------------------------- t24
  /** Source-mix weighting: per-source document share and the resampling
    * weight that would flatten the mix to uniform across sources — the
    * bookkeeping behind "upsample source X" decisions. Aggregates to
    * |sources| rows, then unpartitioned windows over that tiny frame (the
    * documented post-aggregation exception to the no-global-window rule).
    */
  def sourceMixOf(docs: DataFrame): DataFrame = {
    val agged = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    agged
      .withColumn("total", sum(col("n_docs")).over())
      .withColumn("n_sources", count(lit(1)).over())
      .select(col("source"), col("n_docs"),
        R.halfUp(col("n_docs").cast("double") / col("total"), 6).as("actual_frac"),
        R.halfUp(col("total").cast("double") / (col("n_sources") * col("n_docs")), 6)
          .as("uniform_weight"))
      .orderBy(col("source"))
  }

  def t24SourceMix(s: SparkSession, dir: String): DataFrame =
    sourceMixOf(documents(s, dir))

  val t24Sql: String =
    s"""WITH agged AS (
       |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       |w AS (
       |  SELECT source, n_docs,
       |    sum(n_docs) OVER () AS total,
       |    count(*) OVER () AS n_sources
       |  FROM agged)
       |SELECT source, n_docs,
       |  ${R.halfUpSql("n_docs * 1.0 / total", 6)} AS actual_frac,
       |  ${R.halfUpSql("total * 1.0 / (n_sources * n_docs)", 6)} AS uniform_weight
       |FROM w ORDER BY source""".stripMargin

  // ------------------------------------------------------------- t25
  /** Intra-document repetition: 1 − distinct/total trigrams — the Gopher
    * "repetition" family's n-gram member, the signal that catches looping
    * generations and boilerplate-stuffed pages. Distinct counting rides
    * the dedup family's shingle machinery (NativeText — one native pass
    * per row); total is just len(toks)−2. No shuffle before the sort.
    */
  def repetitionOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), size(TF.tokens(col("text"))).as("n_toks"),
        size(NT.md5ShingleHashes(col("text"), 3)).as("n_distinct_tri"))
      .filter(col("n_toks") >= 3)
      .select(col("doc_id"),
        (col("n_toks") - 2).as("n_trigrams"),
        col("n_distinct_tri"),
        R.halfUp(lit(1.0) -
          col("n_distinct_tri").cast("double") / (col("n_toks") - 2), 4).as("rep_ratio"))
      .orderBy(col("doc_id"))

  def t25Repetition(s: SparkSession, dir: String): DataFrame =
    repetitionOf(documents(s, dir))

  val t25Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, CAST(len(toks) AS INT) AS n_toks,
       |    CAST(len(list_distinct(list_transform(generate_series(1, len(toks)-2),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS INT) AS n_distinct_tri
       |  FROM t WHERE len(toks) >= 3)
       |SELECT doc_id, (n_toks - 2) AS n_trigrams, n_distinct_tri,
       |  ${R.halfUpSql("1.0 - n_distinct_tri * 1.0 / (n_toks - 2)", 4)} AS rep_ratio
       |FROM sh ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- t26
  /** Train→eval split leakage: t17's deterministic train/val/test split,
    * then every train document sharing a [[ContamNGram]]-token shingle
    * with a val/test document — the pre-training check that the held-out
    * split is actually held out (near-verbatim overlap across the split
    * boundary inflates eval scores exactly like benchmark contamination).
    * Composition of two existing primitives: the md5-bucket split is a
    * per-row expression, the overlap join is t22's shape with the split
    * boundary as the probe predicate. UNLIKE t22 (whose probe is an
    * external benchmark set, tiny by nature, and rightly broadcast), the
    * eval side here is 10% of the corpus BY CONSTRUCTION — broadcasting
    * it is a scale trap that merely hadn't bitten yet, so the join is
    * shuffle-hash pinned on the uniform shingle-hash key instead of
    * documented as "drop the hint at scale".
    */
  def splitLeakageOf(docs: DataFrame): DataFrame = {
    val sh = docs
      .withColumn("split", TextOps.splitAssign(col("doc_id")))
      .select(col("doc_id"), col("split"),
        explode(NT.md5ShingleHashes(col("text"), ContamNGram)).as("h"))
    val eval_ = sh.filter(col("split") =!= "train")
      .select(col("doc_id").as("eval_doc"), col("split").as("eval_split"), col("h"))
    val train = sh.filter(col("split") === "train")
      .select(col("doc_id").as("train_doc"), col("h"))
    train.join(eval_.hint("shuffle_hash"), Seq("h"))
      .groupBy(col("eval_doc"), col("eval_split"), col("train_doc"))
      .agg(countDistinct(col("h")).as("n_shared_ngrams"))
      .orderBy(col("eval_doc"), col("train_doc"))
  }

  def t26SplitLeakage(s: SparkSession, dir: String): DataFrame =
    splitLeakageOf(documents(s, dir))

  val t26Sql: String = {
    val gram = (0 until ContamNGram).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    ${TextOps.splitAssignSql("doc_id")} AS split
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, split,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
       |  FROM b),
       |sh AS (
       |  SELECT doc_id, split, list_distinct(list_transform(
       |    generate_series(1, len(toks) - ${ContamNGram - 1}), i -> $gram)) AS shs
       |  FROM t WHERE len(toks) >= $ContamNGram),
       |hs AS (
       |  SELECT doc_id, split,
       |    unnest(list_transform(shs,
       |      x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT) % 2147483647)) AS h
       |  FROM sh)
       |SELECT e.doc_id AS eval_doc, e.split AS eval_split, tr.doc_id AS train_doc,
       |  count(DISTINCT tr.h) AS n_shared_ngrams
       |FROM hs tr JOIN hs e USING (h)
       |WHERE tr.split = 'train' AND e.split <> 'train'
       |GROUP BY 1, 2, 3 ORDER BY eval_doc, train_doc""".stripMargin
  }

  // ------------------------------------------------------------- t28
  /** Decontaminated split — t26's detection turned into the action a
    * pipeline actually takes: the t17 assignment, with every train
    * document that shares a 13-gram with the held-out split moved to
    * 'quarantined' (dropped from training, NOT promoted to eval — its
    * content is still leaked). Same plan shape as t26 plus one broadcast
    * semi-join of the tiny leaked-id set against the assignment.
    */
  def decontaminatedSplitOf(docs: DataFrame): DataFrame = {
    val assigned = docs.select(col("doc_id"), col("lang"))
      .withColumn("split", TextOps.splitAssign(col("doc_id")))
    val leaked = splitLeakageOf(docs).select(col("train_doc").as("doc_id")).distinct()
      .withColumn("leaked", lit(true))
    assigned.join(broadcast(leaked), Seq("doc_id"), "left")
      .withColumn("final_split",
        when(col("split") === "train" && col("leaked"), "quarantined")
          .otherwise(col("split")))
      .select(col("doc_id"), col("lang"), col("split"), col("final_split"))
      .orderBy(col("doc_id"))
  }

  def t28DecontaminatedSplit(s: SparkSession, dir: String): DataFrame =
    decontaminatedSplitOf(documents(s, dir))

  val t28Sql: String = {
    val gram = (0 until ContamNGram).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH b AS (
       |  SELECT doc_id, lang, text,
       |    ${TextOps.splitAssignSql("doc_id")} AS split
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, split,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
       |  FROM b),
       |sh AS (
       |  SELECT doc_id, split, list_distinct(list_transform(
       |    generate_series(1, len(toks) - ${ContamNGram - 1}), i -> $gram)) AS shs
       |  FROM t WHERE len(toks) >= $ContamNGram),
       |hs AS (
       |  SELECT doc_id, split,
       |    unnest(list_transform(shs,
       |      x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT) % 2147483647)) AS h
       |  FROM sh),
       |leaked AS (
       |  SELECT DISTINCT tr.doc_id FROM hs tr JOIN hs e USING (h)
       |  WHERE tr.split = 'train' AND e.split <> 'train')
       |SELECT b.doc_id, b.lang, b.split,
       |  CASE WHEN b.split = 'train' AND l.doc_id IS NOT NULL THEN 'quarantined'
       |       ELSE b.split END AS final_split
       |FROM b LEFT JOIN leaked l ON b.doc_id = l.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  // ------------------------------------------------------------- t27
  /** Int8 embedding quantization audit: symmetric per-vector max-abs
    * scaling (code = halfUp(x/scale) clamped implicitly by construction,
    * scale = max|x|/127), reporting per-vector scale and reconstruction
    * MSE — the storage-planning numbers behind "can this corpus ship as
    * int8". Pure per-row arithmetic (both engines fold the same element
    * sequence left-to-right in double), zero shuffles before the sort.
    * At 100 TB the same projection writes the int8 codes column next to
    * the float column; this query is its loss audit.
    */
  def embedQuantizeOf(embs: DataFrame): DataFrame = {
    // scale materializes as a real column BEFORE the error lambda: an
    // inlined array_max subexpression would re-evaluate inside every
    // lambda element (the round-1 HOF trap — measured 2.3 s vs 0.6 s here)
    val staged = embs
      .select(col("vec_id"), col("label"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("x"))
      .select(col("vec_id"), col("label"), col("x"),
        array_max(transform(col("x"), v => abs(v))).as("max_abs"))
      .select(col("vec_id"), col("label"), col("x"), col("max_abs"),
        (col("max_abs") / 127.0).as("scale"))
    // quantize→dequantize inline: recon = halfUp0(x/scale) * scale where
    // halfUp0 = floor(v + 0.5) (identical-op rounding on both engines)
    val err = transform(col("x"), v =>
      v - floor(v / col("scale") + 0.5) * col("scale"))
    val mse = aggregate(transform(err, e => e * e), lit(0.0), (a, e) => a + e) /
      size(col("x"))
    staged
      .select(col("vec_id"), col("label"),
        when(col("max_abs") === 0.0, 0.0).otherwise(R.halfUp(col("scale"), 8)).as("scale8"),
        when(col("max_abs") === 0.0, 0.0).otherwise(R.halfUp(mse, 10)).as("mse"))
      .orderBy(col("vec_id"))
  }

  def t27EmbedQuantize(s: SparkSession, dir: String): DataFrame =
    embedQuantizeOf(embeddings(s, dir))

  val t27Sql: String = {
    val x = "embedding::DOUBLE[]"
    val maxAbs = s"list_max(list_transform($x, v -> abs(v)))"
    val scale = s"($maxAbs / 127.0)"
    val mse = s"list_sum(list_transform($x, v -> " +
      s"(v - floor(v / $scale + 0.5) * $scale) * (v - floor(v / $scale + 0.5) * $scale)))" +
      s" / len($x)"
    s"""SELECT vec_id, label,
       |  CASE WHEN $maxAbs = 0.0 THEN 0.0 ELSE ${R.halfUpSql(scale, 8)} END AS scale8,
       |  CASE WHEN $maxAbs = 0.0 THEN 0.0 ELSE ${R.halfUpSql(mse, 10)} END AS mse
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------------------- t29
  /** Sequence packing — contiguous token-bin assignment for pretraining
    * batch construction: within each language shard, documents (in
    * doc_id order) fill fixed-[[PackCapacity]]-token bins; a document's
    * bin/offset derive from the running token total before it, so the
    * assignment is a pure windowed cumsum — deterministic, and a shard's
    * packing never changes when OTHER shards grow. Real packers work per
    * shard exactly like this (monolingual batches); the per-shard window
    * is the inherent sequential core of packing, parallel across shards.
    * Documents longer than the remaining bin space spill into the next
    * bin (offset + n_tokens > capacity) — the chunker (t18) is what
    * splits them downstream.
    */
  val PackCapacity = 2048L

  def sequencePackingOf(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        size(TF.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("tokens_before",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"tokens_before div $PackCapacity").as("bin"),
        (col("tokens_before") % PackCapacity).as("bin_offset"))
      .orderBy(col("lang"), col("doc_id"))
  }

  def t29SequencePacking(s: SparkSession, dir: String): DataFrame =
    sequencePackingOf(documents(s, dir))

  val t29Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS tokens_before
       |  FROM t)
       |SELECT doc_id, lang, n_tokens,
       |  CAST(tokens_before // $PackCapacity AS BIGINT) AS bin,
       |  CAST(tokens_before % $PackCapacity AS BIGINT) AS bin_offset
       |FROM c ORDER BY lang, doc_id""".stripMargin

  // ------------------------------------------------------------- t30
  /** Deterministic corpus shuffle into numbered training shards — the
    * reproducible "global shuffle" a training run needs for example order,
    * without RNG state: shard and within-shard position both derive from
    * md5 of the doc id, so any two runs (and any cluster size) produce the
    * same order. The hash input is prefixed `shard:` to decorrelate it
    * from the split hash (t17, md5 offset 1) and the sampler bucket (t23,
    * offset 16) — shard must not be a function of split membership.
    *
    * Scale shape: shard assignment is a stateless per-row hash (no
    * shuffle); the only exchange is the position window's partition-by-
    * shard, and each shard sorts independently — exactly the
    * `repartition(shard).sortWithinPartitions(hash)` layout a sharded
    * training-file writer uses. [[NumShards]] is corpus/shard-size at
    * 100 TB (thousands), so no shard outgrows a task.
    */
  val NumShards = 8L

  def corpusShuffleOf(docs: DataFrame): DataFrame = {
    val withHash = docs.select(col("doc_id"),
      md5(concat(lit("shard:"), col("doc_id").cast("string"))).as("hx"))
    val sharded = withHash.withColumn("shard",
      pmod(conv(substring(col("hx"), 1, 15), 16, 10).cast("bigint"), lit(NumShards)))
    val w = Window.partitionBy(col("shard")).orderBy(col("hx"), col("doc_id"))
    sharded
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  def t30CorpusShuffle(s: SparkSession, dir: String): DataFrame =
    corpusShuffleOf(documents(s, dir))

  val t30Sql: String =
    s"""WITH h AS (
       |  SELECT doc_id, md5('shard:' || CAST(doc_id AS VARCHAR)) AS hx
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, hx,
       |    CAST(('0x' || substring(hx, 1, 15)) AS BIGINT) % $NumShards AS shard
       |  FROM h)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS INT) AS pos
       |FROM s ORDER BY shard, pos""".stripMargin

  // ------------------------------------------------------------- t31
  /** Per-language top-k trigram heavy hitters — the corpus-level n-gram
    * frequency profile behind boilerplate discovery ("which exact phrases
    * dominate this crawl?") and dedup-rule tuning. Non-distinct trigrams
    * (unlike [[TF.shingles]]) because frequency IS the signal.
    *
    * Scale shape: explode fans out to ~|tokens| rows but the groupBy
    * aggregates map-side (partial combine) before the one uniform-key
    * shuffle on (lang, trigram); the top-k window then runs over the
    * already-aggregated counts frame and `row_number ≤ k` compiles to a
    * WindowGroupLimit partial below the window's exchange, so no task
    * ever holds more than k rows per language past the shuffle.
    */
  val TopNgrams = 10

  def topNgramsOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("lang"), TF.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
    val tri = toks.select(col("lang"),
      explode(transform(sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(3))))).as("trigram"))
    val counts = tri.groupBy(col("lang"), col("trigram")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("trigram"))
    counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TopNgrams)
      .orderBy(col("lang"), col("rk"))
  }

  def t31TopNgrams(s: SparkSession, dir: String): DataFrame =
    topNgramsOf(documents(s, dir))

  val t31Sql: String =
    s"""WITH t AS (
       |  SELECT lang,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT lang,
       |    unnest(list_transform(generate_series(1, len(toks)-2),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS trigram
       |  FROM t WHERE len(toks) >= 3),
       |c AS (SELECT lang, trigram, count(*) AS n FROM g GROUP BY lang, trigram),
       |r AS (
       |  SELECT lang, trigram, n,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, trigram) AS INT) AS rk
       |  FROM c)
       |SELECT lang, trigram, n, rk FROM r
       |WHERE rk <= $TopNgrams ORDER BY lang, rk""".stripMargin

  // ------------------------------------------------------------- t32
  /** Source-mix flattening by deterministic downsampling: every source is
    * hash-thresholded down to the SMALLEST source's document count, the
    * executable counterpart of t24's bookkeeping (whose upsample weights
    * a filter cannot apply). Per-doc keep/drop is a pure hash of the doc
    * id against a per-source integer threshold `min_n·10^6 div n_s` —
    * integer arithmetic end to end, so Spark and DuckDB agree bit-for-bit
    * and membership is stable under re-runs and re-partitioning. Quotas
    * are binomial-exact-in-expectation (the t23 scale-path trade: no
    * per-stratum window, no RNG state). The hash input is
    * `mix:`-prefixed — independent of the split (t17), sampler (t23),
    * and shard (t30) hashes.
    *
    * Scale shape: one corpus scan, the per-source count agg, and a
    * broadcast of the |sources|-row threshold table back onto the scan —
    * the filter itself never shuffles.
    */
  def flattenMixOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("min_n", min(col("n_docs")).over())
      .withColumn("keep_ppm", expr("(min_n * 1000000L) div n_docs"))
    val bucket = pmod(
      conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("bigint"),
      lit(1000000L))
    docs.select(col("doc_id"), col("source"), bucket.as("ppm"))
      .join(broadcast(counts), "source")
      .filter(col("ppm") < col("keep_ppm"))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("keep_ppm")).as("keep_ppm"),
        count(lit(1)).as("n_kept"))
      .orderBy(col("source"))
  }

  def t32FlattenMix(s: SparkSession, dir: String): DataFrame =
    flattenMixOf(documents(s, dir))

  val t32Sql: String =
    """WITH counts AS (
      |  SELECT source, count(*) AS n_docs,
      |    min(count(*)) OVER () AS min_n
      |  FROM documents GROUP BY source),
      |th AS (
      |  SELECT source, n_docs, min_n * 1000000 // n_docs AS keep_ppm FROM counts),
      |kept AS (
      |  SELECT d.source, t.n_docs, t.keep_ppm
      |  FROM documents d JOIN th t USING (source)
      |  WHERE CAST(('0x' || substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
      |          AS BIGINT) % 1000000 < t.keep_ppm)
      |SELECT source, max(n_docs) AS n_docs, max(keep_ppm) AS keep_ppm,
      |  count(*) AS n_kept
      |FROM kept GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------- t39
  /** Temperature-weighted source mixing (τ = 1/2) — the standard
    * training-mix interpolation BETWEEN t24's natural distribution
    * (τ = 1) and t32's flat mix (τ = 0): target share ∝ n_s^τ, realized
    * in one deterministic hash-filter pass with per-source keep rate
    * ∝ n_s^(τ−1), normalized so the smallest source is kept WHOLE —
    * `rate_s = sqrt(min_n / n_s)` at τ = 1/2. Upweighting low-resource
    * sources without flattening away the corpus bulk is how real
    * pretraining mixes are built (multilingual / multi-domain sampling).
    *
    * Determinism across engines, deliberately NOT the t33 integer
    * workaround: `u = md5-60bit / 2^60` — the int64→double conversion
    * rounds identically (IEEE round-to-nearest) and the divide by a
    * power of two is exact — and `rate = sqrt(min_n / n_s)` uses only
    * division and sqrt, both CORRECTLY ROUNDED under IEEE 754 in Java
    * and C libm alike (unlike log/pow, the t33 hazard class), so the
    * keep decision `u < rate` is bit-identical in Spark and DuckDB at
    * any corpus size. τ is fixed at 1/2 BECAUSE of that: a general
    * `pow(n, τ−1)` is not correctly rounded and a 1-ulp divergence at
    * the threshold would flip a row between engines. The hash input is
    * `tmix:`-prefixed — independent of the split (t17), sampler (t23),
    * shard (t30) and flat-mix (t32) hashes.
    *
    * Scale shape: identical to t32 — one corpus scan, a |sources|-row
    * count agg broadcast back onto the scan, conditional count per
    * source; nothing shuffles but the tiny agg.
    */
  def temperatureMixOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("min_n", min(col("n_docs")).over())
      .withColumn("keep_rate", sqrt(col("min_n").cast("double") / col("n_docs")))
    val u = conv(substring(md5(concat(lit("tmix:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("bigint").cast("double") / lit(1152921504606846976.0) // 2^60
    docs.select(col("doc_id"), col("source"), u.as("u"))
      .join(broadcast(counts), "source")
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        R.halfUp(max(col("keep_rate")), 6).as("keep_rate"),
        count(when(col("u") < col("keep_rate"), 1)).as("n_kept"))
      .orderBy(col("source"))
  }

  def t39TemperatureMix(s: SparkSession, dir: String): DataFrame =
    temperatureMixOf(documents(s, dir))

  lazy val t39Sql: String =
    s"""WITH c AS (
       |  SELECT source, count(*) AS n_docs, min(count(*)) OVER () AS min_n
       |  FROM documents GROUP BY source),
       |r AS (SELECT source, n_docs, sqrt(min_n * 1.0 / n_docs) AS rate FROM c),
       |h AS (
       |  SELECT doc_id, source,
       |    CAST(('0x' || substring(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |      / 1152921504606846976.0 AS u
       |  FROM documents)
       |SELECT source, max(r.n_docs) AS n_docs,
       |  ${R.halfUpSql("max(r.rate)", 6)} AS keep_rate,
       |  count(CASE WHEN h.u < r.rate THEN 1 END) AS n_kept
       |FROM h JOIN r USING (source)
       |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------- t33
  /** Token-rarity score — the "is this document made of rare or common
    * vocabulary" signal used for quality triage and domain-shift
    * detection: corpus document frequency per token, a per-token rarity
    * `N/df − 1` (0 for ubiquitous tokens, N−1 for hapaxes — monotone in
    * the classical idf = ln(N/df)), and the per-document mean over
    * distinct tokens.
    *
    * Determinism across engines: the per-token score is computed ENTIRELY
    * in integer arithmetic — `(N·10^6) div df − 10^6` micro-units via
    * integral division — so Spark and the oracle agree bit-for-bit by
    * construction. A previous formulation snapped `ln(N/df)` to
    * micro-units, but Java's `Math.log` and a C libm are not guaranteed
    * to agree to the last ulp, and a 1-ulp divergence at a half-micro
    * boundary would flip the floor — a latent flaky oracle mismatch. No
    * transcendental function, no such boundary. The per-document sum is
    * exact bigint arithmetic (no FP accumulation order to diverge
    * between Spark's partial aggregates and DuckDB); the mean divides
    * two exact integers, which both engines round identically
    * ([[graft.functions.Rounding]]).
    *
    * Scale shape: the rarity vocab (token → df → rarity_micro) is
    * MATERIALIZED once per corpus into the index warehouse
    * ([[ensureRarityVocab]], the [[IvfModel.ensure]] pattern) and the
    * per-document score joins the persisted table — one corpus scan per
    * call instead of two. The vocab build itself is a distinct-token
    * explode with map-side-combined df aggregation shuffled on token
    * (uniform); the scoring pass shuffles on token then doc_id. The N
    * scalar rides a broadcast cross join, not a driver action.
    */
  private def distinctTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(TF.tokens(col("text")))).as("token"))

  /** The corpus rarity vocabulary: per-token `(N·10^6) div df − 10^6`
    * micro-units, integer-only (see [[tokenIdfOf]]'s determinism note).
    */
  def rarityVocabOf(docs: DataFrame): DataFrame = {
    val total = docs.agg(count(lit(1)).as("n_total"))
    distinctTokens(docs).groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .select(col("token"),
        expr("(n_total * 1000000L) div df - 1000000L").as("rarity_micro"))
  }

  /** Score documents against a (token, rarity_micro) vocabulary. */
  def tokenIdfWith(docs: DataFrame, rarity: DataFrame): DataFrame =
    distinctTokens(docs).join(rarity, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("rarity_micro")).as("rarity_sum_micro"))
      .select(col("doc_id"), col("n_distinct"), col("rarity_sum_micro"),
        R.halfUp(col("rarity_sum_micro") / (col("n_distinct") * lit(1000000.0)), 4)
          .as("rarity"))
      .orderBy(col("doc_id"))

  /** Self-contained two-scan form for ad-hoc frames (specs, sub-corpora);
    * the registry path goes through the persisted vocab instead.
    */
  def tokenIdfOf(docs: DataFrame): DataFrame =
    tokenIdfWith(docs, rarityVocabOf(docs))

  val RarityVocabTable = "rarity_vocab"

  /** Stamp on every row — parquet dictionary-encodes the single repeated
    * value to near-zero bytes, and a one-table commit stays atomic under
    * `Warehouse.rewrite` (a side meta-table could commit without its data).
    */
  val RarityVocabSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("token", StringType),
      StructField("rarity_micro", LongType),
      StructField("corpus_stamp", StringType)))
  }

  /** Fit-and-persist the rarity vocab once per corpus, content-stamped
    * exactly like [[IvfModel.ensure]]: a regenerated corpus (stamp
    * mismatch) refits; a crash mid-refit leaves the previous generation
    * live. Returns the warehouse so callers read through the same root.
    */
  def ensureRarityVocab(s: SparkSession, dir: String): graft.etl.Warehouse = {
    val wh = IvfModel.warehouseFor(s, dir)
    val stamp = s"vocab:$dir\n${contentStamp(s, s"$dir/documents.parquet")}"
    StampedTable.ensure(wh, RarityVocabTable, RarityVocabSchema, stamp) {
      rarityVocabOf(documents(s, dir))
    }
    wh
  }

  def t33TokenIdf(s: SparkSession, dir: String): DataFrame = {
    val wh = ensureRarityVocab(s, dir)
    tokenIdfWith(documents(s, dir),
      wh.read(RarityVocabTable, RarityVocabSchema).select(col("token"), col("rarity_micro")))
  }

  val t33Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_filter(
       |      string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))) AS token
       |  FROM documents),
       |n AS (SELECT count(*) AS n_total FROM documents),
       |i AS (
       |  SELECT token,
       |    (n_total * 1000000) // count(*) - 1000000 AS rarity_micro
       |  FROM t, n GROUP BY token, n_total),
       |d AS (
       |  SELECT t.doc_id, count(*) AS n_distinct,
       |    CAST(sum(i.rarity_micro) AS BIGINT) AS rarity_sum_micro
       |  FROM t JOIN i USING (token) GROUP BY t.doc_id)
       |SELECT doc_id, n_distinct, rarity_sum_micro,
       |  ${R.halfUpSql("rarity_sum_micro * 1.0 / (n_distinct * 1000000)", 4)} AS rarity
       |FROM d ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t53
  /** N-GRAM LM QUALITY SIGNAL (CCNet-style, Wenzek et al. 2019): a
    * counts-based 5-gram language model scores each document's
    * per-token negative log-likelihood — the standard public
    * pretraining-data quality scorer (CCNet buckets Common Crawl by
    * LM perplexity; high-perplexity text is gibberish/boilerplate).
    *
    * The model is "Kneser-Ney-lite": absolute discounting (D = 0.75)
    * interpolated between the top-order (5-gram) ML estimate and the
    * unigram CONTINUATION distribution — the KN insight retained (a
    * word's backoff weight is how many distinct contexts it follows,
    * not its raw frequency), the intermediate-order recursion dropped
    * (the 'lite'; at web scale the intermediate orders' contribution is
    * what Brants et al. 2007 showed stupid-backoff can forgo):
    *
    *   p(w|h) = (max(c(h,w) − D, 0) + D · d(h) · cont(w)/Z) / c(h)
    *
    * with h the 4-token history, c(h) its total count, d(h) its distinct
    * continuations, cont(w) the distinct histories preceding w, and
    * Z = Σ cont. The fit is two grouped passes over the corpus's
    * exploded 5-grams — the classic map-reduce LM build — persisted
    * stamped like [[RarityVocabTable]].
    *
    * ORACLE DETERMINISM: ln/exp are libm calls with no cross-engine
    * bit guarantee, so the log-probability is computed ONCE, at fit
    * time, by Spark, rounded to integer MICRO-NATS and persisted in the
    * model parquet; scoring — in Spark and in the DuckDB replay — is a
    * join plus integer sums (the t33 rarity_micro treatment applied to
    * an LM). Self-scoring the fit corpus touches only SEEN 5-grams, so
    * the registered query needs no backoff; serving NEW text falls back
    * per miss to the persisted continuation table then to its floor
    * ([[lmScoreWith]], spec-pinned).
    *
    * Scale: the exploded 5-gram frame is tokens-sized (one row per
    * position — the same volume t18's chunker and t31's n-gram top-k
    * already shuffle); the model table is distinct-5-grams-sized and
    * join-keyed on (h, w), so scoring shuffles each side once on the
    * n-gram key. No driver materialization anywhere (Z folds into the
    * persisted rows at fit time).
    */
  val LmDiscount = 0.75
  val LmOrder = 5

  val LmTable = "lm_ngram5"
  val LmSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("h", StringType),
      StructField("w", StringType),
      StructField("c", LongType),
      StructField("lp_micro", LongType),
      StructField("corpus_stamp", StringType)))
  }

  /** Unigram-continuation fallback for scoring text the fit never saw:
    * (w, cont, lp_micro = ln(cont/Z) micro-nats). `lp_floor_micro` (the
    * all-miss floor, ln(0.5/Z)) rides on every row the way
    * corpus_stamp does — dictionary-encoded to nothing, keeps the
    * model self-contained in two tables.
    */
  val LmContTable = "lm_ngram5_cont"
  val LmContSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("w", StringType),
      StructField("cont", LongType),
      StructField("lp_micro", LongType),
      StructField("lp_floor_micro", LongType),
      StructField("corpus_stamp", StringType)))
  }

  private val LmSep = ""

  /** One row per 5-gram POSITION: (doc_id, h, w), h = the 4 preceding
    * tokens joined on a non-text separator. Tokenization is [[TF.tokens]]
    * — the t02/t16/t33 parity-proven split.
    */
  private[graft] def ngramPositionsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= LmOrder)
      .select(col("doc_id"), explode(transform(
        sequence(lit(LmOrder), size(col("toks"))), k =>
          struct(
            concat_ws(LmSep,
              element_at(col("toks"), k - 4), element_at(col("toks"), k - 3),
              element_at(col("toks"), k - 2), element_at(col("toks"), k - 1)).as("h"),
            element_at(col("toks"), k).as("w")))).as("ng"))
      .select(col("doc_id"), col("ng.h").as("h"), col("ng.w").as("w"))

  /** Fit the model frames over an explicit corpus: (5-gram table,
    * continuation table) — exactly the rows [[ensureNgramLm]] persists.
    */
  private[graft] def lmOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val ng = ngramPositionsOf(docs)
    // every downstream frame (ctx, cont, z, both outputs) re-reads this
    // exploded-5-gram aggregation — cut it so a caller materializing
    // both returned tables pays the explode+count exactly once
    val cw = Frames.cut(ng.groupBy(col("h"), col("w")).agg(count(lit(1)).as("c")))
    val ctx = cw.groupBy(col("h"))
      .agg(sum(col("c")).as("ctx_total"), count(lit(1)).as("ctx_distinct"))
    val cont = cw.groupBy(col("w")).agg(count(lit(1)).as("cont"))
    // Z joins in as a one-row broadcast instead of a driver collect: the
    // fit stays a pure plan end to end
    val z = cont.agg(sum(col("cont")).as("z"))
    val lm = cw.join(ctx, Seq("h")).join(cont, Seq("w")).crossJoin(broadcast(z))
      .select(col("h"), col("w"), col("c"),
        round(log(
          (greatest(col("c") - LmDiscount, lit(0.0)) +
            lit(LmDiscount) * col("ctx_distinct") * (col("cont") / col("z")))
            / col("ctx_total")) * 1e6).cast("long").as("lp_micro"))
    val contOut = cont.crossJoin(broadcast(z))
      .select(col("w"), col("cont"),
        round(log(col("cont") / col("z")) * 1e6).cast("long").as("lp_micro"),
        round(log(lit(0.5) / col("z")) * 1e6).cast("long").as("lp_floor_micro"))
    (lm, contOut)
  }

  /** Fit-and-persist once per corpus, content-stamped — the
    * [[ensureRarityVocab]] protocol for both model tables.
    */
  def ensureNgramLm(s: SparkSession, dir: String): graft.etl.Warehouse = {
    val wh = IvfModel.warehouseFor(s, dir)
    val stamp = s"lm5:$dir\nD=$LmDiscount\n${contentStamp(s, s"$dir/documents.parquet")}"
    // one shared fit for both tables (lazy: warm runs where both stamps
    // hit never pay it); the (h,w) count inside lmOf is cut, so the two
    // persists split one materialized aggregation instead of refitting
    lazy val fitted = lmOf(documents(s, dir))
    StampedTable.ensure(wh, LmTable, LmSchema, stamp) { fitted._1 }
    StampedTable.ensure(wh, LmContTable, LmContSchema, stamp) { fitted._2 }
    wh
  }

  /** Score an arbitrary corpus against a fitted model: per position,
    * the seen-5-gram log-prob, else the continuation fallback, else the
    * floor — then per doc the integer micro-nat totals. `n_ngrams` = 0
    * docs (< 5 tokens) are absent: an n-gram LM has no opinion on them
    * (the curation gate passes them through to the other signals).
    */
  def lmScoreWith(docs: DataFrame, lm: DataFrame, cont: DataFrame): DataFrame =
    ngramPositionsOf(docs)
      .join(lm.select(col("h"), col("w"), col("lp_micro").as("lp5")), Seq("h", "w"), "left")
      .join(cont.select(col("w"), col("lp_micro").as("lp1"),
        col("lp_floor_micro").as("lpf")), Seq("w"), "left")
      // an all-miss row has NULL lpf too (the floor rides the cont
      // table), so the literal fallback only fires on a model with an
      // EMPTY cont table — impossible for a non-empty fit
      .select(col("doc_id"),
        coalesce(col("lp5"), col("lp1"), col("lpf"), lit(0L)).as("lp_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"), (-sum(col("lp_micro"))).as("nll_sum_micro"))
      .select(col("doc_id"), col("n_ngrams").cast("int").as("n_ngrams"),
        col("nll_sum_micro"),
        // positive integer division: floor == truncate in BOTH engines
        // (Spark `div` truncates toward zero, DuckDB `//` floors — they
        // disagree only on negatives, and nll is nonnegative)
        expr("CAST(nll_sum_micro DIV n_ngrams AS BIGINT)").as("nll_avg_micro"))
      .orderBy(col("doc_id"))

  def t53NgramLm(s: SparkSession, dir: String): DataFrame = {
    val wh = ensureNgramLm(s, dir)
    lmScoreWith(documents(s, dir),
      wh.read(LmTable, LmSchema),
      wh.read(LmContTable, LmContSchema))
  }

  /** The DuckDB replay: same tokenization, same exploded 5-gram
    * positions (parallel unnest), the SAME persisted lp_micro integers,
    * integer sums. Self-scoring touches only seen 5-grams, so the join
    * is inner-complete by construction (the left-join fallbacks in
    * [[lmScoreWith]] never fire — asserted by the hash match itself).
    */
  def t53Sql(dir: String): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(5, len(toks) + 1), k ->
       |      concat_ws(chr(1), toks[k-4], toks[k-3], toks[k-2], toks[k-1]))) AS h,
       |    unnest(list_transform(range(5, len(toks) + 1), k -> toks[k])) AS w
       |  FROM t WHERE len(toks) >= 5),
       |lm AS (SELECT h, w, lp_micro
       |       FROM read_parquet('${IvfModel.oraclePathFor(dir, LmTable)}/*.parquet')),
       |d AS (
       |  SELECT doc_id, count(*) AS n_ngrams,
       |    CAST(-sum(lp_micro) AS BIGINT) AS nll_sum_micro
       |  FROM g JOIN lm USING (h, w) GROUP BY doc_id)
       |SELECT doc_id, CAST(n_ngrams AS INT) AS n_ngrams, nll_sum_micro,
       |  CAST(nll_sum_micro // n_ngrams AS BIGINT) AS nll_avg_micro
       |FROM d ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ registry
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t20_quality_flags"     -> (t20QualityFlags _),
    "t21_pii_scan"          -> (t21PiiScan _),
    "t22_contamination"     -> (t22Contamination _),
    "t23_stratified_sample" -> (t23StratifiedSample _),
    "t24_source_mix"        -> (t24SourceMix _),
    "t25_repetition"        -> (t25Repetition _),
    "t26_split_leakage"     -> (t26SplitLeakage _),
    "t27_embed_quantize"    -> (t27EmbedQuantize _),
    "t28_decontaminated_split" -> (t28DecontaminatedSplit _),
    "t29_sequence_packing"  -> (t29SequencePacking _),
    "t30_corpus_shuffle"    -> (t30CorpusShuffle _),
    "t31_top_ngrams"        -> (t31TopNgrams _),
    "t32_flatten_mix"       -> (t32FlattenMix _),
    "t33_token_idf"         -> (t33TokenIdf _),
    "t39_temperature_mix"   -> (t39TemperatureMix _),
  )

  val oracles: Map[String, String] = Map(
    "t20_quality_flags"     -> t20Sql,
    "t21_pii_scan"          -> t21Sql,
    "t22_contamination"     -> t22Sql,
    "t23_stratified_sample" -> t23Sql,
    "t24_source_mix"        -> t24Sql,
    "t25_repetition"        -> t25Sql,
    "t26_split_leakage"     -> t26Sql,
    "t27_embed_quantize"    -> t27Sql,
    "t28_decontaminated_split" -> t28Sql,
    "t29_sequence_packing"  -> t29Sql,
    "t30_corpus_shuffle"    -> t30Sql,
    "t31_top_ngrams"        -> t31Sql,
    "t32_flatten_mix"       -> t32Sql,
    "t33_token_idf"         -> t33Sql,
    "t39_temperature_mix"   -> t39Sql,
  )
}
