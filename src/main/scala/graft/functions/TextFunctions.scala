package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline: tokenization,
  * shingling, quality metrics, fingerprints. Pure Column expressions
  * (higher-order functions + xxhash64) — deterministic across runs and
  * cluster sizes, no UDFs.
  */
object TextFunctions {

  /** Whitespace tokenizer (lowercased, empty tokens dropped). */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= "")

  /** k-token shingles (lowercased), distinct. Empty array when the doc has
    * fewer than k tokens.
    */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      array_distinct(
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k))))))
      .otherwise(array().cast("array<string>"))

  /** Count of tokens that appear in the stopword list. */
  def stopwordCount(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(stopwords)))

  /** Order-sensitive rolling polynomial fingerprint of the token sequence,
    * mod 1e9+7. Tokens are pre-reduced mod p so the fold never overflows
    * Long (ANSI mode would raise on overflow).
    */
  def rollingFingerprint(toks: Column): Column = {
    val p = lit(1000000007L)
    aggregate(toks, lit(0L), (acc, t) => (acc * 31L + pmod(xxhash64(t), p)) % p)
  }

  /** MinHash permutation parameters: fixed (a, b) pairs for the universal
    * hash family h_i(x) = (a_i·x + b_i) mod p over p = 2^31 - 1. Seeded so
    * signatures are stable across runs and executors. Keeping x < p bounds
    * a·x < 2^62 — no Long overflow under ANSI mode.
    */
  private val MinhashP = 2147483647L // Mersenne prime 2^31 - 1
  private lazy val minhashParams: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    IndexedSeq.fill(64)((1L + rnd.nextInt((MinhashP - 1).toInt).toLong,
                         rnd.nextInt(MinhashP.toInt).toLong))
  }

  /** Shared with NativeHashes (and the oracle-SQL generators, which inline
    * these constants into DuckDB SQL) so every formulation emits identical
    * values.
    */
  def minhashParamsFor(num: Int): IndexedSeq[(Long, Long)] =
    minhashParams.take(num)

  /** Base hashes for MinHash: each shingle hashed ONCE (xxhash64, reduced
    * mod p). Materialize this as its own column so the per-permutation
    * passes below reuse it instead of re-hashing strings.
    */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, sh => pmod(xxhash64(sh), lit(MinhashP)))

  /** md5-derived 60-bit hash of a string column: the first 15 hex chars of
    * md5 parsed as a bigint. Unlike xxhash64 this is reproducible in any
    * engine with an md5() builtin — the property that makes the dedup /
    * fingerprint queries oracle-checkable. Identical to
    * NativeText.md5Long60 (asserted in NativeHashesSpec).
    */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Per-token md5-60-bit hashes (oracle-checkable sibling of tokenHashes). */
  def md5TokenHashes(toks: Column): Column = transform(toks, t => md5Long60(t))

  /** Per-shingle md5-60-bit hashes reduced mod p (oracle-checkable sibling
    * of shingleHashes). Inputs are non-negative so % equals pmod.
    */
  def md5ShingleHashes(shingleCol: Column): Column =
    transform(shingleCol, sh => md5Long60(sh) % MinhashP)

  /** MinHash signature from pre-computed shingle hashes: slot i is
    * min((a_i·h + b_i) mod p) — cheap integer ops per permutation instead
    * of a string hash. Standard estimator: P(sig_i equal) = Jaccard.
    * Inputs are re-reduced mod p first: a raw 64-bit hash would overflow
    * a·h in Long (ANSI mode raises); already-reduced inputs pass through
    * unchanged.
    */
  def minhashSignatureFromHashes(hashesCol: Column, num: Int): Column = {
    require(num <= minhashParams.size)
    array((0 until num).map { i =>
      val (a, b) = minhashParams(i)
      array_min(transform(hashesCol, h => (lit(a) * pmod(h, lit(MinhashP)) + lit(b)) % MinhashP))
    }: _*)
  }

  /** One-shot convenience (tests, small inputs): shingles → signature. */
  def minhashSignature(shingleCol: Column, num: Int): Column =
    minhashSignatureFromHashes(shingleHashes(shingleCol), num)

  /** LSH band keys over a signature: `bands` hashes, each over `rowsPerBand`
    * consecutive signature slots. Docs sharing any band key are candidate
    * near-duplicates.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), concat_ws("_",
        transform(slice(sig, b * rowsPerBand + 1, rowsPerBand), _.cast("string"))))
    }: _*)

  /** Estimated Jaccard similarity from two equal-length MinHash signatures:
    * fraction of agreeing slots.
    */
  def estJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(sigA)

  /** Exact Jaccard over two shingle-set columns. */
  def exactJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni   = size(array_union(a, b)).cast("double")
    when(uni === 0.0, 0.0).otherwise(inter / uni)
  }

  /** 63-bit SimHash over the token multiset (bit 62..0). For each bit
    * position, tokens vote +1/-1 by their xxhash64 bit; the sign becomes
    * the SimHash bit. 63 bits so the accumulating fold never overflows
    * Long under ANSI mode.
    */
  /** Per-token 64-bit hashes — materialize once, then fold bits over the
    * longs (re-hashing strings per bit position would cost 63× more).
    */
  def tokenHashes(toks: Column): Column = transform(toks, t => xxhash64(t))

  def simhash63(toksColName: String): Column =
    simhash63FromHashes(s"transform($toksColName, tk -> xxhash64(tk))")

  /** 63-bit SimHash from a pre-computed array<long> column (SQL expression
    * text). Nested higher-order lambdas need the SQL form: the inner
    * aggregate references the outer lambda variable b (the bit index).
    */
  def simhash63FromHashes(hashesExpr: String): Column =
    expr(
      s"""aggregate(sequence(62, 0, -1), 0L,
         |  (acc, b) -> acc * 2L + CASE WHEN
         |    aggregate($hashesExpr, 0L,
         |      (s, h) -> s + CASE WHEN (shiftright(h, b) & 1) = 1
         |                      THEN 1L ELSE -1L END) > 0
         |    THEN 1L ELSE 0L END)""".stripMargin)
}
