package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.etl.Warehouse
import graft.functions.{TextFunctions => TF}

/** PERSISTED LSH band index — the banded MinHash signatures of the settled
  * corpus ([[TextOps.bandedSigsOf]]: one row per (doc_id, band) with the
  * full signature and the band's key) materialized as a partitioned
  * warehouse table, exactly the t36 inverted-list pattern applied to the
  * dedup family.
  *
  * Why it exists: [[TextOps.minhashCandidatePairs]] is corpus-wide — every
  * call re-shingles, re-hashes and re-shuffles ALL documents. That is the
  * right shape for a one-off batch job, but it made the INCREMENTAL
  * posture ([[graft.pipelines.ClusterState]]) O(corpus) per ingest batch:
  * propagation was contracted to the batch neighborhood, yet the pair
  * feed still re-banded everything (cf. the reference's checkpointed
  * incremental sync, etl_sync.py:356-385 — new rows are fetched and
  * upserted; the settled table is never re-read wholesale). With the
  * index persisted, a batch bands ONLY ITSELF (batch-sized shingle +
  * minhash work) and probes the index by band key, reading only the
  * partitions its own keys hash into.
  *
  * Layout: band keys are near-unique (a 4-slot signature fragment), so
  * they cannot be partition directories themselves; each row gets
  * `bk_bucket = hash(band, band_key) mod [[BkBuckets]]`, the table is
  * partitioned by bk_bucket, and a probe restricts the scan to the
  * buckets the batch's own keys hash into — a STATIC partition filter
  * (the batch's bucket set is collected from the already-computed
  * batch-side frame, ≤ BkBuckets values), so pruning never depends on
  * DPP heuristics. [[BkBuckets]] is the fan-out dial: at 100 TB set it
  * so one bucket's band-key groups fit an executor's scan budget (e.g.
  * 4096); a SMALL batch then touches a small fraction of the buckets,
  * and even a bucket-covering batch still skips the corpus-side
  * shingle/minhash compute entirely.
  */
object BandIndex extends PersistedIndex {

  val TableName = "lsh_bands"

  def tableName: String = TableName
  def schema: org.apache.spark.sql.types.StructType = Schema
  def partitionCol: String = "bk_bucket"
  // (doc_id, band) — one row in one file; doc_id alone would let a torn
  // append (some of a doc's band rows committed) read as "already
  // indexed" and permanently drop the missing bands
  def repairKeys: Seq[String] = Seq("doc_id", "band")

  /** Partition fan-out of the persisted table — see the layout note
    * above. 32 keeps test directories small; the dial contract at scale
    * is `BkBuckets ≈ corpus_bytes / target_partition_scan_bytes`.
    */
  val BkBuckets = 32

  val Schema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("sig", ArrayType(LongType)),
      StructField("band", IntegerType),
      StructField("band_key", LongType),
      StructField("corpus_stamp", StringType),
      StructField("bk_bucket", IntegerType)))
  }

  private def bkBucket(band: org.apache.spark.sql.Column,
                       bandKey: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(band, bandKey), lit(BkBuckets.toLong)).cast("int")

  /** Banded signatures + partition bucket of an arbitrary (doc_id, text)
    * frame — the exact rows the index stores, and what a batch computes
    * for itself before probing.
    */
  def bandedOf(docs: DataFrame): DataFrame =
    TextOps.bandedSigsOf(docs)
      .withColumn("bk_bucket", bkBucket(col("band"), col("band_key")))

  /** Full (re)build over an explicit corpus frame: one versioned,
    * partitioned rewrite (pointer-flip commit — a crash mid-build leaves
    * the previous index generation live).
    */
  def seed(wh: Warehouse, docs: DataFrame): Unit =
    seedRows(wh, bandedOf(docs))

  /** Stamped variant for a STATIC corpus (the t37 verification path):
    * same staleness protocol as the IVF artifacts — materialized once per
    * (corpus content, stamp), repeat calls serve the committed
    * generation with zero setup jobs. `docs` is BY-NAME so a memoized
    * repeat never constructs the corpus frame (parquet schema inference
    * is a Spark job — the zero-jobs claim is spec-asserted).
    */
  def ensureFor(wh: Warehouse, docs: => DataFrame, stamp: String): Unit =
    ensureRows(wh, stamp) { bandedOf(docs) }

  /** Corpus-dir convenience: the index over `documents` at `dir`, stamped
    * by the table's content listing (a regenerated corpus re-materializes
    * instead of serving stale bands).
    */
  def ensure(s: SparkSession, dir: String): Unit =
    // BkBuckets is part of the stamp: bk_bucket values are baked into the
    // stored rows at write time, so probing a table laid out under a
    // different fan-out would prune the WRONG partitions and silently
    // miss pairs — a code-level BkBuckets change must re-materialize
    ensureFor(IvfModel.warehouseFor(s, dir), Tables.documents(s, dir),
      s"bands\n$dir\nbk=$BkBuckets\n${Tables.contentStamp(s, s"$dir/documents.parquet")}")

  /** The persisted index (doc_id, sig, band, band_key, bk_bucket). */
  def banded(wh: Warehouse): DataFrame = rows(wh)

  /** Grow the index by an ingest batch — banded rows appended into their
    * existing bk_bucket partitions (no rewrite of the settled corpus's
    * rows). IDEMPOTENT under replay at (doc_id, band) granularity: a
    * doc's four band rows land in DIFFERENT partition files, so a crash
    * mid-append can commit some of its bands and not others — an
    * anti-join on doc_id alone would then see the doc as "already
    * indexed" and permanently drop its missing bands (silent
    * under-merging downstream). (doc_id, band) is exactly one row in
    * exactly one file, so the repair granularity matches the commit
    * granularity: a replayed batch completes precisely what is missing
    * and duplicates nothing — the reference's idempotent-upsert posture
    * (etl_sync.py ON CONFLICT). The anti-join reads two small columns of
    * the index; the append itself is batch-sized. Not atomic like a
    * rewrite — the anti-join IS the repair path (spec-pinned against a
    * simulated torn append).
    *
    * The batch arrives ALREADY banded ([[bandedOf]]) — the ingest paths
    * band it ONCE and share the materialized banding between probe and
    * append instead of re-shingling per consumer. An unmaterialized
    * frame is lineage-cut here ([[Frames.cutIfPlain]]), so it is banded
    * once, not once per reference (threshold probe + anti-join + write).
    *
    * The idempotency anti-join is PARTITION-PRUNED: an existing
    * (doc_id, band) row for this batch necessarily lives in the same
    * bk_bucket the fresh row would land in (the bucket is a pure hash of
    * (band, band_key), and the key re-derives deterministically from the
    * text), so only the batch's own buckets are read — at corpus scale
    * the repair check costs O(batch neighborhood), not a full index scan
    * per batch. Giant batches fall back to a broadcast semi-join above
    * [[BucketPrune.MaxInline]] distinct buckets (no driver-side list).
    *
    * PRECONDITION of the pruned check: document content is IMMUTABLE
    * per doc_id. An already-indexed (doc_id, band) row is only visible
    * to the anti-join because the same text re-derives the same
    * band_key and therefore the same bk_bucket; re-ingesting a doc_id
    * with CHANGED text hashes into different buckets, escapes the
    * pruned anti-join, and duplicates that doc's rows. Replay /
    * torn-append repair (the stated purpose — same bytes redelivered)
    * is unaffected. A mutable corpus needs rewrite via [[seed]], not
    * this append path — or `checked = true`, which runs the anti-join
    * UNPRUNED (one two-column pass of the whole index per batch): a
    * changed doc's rows then match their landed (doc_id, band) keys
    * regardless of which bucket either lives in, so the re-ingest is
    * skipped (stale-but-consistent; rebuild to refresh content), never
    * duplicated.
    */
  def appendBatchBanded(wh: Warehouse, batchBanded: DataFrame,
                        maxInline: Int = BucketPrune.MaxInline,
                        checked: Boolean = false): Unit =
    appendRows(wh, batchBanded, maxInline, checked)

  /** This index as a [[PairFamily]] over (doc_id, text) slices at
    * [[TextOps.MaxBucket]]; pairs are (doc_a, doc_b, est_jaccard).
    */
  object Family extends PairFamily {
    def key: String = "doc"
    def dials: String = s"bk=$BkBuckets"
    def codedOf(docs: DataFrame): DataFrame = bandedOf(docs)
    def selfPairs(docs: DataFrame): DataFrame = TextOps.minhashPairsOf(docs)
    def seed(wh: Warehouse, docs: DataFrame): Unit = BandIndex.seed(wh, docs)
    // bk_bucket values are baked into the stored rows: the fan-out rides
    // the stamp (see [[ensure]])
    def ensure(wh: Warehouse, docs: => DataFrame, stamp: String): Unit =
      ensureFor(wh, docs, s"$stamp\nbk=$BkBuckets")
    def incrementPairs(wh: Warehouse, coded: DataFrame): DataFrame =
      incrementPairsOf(banded(wh), coded, TextOps.MaxBucket)
    def append(wh: Warehouse, coded: DataFrame): Unit = appendBatchBanded(wh, coded)
  }

  /** The index rows a batch's probe actually touches: scan pruned to the
    * batch's bk_buckets, semi-joined to its band keys. Split out so the
    * partition-pruning claim is asserted against THE plan that reads the
    * table (the caller cuts this eagerly, so the pruned scan never
    * appears in the returned pair plan).
    */
  private[graft] def probedSlice(index: DataFrame, batchBanded: DataFrame,
                                 buckets: Array[Int]): DataFrame =
    probedSliceOf(index.filter(col("bk_bucket").isin(buckets.toIndexedSeq: _*)),
      batchBanded)

  private def probedSliceOf(prunedIndex: DataFrame, batchBanded: DataFrame): DataFrame =
    prunedIndex
      .join(batchBanded.select(col("band"), col("band_key")).distinct(),
        Seq("band", "band_key"), "left_semi")

  /** Candidate pairs of a banded ingest batch against the index —
    * every pair (doc_a < doc_b, est_jaccard ≥ 0.5) with AT LEAST ONE
    * endpoint in the batch, identical to a full-corpus
    * [[TextOps.minhashPairsOf]] over (index ∪ batch) restricted to the
    * batch's neighborhood (spec-pinned, including the bucket cap, which
    * is applied on the UNION's per-bucket counts). [[Family]]'s probe;
    * explicit frames are the spec hook (cap behavior on synthetic skew).
    *
    * Work shape: the batch is banded (batch-sized compute); the index
    * scan is pruned to the batch's bk_buckets (static partition filter)
    * and semi-joined to its band keys; the pair join's per-key groups are
    * bounded by the same cap as the full pipeline. Nothing here is
    * O(corpus) except the pruned index read, which approaches O(batch ×
    * avg bucket) as BkBuckets grows.
    */
  private[graft] def incrementPairsOf(index: DataFrame, batchBanded: DataFrame,
                                      maxBucket: Int,
                                      maxInline: Int = BucketPrune.MaxInline): DataFrame = {
    // the batch side is referenced four times (bucket probe, counts,
    // both pair-join sides) and is the expensive-to-recompute half
    // (shingle + minhash): materialize it ONCE with an eager lineage cut
    // ([[Frames.cut]]); an ALREADY-materialized frame (a caller sharing
    // its banding across probe + append) is not copied again. It is
    // batch-sized by definition.
    val cut = Frames.cut _
    val bb = Frames.cutIfPlain(batchBanded)
    // Partition pruning: STATIC (an inlined IN over the batch's bucket
    // set, collected bounded from the persisted batch frame — the index
    // scan then carries a PartitionFilters entry, plan-asserted in
    // BandIndexSpec on [[probedSlice]]) up to [[BucketPrune.MaxInline]]
    // distinct buckets; a broadcast semi-join beyond (no driver list —
    // see BucketPrune's scaladoc for the giant-batch rationale).
    val prunedIndex = BucketPrune.restrict(index, "bk_bucket", bb, maxInline)
    // ...and materialize the PROBED slice once too: it is referenced by
    // the count frame and both pair-join sides, and without the cut each
    // reference re-reads the pruned partitions and re-runs the semi-join
    // (the formatted plan showed 4 index scans). Bounded by
    // |batch keys| × union bucket occupancy — probe-sized, not
    // corpus-sized. The anti-join on doc_id makes the probe REPLAY-EXACT:
    // a batch whose bands already landed in the index (crash after
    // [[appendBatchBanded]], orchestrator redelivers) would otherwise appear on
    // BOTH union sides — its rows double-counted into the cap occupancy,
    // flipping a boundary bucket to oversized only on the replay and
    // yielding different pairs than the first run. Excluding the batch's
    // own ids from the index side makes a replayed probe read exactly the
    // settled-minus-batch corpus, so replay == first run bit-for-bit,
    // cap decisions included (spec-pinned at a biting cap).
    val probed = cut(probedSliceOf(prunedIndex, bb)
      .join(bb.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti"))

    // the skew cap over the UNION's bucket counts — exactly what
    // capBuckets computes on a full recluster of (index ∪ batch). Keys
    // with no batch row cannot produce a batch-neighborhood pair, so
    // index-only buckets never matter; both count frames collapse to
    // ≤ |batch keys| rows and broadcast back as an anti-join, the
    // t15-guard shape (the probed corpus rows take no extra shuffle).
    val idxCounts = probed.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n_idx"))
    val oversized = bb.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n_new"))
      .join(idxCounts, Seq("band", "band_key"), "left")
      .filter(coalesce(col("n_idx"), lit(0L)) + col("n_new") > maxBucket)
      .select(col("band"), col("band_key"))

    val u = probed.select(col("band"), col("band_key"), col("doc_id"), col("sig"))
      .withColumn("is_new", lit(false))
      .unionByName(bb.select(col("band"), col("band_key"), col("doc_id"), col("sig"))
        .withColumn("is_new", lit(true)))
      .join(broadcast(oversized), Seq("band", "band_key"), "left_anti")
    val a = u.select(col("band"), col("band_key"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("is_new").as("new_a"))
    val b = u.select(col("band"), col("band_key"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("is_new").as("new_b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      // index-index pairs within probed buckets are the settled corpus's
      // own business (they fed the prior state when THEIR batch landed)
      .filter(col("new_a") || col("new_b"))
      .select(col("doc_a"), col("doc_b"),
        round(TF.estJaccard(col("sig_a"), col("sig_b")), 4).as("est_jaccard"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
      .filter(col("est_jaccard") >= TextOps.MinJaccard)
  }
}
