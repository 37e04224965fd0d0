package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.functions.{Rounding => R, VectorOps => V}

/** PERSISTED embedding bucket index — [[BandIndex]]'s twin for the
  * VECTOR side of the dedup family: every corpus vector stored with its
  * norm under its hyperplane sign code. The Hive partition column is
  * `pbucket = bucket mod [[PBuckets]]` — the same bounded fan-out layer
  * BandIndex uses, because the raw sign code CANNOT be the directory
  * key at production widths: `bitsFor` grows the code space to 2^bits
  * directories (8192 at the second decade's bits=13, a billion at 30),
  * and the round-12 sf10 run measured the wide-dial lifecycle wall
  * dominated by exactly that — 16k directories / 65k files per
  * warehouse, tens of thousands of file opens per query. With the
  * fan-out capped, directory count is ≤ PBuckets at ANY bits (identity
  * below 2^10, so narrow-dial layouts are unchanged), `bucket` rides as
  * a data column (parquet row-group stats still skip within a
  * partition), and probes prune on the derived pbucket set. An ingest
  * batch codes ONLY ITSELF, probes the index across its Hamming-radius
  * masks with a static partition filter, and gets exactly the t15
  * cosine pairs that touch the batch — without re-scanning, re-norming
  * or re-coding the settled corpus.
  * Feeds [[graft.pipelines.ClusterState]] for incremental SEMANTIC
  * dedup the same way BandIndex feeds the text side (t37 / t40).
  *
  * Mask symmetry makes one-sided probing complete: vector a probes b's
  * bucket iff b probes a's (the XOR mask is the same code difference),
  * so batch-side-only probes still reach every (old, new) pair; pairs
  * are emitted orientation-normalized (least, greatest) and deduped,
  * where the full t15 relies on its a < b probe direction instead.
  */
object EmbIndex extends PersistedIndex {

  val TableName = "emb_buckets"

  def tableName: String = TableName
  def schema: org.apache.spark.sql.types.StructType = Schema
  def partitionCol: String = "pbucket"
  // one row per vector = one row per file slot: no sub-row torn-append
  // shape to repair, vec_id alone is the commit granularity
  def repairKeys: Seq[String] = Seq("vec_id")

  // the append's idempotency check prunes BOTH levels: pbucket as the
  // partition filter, the exact sign code as a row-group data filter
  override protected def restrictLanded(index: DataFrame, batch: DataFrame,
                                        maxInline: Int): DataFrame =
    restrictToBuckets(index, batch, maxInline)

  /** Partition fan-out cap — directories per index generation at any
    * code width. 1024 = identity below bits=10 (the audited narrow
    * dials keep their exact layout), 8× fewer files at bits=13, and a
    * constant at the 100 TB bits≈20-30 regime where one-dir-per-code is
    * unbuildable. The dial contract at scale mirrors
    * [[BandIndex.BkBuckets]]: PBuckets ≈ index_bytes /
    * target_partition_scan_bytes.
    */
  val PBuckets = 1024

  private[graft] def pbucketOf(bucket: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(bucket, lit(PBuckets.toLong)).cast("int")

  val Schema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("emb", ArrayType(DoubleType)),
      StructField("nrm", DoubleType),
      StructField("bucket", LongType),
      StructField("corpus_stamp", StringType),
      StructField("pbucket", IntegerType)))
  }

  /** Coded rows of an arbitrary (vec_id, embedding) frame — the exact
    * rows the index stores, and what a batch computes for itself. Same
    * projection t15 builds per query (norm materialized per VECTOR, so
    * per-pair work is one dot product).
    */
  def codedOf(embSrc: DataFrame, bits: Int = Lsh.Bits): DataFrame =
    embSrc
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", V.norm(col("emb")))
      .withColumn("bucket", Lsh.bucketOf(col("emb"), bits))
      .withColumn("pbucket", pbucketOf(col("bucket")))

  /** Full (re)build over an explicit frame: one versioned, partitioned
    * rewrite (pointer-flip commit).
    */
  def seed(wh: Warehouse, embSrc: DataFrame, bits: Int = Lsh.Bits): Unit =
    seedRows(wh, codedOf(embSrc, bits))

  /** Stamped variant for a static corpus (the t40 verification path).
    * `bits` MUST be part of the caller's stamp: codes are baked into the
    * stored rows, so probing a table coded at a different width would
    * match the wrong buckets (the same layout rule as BandIndex's
    * fan-out and the IVF K).
    */
  def ensureFor(wh: Warehouse, embSrc: => DataFrame, stamp: String,
                bits: Int = Lsh.Bits): Unit =
    // the fan-out rides the stamp: a pre-fan-out table (or a dialed
    // PBuckets) lays its files out differently and must rebuild
    ensureRows(wh, s"$stamp\npb=$PBuckets") {
      codedOf(embSrc, bits)
    }

  /** The persisted index (vec_id, emb, nrm, bucket, pbucket) — the
    * partition column rides the projection so downstream probe reads
    * can still land a PARTITION filter (a filter on the data column
    * `bucket` alone prunes row groups, not directories).
    */
  def coded(wh: Warehouse): DataFrame = rows(wh)

  /** Grow the index by an ALREADY-coded ingest batch ([[codedOf]]) —
    * idempotent at vec_id granularity (one row per vector = one row per
    * file slot, so unlike the band index there is no sub-row
    * torn-append shape to repair). The ingest path shares one
    * materialized coding across probe + append; an unmaterialized frame
    * is lineage-cut here, so it is coded once, not once per reference.
    * The idempotency
    * anti-join is PARTITION-PRUNED to the batch's own sign codes: an
    * existing row for a batch vector necessarily sits in the bucket the
    * deterministic re-coding derives, so the check reads O(batch
    * buckets), never the full index; giant batches fall back to a
    * broadcast semi-join above [[BucketPrune.MaxInline]] distinct codes.
    *
    * PRECONDITION of the pruned check (same as
    * [[BandIndex.appendBatchBanded]]): embeddings are IMMUTABLE per
    * vec_id — a re-ingested vec_id with a CHANGED vector codes into a
    * different bucket, escapes the pruned anti-join, and duplicates the
    * row. Replay of identical bytes is unaffected; a mutable corpus
    * needs rewrite via [[seed]] — or `checked = true`, which runs the
    * anti-join UNPRUNED (one vec_id-column pass of the whole index per
    * batch) so a changed vector's re-ingest is skipped, never
    * duplicated.
    */
  def appendBatchCoded(wh: Warehouse, batchCoded: DataFrame,
                       maxInline: Int = BucketPrune.MaxInline,
                       checked: Boolean = false): Unit =
    appendRows(wh, batchCoded, maxInline, checked)

  /** This index as a [[PairFamily]] over (vec_id, embedding) slices at
    * t15's dials; pairs are (vec_a, vec_b, cosine).
    */
  final case class Family(bits: Int = Lsh.Bits, radius: Int = Lsh.PolicyRadius,
                          maxBucket: Int = TextOps.EmbBucketCap) extends PairFamily {
    /** `radius` with the [[Lsh.PolicyRadius]] sentinel resolved — what
      * the seed and the probe run at, and what the stamp records, so
      * sentinel and explicit-equal families share one seeded generation.
      */
    val resolvedRadius: Int = Lsh.resolveRadius(bits, radius, TextOps.PairRadius)
    def key: String = "vec"
    def dials: String = s"bits=$bits\nradius=$resolvedRadius\ncap=$maxBucket"
    def codedOf(emb: DataFrame): DataFrame = EmbIndex.codedOf(emb, bits)
    def selfPairs(emb: DataFrame): DataFrame =
      TextOps.t15CosineNearDupOf(emb, bits, resolvedRadius, maxBucket = maxBucket)
    def seed(wh: Warehouse, emb: DataFrame): Unit = EmbIndex.seed(wh, emb, bits)
    def ensure(wh: Warehouse, emb: => DataFrame, stamp: String): Unit =
      ensureFor(wh, emb, s"$stamp\nbits=$bits", bits)
    def incrementPairs(wh: Warehouse, coded: DataFrame): DataFrame =
      incrementCosinePairsOf(EmbIndex.coded(wh), coded, bits, resolvedRadius, maxBucket)
    def append(wh: Warehouse, coded: DataFrame): Unit = appendBatchCoded(wh, coded)
  }

  /** The index restricted to a probe frame's bucket set — BOTH levels:
    * the derived pbucket set lands as the PARTITION filter (static IN
    * ≤ [[BucketPrune.MaxInline]] values, broadcast-semi DPP above) and
    * the exact bucket set as a data filter the parquet reader pushes to
    * row-group stats. `buckets` must expose a `bucket` column.
    */
  private[graft] def restrictToBuckets(index: DataFrame, buckets: DataFrame,
                                       maxInline: Int = BucketPrune.MaxInline): DataFrame = {
    val b = buckets.select(col("bucket"))
      .withColumn("pbucket", pbucketOf(col("bucket")))
    BucketPrune.restrict(
      BucketPrune.restrict(index, "pbucket", b, maxInline),
      "bucket", b, maxInline)
  }

  /** The probed slice — split out (like [[BandIndex.probedSlice]]) so
    * the partition-pruning claim is asserted against the plan that
    * actually reads the table.
    */
  private[graft] def probedSlice(index: DataFrame, probeBuckets: Array[Long]): DataFrame =
    index.filter(col("pbucket").isin(
        probeBuckets.map(b => (b % PBuckets).toInt).distinct.toSeq: _*) &&
      col("bucket").isin(probeBuckets.toSeq: _*))

  /** Cosine near-dup pairs of a coded ingest batch against the index —
    * every pair (vec_a < vec_b, cosine ≥ τ) with AT LEAST ONE endpoint in
    * the batch, identical to [[TextOps.t15CosineNearDupOf]] over
    * (index ∪ batch) restricted to the batch's neighborhood (spec-pinned,
    * cap applied on the UNION's per-bucket counts with t15's
    * keep-the-members semantics). [[Family]]'s probe.
    *
    * Work shape: the batch is coded (batch-sized compute); the probed
    * bucket set — batch codes × Hamming masks, ≤ 2^bits values — lands
    * as a static partition filter on the index scan; per-bucket
    * candidate work is bounded by the cap exactly as in t15.
    */
  private[graft] def incrementCosinePairsOf(index: DataFrame, batchCoded: DataFrame,
                                            bits: Int, radius: Int,
                                            maxBucket: Int,
                                            maxInline: Int = BucketPrune.MaxInline,
                                            probeBroadcastMaxBytes: Long =
                                              TextOps.DialProbeBroadcastMaxBytes): DataFrame = {
    val cut = Frames.cut _
    // an already-materialized coded frame is not copied again
    val bc = Frames.cutIfPlain(batchCoded)
    val masks = Lsh.masksWithin(radius, bits)
    // every bucket a batch vector probes OR lives in (mask 0 is in the
    // set, so own buckets are covered): ≤ 2^bits values, derived from the
    // batch-sized frame. Up to [[BucketPrune.MaxInline]] distinct codes
    // this lands as a STATIC partition filter like BandIndex; a giant
    // batch × mask fan-out falls back to a broadcast semi-join instead
    // of a driver-side list (see BucketPrune).
    val probeBucketsDf = bc.select(
      explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val prunedIndex = restrictToBuckets(index, probeBucketsDf, maxInline)
    // anti-join on vec_id = the replay-exactness guard (same reasoning as
    // [[BandIndex.incrementPairsOf]]): a batch already appended by a
    // crashed run must not count twice into the union cap occupancy nor
    // ride the corpus side of the pair join
    val probed = cut(prunedIndex
      .join(bc.select(col("vec_id")), Seq("vec_id"), "left_anti"))

    // the t15 skew cap on the UNION's occupancy. Counts must cover every
    // probed bucket (a corpus vector there may pair with a batch probe),
    // not only the batch's own codes — hence the full-outer combine.
    val oversized = probed.groupBy(col("bucket")).agg(count(lit(1)).as("n_idx"))
      .join(bc.groupBy(col("bucket")).agg(count(lit(1)).as("n_new")),
        Seq("bucket"), "full_outer")
      .filter(coalesce(col("n_idx"), lit(0L)) + coalesce(col("n_new"), lit(0L)) > maxBucket)
      .select(col("bucket"))
    val corpus = probed.unionByName(bc)
      .join(broadcast(oversized), Seq("bucket"), "left_anti")
    val batchCapped = bc.join(broadcast(oversized), Seq("bucket"), "left_anti")

    // the pair join mirrors t15's two shapes EXACTLY — but, being an
    // INCREMENT, the probe side is batch-sized, and a small batch's
    // exploded probe frame can legitimately broadcast (the index scan
    // then stays in place: ZERO corpus bytes moved, the ideal shape for
    // a small increment against a huge index). The planner must not
    // make that call: the probe's true size is |batch| × |masks| but the
    // planner sees only the pre-Generate estimate, so left alone a wide
    // dial (bits=10, radius 4 → 386 masks) elects the ~2 GB exploded
    // frame for BroadcastExchange and OOMs the driver — measured at the
    // round-11 sf1.0 decade run. So the choice is EXPLICIT, from the
    // honest pre-explode estimate (the batch is a materialized
    // checkpoint) × the fan-out: under [[TextOps.ProbeBroadcastMaxBytes]]
    // the probe frame is broadcast()-wrapped; over it, shuffle-hash
    // pinned. The estimate uses the FULL batch row width even for the
    // narrow (ids-only) probe shape, so it only ever errs toward the
    // safe shuffle. Above [[TextOps.NarrowProbeMaskThreshold]] masks the
    // probe also goes NARROW (ids only — the emb payload re-attaches per
    // candidate from the batch-sized frame) so the per-candidate rows
    // are ~16 B instead of 530 B — PROVIDED the batch attach side
    // broadcasts (same [[TextOps.AttachBroadcastMaxBytes]] gate as t15:
    // a planner-chosen shuffle attach would move the candidate
    // intermediate, the disk-filling shape the sf10 run measured).
    val batchBytes = bc.queryExecution.optimizedPlan.stats.sizeInBytes
    val attachFits = batchBytes <= TextOps.AttachBroadcastMaxBytes
    val probeFits =
      batchBytes * masks.length <= probeBroadcastMaxBytes
    // over-budget branch: the shuffle-hash BUILD side must be the
    // batch-bounded probe frame, not the corpus — in the increment
    // regime the index is the unbounded side, and hinting it would
    // build the per-partition hash map from the large side (an
    // executor-memory cliff at index sizes where this path matters).
    // A batch × masks frame that outgrows even the non-spillable SHJ
    // build budget takes sort-merge instead — same three-way gate as
    // the serving paths ([[TextOps.pinnedSide]]), decided from the
    // honest pre-explode estimate × fan-out the broadcast gate already
    // computed
    val shjFits =
      batchBytes * masks.length <= TextOps.ShuffleHashBuildMaxBytes
    def paired(probes: DataFrame): DataFrame =
      if (probeFits) corpus.join(broadcast(probes), Seq("bucket"))
      else if (shjFits) corpus.join(probes.hint("shuffle_hash"), Seq("bucket"))
      else corpus.join(probes.hint("merge"), Seq("bucket"))
    val scored =
      if (masks.length > TextOps.NarrowProbeMaskThreshold && attachFits) {
        val probes = batchCapped.select(col("vec_id").as("vec_a"),
          explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
        paired(probes)
          .filter(col("vec_a") =!= col("vec_id"))
          .join(broadcast(batchCapped.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
            col("nrm").as("nrm_a"))), Seq("vec_a"))
      } else {
        val probes = batchCapped.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
          col("nrm").as("nrm_a"),
          explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
        paired(probes)
          .filter(col("vec_a") =!= col("vec_id"))
      }
    scored
      .select(least(col("vec_a"), col("vec_id")).as("pair_a"),
        greatest(col("vec_a"), col("vec_id")).as("pair_b"),
        // cosine is symmetric, so orientation normalization cannot change
        // it — same halfUp(dot/(|a||b|), 6) with the zero-norm guard t15
        // rounds with, bit-identical to the full pipeline's value
        R.halfUp(when(col("nrm_a") === 0.0 || col("nrm") === 0.0, 0.0)
          .otherwise(V.dot(col("emb_a"), col("emb")) / (col("nrm_a") * col("nrm"))), 6)
          .as("cosine"))
      .filter(col("cosine") >= TextOps.CosTau)
      // batch-batch pairs arrive once per direction; the cosine is equal
      // on both, so max == distinct
      .groupBy(col("pair_a"), col("pair_b"))
      .agg(max(col("cosine")).as("cosine"))
      .select(col("pair_a").as("vec_a"), col("pair_b").as("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }
}
