package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.CompileFree
import graft.etl.Warehouse
import graft.queries.{BandEmbIndex, BandIndex, EmbIndex, Frames, IvfModel, PairFamily, TextOps}

/** PERSISTED dedup-cluster state — the reference's checkpoint posture
  * (etl_sync.py:356-385: sync state survives runs, each batch advances
  * it) applied to near-dup clustering: the full (doc_id, cluster)
  * assignment lives in a versioned warehouse table, and each ingest
  * batch advances it through [[TextOps.dedupClustersIncrement]] — the
  * propagation touches only the batch's edge neighborhood, never the
  * settled corpus.
  *
  * {{{
  * ClusterState.seed(wh, corpusIds, pairs)          // first full build
  * // per ingest batch:
  * ClusterState.advance(wh, batchIds, batchPairs)   // contracted increment
  * ClusterState.clusters(wh)                        // presentation (size > 1)
  * }}}
  *
  * Crash safety comes from the warehouse's versioned rewrite: the new
  * assignment lands in a fresh version directory and the pointer flip is
  * the only commit step, so a crash mid-advance leaves the previous
  * state generation live (and the rewrite reading its own table's prior
  * generation is safe by construction — different directories).
  */
object ClusterState {

  val TableName = "dedup_clusters"

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("cluster", LongType)))

  /** The current full assignment (empty with the right schema if never
    * seeded — [[advance]] on an unseeded table is just a seed of the
    * increment).
    */
  def read(wh: Warehouse): DataFrame = wh.read(TableName, Schema)

  /** Full (re)build: assignment over the whole corpus, committed as a
    * fresh generation.
    */
  def seed(wh: Warehouse, nodes: DataFrame, pairs: DataFrame): Unit =
    wh.rewrite(TableName, TextOps.clusterAssignmentOf(nodes, pairs))

  /** Seed from an assignment ALREADY computed elsewhere (Curation's
    * clustered near-dup stage exposes the one its drop decision used) —
    * no re-banding, no second label propagation.
    */
  def seedAssignment(wh: Warehouse, assignment: DataFrame): Unit =
    wh.rewrite(TableName, assignment.select(col("doc_id"), col("cluster")))

  /** Advance the state by one ingest batch: contracted increment over
    * the batch's edge neighborhood, committed as a fresh generation.
    */
  def advance(wh: Warehouse, newNodes: DataFrame, incPairs: DataFrame): Unit =
    // a provably no-op increment (fully-replayed batch) skips the
    // corpus-scale versioned rewrite outright — see dedupClustersIncrementOpt
    TextOps.dedupClustersIncrementOpt(read(wh), newNodes, incPairs)
      .foreach(wh.rewrite(TableName, _))

  /** The maintained state presented like [[TextOps.dedupClustersOf]]:
    * canonical member + cluster_size, singletons dropped.
    */
  def clusters(wh: Warehouse): DataFrame = TextOps.presentClusters(read(wh))

  // ------------------------------------------------- index-fed lifecycle
  /** Full build of BOTH persisted artifacts over a slice — `fam`'s index
    * (the one the next batches will probe) and the cluster assignment
    * from the slice's self pairs. Run once per corpus (or to
    * [[reconcile]]); everything after is [[ingestBatch]].
    */
  def seedCorpus(wh: Warehouse, fam: PairFamily, slice: DataFrame): Unit = {
    fam.seed(wh, slice)
    seedPairs(wh, fam, slice)
  }

  private def seedPairs(wh: Warehouse, fam: PairFamily, slice: DataFrame): Unit = {
    val pairs = fam.selfPairs(slice)
    try seed(wh, fam.nodesOf(slice), fam.edgesOf(pairs))
    finally Frames.releaseBeyond(pairs, slice)
  }

  /** One ingest batch, fully incremental: the batch codes ONLY ITSELF,
    * probes `fam`'s persisted index for its candidate pairs
    * (partition-pruned read), advances the cluster state through the
    * contracted propagation, then appends its own coded rows to the index
    * for the NEXT batch. Nothing in the loop re-codes the settled corpus;
    * the only full passes left are one column-pruned read of the prior
    * assignment (the composition join inside the increment) and the
    * append's idempotency anti-join on the index's key columns.
    *
    * Replay-safe at every crash point: pairs are recomputed
    * deterministically, a re-run advance is a no-op (the increment drops
    * newNodes already in the prior assignment), and the index append
    * anti-joins what already landed.
    */
  def ingestBatch(wh: Warehouse, fam: PairFamily, batch: DataFrame): Unit =
    advanceProbed(wh, fam, batch)(fam.append(wh, _))

  /** The probed feed: code the batch once (shared by the probe and by
    * `andThen`, the caller's use of the coded rows — the index append, or
    * nothing), probe, advance, then release every pin the coding, the
    * probe and the increment took, also when a step throws.
    * `validateEndpoints = false` on the advance: this pair feed satisfies
    * the endpoint contract by construction (every pair touches the batch
    * or the indexed corpus, both governed by the state), so the guard's
    * extra pass is skipped in the hot loop.
    */
  private def advanceProbed(wh: Warehouse, fam: PairFamily, batch: DataFrame)
                           (andThen: DataFrame => Unit): Unit = {
    val coded = Frames.cut(fam.codedOf(batch))
    try {
      val pairs = fam.incrementPairs(wh, coded)
      try {
        val inc = TextOps.dedupClustersIncrementOpt(
          read(wh), fam.nodesOf(batch), fam.edgesOf(pairs), validateEndpoints = false)
        // the increment's tree holds the contraction's fresh-node and
        // label-map cuts
        try {
          inc.foreach(wh.rewrite(TableName, _))
          andThen(coded)
        } finally inc.foreach(Frames.releaseBeyond(_, batch))
      } finally Frames.release(pairs)
    } finally Frames.release(coded)
  }

  // ------------------------------------------------------ reconciliation
  /** Periodic reconciliation — the CODED answer to the union-cap-crossing
    * caveat, not just a documented posture: rebuild both artifacts from
    * the full corpus ([[seedCorpus]] — segment-merge style) and return
    * how far the incremental state had drifted: the number of docs whose
    * canonical cluster label the rebuild changed (including docs the
    * state was missing entirely, and stale docs the rebuild no longer
    * knows). Zero when no bucket ever crossed the cap only in the union —
    * the normal case, so a deployment alerts on the returned count and
    * tunes its reconciliation cadence by the measured drift, exactly the
    * reference's full-resync-after-N-increments posture
    * (etl_sync.py:356-385 re-pulls a full window on schedule).
    */
  def reconcile(wh: Warehouse, fam: PairFamily, slice: DataFrame): Long = {
    // materialize the pre-rebuild assignment EAGERLY: the rebuild commits
    // a new generation, and a lazy frame would race the retention window
    val before = Frames.cut(read(wh).withColumnRenamed("cluster", "cluster_before"))
    try {
      seedCorpus(wh, fam, slice)
      read(wh).join(before, Seq("doc_id"), "full_outer")
        .filter(col("cluster").isNull || col("cluster_before").isNull ||
          col("cluster") =!= col("cluster_before"))
        .count()
    } finally Frames.release(before)
  }

  // ------------------------------------------------- t37 / t40 / t55
  /** The incremental path as registered, ORACLE-CHECKED queries, one per
    * index family: t37 (text bands, oracle t13's full recluster), t40
    * (single-table sign codes, oracle t34's closure) and t55 (banded sign
    * codes, oracle [[TextOps.t55Sql]], the full t54 closure). Each splits
    * its corpus table deterministically (same md5-bucket arithmetic as
    * t17 — the low 50 buckets are the "settled" part A, the rest is the
    * ingest batch B), seeds state + index on A, advances with B's
    * INDEX-PROBED pairs and presents the maintained state. The oracle
    * runs over the WHOLE corpus — increment == full recluster IS the
    * claim, proved through the persisted warehouse and the driver's
    * DuckDB hash-compare, not just in-memory specs. The dials reach both
    * the query and the oracle SQL through the shared Dial* values.
    *
    * The seed is STAMPED ([[ensureSeeded]]) — Bench warms it via
    * [[warmSeeds]] so the measured region is the index-probed advance a
    * deployment pays per batch; the advance itself is replay-idempotent
    * (redelivered newNodes anti-join out, their pairs contract to
    * already-merged reps), so a repeat invocation over the advanced state
    * presents identical rows. The advance skips the index append: the
    * index is stamp-guarded as part-A content, and an append would grow
    * it under the same stamp, serving A ∪ B to any later caller trusting
    * that stamp. (The probe itself is replay-exact either way — it
    * anti-joins the batch's ids out of the index side — but the stamp
    * must not lie.) Verify's `graft.lifecycle.reseed=true` forces the
    * full re-seed per invocation, keeping the dumped hashes a
    * from-scratch replay.
    *
    * Cap caveat, documented not hidden: a bucket crossing the skew cap
    * only in the union would have fed part-A pairs the full recluster
    * drops; at the verified scale factors no t37 band bucket is within
    * 100× of the cap, while t40's crossing is MEASURABLE — at the
    * deliberately-biting `SPARK_GRAFT_EMB_CAP=8` dial the increment
    * presents 25 rows where the full-recluster oracle presents 15
    * (sf0.01), so the dial records cover t40 at bits=10 (62 rows,
    * hash-green: no crossing) and NOT at cap=8. That boundary is where a
    * deployment schedules [[reconcile]].
    */
  def t37ClusterIncrement(s: SparkSession, dir: String): DataFrame =
    registered(s, dir, "t37", BandIndex.Family, "documents")

  def t40EmbedClusterIncrement(s: SparkSession, dir: String,
                               bits: Int = graft.queries.Lsh.Bits,
                               radius: Int = graft.queries.Lsh.PolicyRadius,
                               maxBucket: Int = TextOps.EmbBucketCap): DataFrame =
    registered(s, dir, "t40", EmbIndex.Family(bits, radius, maxBucket), "embeddings")

  /** The banded family is the measured scale path for the embedding
    * lifecycle (SCALE.md round 13: the single-table Hamming ball is
    * explode-dominated and loses recall every decade at any bounded mask
    * budget; the banded probe costs L × (1 + bits) per item with
    * L ~ n^0.22/decade).
    */
  def t55BandedClusterIncrement(s: SparkSession, dir: String,
                                tables: Int, bits: Int, radius: Int = 1,
                                maxBucket: Int = TextOps.EmbBucketCap): DataFrame =
    registered(s, dir, "t55", BandEmbIndex.Family(tables, bits, radius, maxBucket), "embeddings")

  private[graft] def t55EnsureSeeded(s: SparkSession, dir: String, tables: Int,
                                     bits: Int, radius: Int, maxBucket: Int): Warehouse =
    ensureSeeded(s, dir, "t55", BandEmbIndex.Family(tables, bits, radius, maxBucket), "embeddings")

  private def registered(s: SparkSession, dir: String, name: String,
                         fam: PairFamily, table: String): DataFrame =
    CompileFree.run(s, s"$dir/$table.parquet") { s =>
      val wh = ensureSeeded(s, dir, name, fam, table)
      val partB = graft.core.Tables.read(s, dir, table)
        .filter(TextOps.splitBucket(col(fam.idCol)) >= 50)
      advanceProbed(wh, fam, partB)(_ => ())
      clusters(wh)
        .select(col("doc_id").as(fam.idCol), col("cluster"),
          col("is_canonical"), col("cluster_size"))
        .orderBy(col("cluster"), col(fam.idCol))
    }

  /** A registered entry's stamped seed (index + part-A assignment) in its
    * own sub-warehouse: the shared per-corpus scratch holds the
    * FULL-corpus artifacts (ann_*, and [[BandIndex.ensure]]'s full index),
    * and a part-A index under the same table name would refit-ping-pong
    * there. The family adds its layout dials to the index stamp, and all
    * its dials ride the seed stamp: they change the index layout and the
    * seeded pair set.
    */
  private def ensureSeeded(s: SparkSession, dir: String, name: String,
                           fam: PairFamily, table: String): Warehouse = {
    val partA = graft.core.Tables.read(s, dir, table)
      .filter(TextOps.splitBucket(col(fam.idCol)) < 50)
    val wh = Warehouse(s, new java.io.File(
      IvfModel.warehouseFor(s, dir).dir, s"${name}_increment").toString)
    val corpusStamp = graft.core.Tables.contentStamp(s, s"$dir/$table.parquet")
    fam.ensure(wh, partA, s"$name-partA50\n$dir\n$corpusStamp")
    graft.queries.StampedTable.ensureSeeded(wh, s"${name}_seed",
      s"$name-seed\n$dir\n${fam.dials}\n$corpusStamp") {
      seedPairs(wh, fam, partA)
    }
    wh
  }

  /** What one [[maintain]] pass found and did:
    * `duplicateIds` — per ANN list table present, how many ids hold more
    * than one row (the pruned-append precondition audit: a non-zero
    * count means a vec_id's content was mutated and re-ingested past the
    * pruned anti-join — rebuild via seed, or switch that feed to the
    * `checked` append); `drift` — rows the reconcile rebuild relabeled,
    * when a reconcile corpus was supplied; `driftAlerted` — drift
    * exceeded the caller's threshold (also logged loudly).
    */
  final case class MaintainReport(duplicateIds: Map[String, Long],
                                  drift: Option[Long],
                                  driftAlerted: Boolean)

  /** One scheduled MAINTENANCE pass over a dedup-state warehouse — the
    * operational cadence between per-batch ingests and the (rarer) full
    * rebuild:
    *
    *  1. compact the index append litter (each batch leaves ≥ 1 file per
    *     touched partition; a year of daily batches turns every
    *     partition directory into hundreds of small files whose
    *     open/footer overhead dominates the probe reads) — band and/or
    *     embedding index, whichever exists here;
    *  2. AUDIT the pruned-append precondition on every ANN list table
    *     present: one two-column grouped pass counting ids with > 1 row.
    *     Violations (mutated content re-ingested past the pruned
    *     anti-join) are silent data corruption at ingest time — here
    *     they cost one loud log line and a report field;
    *  3. optionally RECONCILE: for each (family, corpus) in
    *     `reconcileWith`, rebuild that family's artifacts from the full
    *     corpus ([[reconcile]]) and measure the drift the incremental
    *     state had accumulated (the union-cap-crossing caveat made
    *     operational: run maintain with a corpus on a cadence, alert past
    *     `driftAlertThreshold`, tune the cadence by the measured drift);
    *  4. bounded-retention vacuum of every versioned table (per-batch
    *     state rewrites accumulate generations; the reader window is
    *     kept).
    *
    * Same quiescence contract as [[graft.etl.Warehouse.vacuum]]: run it
    * when no concurrent writer targets this warehouse (readers within
    * the retention window are safe). Without a reconcile corpus, probe
    * results are unchanged by construction — compact preserves rows
    * verbatim and vacuum never touches the live generation (spec-pinned
    * end to end); with one, the state is REPAIRED to the full rebuild.
    */
  def maintain(wh: Warehouse, retainLast: Int = 3,
               reconcileWith: Seq[(PairFamily, DataFrame)] = Nil,
               driftAlertThreshold: Long = 0): MaintainReport = {
    import graft.queries.{IvfModel, PqModel}
    if (!wh.read(BandIndex.TableName, BandIndex.Schema).isEmpty) BandIndex.compact(wh)
    if (!wh.read(EmbIndex.TableName, EmbIndex.Schema).isEmpty) EmbIndex.compact(wh)
    // the banded embedding index multiplies append litter by L (one row
    // per (vec_id, tbl), L files per batch per touched partition) — it
    // needs this compaction MORE than the single-table index does
    if (!wh.read(BandEmbIndex.TableName, BandEmbIndex.Schema).isEmpty)
      BandEmbIndex.compact(wh)
    // the ANN list lifecycles leave the same per-batch append litter the
    // band/emb indexes do (≥1 file per touched cluster partition per
    // batch) — compact whichever variants this warehouse maintains
    val dupes = (for ((t, sch) <- Seq(IvfModel.ListsTable -> IvfModel.ListsSchema,
                                      IvfModel.AttrListsTable -> IvfModel.AttrListsSchema,
                                      PqModel.PqListsTable -> PqModel.PqListsSchema)
                      if !wh.read(t, sch).isEmpty) yield {
      wh.compact(t, sch, partitionBy = Seq("cluster"))
      // the audit reads the freshly-compacted generation: vec_id column
      // only, grouped count — cheap next to the compact that just ran
      val d = wh.read(t, sch).groupBy(col("vec_id"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .filter(col("n") > 1).count()
      if (d > 0)
        System.err.println(s"[maintain] AUDIT: $t holds $d duplicated vec_ids — " +
          "the immutable-content precondition was violated; rebuild via seed " +
          "or switch this feed to checked appends")
      t -> d
    }).toMap
    val drifts = reconcileWith.map { case (fam, corpus) => reconcile(wh, fam, corpus) }
    val drift = if (drifts.isEmpty) None else Some(drifts.sum)
    val alerted = drift.exists(_ > driftAlertThreshold)
    if (alerted)
      System.err.println(s"[maintain] DRIFT: incremental state had drifted by " +
        s"${drift.get} labels (> $driftAlertThreshold) — repaired by this " +
        "reconcile; tighten the reconcile cadence or the bucket caps")
    wh.vacuumAll(retainLast)
    MaintainReport(dupes, drift, alerted)
  }

  /** Seed the three cluster-increment lifecycle queries' persisted state
    * (stamped — zero jobs on repeat); Bench warmup, next to the IVF list
    * build. Dials mirror the registry's t40/t55 wiring exactly.
    */
  def warmSeeds(s: SparkSession, dir: String): Unit = {
    ensureSeeded(s, dir, "t37", BandIndex.Family, "documents")
    ensureSeeded(s, dir, "t40", EmbIndex.Family(TextOps.DialBits,
      TextOps.DialPairRadius, TextOps.DialEmbCap), "embeddings")
    t55EnsureSeeded(s, dir, TextOps.DialBandTables, TextOps.DialBandBits,
      TextOps.DialBandRadius, TextOps.DialEmbCap)
  }
}
