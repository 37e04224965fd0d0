package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.CompileFree
import graft.etl.Warehouse
import graft.queries.{BandEmbIndex, BandIndex, Frames, TextOps}

/** INCREMENTAL curation — the flagship composition (quality → exact dedup
  * → near-dup removal, [[Curation]]) applied per ingest batch WITHOUT
  * re-scanning the settled corpus, the way the reference ETL syncs daily
  * increments against checkpointed state (etl_sync.py:356-385) instead of
  * re-pulling everything.
  *
  * Persisted state, both in one warehouse:
  *  - `curation_hashes` (content_hash, keep_id): the exact-stage
  *    survivors' content hashes — a batch doc whose hash is settled is an
  *    exact duplicate without touching the corpus.
  *  - the [[BandIndex]] over the settled exact-survivors' texts — the
  *    near-dup stage probes it for batch-neighborhood pairs
  *    (partition-pruned, union-capped) instead of re-banding the corpus.
  *
  * FIRST-WON semantics, stated not hidden: a settled survivor never drops
  * retroactively. A full recluster of (settled ∪ batch) could prefer a
  * batch doc with a SMALLER id over a settled survivor (exact stage keeps
  * the minimum id); the incremental pipeline keeps the first-seen
  * survivor instead — exactly the reference's idempotent-upsert posture,
  * and identical to the full pipeline whenever batch ids are larger than
  * settled ids (the append-only normal case; spec-pinned). The skew cap's
  * union-crossing caveat carries over from [[BandIndex]] (reconcile with
  * a periodic [[seed]]).
  *
  * Replay-safe at every crash point: a re-ingested batch re-derives the
  * same tags (its own settled hash entries read as "I am the survivor",
  * not "I am a duplicate"), the hash append skips hashes already settled,
  * and the band append repairs at (doc_id, band) granularity — so
  * at-least-once orchestration is effectively exactly-once here too.
  */
object IncrementalCuration {

  val HashTable = "curation_hashes"

  val HashSchema: StructType = StructType(Seq(
    StructField("content_hash", StringType), StructField("keep_id", LongType)))

  /** The OPTIONAL embedding signal, making the incremental pipeline
    * multi-signal like the full one (t38's shape): `embSrc` is the
    * (vec_id, embedding) frame of the corpus slice at hand — the settled
    * corpus in [[seed]], ONE batch in [[ingest]] — `vecToDoc` maps vector
    * ids onto document ids (identity when a document's vector shares its
    * id, the common case), and `family` holds the banded index's dials
    * the signal codes, pairs, seeds, probes and appends through (banded
    * since round 14 — SCALE.md round 13 measured the single-table
    * Hamming ball EXPLODE-dominated and unable to hold the recall floor
    * past the second decade at any bounded mask budget). The persisted
    * twin artifact is the family's
    * index over ALL settled vectors (not only survivors — the full
    * pipeline computes its pairs over the whole vector table and gates
    * afterwards, so the incremental probe must see the same bucket
    * occupancies to cap identically); survivor gating happens on the
    * mapped doc pairs, exactly where [[Curation.curateHandle]] gates
    * `extraPairs`.
    */
  final case class EmbeddingSignal(embSrc: DataFrame,
                                   vecToDoc: Option[DataFrame] = None,
                                   family: BandEmbIndex.Family = BandEmbIndex.Family()) {
    /** Whole-slice self pairs at this signal's dials — the seed's
      * extraPairs source, and what a full (settled ∪ batch) recluster
      * would compute.
      */
    def selfPairs: DataFrame = family.selfPairs(embSrc)

    /** Vector pairs → doc pairs. `vecToDoc = None` means a document's
      * vector SHARES its id — a plain rename, no join. An explicit
      * mapping MUST cover every vector a probe can return, i.e. the
      * settled corpus's vectors as well as this slice's: the probe pairs
      * one batch endpoint with one settled endpoint, and a mapping built
      * from the batch alone would silently drop every cross pair in the
      * inner join (the bug the multi-signal parity spec pins).
      */
    private[pipelines] def docPairsOf(vPairs: DataFrame): DataFrame =
      vecToDoc.map(m => Curation.embeddingDocPairs(vPairs, m))
        .getOrElse(vPairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
  }

  /** Full build: run the batch pipeline over the whole settled corpus
    * (pairwise near-dup mode — the incremental drop rule), persist the
    * exact-survivor hash table and band index, return (curated, audit)
    * MATERIALIZED (the handle's cache pin is released before returning).
    */
  def seed(wh: Warehouse, docs: DataFrame,
           t: Curation.Thresholds = Curation.Thresholds(),
           emb: Option[EmbeddingSignal] = None,
           clustered: Boolean = false): (DataFrame, DataFrame) = {
    val (curated, audit, _) = seedImpl(wh, docs, t, emb, clustered)
    (curated, audit)
  }

  /** [[seed]] for callers that need only the persisted STATE (the
    * stamped warmup path): same build, then the materialized tag frame —
    * the returned outputs' backing, retained by [[seed]] for its caller —
    * is released too, so nothing from the seed stays pinned.
    */
  private def seedState(wh: Warehouse, docs: DataFrame,
                        t: Curation.Thresholds = Curation.Thresholds(),
                        emb: Option[EmbeddingSignal] = None,
                        clustered: Boolean = false): Unit = {
    val (_, _, taggedCut) = seedImpl(wh, docs, t, emb, clustered)
    Frames.release(taggedCut)
  }

  private def seedImpl(wh: Warehouse, docs: DataFrame,
                       t: Curation.Thresholds,
                       emb: Option[EmbeddingSignal],
                       clustered: Boolean): (DataFrame, DataFrame, DataFrame) = {
    // the settled corpus's own embedding pairs go through the FULL
    // pipeline's extraPairs hook (survivor gating included); they affect
    // only the near_dup/kept split of the returned outputs, never the
    // persisted state — both artifacts hold EXACT survivors, which no
    // near-dup signal can change
    // eager cut: curateHandle's outputs are materialized several times
    // below (curated + audit + the survivor rewrite/seed), and each one
    // re-derives the drop set — without the cut, the settled slice's
    // cosine self-join re-runs per materialization (~4× the pair cost;
    // observed doubling the registered t42's bench time)
    val extras = emb.map { e =>
      Frames.cut(e.docPairsOf(e.selfPairs.select(col("vec_a"), col("vec_b"))))
    }
    val run = Curation.curateHandle(docs, t, useClusters = clustered, extraPairs = extras)
    var taggedSrcRef: Option[DataFrame] = None
    try {
      // ONE materialization of the whole curation tree: every consumer
      // below (hash-table rewrite, band-index seed, curated, audit) used
      // to re-run the exact-window + drop-set join per action — under the
      // pairwise default that re-ran the banding self-join up to 4× per
      // seed. The shingle arrays are the widest column and no consumer
      // needs them (BandIndex re-shingles from text for the index build),
      // so they are dropped before the cut.
      val taggedSrc = run.tagged.drop("sh")
      taggedSrcRef = Some(taggedSrc)
      val taggedCut = Frames.cut(taggedSrc)
      val surv = taggedCut.filter(col("stage").isin("near_dup", "kept"))
      wh.rewrite(HashTable,
        surv.select(col("content_hash"), col("doc_id").as("keep_id")))
      BandIndex.seed(wh, surv.select(col("doc_id"), col("text")))
      emb.foreach(e => e.family.seed(wh, e.embSrc))
      // clustered mode persists a FOURTH artifact: the cluster assignment
      // over the settled survivors — the EXACT frame curateHandle's own
      // near-dup stage derived its drop decision from (exposed on the
      // handle), advanced per batch by [[ingest]]'s contracted increment.
      // Persisting it directly (instead of re-banding the survivors and
      // re-propagating labels) both guarantees state == pipeline decision
      // by construction and halves the seed's clustering work.
      if (clustered) ClusterState.seedAssignment(wh, run.assignment.get)
      // both outputs are cheap projections of the materialized cut —
      // valid after close() releases the signals pin
      (taggedCut.filter(col("stage") === "kept").drop("stage"),
        Curation.auditOf(taggedCut), taggedCut)
    } finally {
      run.close()
      // every consumer of the extras cut (the tag pipeline behind
      // taggedCut, and clustered mode's persisted assignment) has
      // materialized by now — release its pin with the signals', and
      // sweep the tag pipeline's SOURCE tree (clustered mode's
      // propagation cut and the contraction's internals live there; the
      // returned outputs are backed by taggedCut's own RDD, untouched)
      extras.foreach(Frames.release(_))
      taggedSrcRef.foreach(Frames.release(_))
    }
  }

  /** Curate ONE ingest batch against the persisted state: batch-sized
    * signal scan, hash-join against the settled hash table (the only
    * settled data the exact stage reads — one column-pruned pass),
    * band-index probe for the near-dup stage, then append the batch's
    * exact survivors to both artifacts. Returns (curatedBatch, auditRow)
    * with the same columns and stage semantics as [[Curation.curateHandle]].
    */
  def ingest(wh: Warehouse, batchDocs: DataFrame,
             t: Curation.Thresholds = Curation.Thresholds(),
             emb: Option[EmbeddingSignal] = None,
             clustered: Boolean = false): (DataFrame, DataFrame) = {
    val (curated, audit) = ingestImpl(wh, batchDocs, t, emb, clustered, wantCurated = true)
    (curated.get, audit)
  }

  /** The default maintenance cadence a long-running ingest loop should
    * schedule: reconcile + compact + vacuum every this many batches.
    * 10 is the soak-measured sweet spot (SCALE.md round-12 soak table):
    * at cadence 10 the per-batch wall stays flat (compaction bounds the
    * append-litter file count the pruned reads pay for) and union-cap
    * drift is repaired about as often as it can accumulate a visible
    * label. A deployment with tighter drift tolerance lowers it; 0
    * disables.
    */
  val DefaultMaintainCadence = 10

  /** CURATION-SEMANTICS reconcile: a from-scratch [[seed]] of the SAME
    * state this pipeline maintains — the survivor-gated hash table and
    * (when clustered) the survivor-gated cluster assignment — with the
    * drift between the incremental state and the rebuild measured and
    * returned. This is deliberately NOT [[ClusterState.reconcile]]: that
    * one rebuilds the RAW dedup assignment (every doc, ungated pairs),
    * which is a different artifact — rewriting curation state with it
    * would silently change what "kept" means. Drift = hash rows whose
    * keep decision changed (appeared, vanished, or re-pointed) + cluster
    * rows whose label changed; both comparisons are null-safe full-outer
    * joins, and the rebuild's labels are deterministic (min-id
    * canonicals), so zero drift is the expected steady state and any
    * nonzero count is a real divergence (union-cap crossing, mutated
    * input, operator intervention).
    */
  def reconcile(wh: Warehouse, docs: DataFrame,
                t: Curation.Thresholds = Curation.Thresholds(),
                emb: Option[EmbeddingSignal] = None,
                clustered: Boolean = false): Long = {
    // pre-rebuild state, materialized EAGERLY: the rebuild commits new
    // generations and a lazy frame would race the retention window
    val beforeHash = Frames.cut(wh.read(HashTable, HashSchema))
    val beforeCl = if (clustered) Some(Frames.cut(ClusterState.read(wh))) else None
    seedState(wh, docs, t, emb, clustered)
    val hashDrift = beforeHash
      .select(col("content_hash"), col("keep_id").as("k0"))
      .join(wh.read(HashTable, HashSchema)
        .select(col("content_hash"), col("keep_id").as("k1")),
        Seq("content_hash"), "full_outer")
      .filter(!(col("k0") <=> col("k1"))).count()
    val clusterDrift = beforeCl.map { b =>
      b.select(col("doc_id"), col("cluster").as("c0"))
        .join(ClusterState.read(wh).select(col("doc_id"), col("cluster").as("c1")),
          Seq("doc_id"), "full_outer")
        .filter(!(col("c0") <=> col("c1"))).count()
    }.getOrElse(0L)
    Frames.release((beforeHash +: beforeCl.toSeq): _*)
    // the split names the drifting artifact for the operator: hash drift
    // means the exact stage itself diverged (should never happen under
    // append-only ids); cluster drift is the documented union-cap /
    // first-won caveat territory
    if (hashDrift + clusterDrift > 0)
      System.err.println(
        s"[reconcile] drift split: hash=$hashDrift cluster=$clusterDrift")
    hashDrift + clusterDrift
  }

  /** Maintenance scheduled by batch index — the cadence wiring for an
    * ingest loop. `reconcileDocs` is the CUMULATIVE corpus seen so far
    * (a reconcile is a from-scratch rebuild + drift measure, not a
    * batch operation); `reconcileEmb` the cumulative embedding signal
    * when the loop is multi-signal.
    */
  final case class Maintenance(batchIndex: Long,
                               every: Int = DefaultMaintainCadence,
                               retainLast: Int = 3,
                               reconcileDocs: Option[DataFrame] = None,
                               reconcileEmb: Option[EmbeddingSignal] = None,
                               driftAlertThreshold: Long = 0) {
    def due: Boolean = every > 0 && batchIndex > 0 && batchIndex % every == 0
  }

  /** [[ingest]] with the maintenance cadence applied — the loop body a
    * deployment actually runs (and the 20-batch soak measures). When
    * the cadence is due, maintenance runs BEFORE the batch, over the
    * state the previous batches settled: the returned lazy frames then
    * never race a reconcile's rewrite or a vacuum's reclaim. (The
    * existing contract still applies between calls: materialize the
    * returned outputs before the next lifecycle operation.) The
    * maintenance pass itself is [[reconcile]] (curation semantics, when
    * `reconcileDocs` is supplied) followed by [[ClusterState.maintain]]
    * with NO reconcile frames — compaction, duplicate audits and the
    * vacuum, which then also reclaims the reconcile's superseded
    * generations.
    */
  def ingestWithMaintenance(wh: Warehouse, batchDocs: DataFrame,
                            maintenance: Maintenance,
                            t: Curation.Thresholds = Curation.Thresholds(),
                            emb: Option[EmbeddingSignal] = None,
                            clustered: Boolean = false):
      (DataFrame, DataFrame, Option[ClusterState.MaintainReport]) = {
    val report =
      if (maintenance.due) {
        val drift = maintenance.reconcileDocs.map(
          reconcile(wh, _, t, maintenance.reconcileEmb, clustered))
        val alerted = drift.exists(_ > maintenance.driftAlertThreshold)
        if (alerted)
          System.err.println(s"[maintain] DRIFT: incremental curation state had " +
            s"drifted by ${drift.get} rows (> ${maintenance.driftAlertThreshold}) — " +
            "repaired by this reconcile; tighten the cadence or the bucket caps")
        val base = ClusterState.maintain(wh, maintenance.retainLast)
        Some(base.copy(drift = drift, driftAlerted = alerted))
      } else None
    val (curated, audit) = ingest(wh, batchDocs, t, emb, clustered)
    (curated, audit, report)
  }

  private def ingestImpl(wh: Warehouse, batchDocs: DataFrame,
                         t: Curation.Thresholds,
                         emb: Option[EmbeddingSignal],
                         clustered: Boolean,
                         wantCurated: Boolean): (Option[DataFrame], DataFrame) = {
    val settled = wh.read(HashTable, HashSchema)
    // intermediate cuts (everything but the two returned outputs) are
    // tracked and released before returning — see [[Frames.release]]. The
    // PRE-cut source is tracked alongside the cut: its tree embeds any
    // inner cuts (the index probes' pinned slices), which the final
    // release sweep then reaches too.
    val tracked = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def cutT(df: DataFrame): DataFrame = { val c = Frames.cut(df); tracked += df; tracked += c; c }

    // ---- embedding branch: code → persisted-index probe → doc-pair
    // normalization, dispatchable BESIDE the text stages ----
    // The branch depends only on the embedding slice and the persisted
    // index (the survivor GATING needs the exact stage and stays on the
    // main thread below), while the emb probe is 74-76 % of the decade-3
    // lifecycle walls (BENCH_R16_STAGES.json) and runs in task waves
    // with stage gaps and straggler tails. The ~30-38 s of independent
    // text-stage work (signals-exact + minhash-band at the 2M-vector
    // point) back-fills those gaps instead of extending the wall — the
    // same overlap lever as the concurrent appends below (round-16
    // next #4, extended to the pre-probe stages). Dispatch-invariant by
    // construction: the branch READS the index and shares no mutable
    // state with the text stages.
    def runEmbBranch(e: EmbeddingSignal): (DataFrame, DataFrame, Seq[DataFrame]) = {
      // the batch coding is shared by probe and append (the batch's
      // dominant per-vector compute, materialized once)
      val preCoded = e.family.codedOf(e.embSrc)
      val coded = Frames.cut(preCoded)
      // the index probe runs its eager work (pruned-index cut, slice-plan
      // stats, per-slice materializations) INSIDE this call
      val vPairs = e.family.incrementPairs(wh, coded)
      val preNorm = e.docPairsOf(vPairs.select(col("vec_a"), col("vec_b")))
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
      val norm = Frames.cut(preNorm)
      // (coded, norm, early-releasable): everything but `norm` is done
      // the moment the appends have run — vPairs/preNorm's trees hold
      // the probe's corpus-scale internals (pruned-index + slice cuts),
      // coded's blocks are the batch coding — while `norm` feeds the
      // drop-set stage and must survive until it materializes
      (coded, norm, Seq(preCoded, coded, vPairs, preNorm))
    }
    // the branch runs on a single-thread pool + job group so a main-path
    // failure cancels it in flight (same teardown ORDER as the probe
    // slices: stop the pool first, then cancel current and future group
    // jobs)
    var embTeardown: Option[() => Unit] = None
    val embAwait: Option[() => (DataFrame, DataFrame, Seq[DataFrame])] = emb.map { e =>
      val sc = batchDocs.sparkSession.sparkContext
      val group = s"graft-ingest-emb-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
      embTeardown = Some(() => {
        pool.shutdownNow()
        sc.cancelJobGroupAndFutureJobs(group)
      })
      val fut = pool.submit(new java.util.concurrent.Callable[(DataFrame, DataFrame, Seq[DataFrame])] {
        def call(): (DataFrame, DataFrame, Seq[DataFrame]) = {
          // job-group properties are thread-local: the branch tags its
          // own jobs (interruptOnCancel reaches the tasks)
          sc.setJobGroup(group, "ingest embedding branch", interruptOnCancel = true)
          try runEmbBranch(e) finally sc.clearJobGroup()
        }
      })
      () =>
        try fut.get() catch {
          case ee: java.util.concurrent.ExecutionException => throw ee.getCause
        } finally { embTeardown = None; pool.shutdown() }
    }
    def guarded[A](body: => A): A =
      try body catch { case th: Throwable => embTeardown.foreach(_.apply()); throw th }

    val (staged2, surv, bandedSurv, pairs) = guarded {
    // batch-sized and referenced by every stage below: one eager cut.
    // The exact-stage lookup is probe-shaped: a left join can only
    // broadcast its RIGHT side — the corpus-scale hash table — so joined
    // naively every ingest batch would SHUFFLE the settled corpus. One
    // column-pruned scan of the table probes a broadcast of the batch's
    // hashes instead (left-semi, batch-bounded hit set), and only that
    // hit set (re-broadcast) enters the left join: the settled corpus is
    // scanned once per ingest and never shuffled.
    val batchSig = Curation.withSignals(batchDocs, t)
    val settledHits = broadcast(settled
      .join(broadcast(batchSig.select(col("content_hash")).distinct()),
        Seq("content_hash"), "left_semi"))
    val staged = cutT(batchSig
      .join(settledHits.withColumnRenamed("keep_id", "settled_keep"),
        Seq("content_hash"), "left"))

    // exact stage against state: a settled hash wins outright (unless it
    // is OUR OWN entry — the replay case); otherwise the batch's minimum
    // quality-ok id per hash wins, as in the full pipeline
    val keepId = min(when(col("q_ok") && col("settled_keep").isNull, col("doc_id")))
      .over(Window.partitionBy(col("content_hash")))
    val staged2 = staged.withColumn("exact_ok",
      col("q_ok") && coalesce(
        col("settled_keep") === col("doc_id"),
        col("doc_id") === keepId,
        lit(false)))

    // near-dup stage: batch survivors band THEMSELVES and probe the
    // settled-survivor index — union-capped batch-neighborhood pairs,
    // est-jaccard semantics identical to the full pipeline (k/16 is an
    // exact binary fraction, so the probe's 4-digit rounding is identity).
    // The banding is materialized ONCE and shared by the probe and the
    // index append below — shingle + minhash is the batch's dominant
    // per-doc compute, and running it per consumer doubled it.
    val surv = staged2.filter(col("exact_ok"))
    val bandedSurv = cutT(BandIndex.bandedOf(surv.select(col("doc_id"), col("text"))))
    val pairs = BandIndex.incrementPairsOf(
      BandIndex.banded(wh), bandedSurv, t.maxBandBucket)
      .filter(col("est_jaccard") >= t.nearDupJaccard)
    // evaluated once (inside the drop-set cut); tracking it lets the
    // final sweep release the probe's internal probed-slice pin
    tracked += pairs
    (staged2, surv, bandedSurv, pairs)
    }
    // the embedding signal, index-probed: batch vectors code themselves
    // and probe the persisted sign-code index (replay-exact, union-cap
    // identical to a full t15 over settled ∪ batch) — dispatched via
    // [[runEmbBranch]] above (overlapped with the text stages by
    // default); awaiting here rethrows a branch failure and adopts its
    // frames into the release sweep. Mapped doc pairs are then
    // survivor-gated on BOTH endpoints — settled survivors are the
    // hash table's keep_ids, batch survivors the exact stage above —
    // exactly where the full pipeline gates extraPairs.
    val embRes: Option[(DataFrame, DataFrame, Seq[DataFrame])] = embAwait.map { f =>
      val (coded, norm, early) = guarded(f())
      tracked ++= early
      tracked += norm
      (coded, norm, early)
    }
    val codedBatch: Option[DataFrame] = embRes.map(_._1)

    // advance the state: hashes not yet settled (a replayed batch's own
    // entries are), bands at (doc_id, band) repair granularity.
    // The three advances write INDEPENDENT tables from already-
    // materialized cuts (staged2, bandedSurv, codedBatch are all
    // checkpointed above; no append reads another's table), so they
    // dispatch concurrently like the probe slices — the round-16 stage
    // table priced them at 38.5 s of t42's wall as SEQUENTIAL parquet
    // writes, each an under-filled IO-bound task wave. Order never
    // mattered for crash-safety: every append is individually
    // replay-idempotent (settled-hash guard, band/emb anti-joins), so a
    // crash after any SUBSET of them replays to the same state
    // regardless of which subset landed. The warehouse writer lease is
    // held ONCE around the block: per-append acquisition from fresh
    // threads would race the create-exclusive against this same process.
    //
    // Round 18: the advances run BEFORE the drop-set stage, not after
    // the outputs (guide §5 — release what is done; round-17 VERDICT
    // next #2/#3). Their inputs are complete here, and the drop set
    // reads none of the advanced tables' NEW rows in a way that can
    // change it: the band/emb probes already ran (norm is materialized;
    // `pairs` anti-joins the batch's own ids out of the index side, so
    // reading a post-append generation is bit-identical — the same
    // replay-exactness guard that covers a crashed-and-redelivered
    // batch), and the survivor gate's settled ∪ batch union already
    // contains every id append-hash can add. Running them first lets
    // the batch coding + the probe's corpus-scale internals release at
    // THIS boundary — at the round-17 3M-vector off-fit advance those
    // were two of the ~74 GB of pinned localCheckpoint blocks that
    // ENOSPC'd the cluster stage (BENCH_R17_OFFFIT.json).
    val appendTasks: Seq[() => Unit] = Seq(
      () => graft.queries.Frames.writeNonEmpty(
        staged2.filter(col("exact_ok") && col("settled_keep").isNull)
          .select(col("content_hash"), col("doc_id").as("keep_id")))(
        wh.appendLive(HashTable, _)),
      () => BandIndex.appendBatchBanded(wh, bandedSurv),
      () => emb.zip(codedBatch).foreach { case (e, c) => e.family.append(wh, c) })
    wh.withWriterScope("ingest-appends") {
      import scala.concurrent.{Await, ExecutionContext, Future}
      val pool = java.util.concurrent.Executors.newFixedThreadPool(appendTasks.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(appendTasks.map(f => Future(f()))),
        scala.concurrent.duration.Duration.Inf)
      finally {
        // drain FULLY before the writer scope closes: Await rethrows on
        // the FIRST failure, but a sibling append may still be writing —
        // releasing the lease (and the cuts below) under it would let
        // another process GC versions mid-write. In-flight appends are
        // idempotent, so letting them land is the safe teardown.
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
      }
    }
    // staged release #1 (the emb-pairs-norm boundary): the appends were
    // the batch coding's last consumer, and the probe's corpus-scale
    // internals (pruned-index cut, slice cuts) have no consumer at all
    // past `norm` — only `norm` itself must survive into the drop-set
    // stage below. Sweep-end release left all of this pinned THROUGH
    // the cluster stage; at the 3M-vector off-fit batch that is where
    // the scratch went.
    embRes.foreach { case (_, _, early) => Frames.release(early: _*) }

    val embPairsGated = embRes.map { case (_, normPairs, _) =>
      // probe-shaped like the exact stage above: the survivor universe
      // (settled keep_ids ∪ batch survivors) is corpus-scale, so instead
      // of semi-joining the pairs against it (which would shuffle it,
      // twice), it is scanned once against a broadcast of the pairs'
      // endpoint ids — probe pairs are batch-bounded (every pair has a
      // batch endpoint), so the hit set is too, and the gating semi-joins
      // run against its broadcast
      val endpointIds = normPairs.select(col("doc_a").as("doc_id"))
        .unionByName(normPairs.select(col("doc_b").as("doc_id"))).distinct()
      val survHit = broadcast(settled.select(col("keep_id").as("doc_id"))
        .unionByName(surv.select(col("doc_id")))
        .join(broadcast(endpointIds), Seq("doc_id"), "left_semi")
        .distinct())
      normPairs
        .join(survHit.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
        .join(survHit.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
    }
    val allPairs = embPairsGated
      .foldLeft(pairs.select(col("doc_a"), col("doc_b")))(_ unionByName _)
    // the drop decision. Pairwise (default): only BATCH members drop,
    // first-won (a pair whose larger id is a settled doc is ignored — the
    // settled survivor stands). Clustered: the batch's survivor-gated
    // pairs ADVANCE the persisted cluster state (contracted increment —
    // rewrite commits a fresh generation, replay-safe: redelivered
    // newNodes anti-join out), and the non-canonical BATCH members of the
    // advanced state drop — the full `useClusters` pipeline's transitive
    // rule, batch slice. Settled tags never change either way (the
    // first-won posture; a settled canonical losing its minimum to a
    // LATER batch cannot happen under append-only ids).
    // Eager cut either way: the tagged frame is materialized twice
    // (curated + audit) and the drop set is the expensive branch (both
    // index-probe pair joins); it is batch-survivor-bounded, so the cut
    // is small.
    // the band-index probe (`pairs`) and the gating joins are lazy and
    // materialize INSIDE this cut — the drop-set stage prices them plus
    // (clustered) the contracted increment and the state rewrite
    val toDrop = cutT({
      if (clustered) {
        // a no-op increment (fully-replayed batch) returns None and the
        // corpus-scale state rewrite is skipped; the Some tree is tracked
        // as before (it embeds the contraction's internal cuts)
        TextOps.dedupClustersIncrementOpt(
          ClusterState.read(wh), surv.select(col("doc_id")), allPairs,
          validateEndpoints = false).foreach { inc =>
          wh.rewrite(ClusterState.TableName, inc)
          tracked += inc
        }
        ClusterState.read(wh)
          .filter(col("doc_id") =!= col("cluster"))
          .select(col("doc_id"))
      } else {
        allPairs.select(col("doc_b").as("doc_id")).distinct()
      }
    }
      // batch survivors broadcast (batch-bounded by contract): in the
      // clustered branch the left side is the corpus-scale state read —
      // scan + map-side probe, no state shuffle
      .join(broadcast(surv.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .withColumn("near_dup", lit(true)))
    // staged release #2 (the drop-set boundary): the drop set is
    // materialized and batch-survivor-bounded; its inputs — the emb
    // pair cut (`norm`), the band probe's internal pinned slice
    // (inside `pairs`' tree), the batch banding, and (clustered) the
    // contracted increment's internals — have no consumer left. Only
    // `staged` (the tag/append source) and `toDrop` survive to the
    // output stage.
    embRes.foreach { case (_, norm, _) => Frames.release(norm) }
    Frames.release(pairs, bandedSurv)

    val tagged = staged2
      .join(toDrop, Seq("doc_id"), "left")
      .withColumn("stage",
        when(!col("q_ok"), "quality")
          .when(!col("exact_ok"), "exact_dup")
          .when(col("near_dup"), "near_dup")
          .otherwise("kept"))
      .drop("q_ok", "exact_ok", "near_dup")

    val curated = tagged.filter(col("stage") === "kept")
      .drop("stage", "sh", "settled_keep")
    val audit = tagged.agg(
      count(lit(1)).as("input_docs"),
      count(when(col("stage") === "quality", 1)).as("dropped_quality"),
      count(when(col("stage") === "exact_dup", 1)).as("dropped_exact_dup"),
      count(when(col("stage") === "near_dup", 1)).as("dropped_near_dup"),
      count(when(col("stage") === "kept", 1)).as("curated_docs"))
    // audit-only callers skip the curated materialization entirely — one
    // fewer batch-sized job + pin per lifecycle invocation
    val curatedOut = if (wantCurated) Some(Frames.cut(curated)) else None
    val auditOut = Frames.cut(audit)

    // outputs are materialized and the appends have run — every consumer
    // of the intermediate cuts is done; the final sweep releases whatever
    // the two staged boundary releases above did not reach (releases are
    // idempotent), so a long-lived session (the bench JVM, a per-batch
    // driver loop) holds only the two outputs it was handed (spec-pinned:
    // no lingering blocks past these)
    Frames.release(tracked.toSeq: _*)
    (curatedOut, auditOut)
  }

  /** [[ingest]] for callers that consume only the AUDIT row (the
    * registered lifecycle queries): the curated batch is never
    * materialized, so per invocation only the one-row audit cut is held.
    */
  private def ingestAudit(wh: Warehouse, batchDocs: DataFrame,
                          t: Curation.Thresholds = Curation.Thresholds(),
                          emb: Option[EmbeddingSignal] = None,
                          clustered: Boolean = false): DataFrame =
    ingestImpl(wh, batchDocs, t, emb, clustered, wantCurated = false)._2

  // ---------------------------------------------------------------- t41
  /** The incremental lifecycle as a registered, ORACLE-CHECKED query:
    * [[seed]] on the low-id half of the corpus (ids ≤ max/2 — the
    * append-only shape, under which incremental == full EXACTLY), then
    * [[ingest]] of the high-id half against the persisted hash table and
    * band index, returning the batch's audit row. The oracle replays the
    * FULL t35 staging over the whole corpus in DuckDB and counts only
    * the batch slice — "one batch through persisted state tags exactly
    * like the full pipeline" IS the claim, proved per driver round
    * through the warehouse + hash-compare, not only in specs
    * (IncrementalCurationSpec pins the same parity per-doc).
    *
    * The seed is STAMPED ([[graft.queries.StampedTable.ensureSeeded]]):
    * index construction is setup, not query latency (the same posture as
    * the IVF centroids — Bench warms it via [[warmSeeds]] and the
    * measured region is the per-batch ingest a deployment actually
    * pays), and [[ingest]] is replay-safe at every crash point, so a
    * repeat invocation over already-advanced state re-derives the exact
    * same audit (its own settled hash entries read as "I am the
    * survivor"; the index probes anti-join the batch's own ids out —
    * spec-pinned). Verify sets `graft.lifecycle.reseed=true`, forcing a
    * full re-seed per invocation, so the dumped oracle hashes replay the
    * whole lifecycle deterministically from scratch. The 1-row max-id
    * read is the only driver-side value, used to derive the same split
    * the oracle computes with a scalar subquery.
    */
  def t41IncrementalCuration(s: SparkSession, dir: String): DataFrame =
    CompileFree.run(s, s"$dir/documents.parquet") { s =>
      val (wh, splitId) = t41EnsureSeeded(s, dir)
      ingestAudit(wh,
        graft.core.Tables.documents(s, dir).filter(col("doc_id") > splitId))
    }

  private def lifecycleWh(s: SparkSession, dir: String, name: String): Warehouse =
    Warehouse(s, new java.io.File(
      graft.queries.IvfModel.warehouseFor(s, dir).dir, name).toString)

  /** The lifecycle queries' seed/batch split point (max doc_id / 2),
    * memoized per (dir, corpus content): the 1-row max probe is a Spark
    * job, and re-running it on every invocation of every lifecycle query
    * is pure overhead — the stamp misses whenever the corpus is
    * regenerated, exactly like [[graft.queries.StampedTable]]'s memo.
    */
  private val splitMemo = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def halfSplit(s: SparkSession, dir: String, docs: DataFrame): Long =
    splitMemo.getOrElseUpdate(
      s"$dir\n${graft.core.Tables.contentStamp(s, s"$dir/documents.parquet")}",
      docs.agg(max(col("doc_id"))).head.getLong(0) / 2)

  private[graft] def t41EnsureSeeded(s: SparkSession, dir: String): (Warehouse, Long) = {
    val docs = graft.core.Tables.documents(s, dir)
    val splitId = halfSplit(s, dir, docs)
    val wh = lifecycleWh(s, dir, "t41_inccur")
    // thresholds are part of the stamp: a code-level default change must
    // re-seed rather than silently ingest against state built under the
    // old rules (same reasoning as the IVF K and the band fan-out)
    val stamp = s"t41-seed\n$dir\n${Curation.Thresholds()}\n" +
      graft.core.Tables.contentStamp(s, s"$dir/documents.parquet")
    graft.queries.StampedTable.ensureSeeded(wh, "t41_seed", stamp) {
      seedState(wh, docs.filter(col("doc_id") <= splitId))
    }
    (wh, splitId)
  }

  /** t35's staging over the WHOLE corpus, counters over the batch slice
    * only — the full-pipeline tags the incremental run must reproduce.
    */
  lazy val t41Sql: String =
    s"WITH ${Curation.stagingSqlCtes(Curation.Thresholds())}\n" +
      Curation.auditSelectSql(
        "\nWHERE doc_id > (SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) FROM documents)")

  // ---------------------------------------------------------------- t42
  /** t41 with BOTH signals: the same seed-half / ingest-half lifecycle
    * run multi-signal — the settled half's embedding pairs through the
    * full pipeline's extraPairs hook at seed time, the batch's through
    * the persisted [[graft.queries.BandEmbIndex]] probe at ingest time
    * (vec ids ARE doc ids on this corpus, so `vecToDoc = None`). The
    * pair source is the BANDED family since round 14 — round 13's own
    * sf1→sf10 measurement proved the single-table Hamming ball cannot
    * hold the dup-recall floor past the second decade at any bounded
    * mask budget, while band L:b:1 reaches higher recall at
    * L × (1 + bits) fan-out/item. The oracle replays the full t35
    * staging with the t54 candidate chain unioned into the pairwise
    * drop set (survivor-gated on both endpoints, exactly where
    * `curateHandle` gates extras) and counts the batch slice — so the
    * incremental multi-signal posture is driver-verified end to end,
    * pairwise-mode complement to t38's clustered full-corpus run. Same
    * dial contract (tables/bits/radius/cap reach query and oracle).
    */
  def t42IncrementalMultiSignal(s: SparkSession, dir: String): DataFrame =
    CompileFree.run(s, s"$dir/documents.parquet", s"$dir/embeddings.parquet") { s =>
      val (wh, splitId) = t42EnsureSeeded(s, dir)
      ingestAudit(wh,
        graft.core.Tables.documents(s, dir).filter(col("doc_id") > splitId),
        emb = dialSig(graft.core.Tables.embeddings(s, dir)
          .filter(col("vec_id") > splitId)))
    }

  /** The dialed embedding signal both multi-signal lifecycle queries run
    * with — the BANDED family at t54's env-driven dials (round 14: the
    * lifecycle rides the scale-safe OR-amplification pair source), so
    * the oracle's CTEs (which inline the same dial values) and the Spark
    * side cannot diverge.
    */
  private def dialSig(embSlice: DataFrame): Option[EmbeddingSignal] =
    Some(EmbeddingSignal(embSlice, family = BandEmbIndex.Family(TextOps.DialBandTables,
      TextOps.DialBandBits, TextOps.DialBandRadius, TextOps.DialEmbCap)))

  // pb rides the stamp because seedState bakes the index's partition
  // layout into the seeded warehouse: a table seeded under a different
  // fan-out would pass a layout-blind stamp and then probe a pbucket
  // column the old parquet doesn't have (all-NULL filter → zero pairs,
  // silently), mirroring the pb token the ensureFor paths stamp
  // themselves; the family token + tables force a re-seed when the
  // lifecycle's pair source changes (the round-14 banded switch).
  private[graft] def dialStamp: String =
    s"family=banded\ntables=${TextOps.DialBandTables}\n" +
      s"bits=${TextOps.DialBandBits}\nradius=${TextOps.DialBandRadius}\n" +
      s"embcap=${TextOps.DialEmbCap}\npb=${BandEmbIndex.PBuckets}"

  private def multiSignalEnsureSeeded(s: SparkSession, dir: String, name: String,
                                      clustered: Boolean): (Warehouse, Long) = {
    val docs = graft.core.Tables.documents(s, dir)
    val embAll = graft.core.Tables.embeddings(s, dir)
    val splitId = halfSplit(s, dir, docs)
    val wh = lifecycleWh(s, dir, name)
    val stamp = s"$name-seed\n$dir\nclustered=$clustered\n${Curation.Thresholds()}\n$dialStamp\n" +
      graft.core.Tables.contentStamp(s, s"$dir/documents.parquet") + "\n" +
      graft.core.Tables.contentStamp(s, s"$dir/embeddings.parquet")
    graft.queries.StampedTable.ensureSeeded(wh, s"${name.takeWhile(_ != '_')}_seed", stamp) {
      seedState(wh, docs.filter(col("doc_id") <= splitId),
        emb = dialSig(embAll.filter(col("vec_id") <= splitId)),
        clustered = clustered)
    }
    (wh, splitId)
  }

  private[graft] def t42EnsureSeeded(s: SparkSession, dir: String): (Warehouse, Long) =
    multiSignalEnsureSeeded(s, dir, "t42_inccur", clustered = false)

  /** Full staging + the BANDED t54 chain; emb pairs join the pairwise
    * drop set survivor-gated, counters over the batch slice. (`candt`
    * carries one row per matching table — the drops CTE's DISTINCT is
    * the OR-collapse.)
    */
  def t42Sql: String = {
    val T = graft.queries.TextOps
    val embPairs = s"""
       |  UNION ALL
       |  SELECT c.vec_a AS doc_a, c.vec_b AS doc_b
       |  FROM candt c
       |  JOIN staged2 sa ON sa.doc_id = c.vec_a AND sa.exact_ok
       |  JOIN staged2 sb ON sb.doc_id = c.vec_b AND sb.exact_ok
       |  WHERE c.cosine >= ${T.CosTau}""".stripMargin
    s"WITH ${Curation.stagingSqlCtes(Curation.Thresholds(), embPairs,
        preDropsCtes = s"\n${T.t54CandCtes},")}\n" +
      Curation.auditSelectSql(
        "\nWHERE doc_id > (SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) FROM documents)")
  }

  // ---------------------------------------------------------------- t43
  /** The last corner of the curation matrix: incremental × CLUSTERED ×
    * multi-signal. Same split lifecycle as t42, `clustered = true`: the
    * seed persists the cluster assignment over the settled survivors,
    * the ingest advances it through the contracted increment with the
    * batch's survivor-gated (text ∪ embedding) pairs, and the batch's
    * non-canonical members drop — the full `useClusters` pipeline's
    * transitive rule, proved through the persisted warehouse. Oracle =
    * t38's clustered multi-signal closure counted over the batch slice
    * (batch tags match the full run exactly under append-only ids: a
    * batch doc is non-canonical iff its component holds a smaller id,
    * and the increment composes components exactly — the spec-pinned
    * increment == full claim).
    */
  def t43IncrementalClustered(s: SparkSession, dir: String): DataFrame =
    CompileFree.run(s, s"$dir/documents.parquet", s"$dir/embeddings.parquet") { s =>
      val (wh, splitId) = t43EnsureSeeded(s, dir)
      ingestAudit(wh,
        graft.core.Tables.documents(s, dir).filter(col("doc_id") > splitId),
        emb = dialSig(graft.core.Tables.embeddings(s, dir)
          .filter(col("vec_id") > splitId)),
        clustered = true)
    }

  private[graft] def t43EnsureSeeded(s: SparkSession, dir: String): (Warehouse, Long) =
    multiSignalEnsureSeeded(s, dir, "t43_inccur", clustered = true)

  /** Seed every incremental-curation lifecycle query's persisted state
    * (stamped — zero jobs on repeat). Bench calls this in warmup, next to
    * the IVF list build, so the measured region of t41/t42/t43 is the
    * per-batch ingest/probe path a deployment actually pays — a
    * deployment seeds once and pays the increment per batch. Verify's
    * forced-reseed property bypasses the stamp, so the correctness dump
    * still replays the whole lifecycle per invocation.
    */
  def warmSeeds(s: SparkSession, dir: String): Unit = {
    t41EnsureSeeded(s, dir)
    t42EnsureSeeded(s, dir)
    t43EnsureSeeded(s, dir)
  }

  /** t38's clustered multi-signal staging with the BANDED candidate
    * chain, batch-slice counters.
    */
  def t43Sql: String =
    s"WITH RECURSIVE ${Curation.t38CtesBanded}\n" +
      Curation.auditSelectSql(
        "\nWHERE doc_id > (SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) FROM documents)")
}
