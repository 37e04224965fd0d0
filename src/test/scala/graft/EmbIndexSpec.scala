package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.pipelines.ClusterState
import graft.queries.{EmbIndex, Lsh, TextOps}

/** The persisted embedding bucket index — BandIndex's vector-side twin:
  * equivalence of the index-probed cosine pairs against the full t15
  * pipeline, the union-count cap, partition-pruned probes, idempotent
  * growth, and the t40 end-to-end claim.
  */
class EmbIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpWh(): Warehouse =
    Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_embidx_").toString)

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("vec_a", "vec_b", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private val embAll = graft.core.Tables.embeddings(spark, sf())
  private val partA = embAll.filter(TextOps.splitBucket(col("vec_id")) < 50)
  private val partB = embAll.filter(TextOps.splitBucket(col("vec_id")) >= 50)
  private val single = EmbIndex.Family()

  test("index-probed cosine pairs == full t15 pairs restricted to the batch's neighborhood") {
    val wh = tmpWh()
    EmbIndex.seed(wh, partA)
    val inc = pairSet(single.incrementPairs(wh, single.codedOf(partB)))
    val bIds = partB.select("vec_id").collect().map(_.getLong(0)).toSet
    val full = pairSet(TextOps.t15CosineNearDupOf(embAll))
      .filter { case (a, b, _) => bIds(a) || bIds(b) }
    assert(inc === full)
    assert(inc.nonEmpty, "split produced no cross/batch pairs — the assertion checked nothing")
    assert(inc.forall { case (a, b, _) => bIds(a) || bIds(b) })
  }

  test("the union-count cap matches t15 semantics: members of oversized codes pair with nothing") {
    // four identical vectors share one sign code: 2 settled + 2 in the batch
    val v = Array.fill(Lsh.Dim)(0.25f)
    def frame(ids: Long*) = ids.map(i => (i, v)).toDF("vec_id", "embedding")
    val idx = EmbIndex.codedOf(frame(1L, 2L))
    val bat = EmbIndex.codedOf(frame(3L, 4L))
    def inc(cap: Int) = pairSet(EmbIndex.incrementCosinePairsOf(
      idx, bat, Lsh.Bits, TextOps.PairRadius, maxBucket = cap))
    // cap 4: union occupancy is exactly 4 — all batch-neighborhood pairs,
    // and they match the full pipeline at the same cap
    val full4 = pairSet(TextOps.t15CosineNearDupOf(frame(1L, 2L, 3L, 4L), maxBucket = 4))
      .filter { case (a, b, _) => a >= 3L || b >= 3L }
    assert(inc(4) === full4)
    assert(inc(4).map { case (a, b, _) => (a, b) } ===
      Set((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // cap 3: each side alone is under; the union is over — excluded,
    // exactly as the full pipeline would
    assert(inc(3) === Set.empty)
  }

  test("the probe is replay-exact at a biting cap: a batch already in the index counts once") {
    // same crash shape as the BandIndex twin: appendBatch committed, the
    // batch redelivered. At cap 4 the first run's union occupancy is
    // exactly 4; double-counting the replayed batch would read 6 > 4 and
    // drop every pair the first run emitted.
    val v = Array.fill(Lsh.Dim)(0.25f)
    def frame(ids: Long*) = ids.map(i => (i, v)).toDF("vec_id", "embedding")
    val idx = EmbIndex.codedOf(frame(1L, 2L))
    val bat = EmbIndex.codedOf(frame(3L, 4L))
    val idxAfterAppend = EmbIndex.codedOf(frame(1L, 2L, 3L, 4L))
    def inc(i: DataFrame) = pairSet(EmbIndex.incrementCosinePairsOf(
      i, bat, Lsh.Bits, TextOps.PairRadius, maxBucket = 4))
    val first = inc(idx)
    assert(first.nonEmpty, "cap-4 first run emitted nothing — the replay assert checks nothing")
    assert(inc(idxAfterAppend) === first,
      "replayed probe (batch already appended) diverged from the first run")
  }

  test("the probe's index scan is partition-pruned to the probed sign codes") {
    val wh = tmpWh()
    EmbIndex.seed(wh, partA)
    val someBuckets = Array(0L, 1L, 2L)
    val plan = EmbIndex.probedSlice(EmbIndex.coded(wh), someBuckets)
      .queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(EmbIndex.TableName)) => s
    }
    assert(scans.nonEmpty, "probe does not scan the persisted embedding index")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "index scan carries no partition filters — the probe reads every sign code")
    val readFiles = scans.flatMap(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString))
    assert(readFiles.nonEmpty)
    // pbucket == bucket at the 6-bit test dial (the fan-out mod is
    // identity below 2^10), so the probed codes ARE the directory names
    assert(readFiles.forall(p => someBuckets.exists(b => p.contains(s"pbucket=$b/"))),
      s"scan read partitions outside the probe's bucket set: $readFiles")
  }

  test("reconcileEmbeddings repairs a cap-crossed state and reports the measured drift") {
    // the t40 caveat, synthesized: at cap 3 the seed sees occupancy 2 and
    // clusters (1,2); the union occupancy 4 crosses the cap only at
    // ingest time, so the increment keeps that stale pair while the full
    // pipeline at cap 3 drops the bucket and keeps everyone apart
    val wh = tmpWh()
    val v = Array.fill(Lsh.Dim)(0.25f)
    def frame(ids: Long*) = ids.map(i => (i, v)).toDF("vec_id", "embedding")
    ClusterState.seedCorpus(wh, EmbIndex.Family(maxBucket = 3), frame(1L, 2L))
    ClusterState.ingestBatch(wh, EmbIndex.Family(maxBucket = 3), frame(3L, 4L))
    // one cluster of size 2 presents one row per member
    assert(ClusterState.clusters(wh).count() === 2L, "seed did not cluster (1,2)")
    assert(TextOps.t15CosineNearDupOf(frame(1L, 2L, 3L, 4L), maxBucket = 3).count() === 0L,
      "fixture broken: the full pipeline at cap 3 should emit no pairs")
    // rebuild measures exactly the one stale label (doc 2 reverts 1 → 2)
    // and leaves the state equal to the full recluster: all singletons
    assert(ClusterState.reconcile(wh, EmbIndex.Family(maxBucket = 3), frame(1L, 2L, 3L, 4L)) === 1L)
    assert(ClusterState.clusters(wh).count() === 0L)
  }

  test("checked append skips a changed vector's re-ingest instead of duplicating it") {
    val v1 = Array.fill(Lsh.Dim)(0.25f)
    // a vector aligned with plane 0 — guaranteed opposite side of at
    // least that hyperplane is NOT guaranteed vs v1, so assert the
    // fixture's codes actually differ before relying on it
    val v2 = Lsh.allPlanes(0).map(d => -d.toFloat * 0.5f).toArray
    def frame(v: Array[Float]) = Seq((1L, v)).toDF("vec_id", "embedding")
    val (c1, c2) = (EmbIndex.codedOf(frame(v1)), EmbIndex.codedOf(frame(v2)))
    def bucket(df: DataFrame) = df.select("bucket").collect().head.getLong(0)
    assert(bucket(c1) !== bucket(c2), "fixture: mutation kept the same sign code")
    // unchecked: the documented hazard — the mutated row escapes the
    // pruned anti-join and duplicates vec_id 1
    val whU = tmpWh()
    EmbIndex.seed(whU, frame(v1))
    EmbIndex.appendBatchCoded(whU, c2)
    assert(EmbIndex.coded(whU).count() === 2L)
    // checked: the unpruned anti-join sees the landed vec_id — skipped
    val whC = tmpWh()
    EmbIndex.seed(whC, frame(v1))
    EmbIndex.appendBatchCoded(whC, c2, checked = true)
    assert(EmbIndex.coded(whC).count() === 1L,
      "checked append duplicated a mutated vector's row")
  }

  test("maintain runs the drift reconcile: a cap-crossed state is repaired and the drift surfaces") {
    // the cap-crossed fixture from the reconcileEmbeddings test, driven
    // through the scheduled-maintenance front: maintain must REPAIR the
    // state (full rebuild) and surface the measured drift + alert
    val wh = tmpWh()
    val v = Array.fill(Lsh.Dim)(0.25f)
    def frame(ids: Long*) = ids.map(i => (i, v)).toDF("vec_id", "embedding")
    ClusterState.seedCorpus(wh, EmbIndex.Family(maxBucket = 3), frame(1L, 2L))
    ClusterState.ingestBatch(wh, EmbIndex.Family(maxBucket = 3), frame(3L, 4L))
    assert(ClusterState.clusters(wh).count() === 2L, "fixture: seed did not cluster (1,2)")
    val rep = ClusterState.maintain(wh,
      reconcileWith = Seq(EmbIndex.Family(maxBucket = 3) -> frame(1L, 2L, 3L, 4L)))
    assert(rep.drift === Some(1L), s"expected the one stale label, got ${rep.drift}")
    assert(rep.driftAlerted, "drift above the threshold did not alert")
    assert(ClusterState.clusters(wh).count() === 0L, "maintain did not repair the state")
    // a second pass over the repaired state measures zero drift, no alert
    val rep2 = ClusterState.maintain(wh,
      reconcileWith = Seq(EmbIndex.Family(maxBucket = 3) -> frame(1L, 2L, 3L, 4L)))
    assert(rep2.drift === Some(0L) && !rep2.driftAlerted)
    // maintenance without a reconcile corpus stays measurement-free
    assert(ClusterState.maintain(wh).drift.isEmpty)
  }

  test("appendBatch is replay-idempotent; grown index probes like a reseeded one") {
    val wh = tmpWh()
    EmbIndex.seed(wh, partA)
    single.append(wh, single.codedOf(partB))
    val n = EmbIndex.coded(wh).count()
    assert(n === embAll.count())
    single.append(wh, single.codedOf(partB)) // replay
    assert(EmbIndex.coded(wh).count() === n)
    // the grown index serves a LATER batch exactly like a fresh seed of
    // the union would (empty batch here — sanity no-pair path)
    assert(single.incrementPairs(wh,
      single.codedOf(embAll.filter(lit(false)))).isEmpty)
  }

  test("seedEmbeddings + ingestEmbeddingBatch == full t34-style recluster; replay no-op") {
    val wh = tmpWh()
    ClusterState.seedCorpus(wh, single, partA)
    ClusterState.ingestBatch(wh, single, partB)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    val expect = rows(TextOps.dedupClustersOf(
      embAll.select(col("vec_id").as("doc_id")).distinct(),
      TextOps.t15CosineNearDupOf(embAll)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))))
    assert(rows(ClusterState.clusters(wh)) === expect)
    val idxN = EmbIndex.coded(wh).count()
    assert(idxN === embAll.count())
    ClusterState.ingestBatch(wh, single, partB) // crash-replay
    assert(rows(ClusterState.clusters(wh)) === expect)
    assert(EmbIndex.coded(wh).count() === idxN)
  }

  test("t40 end-to-end == t34 full recluster rows") {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(ClusterState.t40EmbedClusterIncrement(spark, sf())) ===
      rows(TextOps.t34EmbedDedupClusters(spark, sf())))
  }

  test("giant-batch fallback (maxInline crossed): identical pairs, identical append, NO IN-filter in the plan") {
    val wh = tmpWh()
    EmbIndex.seed(wh, partA)
    val bc = graft.queries.Frames.cut(EmbIndex.codedOf(partB))
    val inline = pairSet(EmbIndex.incrementCosinePairsOf(
      EmbIndex.coded(wh), bc, Lsh.Bits, TextOps.PairRadius, TextOps.EmbBucketCap))
    val fallback = pairSet(EmbIndex.incrementCosinePairsOf(
      EmbIndex.coded(wh), bc, Lsh.Bits, TextOps.PairRadius, TextOps.EmbBucketCap,
      maxInline = 0))
    assert(inline.nonEmpty)
    assert(fallback === inline, "broadcast-semi-join fallback diverged from the inline IN path")
    val pruned = EmbIndex.restrictToBuckets(EmbIndex.coded(wh), bc, maxInline = 0)
    val ins = pruned.queryExecution.sparkPlan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect {
        case i: org.apache.spark.sql.catalyst.expressions.In    => i
        case i: org.apache.spark.sql.catalyst.expressions.InSet => i
      })
    assert(ins.isEmpty, s"fallback plan still carries an IN-filter: $ins")
    val formatted = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("dynamicpruningexpression"),
      s"fallback scan lost partition pruning (no dynamicpruning expression):\n$formatted")
    val before = EmbIndex.coded(wh).count()
    EmbIndex.appendBatchCoded(wh, bc, maxInline = 0)
    val afterOnce = EmbIndex.coded(wh).count()
    assert(afterOnce > before)
    EmbIndex.appendBatchCoded(wh, graft.queries.Frames.cut(EmbIndex.codedOf(partB)),
      maxInline = 0)
    assert(EmbIndex.coded(wh).count() === afterOnce, "fallback replay duplicated rows")
  }
}
