package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.pipelines.ClusterState
import graft.queries.{BandEmbIndex, Lsh, TextOps}
import graft.tools.ScaleData

/** The persisted BANDED embedding index — the OR-amplification (t54)
  * family made incremental: equivalence of the index-probed banded
  * cosine pairs against the full t54 construction, the per-(table,
  * bucket) union cap, torn-append repair at (vec_id, tbl) granularity,
  * partition-pruned probes, and the t55 end-to-end claim.
  */
class BandEmbIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpWh(): Warehouse =
    Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_bandemb_").toString)

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("vec_a", "vec_b", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  // clustered geometry (the corpus shape the banded family exists for —
  // the driver's sf0.001 embeddings are near-orthogonal and yield no
  // banded pairs at radius 1), split by the lifecycle's md5 arithmetic
  private val embAll = ScaleData.clusteredEmbeddings(spark, 300, nCenters = 12, noise = 0.04)
    .select(col("vec_id"), col("embedding")).localCheckpoint()
  private val partA = embAll.filter(TextOps.splitBucket(col("vec_id")) < 50)
  private val partB = embAll.filter(TextOps.splitBucket(col("vec_id")) >= 50)
  private val (tT, tB, tR) = (3, 8, 1)
  private val banded = BandEmbIndex.Family(tT, tB, tR)

  test("selfCosinePairsOf == the direct t54 construction (every seed path rides the slim probe)") {
    // the round-17 seed-path rewrite: the direct t54 shape shuffles the
    // embedding payload on the mask explode (measured 56 GB scratch
    // ENOSPC at the 3M-vector off-fit seed); selfCosinePairsOf routes
    // the same semantics through the empty-index increment probe.
    // Row-equality here is the whole contract: skew cap, τ, halfUp
    // rounding and pair orientation must all coincide.
    val direct = pairSet(TextOps.t54NearDupBandedOf(embAll, tT, tB, tR))
    val self = pairSet(BandEmbIndex.selfCosinePairsOf(embAll, tT, tB, tR))
    assert(self === direct)
    assert(self.nonEmpty, "no pairs — the equivalence checked nothing")
    // with a skew cap low enough to bite, the capped-bucket drop
    // semantics must also coincide (cap counts n_new only when the
    // index side is empty — exactly t54's per-(tbl, bucket) count)
    val directCap = pairSet(TextOps.t54NearDupBandedOf(embAll, tT, tB, tR, maxBucket = 8))
    val selfCap = pairSet(BandEmbIndex.selfCosinePairsOf(embAll, tT, tB, tR, maxBucket = 8))
    assert(selfCap === directCap)
    assert(selfCap !== self, "cap never bit — the cap-parity assertion checked nothing")
  }

  test("index-probed banded pairs == full t54 pairs restricted to the batch's neighborhood") {
    val wh = tmpWh()
    BandEmbIndex.seed(wh, partA, tT, tB)
    val inc = pairSet(banded.incrementPairs(wh, banded.codedOf(partB)))
    val bIds = partB.select("vec_id").collect().map(_.getLong(0)).toSet
    val full = pairSet(TextOps.t54NearDupBandedOf(embAll, tT, tB, tR))
      .filter { case (a, b, _) => bIds(a) || bIds(b) }
    assert(inc === full)
    assert(inc.nonEmpty, "split produced no cross/batch pairs — the assertion checked nothing")
    assert(inc.forall { case (a, b, _) => bIds(a) || bIds(b) })
  }

  test("the union cap matches t54 semantics per (table, bucket); replay-exact at a biting cap") {
    // identical vectors share every table's bucket: 2 settled + 2 batch
    val v = Array.fill(Lsh.Dim)(0.25f)
    def frame(ids: Long*) = ids.map(i => (i, v)).toDF("vec_id", "embedding")
    val idx = BandEmbIndex.codedOf(frame(1L, 2L), 2, Lsh.Bits)
    val bat = BandEmbIndex.codedOf(frame(3L, 4L), 2, Lsh.Bits)
    def inc(i: DataFrame, cap: Int) = pairSet(BandEmbIndex.incrementCosinePairsOf(
      i, bat, Lsh.Bits, 1, maxBucket = cap))
    // cap 4: union occupancy is exactly 4 in each table — all
    // batch-neighborhood pairs, matching the full t54 at the same cap
    val full4 = pairSet(TextOps.t54NearDupBandedOf(frame(1L, 2L, 3L, 4L), 2, Lsh.Bits, 1,
        maxBucket = 4))
      .filter { case (a, b, _) => a >= 3L || b >= 3L }
    assert(inc(idx, 4) === full4)
    assert(inc(idx, 4).map { case (a, b, _) => (a, b) } ===
      Set((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // cap 3: each side alone is under; the union crosses — excluded in
    // EVERY table, exactly as the full construction would
    assert(inc(idx, 3) === Set.empty)
    // replay-exactness: the batch already appended (crash after append,
    // orchestrator redelivers) must not double-count into the occupancy
    val idxAfterAppend = BandEmbIndex.codedOf(frame(1L, 2L, 3L, 4L), 2, Lsh.Bits)
    assert(inc(idxAfterAppend, 4) === full4,
      "replayed probe (batch already appended) diverged from the first run")
  }

  test("torn append repairs at (vec_id, tbl) granularity; replay duplicates nothing") {
    val wh = tmpWh()
    BandEmbIndex.seed(wh, partA, tT, tB)
    val nA = partA.count()
    val nB = partB.count()
    // crash shape: only table 0's rows of the batch committed
    BandEmbIndex.appendBatchCoded(wh, BandEmbIndex.codedOf(partB, tT, tB)
      .filter(col("tbl") === 0))
    assert(BandEmbIndex.coded(wh).count() === nA * tT + nB)
    // the redelivered batch completes precisely the missing tables
    banded.append(wh, banded.codedOf(partB))
    assert(BandEmbIndex.coded(wh).count() === (nA + nB) * tT)
    // and a full replay adds nothing
    banded.append(wh, banded.codedOf(partB))
    assert(BandEmbIndex.coded(wh).count() === (nA + nB) * tT)
    val dups = BandEmbIndex.coded(wh).groupBy(col("vec_id"), col("tbl"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(dups === 0L, "append left a duplicated (vec_id, tbl) row")
    // the grown index probes like a reseeded one (empty batch sanity)
    assert(banded.incrementPairs(wh,
      banded.codedOf(embAll.filter(lit(false)))).isEmpty)
  }

  test("a fully-replayed append commits NO files (the empty-fresh write skip)") {
    val wh = tmpWh()
    BandEmbIndex.seed(wh, partA, tT, tB)
    banded.append(wh, banded.codedOf(partB))
    val files = BandEmbIndex.coded(wh).inputFiles.toSet
    // replay: the anti-join leaves zero fresh rows — the partitioned
    // write machinery must not run at all (Frames.writeNonEmpty), so the
    // live generation's file set is bit-identical, not merely row-equal
    banded.append(wh, banded.codedOf(partB))
    assert(BandEmbIndex.coded(wh).inputFiles.toSet === files,
      "replayed append touched the live file set")
  }

  test("the probe's index scan is partition-pruned to the probed pbuckets") {
    val wh = tmpWh()
    BandEmbIndex.seed(wh, partA, tT, tB)
    val probe = Seq((0, 1L), (1, 2L), (2, 7L)).toDF("tbl", "bucket")
    val sliced = BandEmbIndex.restrictToBuckets(BandEmbIndex.coded(wh), probe)
    val scans = sliced.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(BandEmbIndex.TableName)) => s
    }
    assert(scans.nonEmpty, "probe does not scan the persisted banded index")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "index scan carries no partition filters — the probe reads every partition")
    val expected = probe
      .withColumn("pbucket", BandEmbIndex.pbucketOf(col("tbl"), col("bucket")))
      .select("pbucket").collect().map(_.getInt(0)).toSet
    val readDirs = scans.flatMap(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString))
    assert(readDirs.forall(p => expected.exists(b => p.contains(s"pbucket=$b/"))),
      s"scan read partitions outside the probe's pbucket set $expected: $readDirs")
  }

  test("giant-batch fallback (maxInline = 0): identical pairs, identical append") {
    val wh = tmpWh()
    BandEmbIndex.seed(wh, partA, tT, tB)
    val bc = graft.queries.Frames.cut(BandEmbIndex.codedOf(partB, tT, tB))
    val inline = pairSet(BandEmbIndex.incrementCosinePairsOf(
      BandEmbIndex.coded(wh), bc, tB, tR, TextOps.EmbBucketCap))
    val fallback = pairSet(BandEmbIndex.incrementCosinePairsOf(
      BandEmbIndex.coded(wh), bc, tB, tR, TextOps.EmbBucketCap, maxInline = 0))
    assert(inline.nonEmpty)
    assert(fallback === inline, "broadcast-semi-join fallback diverged from the inline IN path")
    BandEmbIndex.appendBatchCoded(wh, bc, maxInline = 0)
    val n = BandEmbIndex.coded(wh).count()
    assert(n === embAll.count() * tT)
    BandEmbIndex.appendBatchCoded(wh, graft.queries.Frames.cut(
      BandEmbIndex.codedOf(partB, tT, tB)), maxInline = 0)
    assert(BandEmbIndex.coded(wh).count() === n, "fallback replay duplicated rows")
  }

  test("sliced probe (budget forces many slices) == single-pass pairs bit-identically") {
    // the round-14 bounded-scratch path: a probe budget far under the
    // batch's slim probe bytes forces the per-slice double-broadcast
    // plan; slices partition probe rows against a fixed corpus and the
    // cap is computed on the FULL batch, so results must be identical
    val wh = tmpWh()
    BandEmbIndex.seed(wh, partA, tT, tB)
    val bc = graft.queries.Frames.cut(BandEmbIndex.codedOf(partB, tT, tB))
    val single = pairSet(BandEmbIndex.incrementCosinePairsOf(
      BandEmbIndex.coded(wh), bc, tB, tR, TextOps.EmbBucketCap))
    val sliced = pairSet(BandEmbIndex.incrementCosinePairsOf(
      BandEmbIndex.coded(wh), bc, tB, tR, TextOps.EmbBucketCap,
      probeBroadcastMaxBytes = 2048)) // ~150 batch rows x masks x 40B >> 2KB
    assert(single.nonEmpty)
    assert(sliced === single, "sliced probe diverged from the single-pass join")
    // and at a biting cap too — the cap must stay full-batch, not per-slice
    val singleCap = pairSet(BandEmbIndex.incrementCosinePairsOf(
      BandEmbIndex.coded(wh), bc, tB, tR, maxBucket = 4))
    val slicedCap = pairSet(BandEmbIndex.incrementCosinePairsOf(
      BandEmbIndex.coded(wh), bc, tB, tR, maxBucket = 4,
      probeBroadcastMaxBytes = 2048))
    assert(slicedCap === singleCap, "slicing changed the union-cap semantics")
  }

  test("sliceCountFor bounds BOTH broadcasts: vector payload dominates at radius 0") {
    // widths derive from the projected shapes (slim: long+int+long data)
    assert(BandEmbIndex.slimRowWidth === 8L + 4L + 8L + 20L,
      "slim width no longer matches the (vec_a, tbl, bucket) projection — " +
        "if the probe projection widened, this pin must move WITH it")
    assert(BandEmbIndex.vecRowWidthOf(Lsh.Dim) > 8L * Lsh.Dim,
      "vector width must cover the true dim-double payload, not ArrayType.defaultSize")
    val budget = 1L << 20
    // L=5 tables: 500k coded rows over 100k vectors
    val (rows, vecs) = (500000L, 100000L)
    // radius-1-ish fan-out: slim side dominates (17 masks x 40B/coded row)
    val slimDominated = BandEmbIndex.sliceCountFor(rows, vecs, 17, budget)
    assert(slimDominated === math.ceil(rows * 17.0 * BandEmbIndex.slimRowWidth / budget).toInt)
    // radius 0 (1 mask): the VECTOR broadcast dominates — the round-14
    // slim-only math under-sliced this case ~14x (ADVICE round 14)
    val vecDominated = BandEmbIndex.sliceCountFor(rows, vecs, 1, budget)
    assert(vecDominated ===
      math.ceil(vecs * 1.0 * BandEmbIndex.vecRowWidthOf(Lsh.Dim) / budget).toInt)
    assert(vecDominated > math.ceil(rows * 1.0 * BandEmbIndex.slimRowWidth / budget).toInt,
      "radius-0 slice count must exceed the slim-only estimate")
    assert(BandEmbIndex.sliceCountFor(10L, 2L, 1, Long.MaxValue) === 1)
    // the vector width tracks the PROBED frame's dim, not the Lsh.Dim
    // constant (round-15 VERDICT wrong #1): a 4x-wider embedding must
    // slice ~4x more in the vector-dominated regime
    val wide = BandEmbIndex.sliceCountFor(rows, vecs, 1, budget, embDim = 4 * Lsh.Dim)
    assert(wide ===
      math.ceil(vecs * 1.0 * BandEmbIndex.vecRowWidthOf(4 * Lsh.Dim) / budget).toInt)
    assert(wide > 3 * vecDominated,
      s"4x dim must move the vector-dominated slice count ~4x (got $vecDominated -> $wide)")
  }

  test("parFor encodes the measured dispatch knee: ~cores/4, floored at 4") {
    // BENCH_R16_KSCALE.json: on 32 cores at K=18 slices, par 4/8/16 ran
    // 294/252/295 s — the knee is ~4 cores per in-flight slice
    assert(BandEmbIndex.parFor(32) === 8)
    assert(BandEmbIndex.parFor(64) === 16)
    // small boxes keep the round-15 default (the heap guard still caps)
    assert(BandEmbIndex.parFor(8) === 4)
    assert(BandEmbIndex.parFor(1) === 4)
  }

  test("dialSlicePar derives from the EXECUTION fleet, not the driver JVM (round-16 wrong #1)") {
    // the knee was measured against executor slots; the shared test
    // session is local[4], so the fleet-derived default is parFor(4) = 4
    // even on a many-core driver box (where Runtime cores would say 8+).
    // A small driver fronting a large fleet diverges the other way.
    val sc = spark.sparkContext
    assert(sc.defaultParallelism === 4)
    assert(BandEmbIndex.dialSlicePar(sc) === BandEmbIndex.parFor(sc.defaultParallelism))
    assert(BandEmbIndex.dialSlicePar(sc) === 4)
  }

  test("flooredSliceCount encodes K >= 2 x par whenever the probe slices at all (round-16 next #3)") {
    // the measured K x par packing rule (BENCH_R16_KSCALE.json: every
    // K=18 arm beat every K=5 arm at the same par) as default behavior:
    // a budget-sized K of 5 at par 8 floors to 16 — smaller slices, same
    // memory bound (the floor only SHRINKS per-slice broadcasts)
    assert(BandEmbIndex.flooredSliceCount(5, 8) === 16)
    // a K already past the floor is untouched
    assert(BandEmbIndex.flooredSliceCount(18, 8) === 18)
    // sequential probes (one broadcast fits) never manufacture slices
    assert(BandEmbIndex.flooredSliceCount(1, 8) === 1)
    assert(BandEmbIndex.flooredSliceCount(0, 8) === 0)
    // par 1 still floors a slicing probe at 2 (two waves minimum)
    assert(BandEmbIndex.flooredSliceCount(2, 1) === 2)
    assert(BandEmbIndex.flooredSliceCount(3, 1) === 3)
  }

  test("maxParFor caps concurrent dispatch to the driver-heap allowance") {
    val gb = 1L << 30
    // half the heap / (2 x budget) per in-flight slice: 8 GB heap at the
    // 256 MB default budget allows 8; a raised 4 GB budget forces 1
    assert(BandEmbIndex.maxParFor(256L << 20, 8 * gb) === 8)
    assert(BandEmbIndex.maxParFor(1 * gb, 8 * gb) === 2)
    assert(BandEmbIndex.maxParFor(4 * gb, 8 * gb) === 1)
    // the measured round-15 sweet spot (1 GB x par 4) needs a 16 GB+
    // driver under this arithmetic — the 48 GB battery driver passes
    assert(BandEmbIndex.maxParFor(1 * gb, 48 * gb) === 12)
    // degenerate budgets never divide by zero or go negative
    assert(BandEmbIndex.maxParFor(0L, 8 * gb) >= 1)
    assert(BandEmbIndex.maxParFor(Long.MaxValue, 8 * gb) === 1)
  }

  test("concurrent slice dispatch (slicePar > 1) == sequential == single-pass") {
    val wh = tmpWh()
    BandEmbIndex.seed(wh, partA, tT, tB)
    val bc = graft.queries.Frames.cut(BandEmbIndex.codedOf(partB, tT, tB))
    val single = pairSet(BandEmbIndex.incrementCosinePairsOf(
      BandEmbIndex.coded(wh), bc, tB, tR, TextOps.EmbBucketCap))
    val concurrent = pairSet(BandEmbIndex.incrementCosinePairsOf(
      BandEmbIndex.coded(wh), bc, tB, tR, TextOps.EmbBucketCap,
      probeBroadcastMaxBytes = 2048, slicePar = 3))
    assert(single.nonEmpty)
    assert(concurrent === single,
      "concurrently-dispatched slices diverged from the single-pass join")
  }

  test("seedBandedEmbeddings + ingestBandedEmbeddingBatch == full banded recluster; replay no-op") {
    val wh = tmpWh()
    ClusterState.seedCorpus(wh, banded, partA)
    ClusterState.ingestBatch(wh, banded, partB)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    val expect = rows(TextOps.dedupClustersOf(
      embAll.select(col("vec_id").as("doc_id")).distinct(),
      TextOps.t54NearDupBandedOf(embAll, tT, tB, tR)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))))
    assert(rows(ClusterState.clusters(wh)) === expect)
    assert(expect.nonEmpty, "clustered fixture produced no clusters — the claim checked nothing")
    val idxN = BandEmbIndex.coded(wh).count()
    assert(idxN === embAll.count() * tT)
    ClusterState.ingestBatch(wh, banded, partB) // crash-replay
    assert(rows(ClusterState.clusters(wh)) === expect)
    assert(BandEmbIndex.coded(wh).count() === idxN)
  }

  test("streamed banded maintenance == full banded recluster (micro-batches)") {
    val wh = tmpWh()
    ClusterState.seedCorpus(wh, banded, partA)
    // part B as TWO micro-batches, each one local frame through the
    // banded ingest
    val bRows = partB.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val (b1, b2) = bRows.splitAt(bRows.length / 2)
    for (b <- Seq(b1, b2))
      ClusterState.ingestBatch(wh, banded, b.toDF("vec_id", "embedding"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(ClusterState.clusters(wh)) ===
      rows(TextOps.dedupClustersOf(
        embAll.select(col("vec_id").as("doc_id")).distinct(),
        TextOps.t54NearDupBandedOf(embAll, tT, tB, tR)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))))
    assert(BandEmbIndex.coded(wh).count() === embAll.count() * tT)
  }

  test("t55 end-to-end == full t54 closure rows at the registered dial") {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    val got = rows(ClusterState.t55BandedClusterIncrement(spark, sf(),
      TextOps.DialBandTables, TextOps.DialBandBits, TextOps.DialBandRadius,
      TextOps.DialEmbCap))
    val expect = rows(TextOps.dedupClustersOf(
      graft.core.Tables.embeddings(spark, sf()).select(col("vec_id").as("doc_id")).distinct(),
      TextOps.t54NearDupBanded(spark, sf())
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster"),
        col("is_canonical"), col("cluster_size"))
      .orderBy(col("cluster"), col("vec_id")))
    assert(got === expect)
  }
}
