package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.pipelines.ClusterState
import graft.queries.{BandIndex, TextOps}

/** The persisted LSH band index and the index-probed increment pair feed —
  * the piece that makes [[ClusterState]]'s batch posture O(batch) end to
  * end: equivalence against the full-corpus pipeline, the union-count
  * skew cap, partition-pruned probes, and the replay-safe lifecycle.
  */
class BandIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpWh(): Warehouse =
    Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_bands_").toString)

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("doc_a", "doc_b", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private val docsAll = graft.core.Tables.documents(spark, sf())
  private val partA = docsAll.filter(TextOps.splitBucket(col("doc_id")) < 50)
  private val partB = docsAll.filter(TextOps.splitBucket(col("doc_id")) >= 50)
  private val text = BandIndex.Family

  test("index-probed increment pairs == full-corpus pairs restricted to the batch's neighborhood") {
    val wh = tmpWh()
    BandIndex.seed(wh, partA)
    val inc = pairSet(text.incrementPairs(wh, text.codedOf(partB)))
    val bIds = partB.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = pairSet(TextOps.minhashPairsOf(docsAll))
      .filter { case (a, b, _) => bIds(a) || bIds(b) }
    assert(inc === full)
    assert(inc.nonEmpty, "split produced no cross/batch pairs — the assertion checked nothing")
    // and nothing leaked from the settled corpus's own business: no pair
    // with BOTH endpoints in part A
    assert(inc.forall { case (a, b, _) => bIds(a) || bIds(b) })
  }

  test("the skew cap counts the UNION's bucket occupancy, not either side alone") {
    // four identical docs share every band key: 2 settled + 2 in the batch
    val text = "alpha beta gamma delta epsilon zeta"
    val idx = BandIndex.bandedOf(Seq((1L, text), (2L, text)).toDF("doc_id", "text"))
    val bat = BandIndex.bandedOf(Seq((3L, text), (4L, text)).toDF("doc_id", "text"))
    // cap 4: union occupancy is exactly 4 — every batch-neighborhood pair
    // survives, and matches the full pipeline at the same cap
    val at4 = BandIndex.incrementPairsOf(idx, bat, maxBucket = 4)
    val full4 = TextOps.minhashPairsOf(
      Seq((1L, text), (2L, text), (3L, text), (4L, text)).toDF("doc_id", "text"), maxBucket = 4)
    assert(pairSet(at4) ===
      Set((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).map { case (a, b) => (a, b, 1.0) })
    // == the full pipeline at the same cap, minus the settled corpus's
    // own (1,2) pair — not batch-neighborhood
    assert(pairSet(at4) ===
      pairSet(full4).filter { case (a, b, _) => a >= 3L || b >= 3L })
    // cap 3: each side alone (2) is under the cap; the union (4) is over —
    // the bucket must be excluded, exactly as a full recluster would
    assert(pairSet(BandIndex.incrementPairsOf(idx, bat, maxBucket = 3)) === Set.empty)
  }

  test("the probe is replay-exact at a biting cap: a batch already in the index counts once") {
    // the crash shape: appendBatch committed, the orchestrator redelivers
    // the batch — its rows are now on BOTH sides of the probe. Four
    // identical docs at cap 4: union occupancy is exactly 4 on the first
    // run (pairs survive). Double-counting the replayed batch would read
    // 4 + 2 = 6 > 4 and flip the bucket to oversized, silently dropping
    // every pair the first run emitted.
    val text = "alpha beta gamma delta epsilon zeta"
    val idx = BandIndex.bandedOf(Seq((1L, text), (2L, text)).toDF("doc_id", "text"))
    val bat = BandIndex.bandedOf(Seq((3L, text), (4L, text)).toDF("doc_id", "text"))
    val idxAfterAppend = BandIndex.bandedOf(
      Seq((1L, text), (2L, text), (3L, text), (4L, text)).toDF("doc_id", "text"))
    val first = pairSet(BandIndex.incrementPairsOf(idx, bat, maxBucket = 4))
    val replay = pairSet(BandIndex.incrementPairsOf(idxAfterAppend, bat, maxBucket = 4))
    assert(first.nonEmpty, "cap-4 first run emitted nothing — the replay assert checks nothing")
    assert(replay === first,
      "replayed probe (batch already appended) diverged from the first run")
  }

  test("the probe's index scan is partition-pruned (static bk_bucket filter)") {
    val wh = tmpWh()
    BandIndex.seed(wh, partA)
    // probedSlice IS the plan that reads the table inside
    // incrementCandidatePairs (the caller cuts it eagerly, so the pruned
    // scan never appears in the returned pair plan); assert a SUBSET of
    // buckets actually prunes the scan's partition list
    val bb = BandIndex.bandedOf(partB)
    val someBuckets = Array(0, 1, 2, 3)
    val plan = BandIndex.probedSlice(BandIndex.banded(wh), bb, someBuckets)
      .queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(BandIndex.TableName)) => s
    }
    assert(scans.nonEmpty, "probe does not scan the persisted band index")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "index scan carries no partition filters — the probe reads every bk_bucket")
    // the pruning is REAL: only the named buckets' files are read
    val readFiles = scans.flatMap(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString))
    assert(readFiles.nonEmpty)
    assert(readFiles.forall(p => someBuckets.exists(b => p.contains(s"bk_bucket=$b/"))),
      s"scan read partitions outside the probe's bucket set: $readFiles")
  }

  test("the append's idempotency anti-join is pruned to the batch's own buckets") {
    val wh = tmpWh()
    BandIndex.seed(wh, partA)
    val before = BandIndex.banded(wh).count()
    // capture the scans the append runs by replaying its pruned read:
    // an existing (doc_id, band) row necessarily lives in the bucket the
    // deterministic re-hash derives, so only those partitions are read
    val bb = BandIndex.bandedOf(partB)
    val buckets = bb.select("bk_bucket").distinct().collect().map(_.getInt(0))
    val prunedRead = BandIndex.banded(wh)
      .filter(org.apache.spark.sql.functions.col("bk_bucket").isin(buckets.toSeq: _*))
    val scans = prunedRead.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "append's anti-join read carries no partition filter")
    // ...and the pruned append is still complete + idempotent end to end
    BandIndex.appendBatchBanded(wh, bb)
    val afterOnce = BandIndex.banded(wh).count()
    assert(afterOnce > before)
    BandIndex.appendBatchBanded(wh, BandIndex.bandedOf(partB))
    assert(BandIndex.banded(wh).count() === afterOnce, "pruned replay duplicated rows")
  }

  test("seedCorpus + ingestBatch == full recluster; replayed batch is a no-op; append idempotent") {
    val wh = tmpWh()
    ClusterState.seedCorpus(wh, text, partA)
    ClusterState.ingestBatch(wh, text, partB)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    val expect = rows(TextOps.dedupClustersOf(
      docsAll.select(col("doc_id")).distinct(), TextOps.minhashPairsOf(docsAll)))
    assert(rows(ClusterState.clusters(wh)) === expect)
    // the index now holds the whole corpus's bands, once each
    val idxRows = BandIndex.banded(wh).count()
    assert(BandIndex.banded(wh).select("doc_id", "band").distinct().count() === idxRows)
    assert(BandIndex.banded(wh).select("doc_id").distinct().count() === docsAll.count())
    // a crashed orchestrator replays the whole batch: state unchanged,
    // no duplicate index rows, presentation identical
    ClusterState.ingestBatch(wh, text, partB)
    assert(rows(ClusterState.clusters(wh)) === expect)
    assert(BandIndex.banded(wh).count() === idxRows)
  }

  test("compact coalesces append litter: rows and stamps verbatim, fewer files, probe unchanged") {
    val wh = tmpWh()
    BandIndex.seed(wh, partA)
    // two separate appends: every touched bk_bucket dir accrues one file
    // per batch on top of the seed's — the small-files growth compact
    // exists to reverse
    text.append(wh, text.codedOf(partB.filter(col("doc_id") % 2 === 0)))
    text.append(wh, text.codedOf(partB.filter(col("doc_id") % 2 === 1)))
    def raw() = wh.read(BandIndex.TableName, BandIndex.Schema)
    def rowSet() = raw().collect().map(_.toSeq).toSet
    val (rowsBefore, nBefore) = (rowSet(), raw().count())
    val filesBefore = raw().inputFiles.length
    val pairsBefore = pairSet(text.incrementPairs(wh, text.codedOf(partB)))
    BandIndex.compact(wh)
    assert(raw().count() === nBefore)
    assert(rowSet() === rowsBefore, "compact changed row content")
    val filesAfter = raw().inputFiles.length
    assert(filesAfter < filesBefore,
      s"compact did not reduce files ($filesBefore -> $filesAfter)")
    // one file per partition directory
    assert(filesAfter === raw().select("bk_bucket").distinct().count().toInt)
    assert(pairSet(text.incrementPairs(wh, text.codedOf(partB))) === pairsBefore)
  }

  test("reconcile after an honest ingest reports zero drift and leaves full-recluster state") {
    val wh = tmpWh()
    ClusterState.seedCorpus(wh, text, partA)
    ClusterState.ingestBatch(wh, text, partB)
    // no bucket crosses the cap at this scale: increment == full, so the
    // full rebuild changes nothing and the measured drift is exactly 0
    assert(ClusterState.reconcile(wh, text, docsAll) === 0L)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(ClusterState.clusters(wh)) === rows(TextOps.dedupClustersOf(
      docsAll.select(col("doc_id")).distinct(), TextOps.minhashPairsOf(docsAll))))
  }

  test("checked append: a changed doc's re-ingest yields no duplicate (doc_id, band) rows") {
    val text1 = "alpha beta gamma delta epsilon zeta"
    val text2 = "one two three four five six seven eight"
    def docs(t: String) = Seq((1L, t)).toDF("doc_id", "text")
    // fixture sanity: the edit moves at least one band into a different
    // bk_bucket — the exact escape hatch of the pruned check
    val (b1, b2) = (BandIndex.bandedOf(docs(text1)), BandIndex.bandedOf(docs(text2)))
    def buckets(df: DataFrame) = df.select("band", "bk_bucket").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(buckets(b1) !== buckets(b2), "fixture: edit did not move any band's bucket")
    val wh = tmpWh()
    BandIndex.seed(wh, docs(text1))
    // mutable-corpus posture: checked append sees the landed (doc_id,
    // band) keys UNPRUNED, so the edited doc is skipped, never duplicated
    BandIndex.appendBatchBanded(wh, b2, checked = true)
    val perKey = BandIndex.banded(wh).groupBy("doc_id", "band").count()
    assert(perKey.filter(col("count") > 1).count() === 0,
      "checked append duplicated a (doc_id, band) row")
    // stale-but-consistent: the index still holds the SEED's content
    assert(pairRows(BandIndex.banded(wh)) === pairRows(b1))
    // default path unchanged: replay of IDENTICAL content is still a no-op
    BandIndex.appendBatchBanded(wh, b1)
    assert(perKey.filter(col("count") > 1).count() === 0)
  }

  private def pairRows(df: DataFrame) = df
    .select("doc_id", "band", "band_key").collect()
    .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("a torn append repairs at (doc_id, band) granularity — missing bands complete, nothing duplicates") {
    val wh = tmpWh()
    BandIndex.seed(wh, partA)
    // simulate a crash mid-append: only band 0 of the batch's rows landed
    // (each band lives in different partition files, so this is a real
    // crash shape, not a contrivance)
    wh.appendLive(BandIndex.TableName,
      BandIndex.bandedOf(partB).filter(col("band") === 0)
        .withColumn("corpus_stamp", lit("append")),
      partitionBy = Seq("bk_bucket"))
    // the orchestrator replays the batch
    text.append(wh, text.codedOf(partB))
    val got = BandIndex.banded(wh)
    val expect = BandIndex.bandedOf(docsAll)
    assert(got.count() === expect.count(), "replay did not complete the missing bands, or duplicated rows")
    assert(got.select("doc_id", "band").distinct().count() === got.count())
    assert(got.select("doc_id", "band", "band_key").collect().map(_.toSeq).toSet ===
      expect.select("doc_id", "band", "band_key").collect().map(_.toSeq).toSet)
  }

  test("streamed cluster maintenance == full recluster (micro-batches through ingestBatch)") {
    val wh = tmpWh()
    ClusterState.seedCorpus(wh, text, partA)
    // part B arrives as TWO micro-batches of (doc_id, text), each one
    // local frame through ingestBatch
    val bRows = partB.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (b1, b2) = bRows.splitAt(bRows.length / 2)
    for (b <- Seq(b1, b2)) ClusterState.ingestBatch(wh, text, b.toDF("doc_id", "text"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(ClusterState.clusters(wh)) ===
      rows(TextOps.dedupClustersOf(
        docsAll.select(col("doc_id")).distinct(), TextOps.minhashPairsOf(docsAll))))
    // the index grew to the whole corpus, once each
    assert(BandIndex.banded(wh).select("doc_id").distinct().count() === docsAll.count())
  }

  test("maintain: compacts append litter, bounds generations, probe results unchanged") {
    val wh = tmpWh()
    ClusterState.seedCorpus(wh, text, partA)
    // several small batches → per-batch file litter + state generations
    val bRows = partB.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    import spark.implicits._
    bRows.grouped(math.max(1, bRows.length / 3)).foreach { g =>
      ClusterState.ingestBatch(wh, text, g.toDF("doc_id", "text"))
    }
    val before = ClusterState.clusters(wh).collect().map(_.toSeq).toSeq
    val filesBefore = BandIndex.banded(wh).inputFiles.length
    ClusterState.maintain(wh, retainLast = 1)
    assert(BandIndex.banded(wh).inputFiles.length < filesBefore,
      "maintain did not compact the band append litter")
    // bounded generations: at most live + retainLast version dirs per table
    val fs = new org.apache.hadoop.fs.Path(wh.dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val stateDirs = fs.globStatus(
      new org.apache.hadoop.fs.Path(wh.dir, s"${ClusterState.TableName}.__v*")).length
    assert(stateDirs <= 2, s"state generations not bounded: $stateDirs")
    // results byte-identical through the maintenance pass
    assert(ClusterState.clusters(wh).collect().map(_.toSeq).toSeq === before)
    // ...and the NEXT increment still works against the compacted index
    ClusterState.ingestBatch(wh, text,
      Seq((999999L, "maintenance pass sanity row")).toDF("doc_id", "text"))
    assert(ClusterState.read(wh).filter(col("doc_id") === 999999L).count() === 1)
  }

  test("ensure(dir): content-stamped index in the per-corpus scratch warehouse, memoized repeat") {
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_bands_root_").toString
    System.setProperty("graft.index.dir", tmpRoot)
    try {
      graft.queries.IvfModel.resetEnsureMemo()
      BandIndex.ensure(spark, sf())
      val wh = graft.queries.IvfModel.warehouseFor(spark, sf())
      val rows = BandIndex.banded(wh)
      // every banding-eligible doc (≥3 tokens) × 4 bands, once each
      assert(rows.count() === rows.select("doc_id", "band").distinct().count())
      assert(rows.select("doc_id").distinct().count() ===
        BandIndex.bandedOf(docsAll).select("doc_id").distinct().count())
      // repeat serves the committed generation: zero Spark jobs
      val tracker = spark.sparkContext.statusTracker
      val before = tracker.getJobIdsForGroup(null).length
      BandIndex.ensure(spark, sf())
      assert(tracker.getJobIdsForGroup(null).length === before,
        "repeat ensure re-ran setup jobs despite the stamp memo")
    } finally {
      System.clearProperty("graft.index.dir")
      graft.queries.IvfModel.resetEnsureMemo()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmpRoot))
    }
  }

  test("ensureFor is stamped: repeat calls serve the committed generation without a rewrite") {
    val wh = tmpWh()
    def versions = Option(new java.io.File(wh.dir).listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith(s"${BandIndex.TableName}.__v"))
    BandIndex.ensureFor(wh, partA, "stamp-a")
    val v1 = versions
    assert(v1 === 1)
    BandIndex.ensureFor(wh, partA, "stamp-a")
    assert(versions === v1, "unchanged stamp re-materialized the index")
    BandIndex.ensureFor(wh, partA, "stamp-b")
    assert(versions === v1 + 1, "a changed stamp must re-materialize")
  }

  test("giant-batch fallback (maxInline crossed): identical pairs, identical append, NO IN-filter in the plan") {
    val wh = tmpWh()
    BandIndex.seed(wh, partA)
    val bb = graft.queries.Frames.cut(BandIndex.bandedOf(partB))
    // maxInline = 0 forces every batch over the threshold — the exact
    // code path a 100 TB fan-out × giant batch takes, exercised at test
    // scale. Pairs must be bit-identical to the inline path.
    val inline = pairSet(BandIndex.incrementPairsOf(BandIndex.banded(wh), bb, TextOps.MaxBucket))
    val fallback = pairSet(BandIndex.incrementPairsOf(BandIndex.banded(wh), bb, TextOps.MaxBucket,
      maxInline = 0))
    assert(inline.nonEmpty)
    assert(fallback === inline, "broadcast-semi-join fallback diverged from the inline IN path")
    // the fallback's pruned read compiles NO IN/InSet over the bucket
    // column — the driver-side literal list is gone by construction
    val pruned = graft.queries.BucketPrune.restrict(
      BandIndex.banded(wh), "bk_bucket", bb, maxInline = 0)
    val ins = pruned.queryExecution.sparkPlan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect {
        case i: org.apache.spark.sql.catalyst.expressions.In    => i
        case i: org.apache.spark.sql.catalyst.expressions.InSet => i
      })
    assert(ins.isEmpty, s"fallback plan still carries an IN-filter: $ins")
    // ...and the scan is STILL partition-pruned — dynamic partition
    // pruning turns the broadcast side into a runtime partition filter
    // (asserted on the formatted plan, which traverses the AQE wrapper)
    val formatted = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("dynamicpruningexpression"),
      s"fallback scan lost partition pruning (no dynamicpruning expression):\n$formatted")
    // ...and the append stays complete + idempotent through the fallback
    val before = BandIndex.banded(wh).count()
    BandIndex.appendBatchBanded(wh, bb, maxInline = 0)
    val afterOnce = BandIndex.banded(wh).count()
    assert(afterOnce > before)
    BandIndex.appendBatchBanded(wh, graft.queries.Frames.cut(BandIndex.bandedOf(partB)),
      maxInline = 0)
    assert(BandIndex.banded(wh).count() === afterOnce, "fallback replay duplicated rows")
  }
}
