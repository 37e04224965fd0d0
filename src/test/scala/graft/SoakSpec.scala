package graft

import org.apache.spark.sql.functions._

import graft.pipelines.{ClusterState, Curation, IncrementalCuration}

/** The LONG-HORIZON increment soak (round-12 item 5/8): 20 sequential
  * batches through the clustered incremental-curation lifecycle with the
  * maintenance cadence applied ([[IncrementalCuration.Maintenance]]) —
  * the loop a real deployment runs for months, which the 1-2-batch
  * parity specs cannot exercise. Pins: (a) maintenance fires exactly on
  * cadence and measures drift each time; (b) injected state corruption
  * is REPAIRED at the next reconcile point; (c) after 20 batches the
  * settled state (exact-hash table AND cluster assignment) equals a
  * from-scratch rebuild over the whole corpus; (d) state stays
  * O(corpus) and the warehouse's version count stays bounded by the
  * vacuum retention. The sf1.0-scale wall-clock table lives in SCALE.md
  * (BENCH_R14_SOAK.json, BENCH_R15_SOAK.json); this spec is the semantic
  * contract.
  */
class SoakSpec extends SparkTestBase {

  import spark.implicits._

  // 10 near-dup families spread ACROSS batches (so increments keep
  // linking new members to settled clusters) + per-batch unique docs.
  private def docText(family: Int, variant: Int): String =
    s"family $family shares this long and very distinctive sentence body " +
      s"with every sibling but ends differently variant$variant"

  private def batchDocs(b: Int): Seq[(Long, String)] = {
    val base = b * 20L
    val dups = (0 until 10).map(f =>
      (base + f, docText(f, b))) // one new member of each family per batch
    val uniq = (10 until 20).map(i =>
      (base + i, s"batch $b unique document number $i about topic ${b * 31 + i} " +
        s"with plenty of ordinary filler words to pass the quality gates easily"))
    dups ++ uniq
  }

  test("20-batch soak: cadence fires, corruption repaired, final state == from-scratch rebuild, bounded") {
    val wh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_soak_").toString)
    val t = Curation.Thresholds()
    val seedDocs = batchDocs(0).toDF("doc_id", "text")
    IncrementalCuration.seed(wh, seedDocs, t, clustered = true)

    var seen = seedDocs
    val reports = scala.collection.mutable.ListBuffer.empty[(Int, ClusterState.MaintainReport)]
    var corrupted = false
    for (b <- 1 to 20) {
      val batch = batchDocs(b).toDF("doc_id", "text")
      // inject a wrong label after batch 7's ingest: the NEXT reconcile
      // (batch 10) must measure it as drift and repair it. The victim is
      // a SINGLETON (batch-0 unique doc 15) — a family member would heal
      // through the very next increment (its component gains members
      // every batch, and the propagation relabels the whole component),
      // which is exactly why cap-crossing drift needs the reconcile: it
      // lives on rows no increment's neighborhood revisits
      val (curated, audit, rep) = IncrementalCuration.ingestWithMaintenance(
        wh, batch,
        IncrementalCuration.Maintenance(b, every = 5, reconcileDocs = Some(seen)),
        t, clustered = true)
      // materialize the outputs (the documented consume-before-next contract)
      curated.queryExecution.toRdd.count()
      audit.queryExecution.toRdd.count()
      rep.foreach(r => reports += b -> r)
      seen = seen.unionByName(batch)
      if (b == 7 && !corrupted) {
        val st = ClusterState.read(wh).collect()
        val mangled = st.map(r => (r.getLong(0), r.getLong(1)))
          .map { case (d, c) => if (d == 15L) (d, 999999L) else (d, c) }
          .toSeq.toDF("doc_id", "cluster")
        ClusterState.seedAssignment(wh, mangled)
        corrupted = true
      }
    }
    // (a) cadence: maintenance ran exactly at batches 5, 10, 15, 20,
    // each run measured drift (reconcileDocs was supplied)
    assert(reports.map(_._1).toList === List(5, 10, 15, 20))
    assert(reports.forall(_._2.drift.isDefined))
    // (b) the injected corruption shows up as nonzero drift at batch 10
    // and nowhere after (repaired by that reconcile)
    val driftAt = reports.map { case (b, r) => b -> r.drift.get }.toMap
    assert(driftAt(10) >= 1L, s"injected corruption not measured: $driftAt")
    assert(driftAt(15) === 0L && driftAt(20) === 0L,
      s"drift persisted past its reconcile: $driftAt")
    // (c) final state == from-scratch rebuild over the full corpus
    val fresh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_soak_fresh_").toString)
    IncrementalCuration.seed(fresh, seen, t, clustered = true)
    def hashState(w: graft.etl.Warehouse) =
      w.read(IncrementalCuration.HashTable, IncrementalCuration.HashSchema)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(hashState(wh) === hashState(fresh),
      "soaked exact-dedup state diverged from a from-scratch rebuild")
    def clusterSets(w: graft.etl.Warehouse) = ClusterState.clusters(w)
      .groupBy(col("cluster")).agg(sort_array(collect_list(col("doc_id"))).as("m"))
      .select(col("m")).collect().map(_.getSeq[Long](0)).toSet
    assert(clusterSets(wh) === clusterSets(fresh),
      "soaked cluster membership diverged from a from-scratch rebuild")
    // (d) state is O(corpus): one hash row per distinct content, one
    // cluster row per doc
    val n = seen.count()
    assert(hashState(wh).size <= n)
    assert(ClusterState.read(wh).count() <= n)
    // ...and the vacuumed warehouse holds a bounded version window per
    // table (retainLast = 3 at each maintain)
    val root = new java.io.File(wh.dir)
    val versions = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains(".__v"))
      .groupBy(_.getName.takeWhile(_ != '.'))
    versions.foreach { case (table, vs) =>
      assert(vs.length <= 4, s"$table holds ${vs.length} versions after vacuum")
    }
  }

  test("banded-index soak: 20 batches, compaction bounds files, probe unchanged, drift repaired, final state == full recluster") {
    import graft.queries.{BandEmbIndex, TextOps}
    import graft.tools.ScaleData
    val (tT, tB, tR) = (3, 8, 1)
    val banded = BandEmbIndex.Family(tT, tB, tR)
    // clustered geometry (the corpus shape the banded family exists
    // for), md5-split into the lifecycle's seed + 20 batches
    val embAll = ScaleData.clusteredEmbeddings(spark, 600, nCenters = 20, noise = 0.04)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    def slice(lo: Int, hi: Int) = embAll.filter(
      TextOps.splitBucket(col("vec_id")) >= lo && TextOps.splitBucket(col("vec_id")) < hi)
    def bound(b: Int): Int = 50 + b * 50 / 20
    val wh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_soak_band_").toString)
    ClusterState.seedCorpus(wh, banded, slice(0, 50))

    def indexFiles: Int = BandEmbIndex.coded(wh).inputFiles.length
    val drifts = scala.collection.mutable.Map.empty[Int, Long]
    for (b <- 1 to 20) {
      ClusterState.ingestBatch(wh, banded, slice(bound(b - 1), bound(b)))
      if (b % 5 == 0) {
        // inject a wrong label right before the batch-10 maintenance:
        // the reconcile must measure it as drift and repair it
        if (b == 10) {
          val mangled = ClusterState.read(wh).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
            .zipWithIndex
            .map { case ((d, c), i) => if (i == 0) (d, 999999L) else (d, c) }
            .toSeq.toDF("doc_id", "cluster")
          ClusterState.seedAssignment(wh, mangled)
        }
        // probe parity across compaction: the last batch replayed as a
        // probe (replay-exact by contract) must see identical pairs
        // before and after the maintenance pass
        val probe = slice(bound(b - 1), bound(b))
        def probePairs = banded.incrementPairs(wh, banded.codedOf(probe))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val before = probePairs
        val preFiles = indexFiles
        drifts(b) = ClusterState.reconcile(wh, banded, slice(0, bound(b)))
        val rep = ClusterState.maintain(wh, retainLast = 3)
        assert(rep.duplicateIds.values.forall(_ == 0L))
        assert(probePairs === before,
          s"maintenance changed probe results at batch $b")
        assert(indexFiles <= preFiles,
          s"compaction grew the banded index file count at batch $b")
      }
    }
    // the injected corruption was measured at batch 10 and repaired —
    // nothing at 15/20 (the reconcile rebuild is deterministic)
    assert(drifts(10) >= 1L, s"injected corruption not measured: $drifts")
    assert(drifts(15) === 0L && drifts(20) === 0L,
      s"drift persisted past its reconcile: $drifts")
    // compaction bounds the append litter: after the final maintenance
    // the live generation holds one file per touched partition
    val partitions = BandEmbIndex.coded(wh).select(col("pbucket")).distinct().count()
    assert(indexFiles <= partitions,
      s"final index holds $indexFiles files over $partitions partitions — compact left litter")
    // final index == one row per (vec_id, tbl), nothing torn or doubled
    assert(BandEmbIndex.coded(wh).count() === embAll.count() * tT)
    assert(BandEmbIndex.coded(wh).groupBy(col("vec_id"), col("tbl"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count() === 0L)
    // final cluster state == a from-scratch banded recluster of the corpus
    val fresh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_soak_band_fresh_").toString)
    ClusterState.seedCorpus(fresh, banded, embAll)
    def clusterSets(w: graft.etl.Warehouse) = ClusterState.clusters(w)
      .groupBy(col("cluster")).agg(sort_array(collect_list(col("doc_id"))).as("m"))
      .select(col("m")).collect().map(_.getSeq[Long](0)).toSet
    assert(clusterSets(wh) === clusterSets(fresh),
      "soaked banded cluster state diverged from a from-scratch rebuild")
    // the vacuumed warehouse holds a bounded version window per table
    val versionDirs = Option(new java.io.File(wh.dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains(".__v"))
      .groupBy(_.getName.takeWhile(_ != '.'))
    versionDirs.foreach { case (table, vs) =>
      assert(vs.length <= 4, s"$table holds ${vs.length} versions after vacuum")
    }
  }
}
