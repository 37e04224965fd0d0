package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.RddBlocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.pipelines.ClusterState
import graft.queries.{BandEmbIndex, BandIndex, EmbIndex, IvfModel, PairFamily, PersistedIndex, TextOps}

/** The cluster-state lifecycle over each index family releases every
  * checkpoint it pins, and the registered entries (t37/t40/t55) leave
  * their stamped part-A index as they found it.
  */
class ClusterStateSpec extends SparkTestBase {

  private val docsAll = graft.core.Tables.documents(spark, sf())

  test("seed, ingest, replayed ingest and reconcile leave no persisted RDD, per family") {
    // reliable checkpoints are never persisted: the check would pass
    // without looking at anything
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val clustered = graft.tools.ScaleData.clusteredEmbeddings(spark, 300, nCenters = 12,
      noise = 0.04).select(col("vec_id"), col("embedding")).localCheckpoint()
    val families: Seq[(String, PairFamily, DataFrame)] = Seq(
      ("text", BandIndex.Family, docsAll),
      ("single-table", EmbIndex.Family(), graft.core.Tables.embeddings(spark, sf())),
      ("banded", BandEmbIndex.Family(3, 8, 1), clustered))
    for ((name, fam, all) <- families) {
      val partA = all.filter(TextOps.splitBucket(col(fam.idCol)) < 50)
      val partB = all.filter(TextOps.splitBucket(col(fam.idCol)) >= 50)
      val wh = Warehouse(spark, Files.createTempDirectory("graft_cs_pins_").toString)
      // what a step left pinned: blocks of RDDs it made (an RDD made now
      // has the lowest id any of them can get), with the cleaner held off
      // so GC cannot release them in its place
      def leftBy(step: => Any): Seq[String] = RddBlocks.withoutCleaner(spark.sparkContext) {
        val floor = spark.sparkContext.emptyRDD[Int].id
        step
        def left = RddBlocks.held(spark.sparkContext).filter(_ >= floor)
        // a released RDD's blocks are dropped asynchronously
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (left.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
        left.toSeq.sorted.map(id =>
          spark.sparkContext.getPersistentRDDs.get(id).fold(s"RDD $id")(_.toString))
      }
      assert(leftBy(ClusterState.seedCorpus(wh, fam, partA)).isEmpty, s"$name seed")
      assert(leftBy(ClusterState.ingestBatch(wh, fam, partB)).isEmpty, s"$name ingest")
      assert(leftBy(ClusterState.ingestBatch(wh, fam, partB)).isEmpty, s"$name replay")
      assert(leftBy(ClusterState.reconcile(wh, fam, all)).isEmpty, s"$name reconcile")
      assert(ClusterState.read(wh).count() === all.count(), s"$name state lost rows")
    }
  }

  test("a second call of t37, t40 and t55 leaves the index at part A and returns the same rows") {
    val root = Files.createTempDirectory("graft_cs_registered_")
    System.setProperty("graft.index.dir", root.toString)
    IvfModel.resetEnsureMemo()
    try {
      val entries: Seq[(String, PersistedIndex, DataFrame, String)] = Seq(
        ("t37_cluster_increment", BandIndex, docsAll, "doc_id"),
        ("t40_embed_cluster_increment", EmbIndex,
          graft.core.Tables.embeddings(spark, sf()), "vec_id"),
        ("t55_banded_cluster_increment", BandEmbIndex,
          graft.core.Tables.embeddings(spark, sf()), "vec_id"))
      for ((q, index, all, idCol) <- entries) {
        def call() = SparkEntry.queries(q)(spark, sf()).collect().map(_.toSeq).toSeq
        val first = call()
        val wh = Warehouse(spark, new java.io.File(
          IvfModel.warehouseFor(spark, sf()).dir, s"${q.take(3)}_increment").toString)
        val partAIds = all.filter(TextOps.splitBucket(col(idCol)) < 50)
          .select(col(idCol)).collect().map(_.getLong(0)).toSet
        def indexIds = index.rows(wh).select(col(idCol)).distinct()
          .collect().map(_.getLong(0)).toSet
        val rowsA = index.rows(wh).count()
        assert(rowsA > 0 && indexIds.subsetOf(partAIds), s"$q index is not part A after the first call")
        assert(call() === first, s"$q second call returned other rows")
        assert(index.rows(wh).count() === rowsA, s"$q second call grew the index")
        assert(indexIds.subsetOf(partAIds))
      }
    } finally {
      System.clearProperty("graft.index.dir")
      IvfModel.resetEnsureMemo()
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
    }
  }
}
