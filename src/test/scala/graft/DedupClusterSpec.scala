package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Label propagation must produce transitive clusters: a~b and b~c put
  * a, b, c in ONE cluster even when (a, c) never collides as a pair.
  * Tested through the same algorithm body over an injected pair set.
  */
class DedupClusterSpec extends SparkTestBase {
  import spark.implicits._

  private def clusters(pairs: DataFrame, nodes: DataFrame): DataFrame = {
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    var labels = nodes.withColumn("cluster", col("doc_id"))
    (1 to 8).foreach { _ =>
      val nb = edges
        .join(labels.select(col("doc_id").as("doc_b"), col("cluster").as("nbc")), Seq("doc_b"))
        .groupBy(col("doc_a")).agg(min(col("nbc")).as("mnb"))
        .select(col("doc_a").as("doc_id"), col("mnb"))
      labels = labels.join(nb, Seq("doc_id"), "left")
        .select(col("doc_id"), least(col("cluster"), coalesce(col("mnb"), col("cluster"))).as("cluster"))
        .localCheckpoint()
    }
    labels
  }

  test("chained pairs collapse into one transitive cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val nodes = (1L to 12L).toDF("doc_id")
    val got = clusters(pairs, nodes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(got).distinct === Seq(1L)) // one component, min label
    assert(got(10L) === 10L && got(11L) === 10L)
    assert(got(5L) === 5L) // untouched singleton
  }

  /** Force the distributed propagation loop (bypass the bounded local
    * union-find) for tests whose subject IS the loop machinery.
    */
  private def forcingLoop[A](body: => A): A = {
    sys.props("graft.cc.localMaxEdges") = "-1"
    try body finally sys.props -= "graft.cc.localMaxEdges"
  }

  test("ccShufflePartitionsFor tracks the graph, not the core count (round-16 next #5)") {
    import graft.queries.TextOps
    // the rule measured by failing first (BENCH_R16_CC.json):
    // ~1M pairs (2M mirrored rows) per task — 400M edges need 400 tasks
    // on any core count; 32 died AGGREGATE_OUT_OF_MEMORY, 400 completed
    assert(TextOps.ccShufflePartitionsFor(400000000L, 32) === 400)
    assert(TextOps.ccShufflePartitionsFor(400000000L, 512) === 512)
    // small graphs never pay extra tasks: the session default holds
    assert(TextOps.ccShufflePartitionsFor(40L, 32) === 32)
    assert(TextOps.ccShufflePartitionsFor(1000000L, 32) === 32)
    // bounded: a pathological edge count cannot demand millions of tasks
    assert(TextOps.ccShufflePartitionsFor(Long.MaxValue / 4, 32) === 200000)
  }

  test("the propagation loop raises shuffle partitions for its rounds and restores after") {
    import graft.queries.TextOps
    // shrink the per-task budget so a 6-edge graph crosses the raise
    // threshold; the loop must (a) still converge correctly, (b) restore
    // the caller's session partitions on exit
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (11L, 12L))
      .toDF("doc_a", "doc_b")
    val nodes = (1L to 12L).toDF("doc_id")
    val before = spark.sessionState.conf.numShufflePartitions
    sys.props("graft.cc.pairsPerTask") = "1"
    val got = try forcingLoop(TextOps.dedupClustersOf(nodes, pairs)
      .select("doc_id", "cluster").collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
    finally sys.props -= "graft.cc.pairsPerTask"
    assert(spark.sessionState.conf.numShufflePartitions === before,
      "loop did not restore the caller's shuffle partitions")
    assert(Seq(1L, 2L, 3L, 4L, 5L).map(got).distinct === Seq(1L))
    assert(Seq(10L, 11L, 12L).map(got).distinct === Seq(10L))
  }

  test("with a checkpoint dir configured, clustering uses reliable checkpoints and agrees") {
    import graft.queries.TextOps
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val nodes = (1L to 8L).toDF("doc_id")
    def result() = forcingLoop(TextOps.dedupClustersOf(nodes, pairs)
      .select("doc_id", "cluster").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val viaLocal = result() // no checkpoint dir: localCheckpoint path
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck_").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      val viaReliable = result()
      assert(viaReliable === viaLocal)
      // the reliable path actually wrote checkpoint state (executor-loss
      // durable at scale, unlike localCheckpoint's executor memory)
      def count(dir: java.io.File): Int =
        Option(dir.listFiles()).map(_.map(f => if (f.isDirectory) count(f) else 1).sum).getOrElse(0)
      assert(count(new java.io.File(ckDir)) > 0, "no reliable checkpoint files written")
    } finally org.apache.spark.CheckpointDirs.clear(spark.sparkContext)
  }

  test("local union-find fallback == distributed loop, incl. foreign-endpoint exclusion") {
    import graft.queries.TextOps
    // chain + separate pair + an edge through a NON-node endpoint (99):
    // the loop never labels 99, so 7 and 8 must NOT merge through it —
    // the local path must replicate exactly that
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (7L, 99L), (99L, 8L)).toDF("doc_a", "doc_b")
    val nodes = (1L to 12L).toDF("doc_id")
    def assignment(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLocal = assignment(TextOps.clusterAssignmentOf(nodes, pairs))
    val viaLoop = forcingLoop(assignment(TextOps.clusterAssignmentOf(nodes, pairs)))
    assert(viaLocal === viaLoop)
    val got = viaLocal.toMap
    assert(Seq(1L, 2L, 3L, 4L).map(got).distinct === Seq(1L))
    assert(got(7L) === 7L && got(8L) === 8L, "merged through a non-node endpoint")
  }

  test("t13 over the corpus: canonical docs unique per cluster, sizes consistent") {
    val df = graft.queries.TextOps.t13DedupClusters(spark, sf()).collect()
    val byCluster = df.groupBy(_.getAs[Long]("cluster"))
    byCluster.foreach { case (c, rows) =>
      assert(rows.count(_.getAs[Boolean]("is_canonical")) === 1, s"cluster $c")
      assert(rows.forall(_.getAs[Long]("cluster_size") === rows.length))
      // canonical survivor is the minimum doc_id, which equals the label
      assert(rows.filter(_.getAs[Boolean]("is_canonical")).head.getAs[Long]("doc_id") === c)
    }
  }

  test("a 40-edge chain converges inside the round budget (path halving load-bearing)") {
    // Plain neighbor-min propagation needs O(diameter) rounds — a 40-edge
    // path would blow the 32-round budget and THROW. Only the path-halving
    // step makes this converge (O(log diameter)); if halving silently
    // degrades to a no-op (wrong join key, null hops), this test fails
    // with the non-convergence error instead of staying green.
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val nodes = (0L to 40L).toDF("doc_id")
    val out = forcingLoop(graft.queries.TextOps.dedupClustersOf(nodes, edges).collect())
    assert(out.length === 41)
    assert(out.forall(_.getAs[Long]("cluster") === 0L))
    assert(out.forall(_.getAs[Long]("cluster_size") === 41L))
    assert(out.count(_.getAs[Boolean]("is_canonical")) === 1)
  }

  test("incremental clustering: increment(A, then B) == full(A ∪ B), incl. merges and canonical takeover") {
    import graft.queries.TextOps
    // corpus A: cluster {1,2}, cluster {5,6}, singletons 9, 11
    val nodesA = Seq(1L, 2L, 5L, 6L, 9L, 11L).toDF("doc_id")
    val pairsA = Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    val assignA = TextOps.clusterAssignmentOf(nodesA, pairsA)
    // increment B: doc 0 BRIDGES both prior clusters (and, with the
    // smallest id, takes over as canonical); doc 7 pulls the prior
    // singleton 9 into a new pair; doc 8 stays a singleton
    val nodesB = Seq(0L, 7L, 8L).toDF("doc_id")
    val pairsB = Seq((0L, 2L), (0L, 6L), (7L, 9L)).toDF("doc_a", "doc_b")

    def asMap(df: DataFrame) =
      df.select("doc_id", "cluster").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val inc = TextOps.dedupClustersIncrement(assignA, nodesB, pairsB)
    val full = TextOps.clusterAssignmentOf(
      nodesA.unionByName(nodesB), pairsA.unionByName(pairsB))
    assert(asMap(inc) === asMap(full))
    assert(asMap(inc) === Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 0L, 6L -> 0L, // merged, new canonical 0
      7L -> 7L, 9L -> 7L,                               // prior singleton joins
      8L -> 8L, 11L -> 11L))                            // singletons stay self
    // and the presentation of the maintained state matches a full recluster
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(TextOps.presentClusters(inc)) ===
      rows(TextOps.dedupClustersOf(nodesA.unionByName(nodesB), pairsA.unionByName(pairsB))))

    // the propagation input is the increment's edge NEIGHBORHOOD: new ids
    // plus the LABELS of touched prior components — the untouched prior
    // cluster member 11 (and non-label members 2, 6) never enter it
    val (touched, repped) = TextOps.contractedGraph(assignA, nodesB, pairsB)
    assert(touched.collect().map(_.getLong(0)).toSet === Set(0L, 1L, 5L, 7L, 8L, 9L))
    assert(repped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((0L, 1L), (0L, 5L), (7L, 9L)))
  }

  test("incremental clustering: late old-old pairs, empty increments, and chained batches") {
    import graft.queries.TextOps
    def asMap(df: DataFrame) =
      df.select("doc_id", "cluster").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val nodesA = Seq(1L, 2L, 5L, 6L).toDF("doc_id")
    val pairsA = Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    val assignA = TextOps.clusterAssignmentOf(nodesA, pairsA)

    // a LATE pair between two prior docs (no new nodes at all) merges
    // their clusters through the contracted super-nodes
    val lateMerge = TextOps.dedupClustersIncrement(
      assignA, Seq.empty[Long].toDF("doc_id"), Seq((2L, 6L)).toDF("doc_a", "doc_b"))
    assert(asMap(lateMerge) === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))

    // an empty increment is the identity
    val noop = TextOps.dedupClustersIncrement(
      assignA, Seq.empty[Long].toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(asMap(noop) === asMap(assignA))

    // chained: (A +B) +C == full(A ∪ B ∪ C); state materialized between
    // batches per the docstring contract
    val nodesB = Seq(10L).toDF("doc_id")
    val pairsB = Seq((10L, 2L)).toDF("doc_a", "doc_b")
    val afterB = TextOps.dedupClustersIncrement(assignA, nodesB, pairsB).localCheckpoint()
    val nodesC = Seq(0L, 20L).toDF("doc_id")
    val pairsC = Seq((0L, 10L), (20L, 5L)).toDF("doc_a", "doc_b")
    val afterC = TextOps.dedupClustersIncrement(afterB, nodesC, pairsC)
    val full = TextOps.clusterAssignmentOf(
      nodesA.unionByName(nodesB).unionByName(nodesC),
      pairsA.unionByName(pairsB).unionByName(pairsC))
    assert(asMap(afterC) === asMap(full))
    assert(asMap(afterC)(20L) === 5L && asMap(afterC)(0L) === 0L && asMap(afterC)(2L) === 0L)
  }

  test("incremental clustering: a replayed batch is a no-op (newNodes overlapping prior)") {
    import graft.queries.TextOps
    def asMap(df: DataFrame) =
      df.select("doc_id", "cluster").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val nodesA = Seq(1L, 2L, 5L, 6L, 9L).toDF("doc_id")
    val pairsA = Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    val assignA = TextOps.clusterAssignmentOf(nodesA, pairsA)
    val nodesB = Seq(0L, 8L).toDF("doc_id")
    val pairsB = Seq((0L, 2L), (0L, 6L)).toDF("doc_a", "doc_b")
    val afterB = TextOps.dedupClustersIncrement(assignA, nodesB, pairsB).localCheckpoint()

    // the crash-replay scenario: advance committed, the orchestrator's
    // batch record didn't — the SAME batch runs again against the
    // advanced state. Every replayed doc_id must appear exactly once
    // (pre-fix it appeared twice — once via the prior side, once via the
    // new side — inflating cluster_size so singletons presented as
    // 2-member clusters and got wrongly dropped as duplicates).
    val replayed = TextOps.dedupClustersIncrement(afterB, nodesB, pairsB)
    assert(replayed.groupBy("doc_id").count().filter(col("count") > 1).isEmpty,
      "replayed batch emitted duplicate doc_id rows")
    assert(asMap(replayed) === asMap(afterB))
    // the singleton 8 presents as NO cluster, not a phantom 2-member one
    val presented = TextOps.presentClusters(replayed.localCheckpoint())
    assert(!presented.select("doc_id").collect().map(_.getLong(0)).contains(8L))

    // partial overlap: one replayed node, one genuinely new — the new
    // node lands, the replayed one stays governed by prior
    val afterC = TextOps.dedupClustersIncrement(
      afterB, Seq(8L, 30L).toDF("doc_id"), Seq((30L, 8L)).toDF("doc_a", "doc_b"))
    assert(afterC.groupBy("doc_id").count().filter(col("count") > 1).isEmpty)
    assert(asMap(afterC) === asMap(afterB) + (30L -> 8L))

    // the Opt form NAMES the no-op: a fully-replayed batch (zero fresh
    // nodes, identity relabel map) returns None — the caller's state
    // rewrite is skipped outright; any fresh node or genuine merge
    // returns Some
    assert(TextOps.dedupClustersIncrementOpt(afterB, nodesB, pairsB).isEmpty,
      "fully-replayed batch must be detected as a state no-op")
    assert(TextOps.dedupClustersIncrementOpt(
      afterB, Seq(8L, 30L).toDF("doc_id"), Seq((30L, 8L)).toDF("doc_a", "doc_b")).nonEmpty,
      "a fresh node must not be detected as a no-op")
    // a late old-old pair that merges two prior clusters is NOT a no-op
    // even with zero fresh nodes (non-identity relabel map)
    assert(TextOps.dedupClustersIncrementOpt(
      afterB, Seq.empty[Long].toDF("doc_id"),
      Seq((5L, 9L)).toDF("doc_a", "doc_b")).nonEmpty,
      "an old-old merge must not be detected as a no-op")
    // ...while a late old-old pair INSIDE one component is a no-op
    assert(TextOps.dedupClustersIncrementOpt(
      afterB, Seq.empty[Long].toDF("doc_id"),
      Seq((1L, 2L)).toDF("doc_a", "doc_b")).isEmpty,
      "an intra-component pair must be detected as a state no-op")
  }

  test("a fully-replayed ClusterState ingest skips the state rewrite (generation count pinned)") {
    import graft.pipelines.ClusterState
    val wh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_ccstate_noop_").toString)
    val nodesA = Seq(1L, 2L, 5L, 6L).toDF("doc_id")
    val pairsA = Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    ClusterState.seed(wh, nodesA, pairsA)
    ClusterState.advance(wh, Seq(9L).toDF("doc_id"), Seq((9L, 2L)).toDF("doc_a", "doc_b"))
    def stateMap = ClusterState.read(wh).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val (files, after) = (ClusterState.read(wh).inputFiles.toSet, stateMap)
    // replay of the same batch: content AND generation must be untouched
    ClusterState.advance(wh, Seq(9L).toDF("doc_id"), Seq((9L, 2L)).toDF("doc_a", "doc_b"))
    assert(stateMap === after, "replayed advance changed the state content")
    assert(ClusterState.read(wh).inputFiles.toSet === files,
      "replayed advance rewrote the state generation")
  }

  test("incremental clustering: foreign pair endpoints fail loudly (and the guard can be waived)") {
    import graft.queries.TextOps
    val assignA = TextOps.clusterAssignmentOf(
      Seq(1L, 2L).toDF("doc_id"), Seq((1L, 2L)).toDF("doc_a", "doc_b"))
    // 99 is in neither prior nor newNodes: a phantom super-node that
    // would silently bridge components — must throw at call time
    val ex = intercept[IllegalArgumentException] {
      TextOps.dedupClustersIncrement(assignA, Seq(3L).toDF("doc_id"),
        Seq((3L, 99L)).toDF("doc_a", "doc_b"))
    }
    assert(ex.getMessage.contains("99"))
    // the waived form is the library's own index-probed feed, which
    // satisfies the contract by construction — same inputs minus the
    // foreign pair must still work with the guard off
    val ok = TextOps.dedupClustersIncrement(assignA, Seq(3L).toDF("doc_id"),
      Seq((3L, 1L)).toDF("doc_a", "doc_b"), validateEndpoints = false)
    assert(ok.select("doc_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("ClusterState: persisted seed → advance equals a full recluster; crash-safe generations") {
    import graft.pipelines.ClusterState
    import graft.queries.TextOps
    val wh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_cstate_").toString)
    val nodesA = Seq(1L, 2L, 5L, 6L, 9L).toDF("doc_id")
    val pairsA = Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    ClusterState.seed(wh, nodesA, pairsA)
    // advance by a batch that bridges the two clusters and adds a singleton
    val nodesB = Seq(0L, 8L).toDF("doc_id")
    val pairsB = Seq((0L, 2L), (0L, 6L)).toDF("doc_a", "doc_b")
    ClusterState.advance(wh, nodesB, pairsB)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(ClusterState.clusters(wh)) ===
      rows(TextOps.dedupClustersOf(nodesA.unionByName(nodesB), pairsA.unionByName(pairsB))))
    // the state table is versioned: the pre-advance generation is still on
    // disk inside the retention window (a crash mid-advance keeps serving it)
    val fs = new org.apache.hadoop.fs.Path(wh.dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.globStatus(new org.apache.hadoop.fs.Path(
      wh.dir, s"${ClusterState.TableName}.__v*")).length >= 2)
    // an empty advance re-commits the same assignment (identity)
    ClusterState.advance(wh, Seq.empty[Long].toDF("doc_id"),
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(rows(ClusterState.clusters(wh)) ===
      rows(TextOps.dedupClustersOf(nodesA.unionByName(nodesB), pairsA.unionByName(pairsB))))
  }

  test("t34 embedding clusters: consistent with t15 pairs, transitive, canonical = min id") {
    import graft.queries.TextOps
    val pairs = TextOps.t15CosineNearDup(spark, sf())
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rows = TextOps.t34EmbedDedupClusters(spark, sf()).collect()
    val label = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    // every near-dup pair lands in one cluster (the pair graph is covered)
    pairs.foreach { case (a, b) =>
      assert(label.contains(a) && label(a) === label(b), s"pair ($a,$b) split across clusters")
    }
    // and the clustering adds nothing beyond the pair graph's components:
    // every cluster member reaches its label through pair edges
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    rows.groupBy(_.getAs[Long]("cluster")).foreach { case (c, members) =>
      val ids = members.map(_.getAs[Long]("vec_id")).toSet
      var frontier = Set(c); var seen = Set(c)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= next; frontier = next
      }
      assert(ids.subsetOf(seen), s"cluster $c contains members unreachable via pair edges")
      assert(members.count(_.getAs[Boolean]("is_canonical")) === 1)
      assert(ids.min === c, s"cluster label $c is not the min member id")
      assert(members.forall(_.getAs[Long]("cluster_size") === members.length))
    }
    assert(rows.nonEmpty)
  }
}
