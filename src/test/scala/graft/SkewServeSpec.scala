package graft

import org.apache.spark.sql.functions._

import graft.queries.{IvfModel, TextOps}

/** Batched ANN serving under a SKEWED query distribution — the zipfian
  * hot-cell shape real serving traffic degrades to (every query probing
  * the same few coarse cells), which the uniform batch measurements
  * cannot see. Pins, at the hot-cell extreme (one vector replicated as
  * the whole batch):
  *  - correctness is distribution-independent: every replicated query
  *    returns exactly the single query's broadcast-path neighbors;
  *  - the plan gets TIGHTER, not worse: the list scan prunes to only
  *    the nProbe hot cells, and the corpus side is still never
  *    broadcast;
  *  - the AQE skew-join lever the serving path delegates to is REAL for
  *    this join shape: under the spillable sort-merge strategy (the
  *    gate's past-the-SHJ-budget branch) with serving-scale thresholds,
  *    AQE detects the hot probe-side partitions and splits them
  *    (OptimizeSkewedJoin cannot split a shuffled-hash BUILD side — the
  *    skewed regime is exactly where the three-way gate's merge branch
  *    earns its place).
  * The corpus-scale wall ratio (skewed vs uniform) on sf10sub is recorded
  * in BENCH_R13_BATCHSERVE.json / BENCH_R14_BATCHSERVE.json — SCALE.md
  * rounds 13-14.
  */
class SkewServeSpec extends SparkTestBase {

  import graft.functions.{VectorOps => V}

  private val HotN = 2000L

  private def hotBatch = {
    val emb = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
    emb.orderBy(col("vec_id")).limit(1)
      .crossJoin(spark.range(HotN).select(col("id")))
      .select((col("id") + 1000000000L).as("query_id"), col("emb").as("q_emb"))
  }

  test("skewed batch: results distribution-independent, scan pruned to the hot cells, corpus not broadcast") {
    IvfModel.ensureLists(spark, sf())
    val out = TextOps.annTopKBatch(spark, sf(), hotBatch,
      broadcastQueries = Some(false))
    // reference: the same single query through the broadcast path
    val ref = TextOps.annTopKBatch(spark, sf(),
        hotBatch.limit(1), broadcastQueries = Some(true))
      .select(col("vec_id"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val perQuery = out.groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("rk"), col("vec_id")))).as("hits"))
      .select(col("hits")).distinct().collect()
    assert(perQuery.length === 1,
      "replicated queries disagree — the skewed batch is not distribution-independent")
    val got = perQuery.head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(1), r.getInt(0))).toSet
    assert(got === ref, "skewed-batch neighbors differ from the broadcast-path reference")
    assert(out.select(countDistinct(col("query_id"))).head.getLong(0) === HotN)

    // sparkPlan, not executedPlan: AdaptiveSparkPlanExec hides its
    // subtree from collect (stages are leaf nodes)
    val plan = out.queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(IvfModel.ListsTable)) => s
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "hot-cell batch did not partition-prune the list scan")
    // no broadcast exchange anywhere ABOVE the corpus list scan — the
    // corpus side must ride its partitioned layout, never the wire
    assert(plan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
        if b.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(IvfModel.ListsTable)) => s
        }.nonEmpty => b
    }.isEmpty, "corpus side was broadcast under the skewed batch")
  }

  test("AQE splits the hot probe-side partition under the spillable sort-merge branch") {
    IvfModel.ensureLists(spark, sf())
    val lists = IvfModel.lists(spark, sf()).select(col("cluster"), col("vec_id"), col("emb"))
    // the gate's merge branch: probe side sort-merged (spillable), which
    // is the ONLY branch AQE skew-join can split — an SHJ build side
    // must hold its whole partition in one hash map
    val probes = hotBatch
      .crossJoin(broadcast(IvfModel.centroids(spark, sf()).select(col("cid").as("cluster")).limit(2)))
      .select(col("query_id"), col("cluster"))
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // serving-scale thresholds shrunk to suite scale: the hot partition
      // (all HotN probe rows on 2 clusters) must read as "skewed"
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8192")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val joined = probes.hint("merge").join(lists, Seq("cluster"))
        .select(col("query_id"), col("vec_id"))
      joined.queryExecution.toRdd.count()
      // adaptive plans hide their subtrees from collect twice over: the
      // AdaptiveSparkPlanExec root holds the final plan as a field, and
      // every QueryStageExec (incl. the Spark 4 ResultQueryStage root) is
      // a LEAF wrapping its stage plan — flatten through both
      def flatten(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] =
        (p +: p.children.flatMap(flatten)) ++ (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            flatten(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            flatten(q.plan)
          case _ => Nil
        })
      val reads = flatten(joined.queryExecution.executedPlan).collect {
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
      }
      assert(reads.nonEmpty, "no AQE shuffle reads — adaptive execution did not engage")
      assert(reads.exists(_.hasSkewedPartition),
        "AQE did not mark/split any skewed partition — the skew delegation the " +
          "serving path documents would be a no-op at this shape")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
