package graft

import org.apache.spark.sql.SparkSession

import graft.etl.Warehouse

/** Library front door.
  *
  * {{{
  * val spark = Graft.session("my-app")
  * val wh    = Graft.warehouse(spark, "/data/cas")
  *
  * // ETL (reference etl_sync.py, set-at-a-time):
  * graft.etl.CasEtl.syncPaged(wh, fetchPage, "operativas")  // REST page driver
  * graft.etl.CasEtl.sync(wh, rawJsonDf, "operativas")       // pre-fetched frame
  * graft.etl.CasEtl.periodTransition(wh)
  *
  * // Serving (reference app.py endpoints):
  * graft.queries.CasServing.rankingGrupos(wh, "operativas", periodoId = Some(3))
  * graft.queries.CasServing.historicoHeatmap(wh, "seguridad")
  * graft.queries.CasServing.tableDump(wh, "sucursales")
  *
  * // Training-data ops over any corpus:
  * graft.queries.TextOps.t06MinhashPairs(spark, dataDir)
  * graft.queries.TextOps.t15CosineNearDup(spark, dataDir, bits = 10, radius = 3)
  * graft.queries.TextOps.t34EmbedDedupClusters(spark, dataDir)  // transitive semantic dedup
  * graft.queries.QualityOps.qualityFlagsOf(docsDf)      // keep/drop signals
  * graft.queries.QualityOps.contaminationOf(docsDf)     // eval-set overlap
  * graft.pipelines.Curation.curateHandle(docsDf, useClusters = true)  // close() once both outputs are read
  * // multi-signal dedup: embedding pairs join the text pipeline's drop decision
  * val semantic = graft.pipelines.Curation.embeddingDocPairs(
  *   graft.queries.TextOps.t15CosineNearDup(spark, dataDir), vecToDocDf)
  * graft.pipelines.Curation.curateHandle(docsDf, extraPairs = Some(semantic))
  * graft.streaming.Sessionize.sessionsBatch(eventsDf)
  * }}}
  */
object Graft {

  /** Session with the engine's recommended local defaults: shuffle
    * parallelism sized to cores (not 200), UTC (oracle/date parity), AQE
    * on for runtime re-planning (skew splits, dynamic coalescing).
    */
  def session(appName: String = "graft",
              master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // reliable checkpoints (dedup clustering with a checkpoint dir set)
      // are only reclaimed when the cleaner tracks them; without this a
      // long-lived driver looping curateHandle(useClusters=true) leaks ~2
      // table-sized checkpoint copies per propagation iteration per batch
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()

  def warehouse(spark: SparkSession, dir: String): Warehouse = Warehouse(spark, dir)

  /** Registry of every self-contained query (testdata-contract shape). */
  def queries = SparkEntry.queries
}
