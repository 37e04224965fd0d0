package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.Instant

import org.apache.hadoop.fs.Path

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.etl.{CasSchema, Warehouse}
import graft.queries.CasServing

/** Serving reads through a warehouse's commit-generation snapshot: what
  * the generation record makes visible and what it lets a repeat request
  * skip, and the serving session the snapshot plans in.
  */
class CasSnapshotSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def ts(iso: String) = Timestamp.from(Instant.parse(iso))

  private def frame(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private def sup(id: Long, sucursal: Int, periodo: Int, at: String, score: Double) =
    Row(id, s"z$id", sucursal, periodo, "Ana", ts(at), score, null, null)

  /** Dimensions rewritten, facts appended in the flat layout the daily
    * sync uses.
    */
  private def build(root: String = ""): Warehouse = {
    val wh = Warehouse(spark, root + Files.createTempDirectory("graft_snap_").toString)
    wh.rewrite("grupos_operativos", frame(Seq(Row(1, "Norte", true), Row(2, "Sur", true)), CasSchema.grupos))
    wh.rewrite("sucursales", frame(Seq(
      Row(1, "Suc A", "NL", "local", 25.0, -100.0, 1, 101L, true),
      Row(2, "Suc B", "TM", "foraneo", 24.0, -99.0, 2, 102L, true)), CasSchema.sucursales))
    wh.rewrite("periodos_cas", frame(Seq(
      Row(1, "P1", "Enero", Date.valueOf("2026-01-01"), Date.valueOf("2026-01-31"), true)),
      CasSchema.periodos))
    wh.rewrite("catalogo_areas", frame(Seq(Row(1, "A_SERV", "SERVICIO", 1)), CasSchema.catalogo))
    // 02:00 UTC: the day before in America/Mexico_City
    wh.append("supervisiones_operativas", frame(Seq(
      sup(1, 1, 1, "2026-01-10T02:00:00Z", 90.0),
      sup(2, 2, 1, "2026-01-11T10:00:00Z", 65.0)), CasSchema.supervisiones))
    wh.append("supervision_areas", frame(Seq(Row(1L, 1, 90.0), Row(2L, 1, 65.0)), CasSchema.detalle))
    wh
  }

  /** Every endpoint, filtered to `periodo`, `sucursal` and `supervision`. */
  private def endpoints(wh: Warehouse, periodo: Int = 1, sucursal: Int = 1,
                        supervision: Long = 2L): Seq[(String, DataFrame)] = {
    val (matrix, avgs, epl) = CasServing.historico(wh, "operativas")
    Seq(
      "kpis" -> CasServing.kpis(wh, "operativas"),
      "rankingGrupos" -> CasServing.rankingGrupos(wh, "operativas", Some(periodo)),
      "rankingSucursales" -> CasServing.rankingSucursales(wh, "operativas", Some(periodo)),
      "historico.matrix" -> matrix, "historico.avgs" -> avgs, "historico.epl" -> epl,
      "historicoHeatmap" -> CasServing.historicoHeatmap(wh, "operativas"),
      "alertas" -> CasServing.alertas(wh, "operativas", Some(periodo)),
      "mapa" -> CasServing.mapa(wh, "operativas"),
      "detalleSucursal" -> CasServing.detalleSucursal(wh, "operativas", sucursal),
      "trendSucursal" -> CasServing.trendSucursal(wh, "operativas", sucursal),
      "estados" -> CasServing.estados(wh),
      "periodoContexto" -> CasServing.periodoContexto(wh, "operativas", Date.valueOf("2026-01-15")),
      "periodosList" -> CasServing.periodosList(wh),
      "supervisionAreas" -> CasServing.supervisionAreas(wh, "operativas", supervision),
      "tableDump" -> CasServing.tableDump(wh, "supervisiones_operativas"))
  }

  private def total(wh: Warehouse): Long =
    CasServing.kpis(wh, "operativas").head().getAs[Long]("total_supervisiones")

  private def generation(wh: Warehouse): Option[String] = {
    val f = new java.io.File(wh.dir, "__generation")
    if (f.exists()) Some(new String(Files.readAllBytes(f.toPath), "UTF-8")) else None
  }

  /** Every node of `df`'s final executed plan, AQE stages included. */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) { case n => n }
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a commit through a second Warehouse on the same dir is visible to the next request") {
    val wh = build()
    assert(total(wh) === 2)
    assert(total(wh) === 2) // served from the snapshot
    Warehouse(spark, wh.dir).append("supervisiones_operativas",
      frame(Seq(sup(3, 1, 1, "2026-01-12T10:00:00Z", 70.0)), CasSchema.supervisiones))
    assert(total(wh) === 3)
  }

  test("a repeat request with no commit in between opens only the generation record") {
    spark.sparkContext.hadoopConfiguration.set("fs.flaky.impl", classOf[FlakyFs].getName)
    val wh = build("flaky://")
    val first = endpoints(wh).map(_._2.collect().toSeq)
    FlakyFs.reset()
    try {
      val again = endpoints(wh)
      assert(again.map(_._2.collect().toSeq) === first)
      // nothing but the record is touched (the local FS's open probes the
      // file's status itself), and it is opened once per endpoint call:
      // 14 calls, historico's three frames from one
      val touched = FlakyFs.touchedUnder(wh.dir)
      assert(touched.toSet === Set("open __generation", "status __generation"))
      assert(touched.count(_.startsWith("open")) === 14)
    } finally FlakyFs.reset()
  }

  test("with no generation record, a request resolves every table afresh") {
    // a crash after a commit: the data moved, the record is gone
    val wh = build()
    assert(total(wh) === 2)
    new java.io.File(wh.dir, "__generation").delete()
    frame(Seq(sup(3, 1, 1, "2026-01-12T10:00:00Z", 70.0)), CasSchema.supervisiones)
      .write.mode("append").parquet(s"${wh.dir}/supervisiones_operativas")
    assert(total(wh) === 3)
    frame(Seq(sup(4, 2, 1, "2026-01-13T10:00:00Z", 75.0)), CasSchema.supervisiones)
      .write.mode("append").parquet(s"${wh.dir}/supervisiones_operativas")
    assert(total(wh) === 4)
    // served the one way a recorded generation is: held, compiling nothing
    val kpis = CasServing.kpis(wh, "operativas")
    assert(!nodes(kpis).exists(n => n.isInstanceOf[WholeStageCodegenExec] || n.isInstanceOf[FileSourceScanExec]))
  }

  test("the record is absent inside a writer scope and moves when the scope throws") {
    val wh = build()
    val before = generation(wh)
    assert(before.nonEmpty)
    intercept[IllegalStateException] {
      wh.withWriterScope("failing") {
        assert(generation(wh).isEmpty)
        throw new IllegalStateException("writer died")
      }
    }
    val after = generation(wh)
    assert(after.nonEmpty && after != before)
    assert(!new java.io.File(wh.dir, "__generation.tmp").exists())
  }

  test("every endpoint's final executed plan has no whole-stage codegen") {
    val wh = build()
    endpoints(wh).foreach { case (name, df) =>
      assert(!nodes(df).exists(_.isInstanceOf[WholeStageCodegenExec]), s"$name compiles code")
    }
  }

  test("a pass over every endpoint with literals new to the JVM compiles no code") {
    // wholeStage=false alone still compiles each new predicate, projection
    // and ordering; only the serving session's factoryMode keeps this at 0
    val wh = build()
    endpoints(wh).foreach(_._2.collect()) // loads the snapshot
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    endpoints(wh, periodo = 80231, sucursal = 80232, supervision = 80233L).foreach(_._2.collect())
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === before)
  }

  test("the serving session takes the caller's session time zone, set at runtime") {
    val wh = build()
    def fechaCorta = CasServing.trendSucursal(wh, "operativas", 1).head().getAs[String]("fecha_corta")
    def inCaller = wh.supervisiones("operativas").filter(col("id") === 1)
      .select(date_format(col("fecha_supervision"), "dd/MM")).head().getString(0)
    assert(fechaCorta === "10/01")
    withConf("spark.sql.session.timeZone", "America/Mexico_City") {
      assert(inCaller === "09/01")
      assert(fechaCorta === inCaller)
    }
  }

  test("a table over the broadcast threshold sends every read to files, with generated code") {
    val wh = build()
    val held = endpoints(wh)
    assert(!held.flatMap(e => nodes(e._2)).exists(_.isInstanceOf[FileSourceScanExec]))
    withConf("spark.sql.autoBroadcastJoinThreshold", "1") {
      val files = endpoints(wh)
      // read in the caller's session, as Warehouse.read is: whole-stage codegen on
      val plan = nodes(files.head._2)
      assert(plan.exists(_.isInstanceOf[FileSourceScanExec]))
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]))
      files.zip(held).foreach { case ((name, f), (_, h)) =>
        assert(f.collect().toSeq === h.collect().toSeq, name)
      }
    }
  }

  test("vacuum and vacuumAll sweep a stray generation tmp; the record is never a table") {
    val wh = build()
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(wh.dir, "__generation.tmp")
    def stray() = fs.create(tmp).close()
    stray()
    wh.vacuum("sucursales")
    assert(!fs.exists(tmp))
    (1 to 3).foreach(i => wh.rewrite("periodos_cas", wh.periodos))
    stray()
    wh.vacuumAll(retainLast = 1)
    assert(!fs.exists(tmp))
    assert(generation(wh).nonEmpty)
    assert(fs.globStatus(new Path(wh.dir, "periodos_cas.__v*")).length === 2)
    assert(total(wh) === 2)
  }
}
