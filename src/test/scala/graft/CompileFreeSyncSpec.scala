package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import graft.core.CompileFree
import graft.etl._

/** The daily sync and the period transition over a warehouse within the
  * serving snapshot's size rule plan in the compile-free session, the
  * caller's raw-JSON frame included; over it, in the caller's session with
  * generated code, landing the same rows.
  */
class CompileFreeSyncSpec extends SparkTestBase with AdaptiveSparkPlanHelper with Eventually {
  import spark.implicits._

  private def frame(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** Two sucursales, two areas, two KPIs, and periods P1 (January of
    * `year`, active) and P2 (February).
    */
  private def warehouse(year: Int): Warehouse = {
    val wh = Warehouse(spark, Files.createTempDirectory("graft_cf_sync_").toString)
    wh.rewrite("periodos_cas", frame(Seq(
      Row(1, "P1", "Enero", Date.valueOf(s"$year-01-01"), Date.valueOf(s"$year-01-31"), true),
      Row(2, "P2", "Febrero", Date.valueOf(s"$year-02-01"), Date.valueOf(s"$year-02-28"), false)),
      CasSchema.periodos))
    wh.rewrite("sucursales", frame(Seq(
      Row(1, "Suc Uno", "NL", "local", 25.6, -100.3, 10, 101L, true),
      Row(2, "Suc Dos", "CDMX", "foraneo", 19.4, -99.1, 11, 102L, true)), CasSchema.sucursales))
    wh.rewrite("catalogo_areas", frame(Seq(
      Row(1, "AREA_QUESO", "QUESO", 1), Row(2, "AREA_SERVICIO", "SERVICIO", 2)), CasSchema.catalogo))
    wh.rewrite("catalogo_kpis_seguridad", frame(Seq(
      Row(1, "KPI_EXTINTORES", "EXTINTORES", 1), Row(2, "KPI_SALIDAS", "SALIDAS", 2)), CasSchema.catalogo))
    wh
  }

  /** One single-line Zenput submission. */
  private def sub(id: String, loc: Option[Long], supervisor: String, date: String,
                  scores: (String, Double)*): String = {
    val location = loc.fold("null")(l => s"""{"id": $l, "name": "loc$l"}""")
    val answers = scores.map { case (title, v) =>
      s"""{"field_type": "formula", "title": "$title", "value": $v}""" }
    s"""{"id": "$id", "smetadata": {"date_submitted": "$date", "lat": 25.1, "lon": -100.1, """ +
      s""""location": $location, "created_by": {"display_name": "$supervisor"}}, """ +
      s""""answers": [${answers.mkString(", ")}]}"""
  }

  /** A day of `year` covering both sucursales: operativas with two areas
    * each, and seguridad whose location comes from the same-day operativas
    * (the J9 fallback). Ids carry `tag`.
    */
  private def day(tag: String, year: Int): (Seq[String], Seq[String]) = {
    val ops = Seq(
      sub(s"$tag-o1", Some(101L), "Ana", s"$year-01-15T10:00:00",
        "QUESO PORCENTAJE %" -> 88.0, "SERVICIO PORCENTAJE %" -> 77.0, "PORCENTAJE %" -> 90.5),
      sub(s"$tag-o2", Some(102L), "Beto", s"$year-01-16T09:30:00",
        "QUESO PORCENTAJE %" -> 61.0, "SERVICIO PORCENTAJE %" -> 72.0, "PORCENTAJE %" -> 66.0))
    val segs = Seq(
      sub(s"$tag-g1", None, "Ana", s"$year-01-15T17:00:00",
        "CALIFICACION PORCENTAJE %" -> 80.0, "EXTINTORES PORCENTAJE %" -> 70.0),
      sub(s"$tag-g2", Some(102L), "Beto", s"$year-01-16T12:00:00",
        "CALIFICACION PORCENTAJE %" -> 55.0, "SALIDAS PORCENTAJE %" -> 45.0))
    (ops, segs)
  }

  /** Both syncs, then the transition, as the daily run does them. */
  private def cycle(wh: Warehouse, ops: DataFrame, segs: DataFrame): (Seq[CasEtl.SyncResult], Option[String]) =
    (Seq(CasEtl.sync(wh, ops, "operativas"), CasEtl.sync(wh, segs, "seguridad")), CasEtl.periodTransition(wh))

  private val DataTables: Seq[Warehouse => DataFrame] = Seq(
    _.supervisiones("operativas"), _.supervisiones("seguridad"),
    _.detalle("operativas"), _.detalle("seguridad"), _.periodos)

  /** Every data table's rows, sorted, and its order-independent hash. */
  private def content(wh: Warehouse): Seq[(Seq[String], Row)] = DataTables.map { t =>
    val df = t(wh)
    (df.collect().map(_.toString).sorted.toSeq,
      df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head())
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def withThreshold[T](value: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("two syncs and a transition over ids and dates new to the JVM compile no code") {
    val (wOps, wSegs) = day("warm", 2031)
    cycle(warehouse(2031), wOps.toDF("json"), wSegs.toDF("json")) // loads every class the cycle uses
    val wh = warehouse(2032)
    val (ops, segs) = day("cold", 2032)
    val (opsDf, segsDf) = (ops.toDF("json"), segs.toDF("json"))
    val before = compiles
    val (synced, moved) = cycle(wh, opsDf, segsDf)
    assert(compiles - before === 0L, "the sync or the transition compiled")
    assert(synced.map(_.nuevos) === Seq(2L, 2L) && synced.forall(_.detalles > 0))
    assert(moved === Some("P2"))
    // a second day: the checkpoint is a literal new to the JVM
    val (more, _) = day("next", 2032)
    val again = compiles
    assert(CasEtl.sync(wh, more.toDF("json"), "operativas").nuevos === 2L)
    assert(compiles - again === 0L, "the second sync compiled")
  }

  test("over the broadcast threshold the sync plans generated code and lands the same rows") {
    val (ops, segs) = day("thr", 2033)
    val compileFree = warehouse(2033)
    cycle(compileFree, ops.toDF("json"), segs.toDF("json"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val generated = warehouse(2033)
    spark.listenerManager.register(listener)
    try {
      withThreshold("1")(cycle(generated, ops.toDF("json"), segs.toDF("json")))
      eventually(timeout(Span(30, Seconds))) {
        assert(plans.asScala.exists(p => collectWithSubqueries(p) { case w: WholeStageCodegenExec => w }.nonEmpty))
      }
    } finally spark.listenerManager.unregister(listener)
    val landed = content(compileFree)
    assert(landed.forall(_._1.nonEmpty))
    assert(content(generated) === landed)
  }

  test("a raw frame read from a JSON file syncs the same rows as toRawJson") {
    val (ops, segs) = day("file", 2034)
    val dir = Files.createTempDirectory("graft_cf_raw_")
    def fromFile(name: String, lines: Seq[String]): DataFrame = {
      Files.write(dir.resolve(s"$name.json"), lines.asJava)
      spark.read.text(dir.resolve(s"$name.json").toString).toDF("json")
    }
    val local = warehouse(2034)
    val files = warehouse(2034)
    val (localSynced, _) = cycle(local, PagedFetch.toRawJson(spark, ops), PagedFetch.toRawJson(spark, segs))
    val (fileSynced, _) = cycle(files, fromFile("ops", ops), fromFile("segs", segs))
    assert(fileSynced === localSynced)
    assert(content(files) === content(local))
  }

  test("a raw increment is sized by the bytes it holds; one over the cap keeps the caller's session") {
    val rows = Seq.fill(100)("x" * 1000)
    val local = CompileFree.inputBytes(PagedFetch.toRawJson(spark, rows))
    // each row's string bytes plus its fixed-width header, not 20 bytes a row
    assert(local >= 100000 && local <= 100000 + 100 * 16)
    val file = Files.createTempFile("graft_cf_raw_", ".json")
    Files.write(file, rows.asJava)
    assert(CompileFree.inputBytes(spark.read.text(file.toString)) === BigInt(Files.size(file)))
    val wh = warehouse(2036)
    assert(wh.compileFree(local).spark eq CompileFree.session(spark))
    assert(wh.compileFree(local, BigInt(CompileFree.LifecycleBytes) + 1) eq wh)
  }

  test("a time zone set at runtime on the caller's session parses fecha_supervision") {
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    val wh = warehouse(2035)
    spark.conf.set(key, "America/Mexico_City")
    try {
      CasEtl.sync(wh, Seq(sub("tz-o1", Some(101L), "Ana", "2035-01-15T10:00:00", "PORCENTAJE %" -> 90.0))
        .toDF("json"), "operativas")
    } finally spark.conf.set(key, saved)
    val at = wh.supervisiones("operativas").select("fecha_supervision").head().getAs[Timestamp](0)
    // 10:00 in Mexico City (UTC-6 in January) is 16:00 UTC
    assert(at.toInstant === Instant.parse("2035-01-15T16:00:00Z"))
  }
}
