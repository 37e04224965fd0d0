package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.etl._

/** End-to-end ETL over hand-built Zenput-shaped fixtures (SURVEY.md §5.4):
  * parse → dedup → location fallback → period assign → load, plus
  * idempotence, backfill, and the period-transition state machine.
  */
class CasEtlSpec extends SparkTestBase {
  import spark.implicits._

  private def freshWarehouse(scheme: String = ""): Warehouse = {
    val wh = Warehouse(spark, scheme + Files.createTempDirectory("graft_wh_").toString)
    val periodos = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1, "P1", "Enero", java.sql.Date.valueOf("2026-01-01"), java.sql.Date.valueOf("2026-01-31"), true),
        Row(2, "P2", "Febrero", java.sql.Date.valueOf("2026-02-01"), java.sql.Date.valueOf("2026-02-28"), false))),
      CasSchema.periodos)
    val sucursales = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1, "Suc Uno", "NL", "local", 25.6, -100.3, 10, 101L, true),
        Row(2, "Suc Dos", "CDMX", "foraneo", 19.4, -99.1, 11, 102L, true))),
      CasSchema.sucursales)
    val areas = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1, "AREA_QUESO", "QUESO", 1),
        Row(2, "AREA_SERVICIO", "SERVICIO", 2))),
      CasSchema.catalogo)
    val kpis = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1, "KPI_EXTINTORES", "EXTINTORES", 1),
        Row(2, "KPI_SALIDAS", "SALIDAS", 2))),
      CasSchema.catalogo)
    wh.rewrite("periodos_cas", periodos)
    wh.rewrite("sucursales", sucursales)
    wh.rewrite("catalogo_areas", areas)
    wh.rewrite("catalogo_kpis_seguridad", kpis)
    wh
  }

  private def ans(fieldType: String, title: String, value: java.lang.Double): String = {
    val v = if (value == null) "null" else value.toString
    s"""{"field_type": "$fieldType", "title": "$title", "value": $v}"""
  }

  private def sub(id: String, locId: Option[Long], supervisor: String,
                  date: String, answers: Seq[String]): String = {
    val loc = locId.map(l => s"""{"id": $l, "name": "loc$l"}""").getOrElse("null")
    s"""{"id": "$id",
       | "smetadata": {"date_submitted": "$date", "lat": 25.1, "lon": -100.1,
       |   "location": $loc, "created_by": {"display_name": "$supervisor"}},
       | "answers": [${answers.mkString(", ")}]}""".stripMargin
  }

  private val opsRaw: Seq[String] = Seq(
    sub("s1", Some(101L), "Ana", "2026-01-15T10:00:00", Seq(
      ans("formula", "QUESO PORCENTAJE %", 88.0),
      ans("formula", "CALIFICACION SERVICIO PORCENTAJE", 77.0),
      ans("formula", "QUESO PORCENTAJE", 66.0),          // dup area: first wins
      ans("text", "SERVICIO PORCENTAJE", 11.0),          // wrong field_type
      ans("formula", "PORCENTAJE %", 95.5))),            // general score (last answer)
    sub("s2", None, "Beto", "2026-01-16T09:00:00", Seq(  // no location -> dropped
      ans("formula", "PORCENTAJE %", 50.0))),
    sub("s3", Some(102L), "Caro", "2026-02-05T12:00:00", Seq(
      ans("formula", "PORCENTAJE %", 70.0))))

  private val segRaw: Seq[String] = Seq(
    sub("g1", None, "Ana", "2026-01-15T17:00:00", Seq(   // location via J9 fallback
      ans("formula", "CALIFICACION PORCENTAJE %", 80.0),
      ans("formula", "EXTINTORES PORCENTAJE %", 70.0),
      ans("formula", "EXTINTORES PORCENTAJE REVISION", 75.0))), // dup KPI: LAST wins
    sub("g2", None, "Zoe", "2026-01-20T10:00:00", Seq(   // no fallback -> dropped
      ans("formula", "CALIFICACION PORCENTAJE %", 60.0))))

  test("operativas sync: parse, dedup, period assign, sucursal lookup, detail") {
    val wh = freshWarehouse()
    val res = CasEtl.sync(wh, opsRaw.toDF("json"), "operativas")
    assert(res.fetched === 3)
    assert(res.nuevos === 2) // s2 dropped (no location)

    val master = wh.supervisiones("operativas")
      .orderBy("zenput_submission_id").collect()
    val s1 = master(0)
    assert(s1.getAs[String]("zenput_submission_id") === "s1")
    assert(s1.getAs[Int]("sucursal_id") === 1)
    assert(s1.getAs[Int]("periodo_id") === 1)     // J7: 2026-01-15 in P1
    assert(s1.getAs[Double]("calificacion_general") === 95.5) // T6
    assert(master(1).getAs[Int]("periodo_id") === 2) // s3 -> P2

    // T4/W6 for s1: QUESO first-wins 88 (66 blocked); SERVICIO fuzzy-matched
    // 77; its bare "PORCENTAJE %" general answer fuzzy-matches the first
    // catalog key through the empty-clean-title quirk (etl_sync.py:133-134:
    // '' in key is always true) but arrives last, so first-wins blocks it.
    // For s3 the same quirk DOES land its lone general answer on the first
    // catalog area (70.0) — faithful to the reference's behavior.
    val areas = wh.detalle("operativas")
      .join(wh.catalogo("operativas").select(col("id").as("area_id"), col("codigo")), "area_id")
      .select("codigo", "porcentaje").orderBy("codigo", "porcentaje").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(areas.toSeq === Seq(
      ("AREA_QUESO", 70.0), ("AREA_QUESO", 88.0), ("AREA_SERVICIO", 77.0)))
  }

  test("sync is idempotent: re-running adds nothing (J8 + checkpoint)") {
    val wh = freshWarehouse()
    CasEtl.sync(wh, opsRaw.toDF("json"), "operativas")
    val before = wh.supervisiones("operativas").count()
    val res2 = CasEtl.sync(wh, opsRaw.toDF("json"), "operativas")
    assert(res2.nuevos === 0)
    assert(wh.supervisiones("operativas").count() === before)
    assert(wh.detalle("operativas").count() === 3)
  }

  test("a sync that fails between its appends heals on the re-run (blocked detail or master)") {
    val clean = freshWarehouse()
    CasEtl.sync(clean, opsRaw.toDF("json"), "operativas")
    def counts(wh: Warehouse) =
      (wh.supervisiones("operativas").count(), wh.detalle("operativas").count())
    val want = counts(clean)
    for (table <- Seq("supervision_areas", "supervisiones_operativas")) {
      val wh = freshWarehouse()
      // a plain file where the table's append dir belongs: its append throws
      val blocker = new java.io.File(wh.dir, table)
      assert(blocker.createNewFile())
      intercept[Exception](CasEtl.sync(wh, opsRaw.toDF("json"), "operativas"))
      assert(blocker.delete())
      CasEtl.sync(wh, opsRaw.toDF("json"), "operativas")
      assert(counts(wh) === want, s"after a failed append to $table")
    }
  }

  test("one sync takes the writer lease once: its four writes re-enter it") {
    spark.sparkContext.hadoopConfiguration.set("fs.flaky.impl", classOf[FlakyFs].getName)
    val wh = freshWarehouse("flaky://")
    FlakyFs.reset()
    try {
      // detail append, master append, checkpoint rewrite, sync_log append
      assert(CasEtl.sync(wh, opsRaw.toDF("json"), "operativas").nuevos === 2)
      assert(FlakyFs.createsOf("__writer.lease") === 1)
      assert(wh.syncLog.count() === 1)
    } finally FlakyFs.reset()
  }

  test("a zero-row sync writes nothing to the data tables; sync leaves no persisted RDD") {
    val wh = freshWarehouse()
    val raws = Seq("operativas" -> opsRaw, "seguridad" -> segRaw)
    def dataFiles: Set[String] =
      Seq("supervisiones_operativas", "supervisiones_seguridad", "supervision_areas", "seguridad_kpis")
        .map(t => new java.io.File(wh.dir, t).toPath).filter(Files.exists(_))
        .flatMap { d =>
          val walk = Files.walk(d)
          try walk.toArray.map(_.toString).toSeq finally walk.close()
        }.toSet
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pinned = persisted
    // partial syncs leave the checkpoint alone, so the first two replays
    // fetch everything and reach the J8 anti-join; the checkpoint the
    // second one writes filters everything out of the third
    for ((tipo, raw) <- raws) CasEtl.sync(wh, raw.toDF("json"), tipo, complete = false)
    val loaded = dataFiles
    for ((complete, fetchesAll) <- Seq((false, true), (true, true), (true, false));
         (tipo, raw) <- raws) {
      val r = CasEtl.sync(wh, raw.toDF("json"), tipo, complete)
      assert(r.fetched === (if (fetchesAll) raw.size else 0) && r.nuevos === 0 && r.detalles === 0, r)
    }
    assert(dataFiles === loaded)
    assert(!Files.exists(new java.io.File(wh.dir, "_staging").toPath))
    assert((persisted -- pinned).isEmpty, "sync left a persisted RDD behind")
    assert(wh.syncLog.count() === 8)
  }

  test("J8 anti-join dedups independently of the checkpoint") {
    val wh = freshWarehouse()
    // pre-seed the master with s1 but no checkpoint
    val seed = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(99L, "s1", 1, 1, "Ana",
        java.sql.Timestamp.valueOf("2026-01-15 10:00:00"), 95.5, null, null))),
      CasSchema.supervisiones)
    wh.append("supervisiones_operativas", seed)
    val res = CasEtl.sync(wh, opsRaw.toDF("json"), "operativas")
    assert(res.nuevos === 1) // only s3; s1 deduped, s2 no location
  }

  test("seguridad sync: J9 location fallback + KPI last-wins") {
    val wh = freshWarehouse()
    CasEtl.sync(wh, opsRaw.toDF("json"), "operativas")
    val res = CasEtl.sync(wh, segRaw.toDF("json"), "seguridad")
    assert(res.nuevos === 1) // g1 via fallback; g2 unresolvable

    val g1 = wh.supervisiones("seguridad").collect().head
    assert(g1.getAs[String]("zenput_submission_id") === "g1")
    assert(g1.getAs[Int]("sucursal_id") === 1) // inferred from Ana's s1
    assert(g1.getAs[Double]("calificacion_general") === 80.0)
    assert(g1.isNullAt(g1.fieldIndex("lat_entrega"))) // seguridad: no geo

    val kpis = wh.detalle("seguridad")
      .join(wh.catalogo("seguridad").select(col("id").as("area_id"), col("codigo")), "area_id")
      .select("codigo", "porcentaje").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(kpis.toSeq === Seq(("KPI_EXTINTORES", 75.0))) // T5: last answer wins
  }

  test("J10 backfill rewrites only null/zero scores") {
    val wh = freshWarehouse()
    val seed = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "g1", 1, 1, "Ana", java.sql.Timestamp.valueOf("2026-01-15 17:00:00"), 0.0, null, null),
        Row(2L, "g9", 2, 1, "Caro", java.sql.Timestamp.valueOf("2026-01-16 17:00:00"), 90.0, null, null))),
      CasSchema.supervisiones)
    wh.append("supervisiones_seguridad", seed)
    val source = Seq(("g1", 85.0), ("g9", 55.0)).toDF("zenput_submission_id", "calificacion")
    val fixed = CasEtl.backfillScores(wh, "seguridad", source)
    assert(fixed === 1)
    val scores = wh.supervisiones("seguridad").orderBy("zenput_submission_id")
      .collect().map(_.getAs[Double]("calificacion_general"))
    assert(scores.toSeq === Seq(85.0, 90.0)) // g9 untouched (already nonzero)

    // duplicate source keys (overlapping REST pages): the target must not
    // fan out through the join, the count must not double, highest wins
    val wh2 = freshWarehouse()
    wh2.append("supervisiones_seguridad", seed)
    val dupSource = Seq(("g1", 70.0), ("g1", 80.0))
      .toDF("zenput_submission_id", "calificacion")
    assert(CasEtl.backfillScores(wh2, "seguridad", dupSource) === 1)
    val rows = wh2.supervisiones("seguridad").collect()
    assert(rows.length === 2) // no row fan-out through the rewrite
    assert(rows.map(_.getAs[Double]("calificacion_general")).sorted.toSeq === Seq(80.0, 90.0))
  }

  test("T8 period transition fires only at full coverage") {
    val wh = freshWarehouse()
    CasEtl.sync(wh, opsRaw.toDF("json"), "operativas")
    // only sucursal 1 supervised in P1 (s3 landed in P2) -> 1/2, no fire
    assert(CasEtl.periodTransition(wh) === None)

    val extra = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(42L, "sx", 2, 1, "Dan",
        java.sql.Timestamp.valueOf("2026-01-20 10:00:00"), 88.0, null, null))),
      CasSchema.supervisiones)
    wh.append("supervisiones_operativas", extra)
    assert(CasEtl.periodTransition(wh) === Some("P2"))
    val activos = wh.periodos.filter(col("activo") === true)
      .select("codigo").collect().map(_.getString(0))
    assert(activos.toSeq === Seq("P2"))
    // completed-but-no-successor: running again does nothing
    assert(CasEtl.periodTransition(wh) === None)
  }

  test("T8 breaks a fecha_inicio tie for the next period by id") {
    val wh = freshWarehouse()
    // P3 ties P2's fecha_inicio and comes first in scan order
    val p3 = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(3, "P3", "Febrero bis", java.sql.Date.valueOf("2026-02-01"),
        java.sql.Date.valueOf("2026-02-28"), false)), 1), CasSchema.periodos)
    wh.rewrite("periodos_cas", p3.unionByName(wh.periodos).coalesce(1))
    val covered = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(41L, "sa", 1, 1, "Ana", java.sql.Timestamp.valueOf("2026-01-15 10:00:00"), 90.0, null, null),
      Row(42L, "sb", 2, 1, "Dan", java.sql.Timestamp.valueOf("2026-01-20 10:00:00"), 88.0, null, null))),
      CasSchema.supervisiones)
    wh.append("supervisiones_operativas", covered)
    assert(CasEtl.periodTransition(wh) === Some("P2"))
  }

  test("status report unions the four table counts") {
    val wh = freshWarehouse()
    CasEtl.sync(wh, opsRaw.toDF("json"), "operativas")
    val rows = CasEtl.statusReport(wh).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows("Supervisiones Operativas") === 2)
    assert(rows("Áreas por Supervisión") === 3)
    assert(rows("Supervisiones Seguridad") === 0)
  }
}
