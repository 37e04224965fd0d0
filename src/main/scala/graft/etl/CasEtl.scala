package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

import graft.queries.Frames

/** The incremental sync pipeline (reference etl_sync.py run_sync /
  * sync_operativas / sync_seguridad, rows 205-440), set-at-a-time:
  *
  *   raw JSON → parse (F11) → incremental filter vs checkpoint (S3)
  *     → anti-join existing master (J8 dedup)
  *     → [seguridad] location fallback join (J9) → drop no-location rows
  *     → ONE eager lineage cut of this located increment; when it is
  *       empty (a replay, a day with nothing new) skip straight to S6
  *   answers explode (T7) → catalog join (T4/T5) → anti-join existing
  *     detail (S5, the ON CONFLICT DO NOTHING analog) → append detail
  *   score extraction (T6) → period interval join (J7)
  *     → sucursal lookup join (J6) → append master (S4)
  *   checkpoint + audit rewrite (S6) → status report (A13/O5)
  *     → period transition check (T8)
  *
  * The cut is the one pass over the parse lineage; below it no lineage
  * re-reads a table it appends to, except the detail anti-join, which
  * reads its target inside its own write job. Row counts ride the cut
  * and the appends as Observations. Detail lands BEFORE master, so a
  * crash between the two appends heals on the re-run: the unlanded
  * masters are derived again, and the detail anti-join drops the rows
  * that already landed.
  *
  * Surrogate ids are xxhash64 of the natural key instead of the
  * reference's serial RETURNING id (etl_sync.py:236-245) — deterministic
  * under re-runs and needs no driver-side coordination at any scale.
  */
object CasEtl {

  case class SyncResult(tipo: String, fetched: Long, nuevos: Long, detalles: Long)

  private def surrogateId(natural: org.apache.spark.sql.Column) = xxhash64(natural)

  /** In-batch dedup — keep the earliest submission per id (the reference's
    * row-at-a-time loop dedups within a batch implicitly: the second
    * occurrence's SELECT sees the first's INSERT). Tiebreaker: duplicate
    * ids from overlapping pages usually carry identical content, but an
    * edited resubmission landing in the same fetch with a TIED timestamp
    * must still pick the same winner across runs and partitionings —
    * break ties by full-row content hash.
    */
  private def dedupEarliest(parsed: DataFrame): DataFrame = {
    val contentTiebreak = xxhash64(struct(parsed.columns.map(col): _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("zenput_submission_id")
      .orderBy(col("date_submitted").asc_nulls_last, contentTiebreak.asc)
    parsed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Location resolution for fresh parsed rows: the seguridad-only J9
    * fallback (same-day operativas by the same supervisor,
    * etl_sync.py:280-293), then the reference's no-resolvable-location
    * drop (etl_sync.py:211-213, 293-295).
    */
  private def locateFresh(wh: Warehouse, fresh: DataFrame, tipo: String): DataFrame = {
    val located = if (tipo == "seguridad")
      PeriodAssign.inferLocation(fresh, wh.supervisiones("operativas"), wh.sucursales)
    else fresh
    located.filter(col("zenput_location_id").isNotNull)
  }

  /** The master-row construction: T6 score extraction → J7 period
    * interval join → J6 sucursal lookup → master schema.
    */
  private def masterFrom(wh: Warehouse, withLoc: DataFrame, tipo: String): DataFrame = {
    val scored = withLoc.withColumn("calificacion_general",
      SubmissionParse.generalScore(col("answers")))
    val assigned = PeriodAssign.assignPeriod(scored, wh.periodos)
    val suc = broadcast(wh.sucursales
      .select(col("id").as("lookup_sucursal_id"), col("zenput_location_id")))
    assigned
      .join(suc, Seq("zenput_location_id"), "left")
      .select(
        surrogateId(col("zenput_submission_id")).as("id"),
        col("zenput_submission_id"),
        col("lookup_sucursal_id").cast("int").as("sucursal_id"),
        col("periodo_id").cast("int"),
        col("supervisor"),
        try_to_timestamp(col("date_submitted")).as("fecha_supervision"),
        col("calificacion_general"),
        (if (tipo == "operativas") col("lat") else lit(null).cast("double")).as("lat_entrega"),
        (if (tipo == "operativas") col("lon") else lit(null).cast("double")).as("lon_entrega"))
  }

  /** `df` with its row count observed by whatever action runs it. */
  private def rowCount(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("n"))

  /** An observed row count. AQE's empty-relation propagation drops the
    * metrics node of an input it proved empty, so no metric reads as 0.
    * Never fall back to a count: after an append it would re-run the
    * anti-join against the sync's own output.
    */
  private def observed(obs: Observation): Long =
    obs.get.get("n").fold(0L)(_.asInstanceOf[Long])

  /** Append `df` to `name`; the rows written, counted by the write itself. */
  private def appendCounted(wh: Warehouse, name: String, df: DataFrame): Long = {
    val obs = Observation()
    wh.append(name, rowCount(df, obs))
    observed(obs)
  }

  /** One incremental sync for one supervision type. `rawJson` plays the
    * Zenput REST page stream (S2 — pagination is driver-side either way).
    *
    * `complete = false` (a partial page stream, see [[PagedFetch]]) changes
    * only the checkpoint rule: the reference stamps NOW() even after a
    * partial fetch (etl_sync.py:384), which silently skips the unfetched
    * tail on the next run (their date_submitted predates the new
    * checkpoint). Here a partial run does NOT advance the checkpoint at
    * all: what landed is loaded (and the J8 anti-join makes the refetch
    * overlap idempotent), and the next run re-fetches from the last
    * COMPLETE sync — correct under any page-stream ordering and under
    * timestamp ties at the failure boundary, neither of which a
    * max-landed-date checkpoint could guarantee. Deliberate divergence,
    * same spirit as the surrogate ids.
    *
    * The whole sync holds ONE writer lease: its up to four writes
    * (detail, master, checkpoint, `sync_log`) re-enter it instead of each
    * taking and dropping their own, and a failure releases it.
    */
  def sync(wh: Warehouse, rawJson: DataFrame, tipo: String,
           complete: Boolean = true): SyncResult = wh.withWriterScope(s"sync:$tipo") {
    require(tipo == "operativas" || tipo == "seguridad")
    val parsed0 = SubmissionParse.parse(rawJson)

    // S3 — incremental extract: only submissions after the checkpoint
    // (a control table of one row per tipo: its max is taken on the driver)
    val ckpt = wh.checkpoints
      .filter(col("formulario") === s"supervisiones_$tipo")
      .select(col("ultima_fecha")).collect()
      .flatMap(r => Option(r.getTimestamp(0))).maxByOption(_.getTime)
    val parsedInc = ckpt match {
      case Some(ts) => parsed0.filter(try_to_timestamp(col("date_submitted")) > lit(ts))
      case None     => parsed0
    }
    val existing = wh.supervisiones(tipo)

    // J8 — dedup against target (etl_sync.py:215-217): only new
    // submissions, after the in-batch earliest-wins dedup. Every count
    // below rides an action that runs anyway (the cut, an append) as an
    // Observation: a dedicated count() would be one more pass over the
    // raw increment.
    val fetchedObs = Observation()
    val fresh = dedupEarliest(rowCount(parsedInc, fetchedObs))
      .join(existing.select(col("zenput_submission_id")),
        Seq("zenput_submission_id"), "left_anti")

    // J9 + no-location drop (locateFresh), then ONE eager lineage cut: it
    // is the only pass over the parse lineage and the J8 anti-join, and
    // nothing below it re-reads the master it appends to
    val locatedObs = Observation()
    val located = Frames.cut(rowCount(locateFresh(wh, fresh, tipo), locatedObs))
    val (nuevos, nDetail) = try {
      // a replay, or a day with nothing new: write nothing to the data tables
      if (observed(locatedObs) == 0) (0L, 0L)
      else {
        // T4/T5 + T7 + S5 — detail rows for the NEW masters only, appended
        // BEFORE the master: a crash between the two appends leaves the
        // masters unlanded, so the re-run derives them (and their detail)
        // again, and this anti-join drops the detail rows that landed
        val catalog = wh.catalogo(tipo)
        val extracted =
          if (tipo == "operativas") SubmissionParse.extractAreas(located, catalog)
          else SubmissionParse.extractKpis(located, catalog)
        val detail = extracted
          .join(broadcast(catalog.select(col("id").as("area_id"), col("codigo"))), Seq("codigo"))
          .select(
            surrogateId(col("zenput_submission_id")).as("supervision_id"),
            col("area_id"), col("porcentaje"))
        // ON CONFLICT DO NOTHING analog: anti-join the (supervision, area)
        // key — it reads its target inside its own write job
        val nDetail = appendCounted(wh,
          if (tipo == "operativas") "supervision_areas" else "seguridad_kpis",
          detail.join(wh.detalle(tipo), Seq("supervision_id", "area_id"), "left_anti"))
        // T6 + J7 + J6 (masterFrom)
        (appendCounted(wh, s"supervisiones_$tipo", masterFrom(wh, located, tipo)), nDetail)
      }
    } finally Frames.release(located)
    val fetched = observed(fetchedObs)

    // S6 — checkpoint + audit (rewrite: these are tiny control tables)
    val spark = wh.spark
    import spark.implicits._
    val now = current_timestamp()
    if (complete) {
      wh.rewrite("sync_checkpoints",
        wh.checkpoints.filter(col("formulario") =!= s"supervisiones_$tipo")
          .unionByName(Seq(s"supervisiones_$tipo").toDF("formulario")
            .withColumn("ultima_fecha", now)))
    }
    val estado = if (complete) "success" else "partial"
    wh.append("sync_log",
      Seq((s"etl_$tipo", nuevos, estado)).toDF("workflow", "registros_nuevos", "estado")
        .select(xxhash64(col("workflow"), now).as("id"), col("workflow"),
          now.as("inicio"), now.as("fin"), col("registros_nuevos"), col("estado")))

    SyncResult(tipo, fetched, nuevos, nDetail)
  }

  /** S2 end-to-end: drive the paginated fetcher, then run the incremental
    * sync over whatever arrived. A partial fetch (transport failure mid-
    * stream) still syncs what landed — the reference's partial-extract
    * contract (etl_sync.py:115-118) — and the checkpoint rule in [[sync]]
    * makes the next run re-fetch the unlanded tail.
    */
  def syncPaged(wh: Warehouse, fetchPage: Int => scala.util.Try[Seq[String]],
                tipo: String, pageSize: Int = PagedFetch.PageSize,
                maxRetries: Int = 0): SyncResult = {
    val fetched = PagedFetch.fetchAll(fetchPage, pageSize, maxRetries)
    sync(wh, PagedFetch.toRawJson(wh.spark, fetched.rows), tipo,
      complete = fetched.complete)
  }

  /** A13/O5 — the status report union (etl_sync.py:410-415). */
  def statusReport(wh: Warehouse): DataFrame = {
    def cnt(label: String, df: DataFrame) =
      df.agg(count(lit(1)).as("total")).select(lit(label).as("tabla"), col("total"))
    cnt("Supervisiones Operativas", wh.supervisiones("operativas"))
      .unionAll(cnt("Áreas por Supervisión", wh.detalle("operativas")))
      .unionAll(cnt("Supervisiones Seguridad", wh.supervisiones("seguridad")))
      .unionAll(cnt("KPIs Seguridad", wh.detalle("seguridad")))
  }

  /** J10 — backfill: rewrite null/zero calificacion_general from a source
    * map of (zenput_submission_id → calificacion)
    * (etl_sync.py fix_seguridad_calificaciones, 446-498).
    */
  def backfillScores(wh: Warehouse, tipo: String, source: DataFrame): Long = {
    val target = wh.supervisiones(tipo)
    // one fix row per submission id BEFORE the join: duplicate source
    // keys (overlapping REST pages) would otherwise fan out the target
    // rows through the left join — corrupting the rewrite's row count —
    // and double-count n_fixed. Highest score wins deterministically.
    val fixes = broadcast(source
      .filter(col("calificacion").isNotNull && col("calificacion") > 0)
      .groupBy(col("zenput_submission_id"))
      .agg(max(col("calificacion")).as("calificacion")))
    val fixable = (col("calificacion_general").isNull || col("calificacion_general") === 0) &&
      col("calificacion").isNotNull
    // the fixed-row count rides the rewrite's own write action (same
    // Observation pattern as sync's fetched count) — the previous
    // dedicated semi-join count() was a second full pass over the target
    val obs = org.apache.spark.sql.Observation()
    val updated = target
      .join(fixes, Seq("zenput_submission_id"), "left")
      .observe(obs, count(when(fixable, lit(1))).as("n_fixed"))
      .withColumn("calificacion_general",
        when(fixable, col("calificacion")).otherwise(col("calificacion_general")))
      .drop("calificacion")
    wh.rewrite(s"supervisiones_$tipo", updated.select(
      CasSchema.supervisiones.fieldNames.map(col).toIndexedSeq: _*))
    obs.get.get("n_fixed") match {
      case Some(n) => n.asInstanceOf[Long]
      case None    => // AQE eliminated the node (empty target/fixes)
        target.filter(col("calificacion_general").isNull || col("calificacion_general") === 0)
          .join(fixes, Seq("zenput_submission_id"), "left_semi").count()
    }
  }

  /** Admin: make `periodoId` the single active period (app.py:165-183 —
    * deactivate all, activate the selected one, as one rewrite).
    */
  def setPeriodoActivo(wh: Warehouse, periodoId: Int): Unit =
    wh.rewrite("periodos_cas",
      wh.periodos.withColumn("activo", col("id") === periodoId))

  /** Admin: update one period's date range (app.py:185-209). */
  def updatePeriodoFechas(wh: Warehouse, periodoId: Int,
                          fechaInicio: java.sql.Date, fechaFin: java.sql.Date): Unit =
    wh.rewrite("periodos_cas",
      wh.periodos
        .withColumn("fecha_inicio",
          when(col("id") === periodoId, lit(fechaInicio)).otherwise(col("fecha_inicio")))
        .withColumn("fecha_fin",
          when(col("id") === periodoId, lit(fechaFin)).otherwise(col("fecha_fin"))))

  /** T8 — period transition state machine (etl_sync.py:504-566): when the
    * active period has supervised every active sucursal, deactivate it and
    * activate the next period by fecha_inicio. Driver-side control flow
    * — exactly as in the reference, where this is a pair of UPDATEs on a
    * dozen-row table: periodos is collected once, the active and next
    * periods are picked on the driver, and the coverage check is one query.
    */
  def periodTransition(wh: Warehouse): Option[String] = {
    val periodos = wh.periodos
    val rows = periodos.collect().toSeq
    def inicio(r: Row) = Option(r.getAs[java.sql.Date]("fecha_inicio"))
    for {
      activo <- rows.find(_.getAs[Any]("activo") == true)
      if fullyCovered(wh, activo.getAs[Int]("id"))
      desde <- inicio(activo)
      // the next period by fecha_inicio, ties broken by id
      siguiente <- rows.filter(r => inicio(r).exists(_.after(desde)))
        .minByOption(r => (inicio(r).get.getTime, r.getAs[Int]("id")))
    } yield {
      wh.rewrite("periodos_cas", periodos.withColumn("activo",
        when(col("id") === activo.getAs[Int]("id"), false)
          .when(col("id") === siguiente.getAs[Int]("id"), true)
          .otherwise(col("activo"))))
      Option(siguiente.getAs[String]("codigo")).getOrElse(siguiente.getAs[String]("nombre"))
    }
  }

  /** Has period `periodoId` supervised every active sucursal? The distinct
    * supervised sucursales and the active-sucursal count come from one
    * query: the dimension rows carry a null sucursal_id, which
    * countDistinct skips.
    */
  private def fullyCovered(wh: Warehouse, periodoId: Int): Boolean = {
    val c = wh.supervisiones("operativas")
      .filter(col("periodo_id") === periodoId)
      .select(col("sucursal_id"), lit(false).as("dim"))
      .unionByName(wh.sucursales.filter(col("activo") === true)
        .select(lit(null).cast("int").as("sucursal_id"), lit(true).as("dim")))
      .agg(countDistinct(col("sucursal_id")), count(when(col("dim"), 1)))
      .first()
    val (supervisadas, total) = (c.getLong(0), c.getLong(1))
    total > 0 && supervisadas >= total
  }
}
