package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Classify, Ranking}
import graft.etl.{CasTables, Warehouse}

/** The reference's serving layer (app.py, ~35 SQL queries + Python
  * dataflow) as pure DataFrame programs over the CAS warehouse.
  *
  * The polymorphic `tipo` path parameter (operativas|seguridad) picks the
  * fact table exactly as `tabla = ... if tipo == ...` does at app.py:347 —
  * but as a function argument, not string-built SQL. All the Python-side
  * post-processing (tie ranking app.py:624-637, territory classification
  * app.py:44-55, roll-up groups app.py:57-89, pivoting app.py:1153-1202)
  * collapses into the plan: one job instead of N+1 queries per request.
  *
  * Each endpoint takes the warehouse's [[Warehouse.snapshot]] once and
  * reads every table through it: while nothing is committed, a request
  * costs one read of the generation record and, when every table fits the
  * broadcast threshold, plans over driver-local tables in a session that
  * generates no code.
  */
object CasServing {

  /** T1 defaults — configurable lists, not hardcoded geography. */
  case class TerritoryConfig(local: Seq[String] = Seq("norte"), foranea: Seq[String] = Seq("sur"))
  /** T3 roll-up prefixes (reference GRUPOS_AGRUPACIONES, app.py:57-63). */
  case class RollupConfig(prefixes: Map[String, String] = Map.empty)

  private def severity100(c: Column) = Classify.severity(c)

  /** /api/kpis/<tipo> (app.py:340-432): scalar KPIs + coverage + buckets. */
  def kpis(wh: Warehouse, tipo: String, periodoId: Option[Int] = None): DataFrame = {
    val snap = wh.snapshot()
    val sup = periodoId.foldLeft(snap.supervisiones(tipo))((df, p) => df.filter(col("periodo_id") === p))
    val buckets = sup.agg(
      round(avg(col("calificacion_general")), 2).as("promedio_general"),
      count(lit(1)).as("total_supervisiones"),
      countDistinct(col("sucursal_id")).as("sucursales_evaluadas"),
      sum(when(col("calificacion_general") >= 90, 1L).otherwise(0L)).as("excelente"),
      sum(when(col("calificacion_general") >= 80 && col("calificacion_general") < 90, 1L).otherwise(0L)).as("bueno"),
      sum(when(col("calificacion_general") >= 70 && col("calificacion_general") < 80, 1L).otherwise(0L)).as("regular"),
      sum(when(col("calificacion_general") < 70, 1L).otherwise(0L)).as("critico"))
    val total = snap.sucursales.filter(col("activo") === true)
      .agg(count(lit(1)).as("total_sucursales"))
    buckets.crossJoin(total)
      .withColumn("cobertura_pct",
        when(col("total_sucursales") > 0,
          round(col("sucursales_evaluadas") * lit(100.0) / col("total_sucursales"), 1))
          .otherwise(0.0))
  }

  /** /api/ranking/grupos/<tipo> (app.py:435-648): LEFT JOINs with the
    * periodo filter IN THE ON CLAUSE (unsupervised groups retained, J2),
    * per-group aggregate, optional territory filter, roll-up keys with
    * weighted averages (A11), then competition rank with unranked nulls
    * (W1/W2).
    */
  def rankingGrupos(wh: Warehouse, tipo: String, periodoId: Option[Int] = None,
                    territorio: Option[String] = None,
                    tc: TerritoryConfig = TerritoryConfig(),
                    rc: RollupConfig = RollupConfig()): DataFrame = {
    val snap = wh.snapshot()
    val g = snap.grupos.filter(col("activo"))
      .select(col("id").as("grupo_id"), col("nombre").as("grupo"))
    val sActive = snap.sucursales.filter(col("activo"))
      .select(col("id").as("s_sid"), col("grupo_operativo_id"))
    val sup = snap.supervisiones(tipo)

    val supCond = col("sucursal_id") === col("s_sid") &&
      periodoId.map(p => col("periodo_id") === p).getOrElse(lit(true))
    val joined = g
      .join(sActive, col("grupo_id") === col("grupo_operativo_id"), "left")
      .join(sup, supCond, "left")

    val agg = joined
      .groupBy(col("grupo_id"), col("grupo"))
      .agg(
        round(avg(col("calificacion_general")), 2).as("promedio"),
        count(col("id")).as("supervisiones"),
        countDistinct(col("s_sid")).as("sucursales"))
      .withColumn("territorio", Classify.territory(col("grupo"), tc.local, tc.foranea))
      .withColumn("agrupacion", Classify.rollupKey(col("grupo"), rc.prefixes))
    val filtered = territorio.foldLeft(agg)((df, t) => df.filter(col("territorio") === t))

    // A11: weighted roll-up average over every member supervision — joins
    // members back to facts instead of averaging the members' averages
    val members = filtered.select(col("grupo_id"), col("agrupacion"))
    val rollupAvg = members
      .join(sActive, col("grupo_id") === col("grupo_operativo_id"))
      .join(sup, supCond, "left")
      .groupBy(col("agrupacion"))
      .agg(round(avg(col("calificacion_general")), 2).as("promedio_agrupacion"))

    Ranking.rankWithNullsUnranked(
      filtered.join(broadcast(rollupAvg), Seq("agrupacion"), "left"), "promedio")
      .orderBy(col("posicion").asc_nulls_last, col("grupo"))
  }

  /** /api/ranking/sucursales/<tipo> (app.py:652-757): same shape per
    * branch, ordered promedio DESC NULLS LAST with name tiebreak (O1).
    */
  def rankingSucursales(wh: Warehouse, tipo: String, periodoId: Option[Int] = None,
                        grupoId: Option[Int] = None): DataFrame = {
    val snap = wh.snapshot()
    val s = snap.sucursales.filter(col("activo"))
      .select(col("id").as("s_sid"), col("nombre"), col("clasificacion"), col("grupo_operativo_id"))
    val base = grupoId.foldLeft(s)((df, gid) => df.filter(col("grupo_operativo_id") === gid))
    val sup = snap.supervisiones(tipo)
    val supCond = col("sucursal_id") === col("s_sid") &&
      periodoId.map(p => col("periodo_id") === p).getOrElse(lit(true))
    val agg = base.join(sup, supCond, "left")
      .groupBy(col("s_sid"), col("nombre"), col("clasificacion"))
      .agg(round(avg(col("calificacion_general")), 2).as("promedio"),
           count(col("id")).as("supervisiones"))
      .withColumn("color", severity100(col("promedio")))
    Ranking.rankWithNullsUnranked(agg, "promedio")
      .orderBy(col("posicion").asc_nulls_last, col("nombre"))
  }

  /** Pivot-column budget for [[historico]]: at most this many period
    * columns; a wider domain folds its OLDEST periods into one
    * [[OtrosCol]] bucket. The reference UI renders dozens of period
    * columns at most (app.js heatmap), so the cap is far above real use —
    * it exists so the pivot-header collect is BOUNDED at any domain size
    * (a TakeOrdered of ≤ cap+1 rows, never the whole dim).
    */
  val MaxPivotPeriods = 120

  /** The roll-up column absorbing periods beyond [[MaxPivotPeriods]] —
    * avg of the folded periods' promedios (A10 average-of-averages, the
    * same semantics as the EPL row). A real period whose codigo collides
    * with this sentinel would merge into it; "__" keeps that out of the
    * reference's `P<n>`-shaped code space.
    */
  val OtrosCol = "__otros"

  /** /api/historico/<tipo> (app.py:1128-1207): dense grupo × periodo
    * matrix (CROSS JOIN J5) → pivot (A9) → unweighted average-of-averages
    * per grupo plus the cross-group "EPL CAS" row per periodo (A10).
    * Returns (matrix, grupoAvgs, eplRow).
    *
    * The pivot header is a driver-side value list by construction
    * (Spark's pivot needs its columns at plan time); what's bounded is
    * HOW MUCH reaches the driver: the newest `maxPivotPeriods` codes via
    * orderBy-desc + limit (a TakeOrdered, constant memory at any period
    * count), never the full domain. Overflow periods pivot into the
    * single [[OtrosCol]] bucket instead of growing the header.
    */
  def historico(wh: Warehouse, tipo: String,
                maxPivotPeriods: Int = MaxPivotPeriods): (DataFrame, DataFrame, DataFrame) =
    historicoOf(wh.snapshot(), tipo, maxPivotPeriods)

  private def historicoOf(snap: CasTables, tipo: String,
                          maxPivotPeriods: Int): (DataFrame, DataFrame, DataFrame) = {
    val g = snap.grupos.filter(col("activo"))
      .select(col("id").as("grupo_id"), col("nombre").as("grupo"))
    val p = snap.periodos.select(col("id").as("p_periodo_id"), col("codigo"))
    val s = snap.sucursales.filter(col("activo"))
      .select(col("id").as("s_sid"), col("grupo_operativo_id"))
    val sup = snap.supervisiones(tipo)

    val long = g.crossJoin(broadcast(p))
      .join(s, col("grupo_id") === col("grupo_operativo_id"), "left")
      .join(sup,
        col("sucursal_id") === col("s_sid") && col("periodo_id") === col("p_periodo_id"), "left")
      .groupBy(col("grupo_id"), col("grupo"), col("codigo"))
      .agg(avg(col("calificacion_general")).as("promedio"),
           count(col("id")).as("evaluaciones"))

    // bounded header collect: cap+1 newest codes (the +1 only detects
    // overflow), newest by fecha_inicio — codigo strings ("P9" vs "P10")
    // don't sort chronologically — then sorted ascending for stable
    // column order. A null codigo (the schema field is nullable) can
    // never become a pivot column: it is filtered before the collect so
    // the driver-side sort cannot NPE on it, and its rows are dropped
    // from the matrix in BOTH pivot modes — the second `when` below keeps
    // them out of the __otros fold, since a warehouse crossing the
    // period-count cap must not silently start counting rows the
    // non-overflow matrix always dropped.
    val newest = snap.periodos.select(col("codigo"), col("fecha_inicio"))
      .filter(col("codigo").isNotNull)
      .orderBy(col("fecha_inicio").desc_nulls_last, col("codigo").desc)
      .limit(maxPivotPeriods + 1).collect().map(_.getString(0))
    val overflow = newest.length > maxPivotPeriods
    val kept = newest.take(maxPivotPeriods).sorted.toSeq
    val headers = if (overflow) kept :+ OtrosCol else kept
    val pivotCol = if (overflow)
      when(col("codigo").isInCollection(kept), col("codigo"))
        .when(col("codigo").isNotNull, OtrosCol) // null → null → not pivoted
    else col("codigo")
    // avg == first for the 1-period-per-cell columns; the overflow bucket
    // genuinely averages its folded periods (average-of-averages, A10)
    val matrix = long.withColumn("pivot_code", pivotCol)
      .groupBy(col("grupo_id"), col("grupo"))
      .pivot("pivot_code", headers)
      .agg(round(avg(col("promedio")), 2))
      .orderBy(col("grupo"))

    val grupoAvgs = long.filter(col("promedio").isNotNull)
      .groupBy(col("grupo_id"), col("grupo"))
      .agg(round(avg(col("promedio")), 2).as("promedio_general"))
      .orderBy(col("promedio_general").desc_nulls_last, col("grupo"))

    val eplRow = long.filter(col("promedio").isNotNull)
      .groupBy(col("codigo"))
      .agg(round(avg(col("promedio")), 2).as("promedio_epl"))
      .orderBy(col("codigo"))

    (matrix, grupoAvgs, eplRow)
  }

  /** O4 — the heatmap slice (app.js:1024 `grupos.slice(0, 15)` over the
    * server's promedio_general DESC ordering, app.py:1193): the pivot
    * matrix restricted to the top-`top` groups, in ranking order.
    */
  def historicoHeatmap(wh: Warehouse, tipo: String, top: Int = 15,
                       maxPivotPeriods: Int = MaxPivotPeriods): DataFrame = {
    val (matrix, grupoAvgs, _) = historicoOf(wh.snapshot(), tipo, maxPivotPeriods)
    val slice = broadcast(grupoAvgs.limit(top)
      .select(col("grupo_id"), col("promedio_general")))
    matrix.join(slice, Seq("grupo_id"))
      .orderBy(col("promedio_general").desc_nulls_last, col("grupo"))
      .drop("promedio_general")
  }

  /** /api/alertas/<tipo> (app.py:1221-1280): groups and branches whose
    * period average crosses the critical/warning thresholds (A6 HAVING),
    * labeled (T2/F9) and partitioned by severity like app.js:1075-1076.
    */
  def alertas(wh: Warehouse, tipo: String, periodoId: Option[Int] = None): DataFrame = {
    val snap = wh.snapshot()
    val s = snap.sucursales.filter(col("activo"))
      .select(col("id").as("s_sid"), col("nombre"))
    val sup = periodoId.foldLeft(snap.supervisiones(tipo))((df, p) => df.filter(col("periodo_id") === p))
    s.join(sup, col("sucursal_id") === col("s_sid"))
      .groupBy(col("s_sid"), col("nombre"))
      .agg(round(avg(col("calificacion_general")), 2).as("promedio"),
           count(lit(1)).as("supervisiones"))
      .filter(col("promedio") < 80)
      .withColumn("tipo_alerta", when(col("promedio") < 70, "critical").otherwise("warning"))
      .withColumn("mensaje",
        concat(col("nombre"), lit(": promedio "), col("promedio"), lit(" bajo umbral")))
      .orderBy(col("promedio"), col("nombre"))
  }

  /** /api/mapa (app.py:1063-1124): geo projection (P5 null-safe) with the
    * latest supervision score per branch (W3) and severity color (T2).
    */
  def mapa(wh: Warehouse, tipo: String, periodoId: Option[Int] = None): DataFrame = {
    val snap = wh.snapshot()
    val s = snap.sucursales.filter(col("activo") &&
      col("latitud").isNotNull && col("longitud").isNotNull)
      .select(col("id").as("s_sid"), col("nombre"), col("latitud").as("lat"),
        col("longitud").as("lng"), col("clasificacion"))
    val sup = periodoId.foldLeft(snap.supervisiones(tipo))((df, p) => df.filter(col("periodo_id") === p))
    val latest = sup
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("sucursal_id"))
          .orderBy(col("fecha_supervision").desc, col("id").desc)))
      .filter(col("rn") === 1)
      .select(col("sucursal_id"), col("calificacion_general").as("ultima_calificacion"))
    s.join(latest, col("s_sid") === col("sucursal_id"), "left")
      .withColumn("color", severity100(col("ultima_calificacion")))
      .select(col("s_sid").as("id"), col("nombre"), col("lat"), col("lng"),
        col("clasificacion"), col("ultima_calificacion"), col("color"))
      .orderBy(col("nombre"))
  }

  /** /api/sucursal/<id>/detalle (app.py:846-900): the branch's LATEST
    * supervision (W3) with its per-area/KPI breakdown (J3 catalog join,
    * ordered by the catalog's numero).
    */
  def detalleSucursal(wh: Warehouse, tipo: String, sucursalId: Int): DataFrame = {
    val snap = wh.snapshot()
    val latest = snap.supervisiones(tipo)
      .filter(col("sucursal_id") === sucursalId)
      .orderBy(col("fecha_supervision").desc, col("id").desc)
      .limit(1)
    val detail = snap.detalle(tipo)
    val cat = broadcast(snap.catalogo(tipo)
      .select(col("id").as("area_id"), col("codigo"), col("nombre").as("area"), col("numero")))
    latest.join(detail, latest("id") === detail("supervision_id"))
      .join(cat, Seq("area_id"))
      .select(col("zenput_submission_id"), col("supervisor"),
        col("fecha_supervision"), col("calificacion_general"),
        col("codigo"), col("area"), col("numero"),
        round(col("porcentaje"), 2).as("porcentaje"),
        severity100(col("porcentaje")).as("color"))
      .orderBy(col("numero"))
  }

  /** /api/sucursal/<id>/trend (app.py:938-960): last-N supervisions (W4),
    * returned in chronological order (O6) for the sparkline.
    */
  def trendSucursal(wh: Warehouse, tipo: String, sucursalId: Int, n: Int = 4): DataFrame = {
    val w = Window.partitionBy(col("sucursal_id"))
      .orderBy(col("fecha_supervision").desc, col("id").desc)
    wh.snapshot().supervisiones(tipo)
      .filter(col("sucursal_id") === sucursalId)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("fecha_supervision"),
        date_format(col("fecha_supervision"), "dd/MM").as("fecha_corta"),
        round(col("calificacion_general"), 2).as("calificacion"))
      // F13 — the sparkline bar height (app.js:737): percent of the 100-pt
      // scale floored at 5 so a near-zero score still renders a bar
      .withColumn("bar_pct", greatest(round(col("calificacion"), 2), lit(5.0)))
      .orderBy(col("fecha_supervision"))
  }

  /** /api/estados (app.py:331-335): distinct states with branch counts. */
  def estados(wh: Warehouse): DataFrame =
    wh.snapshot().sucursales
      .filter(col("activo") && col("estado").isNotNull)
      .groupBy(col("estado"))
      .agg(count(lit(1)).as("n_sucursales"))
      .orderBy(col("estado"))

  /** /api/periodo-contexto (app.py:214-335): the period containing `hoy`
    * (P6), else the latest period with data (J11 + O2).
    */
  def periodoContexto(wh: Warehouse, tipo: String, hoy: java.sql.Date): DataFrame = {
    val snap = wh.snapshot()
    val p = snap.periodos
    val current = p.filter(lit(hoy).between(col("fecha_inicio"), col("fecha_fin")))
      .orderBy(col("fecha_inicio").desc).limit(1)
    val withData = p.join(snap.supervisiones(tipo),
        p("id") === col("periodo_id"), "left_semi")
      .orderBy(col("fecha_inicio").desc).limit(1)
    current.withColumn("fuente", lit("actual"))
      .unionByName(withData.withColumn("fuente", lit("ultimo_con_datos")))
      .orderBy(col("fuente")) // 'actual' sorts first when both exist
      .limit(1)
  }

  /** /api/periodos (app.py:307-325): the 10 most recent periods, every
    * column (runtime schema, newest first).
    */
  def periodosList(wh: Warehouse): DataFrame =
    wh.snapshot().periodos.orderBy(col("id").desc).limit(10)

  /** /api/supervision/<id>/areas/<tipo> (app.py:966-1060): one specific
    * supervision's header (with its period name) and per-area/KPI
    * breakdown in catalog order — the drill-down when a trend bar is
    * clicked, vs [[detalleSucursal]] which always shows the latest.
    */
  def supervisionAreas(wh: Warehouse, tipo: String, supervisionId: Long): DataFrame = {
    val snap = wh.snapshot()
    val sup = snap.supervisiones(tipo)
      .filter(col("id") === supervisionId)
      .join(broadcast(snap.periodos.select(col("id").as("p_id"),
        col("nombre").as("periodo_nombre"))),
        col("periodo_id") === col("p_id"), "left")
      .select(col("id"), col("calificacion_general"), col("fecha_supervision"),
        col("supervisor"), col("periodo_nombre"))
    val cat = broadcast(snap.catalogo(tipo)
      .select(col("id").as("area_id"), col("nombre").as("area"), col("numero")))
    sup.join(snap.detalle(tipo), sup("id") === col("supervision_id"))
      .join(cat, Seq("area_id"))
      .select(col("id").as("supervision_id"),
        round(col("calificacion_general"), 2).as("calificacion"),
        date_format(col("fecha_supervision"), "dd/MM/yyyy").as("fecha"),
        col("supervisor"), col("periodo_nombre"),
        col("area"), col("numero"),
        round(col("porcentaje"), 2).as("porcentaje"),
        severity100(col("porcentaje")).as("color"))
      .orderBy(col("numero"))
  }

  /** The admin table-dump allowlist (app.py:1310-1313): the served tables. */
  val DumpableTables: Seq[String] = CasTables.Served.map(_._1)

  /** S7 — the generic admin dump (app.py:1318-1321): `SELECT * FROM <name>
    * LIMIT 100` with runtime-discovered columns, every value stringified
    * the way the endpoint's `str(v)` does. Rejects names off the allowlist
    * exactly like the 403 path (app.py:1314-1315).
    */
  def tableDump(wh: Warehouse, name: String, limit: Int = 100): DataFrame = {
    require(DumpableTables.contains(name), s"Tabla no permitida: $name")
    val df = wh.snapshot().read(name, CasTables.Served.toMap.apply(name))
    // runtime schema: columns come from the resolved frame, not a caller list
    df.limit(limit).select(df.columns.toIndexedSeq.map(c => col(c).cast("string").as(c)): _*)
  }
}
