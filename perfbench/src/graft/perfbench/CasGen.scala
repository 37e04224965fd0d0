package graft.perfbench

import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable

/** Seeded CAS inputs and their ground truth.
  *
  * Builds the dimensions (20 grupos, 86 sucursales of which 80 active, 24
  * monthly periods, 29 areas, 11 KPIs), the bulk history and each
  * simulated day's page stream from one seed. Dates lie in 2090-2091: the
  * sync checkpoint is stamped with the wall clock, so submissions must
  * postdate any real "now" to pass the incremental filter on every day.
  *
  * The generator mirrors the loader's rules for what it can predict
  * exactly — J8 dedup of re-served pages, the J9 location fallback (the
  * smallest location among same-day operativas of the same supervisor),
  * period assignment and the period-transition rule — and keeps the
  * expected masters, so counts, KPI aggregates and the active period can
  * be checked after every load.
  */
final class CasGen(seed: Long, historyPerTipo: Int, perDay: Int) {
  import CasGen._

  private val rng = new java.util.Random(seed)

  final case class Suc(id: Int, nombre: String, estado: String, clasificacion: String,
                       lat: Option[Double], lon: Option[Double], grupo: Int, loc: Long,
                       activo: Boolean)
  final case class Periodo(id: Int, codigo: String, nombre: String,
                           inicio: LocalDate, fin: LocalDate)

  /** One submission as served, plus what the loader should make of it. */
  final case class Sub(tipo: String, key: String, ts: LocalDateTime, servedLoc: Option[Long],
                       sucursal: Int, supervisor: String, score: Double, details: Array[Double]) {
    def json: String = {
      val loc = servedLoc.fold("")(l => s""","location":{"id":$l,"name":"loc $l"}""")
      val geo = if (tipo == "operativas") ""","lat":25.5,"lon":-100.25""" else ""
      val titles = if (tipo == "operativas") AreaNames else KpiNames
      val answers = titles.zip(details).map { case (t, v) =>
        s"""{"field_type":"formula","title":"$t PORCENTAJE %","value":$v}"""
      } :+ s"""{"field_type":"formula","title":"${if (tipo == "operativas") "PORCENTAJE %" else "CALIFICACION PORCENTAJE %"}","value":$score}"""
      s"""{"id":"$key","smetadata":{"date_submitted":"${TsFormat.format(ts)}"$geo$loc,""" +
        s""""created_by":{"display_name":"$supervisor"}},"answers":[${answers.mkString(",")}]}"""
    }
  }

  val grupos: IndexedSeq[(Int, String)] = GrupoNames.zipWithIndex.map { case (n, i) => (i + 1, n) }

  val sucursales: IndexedSeq[Suc] = (1 to NSucursales).map { i =>
    val geo = if (i % 29 == 0) None else Some(rng.nextInt(1000) / 100.0)
    Suc(i, f"Sucursal $i%03d", Estados(i % Estados.size), if (i % 3 == 0) "foraneo" else "local",
      geo.map(25.0 + _), geo.map(-100.0 - _), 1 + (i - 1) % grupos.size, LocBase + i, i <= NActivas)
  }
  private val sucByLoc = sucursales.map(s => s.loc -> s.id).toMap
  private val bias = sucursales.map(_ => 60 + rng.nextInt(36))

  val periodos: IndexedSeq[Periodo] = (1 to NPeriodos).map { p =>
    val start = FirstPeriod.plusMonths(p - 1L)
    Periodo(p, s"P$p", s"Periodo ${start.getYear}-${start.getMonthValue}", start,
      start.plusMonths(1).minusDays(1))
  }

  val areas: IndexedSeq[(Int, String, String, Int)] =
    AreaNames.zipWithIndex.map { case (n, i) => (i + 1, f"AREA_${i + 1}%02d", n, i + 1) }
  val kpiCatalog: IndexedSeq[(Int, String, String, Int)] =
    KpiNames.zipWithIndex.map { case (n, i) => (i + 1, f"KPI_${i + 1}%02d", n, i + 1) }

  def periodOf(ts: LocalDateTime): Int =
    periodos.find(p => !ts.toLocalDate.isBefore(p.inicio) && !ts.toLocalDate.isAfter(p.fin))
      .map(_.id).getOrElse(sys.error(s"no period for $ts"))

  // ------------------------------------------------------------ submissions
  private var opSeq = 0
  private var segSeq = 0
  private val activas = sucursales.filter(_.activo).map(_.id)
  /** Active sucursales the history leaves unsupervised in the active
    * period; day 0 supervises them, so its transition takes the rewrite path.
    */
  val uncovered: Set[Int] = rng.ints(0, activas.size).distinct().limit(4).toArray.map(activas(_)).toSet

  private def score(suc: Int): Double =
    math.max(40, math.min(100, bias(suc - 1) + rng.nextInt(21) - 10)) + (if (rng.nextBoolean()) 0.5 else 0.0)
  private def details(n: Int): Array[Double] = Array.fill(n)(50 + rng.nextInt(101) / 2.0)

  private def operativa(date: LocalDate, suc: Int): Sub = {
    opSeq += 1
    val ts = date.atTime(8, 0).plusSeconds(opSeq % 28000L)
    Sub("operativas", f"op-$seed-$opSeq%07d", ts, Some(LocBase + suc), suc,
      f"Supervisor ${1 + rng.nextInt(NSupervisores)}%02d", score(suc), details(AreaNames.size))
  }

  /** A seguridad visit paired with an operativa: same day, same supervisor,
    * same sucursal; one in ten is served without its location.
    */
  private def seguridad(op: Sub): Sub = {
    segSeq += 1
    val ts = op.ts.toLocalDate.atTime(16, 0).plusSeconds(segSeq % 20000L)
    val loc = if (rng.nextInt(10) == 0) None else Some(LocBase + op.sucursal)
    Sub("seguridad", f"seg-$seed-$segSeq%07d", ts, loc, op.sucursal, op.supervisor,
      score(op.sucursal), details(KpiNames.size))
  }

  /** The active period the dimensions start with. The history supervises
    * every active sucursal in it, so the set-up's transition takes the
    * rewrite path once, untimed, and [[activePeriod0]] is active after it.
    */
  val setupPeriod = 18
  val activePeriod0 = 19
  private val firstDay = periodos(activePeriod0 - 1).inicio.plusDays(9)

  /** (operativas, seguridad) history, each in submission order. */
  val history: (IndexedSeq[Sub], IndexedSeq[Sub]) = {
    def visits(p: Periodo, sucs: Seq[Int]) =
      sucs.zipWithIndex.map { case (s, i) => operativa(p.inicio.plusDays(i % 9L), s) }
    val inSetup = visits(periodos(setupPeriod - 1), activas)
    val inActive = visits(periodos(activePeriod0 - 1), activas.filterNot(uncovered))
    val older = (0 until math.max(0, historyPerTipo - inSetup.size - inActive.size)).map { _ =>
      val p = periodos(rng.nextInt(setupPeriod - 1))
      operativa(p.inicio.plusDays(rng.nextInt(28).toLong), 1 + rng.nextInt(NSucursales))
    }
    val ops = (older ++ inSetup ++ inActive).sortWith((a, b) => a.ts.isBefore(b.ts))
    val segs = (0 until historyPerTipo).map(_ => seguridad(ops(rng.nextInt(ops.size)))).sortWith((a, b) => a.ts.isBefore(b.ts))
    (ops, segs)
  }

  /** Day `d`'s new submissions (operativas, seguridad). Day 0 visits the
    * sucursales the history left uncovered, which completes the active
    * period; later days fall in the period after it, whose coverage stays
    * incomplete, so their transitions take the early exit.
    */
  def day(d: Int): (IndexedSeq[Sub], IndexedSeq[Sub]) = {
    val date = if (d == 0) firstDay else periodos(activePeriod0).inicio.plusDays(d - 1L)
    val fixed = if (d == 0) uncovered.toIndexedSeq.sorted else IndexedSeq.empty
    val ops = (fixed ++ IndexedSeq.fill(perDay - fixed.size)(activas(rng.nextInt(activas.size))))
      .map(operativa(date, _))
    (ops, ops.map(seguridad))
  }

  // ----------------------------------------------------------- ground truth
  final case class Master(periodo: Int, sucursal: Int, score: Double)
  private val masters = Map("operativas" -> mutable.LinkedHashMap.empty[String, Master],
    "seguridad" -> mutable.LinkedHashMap.empty[String, Master])
  private val opLocs = mutable.HashMap.empty[(LocalDate, String), Long]
  private var active = setupPeriod

  /** Records a load of `subs` (J8: keys already loaded are skipped). */
  def loaded(subs: Seq[Sub]): Unit = subs.foreach { s =>
    val m = masters(s.tipo)
    if (!m.contains(s.key)) {
      val suc = s.servedLoc.orElse {
        opLocs.get((s.ts.toLocalDate, s.supervisor))
      }.map(sucByLoc).getOrElse(sys.error(s"${s.key} has no resolvable location"))
      m(s.key) = Master(periodOf(s.ts), suc, s.score)
      if (s.tipo == "operativas") {
        val k = (s.ts.toLocalDate, s.supervisor)
        opLocs(k) = math.min(opLocs.getOrElse(k, Long.MaxValue), LocBase + suc)
      }
    }
  }

  def masterCount(tipo: String): Long = masters(tipo).size.toLong
  /** Sucursales with at least one loaded submission of `tipo`. */
  def supervised(tipo: String): Set[Int] = masters(tipo).values.map(_.sucursal).toSet
  def detailCount(tipo: String): Long = masterCount(tipo) * detailsPer(tipo)

  /** The period transition rule: returns the new active period's codigo
    * when the active one has been supervised at every active sucursal.
    */
  def transition(): Option[String] = {
    val supervised = masters("operativas").values.filter(_.periodo == active).map(_.sucursal).toSet.size
    if (supervised >= NActivas && active < NPeriodos) {
      active += 1
      Some(periodos(active - 1).codigo)
    } else None
  }
  def activePeriod: Int = active

  /** Expected `CasServing.kpis` row, rendered like [[Check.render]]. */
  def kpis(tipo: String, periodo: Option[Int]): String = {
    val ms = masters(tipo).values.filter(m => periodo.forall(_ == m.periodo)).toSeq
    val n = ms.size.toLong
    def bucket(f: Double => Boolean): Any = if (n == 0) null else ms.count(m => f(m.score)).toLong
    val avg: Any = if (n == 0) null else round(ms.map(_.score).sum / n, 2)
    val evaluated = ms.map(_.sucursal).distinct.size.toLong
    Check.render(Seq(avg, n, evaluated, bucket(_ >= 90), bucket(s => s >= 80 && s < 90),
      bucket(s => s >= 70 && s < 80), bucket(_ < 70), NActivas.toLong,
      round(evaluated * 100.0 / NActivas, 1)))
  }

  private def round(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
}

object CasGen {
  val NSucursales = 86
  val NActivas = 80
  val NPeriodos = 24
  val NSupervisores = 12
  val LocBase = 2000000L
  val FirstPeriod: LocalDate = LocalDate.of(2090, 1, 1)
  val TsFormat: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  val Estados: IndexedSeq[String] = IndexedSeq("Nuevo Leon", "Coahuila", "Tamaulipas",
    "Queretaro", "Michoacan", "Sonora", "Durango")
  val GrupoNames: IndexedSeq[String] = IndexedSeq("TEPEYAC NORTE", "OGAS", "TEC SUR", "EXPO",
    "PLOG NUEVO LEON", "PLOG QUERETARO", "EFM", "RAP", "CRR", "GRUPO MATAMOROS",
    "GRUPO RIO BRAVO", "GRUPO SALTILLO", "OCHTER TAMPICO", "GRUPO CENTRITO", "GRUPO SABINAS",
    "GRUPO PIEDRAS NEGRAS", "GRUPO NUEVO LAREDO", "GRUPO CANTERA ROSA", "GRUPO REYNOSA",
    "GRUPO SUR")
  /** Area and KPI names: none is a substring of another, so every answer
    * matches exactly one catalog entry.
    */
  val AreaNames: IndexedSeq[String] = IndexedSeq("MARINADO", "HORNOS", "FREIDORAS",
    "CONGELADOR", "ALMACEN", "BANOS", "COMEDOR", "COCINA", "EXTERIOR", "CAJA", "UNIFORMES",
    "HIGIENE", "LIMPIEZA", "PLAGAS", "TEMPERATURAS", "INVENTARIO", "EMPAQUE", "BEBIDAS",
    "SALSAS", "TORTILLAS", "POLLO", "ARROZ", "FRIJOL", "ENSALADAS", "PAPAS", "POSTRES",
    "SERVICIO", "MOSTRADOR", "ESTACIONAMIENTO")
  val KpiNames: IndexedSeq[String] = IndexedSeq("EXTINTORES", "SALIDAS", "BOTIQUIN",
    "ALARMA", "CAMARAS", "TANQUE GAS", "TABLERO ELECTRICO", "SENALIZACION", "PUERTAS",
    "CAJA FUERTE", "PROTOCOLO")
  require(AreaNames.size == 29 && KpiNames.size == 11)
  /** Detail rows one submission loads: every area or KPI is answered once. */
  def detailsPer(tipo: String): Int = if (tipo == "operativas") AreaNames.size else KpiNames.size
  for (names <- Seq(AreaNames, KpiNames); a <- names; b <- names if a != b)
    require(!a.contains(b), s"catalog names overlap: $a / $b")
}
