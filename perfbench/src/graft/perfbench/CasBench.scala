package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.{Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{CasEtl, CasSchema, PagedFetch, Warehouse}
import graft.queries.CasServing

/** The `cas` workload: closed-loop dashboard serving, then the daily sync
  * cycle, on one warehouse of the run's own. Set-up writes the dimensions
  * and loads the seeded history through PagedFetch and CasEtl.
  */
final class CasBench(spark: SparkSession, work: Path, seed: Long, seconds: Double,
                     tracer: Tracer, res: Result) {
  import CasBench._

  private val cores = spark.sparkContext.defaultParallelism
  val gen = new CasGen(seed, HistoryPerTipo, PerDay)
  private val whDir = work.resolve("cas_warehouse")
  val wh: Warehouse = Warehouse(spark, whDir.toString)
  private var inputBytes = 0L

  // ------------------------------------------------------------ warehouse
  final case class WhStats(files: Long, bytes: Long, stagingDirs: Long)

  private def whStats(): WhStats = {
    val files = Files.walk(whDir)
    try {
      var n = 0L
      var b = 0L
      files.filter(Files.isRegularFile(_)).forEach { p => n += 1; b += Files.size(p) }
      val staging = whDir.resolve("_staging")
      val st = if (Files.isDirectory(staging)) {
        val l = Files.list(staging)
        try l.count() finally l.close()
      } else 0L
      WhStats(n, b, st)
    } finally files.close()
  }

  /** Order-independent content hash of the data tables (the control
    * tables sync_log and sync_checkpoints carry wall-clock stamps).
    */
  private def contentHash(): String = DataTables
    .map { case (name, df) => df(wh).select(lit(name).as("t"), xxhash64(col("*")).as("h")) }
    .reduce(_ unionByName _)
    .groupBy("t").agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(1000000007L))))
    .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.get(2)}:${r.get(3)}").sorted
    .mkString(";")

  private def putWhStats(): Unit = {
    val st = whStats()
    res.put("wh.files", st.files, "count")
    res.put("wh.bytes", st.bytes, "B")
    res.put("wh.bytes_per_input_byte", st.bytes.toDouble / inputBytes, "ratio")
    res.put("wh.staging_dirs", st.stagingDirs, "count")
  }

  // --------------------------------------------------------------- set-up
  private def dims(): Unit = {
    def frame(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    wh.rewrite("grupos_operativos", frame(gen.grupos.map { case (id, n) => Row(id, n, true) },
      CasSchema.grupos))
    wh.rewrite("sucursales", frame(gen.sucursales.map { s =>
      Row(s.id, s.nombre, s.estado, s.clasificacion, s.lat.orNull, s.lon.orNull, s.grupo, s.loc,
        s.activo)
    }, CasSchema.sucursales))
    wh.rewrite("periodos_cas", frame(gen.periodos.map { p =>
      Row(p.id, p.codigo, p.nombre, java.sql.Date.valueOf(p.inicio), java.sql.Date.valueOf(p.fin),
        p.id == gen.setupPeriod)
    }, CasSchema.periodos))
    wh.rewrite("catalogo_areas", frame(gen.areas.map { case (a, b, c, d) => Row(a, b, c, d) },
      CasSchema.catalogo))
    wh.rewrite("catalogo_kpis_seguridad", frame(gen.kpiCatalog.map { case (a, b, c, d) =>
      Row(a, b, c, d) }, CasSchema.catalogo))
  }

  final case class Synced(fetchNs: Long, pages: Int, syncNs: Long, r: CasEtl.SyncResult)

  /** One tipo's fetch from the in-process page server, then its sync. */
  private def fetchAndSync(rows: IndexedSeq[String], pageSize: Int, tipo: String): Synced = {
    inputBytes += rows.map(_.length.toLong).sum
    val server: Int => Try[Seq[String]] = off => Success(rows.slice(off, off + pageSize))
    val (fetched, fetchNs) = tracer.call(s"fetch.$tipo")(PagedFetch.fetchAll(server, pageSize))
    val (r, syncNs) = tracer.call(s"sync.$tipo")(
      CasEtl.sync(wh, PagedFetch.toRawJson(spark, fetched.rows), tipo, fetched.complete))
    Synced(fetchNs, fetched.pages, syncNs, r)
  }

  private def checkCounts(what: String): Boolean = Tipos.forall { t =>
    val m = wh.supervisiones(t).count()
    val d = wh.detalle(t).count()
    val ok = m == gen.masterCount(t) && d == gen.detailCount(t)
    if (!ok) res.explain(s"$what: $t rows master=$m detail=$d, expected " +
      s"${gen.masterCount(t)}/${gen.detailCount(t)}")
    ok
  }

  /** Dimensions, then the history through PagedFetch and CasEtl, then the
    * transition check a daily run ends with.
    */
  def setup(): Unit = {
    Phase("dimensions")(dims())
    val (ops, segs) = gen.history
    val loads = Phase("history load")(Seq(ops, segs).map(subs =>
      fetchAndSync(subs.map(_.json), PagedFetch.PageSize, subs.head.tipo)))
    gen.loaded(ops)
    gen.loaded(segs)
    val (moved, _) = tracer.call("transition")(CasEtl.periodTransition(wh))
    val loadNs = loads.map(l => l.fetchNs + l.syncNs).sum
    res.put("load.s", Stats.s(loadNs), "s")
    res.put("load.subs_per_s", (ops.size + segs.size) / Stats.s(loadNs), "1/s")
    val ok = checkCounts("set-up") && moved == gen.transition()
    res.op(ok, s"set-up: transition $moved")
  }

  // -------------------------------------------------------------- serving
  final case class Req(endpoint: String, tipo: String, arg: String, build: () => DataFrame) {
    def key = s"$endpoint/$tipo/$arg"
  }
  final case class Served(rows: Array[Row], buildNs: Long, planNs: Long, execNs: Long) {
    def totalNs: Long = buildNs + planNs + execNs
  }

  /** One request: the endpoint call, plan forcing, then the full collect. */
  def serve(req: Req, serial: Boolean): Served = {
    val (s, _) = tracer.call(s"serve.${req.endpoint}", serial) {
      val t0 = System.nanoTime()
      val df = req.build()
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = df.collect()
      Served(rows, t1 - t0, t2 - t1, System.nanoTime() - t2)
    }
    s
  }

  private def filterArg(p: Option[Int]) = p.fold("all")(id => s"P$id")

  private def pageLoad(tipo: String, periodo: Option[Int]): Seq[Req] = {
    val a = filterArg(periodo)
    Seq(
      Req("kpis", tipo, a, () => CasServing.kpis(wh, tipo, periodo)),
      Req("rankingGrupos", tipo, a, () => CasServing.rankingGrupos(wh, tipo, periodo)),
      Req("rankingSucursales", tipo, a, () => CasServing.rankingSucursales(wh, tipo, periodo)),
      Req("historicoHeatmap", tipo, "all", () => CasServing.historicoHeatmap(wh, tipo)),
      Req("alertas", tipo, a, () => CasServing.alertas(wh, tipo, periodo)),
      Req("mapa", tipo, a, () => CasServing.mapa(wh, tipo, periodo)),
      Req("periodoContexto", tipo, "hoy", () => CasServing.periodoContexto(wh, tipo, Hoy)),
      Req("periodosList", "-", "-", () => CasServing.periodosList(wh)),
      Req("estados", "-", "-", () => CasServing.estados(wh)))
  }

  private def refreshReqs(periodo: Int): Seq[Req] = Tipos.flatMap { t =>
    val p = Some(periodo)
    Seq(Req("kpis", t, s"P$periodo", () => CasServing.kpis(wh, t, p)),
      Req("rankingGrupos", t, s"P$periodo", () => CasServing.rankingGrupos(wh, t, p)),
      Req("alertas", t, s"P$periodo", () => CasServing.alertas(wh, t, p)))
  }

  /** A kpis response must equal the generator's aggregates. */
  private def kpisOk(req: Req, rows: Array[Row]): Boolean = req.endpoint != "kpis" || {
    val periodo = if (req.arg == "all") None else Some(req.arg.drop(1).toInt)
    val want = gen.kpis(req.tipo, periodo)
    val got = rows.headOption.map(r => Check.render(r.toSeq)).getOrElse("<no row>")
    if (got != want) res.explain(s"${req.key}: kpis $got, expected $want")
    got == want
  }

  // ------------------------------------------------------------- the run
  /** The read-only dashboard phase, then the daily phase, on the set-up
    * warehouse. Every distinct request and op has had an untimed pass
    * before it is timed: the set-up ran fetch, sync and transition, and
    * the dashboard warm-up covers the daily refresh requests.
    */
  def run(): Unit = {
    val jvm = new JvmSampler
    val tracedNs = dashboard() + daily()
    val (gcMs, heapMb) = jvm.finish()
    putWhStats()
    if (tracer.enabled) tracer.putShared(res, tracedNs, cores, gcMs, heapMb)
  }

  // -------------------------------------------------------- dashboard phase
  private val filters = Seq(None, Some(gen.activePeriod0))
  private val clients = math.min(4, cores)

  /** Drill-downs per tipo, on targets the set-up loaded. */
  private lazy val drills: Map[String, IndexedSeq[Req]] = {
    val rnd = new java.util.Random(seed * 7919 + 1)
    // a drill-down target with history of both tipos, so no drill-down is empty
    val targets = gen.sucursales.filter(_.activo).map(_.id).filter(id => Tipos.forall(gen.supervised(_)(id)))
    val sucursal = targets(rnd.nextInt(targets.size))
    val supervision: Map[String, Long] = Tipos.map { t =>
      val subs = if (t == "operativas") gen.history._1 else gen.history._2
      t -> wh.supervisiones(t).filter(col("zenput_submission_id") === subs(rnd.nextInt(subs.size)).key)
        .select("id").head().getLong(0)
    }.toMap
    Tipos.map { t =>
      t -> IndexedSeq(
        Req("detalleSucursal", t, s"s$sucursal", () => CasServing.detalleSucursal(wh, t, sucursal)),
        Req("trendSucursal", t, s"s$sucursal", () => CasServing.trendSucursal(wh, t, sucursal)),
        Req("supervisionAreas", t, s"id${supervision(t)}",
          () => CasServing.supervisionAreas(wh, t, supervision(t))))
    }.toMap
  }

  /** The untimed warm-up: every distinct dashboard request once, spread
    * over the clients. Returns the response hashes, the dashboard's
    * reference.
    */
  def warmUp(): Map[String, String] = {
    val distinct = (for (t <- Tipos; f <- filters; r <- pageLoad(t, f)) yield r) ++
      Tipos.flatMap(drills)
    val uniq = distinct.groupBy(_.key).map(_._2.head).toSeq.sortBy(_.key)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    val warm = Phase(s"warm-up of ${uniq.size} requests")(try {
      uniq.map(r => pool.submit(() => r -> serve(r, serial = false))).map(_.get())
    } finally pool.shutdown())
    warm.map { case (r, s) =>
      res.op(kpisOk(r, s.rows) && (s.rows.nonEmpty || r.endpoint == "alertas"),
        s"${r.key}: warm-up returned no rows")
      r.key -> Check.hash(s.rows.toSeq)
    }.toMap
  }

  /** Closed-loop dashboard sessions; returns the traced wall nanos. */
  private def dashboard(): Long = {
    val expected = warmUp()

    final case class Sample(endpoint: String, s: Served, traced: Boolean)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errored = new java.util.concurrent.atomic.AtomicLong()
    // the traced run serves an untraced block, then a traced one, so it can
    // measure the tracing overhead
    val blocks = if (tracer.enabled) Seq(false, true) else Seq(false)
    var tracedNs = 0L
    var untracedNs = 0L
    Phase(s"dashboard, $clients clients")(blocks.zipWithIndex.foreach { case (traced, b) =>
      tracer.setActive(traced)
      val b0 = System.nanoTime()
      val deadline = b0 + (seconds / blocks.size * 1e9).toLong
      val threads = (0 until clients).map { c =>
        val t = new Thread(() => {
          val rng = new java.util.Random(seed * 1000003L + c * 7919L + b)
          // Requests until the window has passed, at least one per client.
          // Session k is the k-th of the four (tipo, filter) page loads and
          // then 1 + k % 2 seeded drill-downs, and client c starts at k = c,
          // so every run serves the same mix. Client c starts c / clients
          // of the way into its first session, so the clients do not move
          // in lockstep and a short window still sees drill-downs.
          val requests = Iterator.from(c).flatMap { k =>
            val tipo = Tipos(k % 2)
            pageLoad(tipo, filters(k / 2 % 2)) ++
              Seq.fill(1 + k % 2)(drills(tipo)(rng.nextInt(drills(tipo).size)))
          }.drop(c * 10 / clients)
          do {
            val r = requests.next()
            Try(serve(r, serial = false)) match {
              case Success(s) =>
                samples.add(Sample(r.endpoint, s, traced))
                if (Check.hash(s.rows.toSeq) != expected(r.key))
                  failures.add(s"${r.key}: response differs from the warm-up's")
              case scala.util.Failure(e) =>
                errored.incrementAndGet()
                failures.add(s"${r.key}: $e")
            }
          } while (System.nanoTime() < deadline)
        }, s"perfbench-client-$c")
        t.start()
        t
      }
      threads.foreach(_.join())
      if (traced) tracedNs += System.nanoTime() - b0 else untracedNs += System.nanoTime() - b0
    })
    tracer.setActive(false)

    import scala.jdk.CollectionConverters._
    val all = samples.asScala.toSeq
    res.attempted += all.size + errored.get()
    failures.asScala.foreach(res.fail)
    all.groupBy(_.endpoint).toSeq.sortBy(_._1).foreach { case (e, xs) =>
      val l = xs.map(x => Stats.ms(x.s.totalNs))
      System.err.println(f"[perfbench] $e%-18s n=${l.size}%3d p50=${Stats.median(l)}%7.1f ms max=${l.max}%7.1f ms")
    }
    val lat = all.filterNot(_.traced).map(s => Stats.ms(s.s.totalNs))
    res.put("serve_p50_ms", Stats.median(lat), "ms", lat.size)
    res.put("serve_p90_ms", Stats.quantile(lat, 0.9), "ms", lat.size)
    res.put("serve_rps", lat.size / (untracedNs / 1e9), "1/s", lat.size)

    if (tracer.enabled) {
      val traced = all.filter(_.traced)
      // overhead as a time ratio: untraced over traced throughput
      res.put("trace.overhead_ratio", (lat.size / (untracedNs / 1e9)) / (traced.size / (tracedNs / 1e9)),
        "ratio")
      val n = traced.size.max(1)
      res.put("serve.build_ms", Stats.median(traced.map(x => Stats.ms(x.s.buildNs))), "ms", traced.size)
      res.put("serve.plan_ms", Stats.median(traced.map(x => Stats.ms(x.s.planNs))), "ms", traced.size)
      res.put("serve.exec_ms", Stats.median(traced.map(x => Stats.ms(x.s.execNs))), "ms", traced.size)
      val serveTotals = tracer.totals().filter(_._1.startsWith("serve.")).values
      res.put("serve.jobs_per_req", serveTotals.map(_.jobs).sum.toDouble / n, "count", traced.size)
      res.put("serve.tasks_per_req", serveTotals.map(_.tasks).sum.toDouble / n, "count", traced.size)
      val rowsOut = traced.map(_.s.rows.length.toLong).sum.max(1L)
      res.put("serve.rows_read_per_row_out", serveTotals.map(_.recordsRead).sum.toDouble / rowsOut, "ratio")
      Endpoints.foreach { e =>
        val l = traced.filter(_.endpoint == e).map(x => Stats.ms(x.s.totalNs))
        if (l.nonEmpty) res.put(s"serve.$e.p50_ms", Stats.median(l), "ms", l.size)
      }
    }
    tracedNs
  }

  // ------------------------------------------------------------ daily phase
  /** Simulated days until the window is used, then the replay check;
    * returns the traced wall nanos.
    */
  private def daily(): Long = {
    val (hOps, hSegs) = gen.history
    var prev = Map("operativas" -> hOps.takeRight(DayPageSize), "seguridad" -> hSegs.takeRight(DayPageSize))
    final case class Day(ns: Long, syncs: Map[String, Synced], transitionNs: Long)
    val days = mutable.ArrayBuffer.empty[Day]
    var lastStreams = Map.empty[String, IndexedSeq[String]]
    tracer.setActive(tracer.enabled)
    val t0 = System.nanoTime()
    var d = 0
    while (d < MinDays || System.nanoTime() - t0 < seconds * 1e9) Phase(s"day $d") {
      val (ops, segs) = gen.day(d)
      val fresh = Map("operativas" -> ops, "seguridad" -> segs)
      val streams = Tipos.map(t => t -> (prev(t) ++ fresh(t)).map(_.json)).toMap
      val start = System.nanoTime()
      val syncs = Tipos.map(t => t -> fetchAndSync(streams(t), DayPageSize, t)).toMap
      val (moved, transitionNs) = tracer.call("transition")(CasEtl.periodTransition(wh))
      val (active, _) = tracer.call("refresh.active")(
        wh.periodos.filter(col("activo")).select("id").collect().map(_.getInt(0)).toSeq)
      val refresh = active.headOption.toSeq.flatMap(refreshReqs).map(r => (r, serve(r, serial = true)))
      days += Day(System.nanoTime() - start, syncs, transitionNs)

      gen.loaded(ops)
      gen.loaded(segs)
      val wantMoved = gen.transition()
      val syncOk = Tipos.forall { t =>
        val r = syncs(t).r
        val ok = r.fetched == streams(t).size && r.nuevos == fresh(t).size &&
          r.detalles == CasGen.detailsPer(t) * fresh(t).size
        if (!ok) res.explain(s"day $d: $t sync $r for ${streams(t).size} served, ${fresh(t).size} new")
        ok
      }
      val ok = syncOk && checkCounts(s"day $d") &&
        moved == wantMoved && active == Seq(gen.activePeriod) &&
        refresh.forall { case (r, s) => kpisOk(r, s.rows) }
      res.op(ok, s"day $d: transition $moved (expected $wantMoved), active $active")
      prev = fresh.map { case (t, s) => t -> s.takeRight(DayPageSize) }
      lastStreams = streams
      d += 1
    }
    val dailyNs = System.nanoTime() - t0

    // replay of the last day: must load nothing and change no data
    val (before, replays, replayNs, after) = Phase("replay") {
      val before = contentHash()
      val (replays, replayNs) = tracer.call("replay") {
        Tipos.map(t => CasEtl.sync(wh, PagedFetch.toRawJson(spark, lastStreams(t)), t))
      }
      tracer.setActive(false)
      (before, replays, replayNs, contentHash())
    }
    res.op(replays.forall(r => r.nuevos == 0 && r.detalles == 0) && before == after,
      s"replay: $replays, content ${if (before == after) "unchanged" else "changed"}")

    res.put("day_p50_s", Stats.median(days.map(x => Stats.s(x.ns))), "s", days.size)
    res.put("ingest_pass_s", Stats.median(days.map(x => Stats.s(x.syncs.values.map(_.syncNs).sum))), "s",
      days.size)
    if (tracer.enabled) {
      val totals = tracer.totals()
      def tot(prefix: String) = totals.filter(_._1.startsWith(prefix)).values
      val syncs = days.size * Tipos.size
      res.put("fetch.ms", Stats.median(days.flatMap(_.syncs.values.map(x => Stats.ms(x.fetchNs)))), "ms", syncs)
      res.put("fetch.pages", days.flatMap(_.syncs.values.map(_.pages)).sum.toDouble / syncs, "count")
      for (t <- Tipos)
        res.put(s"sync.${t}_s", Stats.median(days.map(x => Stats.s(x.syncs(t).syncNs))), "s", days.size)
      res.put("sync.jobs", tot("sync.").map(_.jobs).sum.toDouble / syncs, "count")
      res.put("sync.tasks", tot("sync.").map(_.tasks).sum.toDouble / syncs, "count")
      res.put("sync.task_s", tot("sync.").map(_.taskMs).sum / 1e3 / syncs, "s")
      res.put("transition.s", Stats.median(days.map(x => Stats.s(x.transitionNs))), "s", days.size)
      res.put("transition.jobs", tot("transition").map(_.jobs).sum.toDouble / days.size, "count")
      res.put("replay.s", Stats.s(replayNs), "s")
    }
    if (tracer.enabled) dailyNs + replayNs else 0L
  }
}

object CasBench {
  val Tipos: Seq[String] = Seq("operativas", "seguridad")
  val HistoryPerTipo: Int = 200
  val PerDay = 12
  /** Day 0 completes the active period's coverage, so its transition takes
    * the rewrite path, which the set-up's transition has warmed; later days
    * take the early exit.
    */
  val MinDays = 1
  /** Page size of a day's stream: each day re-serves one page of the day before. */
  val DayPageSize = 5
  val Hoy: java.sql.Date = java.sql.Date.valueOf("2091-07-15")
  val Endpoints: Seq[String] = Seq("kpis", "rankingGrupos", "rankingSucursales", "historicoHeatmap",
    "alertas", "mapa", "periodoContexto", "periodosList", "estados", "detalleSucursal",
    "trendSucursal", "supervisionAreas")
  private val DataTables: Seq[(String, Warehouse => DataFrame)] = Seq(
    "supervisiones_operativas" -> (_.supervisiones("operativas")),
    "supervisiones_seguridad" -> (_.supervisiones("seguridad")),
    "supervision_areas" -> (_.detalle("operativas")),
    "seguridad_kpis" -> (_.detalle("seguridad")),
    "periodos_cas" -> (_.periodos))
}
