package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A second writer (another JVM/pipeline) attempted a mutating warehouse
  * operation while this warehouse's writer lease was held. The
  * single-writer contract is now CHECKED, not conventional — see
  * [[Warehouse]]'s lease section.
  */
class ConcurrentWriterException(msg: String) extends IllegalStateException(msg)

object Warehouse {
  /** JVM-stable writer identity: every Warehouse instance in this process
    * is ONE writer (the deployment unit is a pipeline process), so
    * nested/sequential operations across instances re-enter the same
    * lease instead of self-colliding; the lease guards CROSS-PROCESS
    * concurrency, which is the corruption hazard (two vacuums
    * interleaving their keep-set deletes).
    */
  private[etl] val OwnerId: String =
    s"${java.lang.ProcessHandle.current().pid()}@" +
      s"${java.net.InetAddress.getLocalHost.getHostName}/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** Lease freshness window: a lease file older than this is presumed
    * abandoned (crashed writer) and is stolen with a log line. Generous
    * relative to any maintenance op at test scale.
    */
  private[etl] val LeaseTtlMs: Long = 15 * 60 * 1000L

  /** Committed versions a pointer file lists (its reader window). */
  private val PointerWindow = 16

  private def pointerPath(dir: Path, name: String) = new Path(dir, s"$name.__current")

  /** `name`'s version directories, by PARSED numeric suffix (name order
    * diverges from it once the counter outgrows the %06d padding).
    */
  private def listVersions(fs: FileSystem, dir: Path, name: String): Seq[(Long, Path)] = {
    val stats = try fs.globStatus(new Path(dir, s"$name.__v*"))
                catch { case _: java.io.IOException => null }
    Option(stats).map(_.toSeq).getOrElse(Nil).flatMap { st =>
      st.getPath.getName.stripPrefix(s"$name.__v").toLongOption.map(_ -> st.getPath)
    }.sortBy(_._1)
  }

  /** The committed versions `name`'s pointer lists, oldest→newest, the
    * live one last; Nil when there is no pointer. A one-line pointer
    * (the format before the pointer carried the window) reads as a
    * one-entry window.
    */
  private def pointerWindow(fs: FileSystem, dir: Path, name: String): Seq[String] =
    try {
      val in = fs.open(pointerPath(dir, name))
      try new String(in.readAllBytes(), "UTF-8").linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => Nil }

  private def resolveFrom(fs: FileSystem, dir: Path, name: String, window: Seq[String],
                          versions: => Seq[(Long, Path)]): Path =
    window.lastOption.map(new Path(dir, _)).filter(fs.exists)
      .orElse(versions.reverse.collectFirst {
        case (_, p) if fs.exists(new Path(p, "_SUCCESS")) => p
      })
      .getOrElse(new Path(dir, name))

  /** The directory currently holding `name`'s data in the warehouse at
    * `dir`: the pointer's live entry; else crash recovery (newest version
    * with a `_SUCCESS` marker); else the flat append-layout directory
    * `dir/name` — where every append-only CAS table (`supervisiones_*`,
    * `supervision_areas`, `seguridad_kpis`, `sync_log`) lives, since the
    * daily path never rewrites them. Takes the FileSystem so the DuckDB
    * oracle, which has no Spark session, resolves through the same code.
    */
  def resolve(fs: FileSystem, dir: Path, name: String): Path =
    resolveFrom(fs, dir, name, pointerWindow(fs, dir, name), listVersions(fs, dir, name))
}

/** Parquet-backed warehouse with empty-safe reads: a table that has never
  * been written reads as an empty frame with the right schema, so every
  * anti-join and count works on first run (the reference gets this from
  * pre-existing Postgres tables, README.md:74-84).
  *
  * Rewritten tables are VERSIONED: each `rewrite` lands a fresh
  * `name.__vNNNNNN` directory and then replaces the pointer file
  * `name.__current`, the table's one commit record. The pointer lists
  * the committed versions oldest→newest (at most 16); its last line is
  * the live version, and the lines before it are the reader window
  * retention GC keeps. The pointer rename is the only commit step, so a
  * crash at any moment leaves either the old pointer (old data intact) or
  * no pointer — recovered by picking the newest version directory that
  * carries Spark's `_SUCCESS` marker, with every version directory then
  * counted as committed. At no point is the table absent. Concurrent
  * commits to one table are ruled out by the writer lease. All path
  * operations go through Hadoop's FileSystem API, so the same code runs
  * against HDFS/S3A/ABFS, not just the local disk used in tests.
  */
case class Warehouse(spark: SparkSession, dir: String) extends CasTables {

  private def path(name: String) = s"$dir/$name"

  private def hconf = spark.sessionState.newHadoopConf()
  private def root = new Path(dir)
  private def fs: FileSystem = root.getFileSystem(hconf)

  private def versionName(name: String, v: Long) = f"$name.__v$v%06d"

  // ------------------------------------------------------- writer lease
  /** The single-writer contract, ENFORCED: every mutating operation
    * (rewrite / appendLive / compact / vacuum / vacuumAll) runs under a
    * warehouse-wide lease file. A second PROCESS attempting a mutation
    * while the lease is fresh gets a loud [[ConcurrentWriterException]]
    * instead of silently interleaving version GC with another writer's
    * keep-set (the unrecoverable outcome the old quiescence convention
    * merely documented). Within one process the lease is re-entrant (one
    * [[Warehouse.OwnerId]] per JVM — compact's internal rewrite,
    * vacuumAll's per-table vacuums). A lease older than
    * [[Warehouse.LeaseTtlMs]] is presumed abandoned by a crashed writer
    * and stolen with a log line. Expiry reads the lease file's MTIME, not
    * embedded clocks, so skewed writers disagree by FS granularity, not
    * wall-clock drift.
    */
  private def leasePath = new Path(dir, "__writer.lease")

  private def leaseInfo(): Option[(String, Long)] =
    try {
      val st = fs.getFileStatus(leasePath)
      val owner =
        try {
          val in = fs.open(leasePath)
          try new String(in.readAllBytes(), "UTF-8").linesIterator.nextOption().getOrElse("")
          finally in.close()
        } catch { case _: java.io.IOException => "" }
      Some((owner, st.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }

  private def createLease(op: String): Unit = {
    val out = fs.create(leasePath, false) // create-exclusive: loses the race loudly
    try out.write(s"${Warehouse.OwnerId}\n$op\n".getBytes("UTF-8")) finally out.close()
  }

  /** Acquire (or re-enter) the writer lease. Returns true iff THIS call
    * created the file and must delete it on release.
    */
  private def acquireWriterLease(op: String): Boolean = leaseInfo() match {
    case Some((owner, _)) if owner == Warehouse.OwnerId =>
      false // re-entrant: the outer operation releases
    case Some((owner, mtime))
      if System.currentTimeMillis() - mtime <= Warehouse.LeaseTtlMs =>
      throw new ConcurrentWriterException(
        s"warehouse $dir is write-locked by '$owner' " +
          s"(lease ${System.currentTimeMillis() - mtime} ms old, ttl ${Warehouse.LeaseTtlMs} ms); " +
          s"refusing concurrent '$op' — two writers interleaving retention GC corrupts version history")
    case Some((owner, _)) =>
      System.err.println(s"[warehouse] stealing expired writer lease of '$owner' at $dir for '$op'")
      fs.delete(leasePath, false)
      try { createLease(op); true }
      catch { case _: java.io.IOException =>
        throw new ConcurrentWriterException(
          s"warehouse $dir: lost the steal race for the expired lease; refusing '$op'") }
    case None =>
      try { createLease(op); true }
      catch { case _: java.io.IOException =>
        throw new ConcurrentWriterException(
          s"warehouse $dir: another writer acquired the lease concurrently; refusing '$op'") }
  }

  private def releaseWriterLease(): Unit =
    try {
      if (leaseInfo().exists(_._1 == Warehouse.OwnerId)) fs.delete(leasePath, false)
    } catch { case _: java.io.IOException => () }

  private def withWriterLease[T](op: String)(body: => T): T = {
    val acquired = acquireWriterLease(op)
    try {
      if (acquired) fs.delete(generationPath, false)
      body
    } finally if (acquired) {
      writeGeneration()
      releaseWriterLease()
    }
  }

  /** Hold the writer lease across a MULTI-TABLE advance whose individual
    * writes dispatch from several threads (the ingest's concurrent
    * appends). Re-entrancy is keyed on the per-JVM [[Warehouse.OwnerId]],
    * so the inner appendLive calls re-enter regardless of thread — but
    * WITHOUT an outer holder, two fresh threads racing the create-
    * exclusive would throw [[ConcurrentWriterException]] against their
    * own process, and the first finisher would release the lease out
    * from under the others. The outer scope closes both: one acquire,
    * one release, after every branch lands.
    */
  private[graft] def withWriterScope[T](op: String)(body: => T): T =
    withWriterLease(op)(body)

  // ------------------------------------------------- commit generation
  /** The warehouse's one commit-generation record: a token unique to the
    * writer scope that wrote it. The outermost writer scope deletes it on
    * entry and writes a fresh token on exit, thrown or not, before it
    * releases the lease, so the record exists only while no writer scope
    * is open and a writer that dies inside its scope leaves none. A reader
    * that finds the token it saw last knows that nothing was committed
    * since, from one file open; a reader that finds no record knows
    * nothing and must resolve every table afresh.
    */
  private def generationPath = new Path(dir, "__generation")
  private def generationTmp = new Path(dir, "__generation.tmp")

  private def writeGeneration(): Unit =
    try {
      val tmp = generationTmp
      val out = fs.create(tmp, true)
      try out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8")) finally out.close()
      fs.rename(tmp, generationPath)
    } catch { case _: java.io.IOException => () } // no record: readers resolve afresh

  private def readGeneration(): Option[String] =
    try {
      val in = fs.open(generationPath)
      try Some(new String(in.readAllBytes(), "UTF-8")).filter(_.nonEmpty) finally in.close()
    } catch { case _: java.io.IOException => None }

  /** The tables as of the last commit, for serving reads: the snapshot
    * this warehouse handed out last while the generation record and the
    * session's modifiable settings are unchanged, else a fresh one. With
    * no record (a writer scope is open, or one died) a fresh snapshot that
    * is not kept, so every request resolves its tables afresh.
    */
  def snapshot(): CasTables = {
    val settings = graft.core.CompileFree.settings(spark)
    readGeneration() match {
      case None => new Snapshot
      case Some(token) => synchronized {
        served.collect { case (`token`, `settings`, s) => s }.getOrElse {
          val s = new Snapshot
          served = Some((token, settings, s))
          s
        }
      }
    }
  }

  private var served: Option[(String, Map[String, String], Snapshot)] = None

  /** The served tables of one commit generation, resolved once. When every
    * one of them passes [[graft.core.CompileFree.fits]] (at most the
    * caller's broadcast threshold in committed parquet bytes), each is
    * collected on first use and held as a driver-local relation in one
    * partition of the compile-free session, so every aggregate, window,
    * sort and join over it is planned without an exchange and compiles
    * nothing. Otherwise every table is read from its files in the caller's
    * session, with generated code, as [[read]] does. Nothing is persisted.
    */
  private final class Snapshot extends CasTables {
    private val session = graft.core.CompileFree.session(spark)
    private val committed = CasTables.Served.map { case (n, schema) => n -> readFiles(session, n, schema) }.toMap
    private val held = graft.core.CompileFree.fits(spark,
      committed.values.flatten.map(_.queryExecution.analyzed.stats.sizeInBytes))
    private val tables = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

    def read(name: String, schema: StructType): DataFrame = tables.computeIfAbsent(name, _ =>
      if (!held) Warehouse.this.read(name, schema)
      else {
        val rows = committed.getOrElse(name, readFiles(session, name, schema))
          .fold(java.util.List.of[Row]())(_.collectAsList())
        session.createDataFrame(rows, schema).coalesce(1)
      })
  }

  private def resolve(name: String): Path = Warehouse.resolve(fs, root, name)

  /** `name`'s version directories, its committed window (oldest→newest)
    * and the directory readers resolve now, from one pointer read.
    * Without a pointer (a crash between its delete and its rename) every
    * version directory counts as committed: any of them may be what a
    * reader resolved.
    */
  private def committedState(name: String): (Seq[(Long, Path)], Seq[String], Path) = {
    val f = fs
    val versions = Warehouse.listVersions(f, root, name)
    val pointer = Warehouse.pointerWindow(f, root, name)
    val live = Warehouse.resolveFrom(f, root, name, pointer, versions)
    (versions, if (pointer.nonEmpty) pointer else versions.map(_._2.getName), live)
  }

  private def hasParquet(p: Path): Boolean =
    fs.exists(p) && (
      // every committed rewrite lands a _SUCCESS marker in the version
      // dir — one existence probe answers "is there a committed write
      // here" without listing anything. The per-entry probe below is the
      // fallback for flat append-layout dirs (no marker), where on an
      // object store it costs up to one LIST per col=value subdirectory.
      fs.exists(new Path(p, "_SUCCESS")) ||
        fs.listStatus(p).exists { st =>
          st.getPath.getName.endsWith(".parquet") ||
            // Hive-layout versioned tables (rewrite(..., partitionBy)): data
            // files live one level down, under col=value dirs
            (st.isDirectory && st.getPath.getName.contains("=") &&
              fs.listStatus(st.getPath).exists(_.getPath.getName.endsWith(".parquet")))
        })

  /** `name`'s committed files read in `session`, or None while it has no
    * parquet.
    */
  private def readFiles(session: SparkSession, name: String, schema: StructType): Option[DataFrame] = {
    val p = resolve(name)
    if (hasParquet(p)) Some(session.read.schema(schema).parquet(p.toString)) else None
  }

  def read(name: String, schema: StructType): DataFrame =
    readFiles(spark, name, schema).getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  def append(name: String, df: DataFrame): Unit =
    withWriterLease(s"append:$name") {
      df.write.mode("append").parquet(resolve(name).toString)
    }

  /** Append into the directory `name` currently RESOLVES to — for a
    * versioned table, its live version dir — the grow-in-place path for
    * append-only artifacts (IVF inverted lists, the LSH band index): a
    * batch's rows land in their existing partition subdirectories without
    * rewriting the settled corpus's files. NOT atomic like [[rewrite]]:
    * a crash mid-append can leave a partial batch on disk, so callers
    * MUST be replay-idempotent (both callers anti-join what is already
    * there before appending — the reference ETL's idempotent-upsert
    * posture). Concurrent readers of the live version see the batch's
    * rows appear file-by-file; full snapshot isolation needs [[rewrite]].
    * Note for [[graft.queries.StampedTable]]-managed tables: appended
    * rows carry the APPEND-TIME stamp, so the table holds mixed stamps
    * and a later plain ensure may spuriously re-materialize (safe — the
    * rebuild is the fallback, never wrong data).
    */
  def appendLive(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit =
    withWriterLease(s"appendLive:$name") {
      // same one-file-per-touched-dir shaping as [[rewrite]]: a batch
      // left on its arrival partitioning writes (tasks holding the dir's
      // rows) files per dir per batch, and a year of appends turns every
      // partition dir into thousands of files before compact can catch
      // up. The shuffle is batch-sized — the cheapest stage of any
      // append.
      val shaped =
        if (partitionBy.nonEmpty) df.repartition(partitionBy.map(df.col): _*) else df
      shaped.write.mode("append")
        .option("maxRecordsPerFile", MaxRecordsPerFile)
        .partitionBy(partitionBy: _*).parquet(resolve(name).toString)
    }

  /** Compact a table grown by [[appendLive]]: re-commit the live rows as
    * ONE fresh generation with the per-batch file litter coalesced — at
    * scale every append leaves ≥ 1 file per touched partition per batch,
    * and a year of daily batches turns each partition directory into
    * hundreds of small files whose open/footer overhead dominates the
    * probe reads this layout exists to keep cheap. Rows (ALL columns,
    * including any stamp column) are preserved verbatim; partitioned
    * tables are shuffled onto their partition columns so each `col=value`
    * directory lands as one task's output (a directory larger than one
    * task's budget wants `spark.sql.files.maxRecordsPerFile` on top),
    * unpartitioned tables coalesce to `numFiles`. Readers are never
    * torn: this is the same pointer-flip commit as [[rewrite]] — the
    * appended generation keeps serving until the compacted one commits,
    * and a crash mid-compact leaves it live (the reference's posture of
    * VACUUM-equivalents never blocking reads).
    */
  def compact(name: String, schema: StructType, partitionBy: Seq[String] = Nil,
              numFiles: Int = 1): Unit = withWriterLease(s"compact:$name") {
    val df = read(name, schema)
    // partitioned tables: [[rewrite]] itself packs one file per
    // `col=value` dir now — no second shuffle here
    val packed = if (partitionBy.nonEmpty) df else df.repartition(numFiles)
    rewrite(name, packed, partitionBy)
  }

  /** Small control/dimension tables are rewritten atomically per run
    * (checkpoints, sync_log rollups, periodos after a transition): write a
    * new version directory, flip the pointer, GC superseded versions.
    * The new version is a different directory, so a rewrite whose input
    * lineage reads the table it replaces (periodos, checkpoints) never
    * overwrites what it is still reading.
    */
  def rewrite(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = withWriterLease(s"rewrite:$name") {
    // what readers resolved BEFORE this rewrite (pointer, crash-recovered
    // version, or the flat append dir) — the one directory GC must keep
    // besides the window
    val (versions, committed, prevLive) = committedState(name)
    val vname = versionName(name, versions.lastOption.map(_._1).getOrElse(0L) + 1)
    // partitionBy gives a versioned table the Hive layout (col=value dirs
    // inside the version dir) so partition-pruned reads work under the
    // same pointer-flip commit — the IVF inverted-list table's shape.
    // Shuffle onto the partition columns FIRST: without it every write
    // task fans a file into every partition dir it holds rows for —
    // shuffle.partitions × |values| tiny files from a single seed
    // (measured: a bits=13 seed wrote 144k sub-2KB files, and the
    // open/footer overhead of that litter is exactly what this layout's
    // probe reads must not pay; on an object store it is fatal). One
    // value → one task → one file per dir; a skewed giant partition
    // still splits via maxRecordsPerFile rather than stalling a reader
    // on one huge file. Probe-index tables are value-partitioned fine-
    // grained (hundreds to thousands of dirs), so task parallelism
    // survives the shuffle.
    val shaped =
      if (partitionBy.nonEmpty) df.repartition(partitionBy.map(df.col): _*) else df
    shaped.write.mode("overwrite")
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .partitionBy(partitionBy: _*).parquet(path(vname))

    // commit: the new window into the tmp pointer, then rename. Rename
    // is atomic on local FS and HDFS; between delete and rename there is
    // no pointer, and resolve() then picks this newest _SUCCESS-marked
    // version — still consistent.
    val window = (committed :+ vname).takeRight(Warehouse.PointerWindow)
    val ptr = Warehouse.pointerPath(root, name)
    val tmp = new Path(dir, s"$name.__current.tmp")
    val out = fs.create(tmp, true)
    try out.write(window.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    fs.delete(ptr, false)
    if (!fs.rename(tmp, ptr))
      throw new java.io.IOException(s"rewrite of $name failed to commit pointer")

    // best-effort GC keeps what pre-rewrite readers resolved (prevLive, by
    // identity — NOT by version number, which a stray uncommitted dir from
    // a crashed write would shift) AND the newest RetainVersions entries
    // of the committed window (a stray dir never occupies a window slot,
    // since no reader can have resolved it through the pointer): a
    // DataFrame whose scan resolved TWO OR MORE rewrites ago may still be
    // unevaluated, and a one-generation window would delete its files
    // mid-flight — the very hazard versioning removes. Strays are swept
    // here; multi-generation reclamation belongs solely to `vacuum`, which
    // the caller invokes when no older readers can exist.
    val keep = (window.takeRight(RetainVersions) :+ prevLive.getName).toSet
    versions.foreach { case (_, p) => if (!keep.contains(p.getName)) fs.delete(p, true) }
  }

  /** Committed versions `rewrite` retains, the live one included —
    * bounds how far behind a still-unevaluated reader plan may lag
    * (RetainVersions - 1 rewrites) before only `vacuum` (not a routine
    * rewrite) could break it.
    */
  val RetainVersions = 3

  /** Per-file row cap on the one-task-per-partition-value layout
    * [[rewrite]]/[[appendLive]] shape into: a skewed partition value
    * splits into bounded files instead of becoming one unsplittable
    * multi-GB parquet (a reader can parallelize across files; it cannot
    * parallelize a single row group it has to open). 5M rows ≈
    * 100-500 MB of the row shapes these tables hold.
    */
  val MaxRecordsPerFile = 5000000L

  /** Reclaim all superseded storage for `name` (older versions and the
    * flat append directory). Call when no reader holds a plan resolved
    * before the last rewrite — e.g. between runs. Keeps whatever
    * [[resolve]] currently returns — in the crash window with no pointer,
    * that is the newest complete version, never nothing. The pointer is
    * left as it is: the entries it lists before the live one may name
    * reclaimed versions, which are older than every survivor, so they
    * never take a retention slot from one.
    */
  def vacuum(name: String): Unit = withWriterLease(s"vacuum:$name") {
    val (versions, _, liveDir) = committedState(name)
    val live = liveDir.getName
    versions.foreach { case (_, p) => if (p.getName != live) fs.delete(p, true) }
    val flat = new Path(dir, name)
    if (live != name && fs.exists(flat)) fs.delete(flat, true)
    // the fixed-name tmps a rewrite or a writer scope's exit crashed
    // between create and rename would leave (one file each at most)
    fs.delete(new Path(dir, s"$name.__current.tmp"), false)
    fs.delete(generationTmp, false)
  }

  /** Bounded-retention reclamation — [[vacuum]] for tables that keep
    * being rewritten BETWEEN full quiesces (the lifecycle warehouses
    * rewrite their state tables per batch, and routine rewrites only ever
    * sweep strays, so generations otherwise accumulate until a quiescent
    * moment that may never come). Keeps whatever [[resolve]] currently
    * returns (in the crash window with no pointer, that is the newest
    * complete version — a live target is NEVER deleted) plus the newest
    * `retainLast` entries of the pointer's committed window BESIDES live
    * (live-exclusive, so the window is not silently one narrower when
    * live is itself the newest committed generation — the usual case),
    * so a still-unevaluated reader plan up to `retainLast` rewrites old
    * keeps resolving. Like [[vacuum]], assumes no concurrent WRITER on
    * this table (an uncommitted in-flight version dir reads as a stray
    * and would be swept); readers are safe within the retention window.
    * `retainLast <= 0` degrades to the full [[vacuum]].
    */
  def vacuum(name: String, retainLast: Int): Unit = withWriterLease(s"vacuum:$name:$retainLast") {
    if (retainLast <= 0) vacuum(name) // re-enters the held lease
    else {
      val (versions, committed, liveDir) = committedState(name)
      val live = liveDir.getName
      val keep = (committed.filterNot(_ == live).takeRight(retainLast) :+ live).toSet
      versions.foreach { case (_, p) => if (!keep.contains(p.getName)) fs.delete(p, true) }
      // the flat append dir is a generation like any other: reclaim it
      // only when neither live nor the retention window still names it
      val flat = new Path(dir, name)
      if (!keep.contains(name) && fs.exists(flat) && fs.getFileStatus(flat).isDirectory)
        fs.delete(flat, true)
    }
  }

  /** [[vacuum]](name, retainLast) for EVERY versioned table of this
    * warehouse — names discovered from pointer files and version-dir
    * prefixes (a table that lost its pointer mid-crash is still found
    * and its newest complete version still kept). The bounded-retention
    * maintenance pass a deployment schedules against a state warehouse;
    * same quiescence contract as [[vacuum]].
    */
  def vacuumAll(retainLast: Int): Unit = withWriterLease(s"vacuumAll:$retainLast") {
    def names(glob: String, strip: String => Option[String]): Seq[String] = {
      val stats = try fs.globStatus(new Path(dir, glob))
                  catch { case _: java.io.IOException => null }
      Option(stats).map(_.toSeq).getOrElse(Nil)
        .flatMap(st => strip(st.getPath.getName))
    }
    val fromPointers = names("*.__current", n => Some(n.stripSuffix(".__current")))
    val fromVersions = names("*.__v*", { n =>
      val i = n.lastIndexOf(".__v")
      if (i > 0 && n.drop(i + 4).forall(_.isDigit)) Some(n.take(i)) else None
    })
    (fromPointers ++ fromVersions).distinct.foreach(vacuum(_, retainLast))
  }

  def checkpoints: DataFrame = read("sync_checkpoints", CasSchema.checkpoints)
  def syncLog: DataFrame     = read("sync_log", CasSchema.syncLog)
}

/** The served CAS tables by name, over whatever [[read]] resolves them
  * through: a [[Warehouse]] (every read resolved afresh) or one of its
  * snapshots.
  */
trait CasTables {
  def read(name: String, schema: StructType): DataFrame

  def supervisiones(tipo: String): DataFrame =
    read(s"supervisiones_$tipo", CasSchema.supervisiones)
  def detalle(tipo: String): DataFrame =
    read(if (tipo == "operativas") "supervision_areas" else "seguridad_kpis", CasSchema.detalle)
  def periodos: DataFrame   = read("periodos_cas", CasSchema.periodos)
  def grupos: DataFrame     = read("grupos_operativos", CasSchema.grupos)
  def sucursales: DataFrame = read("sucursales", CasSchema.sucursales)
  def catalogo(tipo: String): DataFrame =
    read(if (tipo == "operativas") "catalogo_areas" else "catalogo_kpis_seguridad", CasSchema.catalogo)
}

object CasTables {
  /** Every table the accessors read for the two supervision types, with
    * its schema: what a snapshot resolves.
    */
  val Served: Seq[(String, StructType)] = Seq(
    "periodos_cas" -> CasSchema.periodos,
    "grupos_operativos" -> CasSchema.grupos,
    "sucursales" -> CasSchema.sucursales,
    "supervisiones_operativas" -> CasSchema.supervisiones,
    "supervisiones_seguridad" -> CasSchema.supervisiones,
    "supervision_areas" -> CasSchema.detalle,
    "seguridad_kpis" -> CasSchema.detalle,
    "catalogo_areas" -> CasSchema.catalogo,
    "catalogo_kpis_seguridad" -> CasSchema.catalogo)
}
