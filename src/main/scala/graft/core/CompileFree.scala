package graft.core

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

/** Planning small inputs without generated code: the one size rule and the
  * one session that the serving snapshot ([[graft.etl.Warehouse.snapshot]])
  * and the lifecycle entries ([[run]]) share.
  *
  * Spark compiles a class for every new whole-stage pipeline, projection,
  * predicate and ordering, and the JVM-wide cache of compiled classes holds
  * 100 (`spark.sql.codegen.cache.maxEntries`, a static setting that only the
  * creator of the JVM's first session can raise). A workload whose distinct
  * plans generate more than that evicts its own classes before it reuses
  * them, and recompiles them on every pass. Measured on a 4-core box: one
  * pass over the dashboard's 32 distinct requests recompiled ~285 classes
  * (Janino 30 % of the serving CPU samples, source generation 10 %, at
  * ~1 s p50), and every t41 ingest op recompiled 123-125 classes and every
  * t55 op 133-137. Over inputs this small, interpreted operators cost less
  * than compiling them, and less even than reusing cached code: with
  * codegen off the `lifecycle-ingest` pass fell from 8.7 s to 5.6 s, where
  * a 5,000-entry cache (0 compiles per repeated op) gave 6.0 s.
  */
object CompileFree {

  private val NoCodegen = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    // wholeStage=false alone still compiles every projection, predicate and
    // ordering; this is what turns those off. Spark marks it internal, so a
    // Spark upgrade has to re-check it (CasSnapshotSpec and
    // CompileFreeLifecycleSpec count the compiles).
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private var last: Option[SparkSession] = None

  /** The settings of `spark` a session can change at runtime. */
  def settings(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) => spark.conf.isModifiable(k) }

  /** A session with `spark`'s modifiable settings and no generated code.
    * Only the last one made is kept. It is reused while it has the same
    * SparkContext as `spark` and its settings still equal the wanted ones;
    * a setting changed on either side since makes a new session, so a
    * setting an op changes and leaves changed reaches no later caller. A
    * session holds no compiled code or cached plan, so making one costs
    * only its settings.
    */
  def session(spark: SparkSession): SparkSession = {
    val wanted = settings(spark) ++ NoCodegen
    synchronized {
      last.filter(s => (s.sparkContext eq spark.sparkContext) && settings(s) == wanted).getOrElse {
        val s = spark.newSession()
        wanted.foreach { case (k, v) => s.conf.set(k, v) }
        last = Some(s)
        s
      }
    }
  }

  /** The size rule: `spark.sql.autoBroadcastJoinThreshold` is > 0 and every
    * input holds at most that many committed bytes, and at most `cap`. The
    * threshold bounds compressed bytes on disk, not memory: a held input is
    * its decoded rows, a multiple of that.
    */
  def fits(spark: SparkSession, committedBytes: Iterable[BigInt],
           cap: Long = Long.MaxValue): Boolean = {
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    limit > 0 && committedBytes.forall(_ <= limit.min(cap))
  }

  /** The cap [[run]] puts on each corpus table, in committed bytes: the
    * lifecycle side of the rule is set by measurement, not by the
    * broadcast threshold. An op's compile cost is fixed, while its
    * interpreted cost grows with its rows, so the two cross.
    * `graft.Bench`'s lifecycle rows, codegen vs compile-free, 4-core box,
    * corpora derived by `graft.tools.ScaleData`: at sf0.1 (documents
    * 584 KB, embeddings 780 KB) every entry that calls [[run]] ran faster
    * compile-free; at sf0.3 (1.7 MB, 1.6 MB) and sf1.0 (5.8 MB, 5.2 MB)
    * the four that verify cosine pairs (t40, t42, t43, t55) ran 1.35-1.5x
    * slower. The cap sits just over the largest corpus measured to win.
    */
  val LifecycleBytes: Long = 1000000L

  /** The bytes of the data files under `path` (names starting with `_` or
    * `.` are not data). A path that cannot be listed counts as over any
    * bound, so its op runs, and fails, in the caller's session.
    */
  private def committedBytes(spark: SparkSession, path: String): BigInt = {
    val p = new Path(path)
    try {
      val files = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
      var n = BigInt(0)
      while (files.hasNext) {
        val f = files.next()
        if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) n += f.getLen
      }
      n
    } catch { case _: java.io.IOException => BigInt(Long.MaxValue) }
  }

  /** `op` built whole in [[session]] when every one of `inputs` (paths of
    * the tables it reads) passes [[fits]] under [[LifecycleBytes]], else in
    * `spark`. Everything the op makes, the frame it returns included,
    * belongs to the session it was given, so no frame crosses sessions.
    */
  def run[T](spark: SparkSession, inputs: String*)(op: SparkSession => T): T =
    op(if (fits(spark, inputs.map(committedBytes(spark, _)), LifecycleBytes)) session(spark) else spark)
}
