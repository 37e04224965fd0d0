package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.pipelines.{ClusterState, IncrementalCuration}
import graft.queries.TextOps

/** The `lifecycle-ingest` workload: per-batch ingests of the persisted-
  * index lifecycle queries over a seeded corpus of the run's own.
  *
  * Set-up generates the corpus and seeds every query's persisted state
  * into the run's own index dir, then snapshots that dir. Before every
  * op the snapshot is restored, outside the timed region, so each timed
  * ingest starts from the same seeded state and never times a replay.
  * An op is the query call plus `queryExecution.toRdd.count()` (the
  * ingest, as `graft.Bench` forces it), then a timed `collect()` of the
  * maintained result: the batch's freshness read, the read a consumer makes.
  */
final class LifecycleBench(spark: SparkSession, work: Path, seed: Long, seconds: Double,
                           tracer: Tracer, res: Result) {
  import LifecycleBench._

  private val cores = spark.sparkContext.defaultParallelism
  private val corpus = work.resolve("corpus")
  private val dir = corpus.toString
  private val index = Path.of(sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
    sys.error("SPARK_GRAFT_INDEX_DIR must name the run's own index dir")))
  private val snapshot = work.resolve("index_seeded")
  private val outDir = work.resolve("life_out")

  // -------------------------------------------------------------- corpus
  private def writeCorpus(): Unit = {
    val rng = new java.util.Random(seed)
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until NDocs).foreach { i =>
      val t =
        if (i > 10 && rng.nextInt(100) < 2) texts(rng.nextInt(i))
        else if (i > 10 && rng.nextInt(100) < 8) {
          val w = texts(rng.nextInt(i)).split(' ')
          (0 until 1 + rng.nextInt(3)).foreach(_ => w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.size)))
          w.mkString(" ")
        } else Seq.fill(8 + rng.nextInt(80))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
      texts += t
    }
    val docs = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Langs(rng.nextInt(Langs.size)), s"src${i % 20}", t.length.toLong)
    }
    val centers = Array.fill(Labels)(unit(Array.fill(Dim)(rng.nextGaussian())))
    val vecs = mutable.ArrayBuffer.empty[(Array[Double], Int)]
    (0 until NVecs).foreach { i =>
      vecs += (if (i > 10 && rng.nextInt(100) < 8) {
        val (v, l) = vecs(rng.nextInt(i))
        (unit(v.map(_ + rng.nextGaussian() * 0.01)), l)
      } else {
        val l = rng.nextInt(Labels)
        (unit(centers(l).map(_ + rng.nextGaussian() * 0.12)), l)
      })
    }
    val embs = vecs.zipWithIndex.map { case ((v, l), i) => Row(i.toLong, v.map(_.toFloat).toSeq, l) }
    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
        .write.parquet(corpus.resolve(s"$name.parquet").toString)
    write(docs.toSeq, StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), "documents")
    write(embs.toSeq, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))), "embeddings")
  }

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  // --------------------------------------------------------------- state
  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
  }

  /** Parquet files under the index dir with their sizes. */
  private def stateFiles(): Map[String, Long] = {
    val walk = Files.walk(index)
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap
    finally walk.close()
  }

  private def rowsIn(files: Iterable[String]): Long = files.map { f =>
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f), spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }.sum

  private def restore(): Unit = {
    deleteTree(index)
    copyTree(snapshot, index)
  }

  /** Seeds every query's persisted state with the warm-up entries
    * `graft.Bench` uses, then snapshots the index dir.
    */
  def setup(): Unit = {
    Phase("corpus")(writeCorpus())
    val t0 = System.nanoTime()
    Queries.foreach(q => Phase(s"seed $q")(Seeds(q)(spark, dir)))
    res.put("life.seed_s", Stats.s(System.nanoTime() - t0), "s")
    copyTree(index, snapshot)
  }

  final case class Op(q: String, pass: Int, ingestNs: Long, readNs: Long, hash: String,
                      rowsAppended: Long, bytesAppended: Long, traced: Boolean)

  private def runOp(q: String, pass: Int, traced: Boolean): Op = {
    restore()
    val before = stateFiles()
    tracer.setActive(traced)
    val (df, ingestNs) = tracer.call(s"life.$q") {
      val df = SparkEntry.queries(q)(spark, dir)
      df.queryExecution.toRdd.count()
      df
    }
    val (rows, readNs) = tracer.call(s"read.$q")(df.collect())
    tracer.setActive(false)
    val added = stateFiles().filter { case (f, _) => !before.contains(f) }
    if (pass == 0) df.write.parquet(outDir.resolve(q).toString)
    Op(q, pass, ingestNs, readNs, Check.hash(rows.toSeq), rowsIn(added.keys),
      stateFiles().values.sum - before.values.sum, traced)
  }

  /** The untimed warm-up: one op per query. Its output hashes and
    * appended-row counts are the reference, and its outputs go to the
    * oracle check.
    */
  def warmUp(): Map[String, Op] =
    Queries.map(q => q -> Phase(s"warm-up $q")(runOp(q, 0, traced = false))).toMap

  def run(): Unit = {
    val ref = warmUp()
    val ops = mutable.ArrayBuffer.empty[Op]
    val jvm = new JvmSampler
    val t0 = System.nanoTime()
    var pass = 1
    val minPasses = if (tracer.enabled) 2 else 1
    while (pass <= minPasses || System.nanoTime() - t0 < seconds * 1e9) {
      Queries.zipWithIndex.foreach { case (q, i) =>
        val op = runOp(q, pass, traced = tracer.enabled && (i + pass) % 2 == 0)
        res.op(op.hash == ref(q).hash && op.rowsAppended == ref(q).rowsAppended,
          s"$q pass $pass: output ${op.hash} vs ${ref(q).hash}, appended ${op.rowsAppended} vs ${ref(q).rowsAppended} rows")
        ops += op
      }
      pass += 1
    }
    val (gcMs, heapMb) = jvm.finish()
    val oracles = SparkEntry.oracleSqlFor(dir)
    Files.writeString(outDir.resolve("oracle_sql.json"),
      Queries.map(q => Json.str(q) + ":" + Json.str(oracles(q))).mkString("{", ",", "}"))
    Files.writeString(outDir.resolve("ops.json"),
      Queries.map(q => Json.str(q) + ":" + ops.count(_.q == q)).mkString("{", ",", "}"))

    val plain = ops.filter(o => !tracer.enabled || !o.traced)
    // No request is served here, and one freshness read per query is too
    // few samples to be steady, so serve_* are the timed ingests' latencies.
    val ingests = plain.map(o => Stats.ms(o.ingestNs))
    res.put("serve_p50_ms", Stats.median(ingests), "ms", ingests.size)
    res.put("serve_p90_ms", Stats.quantile(ingests, 0.9), "ms", ingests.size)
    res.put("serve_rps", ingests.size / (ingests.sum / 1e3), "1/s", ingests.size)
    val cycles = plain.map(o => Stats.s(o.ingestNs + o.readNs))
    res.put("day_p50_s", Stats.median(cycles), "s", cycles.size)
    val passes = ops.groupBy(_.pass).values.toSeq.map(ps => Stats.s(ps.map(_.ingestNs).sum))
    res.put("ingest_pass_s", Stats.median(passes), "s", passes.size)

    if (tracer.enabled) {
      val totals = tracer.totals()
      val tr = ops.filter(_.traced)
      val ratios = Queries.flatMap { q =>
        val a = tr.filter(_.q == q).map(_.ingestNs.toDouble)
        val b = ops.filter(o => o.q == q && !o.traced).map(_.ingestNs.toDouble)
        if (a.nonEmpty && b.nonEmpty) Some(Stats.median(a) / Stats.median(b)) else None
      }
      res.put("trace.overhead_ratio", Stats.median(ratios), "ratio", ratios.size)
      Queries.foreach { q =>
        val mine = tr.filter(_.q == q)
        val t = totals.getOrElse(s"life.$q", new LayerTotals)
        val n = mine.size.max(1)
        res.put(s"life.$q.s", Stats.median(mine.map(o => Stats.s(o.ingestNs))), "s", mine.size)
        res.put(s"life.$q.jobs", t.jobs.toDouble / n, "count")
        res.put(s"life.$q.shuffle_mb", t.shuffleBytes / 1048576.0 / n, "MB")
        res.put(s"life.$q.spill_mb", t.spillBytes / 1048576.0 / n, "MB")
        res.put(s"life.$q.state_mb_appended", mine.map(_.bytesAppended).sum / 1048576.0 / n, "MB")
        res.put(s"life.$q.rows_appended", ref(q).rowsAppended.toDouble, "count")
      }
      tracer.putShared(res, tr.map(o => o.ingestNs + o.readNs).sum, cores, gcMs, heapMb)
      val files = stateFiles()
      res.put("wh.files", files.size, "count")
      res.put("wh.bytes", files.values.sum, "B")
    }
  }

}

object LifecycleBench {
  /** The lifecycle queries and the seeding entry each one's ingest
    * starts from (the seeds `graft.Bench` warms).
    */
  val Seeds: Map[String, (SparkSession, String) => Unit] = Map(
    "t41_incremental_curation" -> ((s, d) => IncrementalCuration.t41EnsureSeeded(s, d)),
    "t55_banded_cluster_increment" -> ((s, d) => ClusterState.t55EnsureSeeded(s, d,
      TextOps.DialBandTables, TextOps.DialBandBits, TextOps.DialBandRadius, TextOps.DialEmbCap)))
  val Queries: Seq[String] = Seeds.keys.toSeq.sorted
  val NDocs = 500
  val NVecs = 500
  val Dim = 64
  val Labels = 10
  val Langs: IndexedSeq[String] = IndexedSeq("en", "es", "de", "fr", "zh")
  val Vocab: IndexedSeq[String] = ("the a fast slow big small key order sort table scan merge part " +
    "window hash join batch stream spark dup group query row data filter customer line value " +
    "agg column vector").split(' ').toIndexedSeq
}
