package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.core.CompileFree
import graft.queries.IvfModel

/** Lifecycle ingests over corpora within the size rule plan their whole op
  * in the compile-free session; over it, in the caller's session with
  * generated code, with the same results.
  */
class CompileFreeLifecycleSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val Ops = Seq("t41_incremental_curation", "t55_banded_cluster_increment")

  /** `body` against a fresh index root of its own, so every op seeds its
    * own state.
    */
  private def withIndexRoot[T](body: Path => T): T = {
    val root = Files.createTempDirectory("graft_compile_free_")
    System.setProperty("graft.index.dir", root.toString)
    IvfModel.resetEnsureMemo()
    try body(root)
    finally {
      System.clearProperty("graft.index.dir")
      IvfModel.resetEnsureMemo()
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
    }
  }

  /** One op as the benchmark runs it: the ingest, then the result read. */
  private def op(q: String): (DataFrame, Seq[Row]) = {
    val df = SparkEntry.queries(q)(spark, sf())
    df.queryExecution.toRdd.count()
    (df, df.collect().toSeq)
  }

  /** Rows of every parquet file under `root`: the state an op leaves. */
  private def stateRows(root: Path): Long = {
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq finally walk.close()
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString), spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case n => n }

  test("the compile-free session is the last one made, replaced when its settings differ") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      val s = CompileFree.session(spark)
      assert(s ne spark)
      assert(CompileFree.session(spark) eq s)
      assert(s.conf.get("spark.sql.codegen.factoryMode") === "NO_CODEGEN")
      // a setting changed inside an op is not handed to the next caller
      s.conf.set(key, "3")
      val t = CompileFree.session(spark)
      assert((t ne s) && t.conf.get(key) === saved)
      // a caller with other settings gets a session of its own, and only
      // the last session made is kept
      spark.conf.set(key, "5")
      val u = CompileFree.session(spark)
      assert((u ne t) && u.conf.get(key) === "5")
      spark.conf.set(key, saved)
      assert(CompileFree.session(spark) ne t)
    } finally spark.conf.set(key, saved)
  }

  test("an entry runs compile-free only while every corpus table is within the cap and the threshold") {
    val root = Files.createTempDirectory("graft_compile_free_cap_")
    def table(name: String, bytes: Long): String = {
      val t = Files.createDirectories(root.resolve(name))
      Files.write(t.resolve("part-00000.parquet"), new Array[Byte](bytes.toInt))
      t.toString
    }
    try {
      val small = table("small", CompileFree.LifecycleBytes)
      // names starting with `_` or `.` are not data and are not counted
      Files.write(root.resolve("small").resolve(".part-00000.parquet.crc"), new Array[Byte](2000000))
      val big = table("big", CompileFree.LifecycleBytes + 1)
      assert(CompileFree.run(spark, small)(identity) eq CompileFree.session(spark))
      assert(CompileFree.run(spark, small, big)(identity) eq spark)
      assert(CompileFree.run(spark, root.resolve("missing").toString)(identity) eq spark)
      val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      try assert(CompileFree.run(spark, small)(identity) eq spark)
      finally saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    } finally {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
    }
  }

  test("a second t41 op and a second t55 op over a small corpus compile no code") {
    withIndexRoot { _ =>
      Ops.foreach { q =>
        assert(op(q)._2.nonEmpty, q) // seeds, ingests, loads every class the op uses
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val (df, rows) = op(q)
        assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0L, s"$q compiled")
        assert(rows.nonEmpty && !nodes(df).exists(_.isInstanceOf[WholeStageCodegenExec]), q)
      }
    }
  }

  test("over the broadcast threshold the ops run with generated code and give the same results") {
    def sides(threshold: Option[String]): Map[String, (Seq[Row], Long, Boolean)] =
      Ops.map { q =>
        withIndexRoot { root =>
          val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
          threshold.foreach(spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
          try {
            val (df, rows) = op(q)
            q -> (rows, stateRows(root), nodes(df).exists(_.isInstanceOf[WholeStageCodegenExec]))
          } finally saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
        }
      }.toMap
    val compileFree = sides(None)
    val generated = sides(Some("1"))
    Ops.foreach { q =>
      val (cfRows, cfState, cfCodegen) = compileFree(q)
      val (genRows, genState, genCodegen) = generated(q)
      assert(!cfCodegen && genCodegen, q)
      assert(cfRows.nonEmpty && cfRows === genRows, q)
      assert(cfState > 0 && cfState === genState, q)
    }
  }
}
