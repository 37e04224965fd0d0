package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one benchmark workload in this JVM and writes its result JSON.
  *
  * Usage: graft.perfbench.Main --workload NAME --seed N --seconds S
  *          --trace 0|1 --work DIR --out FILE
  *
  * NAME is `cas`, `lifecycle-ingest`, or `train`: the set-up and warm-up
  * of both workloads, which `perfbench/run.py` runs once per build to
  * write the class-data archive every measured run maps.
  *
  * Everything the run writes lives under DIR; `perfbench/run.py` builds
  * the classes, starts this JVM and turns the result into the benchmark's
  * output line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out"))
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark_local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark_warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    val tracer = new Tracer(spark.sparkContext, trace)
    try {
      workload match {
        case "cas" =>
          val cas = new CasBench(spark, work, seed, seconds, tracer, res)
          cas.setup()
          res.put("setup_s", Stats.s(System.nanoTime() - t0), "s")
          cas.run()
        case "lifecycle-ingest" =>
          val life = new LifecycleBench(spark, work, seed, seconds, tracer, res)
          life.setup()
          res.put("setup_s", Stats.s(System.nanoTime() - t0), "s")
          life.run()
        case "train" =>
          // the set-ups and warm-ups load the classes the timed parts use
          val cas = new CasBench(spark, work, seed, seconds, tracer, res)
          cas.setup()
          cas.warmUp()
          val life = new LifecycleBench(spark, work, seed, seconds, tracer, res)
          life.setup()
          life.warmUp()
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.op(ok = false, s"$workload aborted: $e")
    } finally {
      Files.writeString(out, res.toJson + "\n")
      spark.stop()
    }
  }
}
