package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.etl.Warehouse

/** Crash-safety of the versioned rewrite (VERDICT r1 item 9): at every
  * interruption point of `rewrite` the table stays readable — old data
  * before the pointer flip, new data after — and the append→rewrite→append
  * lifecycle (backfill shape) keeps one consistent directory.
  */
class WarehouseSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private def fresh() = Warehouse(spark, Files.createTempDirectory("graft_ws_").toString)

  private def names(wh: Warehouse, n: String = "t"): Set[String] =
    wh.read(n, schema).collect().map(_.getString(1)).toSet

  test("rewrite supersedes; GC retains a version window; vacuum reclaims") {
    val wh = fresh()
    (1 to 5).foreach(i => wh.rewrite("t", Seq((1L, s"v$i")).toDF("id", "name")))
    assert(names(wh) === Set("v5"))
    // the newest RetainVersions survive routine rewrites (a reader plan
    // resolved several rewrites ago may still be unevaluated); only
    // vacuum — an explicit no-older-readers declaration — reclaims further
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.globStatus(new Path(wh.dir, "t.__v*")).length === wh.RetainVersions)
    wh.vacuum("t")
    assert(fs.globStatus(new Path(wh.dir, "t.__v*")).length === 1)
    assert(names(wh) === Set("v5"))
  }

  test("partitioned rewrite/appendLive pack one file per partition dir (no task fan-out litter)") {
    // without the pre-write shuffle a seed fans shuffle.partitions files
    // into EVERY value dir (measured at the sf10 decade²: a bits=13 seed
    // wrote 144k sub-2KB files). One value → one task → one file per dir,
    // for the initial rewrite AND for each subsequent appended batch.
    val wh = fresh()
    val pschema = StructType(Seq(
      StructField("id", LongType), StructField("bucket", LongType)))
    def filesPerDir(n: String): Map[String, Int] = {
      val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
      // one rewrite ran → exactly one version dir is the live one
      val live = fs.globStatus(new Path(wh.dir, s"$n.__v*")).map(_.getPath).toSeq match {
        case Seq(p) => p
        case other  => fail(s"expected one version dir, got $other")
      }
      fs.listStatus(live).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        .map(s => s.getPath.getName ->
          fs.listStatus(s.getPath).count(_.getPath.getName.endsWith(".parquet"))).toMap
    }
    val seed = spark.range(0, 1000).selectExpr("id", "id % 16 AS bucket")
      .repartition(8) // adversarial arrival partitioning: every task holds every bucket
    wh.rewrite("pt", seed, partitionBy = Seq("bucket"))
    val afterSeed = filesPerDir("pt")
    assert(afterSeed.size === 16)
    assert(afterSeed.values.forall(_ === 1), s"seed litter: $afterSeed")
    wh.appendLive("pt",
      spark.range(1000, 1100).selectExpr("id", "id % 4 AS bucket").repartition(8),
      partitionBy = Seq("bucket"))
    val afterAppend = filesPerDir("pt")
    assert((0 until 4).forall(b => afterAppend(s"bucket=$b") === 2), s"append litter: $afterAppend")
    assert((4 until 16).forall(b => afterAppend(s"bucket=$b") === 1))
    assert(wh.read("pt", pschema).count() === 1100)
  }

  test("vacuum(retainLast): bounded retention keeps live + N committed generations") {
    val wh = fresh()
    (1 to 6).foreach(i => wh.rewrite("t", Seq((1L, s"v$i")).toDF("id", "name")))
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    wh.vacuum("t", retainLast = 2)
    // live (v6) + the 2 newest committed generations BESIDES it — the
    // keep is live-exclusive so the documented reader window holds even
    // when live is itself the newest committed generation (the usual
    // case): 3 dirs survive
    assert(fs.globStatus(new Path(wh.dir, "t.__v*")).length === 3)
    assert(names(wh) === Set("v6"))
    // a lagging reader EXACTLY retainLast rewrites old still completes
    // after the vacuum — the documented window bound itself, not one
    // inside it
    wh.rewrite("t", Seq((1L, "v7")).toDF("id", "name"))
    val lagging = wh.read("t", schema) // resolves v7 NOW
    wh.rewrite("t", Seq((1L, "v8")).toDF("id", "name"))
    wh.rewrite("t", Seq((1L, "v9")).toDF("id", "name")) // lagging is 2 back
    wh.vacuum("t", retainLast = 2)
    assert(lagging.collect().map(_.getString(1)).toSet === Set("v7"))
    // retainLast <= 0 degrades to the full vacuum
    wh.vacuum("t", retainLast = 0)
    assert(fs.globStatus(new Path(wh.dir, "t.__v*")).length === 1)
    assert(names(wh) === Set("v9"))
  }

  test("vacuumAll: discovers every table (incl. pointer-less), bounded retention, live kept") {
    val wh = fresh()
    (1 to 5).foreach(i => wh.rewrite("a", Seq((1L, s"a$i")).toDF("id", "name")))
    (1 to 5).foreach(i => wh.rewrite("b", Seq((1L, s"b$i")).toDF("id", "name")))
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    // b loses its pointer (crash window) — discovery must still find it
    fs.delete(new Path(wh.dir, "b.__current"), false)
    wh.vacuumAll(retainLast = 1)
    assert(names(wh, "a") === Set("a5"))
    assert(names(wh, "b") === Set("b5"))
    // live + 1 prior committed generation each (live-exclusive keep)
    assert(fs.globStatus(new Path(wh.dir, "a.__v*")).length === 2)
    assert(fs.globStatus(new Path(wh.dir, "b.__v*")).length === 2)
  }

  test("vacuum(retainLast) in the crash window (no pointer) keeps what resolve returns") {
    val wh = fresh()
    (1 to 3).foreach(i => wh.rewrite("t", Seq((1L, s"v$i")).toDF("id", "name")))
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    // crash between pointer delete and rename: no pointer on disk
    fs.delete(new Path(wh.dir, "t.__current"), false)
    wh.vacuum("t", retainLast = 1)
    // the newest complete version was the live target — never deleted
    assert(names(wh) === Set("v3"))
  }

  test("a reader lagging TWO rewrites still completes (multi-generation window)") {
    val wh = fresh()
    wh.rewrite("t", Seq((1L, "gen1")).toDF("id", "name"))
    val pre = wh.read("t", schema) // plan resolves gen1 NOW
    wh.rewrite("t", Seq((1L, "gen2")).toDF("id", "name"))
    wh.rewrite("t", Seq((1L, "gen3")).toDF("id", "name"))
    // two rewrites later the gen1 files must still exist — the one-
    // generation GC deleted them and failed exactly this evaluation
    assert(pre.collect().map(_.getString(1)).toSet === Set("gen1"))
    assert(names(wh) === Set("gen3"))
  }

  test("a reader resolved before a rewrite still completes after it") {
    val wh = fresh()
    wh.rewrite("t", Seq((1L, "before")).toDF("id", "name"))
    val pre = wh.read("t", schema) // plan resolves the current version NOW
    wh.rewrite("t", Seq((1L, "after")).toDF("id", "name"))
    // evaluation happens post-rewrite; the pre-rewrite version must still
    // be on disk for this job to succeed
    assert(pre.collect().map(_.getString(1)).toSet === Set("before"))
    assert(names(wh) === Set("after"))
  }

  test("a stray uncommitted version (crash before pointer flip) is invisible") {
    val wh = fresh()
    wh.rewrite("t", Seq((1L, "committed")).toDF("id", "name"))
    // simulate: rewrite wrote its data dir, crashed before touching the pointer
    Seq((1L, "uncommitted")).toDF("id", "name")
      .write.parquet(s"${wh.dir}/t.__v000099")
    assert(names(wh) === Set("committed"))
    // and the next rewrite numbers PAST the stray, then commits over it
    wh.rewrite("t", Seq((1L, "after")).toDF("id", "name"))
    assert(names(wh) === Set("after"))
  }

  test("a missing pointer (crash mid-commit) recovers the newest complete version") {
    val wh = fresh()
    wh.rewrite("t", Seq((1L, "v1")).toDF("id", "name"))
    wh.rewrite("t", Seq((1L, "v2")).toDF("id", "name"))
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(wh.dir, "t.__current"), false)
    assert(names(wh) === Set("v2"))
  }

  test("recovery skips a version directory without _SUCCESS (crash mid-write)") {
    val wh = fresh()
    wh.rewrite("t", Seq((1L, "good")).toDF("id", "name"))
    Seq((1L, "torn")).toDF("id", "name").write.parquet(s"${wh.dir}/t.__v000099")
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(wh.dir, "t.__v000099/_SUCCESS"), false)
    fs.delete(new Path(wh.dir, "t.__current"), false)
    assert(names(wh) === Set("good"))
  }

  test("vacuum with a missing pointer keeps the newest complete version") {
    val wh = fresh()
    wh.rewrite("t", Seq((1L, "v1")).toDF("id", "name"))
    wh.rewrite("t", Seq((1L, "v2")).toDF("id", "name"))
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(wh.dir, "t.__current"), false) // crash mid-commit
    wh.vacuum("t")
    // the recovered live version must survive the vacuum, not be swept
    assert(names(wh) === Set("v2"))
    assert(fs.globStatus(new Path(wh.dir, "t.__v*")).length === 1)
  }

  test("GC keeps the live previous version by identity, not version number") {
    val wh = fresh()
    wh.rewrite("t", Seq((1L, "live-prev")).toDF("id", "name")) // v1, pointer -> v1
    // stray: a later rewrite crashed after writing v2, before the flip
    Seq((1L, "stray")).toDF("id", "name").write.parquet(s"${wh.dir}/t.__v000002")
    val pre = wh.read("t", schema) // resolves pointer -> v1
    wh.rewrite("t", Seq((1L, "new")).toDF("id", "name")) // v3; GC must keep v1
    assert(pre.collect().map(_.getString(1)).toSet === Set("live-prev"))
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(wh.dir, "t.__v000001")))  // live previous kept
    // the stray was never a pointer target, so it occupies no reader-
    // window slot — swept by the rewrite's GC, not retained
    assert(!fs.exists(new Path(wh.dir, "t.__v000002")))
    assert(names(wh) === Set("new"))
  }

  test("upgrade path: version dirs predating the history file stay in the reader window") {
    val wh = fresh()
    wh.rewrite("t", Seq((1L, "old1")).toDF("id", "name"))
    val pre = wh.read("t", schema) // reader holds the pre-history generation
    // simulate a warehouse written by the pre-history scheme
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    Option(fs.globStatus(new Path(wh.dir, "t.__history*")))
      .foreach(_.foreach(st => fs.delete(st.getPath, false)))
    wh.rewrite("t", Seq((1L, "new1")).toDF("id", "name"))
    wh.rewrite("t", Seq((1L, "new2")).toDF("id", "name"))
    // the seed treats pre-history versions as committed — the window must
    // not collapse to just the post-upgrade generations
    assert(pre.collect().map(_.getString(1)).toSet === Set("old1"))
    assert(names(wh) === Set("new2"))
  }

  test("a stray bare t.__history file is inert: live and previous versions survive GC") {
    val wh = fresh()
    wh.rewrite("t", Seq((1L, "old1")).toDF("id", "name")) // v1
    val pre1 = wh.read("t", schema)
    wh.rewrite("t", Seq((1L, "old2")).toDF("id", "name")) // v2, pointer -> v2
    val pre2 = wh.read("t", schema)
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    // no history generations, only a bare `t.__history` naming a version
    // that never existed: the table seeds its committed set from the
    // version dirs, and the bare file is never read
    Option(fs.globStatus(new Path(wh.dir, "t.__history.*")))
      .foreach(_.foreach(st => fs.delete(st.getPath, false)))
    val out = fs.create(new Path(wh.dir, "t.__history"), true)
    try out.write("t.__v000099\n".getBytes("UTF-8")) finally out.close()
    wh.rewrite("t", Seq((1L, "new")).toDF("id", "name")) // v3
    for (v <- Seq("t.__v000001", "t.__v000002", "t.__v000003"))
      assert(fs.exists(new Path(wh.dir, v)), s"$v was reclaimed")
    assert(pre1.collect().map(_.getString(1)).toSet === Set("old1"))
    assert(pre2.collect().map(_.getString(1)).toSet === Set("old2"))
    assert(names(wh) === Set("new"))
  }

  test("a stray never shrinks the reader window (retention counts committed generations)") {
    val wh = fresh()
    wh.rewrite("t", Seq((1L, "gen1")).toDF("id", "name")) // v1, committed
    val pre = wh.read("t", schema)                        // reader holds v1
    // crashed rewrite: v2 fully written (_SUCCESS) but never pointed to
    Seq((1L, "stray")).toDF("id", "name").write.parquet(s"${wh.dir}/t.__v000002")
    wh.rewrite("t", Seq((1L, "gen2")).toDF("id", "name")) // v3
    wh.rewrite("t", Seq((1L, "gen3")).toDF("id", "name")) // v4
    // two committed rewrites later the v1 reader is still inside the
    // window — a version-dir count would have let the stray push v1 out
    assert(pre.collect().map(_.getString(1)).toSet === Set("gen1"))
    assert(names(wh) === Set("gen3"))
  }

  test("the pointer is the one commit record: its window alone keeps a lagging reader alive") {
    val wh = fresh()
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    wh.rewrite("t", Seq((1L, "gen1")).toDF("id", "name"))
    val pre = wh.read("t", schema) // resolves gen1 NOW
    // the window holds RetainVersions committed versions, live included:
    // gen1 stays the oldest of them through RetainVersions - 1 rewrites
    (2 to wh.RetainVersions).foreach(i => wh.rewrite("t", Seq((1L, s"gen$i")).toDF("id", "name")))
    assert(pre.collect().map(_.getString(1)).toSet === Set("gen1"))
    assert(Option(fs.globStatus(new Path(wh.dir, "t.__history*"))).forall(_.isEmpty),
      "a rewrite wrote a history file")
    val pointer = new String(Files.readAllBytes(
      java.nio.file.Paths.get(wh.dir, "t.__current")), "UTF-8").linesIterator.toSeq
    assert(pointer === (1 to wh.RetainVersions).map(i => f"t.__v$i%06d"))
    // one rewrite more slides gen1 out of the window, and GC reclaims it
    wh.rewrite("t", Seq((1L, "next")).toDF("id", "name"))
    assert(!fs.exists(new Path(wh.dir, "t.__v000001")))
    assert(names(wh) === Set("next"))
  }

  test("a refused pointer rename fails the rewrite; the table still reads a complete generation") {
    spark.sparkContext.hadoopConfiguration.set("fs.flaky.impl", classOf[FlakyFs].getName)
    FlakyFs.reset()
    val wh = Warehouse(spark, "flaky://" + Files.createTempDirectory("graft_flaky_").toString)
    try {
      (1 to 2).foreach(i => wh.rewrite("t", Seq((1L, s"v$i")).toDF("id", "name")))
      FlakyFs.failRenames(1)(_ == "t.__current")
      intercept[java.io.IOException](wh.rewrite("t", Seq((1L, "v3")).toDF("id", "name")))
      assert(!FlakyFs.armed, "injected rename failure was not consumed")
      // no pointer: the newest _SUCCESS version is live, and every version
      // dir counts as committed, so the next rewrite commits over it
      assert(names(wh) === Set("v3"))
      wh.rewrite("t", Seq((1L, "v4")).toDF("id", "name"))
      assert(names(wh) === Set("v4"))
    } finally FlakyFs.reset()
  }

  test("append → rewrite → append stays one consistent table (backfill shape)") {
    val wh = fresh()
    wh.append("t", Seq((1L, "a")).toDF("id", "name"))
    wh.append("t", Seq((2L, "b")).toDF("id", "name"))
    assert(names(wh) === Set("a", "b"))
    wh.rewrite("t", wh.read("t", schema).withColumn("name",
      org.apache.spark.sql.functions.upper($"name")))
    assert(names(wh) === Set("A", "B"))
    // the flat legacy dir stays until vacuum (pre-rewrite readers may
    // still scan it) but is no longer what reads/appends resolve to
    wh.append("t", Seq((3L, "c")).toDF("id", "name"))
    assert(names(wh) === Set("A", "B", "c"))
    wh.vacuum("t")
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(wh.dir, "t")))
    assert(names(wh) === Set("A", "B", "c"))
  }

  test("never-written table reads empty with the right schema") {
    val wh = fresh()
    val df = wh.read("nope", schema)
    assert(df.count() === 0)
    assert(df.schema === schema)
  }

  test("writer lease: a foreign fresh lease blocks every mutator loudly; expired leases are stolen") {
    val wh = fresh()
    wh.rewrite("t", Seq((1L, "v1")).toDF("id", "name")) // acquire + release works
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    val lease = new Path(wh.dir, "__writer.lease")
    assert(!fs.exists(lease), "lease not released after a completed rewrite")
    // simulate a LIVE writer in another process: foreign owner, fresh mtime
    val out = fs.create(lease, false)
    out.write("9999@other-host/deadbeef\nvacuumAll:2\n".getBytes("UTF-8")); out.close()
    intercept[graft.etl.ConcurrentWriterException] {
      wh.rewrite("t", Seq((1L, "v2")).toDF("id", "name"))
    }
    intercept[graft.etl.ConcurrentWriterException] { wh.vacuum("t", retainLast = 1) }
    intercept[graft.etl.ConcurrentWriterException] {
      wh.appendLive("t", Seq((2L, "x")).toDF("id", "name"))
    }
    // the blocked rewrite must not have advanced the table
    assert(names(wh) === Set("v1"))
    // a crashed writer's lease (mtime beyond the TTL) is stolen, the op
    // proceeds, and the thief's lease is released after it
    fs.setTimes(lease, System.currentTimeMillis() - 16 * 60 * 1000L, -1)
    wh.rewrite("t", Seq((1L, "v2")).toDF("id", "name"))
    assert(names(wh) === Set("v2"))
    assert(!fs.exists(lease), "stolen lease not released after the op")
  }

  test("writer lease is re-entrant within the process: compact and vacuumAll nest their inner ops") {
    val wh = fresh()
    (1 to 3).foreach(i => wh.rewrite("t", Seq((1L, s"v$i")).toDF("id", "name")))
    wh.appendLive("t", Seq((2L, "w")).toDF("id", "name"))
    wh.compact("t", schema)   // compact → rewrite under one lease
    wh.vacuumAll(1)           // vacuumAll → per-table vacuum under one lease
    assert(names(wh) === Set("v3", "w"))
    val fs = new Path(wh.dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(wh.dir, "__writer.lease")))
  }
}
