package graft

import org.apache.spark.sql.functions._

import graft.queries.{IvfModel, Lsh, TextOps}

/** ANN paths vs the brute-force baseline: cosines must agree exactly for
  * shared pairs, and recall@5 must clear the 0.8 bar at the configured
  * dials (Lsh: 6 bits / Hamming-3 probes; Ivf: k=32 / nProbe=16 — see
  * SCALE.md "ANN recall" for the measured recall/probe-fraction curve on
  * this isotropic corpus).
  */
class AnnSpec extends SparkTestBase {

  private def pairs(df: org.apache.spark.sql.DataFrame) = df
    .select("query_id", "vec_id").collect()
    .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("t12 LSH neighbors report the same cosine as brute force") {
    val brute = TextOps.t10AnnBruteForce(spark, sf())
      .select(col("query_id"), col("vec_id"), col("cosine").as("bf_cosine"))
    val lsh = TextOps.t12AnnLsh(spark, sf())
      .select(col("query_id"), col("vec_id"), col("cosine"))
    val joined = lsh.join(brute, Seq("query_id", "vec_id"))
    // any LSH pair that IS in the brute-force top-5 must carry the exact
    // same cosine (same fold, same rounding)
    assert(joined.filter(col("cosine") =!= col("bf_cosine")).count() === 0)
  }

  test("t12 output shape: <=5 ranked neighbors per query, descending") {
    val lsh = TextOps.t12AnnLsh(spark, sf()).collect()
    val byQuery = lsh.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.values.forall(_.length <= 5))
    byQuery.values.foreach { rows =>
      val cosines = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cosine"))
      assert(cosines.sameElements(cosines.sortBy(-_)))
    }
  }

  test("t12 LSH recall@5 >= 0.8 at the configured dials") {
    val bf = pairs(TextOps.t10AnnBruteForce(spark, sf()))
    val lsh = pairs(TextOps.t12AnnLsh(spark, sf()))
    val recall = (bf intersect lsh).size.toDouble / bf.size
    info(f"LSH recall@5 vs brute force: $recall%.2f " +
      f"(${Lsh.Bits} bits, Hamming<=${Lsh.HammingRadius} multi-probe, " +
      f"${Lsh.masks.size}/${1 << Lsh.Bits} codes probed)")
    assert(recall >= 0.8)
  }

  test("t14 IVF: persisted model is reused, cosines exact, recall@5 >= 0.8") {
    val ivf1 = TextOps.t14AnnIvf(spark, sf())
      .select("query_id", "vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // second run hits the persisted centroid table (no refit) and must
    // return identical results
    val ivf2 = TextOps.t14AnnIvf(spark, sf())
      .select("query_id", "vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ivf1 === ivf2)

    val brute = TextOps.t10AnnBruteForce(spark, sf())
      .select(col("query_id"), col("vec_id"), col("cosine").as("bf"))
    val joined = TextOps.t14AnnIvf(spark, sf())
      .join(brute, Seq("query_id", "vec_id"))
    assert(joined.filter(col("cosine") =!= col("bf")).count() === 0)

    val bf = pairs(brute.select(col("query_id"), col("vec_id"), col("bf").as("cosine")))
    val recall = (bf intersect ivf1.map(t => (t._1, t._2))).size.toDouble / bf.size
    info(f"IVF recall@5 vs brute force: $recall%.2f " +
      f"(k=${IvfModel.K}, nProbe=${IvfModel.NProbe})")
    assert(recall >= 0.8)
  }

  test("t14 map-side argmin matches the crossJoin+window oracle-mirror formulation") {
    // The DuckDB oracle replays assignment as CROSS JOIN centroids +
    // row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid); the
    // production plan computes the same argmin as a per-row projection
    // (transform + array_min, zero expansion). This test keeps the
    // expanded formulation alive as the mirror and pins the two to
    // identical output, so the projection can never drift from what the
    // oracle checks (tie-break included: struct(dist, cid) comparison ==
    // ORDER BY dist, cid).
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{Rounding => R, VectorOps => V}
    IvfModel.ensure(spark, sf())
    val e = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
    val ad = e.crossJoin(broadcast(IvfModel.centroids(spark, sf())))
      .withColumn("dist",
        aggregate(zip_with(col("emb"), col("cvec"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x))
    val wNearest = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
    val assigned = ad
      .withColumn("rn", row_number().over(wNearest))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("emb"), col("cid").as("cluster"))
    val probes = ad.filter(col("vec_id") < 10)
      .withColumn("pr", row_number().over(wNearest))
      .filter(col("pr") <= IvfModel.NProbe)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("cid").as("cluster"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val mirror = assigned.join(broadcast(probes), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cluster"),
        R.halfUp(V.cosine(col("q_emb"), col("emb")), 6).as("cosine"))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "cluster", "cosine", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4))).toSet
    assert(rows(TextOps.t14AnnIvf(spark, sf())) === rows(mirror))
  }

  test("IVF fit trains on a seeded sample when the corpus exceeds the cap") {
    // 100 TB corpora can't feed a driver-coordinated KMeans directly; the
    // quantizer fits on a seeded uniform sample (cap FitSampleCap, no-op
    // below it). Forced here with cap=100 against the ~500-vector corpus,
    // under an isolated index root so the shared scratch centroids (full
    // fit, what the oracle reads) are untouched.
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ivf_sample_").toString
    System.setProperty("graft.index.dir", tmpRoot)
    try {
      IvfModel.resetEnsureMemo()
      IvfModel.ensure(spark, sf(), fitSampleCap = 100)
      val c = IvfModel.centroids(spark, sf()).collect()
      assert(c.length === IvfModel.K)
      assert(c.forall(_.getAs[Seq[Double]]("cvec").length === Lsh.Dim))
    } finally {
      System.clearProperty("graft.index.dir")
      IvfModel.resetEnsureMemo()
      // reclaim the temp index root (a fitted parquet table) — CI boxes
      // accumulate these otherwise
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmpRoot))
    }
  }

  test("native dot product matches the HOF formulation bit-for-bit") {
    import graft.functions.{VectorOps => V}
    val e = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
    val pairsDf = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") % 7 === 0 && col("b.vec_id") % 11 === 0)
      .select(V.dot(col("a.emb"), col("b.emb")).as("native"),
        V.dotHof(col("a.emb"), col("b.emb")).as("hof"))
    assert(pairsDf.filter(col("native") =!= col("hof")).count() === 0)
    assert(pairsDf.count() > 0)
  }

  test("native dot matches HOF on null elements and length mismatches") {
    import graft.functions.{VectorOps => V}
    import spark.implicits._
    val df = Seq(
      (1, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (2, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (3, Seq[java.lang.Double](1.0), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("id", "a", "b")
      .select(col("id"), V.dot(col("a"), col("b")).as("native"),
        V.dotHof(col("a"), col("b")).as("hof"))
      .orderBy("id").collect()
    df.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"row ${r.getInt(0)} null mismatch")
      if (!r.isNullAt(1)) assert(r.getDouble(1) === r.getDouble(2))
    }
    assert(df(0).getDouble(1) === 11.0)
    assert(df(1).isNullAt(1) && df(2).isNullAt(1)) // null element; length mismatch
  }

  test("t15 cosine near-dup: pair recall >= 0.9 vs exact all-pairs, no dup pairs") {
    import graft.functions.{VectorOps => V}
    val e = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"))
    val exact = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .filter(round(V.cosine(col("a.emb"), col("b.emb")), 6) >= TextOps.CosTau)
      .select(col("a.vec_id"), col("b.vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = TextOps.t15CosineNearDup(spark, sf())
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.toSet.size) // one mask per qualifying pair
    assert(got.toSet.subsetOf(exact))     // verify step admits no false positives
    val recall = (exact intersect got.toSet).size.toDouble / exact.size
    info(f"near-dup pair recall vs exact: $recall%.2f at tau=${TextOps.CosTau} " +
      f"(radius ${TextOps.PairRadius}, ${Lsh.masksWithin(TextOps.PairRadius).size}/${1 << Lsh.Bits} codes probed)")
    assert(recall >= 0.9)
  }

  test("Lsh: parameterized plane family is prefix-consistent and masks are sound") {
    // widening the code must REFINE buckets, not reshuffle them: the first
    // b planes of any wider family are the default family
    assert(Lsh.planesFor(Lsh.Bits) === Lsh.planes)
    assert(Lsh.planesFor(10).take(Lsh.Bits) === Lsh.planes)
    for ((bits, radius) <- Seq((6, 3), (10, 2), (8, 4))) {
      val ms = Lsh.masksWithin(radius, bits)
      val expected = (0 to radius).map(r =>
        (0 until bits).combinations(r).size).sum
      assert(ms.size === expected, s"($bits, $radius) mask count")
      assert(ms.toSet.size === ms.size, s"($bits, $radius) masks distinct")
      assert(ms.forall(m => m >= 0 && m < (1L << bits)), s"($bits, $radius) masks in range")
    }
  }

  test("t12 explicit default dials reproduce the default result exactly") {
    val a = TextOps.t12AnnLsh(spark, sf()).collect().map(_.toSeq).toSeq
    val b = TextOps.t12AnnLsh(spark, sf(), Lsh.Bits, Lsh.HammingRadius)
      .collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("t12 recall tracks the probe-fraction curve at a second (bits, radius) setting") {
    val bf = pairs(TextOps.t10AnnBruteForce(spark, sf()))
    val dflt = pairs(TextOps.t12AnnLsh(spark, sf()))
    val dfltRecall = (bf intersect dflt).size.toDouble / bf.size
    // second setting: wider code, tighter probe radius — a far smaller
    // probe fraction, the direction a 100 TB deployment moves the dial
    val (bits, radius) = (10, 2)
    val probeFrac = Lsh.masksWithin(radius, bits).size.toDouble / (1L << bits)
    val got = pairs(TextOps.t12AnnLsh(spark, sf(), bits, radius))
    val recall = (bf intersect got).size.toDouble / bf.size
    info(f"recall@5 at ($bits bits, radius $radius): $recall%.2f " +
      f"(probe fraction $probeFrac%.3f) vs default $dfltRecall%.2f " +
      f"(probe fraction ${Lsh.masks.size.toDouble / (1 << Lsh.Bits)}%.3f)")
    // documented curve (AnnIndex scaladoc, SCALE.md): on this isotropic
    // corpus recall ~ probe_fraction + ~0.2 — the tiny probe fraction must
    // cost recall vs the default, and still beat blind probing
    assert(recall >= probeFrac)
    assert(recall < dfltRecall)
  }

  test("t15 recall tracks the dial at a second (bits, radius) setting") {
    val dflt = TextOps.t15CosineNearDup(spark, sf())
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (bits, radius) = (8, 4)
    val got = TextOps.t15CosineNearDup(spark, sf(), bits, radius)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.toSet.size) // one mask per qualifying pair holds at any dial
    assert(got.toSet.subsetOf(dflt))      // exact-cosine verify admits no false positives
    val recall = got.toSet.size.toDouble / dflt.size
    info(f"t15 pair recall at ($bits bits, radius $radius) vs default dial: $recall%.2f")
    // per-bit flip prob at tau=0.4 is ~0.37: Binomial(8, .37) <= 4 covers
    // ~0.86 of boundary pairs, more above tau — recall degrades gracefully
    assert(recall >= 0.6)
  }

  test("a configured index root gives every corpus its own sub-warehouse") {
    sys.props("graft.index.dir") = "/data/indexes"
    try {
      val a = IvfModel.rootFor("/corpora/a")
      val b = IvfModel.rootFor("/corpora/b")
      assert(a !== b, "two corpora resolved the same index warehouse — stamped tables would collide")
      assert(a.startsWith("/data/indexes/corpus_") && b.startsWith("/data/indexes/corpus_"))
      assert(IvfModel.rootFor("/corpora/a") === a) // stable per corpus
    } finally sys.props.remove("graft.index.dir")
  }

  test("unreadable corpus listing serves the existing generation; never refits or poisons") {
    val root = java.nio.file.Files.createTempDirectory("graft_idx_test_").toString
    val corpus = java.nio.file.Files.createTempDirectory("graft_corpus_").toString
    sys.props("graft.index.dir") = root
    try {
      // a private copy of the embeddings table we can delete out from under it
      import scala.sys.process._
      assert(Seq("cp", "-r", s"${sf()}/embeddings.parquet", s"$corpus/embeddings.parquet").! === 0)
      IvfModel.ensure(spark, corpus)
      val wh = IvfModel.warehouseFor(spark, corpus)
      def versions = new java.io.File(wh.dir).listFiles()
        .count(_.getName.startsWith(s"${IvfModel.TableName}.__v"))
      val v1 = versions
      assert(v1 >= 1)
      // corpus listing now fails → contentStamp returns a unique
      // unreadable: value; ensure must keep serving, not refit per call
      assert(Seq("rm", "-r", s"$corpus/embeddings.parquet").! === 0)
      IvfModel.resetEnsureMemo()
      IvfModel.ensure(spark, corpus)
      IvfModel.ensure(spark, corpus)
      assert(versions === v1, "unreadable stamp triggered a refit/rewrite")
      assert(IvfModel.centroids(spark, corpus).count() === IvfModel.K)
      // with nothing persisted at all, an unreadable corpus fails loudly
      val empty = java.nio.file.Files.createTempDirectory("graft_corpus2_").toString
      intercept[IllegalStateException] {
        IvfModel.ensure(spark, s"$empty/nope")
      }
    } finally sys.props.remove("graft.index.dir")
  }

  test("repeat ensure with an unchanged corpus runs zero Spark jobs (memoized stamp)") {
    IvfModel.ensure(spark, sf())
    graft.queries.QualityOps.ensureRarityVocab(spark, sf())
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    IvfModel.ensure(spark, sf())
    graft.queries.QualityOps.ensureRarityVocab(spark, sf())
    assert(tracker.getJobIdsForGroup(null).length === before,
      "repeat ensure re-read the stamp table — per-call query cost regressed")
  }

  test("t36 inverted lists: result-identical to t14, scan prunes to probed partitions") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "cluster", "cosine", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4))).toSet
    // same centroids, same argmin, same probes — only storage differs
    assert(rows(TextOps.t36AnnIvfLists(spark, sf())) === rows(TextOps.t14AnnIvf(spark, sf())))

    // the corpus-side scan must read the cluster-partitioned list table
    // WITH partition filters (dynamic pruning from the broadcast probe
    // side) — the difference between reading nProbe/K of the corpus and
    // scanning all of it at 100 TB
    // sparkPlan, not executedPlan: AdaptiveSparkPlanExec hides its
    // finalized subtree from collect(), and the DynamicPruningExpression
    // is planted by the optimizer before execution anyway
    val scans = TextOps.t36AnnIvfLists(spark, sf()).queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(IvfModel.ListsTable)) => s
    }
    assert(scans.nonEmpty, "t36 does not scan the materialized list table")
    assert(scans.exists(_.partitionFilters.nonEmpty),
      "list-table scan carries no partition filters — the probe join reads every cell")
  }

  test("ensureLists: stamped, repeat serves without rewrite, refits with the quantizer dial") {
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ivf_lists_").toString
    System.setProperty("graft.index.dir", tmpRoot)
    try {
      IvfModel.resetEnsureMemo()
      IvfModel.ensureLists(spark, sf())
      val wh = IvfModel.warehouseFor(spark, sf())
      def versions = new java.io.File(wh.dir).listFiles()
        .count(_.getName.startsWith(s"${IvfModel.ListsTable}.__v"))
      val v1 = versions
      assert(v1 >= 1)
      // every corpus vector is in exactly one cell; cells match t14's
      // assignment universe (0 until K)
      val lists = IvfModel.lists(spark, sf())
      val n = graft.core.Tables.embeddings(spark, sf()).count()
      assert(lists.count() === n)
      assert(lists.select("vec_id").distinct().count() === n)
      assert(lists.select("cluster").distinct().count() <= IvfModel.K)
      // repeat ensure: served from the stamp, no rewrite
      IvfModel.resetEnsureMemo()
      IvfModel.ensureLists(spark, sf())
      assert(versions === v1, "unchanged corpus re-materialized the lists")
      // a dialed k refits BOTH artifacts (lists stamp includes k)
      IvfModel.ensureLists(spark, sf(), k = 16)
      assert(versions === v1 + 1)
      assert(IvfModel.lists(spark, sf()).select("cluster").distinct().count() <= 16)
    } finally {
      System.clearProperty("graft.index.dir")
      IvfModel.resetEnsureMemo()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmpRoot))
    }
  }

  test("t14 (k, nProbe) dial: a non-default k refits the stamped table, repeat serves, recall sane") {
    // K is part of the centroid stamp: a dialed ensure over an existing
    // warehouse must REFIT (serving 32 stale centroids to a k=16 caller
    // was the round-6 hazard), and a repeat at the same dial must serve
    // without rewriting. Isolated index root so the shared scratch
    // centroids (default fit, what the oracle reads) are untouched.
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ivf_dial_").toString
    System.setProperty("graft.index.dir", tmpRoot)
    try {
      IvfModel.resetEnsureMemo()
      IvfModel.ensure(spark, sf())
      assert(IvfModel.centroids(spark, sf()).count() === IvfModel.K)
      val wh = IvfModel.warehouseFor(spark, sf())
      def versions = new java.io.File(wh.dir).listFiles()
        .count(_.getName.startsWith(s"${IvfModel.TableName}.__v"))
      val v1 = versions
      IvfModel.ensure(spark, sf(), k = 16)
      assert(IvfModel.centroids(spark, sf()).count() === 16,
        "dialed k served the stale default-K table")
      assert(versions === v1 + 1)
      IvfModel.ensure(spark, sf(), k = 16)
      assert(versions === v1 + 1, "repeat ensure at the same dial rewrote the table")
      // the dialed query path: exact cosines for whatever it probes, and
      // recall@5 at nProbe/k = 0.5 tracks the isotropic probe-fraction
      // curve (~fraction + 0.2); assert the conservative floor
      val brute = TextOps.t10AnnBruteForce(spark, sf())
        .select(col("query_id"), col("vec_id"), col("cosine").as("bf"))
      val got = TextOps.t14AnnIvf(spark, sf(), k = 16, nProbe = 8)
      assert(got.join(brute, Seq("query_id", "vec_id"))
        .filter(col("cosine") =!= col("bf")).count() === 0)
      val bf = pairs(brute.withColumnRenamed("bf", "cosine"))
      val recall = (bf intersect pairs(got)).size.toDouble / bf.size
      info(f"IVF recall@5 at (k=16, nProbe=8): $recall%.2f")
      assert(recall >= 0.4)
    } finally {
      System.clearProperty("graft.index.dir")
      IvfModel.resetEnsureMemo()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmpRoot))
    }
  }

  test("t15 skew guard: oversized sign-code buckets pair with nothing, in-cap buckets pair fully") {
    // A pathological dense-bucket corpus: 50 identical vectors collapse
    // into ONE sign code (the clustered-corpus failure mode the dial
    // contract's average-bucket math misses), plus 8 copies of the
    // negated vector in the complementary code. With the cap below the
    // dense bucket's size, its members must be excluded from candidate
    // generation (conservatively kept — they pair with nothing, so dedup
    // never drops them) while the in-cap bucket still pairs fully;
    // uncapped, the dense bucket goes quadratic (C(50,2) pairs).
    import spark.implicits._
    val v = Array.tabulate(Lsh.Dim)(i => math.sin(i + 1.0).toFloat)
    val w = v.map(x => -x)
    val emb = ((0L until 50L).map(i => (i, v)) ++ (100L until 108L).map(i => (i, w)))
      .toDF("vec_id", "embedding")
    val capped = TextOps.t15CosineNearDupOf(emb, maxBucket = 10)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.forall { case (a, b) => a >= 100L && b >= 100L },
      "a dense-bucket member leaked into the candidate join")
    assert(capped.size === 8 * 7 / 2, "the in-cap bucket no longer pairs fully")
    val uncapped = TextOps.t15CosineNearDupOf(emb).count()
    assert(uncapped === 50L * 49 / 2 + 8 * 7 / 2,
      "without the guard the dense bucket should pair quadratically")
  }

  test("t15 narrow-probe form is result-identical to the wide form at any dial") {
    for ((b, r) <- Seq((Lsh.Bits, TextOps.PairRadius), (10, 6))) {
      val wide = TextOps.t15CosineNearDup(spark, sf(), b, r, narrowProbe = Some(false))
        .collect().map(_.toSeq).toSeq
      val narrow = TextOps.t15CosineNearDup(spark, sf(), b, r, narrowProbe = Some(true))
        .collect().map(_.toSeq).toSeq
      assert(narrow === wide, s"narrow != wide at ($b, $r)")
    }
  }

  test("t14 IVF query plan contains no KMeans fit (pure assignment + probe)") {
    IvfModel.ensure(spark, sf())
    // the query is a closed-form DataFrame over embeddings + the persisted
    // centroid table: building it must not trigger any Spark job (a fit
    // would), and its plan must read the centroid parquet
    val statusStore = spark.sparkContext.statusTracker
    val jobsBefore = statusStore.getJobIdsForGroup(null).length
    val df = TextOps.t14AnnIvf(spark, sf())
    val jobsAfter = statusStore.getJobIdsForGroup(null).length
    // <= 2: parquet schema inference on the centroid table may list/read
    // footers; a KMeans fit would run dozens of jobs
    assert(jobsAfter - jobsBefore <= 2,
      s"building the t14 plan ran ${jobsAfter - jobsBefore} jobs — a fit leaked into the query path")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location.rootPaths.mkString
    }
    // the plan reads the warehouse's live centroid generation — the same
    // directory the oracle-side resolver hands DuckDB
    val live = IvfModel.oraclePath(sf())
    assert(new java.io.File(live, "_SUCCESS").exists(), s"no committed centroid table at $live")
    assert(scans.exists(_.contains(new java.io.File(live).getName)))
  }

  test("IVF centroids live in a versioned warehouse table and refit on corpus-stamp change") {
    IvfModel.ensure(spark, sf())
    val wh = IvfModel.warehouseFor(spark, sf())
    val t1 = wh.read(IvfModel.TableName, IvfModel.CentroidSchema).collect()
    assert(t1.length === IvfModel.K)
    assert(t1.map(_.getString(2)).distinct.length === 1) // one corpus stamp
    // poison the stamp via a warehouse rewrite: ensure must detect the
    // mismatch and refit (a fresh generation with the true stamp)
    import spark.implicits._
    val poisoned = t1.map(r => (r.getInt(0), r.getSeq[Double](1), "stale-stamp")).toSeq
      .toDF("cid", "cvec", "corpus_stamp")
    wh.rewrite(IvfModel.TableName, poisoned)
    // the rewrite above stands in for ANOTHER process changing the table;
    // drop this JVM's verified-stamp memo so ensure takes a fresh look
    IvfModel.resetEnsureMemo()
    IvfModel.ensure(spark, sf())
    val t2 = wh.read(IvfModel.TableName, IvfModel.CentroidSchema).collect()
    assert(t2.map(_.getString(2)).head !== "stale-stamp")
    assert(t2.map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq ===
      t1.map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq) // same seeded fit
  }

  test("appendLists: append-only corpus growth appends new vectors — no rewrite, no quantizer refit") {
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ivf_append_").toString
    System.setProperty("graft.index.dir", tmpRoot)
    try {
      IvfModel.resetEnsureMemo()
      // a growable corpus: embeddings.parquet as a DIRECTORY the test
      // appends files into, the way an append-only 100 TB corpus grows
      val corpus = java.nio.file.Files.createTempDirectory("graft_corpus_").toString
      val all = graft.core.Tables.embeddings(spark, sf())
      all.filter(col("vec_id") < 300).write.parquet(s"$corpus/embeddings.parquet")
      IvfModel.ensureLists(spark, corpus)
      val wh = IvfModel.warehouseFor(spark, corpus)
      def versions(t: String) = Option(new java.io.File(wh.dir).listFiles())
        .getOrElse(Array.empty).count(_.getName.startsWith(s"$t.__v"))
      val (lv, cv) = (versions(IvfModel.ListsTable), versions(IvfModel.TableName))
      def cents() = IvfModel.centroids(spark, corpus).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1))).toSet
      val centsBefore = cents()

      all.filter(col("vec_id") >= 300).write.mode("append").parquet(s"$corpus/embeddings.parquet")
      IvfModel.appendLists(spark, corpus)
      assert(versions(IvfModel.ListsTable) === lv, "append re-materialized the lists")
      assert(versions(IvfModel.TableName) === cv, "append refitted the quantizer")
      assert(cents() === centsBefore)
      // bit-for-bit vs re-materializing the lists against the SAME
      // quantizer: every corpus vector present once, in the cell the live
      // centroids assign it to
      def asn(df: org.apache.spark.sql.DataFrame) = df.select("vec_id", "cluster")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val expect = asn(IvfModel.assignClusters(
        graft.core.Tables.embeddings(spark, corpus)
          .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb")),
        IvfModel.centroids(spark, corpus)))
      assert(asn(IvfModel.lists(spark, corpus)) === expect)
      assert(expect.size === 500)
      // replay (crash mid-append, orchestrator re-runs): idempotent
      IvfModel.appendLists(spark, corpus)
      assert(IvfModel.lists(spark, corpus).count() === 500)
      // compact the append litter: rows verbatim, one file per cluster dir
      val filesBefore = IvfModel.lists(spark, corpus).inputFiles.length
      IvfModel.compactLists(spark, corpus)
      assert(asn(IvfModel.lists(spark, corpus)) === expect, "compact changed assignments")
      val filesAfter = IvfModel.lists(spark, corpus).inputFiles.length
      assert(filesAfter < filesBefore, s"compact did not reduce files ($filesBefore -> $filesAfter)")
      assert(filesAfter ===
        IvfModel.lists(spark, corpus).select("cluster").distinct().count().toInt)
      // a quantizer dial change is a REBUILD event: full fit-and-rewrite
      IvfModel.appendLists(spark, corpus, k = 16)
      assert(versions(IvfModel.ListsTable) === lv + 2, "dial change must re-materialize")
      assert(IvfModel.lists(spark, corpus).count() === 500)
      assert(IvfModel.lists(spark, corpus).select("cluster").distinct().count() <= 16)
    } finally {
      System.clearProperty("graft.index.dir")
      IvfModel.resetEnsureMemo()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(tmpRoot))
    }
  }

  test("streamed list maintenance == batch re-materialization (micro-batches, replay-safe)") {
    import spark.implicits._
    val wh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_ivf_stream_").toString)
    val all = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
    // 4 "centroids" = the first 4 vectors (no KMeans needed: the claim
    // under test is maintenance == re-materialization, not fit quality)
    val centFrame = all.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cid"), col("emb").as("cvec"))
    IvfModel.seedListsFrame(wh, all.filter(col("vec_id") < 100), centFrame)
    // the rest arrives as two micro-batches, each one local frame through
    // the append; the second REPLAYS rows of the first (at-least-once
    // delivery) — the anti-join must drop them
    val rows = all.filter(col("vec_id") >= 100).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    for (b <- Seq(b1, b2 ++ b1.take(5)))
      IvfModel.appendListsFrame(wh, b.toSeq.toDF("vec_id", "emb"), centFrame)
    def asn(df: org.apache.spark.sql.DataFrame) = df.select("vec_id", "cluster")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(asn(IvfModel.listsOf(wh)) === asn(IvfModel.assignClusters(all, centFrame)),
      "streamed lists diverge from a batch re-materialization")
    assert(IvfModel.listsOf(wh).count() === all.count(), "replayed rows duplicated")
  }

  test("streamed PQ list maintenance == batch re-materialization (micro-batches, replay-safe)") {
    import spark.implicits._
    import graft.queries.PqModel
    PqModel.ensure(spark, sf())
    val wh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_pq_stream_").toString)
    val all = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
    val cents = IvfModel.centroids(spark, sf())
    val cb = PqModel.codebookArr(spark, sf())
    PqModel.seedPqListsFrame(wh, all.filter(col("vec_id") < 100), cents, cb)
    // the rest arrives as two micro-batches, each one local frame through
    // the append; the second REPLAYS rows of the first (at-least-once
    // delivery) — the anti-join must drop them
    val rows = all.filter(col("vec_id") >= 100).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    for (b <- Seq(b1, b2 ++ b1.take(5)))
      PqModel.appendPqListsFrame(wh, b.toSeq.toDF("vec_id", "emb"), cents, cb)
    def coded(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("codes"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2))).toSet
    // streamed == the globally-ensured coded lists, codes and cells
    // bit-identical (same quantizer + codebook generations)
    assert(coded(PqModel.pqListsOf(wh)) === coded(PqModel.pqLists(spark, sf())),
      "streamed PQ lists diverge from a batch re-materialization")
    assert(PqModel.pqListsOf(wh).count() === all.count(), "replayed rows duplicated")
  }

  test("t48: incremental PQ lists == global re-materialization, replay-safe") {
    import graft.queries.PqModel
    PqModel.ensure(spark, sf())
    val wh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_pq_inc_").toString)
    val all = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
    val cents = IvfModel.centroids(spark, sf())
    val cb = PqModel.codebookArr(spark, sf())
    PqModel.seedPqListsFrame(wh, all.filter(col("vec_id") < 100), cents, cb)
    // append the rest PLUS a replayed slice of the seed (at-least-once
    // delivery) — the anti-join must drop the replays
    PqModel.appendPqListsFrame(wh, all.filter(col("vec_id") >= 100), cents, cb)
    PqModel.appendPqListsFrame(wh,
      all.filter(col("vec_id") >= 100 || col("vec_id") < 5), cents, cb)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("codes"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getInt(2))).toSet
    // increment == the globally-ensured coded lists, codes and cells
    // bit-identical (same quantizer + codebook generations)
    assert(rows(PqModel.pqListsOf(wh)) === rows(PqModel.pqLists(spark, sf())),
      "maintained PQ lists diverge from the global re-materialization")
    assert(PqModel.pqListsOf(wh).count() === all.count(), "replayed rows duplicated")
  }

  test("t48 serves t47's exact result from the maintained table") {
    TextOps.invalidatePairCache()
    val inc = TextOps.t48AnnIvfPqIncrement(spark, sf()).collect().map(_.toSeq).toSeq
    val full = TextOps.t47AnnIvfPq(spark, sf()).collect().map(_.toSeq).toSeq
    assert(inc === full, "incremental IVF-PQ probe != the global probe")
  }

  test("t47 IVF-PQ: compressed lists carry NO float payload; codes are well-formed") {
    import graft.queries.PqModel
    PqModel.ensure(spark, sf())
    val pl = PqModel.pqLists(spark, sf())
    // the compression claim is structural: no ArrayType(Double) column
    // anywhere in the probed list table
    assert(!pl.schema.fields.exists(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _) => true
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _)  => true
      case _                                                                              => false
    }), s"PQ list table still stores float vectors: ${pl.schema}")
    // one row per corpus vector; M codes each, every code in [0, Ks)
    val all = graft.core.Tables.embeddings(spark, sf())
    assert(pl.count() === all.count())
    assert(pl.filter(size(col("codes")) =!= PqModel.SubSpaces).count() === 0)
    assert(pl.filter(exists(col("codes"),
      c => c < 0 || c >= PqModel.CodesPerSub)).count() === 0)
  }

  test("t47 IVF-PQ: reranked cosines are EXACT (match brute force for shared pairs)") {
    val brute = TextOps.t10AnnBruteForce(spark, sf())
      .select(col("query_id"), col("vec_id"), col("cosine").as("bf_cosine"))
    val pq = TextOps.t47AnnIvfPq(spark, sf())
      .select(col("query_id"), col("vec_id"), col("cosine"))
    val joined = pq.join(brute, Seq("query_id", "vec_id"))
    assert(joined.filter(col("cosine") =!= col("bf_cosine")).count() === 0,
      "rerank did not restore exact cosines — ADC error leaked into the output")
  }

  test("t47 IVF-PQ recall@5 vs brute force at the configured dials") {
    import graft.queries.PqModel
    val bf = pairs(TextOps.t10AnnBruteForce(spark, sf()))
    val pq = pairs(TextOps.t47AnnIvfPq(spark, sf()))
    val recall = (bf intersect pq).size.toDouble / bf.size
    val ivf = pairs(TextOps.t14AnnIvf(spark, sf()))
    val ivfRecall = (bf intersect ivf).size.toDouble / bf.size
    info(f"IVF-PQ recall@5 vs brute force: $recall%.2f " +
      f"(uncompressed IVF at same probes: $ivfRecall%.2f; " +
      f"M=${PqModel.SubSpaces}, Ks=${PqModel.CodesPerSub}, rerank=${PqModel.RerankDepth})")
    // PQ trades recall for a 64x list-payload reduction; on this
    // isotropic corpus (near-zero cosine margins — see the object
    // scaladoc) ADC ranking is maximally hostile, so the floor is set
    // below the uncompressed path's 0.8. Exact rerank keeps every
    // reported cosine exact regardless (previous test).
    assert(recall >= 0.6, f"IVF-PQ recall collapsed: $recall%.2f")
  }

  test("t47 rerank-depth dial: shallower shortlist trades recall, floor holds") {
    import graft.queries.PqModel
    val bf = pairs(TextOps.t10AnnBruteForce(spark, sf()))
    val deep = pairs(TextOps.t47AnnIvfPq(spark, sf()))
    val shallow = pairs(TextOps.t47AnnIvfPq(spark, sf(), rerankDepth = 25))
    val (rDeep, rShallow) =
      ((bf intersect deep).size.toDouble / bf.size,
       (bf intersect shallow).size.toDouble / bf.size)
    info(f"IVF-PQ recall@5: depth=${PqModel.RerankDepth} -> $rDeep%.2f, depth=25 -> $rShallow%.2f")
    // a depth-25 shortlist is a subset of the depth-50 one, so recall can
    // only move down (small tie-noise tolerated); it must not collapse
    assert(rShallow <= rDeep + 0.05,
      f"shallower rerank beat the deeper one: $rShallow%.2f > $rDeep%.2f")
    assert(rShallow >= 0.3, f"depth-25 recall collapsed: $rShallow%.2f")
  }

  test("t47/t48: the coded-list scan prunes to the probed partitions") {
    import graft.queries.PqModel
    // same assertion against the global table (t47) and the maintained
    // warehouse-scoped table (t48) — growth must not cost the pruning
    for (df <- Seq(TextOps.t47AnnIvfPq(spark, sf()),
                   TextOps.t48AnnIvfPqIncrement(spark, sf()))) {
      val scans = df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(PqModel.PqListsTable)) => s
      }
      assert(scans.nonEmpty, "probe does not scan the coded list table")
      assert(scans.exists(_.partitionFilters.nonEmpty),
        "coded-list scan carries no partition filters — the probe reads every cell")
    }
  }

  test("t49 filtered ANN: predicate holds on every hit, cosines exact, recall floor vs filtered brute force") {
    import graft.functions.{Rounding => R, VectorOps => V}
    val t49 = TextOps.t49AnnFiltered(spark, sf())
    val emb = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"), col("label"))
    // membership: every returned candidate satisfies the predicate
    val bad = t49.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .filter(col("label") =!= TextOps.FilterLabel).count()
    assert(bad === 0, "filtered probe returned a candidate outside the predicate")
    // filtered brute force: exact top-5 over the label-constrained universe
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    val brute = emb.filter(col("label") === TextOps.FilterLabel)
      .crossJoin(queries).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        R.halfUp(V.cosine(col("q_emb"), col("emb")), 6).as("cosine"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(wTop))
      .filter(col("rk") <= 5)
    // cosines exact for shared pairs (same fold, same rounding)
    val joined = t49.select(col("query_id"), col("vec_id"), col("cosine"))
      .join(brute.select(col("query_id"), col("vec_id"), col("cosine").as("bf")),
        Seq("query_id", "vec_id"))
    assert(joined.filter(col("cosine") =!= col("bf")).count() === 0)
    def pset(df: org.apache.spark.sql.DataFrame) = df.select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (bf, got) = (pset(brute), pset(t49))
    val recall = (bf intersect got).size.toDouble / bf.size
    info(f"filtered ANN recall@5 vs filtered brute force: $recall%.2f " +
      f"(label=${TextOps.FilterLabel}, selectivity ~0.1, nProbe=${IvfModel.NProbe}/${IvfModel.K})")
    assert(recall >= 0.7, f"filtered recall collapsed: $recall%.2f")
  }

  test("t49: attr-list scan is partition-pruned AND the predicate is pushed to the scan") {
    val df = TextOps.t49AnnFiltered(spark, sf())
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(IvfModel.AttrListsTable)) => s
    }
    assert(scans.nonEmpty, "probe does not scan the attributed list table")
    assert(scans.exists(_.partitionFilters.nonEmpty),
      "attr-list scan carries no partition filters — the probe reads every cell")
    assert(scans.exists(_.dataFilters.exists(_.references.exists(_.name == "label"))),
      "label predicate did not reach the attr-list scan — candidates are filtered post-read")
  }

  test("streamed attributed-list maintenance == the globally-ensured attr lists, replay-safe") {
    import spark.implicits._
    IvfModel.ensureAttrLists(spark, sf())
    val wh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_attr_stream_").toString)
    val all = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"),
        col("label"))
    val cents = IvfModel.centroids(spark, sf())
    IvfModel.seedAttrListsFrame(wh, all.filter(col("vec_id") < 100), cents)
    // the rest arrives as two micro-batches, each one local frame through
    // the append; the second REPLAYS rows of the first (at-least-once
    // delivery) — the anti-join must drop them
    val rows = all.filter(col("vec_id") >= 100).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    for (b <- Seq(b1, b2 ++ b1.take(5)))
      IvfModel.appendAttrListsFrame(wh, b.toSeq.toDF("vec_id", "emb", "label"), cents)
    def attr(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("label"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // maintained == the globally-ensured attributed lists: same cells,
    // same attributes (same quantizer generation)
    assert(attr(IvfModel.attrListsOf(wh)) === attr(IvfModel.attrLists(spark, sf())),
      "maintained attr lists diverge from the global re-materialization")
    assert(IvfModel.attrListsOf(wh).count() === all.count(), "replayed rows duplicated")
  }

  test("ANN append anti-joins prune to the batch's own cluster partitions, stay idempotent") {
    import graft.queries.{BucketPrune, PqModel}
    PqModel.ensure(spark, sf())
    val wh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_ann_appendprune_").toString)
    val all = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
    val cents = IvfModel.centroids(spark, sf())
    val cb = PqModel.codebookArr(spark, sf())
    IvfModel.seedListsFrame(wh, all.filter(col("vec_id") < 100), cents)
    PqModel.seedPqListsFrame(wh, all.filter(col("vec_id") < 100), cents, cb)
    // replay the pruned read both appends run: an already-landed vec_id
    // necessarily lives in the cluster the deterministic re-assignment
    // derives (immutable-content precondition), so only the batch's own
    // partitions are read
    val batch = all.filter(col("vec_id") >= 100 && col("vec_id") < 200)
    val assigned = IvfModel.assignClusters(batch, cents)
    for ((table, schema) <- Seq(
           IvfModel.ListsTable -> IvfModel.ListsSchema,
           PqModel.PqListsTable -> PqModel.PqListsSchema)) {
      val pruned = BucketPrune.restrict(wh.read(table, schema), "cluster", assigned)
      val scans = pruned.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(table)) => s
      }
      assert(scans.nonEmpty, s"$table: append's anti-join does not scan the list table")
      assert(scans.forall(_.partitionFilters.nonEmpty),
        s"$table: append's anti-join read carries no partition filter — it scans every cell")
    }
    // ...and the pruned appends are still complete + replay-idempotent
    IvfModel.appendListsFrame(wh, batch, cents)
    PqModel.appendPqListsFrame(wh, batch, cents, cb)
    val (n1, p1) = (IvfModel.listsOf(wh).count(), PqModel.pqListsOf(wh).count())
    val (f1, g1) = (IvfModel.listsOf(wh).inputFiles.toSet,
      PqModel.pqListsOf(wh).inputFiles.toSet)
    IvfModel.appendListsFrame(wh, batch, cents)
    PqModel.appendPqListsFrame(wh, batch, cents, cb)
    assert(IvfModel.listsOf(wh).count() === n1, "pruned replay duplicated list rows")
    assert(PqModel.pqListsOf(wh).count() === p1, "pruned replay duplicated coded rows")
    assert(n1 === all.filter(col("vec_id") < 200).count() && p1 === n1)
    // zero fresh rows ⇒ zero committed files: the replay's write machinery
    // must skip outright (Frames.writeNonEmpty), not append empty litter
    assert(IvfModel.listsOf(wh).inputFiles.toSet === f1,
      "replayed list append touched the live file set")
    assert(PqModel.pqListsOf(wh).inputFiles.toSet === g1,
      "replayed PQ append touched the live file set")
  }

  test("filteredTopK crossover: probe branch == t49; brute branch == exact filtered top-5") {
    import graft.functions.{Rounding => R, VectorOps => V}
    // floor 0: the survivor count (~10% of the corpus) exceeds it — probe path
    val probed = TextOps.filteredTopK(spark, sf(), bruteFloor = 0)
      .collect().map(_.toSeq).toSeq
    val t49 = TextOps.t49AnnFiltered(spark, sf()).collect().map(_.toSeq).toSeq
    assert(probed === t49, "above the floor, filteredTopK must serve exactly the t49 probe")
    // floor >= corpus: brute path — exact filtered top-5, no approximation
    val brute = TextOps.filteredTopK(spark, sf(),
      bruteFloor = Long.MaxValue).collect().map(_.toSeq).toSeq
    val emb = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), V.toDouble(col("embedding")).as("emb"), col("label"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    val expectPairs = emb.filter(col("label") === TextOps.FilterLabel)
      .crossJoin(queries).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        R.halfUp(V.cosine(col("q_emb"), col("emb")), 6).as("cosine"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(wTop))
      .filter(col("rk") <= 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPairs = brute.map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
    assert(gotPairs === expectPairs, "below the floor, filteredTopK must be the exact filtered top-5")
  }

  test("ClusterState.maintain compacts ANN list append litter, rows intact") {
    import graft.queries.PqModel
    PqModel.ensure(spark, sf())
    val wh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_maintain_ann_").toString)
    val all = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
    val cents = IvfModel.centroids(spark, sf())
    IvfModel.seedListsFrame(wh, all.filter(col("vec_id") < 50), cents)
    // three appends = three files of litter per touched partition
    for (lo <- Seq(50, 100, 150))
      IvfModel.appendListsFrame(wh,
        all.filter(col("vec_id") >= lo && col("vec_id") < lo + 50), cents)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("vec_id", "cluster")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val before = rows(IvfModel.listsOf(wh))
    graft.pipelines.ClusterState.maintain(wh)
    assert(rows(IvfModel.listsOf(wh)) === before, "maintain changed list rows")
    // one file per cluster directory after compaction
    val liveDir = new java.io.File(wh.dir).listFiles()
      .filter(f => f.getName.startsWith(s"${IvfModel.ListsTable}.__v") &&
        new java.io.File(f, "_SUCCESS").exists()).maxBy(_.getName)
    val perPart = liveDir.listFiles().filter(_.getName.startsWith("cluster="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perPart.nonEmpty && perPart.forall(_ === 1),
      s"append litter survived maintain: ${perPart.mkString(",")}")
  }

  test("IVFADC on clustered geometry: recall@5 >= 0.9 at depth <= 50 at the production ks=256 dial") {
    import graft.queries.PqModel
    // the driver's isotropic corpus is the adversarial floor for ANY
    // bucketing scheme (recall ~ probe fraction); production recall
    // claims belong on clustered geometry — the structure IVF-PQ
    // actually exploits. Deterministic clustered corpus, same schema.
    val dir = java.nio.file.Files.createTempDirectory("graft_clustered_").toString
    graft.tools.ScaleData.writeClusteredCorpus(spark, dir, 2000)
    val bf = pairs(TextOps.t10AnnBruteForce(spark, dir))
    assert(bf.size === 50, s"brute-force baseline malformed: ${bf.size} pairs")
    def recall(df: org.apache.spark.sql.DataFrame) =
      (bf intersect pairs(df)).size.toDouble / bf.size
    // the coarse-probe CEILING: the uncompressed IVF at the same
    // (k, nProbe) — everything PQ loses beyond this is coding loss
    val rIvf = recall(TextOps.t14AnnIvf(spark, dir))
    // test dial (ks=16, 4-bit codes), residual encoding
    val r16 = recall(TextOps.t47AnnIvfPq(spark, dir))
    // production dial (ks=256, byte codes) — the FAISS-IVFPQ default
    val r256 = recall(TextOps.t47AnnIvfPq(spark, dir, ks = PqModel.ProductionCodesPerSub))
    // ...and the bar dial: nProbe widened to 24/32 (nProbe is query-side,
    // no refit) — coarse coverage, not coding, is what was binding
    val r256w = recall(TextOps.t47AnnIvfPq(spark, dir, nProbe = 24,
      ks = PqModel.ProductionCodesPerSub))
    info(f"clustered recall@5: IVF ceiling $rIvf%.2f | IVFADC ks=16 $r16%.2f, " +
      f"ks=256 $r256%.2f (nProbe=${IvfModel.NProbe}/${IvfModel.K}, depth=${PqModel.RerankDepth}); " +
      f"ks=256 @ nProbe=24 -> $r256w%.2f")
    // the production-dial bar: >= 0.9 at depth <= 50
    assert(r256w >= 0.9, f"production-dial recall below the bar: $r256w%.2f")
    // byte codes + rerank are near-lossless vs the coarse ceiling: the
    // CODING loss at the default probe is within 0.04 of uncompressed
    assert(r256 >= rIvf - 0.04,
      f"ks=256 coding loss vs the IVF ceiling: $r256%.2f < $rIvf%.2f - 0.04")
    // more codewords can only describe the residual better
    assert(r256 >= r16 - 0.05, f"ks=256 lost to ks=16: $r256%.2f < $r16%.2f")
    // and the 4-bit dial must already be serviceable on real geometry
    assert(r16 >= 0.6, f"test-dial recall collapsed on clustered data: $r16%.2f")
  }

  test("batched ANN serving: 10^4 queries == broadcast reference, no corpus broadcast, scan still pruned") {
    IvfModel.ensureLists(spark, sf())
    val emb = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
    val base = emb.count()
    // ~10^4 queries: the corpus replicated with disjoint query_ids —
    // each replica must get the SAME neighbors its source vector gets
    val replicas = math.max(1, (10000 / base).toInt + 1)
    val queries = (0 until replicas).map(i =>
      emb.select((col("vec_id") + lit(i * 1000000L)).as("query_id"), col("emb").as("q_emb")))
      .reduce(_ unionByName _)
    val nQ = queries.count()
    info(s"query batch: $nQ queries over a $base-vector corpus")
    assert(nQ >= 10000, s"fixture: batch too small ($nQ)")
    // forced shuffle-hash (the past-the-cap shape) == forced broadcast
    // (the reference shape, t36's plan) — identical results
    val batched = TextOps.annTopKBatch(spark, sf(), queries, topK = 3,
      broadcastQueries = Some(false))
    val reference = TextOps.annTopKBatch(spark, sf(), queries, topK = 3,
      broadcastQueries = Some(true))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "cosine", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(batched) === rows(reference),
      "shuffle-hash batch serving diverges from the broadcast reference")
    // ...and every replica of query q ranks exactly like the q itself
    // under the registered probe (vec_id<10 slice, same nProbe): the
    // original vector is its own top hit at cosine 1.0 excepted
    val plan = batched.queryExecution.sparkPlan
    // the corpus (list) side must NOT be broadcast: no broadcast hash
    // join anywhere (the only broadcasts left are the 1-row centroid
    // array attaches — nested-loop, not hash)
    assert(plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.isEmpty, "batched serving still broadcasts a join side")
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => s
    }.nonEmpty, "batched serving did not take the shuffle-hash join")
    // the list scan still partition-prunes to the union of probed cells
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(IvfModel.ListsTable)) => s
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "batched serving reads every cell — union-of-probes pruning lost")
  }

  test("batched PQ serving: 10^4 queries == broadcast reference, no corpus broadcast, coded scan pruned") {
    // the compressed twin of the test above — the shape the round-12
    // sf10sub corpus-scale run measures (BENCH_R13_BATCHSERVE.json, SCALE.md):
    // past the cap the ADC probe must shuffle the query-derived sides,
    // never broadcast the coded lists, and still prune to probed cells
    import graft.queries.PqModel
    PqModel.ensure(spark, sf())
    val emb = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
    val base = emb.count()
    val replicas = math.max(1, (10000 / base).toInt + 1)
    val queries = (0 until replicas).map(i =>
      emb.select((col("vec_id") + lit(i * 1000000L)).as("query_id"), col("emb").as("q_emb")))
      .reduce(_ unionByName _)
    assert(queries.count() >= 10000)
    val batched = TextOps.annTopKBatchPq(spark, sf(), queries, topK = 3,
      broadcastQueries = Some(false))
    val reference = TextOps.annTopKBatchPq(spark, sf(), queries, topK = 3,
      broadcastQueries = Some(true))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "cosine", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(batched) === rows(reference),
      "shuffle-side PQ serving diverges from the broadcast reference")
    val plan = batched.queryExecution.sparkPlan
    // the CODED LISTS — the side that is corpus-scale in production —
    // must never sit under a BroadcastExchange. (Unlike the float test
    // above, the PQ path ALSO reranks against the full embeddings
    // table, and on this 500-vector corpus the planner rightly
    // auto-broadcasts that attach from honest stats — forcing it to
    // shuffle here would be fighting Catalyst, not pinning a shape.)
    def scansLists(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(PqModel.PqListsTable)) => s
      }.nonEmpty
    val bcOverLists = plan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
        if scansLists(b.child) => b
    }
    assert(bcOverLists.isEmpty, "batched PQ serving broadcasts the coded lists")
    // the probe join must be SHUFFLE-side — shuffle-hash under the
    // non-spillable build budget, sort-merge past it (this batch's
    // ~1 KB-per-row ADC tables estimate over the 512 MB budget, so the
    // spillable strategy is the correct pick here; the 10⁵-query
    // corpus-scale run died in the SHJ build before the gate existed)
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => s
      case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
    }.nonEmpty, "batched PQ serving took neither shuffle strategy")
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(PqModel.PqListsTable)) => s
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "batched PQ serving reads every cell — union-of-probes pruning lost")
  }

  test("single-partition query frame: probe compute re-spreads on the shuffle branch, results unchanged") {
    // the natural reproducible batch fixture — orderBy(id).limit(n), a
    // GLOBAL SORT — arrives as ONE partition, and everything between the
    // query frame and the candidate join is narrow: without the explicit
    // re-spread the whole per-query probe compute (PQ: the interpreted
    // per-(query, cell) ADC-table build) serializes onto one core.
    // Measured at the sf10sub production dial: 1793 s single-partition
    // vs 258 s for the same volume arriving 32-way (SCALE.md round 13).
    import graft.queries.PqModel
    PqModel.ensure(spark, sf())
    val emb = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
    val onePart = emb.orderBy(col("vec_id")).limit(50)
      .select((col("vec_id") + 1000000000L).as("query_id"), col("emb").as("q_emb"))
      .localCheckpoint()
    assert(onePart.rdd.getNumPartitions === 1, "fixture: global sort-limit should be one partition")
    // the re-spread pins an EXPLICIT width (REPARTITION_BY_COL would be
    // AQE size-coalesced right back to one partition at these row sizes)
    val spread = TextOps.redistributeQueries(onePart, broadcastQueries = false)
    assert(spread.rdd.getNumPartitions ===
      spark.sessionState.conf.numShufflePartitions,
      "shuffle-branch query frame did not re-spread to the shuffle width")
    // broadcast branch is untouched — no shuffle added under a broadcast
    assert(TextOps.redistributeQueries(onePart, broadcastQueries = true).rdd
      .getNumPartitions === 1)
    // end-to-end through the shuffle branch: same results as broadcast
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id", "cosine", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(TextOps.annTopKBatchPq(spark, sf(), onePart, topK = 3,
        broadcastQueries = Some(false))) ===
      rows(TextOps.annTopKBatchPq(spark, sf(), onePart, topK = 3,
        broadcastQueries = Some(true))),
      "re-spread shuffle-branch serving diverges from the broadcast reference")
    assert(rows(TextOps.annTopKBatch(spark, sf(), onePart, topK = 3,
        broadcastQueries = Some(false))) ===
      rows(TextOps.annTopKBatch(spark, sf(), onePart, topK = 3,
        broadcastQueries = Some(true))),
      "re-spread float-path serving diverges from the broadcast reference")
  }

  test("filtered-search dispatch is jobless on a warm JVM (persisted per-label stats)") {
    IvfModel.ensureAttrLists(spark, sf())
    // first access loads the one-file stats table (a tiny job) and warms
    // the per-generation memo
    val warm = IvfModel.attrLabelCount(spark, sf(), TextOps.FilterLabel)
    // ...and the stat must agree with a live count of the lists
    val live = IvfModel.attrLists(spark, sf())
      .filter(col("label") === TextOps.FilterLabel).count()
    assert(warm === live, "persisted survivor stat diverges from the live lists")
    assert(warm > 0, "fixture broken: no survivors under the filter label")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // calibrate: the listener must observably see a real job through
      // the async bus within the wait we use for the zero assertion
      spark.range(10).toDF().queryExecution.toRdd.count()
      val deadline = System.currentTimeMillis() + 5000
      while (jobs.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(jobs.get() > 0, "listener calibration failed — cannot assert joblessness")
      jobs.set(0)
      // the dispatch stat on a warm memo: NO Spark job
      assert(IvfModel.attrLabelCount(spark, sf(), TextOps.FilterLabel) === warm)
      Thread.sleep(1000) // same bus latency budget the calibration passed under
      assert(jobs.get() === 0,
        s"warm dispatch launched ${jobs.get()} Spark job(s) — the count is not O(1)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("checked append skips a mutated vector's re-ingest; unchecked duplicates it; maintain audits it") {
    import graft.queries.PqModel
    PqModel.ensure(spark, sf())
    val cents = IvfModel.centroids(spark, sf())
    val cb = PqModel.codebookArr(spark, sf())
    val all = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"))
    // pick two seeded vectors that live in DIFFERENT cells, then "mutate"
    // the first's content into the second's vector — the re-assignment
    // lands in the other cell, the exact escape the precondition documents
    val seeded = IvfModel.assignClusters(all.filter(col("vec_id") < 100), cents)
      .select("vec_id", "cluster").collect().map(r => (r.getLong(0), r.getInt(1)))
    val (idA, cellA) = seeded.head
    val (idB, _) = seeded.find(_._2 != cellA).get
    val mutated = all.filter(col("vec_id") === idB)
      .select(lit(idA).as("vec_id"), col("emb"))
    def dupes(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("vec_id").count().filter(col("count") > 1).count()
    // unchecked: the documented hazard, made visible — and the maintain
    // audit reports it loudly instead of letting it sit silent
    val whU = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_checked_u_").toString)
    IvfModel.seedListsFrame(whU, all.filter(col("vec_id") < 100), cents)
    PqModel.seedPqListsFrame(whU, all.filter(col("vec_id") < 100), cents, cb)
    IvfModel.appendListsFrame(whU, mutated, cents)
    PqModel.appendPqListsFrame(whU, mutated, cents, cb)
    assert(dupes(IvfModel.listsOf(whU)) === 1, "fixture: mutation did not escape the pruned check")
    val audit = graft.pipelines.ClusterState.maintain(whU)
    assert(audit.duplicateIds.get(IvfModel.ListsTable).contains(1L))
    assert(audit.duplicateIds.get(PqModel.PqListsTable).contains(1L))
    // checked: the unpruned anti-join sees the landed id regardless of
    // cell — skipped, never duplicated; honest fresh rows still land
    val whC = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_checked_c_").toString)
    IvfModel.seedListsFrame(whC, all.filter(col("vec_id") < 100), cents)
    PqModel.seedPqListsFrame(whC, all.filter(col("vec_id") < 100), cents, cb)
    IvfModel.appendListsFrame(whC, mutated, cents, checked = true)
    PqModel.appendPqListsFrame(whC, mutated, cents, cb, checked = true)
    assert(dupes(IvfModel.listsOf(whC)) === 0 && dupes(PqModel.pqListsOf(whC)) === 0)
    val fresh = all.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    IvfModel.appendListsFrame(whC, fresh, cents, checked = true)
    PqModel.appendPqListsFrame(whC, fresh, cents, cb, checked = true)
    val expectN = all.filter(col("vec_id") < 150).count()
    assert(IvfModel.listsOf(whC).count() === expectN)
    assert(PqModel.pqListsOf(whC).count() === expectN)
    assert(graft.pipelines.ClusterState.maintain(whC)
      .duplicateIds.values.forall(_ === 0L))
  }

  test("seeds project to the payload shape: a caller's extra columns don't persist") {
    val wh = graft.etl.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_seedproj_").toString)
    val cents = IvfModel.centroids(spark, sf())
    val all = graft.core.Tables.embeddings(spark, sf())
      .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")).as("emb"),
        col("label"), lit("junk").as("extra_col"))
    IvfModel.seedListsFrame(wh, all, cents)
    IvfModel.seedAttrListsFrame(wh, all, cents)
    // the RAW persisted schema (schema-inferred read of the live version
    // dir, not the projected accessors): exactly the payload + stamp +
    // partition column, nothing the caller dragged in
    def rawColumns(table: String): Set[String] = {
      val live = new java.io.File(wh.dir).listFiles()
        .filter(f => f.getName.startsWith(s"$table.__v") &&
          new java.io.File(f, "_SUCCESS").exists()).maxBy(_.getName)
      spark.read.parquet(live.toString).columns.toSet
    }
    assert(rawColumns(IvfModel.ListsTable) ===
      Set("vec_id", "emb", "corpus_stamp", "cluster"))
    assert(rawColumns(IvfModel.AttrListsTable) ===
      Set("vec_id", "emb", "label", "corpus_stamp", "cluster"))
  }

  test("servingDepth: auto rerank depth from the stamped corpus stat, jobless when warm") {
    import graft.queries.PqModel
    IvfModel.ensureLists(spark, sf())
    // the stamped one-row stat agrees with a live count
    val live = IvfModel.lists(spark, sf()).count()
    assert(IvfModel.corpusCount(spark, sf()) === live)
    // at the audited test corpus the law lands exactly on the spec dial
    assert(PqModel.servingDepth(spark, sf()) === PqModel.RerankDepth)
    // at a 20k-corpus shape it scales (the SCALE.md measurement): the
    // formula, not the persisted stat, carries the law
    assert(PqModel.depthFor(20000L * IvfModel.NProbe / IvfModel.K) === 200)
    // warm dispatch runs ZERO jobs — same contract as the label stats
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.range(10).toDF().queryExecution.toRdd.count()
      val deadline = System.currentTimeMillis() + 5000
      while (jobs.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(jobs.get() > 0, "listener calibration failed — cannot assert joblessness")
      jobs.set(0)
      assert(PqModel.servingDepth(spark, sf()) === PqModel.RerankDepth)
      Thread.sleep(1000)
      assert(jobs.get() === 0,
        s"warm servingDepth launched ${jobs.get()} Spark job(s) — the dial is not O(1)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the batched PQ entry point's AUTO default equals the explicit dial
    import org.apache.spark.sql.functions.col
    val queries = graft.core.Tables.embeddings(spark, sf())
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("q_emb"))
    val auto = TextOps.annTopKBatchPq(spark, sf(), queries).collect().toSeq
    val pinned = TextOps.annTopKBatchPq(spark, sf(), queries,
      rerankDepth = Some(PqModel.servingDepth(spark, sf()))).collect().toSeq
    assert(auto === pinned)
  }

  test("PqModel.depthFor holds the audited depth/probed-candidates ratio") {
    import graft.queries.PqModel
    // the audited spec dial: ~1k probed candidates at n=2k -> depth 50
    assert(PqModel.depthFor(1000) === PqModel.RerankDepth)
    // the 20k measurement: ~10k probed -> depth 200 restores
    // ceiling-tracking (SCALE.md round-11 recall table)
    assert(PqModel.depthFor(10000) === 200)
    // floor at the audited default, monotone above it
    assert(PqModel.depthFor(0) === PqModel.RerankDepth)
    assert(PqModel.depthFor(5000000L) === 100000)
  }

  test("Lsh.bitsFor computes the documented occupancy dial") {
    // reference: smallest bits with expected occupancy n/2^bits <= target
    def ref(n: Long, target: Int): Int =
      (1 to Lsh.MaxBits).find(b => n.toDouble / (1L << b) <= target)
        .getOrElse(Lsh.MaxBits)
    // the historical target-32 anchors: sf0.1's 2000 vectors -> the 6-bit
    // test code; the sf1.0 rehearsal's 20k -> the 10-bit dial round 10
    // measured (4.6 s where bits=6 measured 39 s)
    assert(Lsh.bitsFor(2000, 32) === 6)
    assert(Lsh.bitsFor(20000, 32) === 10)
    // the round-13 occupancy policy (target 8) widens each decade's code
    // by 2 bits: quarter the occupancy, quarter the pair-join candidates
    assert(Lsh.BucketTarget === 8)
    assert(Lsh.bitsFor(20000) === 12)
    assert(Lsh.bitsFor(200000) === 15)
    for (n <- Seq(1L, 31L, 32L, 33L, 1000L, 65536L, 1000000L, 100000000000L);
         t <- Seq(1, 8, 32, 1000))
      assert(Lsh.bitsFor(n, t) === ref(n, t), s"n=$n target=$t")
    // growing the corpus never narrows the code (monotone dial)
    val seq = Seq(100L, 1000L, 10000L, 100000L).map(Lsh.bitsFor(_))
    assert(seq === seq.sorted)
  }
}
