package graft

import org.apache.spark.sql.functions._

import graft.tools.ScaleData

/** The scale-up generator's two contracts, pinned after the factor-1000
  * corpus broke the first one in practice (SCALE.md round 14):
  *
  *  1. NO EXACT REPLICAS within the factors the decade batteries use —
  *     copies beyond the substitution/isometry family's cycle are exact
  *     content duplicates under new ids, and every dedup bucket then
  *     self-joins quadratically over the duplicate groups (measured:
  *     the t37 seed filled the disk at factor 1000 when the text cycle
  *     was 100).
  *  2. WITHIN-COPY STRUCTURE EXACTLY PRESERVED — text substitution is a
  *     bijection on the letter alphabet (shingle equality isomorphic),
  *     the embedding transform is an isometry (norms and pairwise inner
  *     products bit-meaningfully equal), so per-copy workloads see the
  *     original corpus's geometry, not a distorted one.
  */
class ScaleDataSpec extends SparkTestBase {

  test("text substitution is a bijection on a-t with cycle >= 1000, identity below 100") {
    val alpha20 = "abcdefghijklmnopqrst"
    // permutation property at every level, not just the sampled ones
    for (i <- Seq(0, 1, 9, 10, 99, 100, 137, 599, 600, 999)) {
      val t = ScaleData.rotAlpha(i)
      assert(t.length == 20 && t.sorted == alpha20, s"copy $i not a bijection: $t")
    }
    // the old cycle-100 failure: copy i and i+100 were EQUAL pre-fix
    assert(ScaleData.rotAlpha(0) != ScaleData.rotAlpha(100))
    assert(ScaleData.rotAlpha(37) != ScaleData.rotAlpha(137))
    // full distinctness across the factor-1000 range the battery uses
    val all = (0 until 1000).map(ScaleData.rotAlpha)
    assert(all.distinct.size == 1000, "text family has a cycle < 1000")
  }

  test("text level 4 (reversal past copy 2000): cycle >= 4000, identity below 2000, factor guard") {
    import spark.implicits._
    val alpha20 = "abcdefghijklmnopqrst"
    // exhaustive distinctness over the round-17 factor-3000 corpus's
    // whole range (and the family's full stated cycle)
    val all = (0 until ScaleData.TextCycle).map(ScaleData.rotAlpha)
    assert(all.distinct.size == ScaleData.TextCycle,
      s"text family has a cycle < ${ScaleData.TextCycle}")
    // still a bijection at level-4 copies
    for (i <- Seq(2000, 2001, 2137, 3999))
      assert(ScaleData.rotAlpha(i).sorted == alpha20, s"copy $i not a bijection")
    // identity below 2000: the recorded corpora's exact values (copy 100
    // = global shift by 1; copy 2100 = the same shifted image reversed)
    assert(ScaleData.rotAlpha(100) == "bcdefghijklmnopqrsta")
    assert(ScaleData.rotAlpha(2100) == "srqponmlkjihgfedcbat")
    // past the cycle the generator REFUSES (the factor-1000 ENOSPC
    // lesson as arithmetic, not a silent duplicate corpus)
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_guard_").toString
    Seq((1L, "abc")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val base = spark.read.parquet(s"$dir/documents.parquet")
    intercept[IllegalArgumentException] {
      ScaleData.tableCopy(base, "documents", ScaleData.TextCycle + 1, 0, 0)
    }
  }

  test("embedding transform is an exact isometry with cycle >= 1000 at dim=64") {
    import spark.implicits._
    val dim = 64
    val rng = new scala.util.Random(7)
    val vecs = Seq.tabulate(3)(i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_spec_").toString
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")

    def dots(rows: Seq[Array[Float]]): Seq[Double] =
      for (a <- rows; b <- rows)
        yield a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum

    val baseDots = dots(vecs.map(_._2))
    // pre-fix cycle was 2*dim = 128: copy 128 duplicated copy 0's
    // vectors exactly. Sample the three levels and the old collision.
    val copies = Seq(0, 1, 64, 128, 129, 640, 999)
    // the sampled copies of the factor-1000 table, built directly: the
    // full scaleTable union is 1000 branches for 7 of them (its union is
    // pinned by the scaleTable test below)
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
    val scaled = copies.map(ScaleData.tableCopy(base, "embeddings", 1000, dim, _))
      .reduce(_ unionByName _)
      .filter(floor(col("vec_id") / ScaleData.Stride).isin(copies.map(_.toLong): _*))
      .select((col("vec_id") / ScaleData.Stride).cast("long").as("copy"),
        col("vec_id") % ScaleData.Stride, col("embedding"))
      .as[(Long, Long, Array[Float])].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

    for (c <- copies.map(_.toLong)) {
      val d = dots(scaled(c))
      baseDots.zip(d).foreach { case (b, x) =>
        assert(math.abs(b - x) < 1e-5, s"copy $c distorted geometry: $b vs $x")
      }
    }
    // no exact replicas across the factor-1000 range: copy 0 vs the old
    // cycle point 128 (and a level-3 point) must differ elementwise
    assert(scaled(0L).head.toSeq != scaled(128L).head.toSeq,
      "embedding family still cycles at 128")
    assert(scaled(0L).head.toSeq != scaled(640L).head.toSeq)
    // identity below the third level's engagement (copy 1 = rotation
    // only, unchanged from the recorded generator): rotation by 1
    val v0 = vecs.head._2
    val expected = (v0.drop(1) ++ v0.take(1)).toSeq
    assert(scaled(1L).head.toSeq == expected, "level-1 rotation changed")
  }

  test("embedding level 4 (odd-eighth negation past copy 16*dim): distinct isometries to 16384 at dim=64") {
    import spark.implicits._
    val dim = 64
    val rng = new scala.util.Random(13)
    val vec = Array.fill(dim)(rng.nextGaussian().toFloat)
    val dir = java.nio.file.Files.createTempDirectory("graft_scale_l4_").toString
    Seq((0L, vec)).toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
    def copyVec(i: Int): Seq[Float] =
      ScaleData.tableCopy(base, "embeddings", 3000, dim, i)
        .select("embedding").as[Array[Float]].collect().head.toSeq
    // pre-fix the family cycled at 16*dim = 1024: copy 1024 duplicated
    // copy 0's vector set exactly — the round-17 factor-3000 corpus
    // would have handed every sign-code bucket ~3 exact duplicates
    val v0 = copyVec(0)
    assert(v0 == vec.toSeq, "copy 0 is not the identity")
    val v1024 = copyVec(1024)
    assert(v1024 != v0, "embedding family still cycles at 1024")
    // the level-4 sign patterns are the STATED arithmetic: copy 1024
    // (bits2 = 1 → eighth 1 negated) flips exactly positions 8..15
    val expected1024 = vec.toSeq.zipWithIndex.map { case (x, p) =>
      if (p / 8 == 1) -x else x }
    assert(v1024 == expected1024, "level-4 eighth negation pattern wrong")
    // isometry at sampled level-4 copies: norms exactly preserved
    val baseNorm = math.sqrt(vec.map(x => x.toDouble * x).sum)
    for (c <- Seq(1024, 2048, 2999)) {
      val n = math.sqrt(copyVec(c).map(x => x.toDouble * x).sum)
      assert(math.abs(n - baseNorm) < 1e-4, s"copy $c broke the isometry")
    }
    // distinctness of the COMPOSED map over the full 256*dim cycle,
    // via the generators' GF(2) independence: the (rotation, level-2,
    // level-3, level-4) tuple recovers i uniquely below 16384, and
    // distinct tuples give distinct sign diagonals (all-ones, quarters
    // {2,3}/{4,5}/{6,7}, eighths 1/3/5/7 are independent over the
    // eighth-block space). Checked here as arithmetic over all 16384
    // copies rather than 16384 Spark plans.
    def signPattern(i: Int): Seq[Int] = {
      val s = Array.fill(8)(1)
      if (i / dim % 2 == 1) (0 until 8).foreach(b => s(b) = -s(b))
      val b3 = i / (2 * dim) % 8
      for (q <- 1 to 3 if (b3 & (1 << (q - 1))) != 0; e <- Seq(2 * q, 2 * q + 1))
        s(e) = -s(e)
      val b4 = i / (16 * dim) % 16
      for (b <- 0 to 3 if (b4 & (1 << b)) != 0) s(2 * b + 1) = -s(2 * b + 1)
      s.toSeq
    }
    val tuples = (0 until 256 * dim).map(i => (i % dim, signPattern(i)))
    assert(tuples.distinct.size == 256 * dim,
      "embedding isometry family has a cycle < 256*dim")
    // the guard: factors past the cycle refuse
    intercept[IllegalArgumentException] {
      ScaleData.tableCopy(base, "embeddings", 256 * dim + 1, dim, 0)
    }
  }

  test("tiny dims: level 3 skips explicitly at dim < 4; dim % 4 tail preserved, no nulls") {
    import spark.implicits._
    // dim = 2: q = dim/4 = 0 — pre-guard, floor(pos/0) was NULL in
    // non-ANSI Spark and silently nulled level-3 copies' embeddings;
    // the guard makes level 3 an explicit identity (degraded cycle 2·dim
    // is a stated property for sub-4 dims, not a division artifact)
    for (dim <- Seq(2, 6)) {
      val rng = new scala.util.Random(11)
      val vecs = Seq.tabulate(2)(i => (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat)))
      val dir = java.nio.file.Files.createTempDirectory(s"graft_scale_dim${dim}_").toString
      vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
      // one copy per isometry level incl. a level-3-engaged one (i >= 2·dim)
      val copies = Seq(0L, 1L, (2 * dim).toLong, (4 * dim + 1).toLong)
      val scaled = ScaleData.scaleTable(spark, "embeddings", dir, 5 * dim)
        .filter(floor(col("vec_id") / ScaleData.Stride).isin(copies: _*) &&
          col("vec_id") % ScaleData.Stride === 0)
        .select((col("vec_id") / ScaleData.Stride).cast("long").as("copy"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      assert(scaled.length == copies.length)
      assert(scaled.forall(r => r._2 != null && !r._2.exists(_.isNaN) && r._2.length == dim),
        s"dim=$dim produced null/NaN/truncated embeddings at a level-3 copy")
      // isometry at every sampled copy of base vector 0: norm preserved
      val baseNorm = math.sqrt(vecs.head._2.map(x => x.toDouble * x).sum)
      for ((c, v) <- scaled) {
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        assert(math.abs(n - baseNorm) < 1e-4, s"dim=$dim copy $c broke the isometry: $n vs $baseNorm")
      }
    }
  }
}
