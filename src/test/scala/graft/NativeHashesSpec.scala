package graft

import org.apache.spark.sql.functions._

import graft.functions.{NativeHashes => NH, TextFunctions => TF}

/** The native codegen expressions must be bit-identical to the
  * higher-order-function formulations on real corpus data — both the
  * codegen path (cluster) and interpreted eval path (fallback).
  */
class NativeHashesSpec extends SparkTestBase {

  private def docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(100)

  test("native simhash63 == HOF simhash63 on corpus sample") {
    val base = docs
      .select(col("doc_id"), TF.tokenHashes(TF.tokens(col("text"))).as("hs"))
    val mismatch = base
      .select(col("doc_id"),
        NH.simhash63(col("hs")).as("native"),
        TF.simhash63FromHashes("hs").as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mismatch === 0)
  }

  test("native minhash signature == HOF signature on corpus sample") {
    val base = docs
      .select(col("doc_id"), TF.shingles(TF.tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), TF.shingleHashes(col("sh")).as("hs"))
    val mismatch = base
      .select(col("doc_id"),
        NH.minhashSignature(col("hs"), 16).as("native"),
        TF.minhashSignatureFromHashes(col("hs"), 16).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(mismatch === 0)
  }

  test("native single-pass ShingleHashes == HOF tokenize->shingle->hash chain") {
    val nat = docs.select(col("doc_id"),
      graft.functions.NativeText.shingleHashes(col("text"), 3).as("hs"))
    val hof = docs
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TF.shingleHashes(TF.shingles(col("toks"), 3)).as("hs2"))
    val joined = nat.join(hof, "doc_id")
    assert(joined.filter(col("hs") =!= col("hs2")).count() === 0)
    assert(joined.count() === 100)
  }

  test("native single-pass TokenHashes == HOF tokenize->hash chain") {
    val nat = docs.select(col("doc_id"),
      graft.functions.NativeText.tokenHashes(col("text")).as("hs"))
    val hof = docs
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TF.tokenHashes(col("toks")).as("hs2"))
    val joined = nat.join(hof, "doc_id")
    assert(joined.filter(col("hs") =!= col("hs2")).count() === 0)
  }

  test("native rolling fingerprint == HOF fingerprint on corpus sample") {
    val nat = docs.select(col("doc_id"),
      NH.rollingFingerprint(graft.functions.NativeText.tokenHashes(col("text"))).as("fp"))
    val hof = docs
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TF.rollingFingerprint(col("toks")).as("fp2"))
    assert(nat.join(hof, "doc_id").filter(col("fp") =!= col("fp2")).count() === 0)
  }

  test("native md5 token hashes == HOF md5 chain (conv/substring/md5)") {
    val nat = docs.select(col("doc_id"),
      graft.functions.NativeText.md5TokenHashes(col("text")).as("hs"))
    val hof = docs
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TF.md5TokenHashes(col("toks")).as("hs2"))
    val joined = nat.join(hof, "doc_id")
    assert(joined.filter(col("hs") =!= col("hs2")).count() === 0)
    assert(joined.count() === 100)
  }

  test("native md5 shingle hashes == HOF md5 chain (mod p)") {
    val nat = docs.select(col("doc_id"),
      graft.functions.NativeText.md5ShingleHashes(col("text"), 3).as("hs"))
    val hof = docs
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TF.md5ShingleHashes(TF.shingles(col("toks"), 3)).as("hs2"))
    assert(nat.join(hof, "doc_id").filter(col("hs") =!= col("hs2")).count() === 0)
  }

  test("md5Long60 equals parsing the first 15 hex chars of md5") {
    // the property the DuckDB oracle relies on:
    // CAST('0x' || substring(md5(x),1,15) AS BIGINT) == md5Long60(x)
    val r = docs
      .select(col("doc_id"), TF.tokens(col("text")).getItem(0).as("t"))
      .filter(col("t").isNotNull)
      .select(
        TF.md5Long60(col("t")).as("parsed"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("reparsed"))
      .filter(col("parsed") =!= col("reparsed"))
    assert(r.count() === 0)
  }

  test("minhash signature re-reduces out-of-range inputs instead of overflowing") {
    // raw 64-bit hashes fed directly (the documented misuse) must produce
    // the same signature as pre-reduced inputs — not overflow or go negative
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val P = 2147483647L
    val raw = Array(Long.MaxValue - 17, -987654321098765L, 42L)
    val reduced = raw.map(java.lang.Math.floorMod(_, P))
    def sig(hs: Array[Long]) = {
      val lit = Literal.create(new GenericArrayData(hs), ArrayType(LongType))
      val params = TF.minhashParamsFor(16)
      graft.functions.NativeHashes.MinHashSignature(lit, 16,
        params.map(_._1).toArray, params.map(_._2).toArray)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    }
    assert(sig(raw) === sig(reduced))
    assert(sig(raw).forall(v => v >= 0 && v <= P))
  }

  test("interpreted eval path matches codegen (single-row eval)") {
    // force interpreted evaluation by evaluating on a literal via eval()
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val hs = Array(7L, -3L, 123456789L, Long.MinValue + 1)
    val lit = Literal.create(new GenericArrayData(hs), ArrayType(LongType))
    val interpSim = NH.SimHash63(lit).eval(null).asInstanceOf[Long]
    val dfSim = spark.range(1)
      .select(NH.simhash63(typedLit(hs.toSeq)).as("s"))
      .first().getLong(0)
    assert(interpSim === dfSim)
  }

  test("native vector kernels: interpreted eval == generated code, bit for bit") {
    // lifecycle ops over small corpora plan in the compile-free session,
    // so DotProduct and SignBandCodes run through eval there
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.NativeVector.{DotProduct, SignBandCodes}

    val rng = new scala.util.Random(11)
    val dim = 24
    def vec(n: Int): ArrayData = new GenericArrayData(Array.fill[Any](n)(rng.nextGaussian()))
    val withNull: ArrayData = new GenericArrayData(Array.tabulate[Any](dim)(i => if (i == 5) null else 0.5))
    def ref(i: Int, containsNull: Boolean) = BoundReference(i, ArrayType(DoubleType, containsNull), nullable = true)
    def both(e: Expression, row: InternalRow): (Any, Any) =
      (e.eval(row), GenerateUnsafeProjection.generate(Seq(e)).apply(row))

    val pairs: Seq[(String, ArrayData, ArrayData, Boolean)] =
      (0 until 20).map(i => (s"normal $i", vec(dim), vec(dim), false)) ++
        (0 until 5).map(i => (s"normal nullable-typed $i", vec(dim), vec(dim), true)) ++ Seq(
          ("length mismatch", vec(dim), vec(dim - 1), false),
          ("null element", withNull, vec(dim), true),
          ("null array", null, vec(dim), true))
    val dots = pairs.map { case (name, a, b, containsNull) =>
      val (interp, gen) = both(DotProduct(ref(0, containsNull), ref(1, containsNull)), InternalRow(a, b))
      val genValue = if (gen.asInstanceOf[InternalRow].isNullAt(0)) null
                     else gen.asInstanceOf[InternalRow].getDouble(0)
      def bits(v: Any) = Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))
      assert(bits(interp) === bits(genValue), name)
      name -> interp
    }.toMap
    assert(dots("length mismatch") == null && dots("null element") == null && dots("null array") == null)
    assert(dots("normal 0") != null)

    val (tables, bitsPer) = (3, 5)
    val planes = Array.fill(tables * bitsPer * dim)(rng.nextGaussian())
    val inputs: Seq[(String, ArrayData, Boolean)] =
      pairs.filter(_._1.startsWith("normal")).map(p => (p._1, p._2, p._4)) ++ Seq(
        ("length mismatch", vec(dim - 1), false),
        ("null element", withNull, true),
        ("null array", null, true))
    val codes = inputs.map { case (name, a, containsNull) =>
      val (interp, gen) = both(SignBandCodes(ref(0, containsNull), planes, tables, bitsPer, dim), InternalRow(a))
      val i = interp.asInstanceOf[ArrayData].toLongArray().toSeq
      assert(i === gen.asInstanceOf[InternalRow].getArray(0).toLongArray().toSeq, name)
      name -> i
    }
    val byName = codes.toMap
    assert(byName("length mismatch") === Seq.fill(tables)(0L))
    assert(byName("null element") === Seq.fill(tables)(0L))
    assert(byName("null array") === Seq.fill(tables)(0L))
    assert(codes.filter(_._1.startsWith("normal")).exists(_._2.exists(_ != 0L)))
  }
}

