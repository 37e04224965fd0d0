package graft

import scala.util.Using

import org.apache.spark.sql.functions._

import graft.functions.{NativeHashes => NH, NativeText => NT, TextFunctions => TF}
import graft.pipelines.Curation

class CurationSpec extends SparkTestBase {
  import spark.implicits._

  test("curation drops short, exact-dup, and near-dup docs, audited") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val docs = Seq(
      (1L, base),                          // survives (canonical)
      (2L, base),                          // exact dup of 1 -> dropped
      (3L, base + " tonight"),             // near dup of 1 -> dropped
      (4L, "too short"),                   // quality drop
      (5L, "completely different content about spark engines and columnar execution at scale"),
      (6L, Seq.fill(25)("buy now click").mkString(" "))) // looping text: rep_ratio ≈ 0.96
      .toDF("doc_id", "text")
    Using.resource(Curation.curateHandle(docs)) { run =>
      val kept = run.curated.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 5L))
      val a = run.audit.collect().head
      assert(a.getAs[Long]("input_docs") === 6)
      assert(a.getAs[Long]("dropped_quality") === 2)
      assert(a.getAs[Long]("dropped_exact_dup") === 1)
      assert(a.getAs[Long]("dropped_near_dup") === 1)
      assert(a.getAs[Long]("curated_docs") === 2)
    }
  }

  test("curate() is fully lazy: zero jobs until the caller acts") {
    // the round-1 pipeline ran 4 eager count() actions inside curation,
    // i.e. ~4 corpus scans per audit row at 100 TB. The audit must derive
    // from the same lazy lineage: building (curated, audit) runs NOTHING,
    // and the caller pays exactly its own actions (AQE then splits those
    // into multiple scheduler jobs, so the action count — not the raw job
    // count — is the meaningful invariant).
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    Using.resource(Curation.curateHandle(docs)) { run =>
      assert(tracker.getJobIdsForGroup(null).length === before,
        "curateHandle() must not run eager actions")
      assert(run.curated.collect().nonEmpty)
      assert(run.audit.collect().length === 1)
    }
  }

  /** The LSH candidate structure for three docs, replaying curateHandle()'s
    * stage-3 constants (16-hash sigs, 4×4 bands) — used to SELECT a
    * deterministic fixture below, not to re-test the stage itself.
    */
  private def candStruct(tA: String, tB: String, tC: String, tau: Double): Set[(Long, Long)] = {
    val sigs = Seq((1L, tA), (2L, tB), (3L, tC)).toDF("doc_id", "text")
      .select(col("doc_id"),
        NH.minhashSignature(NT.md5ShingleHashes(col("text"), 3), 16).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(TF.bandKeys(col("sig"), 4, 4)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
    val a = banded.select(col("band"), col("band_key"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_key"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), TF.estJaccard(col("sig_a"), col("sig_b")).as("j"))
      .filter(col("j") >= tau)
      .select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("useClusters: a 3-chain through the max-id hub drops transitively, pairwise keeps the middle") {
    // construct A, B sharing a token run, C = A ++ B: near-dup pairs are
    // (A,C) and (B,C) but never (A,B). With the hub C carrying the LARGEST
    // id, the pairwise greater-id rule drops only C — it has no pair
    // ranking A against B — while connected components collapse the chain
    // to canonical A. Banding is md5-deterministic, so probe word salts
    // until one yields exactly that candidate structure, then pin it.
    val tau = Curation.Thresholds().nearDupJaccard
    def mk(salt: Int): (String, String, String) = {
      val shared = (1 to 12).map(i => s"s${salt}x$i")
      val ua = (1 to 8).map(i => s"a${salt}x$i")
      val ub = (1 to 8).map(i => s"b${salt}x$i")
      ((shared ++ ua).mkString(" "), (shared ++ ub).mkString(" "),
        (shared ++ ua ++ shared ++ ub).mkString(" "))
    }
    val found = (0 until 40).view
      .map(salt => mk(salt))
      .find { case (ta, tb, tc) => candStruct(ta, tb, tc, tau) === Set((1L, 3L), (2L, 3L)) }
    assert(found.isDefined, "no salt in 0..39 produced the (A,C),(B,C)-only candidate structure")
    val (ta, tb, tc) = found.get
    val docs = Seq((1L, ta), (2L, tb), (3L, tc)).toDF("doc_id", "text")

    Using.resource(Curation.curateHandle(docs)) { run =>
      assert(run.curated.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
      assert(run.audit.collect().head.getAs[Long]("dropped_near_dup") === 1)
    }
    Using.resource(Curation.curateHandle(docs, useClusters = true)) { run =>
      assert(run.curated.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L))
      assert(run.audit.collect().head.getAs[Long]("dropped_near_dup") === 2)
    }
  }

  test("useClusters agrees with pairwise on the simple-pair fixture") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val docs = Seq(
      (1L, base), (2L, base), (3L, base + " tonight"),
      (5L, "completely different content about spark engines and columnar execution at scale"))
      .toDF("doc_id", "text")
    Using.resource(Curation.curateHandle(docs, useClusters = true)) { run =>
      assert(run.curated.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 5L))
      val a = run.audit.collect().head
      assert(a.getAs[Long]("dropped_exact_dup") === 1)
      assert(a.getAs[Long]("dropped_near_dup") === 1)
    }
  }

  /** A boilerplate family: n docs sharing a 30-token template plus one
    * unique suffix token each — pairwise near-dups (trigram jaccard ≈ 0.87)
    * that all land in the same LSH band buckets, the pathological shape
    * that makes an uncapped band self-join quadratic.
    */
  private def familyDocs(salt: Int, n: Int): Seq[(Long, String)] = {
    val template = (1 to 30).map(i => s"tpl${salt}w$i")
    (0 until n).map(i => (100L + i, (template :+ s"uniq${salt}u$i").mkString(" ")))
  }

  /** True iff every band bucket of the family is either a singleton (can't
    * pair) or strictly larger than `cap` (dropped by the cap) — i.e. the
    * capped pair source provably generates ZERO candidates for the family.
    * md5 banding is deterministic, so a salt satisfying this is pinned
    * behavior, not luck.
    */
  private def familyFullyCapped(docs: Seq[(Long, String)], cap: Int): Boolean = {
    val sigs = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        NH.minhashSignature(NT.md5ShingleHashes(col("text"), 3), 16).as("sig"))
    val counts = sigs.select(posexplode(TF.bandKeys(col("sig"), 4, 4)))
      .groupBy("pos", "col").count()
      .select("count").collect().map(_.getLong(0))
    counts.forall(c => c == 1 || c > cap)
  }

  test("band-bucket cap bounds the near-dup join on a boilerplate family, normal docs unchanged") {
    // Uncapped (the pre-round-6 behavior, cap high enough to be inert):
    // the 40-doc family floods its band buckets and near-dedups down to
    // its canonical member — candidate volume grew quadratically with
    // family size. With the t06-shared bucket cap at 20, every family
    // bucket is oversized (verified by familyFullyCapped — bucket sizes
    // are all >20 or 1), so the family contributes ZERO candidate pairs
    // and stays fully kept, while the normal-sized buckets of the regular
    // fixture still dedup exactly as before.
    val n = 40
    val salt = (0 until 40).find(s => familyFullyCapped(familyDocs(s, n), 20))
    assert(salt.isDefined, "no salt in 0..39 put every family band bucket above the cap")
    val family = familyDocs(salt.get, n)

    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val normal = Seq(
      (1L, base),                          // kept (canonical)
      (2L, base),                          // exact dup -> dropped
      (3L, base + " tonight"),             // near dup -> dropped
      (4L, "too short"),                   // quality -> dropped
      (5L, "completely different content about spark engines and columnar execution at scale"))
    val docs = (normal ++ family).toDF("doc_id", "text")

    val uncapped = Using.resource(Curation.curateHandle(docs,
      Curation.Thresholds(maxBandBucket = 1000)))(_.audit.collect().head)
    assert(uncapped.getAs[Long]("dropped_near_dup") >= n - 5,
      "uncapped: the boilerplate family should near-dedup almost entirely")

    Using.resource(Curation.curateHandle(docs, Curation.Thresholds(maxBandBucket = 20))) { run =>
      val kept = run.curated.select("doc_id").collect().map(_.getLong(0)).toSet
      val a = run.audit.collect().head
      assert(kept === Set(1L, 5L) ++ family.map(_._1),
        "capped: family fully kept (buckets oversized), normal fixture dedups unchanged")
      assert(a.getAs[Long]("dropped_near_dup") === 1)   // only doc 3
      assert(a.getAs[Long]("dropped_exact_dup") === 1)  // only doc 2
    }
  }

  test("extraPairs: another signal's pairs join the drop decision, survivors-only") {
    // multi-signal curation: an embedding-cosine pair (5 ~ 1) the text
    // LSH cannot see (doc 5 is textually distinct) drops doc 5; a pair
    // naming a quality-dropped doc (4 ~ 5... via (4,5)) is ignored — the
    // extra signal gets exactly the text pairs' survivor eligibility.
    // Orientation is normalized: the pair arrives as (5, 1) and the
    // smaller id still wins.
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val docs = Seq(
      (1L, base),                          // kept (canonical)
      (2L, base),                          // exact dup -> dropped
      (3L, base + " tonight"),             // text near dup -> dropped
      (4L, "too short"),                   // quality -> dropped
      (5L, "completely different content about spark engines and columnar execution at scale"),
      (6L, Seq.fill(25)("buy now click").mkString(" "))) // quality (looping)
      .toDF("doc_id", "text")
    val extras = Seq((5L, 1L), (4L, 5L)).toDF("doc_a", "doc_b")

    for (clusters <- Seq(false, true)) {
      Using.resource(Curation.curateHandle(docs, extraPairs = Some(extras),
        useClusters = clusters)) { run =>
        val kept = run.curated.select("doc_id").collect().map(_.getLong(0)).toSet
        assert(kept === Set(1L), s"useClusters=$clusters")
        val aa = run.audit.collect().head
        assert(aa.getAs[Long]("dropped_quality") === 2, s"useClusters=$clusters")
        assert(aa.getAs[Long]("dropped_exact_dup") === 1, s"useClusters=$clusters")
        assert(aa.getAs[Long]("dropped_near_dup") === 2, s"useClusters=$clusters") // 3 (text) + 5 (extra)
      }
    }
  }

  test("multi-signal e2e: real t15 pairs catch a paraphrase the text LSH cannot see") {
    // docs 1 and 2 are PARAPHRASES: same meaning, zero shared 3-shingles,
    // so the text near-dup stage can never pair them (pinned below). Their
    // embeddings are near-identical, so the REAL t15 pipeline pairs their
    // vectors; embeddingDocPairs maps vec ids to doc ids and curation drops
    // the larger paraphrase — the full embedding→curation contract.
    import graft.queries.{Lsh, TextOps}
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running far away tonight"),
      (2L, "a fast auburn canine leaps across some sleepy hound then sprints into that distance"),
      (3L, "completely different content about spark engines and columnar execution at scale"))
      .toDF("doc_id", "text")
    val v = Array.tabulate(Lsh.Dim)(i => math.sin(i + 1.0).toFloat)
    val v2 = v.clone(); v2(0) = v2(0) + 0.01f                      // cosine(v, v2) ≈ 1
    val u = Array.tabulate(Lsh.Dim)(i =>                            // alternating signs:
      (if (i % 2 == 0) 1.0f else -1.0f) * math.sin(i + 1.0).toFloat) // cosine(v, u) ≈ 0
    val emb = Seq((101L, v), (102L, v2), (103L, u)).toDF("vec_id", "embedding")
    val vecToDoc = Seq((101L, 1L), (102L, 2L), (103L, 3L)).toDF("vec_id", "doc_id")

    // text-only curation keeps both paraphrases — the gap the extra signal closes
    val textOnly = Using.resource(Curation.curateHandle(docs))(
      _.curated.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(textOnly === Set(1L, 2L, 3L))

    val pairs = TextOps.t15CosineNearDupOf(emb) // the library's real embedding pass
    val extras = Curation.embeddingDocPairs(pairs, vecToDoc)
    assert(extras.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)),
      "t15 should pair exactly the paraphrase vectors, mapped to their doc ids")
    Using.resource(Curation.curateHandle(docs, extraPairs = Some(extras))) { run =>
      assert(run.curated.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
      assert(run.audit.collect().head.getAs[Long]("dropped_near_dup") === 1)
    }
  }

  test("curateHandle: interleaved runs each own their pin; close releases it") {
    // a pin keyed by SESSION would let a second call mid-flight release
    // the first call's cache; handles own their pin per CALL — two
    // interleaved sequences (open A, open B,
    // materialize A, materialize B) must both complete with correct
    // results and live caches
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val docsA = Seq(
      (1L, base), (2L, base),
      (5L, "completely different content about spark engines and columnar execution at scale"))
      .toDF("doc_id", "text")
    val docsB = Seq(
      (10L, base + " again"), (11L, base + " again"), (12L, "too short"))
      .toDF("doc_id", "text")
    val hA = Curation.curateHandle(docsA)
    val hB = Curation.curateHandle(docsB) // a per-session pin would unpin hA here
    // BOTH pins are live after the interleaved opens
    assert(hA.signals.storageLevel.useMemory && hB.signals.storageLevel.useMemory)
    try {
      assert(hA.curated.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 5L))
      assert(hA.audit.collect().head.getAs[Long]("dropped_exact_dup") === 1)
      assert(hB.curated.select("doc_id").collect().map(_.getLong(0)).toSet === Set(10L))
      val b = hB.audit.collect().head
      assert(b.getAs[Long]("dropped_exact_dup") === 1)
      assert(b.getAs[Long]("dropped_quality") === 1)
    } finally { hA.close(); hB.close() }
    // close() released each run's own pin
    assert(!hA.signals.storageLevel.useMemory && !hB.signals.storageLevel.useMemory)
  }

  test("t35/t38 audit queries hold no pin past the call; each row equals curateHandle's audit") {
    import graft.queries.{TextOps => T}
    val dir = sf()
    // t38's cosine pair cache is a deliberate per-corpus pin shared with
    // t15/t34 — warm it first so only the curation's own pin is measured
    val vecPairs = T.cosineCandidatePairs(spark, dir, T.DialBits, T.DialPairRadius, T.DialEmbCap)
    vecPairs.count()
    val docs = graft.core.Tables.documents(spark, dir)
    val vecToDoc = graft.core.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("vec_id").as("doc_id"))
    val extras = Curation.embeddingDocPairs(vecPairs.select(col("vec_a"), col("vec_b")), vecToDoc)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val cases = Seq(
      ("t35", Curation.t35CurationAudit _, () => Curation.curateHandle(docs)),
      ("t38", Curation.t38CurationMultiSignal _,
        () => Curation.curateHandle(docs, useClusters = true, extraPairs = Some(extras))))
    for ((name, query, handle) <- cases) {
      val before = persisted
      val row = query(spark, dir).collect()
      assert((persisted -- before).isEmpty, s"$name left a persisted RDD behind")
      val expected = Using.resource(handle())(_.audit.collect())
      assert(row.toSeq === expected.toSeq, name)
    }
  }

  test("curation over the corpus conserves counts in the audit") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    Using.resource(Curation.curateHandle(docs)) { run =>
      val a = run.audit.collect().head
      assert(a.getAs[Long]("input_docs") ===
        a.getAs[Long]("dropped_quality") + a.getAs[Long]("dropped_exact_dup") +
          a.getAs[Long]("dropped_near_dup") + a.getAs[Long]("curated_docs"))
      assert(run.curated.count() === a.getAs[Long]("curated_docs"))
      assert(run.curated.columns.contains("n_tokens")) // metadata survives
    }
  }
}
