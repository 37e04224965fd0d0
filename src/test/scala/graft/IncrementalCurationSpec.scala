package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.pipelines.{Curation, IncrementalCuration}
import graft.queries.BandIndex

/** Incremental curation against persisted state: batch tags equal the
  * full pipeline's (append-only ids), replay is a no-op, and the
  * first-won drop semantics against settled survivors.
  */
class IncrementalCurationSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpWh(): Warehouse =
    Warehouse(spark, java.nio.file.Files.createTempDirectory("graft_inccur_").toString)

  private val docsAll = graft.core.Tables.documents(spark, sf())
  // plain id-threshold split: the append-only shape (batch ids > settled
  // ids) under which incremental == full EXACTLY
  private val partA = docsAll.filter(col("doc_id") < 250)
  private val partB = docsAll.filter(col("doc_id") >= 250)

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("seed(A) + ingest(B) == full curate(A ∪ B): exact survivors and kept set per-doc") {
    val wh = tmpWh()
    IncrementalCuration.seed(wh, partA)
    val (curB, audB) = IncrementalCuration.ingest(wh, partB)
    val run = Curation.curateHandle(docsAll)
    try {
      val fullTags = run.tagged.select("doc_id", "stage").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val bIds = ids(partB)
      // per-doc parity, assembled from three complete pins:
      // (1) the kept set — the batch's curated ids == full kept ∩ B
      assert(ids(curB) === fullTags.collect { case (id, "kept") if bIds(id) => id }.toSet)
      // (2) the exact-survivor set — after ingest, the band index holds
      // exactly the union's exact survivors (near_dup ∪ kept), so the
      // exact stage agreed doc-by-doc
      assert(ids(BandIndex.banded(wh)) ===
        fullTags.collect { case (id, s) if s == "near_dup" || s == "kept" => id }.toSet)
      // (3) the audit counters over B match the full pipeline's B slice
      val audit = audB.collect().head
      def fullCount(stage: String) = fullTags.count { case (id, s) => bIds(id) && s == stage }
      assert(audit.getAs[Long]("input_docs") === bIds.size.toLong)
      assert(audit.getAs[Long]("dropped_quality") === fullCount("quality").toLong)
      assert(audit.getAs[Long]("dropped_exact_dup") === fullCount("exact_dup").toLong)
      assert(audit.getAs[Long]("dropped_near_dup") === fullCount("near_dup").toLong)
      assert(audit.getAs[Long]("curated_docs") === fullCount("kept").toLong)
    } finally run.close()
  }

  test("replayed ingest is a no-op: same tags and audit, zero state growth") {
    val wh = tmpWh()
    IncrementalCuration.seed(wh, partA)
    val (c1, a1) = IncrementalCuration.ingest(wh, partB)
    val hashN = wh.read(IncrementalCuration.HashTable, IncrementalCuration.HashSchema).count()
    val bandN = BandIndex.banded(wh).count()
    val (c2, a2) = IncrementalCuration.ingest(wh, partB)
    assert(ids(c2) === ids(c1))
    assert(a2.collect().head.toSeq === a1.collect().head.toSeq)
    assert(wh.read(IncrementalCuration.HashTable, IncrementalCuration.HashSchema).count() === hashN)
    assert(BandIndex.banded(wh).count() === bandN)
  }

  test("multi-signal seed(A) + ingest(B) == full multi-signal pipeline: kept set and audit on B") {
    import graft.pipelines.IncrementalCuration.EmbeddingSignal
    import graft.queries.BandEmbIndex
    val wh = tmpWh()
    val embAll = graft.core.Tables.embeddings(spark, sf())
    val embA = embAll.filter(col("vec_id") < 250)
    val embB = embAll.filter(col("vec_id") >= 250)
    IncrementalCuration.seed(wh, partA, emb = Some(EmbeddingSignal(embA)))
    val (curB, audB) = IncrementalCuration.ingest(wh, partB, emb = Some(EmbeddingSignal(embB)))
    // the full pipeline's multi-signal shape: the signal's own (banded)
    // pair construction over ALL vectors, mapped to doc ids, gated
    // inside curate (pairwise mode)
    val sigAll = EmbeddingSignal(embAll)
    val extras = Curation.embeddingDocPairs(
      sigAll.selfPairs.select(col("vec_a"), col("vec_b")),
      embAll.select(col("vec_id"), col("vec_id").as("doc_id")))
    val run = Curation.curateHandle(docsAll, extraPairs = Some(extras))
    try {
      val fullTags = run.tagged.select("doc_id", "stage").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val bIds = ids(partB)
      assert(ids(curB) === fullTags.collect { case (id, "kept") if bIds(id) => id }.toSet)
      val audit = audB.collect().head
      def fullCount(stage: String) = fullTags.count { case (id, s) => bIds(id) && s == stage }
      assert(audit.getAs[Long]("dropped_near_dup") === fullCount("near_dup").toLong)
      assert(audit.getAs[Long]("curated_docs") === fullCount("kept").toLong)
      // the embedding signal actually contributed beyond the text LSH:
      // rerunning the batch WITHOUT it must drop fewer near-dups, else
      // this parity assert proved nothing multi-signal
      val wh2 = tmpWh()
      IncrementalCuration.seed(wh2, partA)
      val (_, audPlain) = IncrementalCuration.ingest(wh2, partB)
      assert(audPlain.collect().head.getAs[Long]("dropped_near_dup") <
        audit.getAs[Long]("dropped_near_dup"),
        "embedding signal added no drops — fixture does not exercise multi-signal")
      // replayed multi-signal ingest is a no-op (vectors already appended)
      val (c2, a2) = IncrementalCuration.ingest(wh, partB, emb = Some(EmbeddingSignal(embB)))
      assert(ids(c2) === ids(curB))
      assert(a2.collect().head.toSeq === audit.toSeq)
      assert(BandEmbIndex.coded(wh).count() ===
        embAll.count() * BandEmbIndex.Family().resolvedTables,
        "vector index grew on replay")
    } finally run.close()
  }

  test("clustered multi-signal seed(A) + ingest(B) == full useClusters pipeline on B; replay no-op") {
    import graft.pipelines.IncrementalCuration.EmbeddingSignal
    val wh = tmpWh()
    val embAll = graft.core.Tables.embeddings(spark, sf())
    val embA = embAll.filter(col("vec_id") < 250)
    val embB = embAll.filter(col("vec_id") >= 250)
    IncrementalCuration.seed(wh, partA, emb = Some(EmbeddingSignal(embA)), clustered = true)
    val (curB, audB) = IncrementalCuration.ingest(wh, partB,
      emb = Some(EmbeddingSignal(embB)), clustered = true)
    val extras = Curation.embeddingDocPairs(
      EmbeddingSignal(embAll).selfPairs.select(col("vec_a"), col("vec_b")),
      embAll.select(col("vec_id"), col("vec_id").as("doc_id")))
    val run = Curation.curateHandle(docsAll, useClusters = true, extraPairs = Some(extras))
    try {
      val fullTags = run.tagged.select("doc_id", "stage").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val bIds = ids(partB)
      assert(ids(curB) === fullTags.collect { case (id, "kept") if bIds(id) => id }.toSet)
      val audit = audB.collect().head
      def fullCount(stage: String) = fullTags.count { case (id, s) => bIds(id) && s == stage }
      assert(audit.getAs[Long]("dropped_near_dup") === fullCount("near_dup").toLong)
      assert(audit.getAs[Long]("curated_docs") === fullCount("kept").toLong)
      // the transitive rule actually decided something the pairwise rule
      // would not — else the clustered mode proved nothing here
      val whP = tmpWh()
      IncrementalCuration.seed(whP, partA, emb = Some(EmbeddingSignal(embA)))
      val (_, audPair) = IncrementalCuration.ingest(whP, partB, emb = Some(EmbeddingSignal(embB)))
      assert(audPair.collect().head.getAs[Long]("dropped_near_dup") !==
        audit.getAs[Long]("dropped_near_dup"),
        "clustered and pairwise agree on this fixture — the mode assert is vacuous")
      // replay: redelivered batch re-advances the already-advanced state
      // (anti-joined no-op), same tags, same audit
      val (c2, a2) = IncrementalCuration.ingest(wh, partB,
        emb = Some(EmbeddingSignal(embB)), clustered = true)
      assert(ids(c2) === ids(curB))
      assert(a2.collect().head.toSeq === audit.toSeq)
    } finally run.close()
  }

  test("streamed curation == full pipeline: two micro-batches through curateFromStream") {
    val wh = tmpWh()
    IncrementalCuration.seed(wh, partA)
    // append-only ids across micro-batches — the ingest parity contract;
    // each former micro-batch is one local frame through ingest
    val b1 = docsAll.filter(col("doc_id") >= 250 && col("doc_id") < 375)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val b2 = docsAll.filter(col("doc_id") >= 375)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val keptStreamed = scala.collection.mutable.Set.empty[Long]
    var droppedNearDup = 0L
    for (b <- Seq(b1, b2)) {
      val (cur, aud) = IncrementalCuration.ingest(wh, b.toSeq.toDF("doc_id", "text"))
      keptStreamed ++= cur.select("doc_id").collect().map(_.getLong(0))
      droppedNearDup += aud.collect().head.getAs[Long]("dropped_near_dup")
    }
    val run = Curation.curateHandle(docsAll)
    try {
      val fullTags = run.tagged.select("doc_id", "stage").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val bIds = ids(partB)
      assert(keptStreamed.toSet ===
        fullTags.collect { case (id, "kept") if bIds(id) => id }.toSet)
      assert(droppedNearDup ===
        fullTags.count { case (id, s) => bIds(id) && s == "near_dup" }.toLong)
    } finally run.close()
  }

  test("first-won against settled state: exact and near duplicates of settled survivors drop") {
    val wh = tmpWh()
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val variant = base.replace(" mu", " nu") // near-dup: 9 of 11 shingles shared
    def frame(rows: (Long, String)*) =
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    IncrementalCuration.seed(wh, frame(1L -> base))
    val (cur, aud) = IncrementalCuration.ingest(wh,
      frame(10L -> base, 11L -> variant, 12L -> "unrelated words entirely distinct tokens here for quality pass today ok"))
    val a = aud.collect().head
    assert(a.getAs[Long]("dropped_exact_dup") === 1L, "settled hash did not catch the exact copy")
    assert(a.getAs[Long]("dropped_near_dup") === 1L, "settled band index did not catch the near-dup")
    assert(ids(cur) === Set(12L))
    // the settled survivor still stands — state holds exactly {1, 12}
    // as exact survivors plus near-dup members of the batch
    assert(ids(BandIndex.banded(wh)) === Set(1L, 11L, 12L))
  }

  test("stamped seed: skip on repeat, identical replay audit, forced reseed for Verify") {
    val wh = tmpWh()
    var seeds = 0
    def ensure(): Unit =
      graft.queries.StampedTable.ensureSeeded(wh, "t_seed", "stamp-A") {
        seeds += 1; IncrementalCuration.seed(wh, partA)
      }
    ensure()
    assert(seeds === 1)
    val (c1, a1) = IncrementalCuration.ingest(wh, partB)
    val audit1 = a1.collect().head.toSeq
    val kept1 = ids(c1)
    // repeat: marker + memo skip the seed entirely; the ingest replays
    // over the ADVANCED state (its own appends present) and re-derives
    // the exact same audit — the bench-pass-2 shape
    ensure()
    assert(seeds === 1, "stamped repeat re-ran the seed")
    val (c2, a2) = IncrementalCuration.ingest(wh, partB)
    assert(a2.collect().head.toSeq === audit1)
    assert(ids(c2) === kept1)
    // Verify's forced-reseed property bypasses marker AND memo — the
    // from-scratch replay the correctness dump depends on
    sys.props("graft.lifecycle.reseed") = "true"
    try { ensure(); assert(seeds === 2, "forced mode did not re-seed") }
    finally sys.props -= "graft.lifecycle.reseed"
    val (c3, a3) = IncrementalCuration.ingest(wh, partB)
    assert(a3.collect().head.toSeq === audit1)
    assert(ids(c3) === kept1)
  }

  test("ensureSeeded crash window: a failed seed leaves no marker, the next call re-seeds") {
    val wh = tmpWh()
    var attempts = 0
    def ensure(fail: Boolean): Unit =
      graft.queries.StampedTable.ensureSeeded(wh, "c_seed", "stamp-X") {
        attempts += 1
        if (fail) sys.error("crash mid-seed")
        IncrementalCuration.seed(wh, partA)
      }
    intercept[RuntimeException](ensure(fail = true))
    // the marker commits strictly AFTER doSeed returns — a crash inside
    // the seed must not stamp a state that was never built
    assert(wh.read(IncrementalCuration.HashTable, IncrementalCuration.HashSchema).isEmpty)
    ensure(fail = false)
    assert(attempts === 2, "crash did not trigger a re-seed")
    assert(!wh.read(IncrementalCuration.HashTable, IncrementalCuration.HashSchema).isEmpty)
    // ...and the completed seed IS stamped: third call skips
    ensure(fail = false)
    assert(attempts === 2)
  }

  test("ingest releases its cut pins: no lingering checkpoint blocks past the two outputs") {
    val wh = tmpWh()
    IncrementalCuration.seed(wh, partA)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (cur, aud) = IncrementalCuration.ingest(wh, partB)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // the two returned outputs are themselves eager cuts the CALLER owns;
    // every intermediate (staged slice, drop set, probe pair frames and
    // the probes' internal batch/probed slices) is released before ingest
    // returns — without the release sweep this set held 6+ entries
    assert(added.size <= 2, s"lingering cut blocks: ${added.size}")
    // ...and the outputs are still fully evaluable after the sweep
    assert(aud.collect().head.getAs[Long]("input_docs") === ids(partB).size.toLong)
    assert(cur.count() > 0)
  }
  test("multi-signal seed stamp carries the EmbIndex partition-layout token") {
    // a warehouse seeded before the pbucket fan-out lays emb_buckets out
    // under bucket= directories; a layout-blind stamp would accept it and
    // every increment probe would filter on an all-NULL pbucket column
    // (zero pairs, silently). The layout version must ride the seed stamp
    // so pre-fan-out state REBUILDS instead of probing nothing.
    assert(IncrementalCuration.dialStamp.contains(
      s"pb=${graft.queries.EmbIndex.PBuckets}"),
      "dialStamp omits the EmbIndex fan-out layout token — pre-fan-out " +
        "seeded warehouses would pass the stamp check")
  }
}
