package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NativeHashes => NH, NativeText => NT, TextFunctions => TF}

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually runs, built from the library's operators:
  *
  *   quality filter → exact dedup (hash-groupBy survivor)
  *     → near-dup removal (MinHash-LSH candidates → keep min doc per pair
  *       component) → per-doc metadata out
  *
  * One scan computes every per-doc signal (token stats + content hash +
  * shingle hashes) so the corpus is read once; the only shuffles are the
  * two dedup joins. Returns the curated corpus plus a one-row audit of
  * how many documents each stage removed — no silent drops.
  */
object Curation {

  case class Thresholds(minTokens: Int = 10, maxStopwordRatio: Double = 0.6,
                        maxRepRatio: Double = 0.9, nearDupJaccard: Double = 0.5,
                        maxBandBucket: Int = 1000,
                        maxLmNllMicro: Long = 2000000L)

  /** Per-call ownership of the run's cached signals frame: `close()` (or
    * try-with-resources) unpersists it once both outputs are
    * materialized. Two concurrent handles on one session each own their
    * pin — there is no global state to race on.
    */
  final class CurationHandle private[pipelines] (
      val curated: DataFrame, val audit: DataFrame,
      private[graft] val signals: DataFrame,
      private[graft] val tagged: DataFrame,
      /** The FULL (doc_id, cluster) assignment over the exact-stage
        * survivors when `useClusters = true` (singletons self-labeled) —
        * the exact frame the near-dup drop decision was derived from.
        * [[IncrementalCuration.seed]] persists it as the initial
        * [[ClusterState]] instead of re-banding the survivors and
        * re-propagating labels from scratch.
        */
      private[pipelines] val assignment: Option[DataFrame]) extends AutoCloseable {
    def close(): Unit = signals.unpersist(false)
  }

  /** The single-scan per-doc signal stage (token/stopword/repetition
    * metrics, content hash, shingle hashes) WITH the quality verdict —
    * shared verbatim by the full pipeline and
    * [[IncrementalCuration.ingest]], so the two can never disagree on
    * stage-1 semantics. The repetition signal rides the shingle array
    * that the near-dup stage needs anyway: 1 − distinct/total trigrams
    * is the Gopher-style looping-text catch (repetitive docs would
    * otherwise sail through the stopword test and flood the near-dup
    * buckets downstream).
    */
  private[pipelines] def withSignals(docs: DataFrame, t: Thresholds): DataFrame = {
    val base = docs
      .withColumn("toks", TF.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop", TF.stopwordCount(col("toks"), Seq("the", "a")))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0, col("n_stop").cast("double") / col("n_tokens")).otherwise(1.0))
      .withColumn("content_hash", md5(col("text")))
      .withColumn("sh", NT.md5ShingleHashes(col("text"), 3))
      .drop("toks", "n_stop")
    val repRatio = when(col("n_tokens") >= 3,
      lit(1.0) - size(col("sh")).cast("double") / (col("n_tokens") - 2))
      .otherwise(0.0)
    base.withColumn("q_ok", col("n_tokens") >= t.minTokens &&
      col("stop_ratio") <= t.maxStopwordRatio && repRatio <= t.maxRepRatio)
  }

  /** One lineage, no intermediate actions: every row is tagged with the
    * stage that drops it (or 'kept'), the curated corpus is the 'kept'
    * slice, and the audit is a single aggregate over the tags. The signals
    * frame is cached because three branches reference it (the main flow
    * plus both sides of the near-dup self-join); the corpus is still read
    * from parquet exactly once. CurationSpec asserts the whole curateHandle →
    * collect(curated) + collect(audit) sequence runs in ≤ 2 Spark jobs —
    * the round-1 version ran 4 eager count() actions, i.e. ~4 corpus
    * scans per audit row at 100 TB.
    */
  /** `useClusters = true` routes the near-dup stage through
    * [[graft.queries.TextOps.dedupClustersOf]]: candidate pairs become
    * connected components and every non-canonical member drops, so a chain
    * A~C, B~C collapses to {A} even when A and B never paired directly —
    * the pairwise default would keep B. The clustering is iterative
    * (label propagation runs jobs inside this call), so the ≤ 2-job
    * guarantee documented above holds only for the pairwise default.
    *
    * `extraPairs` unions candidate near-dup pairs from ANY other signal
    * into the same drop decision — multi-signal curation: pass
    * embedding-cosine pairs (t15/t34 with vec ids mapped to doc ids) and
    * semantic duplicates the text LSH can't see (paraphrases) dedup in
    * the same audited pipeline. Pairs are normalized (min id as doc_a)
    * and only count between docs that SURVIVED the quality + exact
    * stages, mirroring the text pairs' construction — an extra pair
    * naming a quality-dropped doc never pulls a surviving doc down with
    * it. Under `useClusters` the extra edges join the same connected
    * components, so mixed text/embedding chains collapse transitively.
    */
  def curateHandle(docs: DataFrame,
                   t: Thresholds = Thresholds(),
                   useClusters: Boolean = false,
                   extraPairs: Option[DataFrame] = None,
                   lmSignal: Option[DataFrame] = None): CurationHandle = {
    // single scan: every per-doc signal at once (stage 1 — quality —
    // rides along as the q_ok column; see withSignals)
    // `lmSignal` — the OPTIONAL CCNet-style LM quality gate
    // ([[graft.queries.QualityOps.lmScoreWith]] output): a doc whose
    // per-token negative log-likelihood exceeds `t.maxLmNllMicro`
    // micro-nats joins the quality drops. Docs the LM has no opinion on
    // (< 5 tokens — absent from the scored frame) pass through to the
    // other signals (null-tolerant gate), mirroring how every other
    // quality rule only fires where its signal is defined.
    val sig0 = lmSignal.fold(withSignals(docs, t)) { lm =>
      withSignals(docs, t)
        .join(lm.select(col("doc_id"), col("nll_avg_micro")), Seq("doc_id"), "left")
        .withColumn("q_ok", col("q_ok") &&
          coalesce(col("nll_avg_micro") <= t.maxLmNllMicro, lit(true)))
        .drop("nll_avg_micro")
    }
    val signals = sig0.cache()

    // stage 2: exact dedup — min doc_id among quality survivors per hash
    val keepId = min(when(col("q_ok"), col("doc_id")))
      .over(org.apache.spark.sql.expressions.Window.partitionBy(col("content_hash")))
    val staged = signals
      .withColumn("exact_ok", col("q_ok") && col("doc_id") === keepId)

    // stage 3: near-dup — MinHash-LSH candidates above the jaccard
    // threshold among exact survivors. Default: the larger doc_id of each
    // pair drops (streaming-friendly, single-pass); useClusters routes the
    // same pairs through t13's connected components for the full
    // transitive treatment
    val sigs = staged
      .filter(col("exact_ok") && size(col("sh")) > 0)
      .select(col("doc_id"), NH.minhashSignature(col("sh"), 16).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(TF.bandKeys(col("sig"), 4, 4)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
    // the same bucket cap as t06/t07 (TextOps.capBuckets): the upstream
    // repetition filter catches most boilerplate, but one template band
    // key that survives quality filtering would otherwise make this
    // self-join quadratic — oversized buckets are boilerplate collisions,
    // not near-duplicates, so their members stay (conservatively) kept
    val capped = graft.queries.TextOps.capBuckets(banded, t.maxBandBucket)
    val a = capped.select(col("band"), col("band_key"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = capped.select(col("band"), col("band_key"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    // shuffle-hash PINNED like every banded self-join (t06/t07): both
    // sides are corpus-derived and already partition on (band, band_key)
    // for the cap window; the planner's Generate-blind estimate would
    // otherwise broadcast one of them (observed in the t35 sf1.0 plan)
    val candPairs = a.hint("shuffle_hash").join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TF.estJaccard(col("sig_a"), col("sig_b")).as("j"))
      .filter(col("j") >= t.nearDupJaccard)
    // other-signal pairs: normalized orientation (the pairwise rule drops
    // the LARGER id, so (5,3) must read as (3,5)), self-pairs dropped,
    // and both endpoints semi-joined to the exact-stage survivors so the
    // extra signal gets exactly the text pairs' eligibility
    val survivors = staged.filter(col("exact_ok")).select(col("doc_id"))
    val extra = extraPairs.map { p =>
      p.select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
        .join(survivors.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
        .join(survivors.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
    }
    val allPairs = extra.foldLeft(candPairs.select(col("doc_a"), col("doc_b")))(_ unionByName _)
    // clustered mode keeps the FULL assignment (not just the drop slice):
    // a node is dropped iff its label is another doc's id, which is
    // exactly presentClusters' !is_canonical set (a non-canonical node's
    // component necessarily has ≥ 2 members, so the size filter excludes
    // nothing), and the assignment itself is what the incremental seed
    // persists as ClusterState — computing it once here saves that caller
    // a second banding + propagation over the same survivors
    val clusterAssignment =
      if (useClusters)
        Some(graft.queries.TextOps.clusterAssignmentOf(survivors, allPairs))
      else None
    val toDrop = clusterAssignment
      .map(_.filter(col("doc_id") =!= col("cluster")).select(col("doc_id")))
      .getOrElse(allPairs.select(col("doc_b").as("doc_id")).distinct())
      .withColumn("near_dup", lit(true))

    val tagged = staged
      .join(toDrop, Seq("doc_id"), "left")
      .withColumn("stage",
        when(!col("q_ok"), "quality")
          .when(!col("exact_ok"), "exact_dup")
          .when(col("near_dup"), "near_dup")
          .otherwise("kept"))
      .drop("q_ok", "exact_ok", "near_dup")

    val curated = tagged.filter(col("stage") === "kept").drop("stage", "sh")
    new CurationHandle(curated, auditOf(tagged), signals, tagged, clusterAssignment)
  }

  /** The five audit counters over any stage-tagged frame — shared by the
    * full pipeline and [[IncrementalCuration]] so the audit row can be
    * re-derived from a materialized tagged frame without re-running the
    * pipeline that tagged it.
    */
  private[pipelines] def auditOf(tagged: DataFrame): DataFrame = tagged.agg(
    count(lit(1)).as("input_docs"),
    count(when(col("stage") === "quality", 1)).as("dropped_quality"),
    count(when(col("stage") === "exact_dup", 1)).as("dropped_exact_dup"),
    count(when(col("stage") === "near_dup", 1)).as("dropped_near_dup"),
    count(when(col("stage") === "kept", 1)).as("curated_docs"))

  /** The multi-signal wiring: map embedding-space near-dup pairs (t15's
    * (vec_a, vec_b) output) onto document ids, ready for [[curateHandle]]'s
    * `extraPairs` —
    *
    * {{{
    * val pairs  = TextOps.t15CosineNearDup(spark, dir)     // or t15CosineNearDupOf(embFrame)
    * val extras = Curation.embeddingDocPairs(pairs, vecToDoc) // vecToDoc: (vec_id, doc_id)
    * Curation.curateHandle(docs, extraPairs = Some(extras))  // paraphrases dedup too
    * }}}
    *
    * t34 clusters feed the same way — pair each non-canonical member with
    * its canonical: `t34.filter(!col("is_canonical")).select(col("cluster")
    * .as("vec_a"), col("vec_id").as("vec_b"))`. Pairs whose vec ids have
    * no mapping row drop out (inner joins): an unmapped vector names no
    * document to dedup. Orientation normalization and survivor gating
    * happen inside curateHandle. Both joins are equi on vec id — the pair side
    * is the dup-involved sliver, so at scale this broadcasts or shuffles
    * the small side, never the corpus.
    */
  def embeddingDocPairs(pairs: DataFrame, vecToDoc: DataFrame): DataFrame = {
    val m = vecToDoc.select(col("vec_id"), col("doc_id"))
    pairs.select(col("vec_a"), col("vec_b"))
      .join(m.withColumnsRenamed(Map("vec_id" -> "vec_a", "doc_id" -> "doc_a")), Seq("vec_a"))
      .join(m.withColumnsRenamed(Map("vec_id" -> "vec_b", "doc_id" -> "doc_b")), Seq("vec_b"))
      .select(col("doc_a"), col("doc_b"))
  }

  // ---------------------------------------------------------------- t35
  /** The pipeline's audit row as a registered, ORACLE-CHECKED query: the
    * flagship composition (quality → exact dedup → near-dup) at default
    * [[Thresholds]] over the corpus's `documents` table, driver-verified
    * per round instead of only spec-checked. The audit row is returned
    * as a local frame ([[auditRowOf]]), so no pin outlives the call.
    */
  def t35CurationAudit(s: SparkSession, dir: String): DataFrame =
    auditRowOf(s, curateHandle(graft.core.Tables.documents(s, dir)))

  /** Collects `run`'s one-row audit while its signals pin is held, closes
    * the handle, and returns the row as a local frame — the registered
    * audit queries own their pin for exactly the call.
    */
  private def auditRowOf(s: SparkSession, run: CurationHandle): DataFrame =
    try s.createDataFrame(java.util.Arrays.asList(run.audit.collect(): _*), run.audit.schema)
    finally run.close()

  /** The staging CTEs every curation oracle starts from — per-doc
    * quality signals, the quality rule, the min-per-hash exact stage and
    * the survivor-restricted shingle feed with its signature and
    * candidate-pair CTEs. Mirrors [[withSignals]] + the exact stage of
    * [[curateHandle]] one-to-one.
    */
  private def stagedCtes(t: Thresholds): String = {
    val T = graft.queries.TextOps
    s"""${T.shingleCtes},
       |q AS (
       |  SELECT d.doc_id,
       |    len(t.toks) AS n_tokens,
       |    CASE WHEN len(t.toks) > 0
       |         THEN len(list_filter(t.toks, x -> x IN ('the', 'a'))) * 1.0 / len(t.toks)
       |         ELSE 1.0 END AS stop_ratio,
       |    CASE WHEN len(t.toks) >= 3
       |         THEN 1.0 - coalesce(len(h.hs), 0) * 1.0 / (len(t.toks) - 2)
       |         ELSE 0.0 END AS rep_ratio,
       |    md5(d.text) AS content_hash
       |  FROM documents d JOIN tk t USING (doc_id) LEFT JOIN hs h USING (doc_id)),
       |staged AS (
       |  SELECT doc_id, content_hash,
       |    (n_tokens >= ${t.minTokens} AND stop_ratio <= ${t.maxStopwordRatio}
       |      AND rep_ratio <= ${t.maxRepRatio}) AS q_ok
       |  FROM q),
       |staged2 AS (
       |  SELECT *, (q_ok AND doc_id =
       |    min(CASE WHEN q_ok THEN doc_id END) OVER (PARTITION BY content_hash)) AS exact_ok
       |  FROM staged),
       |hs_surv AS (
       |  SELECT hs.doc_id, hs.hs FROM hs JOIN staged2 USING (doc_id)
       |  WHERE staged2.exact_ok),
       |${T.sigCteFrom("hs_surv")},
       |${T.candPairCtes}""".stripMargin
  }

  /** The CTE block of t35/t41's oracles: [[stagedCtes]], then the
    * pairwise near-dup drop set and the per-doc stage tags.
    */
  private[pipelines] def stagingSqlCtes(t: Thresholds, extraPairSql: String = "",
                                        preDropsCtes: String = ""): String =
    s"""${stagedCtes(t)},$preDropsCtes
       |drops AS (SELECT DISTINCT doc_b AS doc_id FROM (
       |  SELECT doc_a, doc_b FROM est
       |  WHERE est_jaccard >= ${t.nearDupJaccard}$extraPairSql)),
       |tagged AS (
       |  SELECT s.doc_id,
       |    CASE WHEN NOT s.q_ok THEN 'quality'
       |         WHEN NOT s.exact_ok THEN 'exact_dup'
       |         WHEN d.doc_id IS NOT NULL THEN 'near_dup'
       |         ELSE 'kept' END AS stage
       |  FROM staged2 s LEFT JOIN drops d ON s.doc_id = d.doc_id)""".stripMargin

  /** The five audit counters over `tagged`, optionally restricted — the
    * shared tail of the curation oracles.
    */
  private[pipelines] def auditSelectSql(where: String = ""): String =
    s"""SELECT count(*) AS input_docs,
       |  count(CASE WHEN stage = 'quality' THEN 1 END) AS dropped_quality,
       |  count(CASE WHEN stage = 'exact_dup' THEN 1 END) AS dropped_exact_dup,
       |  count(CASE WHEN stage = 'near_dup' THEN 1 END) AS dropped_near_dup,
       |  count(CASE WHEN stage = 'kept' THEN 1 END) AS curated_docs
       |FROM tagged$where""".stripMargin

  /** DuckDB replay of the full staging: the t06 family's shingle/sig/pair
    * CTE fragments (same md5 base hash, MinHash constants, band cap)
    * restricted to the exact-stage survivors, plus the quality rules and
    * the min-per-content-hash exact stage, aggregated to the same five
    * counters. Thresholds are inlined from the same [[Thresholds]]
    * defaults the query runs at.
    */
  lazy val t35Sql: String =
    s"WITH ${stagingSqlCtes(Thresholds())}\n${auditSelectSql()}"

  // ---------------------------------------------------------------- t38
  /** MULTI-SIGNAL curation with TRANSITIVE clustering as a registered,
    * oracle-checked query — the two flags t35's default pipeline leaves
    * off, exercised together end-to-end: `useClusters = true` (near-dup
    * candidates become connected components, every non-canonical member
    * drops) and `extraPairs` = the t15 embedding-cosine pairs mapped onto
    * doc ids ([[embeddingDocPairs]]; on this corpus embedding i IS
    * document i's vector, so the mapping frame is the identity over
    * `embeddings`). A paraphrase chain the text LSH can't see drops in
    * the same audited decision as the text near-dups, and mixed
    * text/embedding chains collapse transitively. Shares the per-(corpus,
    * dial) cosine pair cache with t15/t34, and t35's local audit row.
    */
  def t38CurationMultiSignal(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.{TextOps => T}
    val docs = graft.core.Tables.documents(s, dir)
    val vecPairs = T.cosineCandidatePairs(s, dir,
      T.DialBits, T.DialPairRadius, T.DialEmbCap)
    val vecToDoc = graft.core.Tables.embeddings(s, dir)
      .select(col("vec_id"), col("vec_id").as("doc_id"))
    val extras = embeddingDocPairs(vecPairs.select(col("vec_a"), col("vec_b")), vecToDoc)
    auditRowOf(s, curateHandle(docs, useClusters = true, extraPairs = Some(extras)))
  }

  /** DuckDB replay of the multi-signal clustered pipeline: t35's staging
    * CTEs, PLUS the t15 candidate chain ([[graft.queries.TextOps
    * .t15CandCtes]] — same dialed bucket codes, skew cap and rounded
    * cosines both engines run), the vec→doc mapping, orientation
    * normalization and survivor gating exactly as [[curateHandle]]
    * applies them, then the t34-style recursive transitive closure over
    * the UNION of both edge sets — non-canonical component members are
    * the drop set. Same five audit counters.
    */
  lazy val t38Sql: String =
    s"WITH RECURSIVE $t38Ctes\n${auditSelectSql()}"

  /** t38's CTE body (clustered multi-signal staging through the recursive
    * transitive closure) — the single-table t15 candidate chain.
    */
  private[pipelines] lazy val t38Ctes: String =
    t38CtesWith(graft.queries.TextOps.t15CandCtes, "cand")

  /** [[t38Ctes]] with the BANDED (t54) candidate chain — t43's oracle
    * since the round-14 lifecycle switch to the OR-amplification pair
    * source (the emb_pairs DISTINCT-free duplicates across tables are
    * collapsed by all_pairs' DISTINCT).
    */
  private[pipelines] lazy val t38CtesBanded: String =
    t38CtesWith(graft.queries.TextOps.t54CandCtes, "candt")

  private def t38CtesWith(candCtes: String, candName: String): String = {
    val t = Thresholds()
    val T = graft.queries.TextOps
    s"""${stagedCtes(t)},
       |$candCtes,
       |v2d AS (SELECT vec_id, vec_id AS doc_id FROM embeddings),
       |emb_pairs AS (
       |  SELECT ma.doc_id AS doc_a, mb.doc_id AS doc_b
       |  FROM $candName c
       |  JOIN v2d ma ON ma.vec_id = c.vec_a
       |  JOIN v2d mb ON mb.vec_id = c.vec_b
       |  WHERE c.cosine >= ${T.CosTau}),
       |all_pairs AS (
       |  SELECT DISTINCT least(doc_a, doc_b) AS doc_a, greatest(doc_a, doc_b) AS doc_b
       |  FROM (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= ${t.nearDupJaccard}
       |        UNION ALL SELECT doc_a, doc_b FROM emb_pairs)
       |  WHERE doc_a <> doc_b),
       |surv_pairs AS (
       |  SELECT p.doc_a, p.doc_b FROM all_pairs p
       |  JOIN staged2 sa ON sa.doc_id = p.doc_a AND sa.exact_ok
       |  JOIN staged2 sb ON sb.doc_id = p.doc_b AND sb.exact_ok),
       |edge AS (
       |  SELECT doc_a AS a, doc_b AS b FROM surv_pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM surv_pairs),
       |reach AS (
       |  SELECT a AS src, b AS dst FROM edge
       |  UNION
       |  SELECT r.src, e2.b FROM reach r JOIN edge e2 ON r.dst = e2.a),
       |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster FROM reach GROUP BY src),
       |drops AS (SELECT doc_id FROM comp WHERE doc_id <> cluster),
       |tagged AS (
       |  SELECT s.doc_id,
       |    CASE WHEN NOT s.q_ok THEN 'quality'
       |         WHEN NOT s.exact_ok THEN 'exact_dup'
       |         WHEN d.doc_id IS NOT NULL THEN 'near_dup'
       |         ELSE 'kept' END AS stage
       |  FROM staged2 s LEFT JOIN drops d ON s.doc_id = d.doc_id)""".stripMargin
  }
}
