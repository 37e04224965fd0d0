package graft

import scala.util.Using

import org.apache.spark.sql.functions._

import graft.pipelines.Curation
import graft.queries.QualityOps

/** t53 — the CCNet-style 5-gram LM quality signal: fit arithmetic,
  * predictable-vs-gibberish separation (the property the scorer exists
  * for), the curation gate wiring (null-tolerant: unscored short docs
  * pass through), and the serving-time fallback chain on unseen text.
  */
class NgramLmSpec extends SparkTestBase {

  import spark.implicits._

  // repeated phrase: every 5-gram recurs ~20x -> near-ML probability,
  // low per-token NLL. Gibberish: every 5-gram unique -> probability
  // dominated by the discount mass, high NLL.
  private val predictable =
    (1L, Seq.fill(20)("the cat sat on the mat and purred").mkString(" "))
  private val gibberish =
    (2L, (0 until 120).map(i => s"zq${i}x${i * 7 % 13}").mkString(" "))
  private val tiny = (3L, "four short tokens here") // < 5 tokens after split? 4 -> unscored

  test("fit: probabilities are proper (lp_micro <= 0), repeated 5-grams likelier than unique ones") {
    val docs = Seq(predictable, gibberish).toDF("doc_id", "text")
    val (lm, cont) = QualityOps.lmOf(docs)
    val rows = lm.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("lp_micro") <= 0L), "a probability exceeded 1")
    // every repeated 5-gram outscores every unique one on this fixture
    assert(lm.filter(col("c") > 1).agg(min("lp_micro")).first.getLong(0) >
      lm.filter(col("c") === 1).agg(max("lp_micro")).first.getLong(0))
    // continuation table: floor below every real continuation log-prob
    val c0 = cont.collect()
    assert(c0.forall(r => r.getAs[Long]("lp_floor_micro") < r.getAs[Long]("lp_micro")))
  }

  test("scoring separates predictable text from gibberish; unscorable docs absent") {
    val docs = Seq(predictable, gibberish, tiny).toDF("doc_id", "text")
    val (lm, cont) = QualityOps.lmOf(docs)
    val scored = QualityOps.lmScoreWith(docs, lm, cont).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("nll_avg_micro")).toMap
    assert(!scored.contains(3L), "a 4-token doc has no 5-grams to score")
    info(s"nll_avg_micro: predictable=${scored(1L)} gibberish=${scored(2L)}")
    assert(scored(1L) < scored(2L), "the LM must prefer predictable text")
    // the gibberish doc's 5-grams are all singletons: its per-token NLL
    // must sit in the discount-dominated regime (> -ln(0.25+...) ~ 1.3 nats)
    assert(scored(2L) > 1000000L)
  }

  test("curate lmSignal gate: gibberish dropped at quality, unscored doc passes through") {
    val docs = Seq(predictable, gibberish, tiny).toDF("doc_id", "text")
    val (lm, cont) = QualityOps.lmOf(docs)
    val scored = QualityOps.lmScoreWith(docs, lm, cont)
    val vals = scored.collect().map(r => r.getLong(0) -> r.getAs[Long]("nll_avg_micro")).toMap
    val mid = (vals(1L) + vals(2L)) / 2
    // maxRepRatio lifted: the repeated-phrase fixture deliberately trips
    // the looping-text rule, and this test isolates the LM gate
    val t = Curation.Thresholds(minTokens = 1, maxRepRatio = 1.0, maxLmNllMicro = mid)
    Using.resource(Curation.curateHandle(docs, t, lmSignal = Some(scored))) { run =>
      val kept = run.curated.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 3L),
        "gate must drop only the doc the LM scored past the threshold")
      assert(run.audit.collect().head.getAs[Long]("dropped_quality") === 1)
    }
    // without the signal the same thresholds keep everything — the gate
    // is opt-in, not a behavior change to existing callers
    val all = Using.resource(Curation.curateHandle(docs, t))(
      _.curated.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(all === Set(1L, 2L, 3L))
  }

  test("serving fallback: unseen text scores through continuation then floor, no nulls") {
    val fitDocs = Seq(predictable).toDF("doc_id", "text")
    val (lm, cont) = QualityOps.lmOf(fitDocs)
    // mixes seen tokens in unseen orders (continuation fallback) and
    // never-seen tokens (floor fallback)
    val newDocs = Seq((9L, "purred the mat sat cat on and wholly novel tokens qqq www eee rrr"))
      .toDF("doc_id", "text")
    val scored = QualityOps.lmScoreWith(newDocs, lm, cont).collect()
    assert(scored.length === 1)
    val row = scored.head
    assert(row.getAs[Long]("nll_sum_micro") > 0L)
    // unseen text must score strictly worse per token than the fit
    // corpus scores itself
    val self = QualityOps.lmScoreWith(fitDocs, lm, cont).collect().head
    assert(row.getAs[Long]("nll_avg_micro") > self.getAs[Long]("nll_avg_micro"))
  }

  test("t53 registered query: every >=5-token doc scored once, totals consistent") {
    val df = QualityOps.t53NgramLm(spark, sf()).collect()
    val nDocs = graft.core.Tables.documents(spark, sf())
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) >= 5).count()
    assert(df.length.toLong === nDocs)
    assert(df.forall { r =>
      val (n, sum, avg) = (r.getAs[Int]("n_ngrams"), r.getAs[Long]("nll_sum_micro"),
        r.getAs[Long]("nll_avg_micro"))
      n > 0 && sum >= 0 && avg === sum / n
    })
  }
}
