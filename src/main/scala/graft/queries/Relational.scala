package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Classify, Ranking, Tables}

/** Relational parity queries (SURVEY.md §2) re-expressed over the testdata
  * star schema (FIXTURES.md role analogy: nation≈grupos, customer≈sucursales,
  * orders≈supervisiones, lineitem≈supervision_areas).
  *
  * Every query is a pure (SparkSession, sfDir) => DataFrame with a colocated
  * DuckDB oracle. Conventions for oracle hash-equality:
  *   - every computed column aliased identically on both sides;
  *   - deterministic total ordering (unique key in the sort);
  *   - explicit NULLS FIRST/LAST (DuckDB defaults differ from Spark);
  *   - DuckDB BIGINT-widening functions (year, rank, sum(int)) cast back to
  *     Spark's narrower type in the SQL;
  *   - doubles rounded at fixed points, mirroring the reference's 2dp
  *     contract (app.py:497 etc.).
  */
object Relational {

  import Tables._

  // ------------------------------------------- exact money aggregation
  // round(sum|avg(double)) over money columns is an accumulation-order
  // coin flip: 2-dp values make the true aggregate land exactly on .xx5
  // boundaries, and Spark's vs the oracle's different summation orders
  // differ by one ulp — flipping the rounded penny (observed on q03/q07 at
  // sf0.001). Summing in DECIMAL is exact and order-independent, so both
  // engines round the identical value. DECIMAL(26,4) holds 1e22 at 4 dp —
  // headroom for 100 TB sums; the output casts back to double.
  private val MoneyDec = "decimal(26,4)"

  private def sumMoney(c: Column, d: Int = 2): Column =
    round(sum(c.cast(MoneyDec)), d).cast("double")

  // The exact sum still divides to a DOUBLE, and round(double) itself is
  // NOT portable (see graft.functions.Rounding — shared with the ANN
  // cosine columns in TextOps).
  private val halfUp = graft.functions.Rounding.halfUp _

  private def avgMoney(c: Column, d: Int = 2): Column =
    halfUp(sum(c.cast(MoneyDec)).cast("double") / count(c), d)

  /** DuckDB twins of sumMoney/avgMoney for the oracle SQL. */
  private def sumMoneySql(x: String, d: Int = 2): String =
    s"CAST(round(sum(CAST($x AS DECIMAL(26,4))), $d) AS DOUBLE)"

  private val halfUpSql = graft.functions.Rounding.halfUpSql _

  private def avgMoneySql(x: String, d: Int = 2): String =
    halfUpSql(s"CAST(sum(CAST($x AS DECIMAL(26,4))) AS DOUBLE) / count($x)", d)

  // ---------------------------------------------------------------- q01
  /** A1/A4/F6 — grouped multi-measure hash aggregate (TPC-H Q1 shape; the
    * reference's per-group score summary app.py:446-470). Partial (map-side)
    * aggregation is Catalyst-automatic; at 100TB this shuffles only
    * |groups| × |measures| per partition.
    */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumMoney(col("l_quantity")).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_base_price"),
        sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        avgMoney(col("l_quantity")).as("avg_qty"),
        avgMoney(col("l_extendedprice")).as("avg_price"),
        avgMoney(col("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sumMoneySql("l_quantity")} AS sum_qty,
       |  ${sumMoneySql("l_extendedprice")} AS sum_base_price,
       |  ${sumMoneySql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       |  ${avgMoneySql("l_quantity")} AS avg_qty,
       |  ${avgMoneySql("l_extendedprice")} AS avg_price,
       |  ${avgMoneySql("l_discount", 4)} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** A1/A2/A3 — scalar KPIs with multi-distinct in one pass (reference
    * app.py:73-76: COUNT DISTINCT alongside AVG/COUNT; Catalyst Expand).
    */
  def q02ScalarKpis(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).agg(
      count(lit(1)).as("total_orders"),
      countDistinct(col("o_custkey")).as("distinct_customers"),
      avgMoney(col("o_totalprice")).as("avg_price"),
      sumMoney(col("o_totalprice")).as("total_revenue"))

  val q02Sql: String =
    s"""SELECT count(*) AS total_orders,
       |  count(DISTINCT o_custkey) AS distinct_customers,
       |  ${avgMoneySql("o_totalprice")} AS avg_price,
       |  ${sumMoneySql("o_totalprice")} AS total_revenue
       |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q03
  /** J2 — LEFT JOIN with filter in the ON clause (the reference's signature
    * quirk, app.py:452-453): the extra predicate must NOT drop unmatched
    * left rows. Nation side is tiny → Catalyst broadcasts the dim and the
    * big side streams; count(key) counts only matched rows.
    */
  def q03LeftJoinOnFilter(s: SparkSession, dir: String): DataFrame = {
    val n = nation(s, dir)
    val c = customer(s, dir)
    n.join(c, n("n_nationkey") === c("c_nationkey") && c("c_acctbal") > 5000, "left")
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(
        count(col("c_custkey")).as("n_rich_customers"),
        avgMoney(col("c_acctbal")).as("avg_rich_bal"))
      .orderBy(col("n_nationkey"))
  }

  val q03Sql: String =
    s"""SELECT n.n_nationkey, n.n_name,
       |  count(c.c_custkey) AS n_rich_customers,
       |  ${avgMoneySql("c.c_acctbal")} AS avg_rich_bal
       |FROM nation n
       |LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey AND c.c_acctbal > 5000
       |GROUP BY n.n_nationkey, n.n_name
       |ORDER BY n.n_nationkey""".stripMargin

  // ---------------------------------------------------------------- q04
  /** J1 — inner equi-join chain across the dimension hierarchy
    * (grupos⋈sucursales⋈supervisiones, app.py:77-81). All dims broadcast;
    * only the fact table shuffles for the final aggregate.
    */
  def q04JoinChain(s: SparkSession, dir: String): DataFrame = {
    val r = region(s, dir)
    val n = nation(s, dir)
    val c = customer(s, dir)
    val o = orders(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_regionkey"), col("r_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        avgMoney(col("o_totalprice")).as("avg_price"))
      .orderBy(col("r_regionkey"))
  }

  val q04Sql: String =
    s"""SELECT r.r_regionkey, r.r_name,
      |  count(*) AS n_orders,
      |  count(DISTINCT c.c_custkey) AS n_customers,
      |  ${avgMoneySql("o.o_totalprice")} AS avg_price
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY r.r_regionkey, r.r_name
      |ORDER BY r.r_regionkey""".stripMargin

  // ---------------------------------------------------------------- q05
  /** A5/T2 — conditional aggregation / bucketed histogram (reference
    * app.py:387-399: SUM(CASE WHEN score>=90 ...) ×4). Single scan,
    * one-row result; boundary values land in the higher bucket (`>=`).
    */
  def q05BucketHistogram(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).agg(
      sum(when(col("o_totalprice") >= 300000, 1L).otherwise(0L)).as("b_excellent"),
      sum(when(col("o_totalprice") >= 150000 && col("o_totalprice") < 300000, 1L).otherwise(0L)).as("b_good"),
      sum(when(col("o_totalprice") >= 50000 && col("o_totalprice") < 150000, 1L).otherwise(0L)).as("b_regular"),
      sum(when(col("o_totalprice") < 50000, 1L).otherwise(0L)).as("b_critical"))

  val q05Sql: String =
    """SELECT
      |  CAST(sum(CASE WHEN o_totalprice >= 300000 THEN 1 ELSE 0 END) AS BIGINT) AS b_excellent,
      |  CAST(sum(CASE WHEN o_totalprice >= 150000 AND o_totalprice < 300000 THEN 1 ELSE 0 END) AS BIGINT) AS b_good,
      |  CAST(sum(CASE WHEN o_totalprice >= 50000 AND o_totalprice < 150000 THEN 1 ELSE 0 END) AS BIGINT) AS b_regular,
      |  CAST(sum(CASE WHEN o_totalprice < 50000 THEN 1 ELSE 0 END) AS BIGINT) AS b_critical
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------- q06
  /** A6 — HAVING post-aggregate filter (reference app.py:1237: branches
    * with AVG below threshold → alert). Filter applied after the agg,
    * before the sort — Catalyst keeps it in the same stage.
    */
  def q06Having(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(avgMoney(col("o_totalprice")).as("avg_price"),
           count(lit(1)).as("n_orders"))
      .filter(col("avg_price") < 60000)
      .orderBy(col("o_custkey"))

  val q06Sql: String =
    s"""SELECT o_custkey, ${avgMoneySql("o_totalprice")} AS avg_price, count(*) AS n_orders
      |FROM orders
      |GROUP BY o_custkey
      |HAVING ${avgMoneySql("o_totalprice")} < 60000
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q07
  /** W1/W2/O1 — competition rank with ties over a per-group aggregate;
    * null-measure rows unranked and appended (reference app.py:605-646).
    */
  def q07RankTies(s: SparkSession, dir: String): DataFrame = {
    val n = nation(s, dir)
    val c = customer(s, dir)
    val agg = n
      .join(c, n("n_nationkey") === c("c_nationkey"), "left")
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(
        avgMoney(col("c_acctbal")).as("avg_bal"),
        count(col("c_custkey")).as("n_customers"))
    Ranking.rankWithNullsUnranked(agg, "avg_bal")
      .orderBy(col("posicion").asc_nulls_last, col("n_nationkey"))
  }

  val q07Sql: String =
    s"""WITH g AS (
      |  SELECT n.n_nationkey, n.n_name,
      |    ${avgMoneySql("c.c_acctbal")} AS avg_bal,
      |    count(c.c_custkey) AS n_customers
      |  FROM nation n LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey
      |  GROUP BY n.n_nationkey, n.n_name)
      |SELECT n_nationkey, n_name, avg_bal, n_customers,
      |  CASE WHEN avg_bal IS NULL THEN NULL
      |       ELSE CAST(rank() OVER (ORDER BY avg_bal DESC NULLS LAST) AS INT) END AS posicion
      |FROM g
      |ORDER BY posicion ASC NULLS LAST, n_nationkey""".stripMargin

  // ---------------------------------------------------------------- q08
  /** W3 — top-N per key, N=1: latest order per customer (reference
    * app.py:846-857 latest supervision per branch). row_number over a
    * partitioned window — shuffles once on the partition key; at scale
    * this is the idiomatic replacement for the reference's per-row
    * `ORDER BY fecha DESC LIMIT 1` N+1 queries.
    */
  def q08LatestPerKey(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  val q08Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q09
  /** W4 — top-N per key (N=4) then reversed to chronological order — the
    * reference's trend sparkline (app.py:938-960).
    */
  def q09TrendLast4(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
              col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val q09Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, CAST(rn AS INT) AS rn
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders)
      |WHERE rn <= 4
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q10
  /** J7 — interval-containment join: fact date BETWEEN period bounds
    * (reference etl_sync.py:228-233 period assignment). The period dim is
    * derived (distinct years) and tiny → BroadcastNestedLoopJoin, which is
    * the right physical plan: |facts| × |periods≈7| comparisons, no shuffle
    * of the fact side.
    */
  def q10IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val periods = o
      .select(year(col("o_orderdate")).as("period_year")).distinct()
      .select(col("period_year"),
        make_date(col("period_year"), lit(1), lit(1)).as("p_start"),
        make_date(col("period_year"), lit(12), lit(31)).as("p_end"))
    o.join(broadcast(periods),
        to_date(col("o_orderdate")).between(col("p_start"), col("p_end")), "inner")
      .groupBy(col("period_year"))
      .agg(count(lit(1)).as("n_orders"),
           avgMoney(col("o_totalprice")).as("avg_price"))
      .orderBy(col("period_year"))
  }

  val q10Sql: String =
    s"""WITH periods AS (
      |  SELECT period_year,
      |    make_date(period_year, 1, 1) AS p_start,
      |    make_date(period_year, 12, 31) AS p_end
      |  FROM (SELECT DISTINCT CAST(year(o_orderdate) AS INT) AS period_year FROM orders))
      |SELECT p.period_year, count(*) AS n_orders, ${avgMoneySql("o.o_totalprice")} AS avg_price
      |FROM orders o JOIN periods p
      |  ON CAST(o.o_orderdate AS DATE) BETWEEN p.p_start AND p.p_end
      |GROUP BY p.period_year
      |ORDER BY p.period_year""".stripMargin

  // ---------------------------------------------------------------- q11
  /** J8 — anti-join (dedup-against-target shape, etl_sync.py:215-217):
    * customers with no order in the final year. left_anti never
    * materializes the right payload — only the join keys shuffle.
    */
  def q11AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
    val recent = orders(s, dir)
      .filter(year(col("o_orderdate")) === 2001)
      .select(col("o_custkey"))
    c.join(recent, c("c_custkey") === recent("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val q11Sql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 2001)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q12
  /** J11 — semi-join ("has at least one ..."): nations having a customer
    * above a balance threshold (reference app.py:253-259 "last period with
    * data" shape).
    */
  def q12SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val n = nation(s, dir)
    val c = customer(s, dir).filter(col("c_acctbal") > 9000)
    n.join(c, n("n_nationkey") === c("c_nationkey"), "left_semi")
      .select(col("n_nationkey"), col("n_name"))
      .orderBy(col("n_nationkey"))
  }

  val q12Sql: String =
    """SELECT n_nationkey, n_name
      |FROM nation n
      |WHERE EXISTS (SELECT 1 FROM customer c
      |              WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9000)
      |ORDER BY n_nationkey""".stripMargin

  // ---------------------------------------------------------------- q13
  /** J5 — CROSS JOIN dense matrix (reference app.py:1141-1151): guarantee a
    * cell for every (nation, orderstatus) even with no facts; left-join the
    * aggregated fact, coalesce to 0. Aggregate BEFORE the join so the cross
    * product is dims-only.
    */
  def q13CrossMatrix(s: SparkSession, dir: String): DataFrame = {
    val n = nation(s, dir).select(col("n_nationkey"), col("n_name"))
    val statuses = orders(s, dir).select(col("o_orderstatus")).distinct()
    val facts = orders(s, dir)
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), avgMoney(col("o_totalprice")).as("avg_p"))
    n.crossJoin(broadcast(statuses))
      .join(facts,
        n("n_nationkey") === facts("c_nationkey") &&
          statuses("o_orderstatus") === facts("o_orderstatus"), "left")
      .select(n("n_nationkey"), col("n_name"), statuses("o_orderstatus"),
        coalesce(col("cnt"), lit(0L)).as("n_orders"), col("avg_p"))
      .orderBy(col("n_nationkey"), col("o_orderstatus"))
  }

  val q13Sql: String =
    s"""WITH f AS (
      |  SELECT c.c_nationkey, o.o_orderstatus,
      |    count(*) AS cnt, ${avgMoneySql("o.o_totalprice")} AS avg_p
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY c.c_nationkey, o.o_orderstatus)
      |SELECT n.n_nationkey, n.n_name, st.o_orderstatus,
      |  COALESCE(f.cnt, 0) AS n_orders, f.avg_p
      |FROM nation n
      |CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) st
      |LEFT JOIN f ON n.n_nationkey = f.c_nationkey AND st.o_orderstatus = f.o_orderstatus
      |ORDER BY n.n_nationkey, st.o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q14
  /** A9 — pivot long→wide (reference's historico matrix, app.py:1153-1184).
    * Explicit pivot values keep the plan single-pass (no extra distinct
    * job) and make the output schema static for the oracle.
    */
  def q14Pivot(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val c = customer(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(avgMoney(col("o_totalprice")))
      .orderBy(col("c_nationkey"))
  }

  val q14Sql: String =
    s"""SELECT c.c_nationkey,
      |  ${avgMoneySql("CASE WHEN o.o_orderstatus = 'F' THEN o.o_totalprice END")} AS F,
      |  ${avgMoneySql("CASE WHEN o.o_orderstatus = 'O' THEN o.o_totalprice END")} AS O,
      |  ${avgMoneySql("CASE WHEN o.o_orderstatus = 'P' THEN o.o_totalprice END")} AS P
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_nationkey
      |ORDER BY c.c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q15
  /** A10 — average-of-averages (two-level aggregate, app.py:1186-1202):
    * per-(nation, year) mean first, then unweighted mean of those means per
    * nation. Deliberately NOT the supervision-weighted average — the
    * reference keeps both semantics side by side (q16 is the weighted one).
    */
  def q15AvgOfAvgs(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val c = customer(s, dir)
    // both levels sum in exact decimal: the inner average is an identical
    // double on both engines, and the outer re-cast (per-row, deterministic)
    // keeps the second-level sum order-independent too
    val perPeriod = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey"), year(col("o_orderdate")).as("y"))
      .agg((sum(col("o_totalprice").cast(MoneyDec)).cast("double")
        / count(col("o_totalprice"))).as("period_avg"))
    perPeriod
      .groupBy(col("c_nationkey"))
      .agg(halfUp(sum(col("period_avg").cast("decimal(30,12)")).cast("double")
             / count(col("period_avg")), 2).as("avg_of_avgs"),
           count(lit(1)).as("n_periods"))
      .orderBy(col("c_nationkey"))
  }

  val q15Sql: String =
    """WITH pp AS (
      |  SELECT c.c_nationkey, year(o.o_orderdate) AS y,
      |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(26,4))) AS DOUBLE) / count(o.o_totalprice) AS period_avg
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY c.c_nationkey, year(o.o_orderdate))
      |SELECT c_nationkey,
      |  (floor((CAST(sum(CAST(period_avg AS DECIMAL(30,12))) AS DOUBLE) / count(period_avg)) * 100.0 + 0.5) / 100.0) AS avg_of_avgs,
      |  count(*) AS n_periods
      |FROM pp GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q16
  /** A11 — weighted (per-fact) roll-up average, contrasted with q15
    * (reference "promedio ponderado correcto", app.py:65-89).
    */
  def q16WeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val c = customer(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(avgMoney(col("o_totalprice")).as("weighted_avg"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("c_nationkey"))
  }

  val q16Sql: String =
    s"""SELECT c.c_nationkey, ${avgMoneySql("o.o_totalprice")} AS weighted_avg,
      |  count(*) AS n_orders
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_nationkey
      |ORDER BY c.c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q17
  /** A15 — percent-of-total via an unpartitioned window over the aggregated
    * frame (reference app.js:436-461 distribution normalization). The
    * window sees |distinct event_type| rows — cheap at any scale.
    */
  def q17PercentOfTotal(s: SparkSession, dir: String): DataFrame = {
    val byType = events(s, dir).groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    byType
      .withColumn("pct", round(col("n") * lit(100.0) / sum(col("n")).over(Window.partitionBy()), 1))
      .orderBy(col("event_type"))
  }

  val q17Sql: String =
    """SELECT event_type, count(*) AS n,
      |  round(count(*) * 100.0 / sum(count(*)) OVER (), 1) AS pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q18
  /** T1/T2 — classifier when-chains (territory + severity) feeding a
    * grouped count. Pure Column expressions — fully codegen'd, no UDF.
    */
  def q18Classify(s: SparkSession, dir: String): DataFrame = {
    val terr = Classify.territory(col("c_mktsegment"),
      local = Seq("AUTOMOBILE", "BUILDING"), foranea = Seq("MACHINERY", "HOUSEHOLD"))
    val sev = Classify.severityScaled(col("c_acctbal"), scale = 100.0)
    customer(s, dir)
      .select(terr.as("territorio"), sev.as("severidad"))
      .groupBy(col("territorio"), col("severidad"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("territorio"), col("severidad"))
  }

  val q18Sql: String =
    """SELECT
      |  CASE WHEN lower(c_mktsegment) LIKE '%automobile%' OR lower(c_mktsegment) LIKE '%building%' THEN 'local'
      |       WHEN lower(c_mktsegment) LIKE '%machinery%' OR lower(c_mktsegment) LIKE '%household%' THEN 'foranea'
      |       ELSE 'mixto' END AS territorio,
      |  CASE WHEN c_acctbal IS NULL THEN 'sin_datos'
      |       WHEN c_acctbal >= 9000 THEN 'excelente'
      |       WHEN c_acctbal >= 8000 THEN 'bueno'
      |       WHEN c_acctbal >= 7000 THEN 'regular'
      |       ELSE 'critico' END AS severidad,
      |  count(*) AS n
      |FROM customer
      |GROUP BY 1, 2
      |ORDER BY territorio, severidad""".stripMargin

  // ---------------------------------------------------------------- q19
  /** F7/F8/F9 — string normalization chain (upper/trim/contains/startswith/
    * concat; reference etl_sync.py:123-127 title normalization). Filters
    * on raw columns still push to the parquet scan.
    */
  def q19StringFuncs(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .filter(col("p_name").contains("o") && col("p_brand").startsWith("Brand"))
      .select(
        col("p_partkey"),
        upper(trim(col("p_name"))).as("name_upper"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("label"),
        length(col("p_name")).as("name_len"))
      .orderBy(col("p_partkey"))

  val q19Sql: String =
    """SELECT p_partkey,
      |  upper(trim(p_name)) AS name_upper,
      |  p_brand || '#' || p_type AS label,
      |  CAST(length(p_name) AS INT) AS name_len
      |FROM part
      |WHERE p_name LIKE '%o%' AND p_brand LIKE 'Brand%'
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q20
  /** F3/F5 — date bucketing and formatting (reference app.py:949 '%d/%m'
    * formatting, etl '[:10]' ISO slicing). Month string doubles as a
    * partition-friendly key at scale.
    */
  def q20DateFuncs(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_orders"),
           sumMoney(col("o_totalprice")).as("revenue"))
      .orderBy(col("order_month"))

  val q20Sql: String =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
      |  count(*) AS n_orders,
      |  ${sumMoneySql("o_totalprice")} AS revenue
      |FROM orders
      |GROUP BY 1
      |ORDER BY order_month""".stripMargin

  // ---------------------------------------------------------------- q21
  /** W5 — successor lookup via LEAD (reference etl_sync.py:542-547 "next
    * period by fecha_inicio"). Unpartitioned window over distinct months —
    * tiny by construction.
    */
  def q21Lead(s: SparkSession, dir: String): DataFrame = {
    val months = orders(s, dir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("order_month")).distinct()
    months
      .withColumn("next_month", lead(col("order_month"), 1).over(Window.orderBy(col("order_month"))))
      .orderBy(col("order_month"))
  }

  val q21Sql: String =
    """SELECT order_month, lead(order_month) OVER (ORDER BY order_month) AS next_month
      |FROM (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS order_month FROM orders)
      |ORDER BY order_month""".stripMargin

  // ---------------------------------------------------------------- q22
  /** O5/A13 — UNION ALL of labeled scalar aggregates (the ETL status
    * report, etl_sync.py:410-415).
    */
  def q22UnionAll(s: SparkSession, dir: String): DataFrame = {
    def cnt(name: String): DataFrame =
      Tables.read(s, dir, name).agg(count(lit(1)).as("n")).select(lit(name).as("tbl"), col("n"))
    cnt("region").unionAll(cnt("nation")).unionAll(cnt("customer"))
      .unionAll(cnt("orders")).unionAll(cnt("lineitem"))
      .orderBy(col("tbl"))
  }

  val q22Sql: String =
    """SELECT * FROM (
      |  SELECT 'region' AS tbl, count(*) AS n FROM region UNION ALL
      |  SELECT 'nation', count(*) FROM nation UNION ALL
      |  SELECT 'customer', count(*) FROM customer UNION ALL
      |  SELECT 'orders', count(*) FROM orders UNION ALL
      |  SELECT 'lineitem', count(*) FROM lineitem)
      |ORDER BY tbl""".stripMargin

  // ---------------------------------------------------------------- q23
  /** O2 — global top-k (ORDER BY ... LIMIT k, app.py:855 etc.). Spark plans
    * TakeOrderedAndProject: per-partition top-k then a single-reduce merge —
    * no full sort at any scale.
    */
  def q23TopK(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  val q23Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q24
  /** A6/T2/F9 — threshold alerts with severity + message concat (reference
    * app.py:1221-1266 /api/alertas): groups whose average falls below the
    * "regular" line, labeled and ordered worst-first.
    */
  def q24Alerts(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val c = customer(s, dir)
    val n = nation(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(avgMoney(col("o_totalprice")).as("avg_price"),
           count(lit(1)).as("n_orders"))
      .join(broadcast(o.agg(avgMoney(col("o_totalprice")).as("global_avg"))))
      .filter(col("avg_price") < col("global_avg"))
      .withColumn("tipo",
        when(col("avg_price") < col("global_avg") * 0.98, "critical").otherwise("warning"))
      .withColumn("mensaje", concat(lit("Grupo "), col("n_name"), lit(" bajo umbral: "), col("avg_price")))
      .drop("global_avg")
      .orderBy(col("avg_price"), col("n_nationkey"))
  }

  val q24Sql: String =
    s"""WITH ga AS (SELECT ${avgMoneySql("o_totalprice")} AS global_avg FROM orders)
      |SELECT n_nationkey, n_name, avg_price, n_orders,
      |  CASE WHEN avg_price < global_avg * 0.98 THEN 'critical' ELSE 'warning' END AS tipo,
      |  'Grupo ' || n_name || ' bajo umbral: ' || CAST(avg_price AS VARCHAR) AS mensaje
      |FROM (
      |  SELECT n.n_nationkey, n.n_name,
      |    ${avgMoneySql("o.o_totalprice")} AS avg_price, count(*) AS n_orders
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY n.n_nationkey, n.n_name) g
      |CROSS JOIN ga
      |WHERE avg_price < global_avg
      |ORDER BY avg_price, n_nationkey""".stripMargin

  // ---------------------------------------------------------------- q25
  /** A12/F10 — coverage ratio: distinct active entities vs total, with
    * division-safe percentage (reference app.py:278-293).
    */
  def q25Coverage(s: SparkSession, dir: String): DataFrame = {
    val total = customer(s, dir).agg(countDistinct(col("c_custkey")).as("total_customers"))
    val active = orders(s, dir).agg(countDistinct(col("o_custkey")).as("customers_with_orders"))
    total.crossJoin(active)
      .withColumn("coverage_pct",
        when(col("total_customers") > 0,
          round(col("customers_with_orders") * lit(100.0) / col("total_customers"), 1))
          .otherwise(lit(0.0)))
  }

  val q25Sql: String =
    """SELECT t.total_customers, a.customers_with_orders,
      |  CASE WHEN t.total_customers > 0
      |       THEN round(a.customers_with_orders * 100.0 / t.total_customers, 1)
      |       ELSE 0.0 END AS coverage_pct
      |FROM (SELECT count(DISTINCT c_custkey) AS total_customers FROM customer) t
      |CROSS JOIN (SELECT count(DISTINCT o_custkey) AS customers_with_orders FROM orders) a""".stripMargin

  // ---------------------------------------------------------------- q26
  /** F11 — semi-structured JSON field navigation (reference
    * etl_sync.py:206-224 smetadata parsing) over events.props.
    * get_json_object keeps extraction inside codegen.
    */
  def q26JsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
           round(avg(col("k")), 2).as("avg_k"))
      .orderBy(col("event_type"))

  val q26Sql: String =
    """SELECT event_type,
      |  count(CAST(props ->> '$.k' AS INT)) AS n_with_k,
      |  round(avg(CAST(props ->> '$.k' AS INT)), 2) AS avg_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q27
  /** F4-analog + date_trunc time bucketing over the events table. */
  def q27HourlyEvents(s: SparkSession, dir: String): DataFrame =
    eventsTs(s, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour_ts"))
      .agg(count(lit(1)).as("n_events"),
           sumMoney(col("value")).as("total_value"))
      .orderBy(col("hour_ts"))

  val q27Sql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_ts,
      |  count(*) AS n_events,
      |  ${sumMoneySql("value")} AS total_value
      |FROM events
      |GROUP BY 1
      |ORDER BY hour_ts""".stripMargin

  // ---------------------------------------------------------------- q29
  /** A2 at scale — approx_count_distinct (HLL++) beside the exact count.
    * Sketch estimates are engine-specific, so the oracle-checked output is
    * the exact counts plus a hard error bound on the sketch: |approx -
    * exact| / exact ≤ 5% (the sketch runs at rsd 2%, so the driver-checked
    * bound has slack without being vacuous). ApproxSpec covers the raw
    * estimates. At 100TB the exact distinct is a full shuffle of the key;
    * the sketch is a fixed-size mergeable buffer per partition.
    */
  def q29ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).agg(
      countDistinct(col("l_partkey")).as("exact_parts"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
      countDistinct(col("l_suppkey")).as("exact_supps"),
      approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supps"))
      .select(
        col("exact_parts"), col("exact_supps"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double")
          / col("exact_parts") <= 0.05).as("approx_parts_within_5pct"),
        (abs(col("approx_supps") - col("exact_supps")).cast("double")
          / col("exact_supps") <= 0.05).as("approx_supps_within_5pct"))

  val q29Sql: String =
    """SELECT count(DISTINCT l_partkey) AS exact_parts,
      |  count(DISTINCT l_suppkey) AS exact_supps,
      |  TRUE AS approx_parts_within_5pct,
      |  TRUE AS approx_supps_within_5pct
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q30
  /** Rollup with subtotals + grand total (beyond the reference's flat
    * GROUP BYs — the natural extension of its KPI hierarchy). Catalyst
    * plans one Expand over the grouping sets; no repeated scans.
    */
  def q30Rollup(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sumMoney(col("l_quantity")).as("sum_qty"),
           count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val q30Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${sumMoneySql("l_quantity")} AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q31
  /** As-of join: each purchase event attributed to the same user's most
    * recent view at-or-before it (functions/AsOf — union + running-last
    * window, ONE shuffle). DuckDB's native ASOF JOIN is the oracle.
    */
  def q31AsofAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsTs(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"))
    graft.functions.AsOf.join(purchases, views, "user_id", "ts")
      .select(
        col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
        date_format(col("matched.ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_ts"),
        when(col("matched").isNotNull,
          round((unix_micros(col("ts")) - unix_micros(col("matched.ts"))) / 1e6, 3))
          .as("gap_seconds"))
      .orderBy(col("event_id"))
  }

  val q31Sql: String =
    """SELECT p.event_id, p.user_id,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
      |  strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
      |  CASE WHEN v.ts IS NOT NULL
      |       THEN round(date_diff('microsecond', v.ts, p.ts) / 1000000.0, 3) END AS gap_seconds
      |FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------- q32
  /** S7 — catalog/schema introspection (reference app.py:1298-1321:
    * information_schema.tables + dynamic result.keys()): table names and
    * column counts discovered from the schemas themselves, not hardcoded.
    */
  def q32Catalog(s: SparkSession, dir: String): DataFrame = {
    // DISCOVERED, not hardcoded — the reference reads
    // information_schema.tables (app.py:1298-1301); the parquet analog is
    // the corpus dir's listing. Plan-time metadata only (one directory
    // LIST + per-table footer schema reads), no Spark job per table.
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val names = fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
    val rows = names.map(t => (t, Tables.read(s, dir, t).schema.fields.length))
    import s.implicits._
    rows.toDF("table_name", "n_columns").orderBy(col("table_name"))
  }

  /** q32's oracle, with the IN list built from the SAME directory
    * listing [[q32Catalog]] discovers its tables from — both sides now
    * derive from the corpus dir, so an added corpus table (or a stray
    * .parquet) shifts both identically instead of silently
    * hash-mismatching against a hardcoded list.
    */
  def q32SqlFor(dir: String): String = {
    val names = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
    val inList = names.map(n => s"'$n'").mkString(", ")
    s"""SELECT table_name, CAST(count(*) AS INT) AS n_columns
       |FROM information_schema.columns
       |WHERE table_name IN ($inList)
       |GROUP BY table_name
       |ORDER BY table_name""".stripMargin
  }

  // ---------------------------------------------------------------- q33
  /** Correlated scalar subquery through the SQL API: orders above their
    * own customer's average. Catalyst decorrelates this into an aggregate
    * + join (RewriteCorrelatedScalarSubquery) — worth exercising because
    * the reference's N+1 Python loops are exactly what decorrelation
    * replaces.
    */
  def q33CorrelatedSubquery(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir).createOrReplaceTempView("graft_orders")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM graft_orders o
        |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice)
        |                            FROM graft_orders i
        |                            WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val q33Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice)
      |                            FROM orders i
      |                            WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Set operations (beyond the reference, which has only UNION ALL):
    * customers active in 2000 but not 2001 (EXCEPT) and in both
    * (INTERSECT), labeled and unioned.
    */
  def q34SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    def custIn(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey")).distinct()
    val churned = custIn(2000).except(custIn(2001))
      .withColumn("segment", lit("churned_2001"))
    val retained = custIn(2000).intersect(custIn(2001))
      .withColumn("segment", lit("retained_2001"))
    churned.unionByName(retained).orderBy(col("segment"), col("o_custkey"))
  }

  val q34Sql: String =
    """SELECT o_custkey, 'churned_2001' AS segment FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 2000
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 2001)
      |UNION ALL
      |SELECT o_custkey, 'retained_2001' AS segment FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 2000
      |  INTERSECT
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 2001)
      |ORDER BY segment, o_custkey""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Exact interpolated percentiles per group (median/p90) — the
    * distribution view the reference's bucket histogram approximates.
    * Exact `percentile` matches DuckDB's quantile_cont definition;
    * at 100 TB the swap is approx_percentile (t-digest sketch).
    */
  def q35Percentiles(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("median_price"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90_price"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  val q35Sql: String =
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
      |  count(*) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Running total with an explicit ROWS frame — the cumulative view of a
    * customer's spend. Deterministic: the frame order carries a unique
    * tiebreak so both engines fold in the same sequence.
    */
  def q36RunningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, dir)
      .filter(col("o_custkey") <= 100) // bounded output, full frame logic
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_revenue"),
        row_number().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))).as("order_seq"))
      .orderBy(col("o_custkey"), col("order_seq"))
  }

  val q36Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 2) AS running_revenue,
      |  CAST(row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
      |FROM orders
      |WHERE o_custkey <= 100
      |ORDER BY o_custkey, order_seq""".stripMargin

  // ---------------------------------------------------------------- q37
  /** arg-max/arg-min aggregates (max_by/min_by): each nation's priciest
    * and cheapest order in one grouped pass — no self-join, no window.
    */
  def q37ArgMax(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val c = customer(s, dir)
    // Two HASH-aggregate passes instead of one max_by/min_by pass: the
    // arg-aggregates carry their STRING ordering key in the aggregation
    // buffer, and a var-length buffer field disqualifies HashAggregate —
    // the single-pass shape planned Sort + SortAggregate TWICE (partial +
    // final, outside whole-stage codegen; plans/r18/q37_argmax_before).
    // Pass 1 takes each nation's numeric extrema; pass 2 broadcasts those
    // 25 rows back and arg-resolves the tie-break among only the rows
    // whose FORMATTED price equals the formatted extremum. Equivalent to
    // arg_max/arg_min over '%020.2f#%019d' (the oracle's key, unchanged)
    // because the zero-padded fixed-width format is monotone in the
    // (non-negative) price — the key's max/min price field IS the
    // formatted numeric max/min — and the '#%019d' suffix breaks format
    // ties by max/min o_orderkey, which is exactly the conditional
    // max/min below (order keys are unique in the join). Both passes are
    // all-numeric HashAggregates inside whole-stage codegen (guide step-2
    // per-task work / §7.2: duplicated scan of 3 pruned columns is
    // cheaper than two extra sorts of the whole join).
    def fmt(p: Column) = format_string("%020.2f", p)
    val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_nationkey"), col("o_orderkey"), col("o_totalprice"))
    val extrema = joined.groupBy(col("c_nationkey"))
      .agg(max(col("o_totalprice")).as("maxp"), min(col("o_totalprice")).as("minp"))
    joined.join(broadcast(extrema), Seq("c_nationkey"))
      .groupBy(col("c_nationkey"))
      .agg(
        max(when(fmt(col("o_totalprice")) === fmt(col("maxp")), col("o_orderkey")))
          .as("priciest_order"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        min(when(fmt(col("o_totalprice")) === fmt(col("minp")), col("o_orderkey")))
          .as("cheapest_order"),
        round(min(col("o_totalprice")), 2).as("min_price"))
      .orderBy(col("c_nationkey"))
  }

  val q37Sql: String =
    """SELECT c.c_nationkey,
      |  arg_max(o.o_orderkey, printf('%020.2f#%019d', o.o_totalprice, o.o_orderkey)) AS priciest_order,
      |  round(max(o.o_totalprice), 2) AS max_price,
      |  arg_min(o.o_orderkey, printf('%020.2f#%019d', o.o_totalprice, o.o_orderkey)) AS cheapest_order,
      |  round(min(o.o_totalprice), 2) AS min_price
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_nationkey
      |ORDER BY c.c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Time-RANGE window frame: per-user trailing-10-minute event count and
    * average — the window family member rows-frames can't express (q36 is
    * the ROWS counterpart). The frame bound is arithmetic on the raw
    * nanosecond epoch (events.ts is parquet TIMESTAMP(NANOS) read as
    * long), so both engines evaluate the identical inclusive numeric
    * range [ts − 600e9, ts] with identical peer semantics. One shuffle on
    * user_id; the frame scan is the standard sliding-window
    * accumulate/retract within each partition.
    */
  def q38RangeWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rangeBetween(-600L * 1000000000L, 0L)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("n_10m", count(lit(1)).over(w))
      .withColumn("avg_10m",
        halfUp(sum(col("value").cast(MoneyDec)).over(w).cast("double")
          / count(col("value")).over(w), 2))
      .select(col("event_id"), col("user_id"), col("n_10m"), col("avg_10m"))
      .orderBy(col("event_id"))
  }

  val q38Sql: String =
    s"""WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ns, value FROM events)
       |SELECT event_id, user_id,
       |  count(*) OVER w AS n_10m,
       |  ${halfUpSql("CAST(sum(CAST(value AS DECIMAL(26,4))) OVER w AS DOUBLE) / count(value) OVER w", 2)} AS avg_10m
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY ns
       |  RANGE BETWEEN 600000000000 PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q39
  /** Skewed-key equi-join via deterministic salting
    * ([[graft.functions.Skew.saltedJoin]]): a quarter of all events are
    * collapsed onto bucket 1 — a deliberate hot key — and the salted join
    * spreads that key over 8 (bucket, salt) reducers while replicating
    * each dim row 8×. The dim is hinted off the broadcast path ("merge")
    * to model the regime the pattern exists for: a dim too large to
    * broadcast, where AQE's skew split does not cover every join shape
    * and one reducer would otherwise receive the whole hot key. The
    * result is identical to the plain join — the oracle runs the UNSALTED
    * SQL — and SkewSpec asserts the physical join keys carry __salt with
    * the hot key actually spanning the salt space.
    */
  def q39SkewedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .withColumn("bucket_id",
        when(col("user_id") % 4 === 0, 1L).otherwise(col("user_id")))
    val dim = customer(s, dir)
      .select(col("c_custkey").as("bucket_id"), col("c_mktsegment"))
      .hint("merge")
    graft.functions.Skew.saltedJoin(ev, dim, "bucket_id", salts = 8,
        saltSource = col("event_id"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("sum_value"))
      .orderBy(col("c_mktsegment"))
  }

  val q39Sql: String =
    s"""WITH ev AS (
       |  SELECT CASE WHEN user_id % 4 = 0 THEN 1 ELSE user_id END AS bucket_id, value
       |  FROM events),
       |d AS (SELECT c_custkey AS bucket_id, c_mktsegment FROM customer)
       |SELECT c_mktsegment, count(*) AS n_events,
       |  ${sumMoneySql("value")} AS sum_value
       |FROM ev JOIN d USING (bucket_id)
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------ registry
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"    -> (q01PricingSummary _),
    "q02_scalar_kpis"        -> (q02ScalarKpis _),
    "q03_left_join_on_filter"-> (q03LeftJoinOnFilter _),
    "q04_join_chain"         -> (q04JoinChain _),
    "q05_bucket_histogram"   -> (q05BucketHistogram _),
    "q06_having"             -> (q06Having _),
    "q07_rank_ties"          -> (q07RankTies _),
    "q08_latest_per_key"     -> (q08LatestPerKey _),
    "q09_trend_last4"        -> (q09TrendLast4 _),
    "q10_interval_join"      -> (q10IntervalJoin _),
    "q11_anti_join"          -> (q11AntiJoin _),
    "q12_semi_join"          -> (q12SemiJoin _),
    "q13_cross_matrix"       -> (q13CrossMatrix _),
    "q14_pivot"              -> (q14Pivot _),
    "q15_avg_of_avgs"        -> (q15AvgOfAvgs _),
    "q16_weighted_avg"       -> (q16WeightedAvg _),
    "q17_percent_of_total"   -> (q17PercentOfTotal _),
    "q18_classify"           -> (q18Classify _),
    "q19_string_funcs"       -> (q19StringFuncs _),
    "q20_date_funcs"         -> (q20DateFuncs _),
    "q21_lead"               -> (q21Lead _),
    "q22_union_all"          -> (q22UnionAll _),
    "q23_topk"               -> (q23TopK _),
    "q24_alerts"             -> (q24Alerts _),
    "q25_coverage"           -> (q25Coverage _),
    "q26_json_extract"       -> (q26JsonExtract _),
    "q27_hourly_events"      -> (q27HourlyEvents _),
    "q29_approx_distinct"    -> (q29ApproxDistinct _),
    "q30_rollup"             -> (q30Rollup _),
    "q31_asof_attribution"   -> (q31AsofAttribution _),
    "q32_catalog"            -> (q32Catalog _),
    "q33_correlated_subquery"-> (q33CorrelatedSubquery _),
    "q34_set_ops"            -> (q34SetOps _),
    "q35_percentiles"        -> (q35Percentiles _),
    "q36_running_total"      -> (q36RunningTotal _),
    "q37_argmax"             -> (q37ArgMax _),
    "q38_range_window"       -> (q38RangeWindow _),
    "q39_skewed_join"        -> (q39SkewedJoin _),
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary"    -> q01Sql,
    "q02_scalar_kpis"        -> q02Sql,
    "q03_left_join_on_filter"-> q03Sql,
    "q04_join_chain"         -> q04Sql,
    "q05_bucket_histogram"   -> q05Sql,
    "q06_having"             -> q06Sql,
    "q07_rank_ties"          -> q07Sql,
    "q08_latest_per_key"     -> q08Sql,
    "q09_trend_last4"        -> q09Sql,
    "q10_interval_join"      -> q10Sql,
    "q11_anti_join"          -> q11Sql,
    "q12_semi_join"          -> q12Sql,
    "q13_cross_matrix"       -> q13Sql,
    "q14_pivot"              -> q14Sql,
    "q15_avg_of_avgs"        -> q15Sql,
    "q16_weighted_avg"       -> q16Sql,
    "q17_percent_of_total"   -> q17Sql,
    "q18_classify"           -> q18Sql,
    "q19_string_funcs"       -> q19Sql,
    "q20_date_funcs"         -> q20Sql,
    "q21_lead"               -> q21Sql,
    "q22_union_all"          -> q22Sql,
    "q23_topk"               -> q23Sql,
    "q24_alerts"             -> q24Sql,
    "q25_coverage"           -> q25Sql,
    "q26_json_extract"       -> q26Sql,
    "q27_hourly_events"      -> q27Sql,
    "q29_approx_distinct"    -> q29Sql,
    "q30_rollup"             -> q30Sql,
    "q31_asof_attribution"   -> q31Sql,
    // q32_catalog is added in SparkEntry.oracleSqlFor via q32SqlFor(dir):
    // its IN list derives from the corpus dir, mirroring q32Catalog's
    // discovery
    "q33_correlated_subquery"-> q33Sql,
    "q34_set_ops"            -> q34Sql,
    "q35_percentiles"        -> q35Sql,
    "q36_running_total"      -> q36Sql,
    "q37_argmax"             -> q37Sql,
    "q38_range_window"       -> q38Sql,
    "q39_skewed_join"        -> q39Sql,
  )
}
