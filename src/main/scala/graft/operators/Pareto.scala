package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Concentration and aging rollups over the sales facts: the Pareto
  * (cumulative-share) supplier table and open-order aging buckets.
  */
object Pareto {

  /** Supplier Pareto table: revenue rank, exact cumulative share in
    * basis points, and the top-80% flag. Revenue carries decimal scale 4
    * (price ×(1−discount)), so shares are cross-multiplied in exact
    * ten-thousandth units — ×10000 is a pure rescale of a scale-4
    * decimal, no rounding — and the bp is INTEGRAL division in both
    * engines (Spark decimal `div` → BIGINT; the twin uses HUGEINT `//`):
    * no decimal or double division anywhere, so the value cannot drift a
    * bp at any corpus magnitude (both sides stay exact far past 2^53).
    *
    * Scale shape (100 TB): the window runs over the ≤#suppliers rollup,
    * not the fact — but an UNGROUPED rank + running-sum window still
    * plans `Exchange SinglePartition` (one task sorts every entity), so
    * the gated query rides the size-aware dial: below
    * [[Scale.HotGroupMinRowsPerGroup]] the plain window wins (one
    * in-memory sort, no extra shuffles); past it both the rank and the
    * exact cumulative sum come from
    * [[Scale.globalRankAndRunningSum]]'s range-partition + broadcast-
    * offset pattern, max task one range partition at any entity count.
    * The fact count is the cheap first bound (the rollup can never
    * exceed it); only a plausibly-hot fact pays the exact rollup count. */
  def supplierPareto(lineitem: DataFrame): DataFrame = {
    val rev = lineitem
      .select(col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(14,2)") *
          (lit(1) - col("l_discount").cast("decimal(6,2)"))).as("r"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("r")).as("rev_dec"))

    def finish(df: DataFrame): DataFrame = df
      .withColumn("total_e4", (col("total_dec") * 10000).cast("decimal(38,0)"))
      .withColumn("cum_share_bp", expr("(cum_e4 * 10000) div total_e4"))
      .withColumn("in_top80", col("cum_share_bp") <= 8000L)
      .select(col("rnk"), col("l_suppkey"),
        col("rev_dec").cast("double").as("revenue"),
        col("cum_share_bp"), col("in_top80"))

    def plainOn(r: DataFrame): DataFrame = {
      val total = r.agg(sum(col("rev_dec")).as("total_dec"))
      val w = Window.orderBy(col("rev_dec").desc, col("l_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wR = Window.orderBy(col("rev_dec").desc, col("l_suppkey"))
      finish(r.crossJoin(broadcast(total))
        .withColumn("rnk", row_number().over(wR).cast("long"))
        .withColumn("cum_e4",
          (sum(col("rev_dec")).over(w) * 10000).cast("decimal(38,0)")))
    }

    // distributed form: rank AND exact cumulative revenue from the
    // range-partition + broadcast-offset pattern — no single-task sort
    def hotOn(r: DataFrame): DataFrame = {
      val total = r.agg(sum(col("rev_dec")).as("total_dec"))
      finish(Scale.globalRankAndRunningSum(r,
          Seq(col("rev_dec").desc, col("l_suppkey")), col("rev_dec"),
          "rnk", "_cum", 32)
        .crossJoin(broadcast(total))
        .withColumn("cum_e4", (col("_cum") * 10000).cast("decimal(38,0)"))
        .drop("_cum"))
    }

    Scale.ungroupedDial(lineitem.count(), rev)(
      plainOn)((r, _) => hotOn(r))
  }

  def qSupplierPareto(spark: SparkSession, dir: String): DataFrame =
    supplierPareto(Tables.lineitem(spark, dir)).orderBy(col("rnk"))

  def oSupplierPareto: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(14,2))
      |        * (1 - CAST(l_discount AS DECIMAL(6,2)))) AS rev_dec
      |  FROM lineitem GROUP BY l_suppkey),
      |t AS (SELECT sum(rev_dec) AS total_dec FROM rev),
      |r AS (
      |  SELECT l_suppkey, rev_dec, total_dec,
      |    row_number() OVER (ORDER BY rev_dec DESC, l_suppkey) AS rnk,
      |    CAST(CAST(sum(rev_dec) OVER (ORDER BY rev_dec DESC, l_suppkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000
      |      AS DECIMAL(38,0)) AS HUGEINT) AS cum_e4,
      |    CAST(CAST(total_dec * 10000 AS DECIMAL(38,0)) AS HUGEINT) AS total_e4
      |  FROM rev, t)
      |SELECT CAST(rnk AS BIGINT) AS rnk, l_suppkey,
      |  CAST(rev_dec AS DOUBLE) AS revenue,
      |  CAST((cum_e4 * 10000) // total_e4 AS BIGINT) AS cum_share_bp,
      |  CAST((cum_e4 * 10000) // total_e4 AS BIGINT) <= 8000 AS in_top80
      |FROM r ORDER BY rnk""".stripMargin

  // ----------------------------------------------------- order aging

  /** Open-order aging: orders still in status 'O', bucketed by age in
    * days at the corpus's max order date (deterministic "as of" — no
    * wall clock anywhere), with counts and exact-decimal value. One
    * fact aggregate against a 1-row broadcast scalar. */
  def orderAging(orders: DataFrame): DataFrame = {
    val asOf = orders.agg(max(col("o_orderdate")).as("as_of"))
    orders.filter(col("o_orderstatus") === "O")
      .crossJoin(broadcast(asOf))
      .withColumn("age_days", datediff(col("as_of"), col("o_orderdate")))
      .withColumn("age_bucket",
        when(col("age_days") <= 365, "0-1y")
          .when(col("age_days") <= 730, "1-2y")
          .when(col("age_days") <= 1460, "2-4y")
          .otherwise("4y+"))
      .groupBy(col("age_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("age_days")).as("min_age"),
        max(col("age_days")).as("max_age"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double")
          .as("open_value"))
  }

  def qOrderAging(spark: SparkSession, dir: String): DataFrame =
    orderAging(Tables.orders(spark, dir)).orderBy(col("age_bucket"))

  def oOrderAging: String =
    """WITH a AS (SELECT max(o_orderdate) AS as_of FROM orders),
      |o AS (
      |  SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |           CAST(as_of AS DATE)) AS INTEGER) AS age_days,
      |         o_totalprice
      |  FROM orders, a WHERE o_orderstatus = 'O'),
      |b AS (
      |  SELECT CASE WHEN age_days <= 365 THEN '0-1y'
      |              WHEN age_days <= 730 THEN '1-2y'
      |              WHEN age_days <= 1460 THEN '2-4y'
      |              ELSE '4y+' END AS age_bucket,
      |         age_days, o_totalprice
      |  FROM o)
      |SELECT age_bucket, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(min(age_days) AS INTEGER) AS min_age,
      |  CAST(max(age_days) AS INTEGER) AS max_age,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS open_value
      |FROM b GROUP BY age_bucket ORDER BY age_bucket""".stripMargin
}
