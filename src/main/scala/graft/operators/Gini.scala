package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Gini concentration coefficient per group — the inequality measure a
  * curation pipeline reads on source/customer contribution (the scalar
  * companion to [[Pareto]]'s cumulative-share curve): for non-negative
  * x₁ ≤ … ≤ xₙ, G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx). Money enters as
  * exact DECIMAL cents cast to long, ranks are integers with a pinned
  * tiebreak, and the output is the ⌊1000·G⌋ integer surrogate — no
  * floats anywhere.
  *
  * Scale shape (100 TB): nations are a ~25-value key, the VERDICT-r9
  * hot-group window shape — per-nation ranks ride the
  * [[Scale.hotGroups]] dial between [[Scale.globalRankGrouped]]'s
  * distributed prefix sums (giant groups) and the plain partitioned
  * window (small ones); the rest is one hash aggregate.
  */
object Gini {

  /** Per-nation Gini of customer total order spend (buyers only). */
  def giniBySpend(customer: DataFrame, orders: DataFrame): DataFrame = {
    val spend = orders.groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(14,2)")) * 100)
        .cast("long").as("cents"))
    val j = spend
      .join(customer.select(col("c_custkey"), col("c_nationkey").as("nation")),
        col("c_custkey") === col("o_custkey"))
      .select(col("nation"), col("cents"), col("c_custkey"))
    val ranked = Scale.groupRanks(j, Seq("nation"),
      Seq(col("cents"), col("c_custkey")), "rnk")
    // rs ~ n·Σcents/2 blows through Int64 at ~millions of members per
    // group (ADVICE r10: Spark wraps silently under non-ANSI while the
    // DuckDB twin errors) — the rank-weighted sum and the 1000× numerator
    // ride decimal(38,0) end to end; `div` collapses back to BIGINT.
    // The cast is on an OPERAND, not the product: casting the product
    // would compute it in Int64 first and wrap exactly in the giant-group
    // regime the decimal exists for (ADVICE r11), while the twin's
    // CAST(rnk AS HUGEINT) * cents widens before multiplying.
    ranked.groupBy(col("nation"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).cast("long").as("total_cents"),
        sum(col("rnk").cast("decimal(38,0)") * col("cents")).as("rs"))
      .withColumn("gini_milli", expr(
        """(1000 * (2 * rs - (n + 1) * CAST(total_cents AS DECIMAL(38,0))))
          | div (n * CAST(total_cents AS DECIMAL(38,0)))""".stripMargin))
      .select(col("nation"), col("n"), col("total_cents"), col("gini_milli"))
  }

  def qGiniBySpend(spark: SparkSession, dir: String): DataFrame =
    giniBySpend(Tables.customer(spark, dir), Tables.orders(spark, dir))
      .orderBy(col("nation"))

  def oGiniBySpend: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY o_custkey),
      |j AS (
      |  SELECT c.c_nationkey AS nation, s.cents, c.c_custkey
      |  FROM spend s JOIN customer c ON c.c_custkey = s.o_custkey),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY nation
      |    ORDER BY cents, c_custkey) AS BIGINT) AS rnk
      |  FROM j),
      |a AS (
      |  SELECT nation, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(cents) AS BIGINT) AS total_cents,
      |         sum(CAST(rnk AS HUGEINT) * cents) AS rs
      |  FROM r GROUP BY nation)
      |SELECT nation, n, total_cents,
      |       CAST((1000 * (2 * rs - (n + 1) * CAST(total_cents AS HUGEINT)))
      |         // (n * CAST(total_cents AS HUGEINT)) AS BIGINT) AS gini_milli
      |FROM a ORDER BY nation""".stripMargin
}
