package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** RFM (recency / frequency / monetary) customer segmentation — the
  * serving-layer scoring table every BI stack derives from an orders
  * fact (the reference's Gold tier serves exactly this kind of
  * per-entity rollup through its BI views, sql/schema.sql:211-252).
  *
  * Each customer with ≥1 order gets quintile scores on last-order date,
  * order count, and exact-decimal lifetime spend, plus a rule-based
  * segment label. Quintiles are `ntile(5)` over a TOTAL order
  * (metric, then custkey) — the tiebreak makes the assignment
  * deterministic, so the DuckDB twin reproduces it exactly; ANSI ntile
  * distributes remainders to the leading buckets identically in both
  * engines.
  *
  * Scale shape (100 TB): one shuffle (custkey agg). The three ntile
  * windows are each a single global order over #customers rows — the
  * textbook UNGROUPED global-sort bottleneck at billions of entities
  * (Spark plans `Exchange SinglePartition` + one sort task per
  * window). The gated query therefore rides a size-aware dial, the
  * ungrouped twin of [[Scale.hotGroups]]: while the fact (and hence
  * the ≤#facts rollup) is below [[Scale.HotGroupMinRowsPerGroup]] the
  * plain windows win (one in-memory sort task, no extra shuffles —
  * the measured SCALE.md r10 crossover); past it each quintile comes
  * from [[Scale.globalRank]]'s distributed range-partition rank plus
  * the closed-form ntile bucket, max task one range partition at any
  * entity count. The fact-count guard is the cheap bound (the rollup
  * can never exceed the fact row count), so the common not-hot case
  * never materializes the rollup twice; only a plausibly-hot fact pays
  * the exact rollup count — which the scalable form needs anyway. */
object Rfm {

  private def rollup(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_custkey"))
      .agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(14,2)")).as("m_dec"))

  /** Segment rules + final projection shared by both plan shapes. */
  private def segmented(scored: DataFrame): DataFrame =
    scored
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
          "champion")
          .when(col("f_score") >= 4, "loyal")
          .when(col("m_score") >= 4, "big_spender")
          .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
          .when(col("r_score") <= 2, "hibernating")
          .otherwise("regular"))
      .select(col("o_custkey"), col("last_order"), col("n_orders"),
        col("m_dec").cast("double").as("monetary"),
        col("r_score"), col("f_score"), col("m_score"), col("segment"))

  /** Plain three-window form — right while the rollup fits one healthy
    * sort task. */
  private def plainOn(base: DataFrame): DataFrame = {
    val rW = Window.orderBy(col("last_order"), col("o_custkey"))
    val fW = Window.orderBy(col("n_orders"), col("o_custkey"))
    val mW = Window.orderBy(col("m_dec"), col("o_custkey"))
    segmented(base
      .withColumn("r_score", ntile(5).over(rW))
      .withColumn("f_score", ntile(5).over(fW))
      .withColumn("m_score", ntile(5).over(mW)))
  }

  def rfm(orders: DataFrame): DataFrame =
    Scale.ungroupedDial(orders.count(), rollup(orders))(
      plainOn)((b, n) => scalableOn(b, n(), 32))

  def qRfm(spark: SparkSession, dir: String): DataFrame =
    rfm(Tables.orders(spark, dir)).orderBy(col("o_custkey"))

  // ------------------------------------------------------ scale path

  /** Global rank under (metric, custkey) via [[Scale.globalRank]] —
    * no single-task sort; max task = one range partition at any entity
    * count. */
  private def globalRank(df: DataFrame, metric: Column, out: String,
      nPartitions: Int): DataFrame =
    Scale.globalRank(df, Seq(metric, col("o_custkey")), out, nPartitions)

  /** ANSI ntile from a 1-based global rank: the first n mod k buckets
    * take ceil(n/k) rows. Doubles are exact below 2⁵³ so the floor
    * divisions are exact at any realistic entity count. */
  private def ntileFromRank(rank: Column, n: Long, k: Int): Column = {
    val q = n / k
    val r = n % k
    val big = q + 1
    when(rank <= lit(r * big), floor((rank - 1) / lit(big.toDouble)).cast("int") + 1)
      .otherwise((lit(r) + floor((rank - lit(r * big) - 1) / lit(q.toDouble)).cast("int") + 1)
        .cast("int"))
  }

  /** The no-single-task-sort body over an already-cached rollup of `n`
    * rows: each quintile comes from a distributed global rank + the
    * closed-form ntile bucket. Row-identical to [[plainOn]]
    * (spec-pinned) — the form that holds at billions of entities,
    * where three ntile windows would serialize the whole dimension
    * through one task each.
    *
    * Each metric ranks a SLIM (metric, custkey) projection of the
    * cached rollup and the three rank tables join back on custkey:
    * threading the full frame through the three chained globalRanks
    * materialized the GROWING frame six times (each rank's internal
    * persist + checkpoint), which turned storage-bound at the 38M
    * tier (SCALE.md r16) — the slim form materializes
    * ~16 B/row per rank instead, and the join-back is three
    * co-keyed hash joins at entity grain. */
  private def scalableOn(b: DataFrame, n: Long, nPartitions: Int): DataFrame = {
    val rankTables = Seq(
      (col("last_order"), "r_rank"),
      (col("n_orders"), "f_rank"),
      (col("m_dec"), "m_rank"))
      .map { case (m, out) =>
        globalRank(b.select(col("o_custkey"), m), m, out, nPartitions)
          .select(col("o_custkey"), col(out))
      }
    val ranked = rankTables.foldLeft(b)((acc, r) => acc.join(r, Seq("o_custkey")))
    segmented(ranked
      .withColumn("r_score", ntileFromRank(col("r_rank"), n, 5))
      .withColumn("f_score", ntileFromRank(col("f_rank"), n, 5))
      .withColumn("m_score", ntileFromRank(col("m_rank"), n, 5)))
  }

  /** [[rfm]] with the distributed form forced at an explicit partition
    * count — the partition-invariance spec's entry point. */
  def rfmScalable(orders: DataFrame, nPartitions: Int = 8): DataFrame =
    Dedup.withCached(rollup(orders))(b => scalableOn(b, b.count(), nPartitions))

  def oRfm: String =
    """WITH base AS (
      |  SELECT o_custkey, max(o_orderdate) AS last_order,
      |         count(*) AS n_orders,
      |         sum(CAST(o_totalprice AS DECIMAL(14,2))) AS m_dec
      |  FROM orders GROUP BY o_custkey),
      |scored AS (
      |  SELECT *,
      |    CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) AS INTEGER) AS r_score,
      |    CAST(ntile(5) OVER (ORDER BY n_orders, o_custkey) AS INTEGER) AS f_score,
      |    CAST(ntile(5) OVER (ORDER BY m_dec, o_custkey) AS INTEGER) AS m_score
      |  FROM base)
      |SELECT o_custkey, last_order, n_orders,
      |       CAST(m_dec AS DOUBLE) AS monetary,
      |       r_score, f_score, m_score,
      |       CASE
      |         WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
      |         WHEN f_score >= 4 THEN 'loyal'
      |         WHEN m_score >= 4 THEN 'big_spender'
      |         WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
      |         WHEN r_score <= 2 THEN 'hibernating'
      |         ELSE 'regular' END AS segment
      |FROM scored ORDER BY o_custkey""".stripMargin
}
