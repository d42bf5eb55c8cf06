package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Equi-depth (quantile-bucket) histograms per event type — the
  * data-profiling complement to [[Monitor]]'s fixed-edge histograms:
  * fixed edges answer "how many in [0,10)?", equi-depth answers "where
  * do the deciles sit?" and adapts to any distribution without edge
  * tuning (it is also exactly the statistic a cost-based optimizer
  * keeps per column).
  *
  * Exactness: bucket assignment is pure integer arithmetic on exact
  * ranks — row r of n lands in bucket ⌊(r−1)·B/n⌋ — and per-bucket
  * min/max/count are exact; the only doubles are value edges already
  * stored as doubles.
  *
  * Scale shape (100 TB): `event_type` is a ~5-value key, so a plain
  * `Window.partitionBy(event_type)` rank is a handful of giant
  * single-task sorts at scale — the named r9 scale-killer. Both ranks
  * here ride [[Scale.groupRanks]]: the size-aware [[Scale.hotGroups]]
  * dial keeps the plain window while groups are small (one in-memory
  * sort task measurably beats two shuffles — SCALE.md r10 crossover)
  * and swaps onto [[Scale.globalRankGrouped]]'s distributed prefix
  * sums once any group passes [[Scale.HotGroupMinRowsPerGroup]] — max
  * task one (group, bucket) cell, never 1/|types| of events, with the
  * group size `n` riding the collected offsets for free. */
object Profile {

  val Buckets = 10

  def equiDepth(events: DataFrame, buckets: Int = Buckets): DataFrame = {
    val base = events.select(col("event_type"), col("event_id"), col("value"))
    Scale.groupRanks(base, Seq("event_type"),
        Seq(col("value"), col("event_id")),
        "rnk", totalOut = Some("n"))
      .withColumn("bucket",
        expr(s"((rnk - 1) * $buckets) div n").cast("long"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("value")).as("lo"),
        max(col("value")).as("hi"))
  }

  def qEquiDepth(spark: SparkSession, dir: String): DataFrame =
    equiDepth(Tables.events(spark, dir))
      .orderBy(col("event_type"), col("bucket"))

  /** Order→ship latency distribution per order priority: count, exact
    * mean surrogate ⌊1000·Σlag/n⌋, and EXACT p50/p90 by integer
    * selection ranks ((n+1) div 2 and (9n+9) div 10 = ⌈p·n⌉) — the
    * ops-SLA rollup over the fact↔dim join. The join shuffles on
    * orderkey (fact-fact shape); the per-priority rank is the same
    * 5-value hot-group shape as [[equiDepth]] and rides the same
    * [[Scale.groupRanks]] dial (o_orderpriority has FIVE values, so at
    * 100× a plain window is five single-task sorts of lineitem/5). */
  def shipLatency(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val base = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag_days"),
        col("l_orderkey"), col("l_linenumber"))
    // the inner FK join emits each lineitem row at most once, so no
    // priority group can exceed the FACT row count — an empty-projection
    // count over the fact scan (parquet footer row counts) settles the
    // dial far cheaper than Scale.hotGroups' 1% sampled scan of the
    // JOIN, which would execute the join a second time
    Scale.groupRanks(base, Seq("o_orderpriority"),
        Seq(col("lag_days"), col("l_orderkey"), col("l_linenumber")),
        "rnk", totalOut = Some("n"), factCount = lineitem.count())
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        floor(sum(col("lag_days")) * lit(1000L).cast("double") / count(lit(1)))
          .cast("long").as("mean_milli"),
        max(when(col("rnk") === expr("(n + 1) div 2"), col("lag_days")))
          .as("p50_days"),
        max(when(col("rnk") === expr("(9 * n + 9) div 10"), col("lag_days")))
          .as("p90_days"))
  }

  def qShipLatency(spark: SparkSession, dir: String): DataFrame =
    shipLatency(Tables.lineitem(spark, dir), Tables.orders(spark, dir))
      .orderBy(col("o_orderpriority"))

  def oShipLatency: String =
    """WITH b AS (
      |  SELECT o_orderpriority,
      |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |      CAST(l_shipdate AS DATE)) AS BIGINT) AS lag_days,
      |    l_orderkey, l_linenumber
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY lag_days, l_orderkey, l_linenumber) AS rnk,
      |    count(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM b)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(floor(sum(lag_days) * CAST(1000 AS DOUBLE) / count(*)) AS BIGINT)
      |    AS mean_milli,
      |  CAST(max(CASE WHEN rnk = (n + 1) // 2 THEN lag_days END) AS BIGINT)
      |    AS p50_days,
      |  CAST(max(CASE WHEN rnk = (9 * n + 9) // 10 THEN lag_days END) AS BIGINT)
      |    AS p90_days
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  def oEquiDepth: String =
    s"""WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS rnk,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type,
      |  CAST((rnk - 1) * $Buckets // n AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  min(value) AS lo, max(value) AS hi
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
