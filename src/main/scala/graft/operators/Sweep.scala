package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Two ops-analytics classics over the event stream, both in exact
  * integer arithmetic:
  *
  * 1. PEAK CONCURRENCY by a boundary sweep — each event holds a
  *    resource for [[HoldSeconds]]; the answer is the running sum of
  *    +1/−1 boundary points in time order, NEVER an interval self-join
  *    (the O(n²) trap): one window over 2 rows/event. Half-open
  *    [start, end) semantics = ends sort before starts at the same
  *    instant (delta ascending in the tie).
  *
  * 2. SEASONAL-NAIVE FORECAST BACKTEST — the honest baseline every
  *    forecast must beat: predict each day's count with the same
  *    weekday last week (lag 7), score against the naive-1 baseline
  *    (lag 1) as MASE. Absolute errors are exact BIGINTs on daily
  *    counts; ⌊·1000⌋ ratios are exact floors (integer < 2⁵³ over the
  *    1/denominator gap).
  *
  * Scale shape (100 TB): the sweep's running sum is 2n boundary rows
  * on a ~5-value key — the r9 hot-group shape — so it rides the
  * [[Scale.groupRunningSums]] dial: plain per-type window while groups
  * are small, distributed prefix sums (value = ±1 delta) once a type's
  * boundary stream passes the measured crossover — max task one (type,
  * time-bucket) cell, never 2n/|types| rows.
  * The backtest reduces the corpus to #days × #types rows before any
  * window runs (grain-bounded, no dial needed). */
object Sweep {

  val HoldSeconds = 60

  def peakConcurrency(events: DataFrame): DataFrame = {
    val starts = events.select(col("event_type"), col("ts").as("t"),
      lit(1L).as("delta"), col("event_id"))
    val ends = events.select(col("event_type"),
      expr(s"ts + INTERVAL $HoldSeconds SECONDS").as("t"),
      lit(-1L).as("delta"), col("event_id"))
    // the union re-reads events TWICE per pass, and the dial path makes
    // up to three passes (hotGroups sample, bucket boundaries, main
    // scan) — cache the boundary frame for the duration; the consumer
    // below checkpoints its output eagerly, so the unpersist in
    // finally is safe (review r15 finding)
    val bounds = starts.union(ends)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // distributed side: timestamps cast to epoch-seconds doubles for
      // the deterministic range buckets; order and ties are unchanged
      val running = Scale.groupRunningSums(bounds, Seq("event_type"),
        Seq(col("t"), col("delta"), col("event_id")), col("delta"), "run")
      Dedup.withCached(running) { r =>
        val peaks = r.groupBy(col("event_type"))
          .agg(max(col("run")).as("peak_concurrency"),
            (count(lit(1)) / 2).cast("long").as("n_intervals"))
        r.join(peaks, Seq("event_type"))
          .filter(col("run") === col("peak_concurrency"))
          .groupBy(col("event_type"), col("peak_concurrency"), col("n_intervals"))
          .agg(min(col("t")).as("peak_at"))
          .select(col("event_type"), col("n_intervals"),
            col("peak_concurrency"), col("peak_at"))
      }
    } finally bounds.unpersist(false)
  }

  def qPeakConcurrency(spark: SparkSession, dir: String): DataFrame =
    peakConcurrency(Tables.events(spark, dir)).orderBy(col("event_type"))

  def oPeakConcurrency: String =
    s"""WITH b AS (
      |  SELECT event_type, ts AS t, 1 AS delta, event_id FROM events
      |  UNION ALL
      |  SELECT event_type, ts + INTERVAL $HoldSeconds SECOND, -1, event_id
      |  FROM events),
      |r AS (
      |  SELECT event_type, t,
      |    CAST(sum(delta) OVER (PARTITION BY event_type
      |      ORDER BY t, delta, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
      |  FROM b),
      |p AS (
      |  SELECT event_type, max(run) AS peak_concurrency,
      |    CAST(count(*) / 2 AS BIGINT) AS n_intervals
      |  FROM r GROUP BY 1)
      |SELECT p.event_type, p.n_intervals, p.peak_concurrency,
      |  min(r.t) AS peak_at
      |FROM r JOIN p ON r.event_type = p.event_type
      |  AND r.run = p.peak_concurrency
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  // ----------------------------------------------------- MASE backtest

  def forecastBacktest(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("lag7", lag(col("x"), 7).over(w))
      .withColumn("lag1", lag(col("x"), 1).over(w))
      .filter(col("lag7").isNotNull && col("lag1").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days_scored"),
        sum(abs(col("x") - col("lag7"))).as("ae7"),
        sum(abs(col("x") - col("lag1"))).as("ae1"))
      .withColumn("mae7_milli",
        floor(col("ae7") * lit(1000L).cast("double") / col("n_days_scored"))
          .cast("long"))
      .withColumn("mae1_milli",
        floor(col("ae1") * lit(1000L).cast("double") / col("n_days_scored"))
          .cast("long"))
      .withColumn("mase_milli",
        floor(col("ae7") * lit(1000L).cast("double") / col("ae1")).cast("long"))
      .select(col("event_type"), col("n_days_scored"),
        col("mae7_milli"), col("mae1_milli"), col("mase_milli"))
  }

  def qForecastBacktest(spark: SparkSession, dir: String): DataFrame =
    forecastBacktest(Tables.events(spark, dir)).orderBy(col("event_type"))

  def oForecastBacktest: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT *, lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS lag7,
      |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS lag1
      |  FROM d),
      |s AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days_scored,
      |    CAST(sum(abs(x - lag7)) AS BIGINT) AS ae7,
      |    CAST(sum(abs(x - lag1)) AS BIGINT) AS ae1
      |  FROM l WHERE lag7 IS NOT NULL AND lag1 IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_days_scored,
      |  CAST(floor(ae7 * CAST(1000 AS DOUBLE) / n_days_scored) AS BIGINT) AS mae7_milli,
      |  CAST(floor(ae1 * CAST(1000 AS DOUBLE) / n_days_scored) AS BIGINT) AS mae1_milli,
      |  CAST(floor(ae7 * CAST(1000 AS DOUBLE) / ae1) AS BIGINT) AS mase_milli
      |FROM s ORDER BY event_type""".stripMargin
}
