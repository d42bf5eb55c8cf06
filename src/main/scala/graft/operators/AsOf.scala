package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** As-of (point-in-time) join: for each left row, attach the most recent
  * right row with the same key whose time is ≤ the left time.
  *
  * Spark has no built-in as-of join; the idiomatic scalable composition
  * is the union-sort trick rather than a range cross-join:
  *   1. tag both inputs and union them (schema-aligned),
  *   2. one window per key ordered by (time, side-tag) carrying
  *      last_value(right attrs, ignoreNulls) forward,
  *   3. keep left rows — each now holds the latest right row ≤ its time.
  * Cost: ONE shuffle on the key + per-key sort — same shape as a
  * sort-merge join, no expansion. This beats (a) cross-join + filter +
  * top-1 (quadratic) and (b) a custom SparkPlan (this plan already gets
  * whole-stage codegen, AQE, and spill handling for free).
  *
  * At 100 TB: both sides bucket by the key; skewed keys split fine
  * because the window is a running last_value, which AQE can't break but
  * salting by time-range can (left for when a key exceeds a partition).
  */
object AsOf {

  /** leftTs/rightTs column names must differ from the key name; right
    * value columns are prefixed into the output. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      rightValueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns
    val taggedLeft = left
      .withColumn("_t", col(leftTs))
      .withColumn("_side", lit(1))
      .select(Seq(col(key), col("_t"), col("_side")) ++
        leftCols.filterNot(_ == key).map(c => col(c).as(s"_l_$c")) ++
        rightValueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"_r_$c")): _*)
    val taggedRight = right
      .withColumn("_t", col(rightTs))
      .withColumn("_side", lit(0))
      .select(Seq(col(key), col("_t"), col("_side")) ++
        leftCols.filterNot(_ == key).map(c =>
          lit(null).cast(left.schema(c).dataType).as(s"_l_$c")) ++
        rightValueCols.map(c => col(c).as(s"_r_$c")): _*)
    // right rows sort before left rows at identical timestamps so an
    // exactly-simultaneous right row is visible to the left row (ts >= ts)
    val w = Window.partitionBy(col(key)).orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightValueCols.foldLeft(taggedLeft.unionByName(taggedRight)) {
      (df, c) =>
        df.withColumn(s"_r_$c",
          last(col(s"_r_$c"), ignoreNulls = true).over(w))
    }
    carried.filter(col("_side") === 1)
      .select(Seq(col(key)) ++
        leftCols.filterNot(_ == key).map(c => col(s"_l_$c").as(c)) ++
        rightValueCols.map(c => col(s"_r_$c").as(c)): _*)
  }

  /** As-of with a STALENESS TOLERANCE: a backward match older than
    * `maxGapDays` is nulled out — the point-in-time correctness guard
    * real feature joins need (a two-year-old "most recent order" is not
    * a feature, it is a dead account leaking in). Same one-shuffle
    * union-ordering machinery: the matched right timestamp rides along
    * as one more carried column and a single when() applies the
    * horizon at the end — no extra join, no expansion. */
  def asofJoinTolerant(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightValueCols: Seq[String],
      maxGapDays: Int): DataFrame = {
    val withTs = asofJoin(left,
      right.withColumn("_rts", col(rightTs)), key, leftTs, rightTs,
      rightValueCols :+ "_rts")
    val keep = col("_rts").isNotNull &&
      col(leftTs).cast("date") <= date_add(col("_rts").cast("date"), maxGapDays)
    rightValueCols.foldLeft(withTs) { (df, c) =>
      df.withColumn(c, when(keep, col(c)))
    }.drop("_rts")
  }

  val ToleranceDays = 30

  /** Events joined to the customer's most recent prior order ONLY if it
    * is at most 30 days old — otherwise the order columns are null. */
  def qEventsAsofTolerant(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val ord = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max_by(col("o_orderkey"), col("o_orderkey")).as("o_orderkey"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
    asofJoinTolerant(ev, ord, key = "user_id", leftTs = "ts",
        rightTs = "o_orderdate",
        rightValueCols = Seq("o_orderkey", "o_totalprice"),
        maxGapDays = ToleranceDays)
      .orderBy(col("event_id"))
  }

  def oEventsAsofTolerant: String =
    s"""WITH ord AS (
      |  SELECT o_custkey AS user_id, o_orderdate,
      |         max_by(o_orderkey, o_orderkey) AS o_orderkey,
      |         max_by(o_totalprice, o_orderkey) AS o_totalprice
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
      |  CASE WHEN o.o_orderdate IS NOT NULL
      |        AND CAST(e.ts AS DATE) <= CAST(o.o_orderdate AS DATE) + $ToleranceDays
      |       THEN o.o_orderkey END AS o_orderkey,
      |  CASE WHEN o.o_orderdate IS NOT NULL
      |        AND CAST(e.ts AS DATE) <= CAST(o.o_orderdate AS DATE) + $ToleranceDays
      |       THEN o.o_totalprice END AS o_totalprice
      |FROM (SELECT event_id, ts, user_id, event_type, value FROM events) e
      |ASOF LEFT JOIN ord o
      |  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
      |ORDER BY e.event_id""".stripMargin

  /** FORWARD as-of: for each left row, the EARLIEST right row with the
    * same key at or after the left time — the "next scheduled thing"
    * direction (next order, next deploy, next maintenance window) that
    * the backward join cannot express. Identical union-sort shape with
    * time reversed: one window per key ordered by (time DESC, side),
    * right rows before coincident left rows so an exactly-simultaneous
    * right row is visible. Same one-shuffle cost; no expansion. */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      rightValueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns
    val taggedLeft = left
      .withColumn("_t", col(leftTs))
      .withColumn("_side", lit(1))
      .select(Seq(col(key), col("_t"), col("_side")) ++
        leftCols.filterNot(_ == key).map(c => col(c).as(s"_l_$c")) ++
        rightValueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"_r_$c")): _*)
    val taggedRight = right
      .withColumn("_t", col(rightTs))
      .withColumn("_side", lit(0))
      .select(Seq(col(key), col("_t"), col("_side")) ++
        leftCols.filterNot(_ == key).map(c =>
          lit(null).cast(left.schema(c).dataType).as(s"_l_$c")) ++
        rightValueCols.map(c => col(c).as(s"_r_$c")): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col("_t").desc, col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightValueCols.foldLeft(taggedLeft.unionByName(taggedRight)) {
      (df, c) =>
        df.withColumn(s"_r_$c",
          last(col(s"_r_$c"), ignoreNulls = true).over(w))
    }
    carried.filter(col("_side") === 1)
      .select(Seq(col(key)) ++
        leftCols.filterNot(_ == key).map(c => col(s"_l_$c").as(c)) ++
        rightValueCols.map(c => col(s"_r_$c").as(c)): _*)
  }

  /** Each event joined to the customer's NEXT order at or after the
    * event (deterministic: right side reduced to one row per
    * (key, date), earliest orderkey — the forward mirror of the
    * backward query's max_by convention). */
  def qEventsAsofNextOrder(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val ord = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(min_by(col("o_orderkey"), col("o_orderkey")).as("o_orderkey"),
        min_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
    asofJoinForward(ev, ord, key = "user_id", leftTs = "ts",
        rightTs = "o_orderdate",
        rightValueCols = Seq("o_orderkey", "o_totalprice"))
      .orderBy(col("event_id"))
  }

  /** Oracle: min-over-future via a window on the union ordering is the
    * portable spelling (DuckDB's native ASOF is backward-only). */
  def oEventsAsofNextOrder: String =
    """WITH ord AS (
      |  SELECT o_custkey AS user_id, o_orderdate,
      |         min_by(o_orderkey, o_orderkey) AS o_orderkey,
      |         min_by(o_totalprice, o_orderkey) AS o_totalprice
      |  FROM orders GROUP BY o_custkey, o_orderdate),
      |u AS (
      |  SELECT user_id, ts AS t, 1 AS side, event_id, ts, event_type, value,
      |         NULL::BIGINT AS o_orderkey, NULL::DOUBLE AS o_totalprice
      |  FROM events
      |  UNION ALL
      |  SELECT user_id, o_orderdate, 0, NULL, NULL, NULL, NULL,
      |         o_orderkey, o_totalprice
      |  FROM ord),
      |c AS (
      |  SELECT *,
      |    last_value(o_orderkey IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY t DESC, side
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nk,
      |    last_value(o_totalprice IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY t DESC, side
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS np
      |  FROM u)
      |SELECT event_id, ts, user_id, event_type, value,
      |       nk AS o_orderkey, np AS o_totalprice
      |FROM c WHERE side = 1 ORDER BY event_id""".stripMargin

  /** DuckDB has a native ASOF JOIN — the oracle for the composition.
    * Tie-break caveat: with several orders at the same (user, date), the
    * window picks the last by input order nondeterministically; the probe
    * pre-reduces the right side to one row per (user, date) — latest
    * orderkey — making both engines deterministic. */
  def oEventsAsofOrders: String =
    """WITH ord AS (
      |  SELECT o_custkey AS user_id, o_orderdate,
      |         max_by(o_orderkey, o_orderkey) AS o_orderkey,
      |         max_by(o_totalprice, o_orderkey) AS o_totalprice
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
      |       o.o_orderkey, o.o_totalprice
      |FROM (SELECT event_id, ts, user_id, event_type, value FROM events) e
      |ASOF LEFT JOIN ord o
      |  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
      |ORDER BY e.event_id""".stripMargin

  /** Deterministic variant matching the oracle: right side reduced to one
    * row per (key, ts) before the as-of. */
  def qEventsAsofOrdersDeterministic(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val ord = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
      .agg(max_by(col("o_orderkey"), col("o_orderkey")).as("o_orderkey"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
    asofJoin(ev, ord, key = "user_id", leftTs = "ts", rightTs = "o_orderdate",
        rightValueCols = Seq("o_orderkey", "o_totalprice"))
      .orderBy(col("event_id"))
  }
}
