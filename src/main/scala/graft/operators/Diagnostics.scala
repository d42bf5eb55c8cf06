package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Two forensic/diagnostic reports in exact arithmetic:
  *
  * 1. BENFORD FIRST-DIGIT TEST on order totals — the classic fraud /
  *    synthetic-data screen: organic multi-scale amounts follow
  *    P(d) = log₁₀(1+1/d); fabricated or truncated ones don't. The
  *    first digit is extracted through exact DECIMAL cents and string
  *    truncation (no log, no float): observed shares in milli vs the
  *    published Benford constants, absolute deviations per digit.
  *
  * 2. JOIN-SKEW REPORT for a fact join key — the planning question
  *    "will this join need salting?" answered from data: top heavy
  *    keys, max/mean ratio in milli, and the integer salt factor
  *    ⌈max/mean⌉ that [[Scale.saltedAgg]] would take. Mean is exact
  *    cross-multiplied (n_rows·1000 / n_keys); all BIGINTs.
  */
object Diagnostics {

  /** P(d)·1000 for d = 1..9, rounded — fixed public constants. */
  private val BenfordMilli =
    Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)

  /** k-anonymity audit over a quasi-identifier tuple: every equivalence
    * class (distinct QI combination) with its population and whether it
    * falls below k — the groups a release would have to suppress or
    * generalize, plus the exposed-row total the report leads with. The
    * governance complement of PII scrubbing (column-level) and key
    * erasure (row-level): this one measures LINKABILITY of what
    * remains. One partial+final hash aggregate over a pruned scan;
    * grain = distinct QI tuples (bounded ≪ rows), so the report is
    * control-plane sized at any corpus scale. */
  def kAnonymity(df: DataFrame, quasiIds: Seq[String],
      k: Long): DataFrame =
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("risky", col("n") < k)

  def qKAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymity(
      Tables.customer(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)),
          col("c_nationkey") === col("n_nationkey")),
      Seq("n_name", "c_mktsegment"), k = 40L)
      .select(col("n_name"), col("c_mktsegment"), col("n"), col("risky"))
      .orderBy(col("n_name"), col("c_mktsegment"))

  def oKAnonymity: String =
    """SELECT n_name, c_mktsegment, count(*) AS n, count(*) < 40 AS risky
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name, c_mktsegment
      |ORDER BY n_name, c_mktsegment""".stripMargin

  /** l-diversity companion to [[kAnonymity]]: a QI class can clear k on
    * population yet still leak its members' sensitive attribute when
    * everyone in the class shares one value — the homogeneity attack.
    * Per QI class: population, DISTINCT sensitive values, and the
    * below-l risk flag. Same scale shape as the k-audit (one aggregate
    * at QI grain; the distinct rides Spark's partial-agg Expand). */
  def lDiversity(df: DataFrame, quasiIds: Seq[String],
      sensitiveCol: String, l: Long): DataFrame =
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("distinct_sensitive"))
      .withColumn("risky", col("distinct_sensitive") < l)

  def qLDiversity(spark: SparkSession, dir: String): DataFrame =
    lDiversity(
      Tables.customer(spark, dir)
        .join(broadcast(Tables.nation(spark, dir)),
          col("c_nationkey") === col("n_nationkey")),
      Seq("n_name"), "c_mktsegment", l = 5L)
      .select(col("n_name"), col("n"), col("distinct_sensitive"),
        col("risky"))
      .orderBy(col("n_name"))

  def oLDiversity: String =
    """SELECT n_name, count(*) AS n,
      |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS distinct_sensitive,
      |  count(DISTINCT c_mktsegment) < 5 AS risky
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Functional-dependency audit A → B: for each candidate dependency,
    * how many determinant values map to MORE than one dependent value
    * (violations = the FD does not hold there) and how many rows sit
    * under those keys. The schema-inference / data-contract primitive:
    * one aggregate per candidate at determinant grain, unioned 1-row
    * summaries — determinant cardinality bounds the shuffle, rows never
    * leave their partial aggregates. */
  def fdCheck(df: DataFrame, deps: Seq[(String, String)]): DataFrame =
    deps.map { case (a, b) =>
      df.groupBy(col(a)).agg(countDistinct(col(b)).as("nb"),
          count(lit(1)).as("rows"))
        .agg(count(lit(1)).as("determinant_values"),
          sum(when(col("nb") > 1, 1L).otherwise(0L)).as("violating_keys"),
          sum(when(col("nb") > 1, col("rows")).otherwise(0L))
            .as("violating_rows"))
        .select(lit(s"$a->$b").as("dependency"),
          col("determinant_values"), col("violating_keys"),
          col("violating_rows"))
    }.reduce(_.unionByName(_))

  def qFdCheck(spark: SparkSession, dir: String): DataFrame =
    fdCheck(Tables.orders(spark, dir),
      Seq("o_orderkey" -> "o_custkey", "o_custkey" -> "o_orderpriority",
        "o_orderpriority" -> "o_orderstatus"))
      .orderBy(col("dependency"))

  def oFdCheck: String =
    """WITH a AS (
      |  SELECT 'o_orderkey->o_custkey' AS dependency,
      |    CAST(o_orderkey AS VARCHAR) AS k,
      |    count(DISTINCT o_custkey) AS nb, count(*) AS rows_
      |  FROM orders GROUP BY 2
      |  UNION ALL
      |  SELECT 'o_custkey->o_orderpriority', CAST(o_custkey AS VARCHAR),
      |    count(DISTINCT o_orderpriority), count(*)
      |  FROM orders GROUP BY 2
      |  UNION ALL
      |  SELECT 'o_orderpriority->o_orderstatus', o_orderpriority,
      |    count(DISTINCT o_orderstatus), count(*)
      |  FROM orders GROUP BY 2)
      |SELECT dependency, count(*) AS determinant_values,
      |  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS violating_keys,
      |  CAST(sum(CASE WHEN nb > 1 THEN rows_ ELSE 0 END) AS BIGINT)
      |    AS violating_rows
      |FROM a GROUP BY dependency ORDER BY dependency""".stripMargin

  /** Daily duplicate-rate time series — the drift monitor a pipeline
    * watches between full dedup passes: per event-day, total rows,
    * distinct full event tuples, surplus duplicate rows, and the rate
    * as an exact integer surrogate (‰). Two-level aggregate: the
    * tuple-grain partial agg does the heavy reduction map-side, the
    * day-grain rollup is #days-sized. */
  def dupRateDaily(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"), col("user_id"),
        col("event_type"), col("ts"), col("value"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("day"))
      .agg(sum(col("c")).as("n_rows"),
        count(lit(1)).as("distinct_tuples"),
        sum(col("c") - 1).as("dup_rows"))
      .withColumn("dup_rate_milli", expr("dup_rows * 1000 div n_rows"))

  def qDupRateDaily(spark: SparkSession, dir: String): DataFrame =
    dupRateDaily(Tables.events(spark, dir)).orderBy(col("day"))

  def oDupRateDaily: String =
    """WITH t AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS c
      |  FROM events GROUP BY day, user_id, event_type, ts, value)
      |SELECT day, CAST(sum(c) AS BIGINT) AS n_rows,
      |  count(*) AS distinct_tuples,
      |  CAST(sum(c - 1) AS BIGINT) AS dup_rows,
      |  CAST(sum(c - 1) * 1000 // sum(c) AS BIGINT) AS dup_rate_milli
      |FROM t GROUP BY day ORDER BY day""".stripMargin

  /** Burstiness per event type — the Fano factor (variance-to-mean
    * ratio) of DAILY counts: ≈1000‰ for a Poisson-steady stream, above
    * it for bursty arrivals, below for metronomic ones. Exact integer
    * surrogate via population moments: with n days, S = Σx, Q = Σx²,
    * Fano = (nQ − S²)/(nS) — non-negative by Cauchy–Schwarz, no
    * floats anywhere. Products ride decimal(38,0) cast BEFORE the
    * multiply (daily counts at corpus scale exceed Int64 squares).
    * Day-grain partial agg then a #types-row rollup. */
  def burstiness(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("total"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("q"))
      .withColumn("fano_milli", expr(
        """(CAST(n_days AS DECIMAL(38,0)) * q
          |  - CAST(total AS DECIMAL(38,0)) * total) * 1000
          |  div (CAST(n_days AS DECIMAL(38,0)) * total)""".stripMargin))
      .select(col("event_type"), col("n_days"), col("total"),
        col("fano_milli"))

  def qBurstiness(spark: SparkSession, dir: String): DataFrame =
    burstiness(Tables.events(spark, dir)).orderBy(col("event_type"))

  def oBurstiness: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, count(*) AS n_days,
      |    CAST(sum(x) AS BIGINT) AS total,
      |    sum(CAST(x AS HUGEINT) * x) AS q
      |  FROM d GROUP BY 1)
      |SELECT event_type, n_days, total,
      |  CAST((CAST(n_days AS HUGEINT) * q
      |    - CAST(total AS HUGEINT) * total) * 1000
      |    // (CAST(n_days AS HUGEINT) * total) AS BIGINT) AS fano_milli
      |FROM m ORDER BY event_type""".stripMargin

  /** Heavy-user concentration: what share of all events comes from the
    * top-percentile most active users — the "whale" diagnostic read
    * next to [[burstiness]] before trusting per-user aggregates. Exact
    * integers: k = ⌈users·pct/100⌉ top users by pinned rank (count
    * desc, user_id tiebreak), share in ‰ by integer division. Per-user
    * counts are one partial agg BEFORE the rank, so the window sorts
    * user grain, never events. An ungrouped rank window still plans
    * `Exchange SinglePartition` (one task sorts every user), so the
    * gated query rides the size-aware dial: below
    * [[Scale.HotGroupMinRowsPerGroup]] the plain window wins; past it
    * the rank comes from [[Scale.globalRank]]'s distributed
    * range-partition rank — max task one range partition at any user
    * cardinality. The event count is the cheap first bound (users ≤
    * events); only a plausibly-hot table pays the exact user count. */
  def userConcentration(events: DataFrame, pct: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))

    def on(pu: DataFrame, hot: Boolean): DataFrame = {
      val ranked =
        if (hot) Scale.globalRank(pu,
          Seq(col("n").desc, col("user_id")), "rnk", 32)
        else {
          val w = Window.orderBy(col("n").desc, col("user_id"))
          pu.withColumn("rnk", row_number().over(w).cast("long"))
        }
      // totals don't need ranks — aggregating pu (the dial-cached
      // rollup in hot mode) instead of `ranked` keeps the (lazy, since
      // r17) rank pipeline single-consumption
      val totals = pu.agg(count(lit(1)).as("users"),
        sum(col("n")).as("events"))
      ranked.crossJoin(broadcast(totals))
        .withColumn("k", expr(s"(users * $pct + 99) div 100"))
        .groupBy(col("users"), col("events"), col("k"))
        .agg(sum(when(col("rnk") <= col("k"), col("n")).otherwise(0L))
          .as("top_events"))
        .withColumn("share_milli", expr("top_events * 1000 div events"))
        .select(col("users"), col("events"), col("k").as("top_k"),
          col("top_events"), col("share_milli"))
    }

    Scale.ungroupedDial(events.count(), perUser)(
      on(_, hot = false))((pu, _) => on(pu, hot = true))
  }

  def qUserConcentration(spark: SparkSession, dir: String): DataFrame =
    userConcentration(Tables.events(spark, dir))

  def oUserConcentration: String =
    """WITH pu AS (
      |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
      |r AS (
      |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rnk
      |  FROM pu),
      |t AS (
      |  SELECT count(*) AS users, CAST(sum(n) AS BIGINT) AS events,
      |    (count(*) * 1 + 99) // 100 AS k
      |  FROM pu)
      |SELECT users, events, k AS top_k,
      |  CAST((SELECT sum(n) FROM r WHERE rnk <= t.k) AS BIGINT)
      |    AS top_events,
      |  CAST((SELECT sum(n) FROM r WHERE rnk <= t.k) * 1000 // events
      |    AS BIGINT) AS share_milli
      |FROM t""".stripMargin

  /** Hour-of-day seasonality profile per event type — the baseline an
    * hourly anomaly alarm compares against: each type's share of
    * traffic per hour slot in exact ‰. One partial+final aggregate to
    * the ≤ types×24 grid; per-type totals come back as a window over
    * that bounded grid, never the events. */
  def hourlyProfile(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    events
      .groupBy(col("event_type"), hour(col("ts")).as("hour_of_day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("type_total",
        sum(col("n")).over(Window.partitionBy(col("event_type"))))
      .withColumn("share_milli", expr("n * 1000 div type_total"))
      .select(col("event_type"), col("hour_of_day"), col("n"),
        col("share_milli"))
  }

  def qHourlyProfile(spark: SparkSession, dir: String): DataFrame =
    hourlyProfile(Tables.events(spark, dir))
      .orderBy(col("event_type"), col("hour_of_day"))

  def oHourlyProfile: String =
    """WITH g AS (
      |  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour_of_day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, hour_of_day, n,
      |  CAST(n * 1000 // sum(n) OVER (PARTITION BY event_type) AS BIGINT)
      |    AS share_milli
      |FROM g ORDER BY event_type, hour_of_day""".stripMargin

  /** Inter-event gap histogram per type: each event's distance to the
    * same user's previous event, log₂-bucketed (bucket = ⌊log₂ gap_µs⌋
    * via the binary-string-length trick — exact integers, no floats) —
    * the arrival-process fingerprint behind session-gap and watermark
    * choices. One per-user window (user grain bounds each sort task,
    * the sessionize shape) into a ≤ types×64-bucket aggregate. */
  def gapHistogram(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .withColumn("gap_log2", graft.functions.TextFns.log2Floor(col("gap_us")).cast("int"))
      .groupBy(col("event_type"), col("gap_log2"))
      .agg(count(lit(1)).as("n"))
  }

  def qGapHistogram(spark: SparkSession, dir: String): DataFrame =
    gapHistogram(Tables.events(spark, dir))
      .orderBy(col("event_type"), col("gap_log2"))

  def oGapHistogram: String =
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |SELECT event_type,
      |  CAST(length(format('{:b}', gap_us)) - 1 AS INTEGER) AS gap_log2,
      |  count(*) AS n
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY 1, 2 ORDER BY event_type, gap_log2""".stripMargin

  def benfordFirstDigit(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val digits = orders
      .select(substring(
        col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
        .as("digit"))
      .filter(col("digit").between("1", "9"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("nn"))
    val expected = BenfordMilli.zipWithIndex
      .map { case (m, i) => ((i + 1).toString, m) }
      .toDF("digit", "benford_milli")
    digits.crossJoin(broadcast(total))
      .join(broadcast(expected), Seq("digit"))
      .withColumn("share_milli", expr("(n * 1000) div nn"))
      .withColumn("dev_milli",
        abs(col("share_milli") - col("benford_milli")))
      .select(col("digit"), col("n"), col("share_milli"),
        col("benford_milli"), col("dev_milli"))
  }

  def qBenford(spark: SparkSession, dir: String): DataFrame =
    benfordFirstDigit(Tables.orders(spark, dir)).orderBy(col("digit"))

  def oBenford: String = {
    val values = BenfordMilli.zipWithIndex
      .map { case (m, i) => s"('${i + 1}', $m)" }.mkString(", ")
    s"""WITH d AS (
      |  SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
      |    AS digit
      |  FROM orders),
      |c AS (
      |  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d
      |  WHERE digit BETWEEN '1' AND '9' GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
      |e(digit, benford_milli) AS (VALUES $values)
      |SELECT c.digit, c.n, CAST((c.n * 1000) // t.nn AS BIGINT) AS share_milli,
      |  CAST(e.benford_milli AS BIGINT) AS benford_milli,
      |  CAST(abs((c.n * 1000) // t.nn - e.benford_milli) AS BIGINT) AS dev_milli
      |FROM c, t JOIN e ON e.digit = c.digit
      |ORDER BY c.digit""".stripMargin
  }

  // ------------------------------------------------------ join skew

  def joinSkewReport(fact: DataFrame, key: String, topK: Int = 10): DataFrame = {
    val counts = fact.groupBy(col(key)).agg(count(lit(1)).as("n_rows"))
    val stats = counts.agg(sum(col("n_rows")).as("total_rows"),
      count(lit(1)).as("n_keys"), max(col("n_rows")).as("max_rows"))
    counts
      .orderBy(col("n_rows").desc, col(key)).limit(topK)
      .crossJoin(broadcast(stats))
      // mean·1000 exact-cross-multiplied; salt = ceil(max/mean) =
      // ceil(max·n_keys / total) in integers
      .withColumn("mean_milli", expr("(total_rows * 1000) div n_keys"))
      .withColumn("skew_milli",
        expr("(n_rows * 1000 * n_keys) div total_rows"))
      .withColumn("salt_factor",
        expr("(max_rows * n_keys + total_rows - 1) div total_rows"))
      .select(col(key), col("n_rows"), col("mean_milli"),
        col("skew_milli"), col("salt_factor"))
  }

  def qJoinSkew(spark: SparkSession, dir: String): DataFrame =
    joinSkewReport(Tables.lineitem(spark, dir), "l_suppkey")
      .orderBy(col("n_rows").desc, col("l_suppkey"))

  // ------------------------------------------------------ group skew

  /** Per-candidate-grouping-key skew report — the planner-facing face
    * of the [[Scale.hotGroups]] dial: for each key a window/aggregate
    * might partition on, the group count, max/mean group sizes (exact
    * integer surrogates) and WHICH execution path the dial would pick
    * (`grouped_prefix_sum` for few giant groups, `partitioned_window`
    * otherwise). One partial-agg pass per key, 1-row outputs unioned —
    * the report an operator author reads before choosing a window key,
    * as data. */
  def groupSkewReport(df: DataFrame, keys: Seq[String]): DataFrame = {
    // the WIDTH-AWARE threshold the dial actually consults (r17) — a
    // report quoting the old 8M constant would disagree with
    // Scale.hotGroups on wide/slim frames, which is the one thing a
    // planner-facing report must never do
    val threshold = Scale.hotRowThreshold(df)
    keys.map { k =>
      df.groupBy(col(k)).agg(count(lit(1)).as("n_rows"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n_rows")).cast("long").as("total_rows"),
          max(col("n_rows")).as("max_group"))
        .select(lit(k).as("group_key"), col("n_groups"),
          col("total_rows"), col("max_group"))
        .withColumn("mean_milli", expr("(total_rows * 1000) div n_groups"))
        .withColumn("skew_milli",
          expr("(max_group * 1000 * n_groups) div total_rows"))
        .withColumn("dial_path",
          when(col("n_groups") <= Scale.HotGroupCap &&
              col("max_group") >= threshold,
            "grouped_prefix_sum").otherwise("partitioned_window"))
    }.reduce(_.unionByName(_))
  }

  /** The events table's width-scaled dial threshold, pinned as a shared
    * constant so [[oGroupSkew]] (a static twin with no schema access)
    * and the Spark report cannot drift: the events schema estimates
    * 72 B/row (event_id + user_id + ts + value at 8 B each,
    * event_type + props strings at 20 B each) → HotGroupSortBytes / 72.
    * DiagnosticsSpec pins this equal to
    * `Scale.hotRowThreshold(events)` so an events schema change fails
    * the build instead of silently skewing the twin. */
  val EventsHotThreshold: Long = Scale.HotGroupSortBytes / 72L

  def qGroupSkew(spark: SparkSession, dir: String): DataFrame =
    groupSkewReport(Tables.events(spark, dir),
      Seq("event_type", "user_id")).orderBy(col("group_key"))

  def oGroupSkew: String = {
    def leg(k: String) =
      s"""SELECT '$k' AS group_key, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(n_rows) AS BIGINT) AS total_rows,
        |  CAST(max(n_rows) AS BIGINT) AS max_group,
        |  (CAST(sum(n_rows) AS BIGINT) * 1000) // count(*) AS mean_milli,
        |  (CAST(max(n_rows) AS BIGINT) * 1000 * count(*))
        |    // CAST(sum(n_rows) AS BIGINT) AS skew_milli,
        |  CASE WHEN count(*) <= ${Scale.HotGroupCap}
        |        AND CAST(max(n_rows) AS BIGINT) >= $EventsHotThreshold
        |       THEN 'grouped_prefix_sum' ELSE 'partitioned_window' END
        |    AS dial_path
        |FROM (SELECT $k, CAST(count(*) AS BIGINT) AS n_rows
        |      FROM events GROUP BY $k)""".stripMargin
    leg("event_type") + "\nUNION ALL\n" + leg("user_id") +
      "\nORDER BY group_key"
  }

  def oJoinSkew: String =
    """WITH c AS (
      |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows
      |  FROM lineitem GROUP BY 1),
      |s AS (
      |  SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(max(n_rows) AS BIGINT) AS max_rows
      |  FROM c),
      |t AS (SELECT * FROM c ORDER BY n_rows DESC, l_suppkey LIMIT 10)
      |SELECT t.l_suppkey, t.n_rows,
      |  CAST((s.total_rows * 1000) // s.n_keys AS BIGINT) AS mean_milli,
      |  CAST((t.n_rows * 1000 * s.n_keys) // s.total_rows AS BIGINT) AS skew_milli,
      |  CAST((s.max_rows * s.n_keys + s.total_rows - 1) // s.total_rows AS BIGINT)
      |    AS salt_factor
      |FROM t, s ORDER BY t.n_rows DESC, t.l_suppkey""".stripMargin
}
