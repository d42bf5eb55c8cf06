package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Quantile normalization across sources — map every source's value
  * distribution onto the GLOBAL distribution so per-source scale and
  * shift artifacts vanish while each source's internal ordering is
  * preserved: a doc at its source's p-th quantile receives the global
  * p-th-quantile value. The cross-source feature-alignment step (the
  * microarray-normalization classic, applied to corpus features) that
  * makes per-source length/quality features comparable before mixing.
  *
  * Exactness: both ranks are integers with pinned tie-breaks
  * (value, doc_id), the quantile map is the exact integer
  * `⌈r·N/n_s⌉ = (r·N + n_s − 1) div n_s`, and the normalized value is
  * a rank-selection JOIN against the globally ranked table — no
  * interpolation, no floats.
  *
  * Scale shape (100 TB): a corpus has a HANDFUL of sources, so
  * within-source ranks ride [[Scale.globalRankGrouped]] (range
  * partition + per-group offsets — max task one range partition, never
  * 1/|sources| of the corpus) with source sizes from the collected offsets;
  * the plain source-partitioned window survives behind the
  * [[Scale.hotGroups]] dial for high-cardinality grouping. The global
  * rank is [[Scale.globalRank]] (same offset pattern, ungrouped); the
  * map itself is an equi-join on rank. */
object QuantNorm {

  def quantileNormalize(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("n_chars"))
    // ONE pass over the corpus: base is persisted for the whole rank
    // build, so the rank's control-plane passes AND its ranking pass
    // all read the same cache instead of re-scanning the parquet (the
    // r17 lazy rank otherwise pays one extra scan here — the one real
    // bench mover of that round); the eager materialization of g then
    // releases it. g is the shared frame every later leg reads (dial
    // sample, within-source rank, rank-selection lookup); nn rides the
    // rank's control plane instead of a separate count job.
    base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (g, nn) =
      try {
        val (g0, n0) = Scale.globalRankWithTotal(base,
          Seq(col("n_chars"), col("doc_id")), "g_rank", 32)
        (Dedup.materialized(g0), n0)
      } finally base.unpersist(false)
    // on the distributed side source sizes ride the collected offsets
    val ranked = Scale.groupRanks(g, Seq("source"),
      Seq(col("n_chars"), col("doc_id")), "r", totalOut = Some("n_s"))
    val lookup = g.select(col("g_rank"), col("n_chars").as("norm_chars"))
    ranked.drop("g_rank")
      .withColumn("g_rank", expr(s"(r * ${nn}L + n_s - 1) div n_s"))
      .join(lookup, Seq("g_rank"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("norm_chars"))
  }

  def qQuantileNormalize(spark: SparkSession, dir: String): DataFrame =
    quantileNormalize(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  def oQuantileNormalize: String =
    """WITH b AS (SELECT doc_id, source, n_chars FROM documents),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS BIGINT) AS r,
      |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
      |  FROM b),
      |g AS (
      |  SELECT CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
      |      AS g_rank,
      |    n_chars AS norm_chars
      |  FROM b),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM b)
      |SELECT r.doc_id, r.source, r.n_chars, g.norm_chars
      |FROM r, n
      |JOIN g ON g.g_rank = (r.r * n.nn + r.n_s - 1) // r.n_s
      |ORDER BY r.doc_id""".stripMargin

  // ------------------------------------------------------- winsorize

  /** Winsorization: CLAMP each value to its group's exact [p05, p95] —
    * the robust-feature TRANSFORM next to [[Mining.boxplot]]'s fences
    * (which only FLAG outliers): one spiky metric stops dominating any
    * downstream mean/regression while every row survives. Bounds are
    * exact rank selections (⌈n/20⌉ and ⌈19n/20⌉ under the pinned
    * (value, event_id) order), the clamp is pure selection — no
    * arithmetic on doubles, so the gate is a full hash match.
    *
    * Scale shape: event_type is a ~5-value key, so the rank rides the
    * size-aware [[Scale.groupRanks]] dial (the r15 audit discipline);
    * bounds are a |groups|-row broadcast back onto the scan. */
  def winsorize(events: DataFrame): DataFrame = {
    val base = events.select(col("event_id"), col("event_type"), col("value"))
      .filter(col("value").isNotNull)
    val ranked = Scale.groupRanks(base, Seq("event_type"),
      Seq(col("value"), col("event_id")), "r", totalOut = Some("n"))
    val bounds = ranked.groupBy(col("event_type"))
      .agg(max(when(col("r") === expr("(n + 19) div 20"), col("value")))
          .as("lo"),
        max(when(col("r") === expr("(19 * n + 19) div 20"), col("value")))
          .as("hi"))
    base.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        greatest(col("lo"), least(col("hi"), col("value")))
          .as("value_winsorized"))
  }

  def qWinsorize(spark: SparkSession, dir: String): DataFrame =
    winsorize(Tables.events(spark, dir)).orderBy(col("event_id"))

  def oWinsorize: String =
    """WITH b AS (
      |  SELECT event_id, event_type, value FROM events
      |  WHERE value IS NOT NULL),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS BIGINT) AS r,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM b),
      |bounds AS (
      |  SELECT event_type,
      |    max(CASE WHEN r = (n + 19) // 20 THEN value END) AS lo,
      |    max(CASE WHEN r = (19 * n + 19) // 20 THEN value END) AS hi
      |  FROM r GROUP BY 1)
      |SELECT b.event_id, b.event_type, b.value,
      |  greatest(bounds.lo, least(bounds.hi, b.value)) AS value_winsorized
      |FROM b JOIN bounds USING (event_type)
      |ORDER BY event_id""".stripMargin
}
