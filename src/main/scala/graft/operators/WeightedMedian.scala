package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Exact weighted median (and weighted quartiles) per group — the
  * percentile family under row WEIGHTS, which plain rank selection
  * cannot express: here the median price is the price at which half the
  * QUANTITY (not half the rows) sits on either side.
  *
  * Exactness: weights are exact integer quantities, the cumulative
  * weight is a running BIGINT sum over a pinned ordering, and the
  * selection test `2·(cum − w) < total ≤ 2·cum` (lower weighted median)
  * is pure integer cross-multiplication — no division at all. One
  * ordered window per group + one conditional aggregate.
  *
  * Scale shape (100 TB): `l_returnflag` is a THREE-value key, so at
  * scale per-group windows are three giant single-task sorts — the
  * named scale-killer. [[Scale.groupRunningSums]]' dial (measured, not
  * asserted — SCALE.md r10) selects
  * [[Scale.groupedRunningSum]]'s distributed prefix-sum pattern once a
  * group exceeds [[Scale.HotGroupMinRowsPerGroup]] rows — max task one
  * range partition, never ⅓ of lineitem, with group totals riding the
  * collected offsets — and keeps the plain window below it, where one
  * in-memory sort task measurably beats two shuffles. */
object WeightedMedian {

  def weightedQuartiles(lineitem: DataFrame): DataFrame = {
    val base = lineitem.select(col("l_returnflag"),
      col("l_extendedprice").cast("decimal(14,2)").as("price"),
      col("l_quantity").cast("decimal(12,2)").cast("long").as("w"),
      col("l_orderkey"), col("l_linenumber"))
    // on the distributed side group totals ride the collected offsets
    val cum = Scale.groupRunningSums(base, Seq("l_returnflag"),
      Seq(col("price"), col("l_orderkey"), col("l_linenumber")),
      col("w"), "cum", totalOut = Some("total"))
    def pick(num: Int, den: Int, name: String) =
      max(when(col("cum") * den >= col("total") * num
          && (col("cum") - col("w")) * den < col("total") * num,
        col("price"))).cast("double").as(name)
    cum.groupBy(col("l_returnflag"))
      .agg(sum(col("w")).cast("long").as("total_qty"),
        pick(1, 4, "wq1_price"),
        pick(2, 4, "wmedian_price"),
        pick(3, 4, "wq3_price"))
  }

  def qWeightedQuartiles(spark: SparkSession, dir: String): DataFrame =
    weightedQuartiles(Tables.lineitem(spark, dir)).orderBy(col("l_returnflag"))

  def oWeightedQuartiles: String =
    """WITH b AS (
      |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(14,2)) AS price,
      |    CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) AS w,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |c AS (
      |  SELECT *, CAST(sum(w) OVER (PARTITION BY l_returnflag
      |      ORDER BY price, l_orderkey, l_linenumber
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total
      |  FROM b)
      |SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS total_qty,
      |  CAST(max(CASE WHEN cum * 4 >= total * 1 AND (cum - w) * 4 < total * 1
      |    THEN price END) AS DOUBLE) AS wq1_price,
      |  CAST(max(CASE WHEN cum * 4 >= total * 2 AND (cum - w) * 4 < total * 2
      |    THEN price END) AS DOUBLE) AS wmedian_price,
      |  CAST(max(CASE WHEN cum * 4 >= total * 3 AND (cum - w) * 4 < total * 3
      |    THEN price END) AS DOUBLE) AS wq3_price
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin
}
