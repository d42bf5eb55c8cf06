package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The traced backfill re-drives the stage functions `Pipeline.run`
  * calls; the parquet Gold load among them is package-private. */
object PerfbenchAccess {
  def parquetGoldLoad(spark: SparkSession, daily: DataFrame, goldPath: String): Long =
    Pipeline.parquetGoldLoad(spark, daily, goldPath)
}
