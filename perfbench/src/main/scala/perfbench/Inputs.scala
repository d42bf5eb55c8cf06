package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded landing files built from the read-only `events` fixture.
  *
  * Rows are resampled (Bernoulli, seeded) and moved in time and id space so
  * that keys stay distinct across copies; every column is kept as the
  * fixture stores it (ts is a timestamp without zone). Null, out-of-range
  * and duplicate-`(user_id, ts)` rows therefore keep the fixture's shares.
  * The program only ever sees the generated files. */
object Inputs {

  private val MicrosPerHour = 3600L * 1000 * 1000
  private val MicrosPerDay = 24 * MicrosPerHour

  def fixture(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")

  /** (rows, one past the largest event_id, micros of the first midnight). */
  private def extent(fx: DataFrame): (Long, Long, Long) = {
    val r = fx.agg(count(lit(1)), max("event_id"),
      unix_micros(min(col("ts")).cast("timestamp"))).head()
    (r.getLong(0), r.getLong(1) + 1, Math.floorDiv(r.getLong(2), MicrosPerDay) * MicrosPerDay)
  }

  /** The fixture's columns with event_id and ts moved. */
  private def moved(df: DataFrame, eventId: Column, tsMicros: Column): DataFrame =
    df.select(eventId.as("event_id"),
      timestamp_micros(tsMicros).cast("timestamp_ntz").as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))

  private def micros(c: String): Column = unix_micros(col(c).cast("timestamp"))

  /** `backfill`: `copies` resampled copies of the fixture's 30 days, copy r
    * moved r milliseconds later so that keys stay distinct, written in ts
    * order as `files` landing files. Returns the landing directory. The
    * copies share the fixture's days rather than following each other:
    * more days would mean more Bronze partitions, hence more files, and
    * deleting files is slow on a disk with online discard. */
  def backfill(spark: SparkSession, sfDir: String, seed: Long, copies: Int,
      files: Int, out: Path): Path = {
    val fx = fixture(spark, sfDir)
    val (_, idSpan, _) = extent(fx)
    val all = (0 until copies).map { r =>
      moved(fx.sample(withReplacement = false, 0.98, seed * 1000 + r),
        col("event_id") + lit(r * idSpan), micros("ts") + lit(r * 1000L))
    }.reduce(_ union _)
    all.repartitionByRange(files, col("ts")).sortWithinPartitions("ts")
      .write.parquet(out.toString)
    out
  }

  /** `hourly_ticks`: tick k holds about `perTick` fresh events in simulated
    * hour k (the fixture's rows keep their minute-of-hour offsets) plus
    * about `redelivered` of tick k-1's fresh events again, as an
    * at-least-once consumer re-delivers them. Written as
    * `out/tick=k/part-*.parquet`, one file per tick. */
  def hourlyTicks(spark: SparkSession, sfDir: String, seed: Long, ticks: Int,
      perTick: Int, redelivered: Double, out: Path): Path = {
    val fx = fixture(spark, sfDir)
    val (rows, idSpan, midnight) = extent(fx)
    val fraction = math.min(1.0, perTick.toDouble / rows)
    val fresh = (0 until ticks).map { k =>
      moved(fx.sample(withReplacement = false, fraction, seed * 1000 + k),
        col("event_id") + lit((k + 1) * idSpan),
        lit(midnight + k * MicrosPerHour) + pmod(micros("ts"), lit(MicrosPerHour)))
        .withColumn("tick", lit(k))
    }
    val again = (1 until ticks).map { k =>
      fresh(k - 1).sample(withReplacement = false, redelivered, seed * 1000 + 500 + k)
        .withColumn("tick", lit(k))
    }
    (fresh ++ again).reduce(_ union _)
      .repartition(col("tick")).sortWithinPartitions("ts")
      .write.partitionBy("tick").parquet(out.toString)
    out
  }

  /** What a correct pipeline must report, computed here from the generated
    * files without the program's code: rows landed, rows left after the
    * null/range filter and the `(user_id, ts)` dedup, and the distinct
    * `(event_type, day)` and `(event_type, day, hour)` keys. With a `tick`
    * column, each is counted at the tick that first lands it. */
  final case class Expect(landed: Long, clean: Long, dailyKeys: Long, hourlyKeys: Long)

  def expectByTick(landed: DataFrame): Map[Int, Expect] = {
    val df = if (landed.columns.contains("tick")) landed else landed.withColumn("tick", lit(0))
    val clean = df.filter(col("user_id").isNotNull && col("ts").isNotNull &&
      col("value").isNotNull && col("value") >= 0.0 && col("value") <= 200.0)
    def firstSeen(keys: Column*): Map[Int, Long] =
      clean.groupBy(keys: _*).agg(min("tick").as("tick"))
        .groupBy("tick").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val landedBy = df.groupBy("tick").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cleanBy = firstSeen(col("user_id"), col("ts"))
    val dailyBy = firstSeen(col("event_type"), to_date(col("ts")))
    val hourlyBy = firstSeen(col("event_type"), date_trunc("hour", col("ts")))
    landedBy.keys.map { k =>
      k -> Expect(landedBy(k), cleanBy.getOrElse(k, 0L), dailyBy.getOrElse(k, 0L),
        hourlyBy.getOrElse(k, 0L))
    }.toMap
  }
}
