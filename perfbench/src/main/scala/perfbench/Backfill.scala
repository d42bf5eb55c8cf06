package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Pipeline, StageRunner, Tables}
import graft.operators.Silver
import graft.sources.Bronze

/** `backfill`: `Pipeline.run` with parquet Gold on a fresh warehouse whose
  * landing zone holds about 100k seeded events (one resampled copy of the
  * fixture's 30 days) in 10 files. One op is one `Pipeline.run`.
  *
  * Parquet Gold writes no stage ledger, so a traced op re-drives the stage
  * functions `Pipeline.run` calls, in its order and under the same
  * `StageRunner`, with a span around each. The traced op must reproduce
  * the untraced `Report` counts exactly. */
object Backfill {

  val Copies = 1
  val Files = 10
  val WarmupOps = 2

  private final case class Counted(bronze: Long, silver: Long, gold: (Long, Long, Long),
      dups: Long, nulls: Long, gate: Boolean)

  private def counted(r: Pipeline.Report): Counted =
    Counted(r.bronzeRows, r.silverRows, r.goldRowsByTier, r.duplicateKeys,
      r.criticalNulls, r.gatePassed)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // about `seconds` of timed work: an op takes about 2 s on a 4-core host
    val ops = math.max(3, ctx.seconds / 2)
    val landing = Inputs.backfill(spark, ctx.sfDir, ctx.seed, Copies, Files,
      ctx.workDir.resolve("input/backfill"))
    def fresh(i: Int, tag: String): Path = {
      val wh = ctx.workDir.resolve(s"wh-$tag-$i")
      Files2.linkFiles(landing, wh.resolve("landing"))
      wh
    }
    // warm-up: untimed ops, so the timed ones are not charged for class
    // loading, code generation and JIT compilation
    for (i <- 0 until WarmupOps) {
      val warm = fresh(i, "warmup")
      Pipeline.run(spark, Pipeline.Config(warm.resolve("landing").toString, warm.toString))
      Session.settle(spark)
      Files2.deleteTree(warm)
    }
    val setupS = ctx.sinceStart()

    val landedBytes = Files2.bytesUnder(landing)
    var heapMb = 0.0
    var failed = 0
    def warehouseBytes(wh: Path): Long =
      Files2.bytesUnder(wh) - Files2.bytesUnder(wh.resolve("landing"))

    // untraced ops: the end-to-end numbers
    val plain = (0 until ops).map { i =>
      val wh = fresh(i, "plain")
      val t0 = System.nanoTime()
      val r = try Some(Pipeline.run(spark,
          Pipeline.Config(wh.resolve("landing").toString, wh.toString)))
        catch { case e: Throwable => ctx.log(s"op $i failed: $e"); None }
      val sec = (System.nanoTime() - t0) / 1e9
      heapMb = math.max(heapMb, Session.settle(spark))
      val stored = warehouseBytes(wh)
      val goldRows = r.map(_ => spark.read.parquet(wh.resolve("gold/events_daily").toString).count())
      val hourlyRows = r.map(_ => spark.read.parquet(
        wh.resolve("silver/events_hourly_agg").toString).count())
      Files2.deleteTree(wh)
      (sec, r, stored, goldRows, hourlyRows)
    }

    // checks, outside the timed window
    val expect = Inputs.expectByTick(spark.read.parquet(landing.toString))(0)
    val want = Counted(expect.landed, expect.clean, (0L, expect.dailyKeys, 0L), 0L, 0L,
      gate = true)
    plain.zipWithIndex.foreach { case ((_, r, _, gold, hourly), i) =>
      val ok = r.exists(x => counted(x) == want) && gold.contains(expect.dailyKeys) &&
        hourly.contains(expect.hourlyKeys)
      if (!ok) {
        failed += 1
        ctx.log(s"op $i: report=${r.map(counted)} gold=$gold hourly=$hourly, expected " +
          s"$want gold=${expect.dailyKeys} hourly=${expect.hourlyKeys}")
      }
    }

    val secs = plain.map(_._1)
    val wall = secs.sum
    val endToEnd = Map(
      "setup_s" -> setupS,
      "wall_s" -> wall,
      "op_s_p50" -> Stats.median(secs),
      "op_s_p96" -> Stats.quantile(secs, 0.96),
      "records_per_min" -> ops * expect.landed / (wall / 60.0),
      "storage_amplification" -> Stats.median(plain.map(_._3.toDouble)) / landedBytes,
      "query_geomean_s" -> Stats.geomean(secs),
      "mem_peak_mb" -> heapMb)

    var attempted = ops
    val perLayer = ctx.tracer.map { tr =>
      val traced = (0 until ops).map { i =>
        val wh = fresh(i, "traced")
        val op = 1000 + i
        val res = try Some(redrive(spark, tr, wh, op))
          catch { case e: Throwable => ctx.log(s"traced op $i failed: $e"); None }
        Session.settle(spark)
        val dailyRows = res.map(_ => spark.read.parquet(
          wh.resolve("silver/events_daily_agg").toString).count())
        val sizes = Seq("bronze", "silver", "gold").map(d =>
          Files2.bytesUnder(wh.resolve(d)) / 1e6)
        Files2.deleteTree(wh)
        attempted += 1
        if (!res.exists(_._1 == want)) {
          failed += 1
          ctx.log(s"traced op $i: ${res.map(_._1)} differs from Pipeline.run's $want")
        }
        (res, dailyRows, sizes)
      }
      val spans = tr.all
      def stage(name: String): Seq[Span] = spans.filter(_.name == name)
      def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val opSpans = stage("op")
      val stageSum = Seq("bronze_ingest", "silver", "gold_load", "gate")
        .map(s => stage(s).map(_.seconds).sum).sum
      val tracedWall = opSpans.map(_.seconds).sum
      val ok = traced.flatMap { case (r, d, _) => for (x <- r; n <- d) yield (x._1, n) }
      Map(
        "sources.ingest_s" -> mean(stage("bronze_ingest").map(_.seconds)),
        "sources.rows_read_per_row_landed" -> mean(ok.map(_._1.bronze.toDouble / expect.landed)),
        "silver.s" -> mean(stage("silver").map(_.seconds)),
        "silver.rows_written_per_row_landed" -> mean(ok.map(_._1.silver.toDouble / expect.landed)),
        "sinks.gold_s" -> mean(stage("gold_load").map(_.seconds)),
        "sinks.gold_rows_appended_per_row_read" ->
          mean(ok.map { case (c, n) => c.gold._2.toDouble / math.max(n, 1L) }),
        "pipeline.gate_s" -> mean(stage("gate").map(_.seconds)),
        "pipeline.unattributed_s" -> (tracedWall - stageSum) / math.max(opSpans.size, 1),
        "pipeline.attempts_per_stage" -> mean(traced.flatMap(_._1).map(_._2)),
        "storage.bronze_mb" -> mean(traced.map(_._3(0))),
        "storage.silver_mb" -> mean(traced.map(_._3(1))),
        "storage.gold_mb" -> mean(traced.map(_._3(2))),
        "pipeline.tick_growth" -> Stats.thirdsRatio(secs),
        "trace.overhead" -> tracedWall / wall) ++
        Layers.spark(opSpans.map(tr.counts).foldLeft(Counts.zero)(_ + _), opSpans.size,
          tracedWall)
    }
    Outcome(endToEnd, perLayer.getOrElse(Map.empty), attempted, failed,
      Map("ops" -> ops, "landed_rows" -> expect.landed, "landed_bytes" -> landedBytes,
        "op_seconds" -> secs))
  }

  /** One traced op: the stage functions of `Pipeline.run` (parquet Gold,
    * no retention), in its order, each under a span. Returns the counts the
    * run's `Report` would carry and the stage attempts per stage. */
  private def redrive(spark: SparkSession, tr: Tracer, wh: Path, op: Int): (Counted, Double) = {
    var retries = 0
    val notifier = new StageRunner.Notifier {
      override def onRetry(stage: String, attempt: Int, error: Throwable): Unit = retries += 1
    }
    val runner = new StageRunner(java.util.UUID.randomUUID().toString, None,
      StageRunner.RetryPolicy(retries = 0), notifier)
    def staged[T](name: String, rows: T => Long)(f: => T): T =
      tr.span(name, op)(runner.staged(name, rows)(f))._1
    val whs = wh.toString
    val (c, _) = tr.span("op", op) {
      val bronzePath = s"$whs/bronze/events"
      staged[Unit]("bronze_ingest", _ => 0L) {
        val src = Tables.eventsStream(spark, s"$whs/landing")
        Bronze.ingestStream(src, bronzePath, s"$whs/checkpoints/bronze").awaitTermination()
      }
      val bronzeObs = Observation("bronze_rows")
      val bronze = Bronze.readBronze(spark, bronzePath, None)
        .observe(bronzeObs, count(lit(1)).as("rows"))
      val silverPath = s"$whs/silver"
      val enriched = Silver.enrich(Silver.clean(bronze)).persist(StorageLevel.MEMORY_AND_DISK)
      val silverRows = staged[Long]("silver", identity) {
        val obs = Observation("silver_rows")
        Bronze.writePartitioned(enriched.observe(obs, count(lit(1)).as("rows")),
          s"$silverPath/events_cleaned", Seq("year", "month"))
        Bronze.writePartitioned(Silver.dailyAgg(enriched),
          s"$silverPath/events_daily_agg", Seq("year", "month"))
        Bronze.writePartitioned(Silver.hourlyAgg(enriched),
          s"$silverPath/events_hourly_agg", Seq("year", "month"))
        obs.get("rows").asInstanceOf[Long]
      }
      val bronzeRows = bronzeObs.get("rows").asInstanceOf[Long]
      val gold = staged[Long]("gold_load", identity) {
        val daily = spark.read.parquet(s"$silverPath/events_daily_agg")
          .select(col("event_type"), col("year"), col("month"), col("day"),
            make_date(col("year"), col("month"), col("day")).as("date"),
            col("avg_value"), col("min_value"), col("max_value"),
            col("sum_value"), col("record_count"), col("distinct_users"))
        graft.PerfbenchAccess.parquetGoldLoad(spark, daily, s"$whs/gold/events_daily")
      }
      val (dups, nulls, total) = tr.span("gate", op) {
        Pipeline.gateMetrics(enriched, Seq("user_id", "ts"),
          col("user_id").isNull || col("value").isNull)
      }._1
      val gate = silverRows > 0 && dups == 0 &&
        (if (total == 0) 0.0 else nulls.toDouble / total) <= 0.10
      enriched.unpersist()
      Counted(bronzeRows, silverRows, (0L, gold, 0L), dups, nulls, gate)
    }
    (c, (3 + retries) / 3.0)
  }
}
