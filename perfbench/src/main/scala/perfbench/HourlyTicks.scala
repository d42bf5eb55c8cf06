package perfbench

import java.nio.file.Path

import graft.{Pipeline, Scheduler, Service}

/** `hourly_ticks`: one warehouse with an in-memory Derby Gold, driven by
  * `new Scheduler(interval, clock, sleeper).loop(...)` with `Service.parse`'s
  * stock config (retry delay 0). The clock is injected and advanced by the
  * sleeper, which also lands the next simulated hour, so the loop runs
  * closed with one client. One op is one tick.
  *
  * Traced ops take their stage spans from the program's own
  * `pipeline_execution_log` rows (one per stage attempt). */
object HourlyTicks {

  val PerTick = 10000
  val Redelivered = 0.05
  val Stages: Seq[String] = Seq("bronze_ingest", "silver", "gold_load")

  /** What one tick left behind, read outside the op's timer. */
  private final case class Tick(seconds: Double, span: Option[Span],
      report: Option[Pipeline.Report], silverTierRows: Long)

  private final case class Pass(ticks: Seq[Tick], loopSeconds: Double, outsideOps: Double,
      skipped: Int, url: String, wh: Path)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // about `seconds` of timed work: a tick takes about 2.5 s on a 4-core host
    val n = math.max(6, ctx.seconds * 2 / 5)
    val input = Inputs.hourlyTicks(spark, ctx.sfDir, ctx.seed, n, PerTick, Redelivered,
      ctx.workDir.resolve("input/ticks"))
    // warm-up: one tick of the same loop on a throwaway warehouse and DB
    val warm = loop(ctx, input, 1, "warmup", None)
    dropDb(warm.url)
    Session.settle(spark)
    Files2.deleteTree(warm.wh)
    val setupS = ctx.sinceStart()

    var heapMb = 0.0
    val plain = loop(ctx, input, n, "plain", None, h => heapMb = math.max(heapMb, h))
    val landedBytes = Files2.bytesUnder(input)
    val stored = Files2.bytesUnder(plain.wh) - Files2.bytesUnder(plain.wh.resolve("landing"))

    // checks, outside the timed window
    val expect = Inputs.expectByTick(spark.read.parquet(input.toString))
    var failed = 0
    failed += check(ctx, plain, expect)
    dropDb(plain.url)
    Files2.deleteTree(plain.wh)

    val secs = plain.ticks.map(_.seconds)
    val wall = secs.sum
    val landedRows = (0 until n).map(k => expect(k).landed).sum
    val endToEnd = Map(
      "setup_s" -> setupS,
      "wall_s" -> wall,
      "op_s_p50" -> Stats.median(secs),
      "op_s_p96" -> Stats.quantile(secs, 0.96),
      "records_per_min" -> landedRows / (wall / 60.0),
      "storage_amplification" -> stored.toDouble / landedBytes,
      "query_geomean_s" -> Stats.geomean(secs),
      "mem_peak_mb" -> heapMb)

    var attempted = n
    // traced runs only: Bronze rows read per row landed, tick by tick
    var readPerLandedByTick = Seq.empty[Double]
    val perLayer = ctx.tracer.map { tr =>
      val traced = loop(ctx, input, n, "traced", Some(tr))
      attempted += n
      failed += check(ctx, traced, expect)
      val sizes = Seq("bronze", "silver").map(d => Files2.bytesUnder(traced.wh.resolve(d)) / 1e6)
      val goldMb = derbyBytes(traced.url) / 1e6
      // stage spans from the ledger, one per attempt
      val ledger = ledgerRows(traced.url)
      val opSpans = traced.ticks.flatMap(_.span)
      val stageSpans = traced.ticks.zipWithIndex.flatMap { case (t, k) =>
        for (op <- t.span.toSeq; r <- t.report.toSeq; l <- ledger if l.executionId == r.executionId)
          yield tr.record(l.stage, k, Some(op.id), l.startMs, l.endMs, l.seconds)
      }
      // the gate and the run's tail follow the gold load's ledger row
      val gateSpans = traced.ticks.zipWithIndex.flatMap { case (t, k) =>
        for (op <- t.span; g <- stageSpans.find(s => s.opId == k && s.name == "gold_load"))
          yield tr.record("gate", k, Some(op.id), g.endMs, op.endMs, (op.endMs - g.endMs) / 1e3)
      }
      def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      def stage(name: String): Seq[Double] =
        (stageSpans ++ gateSpans).filter(_.name == name).map(_.seconds)
      val tracedWall = traced.ticks.map(_.seconds).sum
      val attributed = (stageSpans ++ gateSpans).map(_.seconds).sum
      val reports = traced.ticks.zipWithIndex.flatMap { case (t, k) => t.report.map(r => (r, t, k)) }
      val readPerLanded = reports.map { case (r, _, k) => r.bronzeRows.toDouble / expect(k).landed }
      readPerLandedByTick = readPerLanded
      Map(
        "sources.ingest_s" -> mean(stage("bronze_ingest")),
        "sources.rows_read_per_row_landed" -> mean(readPerLanded),
        "silver.s" -> mean(stage("silver")),
        "silver.rows_written_per_row_landed" ->
          mean(reports.map { case (r, _, k) => r.silverRows.toDouble / expect(k).landed }),
        "sinks.gold_s" -> mean(stage("gold_load")),
        "sinks.gold_rows_appended_per_row_read" -> mean(reports.map { case (r, t, _) =>
          r.goldRowsLoaded.toDouble / math.max(t.silverTierRows, 1L) }),
        "pipeline.gate_s" -> mean(stage("gate")),
        "pipeline.unattributed_s" -> (tracedWall - attributed) / n,
        "pipeline.attempts_per_stage" -> ledger.size.toDouble / (Stages.size * n),
        "scheduler.overhead_s" -> (traced.loopSeconds - tracedWall - traced.outsideOps) / n,
        "scheduler.skipped_ticks" -> traced.skipped.toDouble,
        "pipeline.tick_growth" -> Stats.thirdsRatio(secs),
        "storage.bronze_mb" -> sizes(0),
        "storage.silver_mb" -> sizes(1),
        "storage.gold_mb" -> goldMb,
        "trace.overhead" -> tracedWall / wall) ++
        Layers.spark(opSpans.map(tr.counts).foldLeft(Counts.zero)(_ + _), n, tracedWall)
    }
    Outcome(endToEnd, perLayer.getOrElse(Map.empty), attempted, failed,
      Map("ticks" -> n, "landed_rows" -> landedRows, "tick_seconds" -> secs,
        "rows_read_per_row_landed_by_tick" -> readPerLandedByTick))
  }

  /** Runs `n` scheduler ticks on a fresh warehouse and Derby database. */
  private def loop(ctx: Ctx, input: Path, n: Int, tag: String, tr: Option[Tracer],
      onHeap: Double => Unit = _ => ()): Pass = {
    val spark = ctx.spark
    val wh = ctx.workDir.resolve(s"wh-$tag")
    val url = s"jdbc:derby:memory:perfbench_${tag}_${System.nanoTime()};create=true"
    val sc = Service.parse(Seq("--source", wh.resolve("landing").toString,
      "--warehouse", wh.toString, "--jdbc-url", url, "--retry-delay-minutes", "0"))
    var now = 1704067200000L // 2024-01-01T00:00Z, the fixture's first hour
    var landedTicks = 0
    var outside = 0.0
    def timedOutside[T](f: => T): T = {
      val t0 = System.nanoTime()
      try f finally outside += (System.nanoTime() - t0) / 1e9
    }
    // the producer lands the next simulated hour while the scheduler waits
    val sleeper: Long => Unit = ms => timedOutside {
      now += ms
      if (landedTicks < n) {
        Files2.linkFiles(input.resolve(s"tick=$landedTicks"), wh.resolve("landing"),
          s"tick$landedTicks-")
        landedTicks += 1
      }
    }
    val ticks = scala.collection.mutable.ArrayBuffer.empty[Tick]
    var pending: (Double, Option[Span]) = (0.0, None)
    val body: () => Pipeline.Report = () => tr match {
      case None =>
        val t0 = System.nanoTime()
        try Pipeline.run(spark, sc.pipeline)
        finally pending = ((System.nanoTime() - t0) / 1e9, None)
      case Some(t) =>
        pending = (0.0, None)
        val (r, sp) = t.span("tick", ticks.size)(Pipeline.run(spark, sc.pipeline))
        pending = (sp.seconds, Some(sp))
        r
    }
    val sched = new Scheduler(sc.intervalMs, () => now, sleeper)
    var skipped = 0
    val l0 = System.nanoTime()
    sched.loop[Pipeline.Report](n, t => timedOutside {
      t.outcome match {
        case None => skipped += 1
        case Some(out) =>
          out.left.foreach(e => ctx.log(s"tick ${ticks.size} failed: $e"))
          // what this tick's gold load read: the Silver tiers' rows
          val tierRows = if (tr.isEmpty) 0L else Seq("events_cleaned",
            "events_daily_agg", "events_hourly_agg").map(d =>
            spark.read.parquet(wh.resolve(s"silver/$d").toString).count()).sum
          ticks += Tick(pending._1, pending._2, out.toOption, tierRows)
          onHeap(Session.settle(spark))
      }
    })(body())
    Pass(ticks.toSeq, (System.nanoTime() - l0) / 1e9, outside, skipped, url, wh)
  }

  private final case class LedgerRow(executionId: String, stage: String, attempt: Int,
      status: String, startMs: Long, endMs: Long, seconds: Double)

  private def ledgerRows(url: String): Seq[LedgerRow] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        """SELECT execution_id, stage, attempt, status, started_at, finished_at,
          |duration_secs FROM pipeline_execution_log""".stripMargin)
      val out = scala.collection.mutable.ArrayBuffer.empty[LedgerRow]
      while (rs.next()) out += LedgerRow(rs.getString(1), rs.getString(2), rs.getInt(3),
        rs.getString(4), Option(rs.getTimestamp(5)).map(_.getTime).getOrElse(0L),
        Option(rs.getTimestamp(6)).map(_.getTime).getOrElse(0L), rs.getDouble(7))
      out.toSeq
    } finally c.close()
  }

  private def count(url: String, sql: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  private def derbyBytes(url: String): Long =
    count(url, "SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM TABLE(SYSCS_DIAG.SPACE_TABLE()) T")

  private def dropDb(url: String): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception

  /** Each tick's Report against the independently computed counts, its
    * ledger rows, and the Gold tables read back after the last tick.
    * Returns the number of failed ticks. */
  private def check(ctx: Ctx, p: Pass, expect: Map[Int, Inputs.Expect]): Int = {
    val ledger = ledgerRows(p.url)
    var landed, clean = 0L
    val bad = p.ticks.zipWithIndex.map { case (t, k) =>
      val e = expect(k)
      landed += e.landed; clean += e.clean
      val stagesOk = t.report.exists { r =>
        val rows = ledger.filter(_.executionId == r.executionId)
        Stages.forall(s => rows.exists(l => l.stage == s && l.status == "SUCCESS"))
      }
      val ok = stagesOk && t.report.exists { r =>
        r.bronzeRows == landed && r.silverRows == clean &&
          r.goldRowsByTier == ((e.clean, e.dailyKeys, e.hourlyKeys)) &&
          r.duplicateKeys == 0 && r.gatePassed
      }
      if (!ok) ctx.log(s"tick $k: report=${t.report} ledger ok=$stagesOk, expected " +
        s"bronze=$landed silver=$clean gold=(${e.clean},${e.dailyKeys},${e.hourlyKeys})")
      !ok
    }
    val sum = (f: Inputs.Expect => Long) => expect.values.map(f).sum
    val goldOk =
      count(p.url, "SELECT COUNT(*) FROM gold_events_detailed") == sum(_.clean) &&
      count(p.url, "SELECT COUNT(DISTINCT \"event_id\") FROM gold_events_detailed") == sum(_.clean) &&
      count(p.url, "SELECT COUNT(*) FROM gold_events_daily") == sum(_.dailyKeys) &&
      count(p.url, "SELECT COUNT(*) FROM gold_events_hourly") == sum(_.hourlyKeys)
    if (!goldOk) ctx.log("gold tables read back do not match the landed input")
    // ticks that never reported fail; a wrong final Gold fails the last tick
    val badTicks = bad.count(identity) + (expect.size - p.ticks.size)
    badTicks + (if (!goldOk && !bad.lastOption.contains(true)) 1 else 0)
  }
}
