package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload sees: the session, its inputs and where to put state. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val tracer: Option[Tracer], val sfDir: String, val benchDir: Path,
    val workDir: Path) {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since the process started: set-up ends at the first timed op. */
  def sinceStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def log(msg: String): Unit = System.err.println(f"[perfbench ${sinceStart()}%.1fs] $msg")

  lazy val sfBytes: Long = Files2.bytesUnder(Paths.get(sfDir))
}

/** A run's measurements. `endToEnd` comes from untraced ops only;
  * `perLayer` is filled by traced runs. */
final case class Outcome(endToEnd: Map[String, Double], perLayer: Map[String, Double],
    attempted: Int, failed: Int, info: Map[String, Any])

/** The per-layer metric set; every traced run reports all of them, with 0
  * for a layer the workload does not reach (see README). */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "sources.ingest_s" -> "s",
    "sources.rows_read_per_row_landed" -> "ratio",
    "silver.s" -> "s",
    "silver.rows_written_per_row_landed" -> "ratio",
    "sinks.gold_s" -> "s",
    "sinks.gold_rows_appended_per_row_read" -> "ratio",
    "pipeline.gate_s" -> "s",
    "pipeline.unattributed_s" -> "s",
    "pipeline.attempts_per_stage" -> "ratio",
    "pipeline.tick_growth" -> "ratio",
    "scheduler.overhead_s" -> "s",
    "scheduler.skipped_ticks" -> "count",
    "operators.construct_s" -> "s",
    "operators.plan_s" -> "s",
    "operators.exec_s" -> "s",
    "operators.jobs" -> "count",
    "operators.jobs_in_construct" -> "count",
    "operators.tasks" -> "count",
    "operators.shuffle_mb" -> "MB",
    "operators.artifact_mb" -> "MB",
    "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.task_s_per_op" -> "s",
    "spark.shuffle_mb_per_op" -> "MB",
    "spark.scan_rows_per_op" -> "count",
    "spark.core_util" -> "ratio",
    "storage.bronze_mb" -> "MB",
    "storage.silver_mb" -> "MB",
    "storage.gold_mb" -> "MB",
    "trace.overhead" -> "ratio")

  /** Engine counts per op, from the op spans of a traced pass. */
  def spark(total: Counts, ops: Int, wallS: Double): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    Map("spark.jobs_per_op" -> total.jobs / n,
      "spark.tasks_per_op" -> total.tasks / n,
      "spark.task_s_per_op" -> total.taskSec / n,
      "spark.shuffle_mb_per_op" -> total.shuffleMb / n,
      "spark.scan_rows_per_op" -> total.scanRows / n,
      "spark.core_util" -> total.taskSec / (wallS * Session.cores))
  }

  def complete(values: Map[String, Double]): Map[String, Double] = {
    val unknown = values.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    units.map { case (k, _) => k -> values.getOrElse(k, 0.0) }.toMap
  }
}

object EndToEnd {
  val units: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "wall_s" -> "s",
    "op_s_p50" -> "s",
    "op_s_p96" -> "s",
    "records_per_min" -> "rec/min",
    "storage_amplification" -> "ratio",
    "query_geomean_s" -> "s",
    "mem_peak_mb" -> "MB")
}

/** Entry point, started by `run.py` in a fresh working directory:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --sf DIR --bench DIR --out FILE [--trace-out FILE]`, or
  * `perfbench.Main --record FILE --sf DIR --bench DIR`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val workDir = Paths.get("").toAbsolutePath
    val spark = Session.create(workDir)
    val traced = args.get("--trace").contains("1") || args.contains("--record")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, args.getOrElse("--seed", "0").toLong,
      args.getOrElse("--seconds", "12").toInt, tracer, args("--sf"),
      Paths.get(args("--bench")).toAbsolutePath, workDir)
    try {
      args.get("--record") match {
        case Some(out) => QuerySuite.record(ctx, Paths.get(out))
        case None =>
          val workload = args("--workload")
          val outcome = workload match {
            case "backfill" => Backfill.run(ctx)
            case "hourly_ticks" => HourlyTicks.run(ctx)
            case "query_suite" => QuerySuite.run(ctx)
            case other => throw new IllegalArgumentException(s"unknown workload $other")
          }
          val metrics =
            if (traced) Layers.units.map { case (k, u) =>
              k -> Map("value" -> Layers.complete(outcome.perLayer)(k), "unit" -> u) }
            else EndToEnd.units.map { case (k, u) =>
              k -> Map("value" -> outcome.endToEnd(k), "unit" -> u) }
          val result = scala.collection.immutable.ListMap(
            "correct" -> (outcome.failed == 0),
            "attempted" -> outcome.attempted,
            "failed" -> outcome.failed,
            "metrics" -> scala.collection.immutable.ListMap(metrics: _*))
          val provenance = scala.collection.immutable.ListMap(
            "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
            "trace" -> traced, "nproc" -> Runtime.getRuntime.availableProcessors(),
            "spark_master" -> Session.master, "spark_version" -> spark.version,
            "heap_limit_mb" -> Session.heapLimitMb,
            "failed_ops" -> outcome.failed.toDouble / math.max(outcome.attempted, 1))
          Files2.write(Paths.get(args("--out")),
            Json.write(Map("result" -> result, "provenance" -> provenance,
              "info" -> outcome.info)))
          for (t <- tracer; f <- args.get("--trace-out"))
            Files2.write(Paths.get(f), Json.pretty(Map("provenance" -> provenance,
              "info" -> outcome.info, "spans" -> t.toJson)))
      }
    } finally {
      tracer.foreach(_.close())
      spark.stop()
    }
  }
}
