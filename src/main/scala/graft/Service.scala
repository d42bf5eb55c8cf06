package graft

import org.apache.spark.sql.SparkSession

/** The runnable pipeline service — what a reference user launches instead
  * of deploying the Airflow DAG (`airflow dags unpause weather_pipeline`):
  *
  * {{{
  *   spark-submit --class graft.Service graft.jar \
  *     --source /data/landing --warehouse /data/warehouse \
  *     [--jdbc-url jdbc:...] [--interval-minutes 60] [--max-ticks N] \
  *     [--max-null-ratio 0.10] [--retries 3] [--retry-delay-minutes 5]
  * }}}
  *
  * It wires [[Scheduler.schedule]] (epoch-aligned boundaries,
  * max_active_runs=1, catchup=False) around [[Pipeline.run]] with the
  * reference DAG's stock settings: hourly interval, 3 retries with
  * 5-minute delay, 2-hour stage timeout
  * (/root/reference/airflow/dags/weather_pipeline_dag.py:26-35).
  * `--max-ticks` bounds the loop for supervised restarts and tests;
  * unbounded (the DAG's behavior) is the default. Skipped boundaries
  * and failed runs are logged and the loop continues — parity with
  * Airflow marking a dag-run failed and scheduling the next.
  */
object Service {

  final case class ServiceConfig(
      pipeline: Pipeline.Config,
      intervalMs: Long = 60L * 60 * 1000,
      maxTicks: Int = Int.MaxValue)

  /** Pure arg→config plumbing (spec-tested without a SparkSession).
    * Unknown flags and missing values fail loudly — a service that
    * silently ignored a typo'd retention flag would run unconfigured
    * for months. */
  def parse(args: Seq[String]): ServiceConfig = {
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"$msg\nusage: graft.Service --source DIR --warehouse DIR " +
        "[--jdbc-url URL] [--interval-minutes N] [--max-ticks N] " +
        "[--max-null-ratio R] [--retries N] [--retry-delay-minutes N]")
    val kv = args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k -> v
      case other => fail(s"malformed argument pair: ${other.mkString(" ")}")
    }.toMap
    val known = Set("--source", "--warehouse", "--jdbc-url",
      "--interval-minutes", "--max-ticks", "--max-null-ratio",
      "--retries", "--retry-delay-minutes")
    val unknown = kv.keySet -- known
    if (unknown.nonEmpty) fail(s"unknown flags: ${unknown.mkString(", ")}")
    val source = kv.getOrElse("--source", fail("--source is required"))
    val warehouse = kv.getOrElse("--warehouse", fail("--warehouse is required"))
    val interval = kv.get("--interval-minutes").map(_.toLong * 60 * 1000)
      .getOrElse(60L * 60 * 1000)
    if (interval <= 0) fail("--interval-minutes must be positive")
    val cfg = Pipeline.Config(
      sourceDir = source,
      warehouseDir = warehouse,
      jdbcUrl = kv.get("--jdbc-url"),
      maxNullRatio = kv.get("--max-null-ratio").map(_.toDouble).getOrElse(0.10),
      // the DAG's stock retry posture: retries=3, retry_delay=5min,
      // execution_timeout=2h (weather_pipeline_dag.py:29-33)
      retry = StageRunner.RetryPolicy(
        retries = kv.get("--retries").map(_.toInt).getOrElse(3),
        retryDelayMs = kv.get("--retry-delay-minutes").map(_.toLong * 60 * 1000)
          .getOrElse(5 * 60 * 1000L),
        executionTimeoutMs = 2L * 60 * 60 * 1000))
    ServiceConfig(cfg, interval, kv.get("--max-ticks").map(_.toInt).getOrElse(Int.MaxValue))
  }

  /** The wired service loop, factored out of [[main]] so a spec can
    * drive the IDENTICAL config→Scheduler→Pipeline plumbing one tick
    * end-to-end against a shared session (main's only additions are
    * session construction and stop). Returns the fired ticks. */
  def run(spark: SparkSession, sc: ServiceConfig)
      : Seq[Scheduler.Tick[Pipeline.Report]] = {
    // stdout, not the spark logger: the session runs at WARN and a
    // service's own run ledger lines must not be suppressible by it
    println(s"graft service: interval=${sc.intervalMs / 60000}min " +
      s"source=${sc.pipeline.sourceDir} warehouse=${sc.pipeline.warehouseDir}")
    Scheduler.schedule(spark, sc.pipeline, sc.intervalMs, sc.maxTicks, {
      case Scheduler.Tick(at, Some(Right(report))) =>
        println(s"run@$at ok: ${report.executionId} gate=${report.gatePassed}")
      case Scheduler.Tick(at, Some(Left(e))) =>
        println(s"run@$at failed (loop continues): ${e.getMessage}")
      case Scheduler.Tick(at, None) =>
        println(s"boundary@$at skipped (run active / catchup=False)")
    })
  }

  def main(args: Array[String]): Unit = {
    val sc = parse(args.toIndexedSeq)
    val spark = GraftSession.create(sys.env.get("SPARK_GRAFT_MASTER"))
    run(spark, sc)
    spark.stop()
  }
}
