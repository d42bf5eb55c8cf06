package graft

import org.apache.spark.sql.SparkSession

/** The one session shape the graft mains run on (Bench, Verify,
  * PlanDump, Service), so a plan PlanDump writes is the plan Bench
  * executes by construction. `SPARK_GRAFT_CPUS` (default: every core)
  * sizes the local master and the shuffle width; `master` overrides
  * the former for a deployed service. */
object GraftSession {
  def create(master: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SQL kernels + the dot(x,x)->self-dot optimizer rule
    graft.plans.GraftExtensions.register(spark)
    spark
  }
}
