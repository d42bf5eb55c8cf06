package graft

/** Dump `.explain("formatted")` for named declared queries to files —
  * the per-round plan evidence under plans/r<N>/ (guide §1: capture the
  * plan shape — Exchange count, join strategy, PushedFilters/ReadSchema,
  * WholeStageCodegen spans — before and after each change).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [name,name,...]
  * The session is Bench's own ([[GraftSession]]), so the dumped plan is
  * the plan the bench executes (AQE initial plan; the noop write node is not
  * part of `df.queryExecution`, matching what a reader compares).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names =
      if (args.length > 3) args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // SPARK_GRAFT_LINEAGE=1 keeps logical plans visible through the
    // operators' withCached/materialized checkpoints (the runtime plan
    // reads a settled ExistingRDD there; with lineage on, the dump
    // shows the full subtree INCLUDING any sharing the checkpoint
    // settles — read such dumps as "what would recompute", not "what
    // executes")
    if (sys.env.get("SPARK_GRAFT_LINEAGE").contains("1"))
      sys.props("graft.explain.lineage") = "true"
    val spark = GraftSession.create()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"SKIP (unknown in this tree): $n")
        case Some(q) =>
          val df = q(spark, sfDir)
          // serialized sketch literals are hundreds of KB of hex — elide;
          // the plan SHAPE is what these files document
          val s = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode).trim
            .replaceAll("0x[0-9A-F]{256,}", "0x<sketch-bits elided>")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
            (s + "\n").getBytes("UTF-8"))
          println(s"WROTE $outDir/${n}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
