package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `query_suite`: benched `SparkEntry.queries` on the sf0.1 fixture, each
  * query materialized through the `noop` sink. One op is one query.
  *
  * A run: a warm pass over the benched queries (set-up: JIT, file listings
  * and the `Serving` artifact builds) that also checks each query's row
  * count and content hash against `reference/query_suite.json`, then timed
  * passes, each in its own seed-permuted order. A traced run adds a traced
  * pass in the first pass's order. */
object QuerySuite {

  /** As in `graft.Bench`: the compose-from-builtins twin of
    * `sim_cosine_topk_native` is kept as an oracle twin, not benched. */
  val Excluded: Set[String] = Set("sim_cosine_topk")

  final case class Ref(rows: Long, hash: String, hashStable: Boolean)

  def reference(path: Path): (Seq[String], Map[String, Ref]) = {
    val j = Json.read(path)
    val refs = j.get("queries").properties().asScala.map { e =>
      e.getKey -> Ref(e.getValue.get("rows").asLong(), e.getValue.get("hash").asText(),
        e.getValue.get("hash_stable").asBoolean())
    }.toMap
    (j.get("benched").elements().asScala.map(_.asText()).toSeq, refs)
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"SparkEntry.queries has no query $name"))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val (benched, refs) = reference(ctx.benchDir.resolve("reference/query_suite.json"))
    val failures = scala.collection.mutable.Set.empty[String]
    var heapMb = 0.0

    // set-up: the warm pass materializes each query through the content
    // hash and checks it (outside the timed window); it also builds every
    // serving artifact the queries need, in this run's fresh directory
    var resultRows = 0L
    benched.foreach { n =>
      val ok = try {
        val (rows, hash) = ContentHash.of(query(n)(spark, ctx.sfDir))
        resultRows += rows
        val r = refs(n)
        val good = rows == r.rows && (!r.hashStable || hash == r.hash)
        if (!good) ctx.log(s"$n: rows=$rows hash=$hash, expected rows=${r.rows} hash=${r.hash}")
        good
      } catch { case e: Throwable => ctx.log(s"$n check failed: $e"); false }
      Session.clear(spark)
      if (!ok) failures += n
    }
    val setupS = ctx.sinceStart()
    val artifactMb = Files2.bytesUnder(ctx.workDir.resolve("target/serving")) / 1e6

    /** Each query once, untraced, sampling the live heap after each: the
      * seconds of those that succeeded. */
    def pass(order: Seq[String]): Seq[(String, Double)] = order.flatMap { n =>
      val t0 = System.nanoTime()
      val ok = try { noop(query(n)(spark, ctx.sfDir)); true }
        catch { case e: Throwable => ctx.log(s"$n failed: $e"); failures += n; false }
      val sec = (System.nanoTime() - t0) / 1e9
      heapMb = math.max(heapMb, Session.settle(spark))
      if (ok) Some(n -> sec) else None
    }

    // about `seconds` of timed work: a pass takes about 5 s on a 4-core
    // host; at least two, for pipeline.tick_growth
    val rng = new scala.util.Random(ctx.seed)
    val orders = Seq.fill(math.max(2, ctx.seconds / 5))(rng.shuffle(benched))
    val timed = orders.map(pass)
    val order = orders.head

    // traced pass: construct / plan / execute spans, counts inside each;
    // jobs fired during construction are the eager ones
    val layer = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val traced = ctx.tracer.map { tr =>
      order.zipWithIndex.flatMap { case (n, i) =>
        try {
          val (_, op) = tr.span(s"query:$n", i) {
            val (df, c) = tr.span("construct", i)(query(n)(spark, ctx.sfDir))
            val (_, p) = tr.span("plan", i)(df.queryExecution.executedPlan)
            val (_, e) = tr.span("execute", i)(noop(df))
            layer("construct_s") += c.seconds; layer("plan_s") += p.seconds
            layer("exec_s") += e.seconds
            layer("jobs_in_construct") += tr.counts(c).jobs.toDouble
          }
          Session.settle(spark)
          Some(n -> op.seconds)
        } catch { case e: Throwable => ctx.log(s"$n failed: $e"); failures += n; None }
      }.toMap
    }

    val first = timed.head.toMap
    val last = timed.last.toMap
    val ops = timed.flatten.map(_._2)
    val wall = ops.sum
    val endToEnd = Map(
      "setup_s" -> setupS,
      "wall_s" -> wall,
      "op_s_p50" -> Stats.median(ops),
      "op_s_p96" -> Stats.quantile(ops, 0.96),
      "records_per_min" -> resultRows * timed.size / (wall / 60.0),
      "storage_amplification" -> artifactMb * 1e6 / ctx.sfBytes,
      "query_geomean_s" -> Stats.geomean(ops),
      "mem_peak_mb" -> heapMb)

    val perLayer = ctx.tracer.map { tr =>
      val opSpans = tr.all.filter(_.name.startsWith("query:"))
      val total = opSpans.map(tr.counts).foldLeft(Counts.zero)(_ + _)
      val n = math.max(1, opSpans.size).toDouble
      val tracedWall = opSpans.map(_.seconds).sum
      val stages = layer("construct_s") + layer("plan_s") + layer("exec_s")
      Map(
        "operators.construct_s" -> layer("construct_s") / n,
        "operators.plan_s" -> layer("plan_s") / n,
        "operators.exec_s" -> layer("exec_s") / n,
        "operators.jobs" -> total.jobs.toDouble,
        "operators.jobs_in_construct" -> layer("jobs_in_construct"),
        "operators.tasks" -> total.tasks.toDouble,
        "operators.shuffle_mb" -> total.shuffleMb,
        "operators.artifact_mb" -> artifactMb,
        "pipeline.unattributed_s" -> (tracedWall - stages) / n,
        "pipeline.tick_growth" -> Stats.median(benched
          .filter(n => first.contains(n) && last.contains(n)).map(n => last(n) / first(n))),
        "trace.overhead" -> tracedWall / timed.head.map(_._2).sum) ++
        Layers.spark(total, opSpans.size, tracedWall)
    }
    val passes = timed.size + traced.size
    Outcome(endToEnd, perLayer.getOrElse(Map.empty), benched.size * passes,
      benched.count(failures) * passes,
      Map("benched" -> benched.size, "orders" -> orders, "op_seconds" -> timed.map(_.toMap)))
  }

  /** One pass over every query but the excluded ones, with construct /
    * plan / execute spans, row count and content hash: the input of
    * `reference/query_suite.json` (see README). */
  def record(ctx: Ctx, out: Path): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer.getOrElse(new Tracer(spark))
    val names = SparkEntry.queries.keySet.diff(Excluded).toSeq.sorted
    val serving = ctx.workDir.resolve("target/serving")
    val rows = names.zipWithIndex.map { case (n, i) =>
      val artifactBytes = Files2.bytesUnder(serving)
      val rec = try {
        val ((c, p, e), o) = tr.span(s"query:$n", i) {
          val (df, c) = tr.span("construct", i)(query(n)(spark, ctx.sfDir))
          val (_, p) = tr.span("plan", i)(df.queryExecution.executedPlan)
          val (_, e) = tr.span("execute", i)(noop(df))
          (c, p, e)
        }
        val (cnt, hash) = ContentHash.of(query(n)(spark, ctx.sfDir))
        Map("seconds" -> o.seconds, "construct_s" -> c.seconds, "plan_s" -> p.seconds,
          "exec_s" -> e.seconds, "jobs" -> tr.counts(o).jobs,
          "jobs_in_construct" -> tr.counts(c).jobs, "rows" -> cnt, "hash" -> hash,
          "artifact_mb" -> (Files2.bytesUnder(serving) - artifactBytes) / 1e6)
      } catch { case e: Throwable => Map("error" -> e.toString) }
      Session.settle(spark)
      ctx.log(s"$n $rec")
      n -> rec
    }
    Files2.write(out, Json.pretty(Map("queries" -> rows.toMap)))
  }
}
