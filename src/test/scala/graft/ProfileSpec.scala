package graft

import org.apache.spark.sql.functions._

import graft.operators.{Profile, Scale}

class ProfileSpec extends SparkSpecBase {
  import spark.implicits._

  test("equi-depth buckets partition each type with near-equal depths") {
    val out = Profile.qEquiDepth(spark, sf).cache()
    val byType = out.groupBy(col("event_type"))
      .agg(sum(col("n_rows")).as("total"), count(lit(1)).as("nb"),
        min(col("n_rows")).as("mn"), max(col("n_rows")).as("mx")).collect()
    val events = Tables.events(spark, sf)
    val counts = events.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    byType.foreach { r =>
      assert(r.getLong(1) == counts(r.getString(0)), "buckets must partition")
      assert(r.getLong(2) == 10, "10 buckets per type")
      // depths differ by at most 1 (the defining equi-depth property)
      assert(r.getLong(4) - r.getLong(3) <= 1, r.toString)
    }
    // bucket value ranges are non-overlapping and ordered: lo of bucket
    // b+1 is >= hi of bucket b
    val rows = out.orderBy(col("event_type"), col("bucket")).collect()
    rows.sliding(2).foreach {
      case Array(a, b) if a.getString(0) == b.getString(0) =>
        assert(b.getDouble(3) >= a.getDouble(4) - 1e-12,
          s"overlap between buckets ${a.getLong(1)} and ${b.getLong(1)}")
      case _ => ()
    }
  }

  test("ship latency: hand-computed percentile selection on a planted group") {
    // 10 rows, lags 1..10 → p50 = rank 5 → 5; p90 = rank 9 → 9; mean 5500
    val li = (1 to 10).map(i => (100L + i, i.toLong, s"2024-01-${10 + i}"))
      .toDF("l_orderkey", "l_linenumber", "l_shipdate")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
    val ord = (1 to 10).map(i => (100L + i, "1-URGENT", "2024-01-10"))
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    val r = Profile.shipLatency(li, ord).collect().head
    assert(r.getLong(1) == 10)
    assert(r.getLong(2) == 5500L, s"mean_milli ${r.getLong(2)}")
    assert(r.getLong(3) == 5L && r.getLong(4) == 9L,
      s"p50 ${r.getLong(3)} p90 ${r.getLong(4)}")
  }

  test("fixture latency: percentiles ordered, every priority present") {
    val out = Profile.qShipLatency(spark, sf).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(r.getLong(3) <= r.getLong(4), s"p50 > p90 in $r")
    }
  }

  test("ship latency: grouped prefix-sum path is result-identical to the window path") {
    val (li, ord) = (Tables.lineitem(spark, sf), Tables.orders(spark, sf))
    val grouped = Scale.forcingSide(true)(Profile.shipLatency(li, ord))
      .orderBy(col("o_orderpriority")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(Profile.shipLatency(li, ord))
      .orderBy(col("o_orderpriority")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window ship latency diverge")
  }

  test("equi-depth: grouped prefix-sum path is result-identical to the window path") {
    val ev = Tables.events(spark, sf)
    val grouped = Scale.forcingSide(true)(Profile.equiDepth(ev))
      .orderBy(col("event_type"), col("bucket")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(Profile.equiDepth(ev))
      .orderBy(col("event_type"), col("bucket")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window equi-depth diverge")
  }

  test("grouped mode plans NO per-key window — the r9 single-task-sort shape is gone") {
    val ev = Tables.events(spark, sf)
    // forced-hot: ranks come from the distributed prefix-sum mapPartitions
    // scan, so the physical plan must contain no Window operator at all
    // (a Window partitioned by the ~5-value event_type would be the
    // handful-of-giant-tasks scale-killer)
    val hotPlan = Scale.forcingSide(true)(Profile.equiDepth(ev))
      .queryExecution.executedPlan.toString
    assert(!hotPlan.contains("Window"),
      s"grouped mode still plans a Window:\n$hotPlan")
    val hotShip = Scale.forcingSide(true)(Profile.shipLatency(
        Tables.lineitem(spark, sf), Tables.orders(spark, sf)))
      .queryExecution.executedPlan.toString
    assert(!hotShip.contains("Window"),
      s"grouped ship latency still plans a Window:\n$hotShip")
    // non-vacuous control: the plain path DOES plan the per-key window
    val coldPlan = Scale.forcingSide(false)(Profile.equiDepth(ev))
      .queryExecution.executedPlan.toString
    assert(coldPlan.contains("Window"), "control: cold path should window")
  }
}
