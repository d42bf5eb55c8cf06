package graft

import org.apache.spark.sql.functions._

import graft.operators.{Mining, Scale}

/** Boxplot and association-rule semantics on hand-built data. */
class MiningSpec extends SparkSpecBase {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("boxplot five-number summary on known values") {
    import spark.implicits._
    // values 1..8 for one type: q1 = rank ceil(2) = 2, median = rank 4,
    // q3 = rank 6
    val events = (1 to 8).map(i =>
      (i.toLong, ts("2024-01-01 10:00:00"), 1L, "a", i.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Mining.boxplot(events).collect().head
    assert(r.getAs[Long]("n") == 8L)
    assert(r.getAs[Double]("v_min") == 1.0)
    assert(r.getAs[Double]("q1") == 2.0)
    assert(r.getAs[Double]("median") == 4.0)
    assert(r.getAs[Double]("q3") == 6.0)
    assert(r.getAs[Double]("v_max") == 8.0)
  }

  test("boxplot quartiles are ordered on the fixture and n reconciles") {
    val out = Mining.qBoxplot(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val vs = Seq(r.getAs[Double]("v_min"), r.getAs[Double]("q1"),
        r.getAs[Double]("median"), r.getAs[Double]("q3"),
        r.getAs[Double]("v_max"))
      assert(vs.zip(vs.tail).forall { case (a, b) => a <= b }, r.toString)
    }
    val total = out.map(_.getAs[Long]("n")).sum
    assert(total == Tables.events(spark, sf).count())
  }

  test("boxplot grouped-rank path is result-identical to the window path") {
    val ev = Tables.events(spark, sf)
    val grouped = Scale.forcingSide(true)(Mining.boxplot(ev))
      .orderBy(col("event_type")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(Mining.boxplot(ev))
      .orderBy(col("event_type")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window boxplot diverge")
  }

  test("association rules: confidence and lift on a planted basket corpus") {
    import spark.implicits._
    // 10 baskets (users, one day): 8 contain a+b, 2 contain only c.
    // n_a = n_b = 8, n_ab = 8, N = 10:
    //   confidence(a→b) = 1000, lift = ⌊8·10·1000/64⌋ = 1250
    val rows = (1 to 8).flatMap(u => Seq(
      (u * 10L, ts("2024-01-01 10:00:00"), u.toLong, "a", 1.0, "{}"),
      (u * 10L + 1, ts("2024-01-01 11:00:00"), u.toLong, "b", 1.0, "{}"))) ++
      Seq((900L, ts("2024-01-01 10:00:00"), 9L, "c", 1.0, "{}"),
        (910L, ts("2024-01-01 10:00:00"), 10L, "c", 1.0, "{}"))
    val events = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Mining.assocRules(events, minSupport = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(5), r.getLong(6))).toMap
    assert(out(("a", "b")) == ((8L, 1000L, 1250L)))
    assert(out(("b", "a")) == ((8L, 1000L, 1250L)))
    assert(!out.keySet.exists(p => p._1 == "c" || p._2 == "c"))
  }

  test("cohort LTV triangle: offsets, sizes, and revenue reconcile") {
    import graft.operators.Ltv
    val orders = Tables.orders(spark, sf)
    val out = Ltv.cohortLtv(orders).cache()
    // every customer's cohort row exists at offset 0
    assert(out.filter(col("year_offset") === 0).count() ==
      out.select(col("cohort_year")).distinct().count())
    // offsets are non-negative and active ≤ cohort size
    assert(out.filter(col("year_offset") < 0).count() == 0)
    assert(out.filter(col("active_customers") > col("cohort_size")).count() == 0)
    // total revenue over all cells equals the fact total (exact decimals)
    val cellTotal = out.agg(sum(col("revenue"))).collect().head.getDouble(0)
    val factTotal = orders.agg(
      sum(col("o_totalprice").cast("decimal(14,2)")).cast("double"))
      .collect().head.getDouble(0)
    assert(cellTotal == factTotal)
    out.unpersist()
  }

  test("week-over-week delta on a planted two-week fact") {
    import spark.implicits._
    import graft.operators.Ltv
    val orders = Seq(
      (1L, 1L, "O", 100.0, ts("1995-01-02 00:00:00"), "1-URGENT"), // wk 1
      (2L, 1L, "O", 150.0, ts("1995-01-09 00:00:00"), "1-URGENT")) // wk 2
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Ltv.weeklyChange(orders).orderBy(col("yr"), col("wk")).collect()
    assert(out.head.isNullAt(4)) // first week has no predecessor
    assert(out(1).getLong(4) == 500L) // +50% → 500 milli
  }

  test("top paths: order matters, short sessions are skipped") {
    import spark.implicits._
    import graft.operators.Paths
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a", 1.0, "{}"),
      (2L, ts("2024-01-01 10:01:00"), 1L, "b", 1.0, "{}"),
      (3L, ts("2024-01-01 10:02:00"), 1L, "c", 1.0, "{}"),
      (4L, ts("2024-01-01 10:03:00"), 1L, "d", 1.0, "{}"), // beyond prefix
      (5L, ts("2024-01-01 10:00:00"), 2L, "b", 1.0, "{}"), // different order
      (6L, ts("2024-01-01 10:01:00"), 2L, "a", 1.0, "{}"),
      (7L, ts("2024-01-01 10:02:00"), 2L, "c", 1.0, "{}"),
      (8L, ts("2024-01-01 10:00:00"), 3L, "a", 1.0, "{}"), // only 2 events
      (9L, ts("2024-01-01 10:01:00"), 3L, "b", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Paths.topPaths(events).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out == Map("a>b>c" -> 1L, "b>a>c" -> 1L))
  }

  test("degree distribution reconciles with the node and edge counts") {
    import graft.operators.{Graph, Paths}
    val edges = Graph.purchaseEdges(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)).cache()
    val out = Paths.degreeDistribution(edges).collect()
    val nodes = edges.select(col("src")).distinct().count()
    val total = edges.count()
    assert(out.map(_.getAs[Long]("n_nodes")).sum == nodes)
    // buckets hold their ranges: min/max within [2^(bits-1), 2^bits)
    out.foreach { r =>
      val bits = r.getAs[Int]("degree_bits")
      val lo = 1L << (bits - 1)
      val hi = (1L << bits) - 1
      assert(r.getAs[Long]("min_degree") >= lo &&
        r.getAs[Long]("max_degree") <= hi, r.toString)
    }
    assert(total > 0)
    edges.unpersist()
  }

  test("pareto: cumulative share is monotone and ends at exactly 10000 bp") {
    import graft.operators.Pareto
    val out = Pareto.qSupplierPareto(spark, sf).collect()
    assert(out.nonEmpty)
    val shares = out.map(_.getAs[Long]("cum_share_bp"))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    assert(shares.last == 10000L)
    // ranks are 1..n by descending revenue (BIGINT since the r16 dial:
    // the lifted distributed rank is a long, so both plan shapes agree)
    assert(out.map(_.getAs[Long]("rnk")).toSeq ==
      (1 to out.length).map(_.toLong))
    val revs = out.map(_.getAs[Double]("revenue"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
    // the top-80 flag flips exactly once
    val flags = out.map(_.getAs[Boolean]("in_top80"))
    assert(flags.zip(flags.tail).count { case (a, b) => a != b } <= 1)
  }

  test("order aging buckets planted ages correctly") {
    import spark.implicits._
    import graft.operators.Pareto
    val orders = Seq(
      (1L, 1L, "O", 10.0, ts("1998-07-01 00:00:00"), "1-URGENT"), // age 31
      (2L, 1L, "O", 20.0, ts("1996-01-01 00:00:00"), "1-URGENT"), // age ~943
      (3L, 1L, "F", 30.0, ts("1995-01-01 00:00:00"), "1-URGENT"), // closed
      (4L, 1L, "O", 40.0, ts("1998-08-01 00:00:00"), "1-URGENT")) // age 0
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Pareto.orderAging(orders).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(4))).toMap
    assert(out == Map("0-1y" -> ((2L, 50.0)), "2-4y" -> ((1L, 20.0))))
  }

  test("association rules ignore repeated events inside a basket") {
    import spark.implicits._
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a", 1.0, "{}"),
      (2L, ts("2024-01-01 10:05:00"), 1L, "a", 1.0, "{}"), // dup type
      (3L, ts("2024-01-01 11:00:00"), 1L, "b", 1.0, "{}"),
      (4L, ts("2024-01-02 10:00:00"), 1L, "a", 1.0, "{}"), // next day
      (5L, ts("2024-01-02 11:00:00"), 1L, "b", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Mining.assocRules(events, minSupport = 1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // two baskets, each contributing ONE a→b co-presence
    assert(out(("a", "b")) == 2L)
  }
}
