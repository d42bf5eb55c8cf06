package graft

import org.apache.spark.sql.functions._

import graft.operators.{Scale, WeightedMedian}

class WeightedMedianSpec extends SparkSpecBase {
  import spark.implicits._

  private def li(rows: Seq[(Double, Double)]) =
    rows.zipWithIndex.map { case ((p, q), i) =>
      ("A", p, q, i.toLong, i.toLong) }
      .toDF("l_returnflag", "l_extendedprice", "l_quantity",
        "l_orderkey", "l_linenumber")

  test("a heavy row dominates the weighted median") {
    // prices 10 (w=1), 20 (w=10), 30 (w=1): half of 12 sits inside the
    // 20-row → weighted median 20; the UNweighted median would also be
    // 20 here, so add the contrast case below
    val r = WeightedMedian.weightedQuartiles(
      li(Seq((10.0, 1.0), (20.0, 10.0), (30.0, 1.0)))).collect().head
    assert(r.getAs[Double]("wmedian_price") == 20.0)
    // prices 10 (w=100), 20 (w=1), 30 (w=1): the weight mass is at 10
    val r2 = WeightedMedian.weightedQuartiles(
      li(Seq((10.0, 100.0), (20.0, 1.0), (30.0, 1.0)))).collect().head
    assert(r2.getAs[Double]("wmedian_price") == 10.0)
    assert(r2.getAs[Double]("wq3_price") == 10.0, "q3 also inside the mass")
  }

  test("uniform weights reduce to the plain lower median") {
    // 4 equal-weight rows 1,2,3,4 → lower weighted median = 2, q1 = 1
    val r = WeightedMedian.weightedQuartiles(
      li(Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 1.0)))).collect().head
    assert(r.getAs[Double]("wmedian_price") == 2.0)
    assert(r.getAs[Double]("wq1_price") == 1.0)
    assert(r.getAs[Double]("wq3_price") == 3.0)
  }

  test("grouped prefix-sum path is result-identical to the window path") {
    val li = Tables.lineitem(spark, sf)
    val grouped = Scale.forcingSide(true)(WeightedMedian.weightedQuartiles(li))
      .orderBy(col("l_returnflag")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(WeightedMedian.weightedQuartiles(li))
      .orderBy(col("l_returnflag")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window weighted quartiles diverge")
    // the dial is SIZE-aware (measured crossover, SCALE.md r10): at
    // fixture scale each group is small → plain window; a group past
    // HotGroupMinRowsPerGroup flips to the distributed prefix sums
    assert(!graft.operators.Scale.hotGroups(li, Seq("l_returnflag")))
    // the threshold is WIDTH-aware (r17): size the planted giant off
    // the frame's own flip point (padding columns keep it ~7M rows)
    def giantOf(n: Long) = spark.range(n).select(lit("g0").as("grp"),
      col("id"), lit("pad0").as("p0"), lit("pad1").as("p1"),
      lit("pad2").as("p2"), lit("pad3").as("p3"))
    val need = graft.operators.Scale.hotRowThreshold(giantOf(1L))
    assert(graft.operators.Scale.hotGroups(giantOf(need), Seq("grp")))
  }

  test("fixture: quartiles ordered and inside the price range per flag") {
    val out = WeightedMedian.qWeightedQuartiles(spark, sf).collect()
    assert(out.length == 3)
    out.foreach { r =>
      val (q1, m, q3) = (r.getAs[Double]("wq1_price"),
        r.getAs[Double]("wmedian_price"), r.getAs[Double]("wq3_price"))
      assert(q1 <= m && m <= q3, s"disordered quartiles in $r")
    }
  }
}
