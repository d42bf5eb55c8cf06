package graft

import org.apache.spark.sql.functions._

import graft.operators.{Robust, Scale}

class RobustSpec extends SparkSpecBase {
  import spark.implicits._

  private def li(rows: Seq[(String, Double)]) =
    rows.zipWithIndex.map { case ((f, p), i) =>
      (f, p, i.toLong, 1) }.toDF(
      "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")

  test("trimmed mean drops exactly the rank tails, hand-checked") {
    // 20 values 1..20 (in dollars): trim 1 from each tail → mean of 2..19
    val rows = (1 to 20).map(v => ("A", v.toDouble))
    val r = Robust.trimmedMean(li(rows)).head()
    assert(r.getLong(1) == 18L)
    // sum cents of 2..19 dollars = 100 * (2+...+19) = 100*189
    assert(r.getLong(2) == 18900L)
    assert(r.getLong(3) == 18900L / 18)
    // an extreme outlier in the tail does not move the trimmed mean
    val out = Robust.trimmedMean(li(rows :+ ("A", 1e9))).head()
    // 21 values → trim floor(21/20)=1 each side → keeps 2..20
    assert(out.getLong(1) == 19L)
    assert(out.getLong(2) == 100L * (2 to 20).sum)
  }

  test("mad: hand-checked and outlier-resistant") {
    // values 1..7: median 4, deviations {3,2,1,0,1,2,3} → MAD = 2
    val r = Robust.madByFlag(li((1 to 7).map(v => ("A", v.toDouble)))).head()
    assert(r.getLong(1) == 400L && r.getLong(2) == 200L)
    // replacing the max with a huge outlier leaves median and MAD intact
    val r2 = Robust.madByFlag(
      li((1 to 6).map(v => ("A", v.toDouble)) :+ ("A", 1e8))).head()
    assert(r2.getLong(1) == 400L && r2.getLong(2) == 200L)
  }

  test("fixture: per-flag results bounded and forced-switch identical") {
    val l = Tables.lineitem(spark, sf)
    val a = Scale.forcingSide(true)(Robust.madByFlag(l)).orderBy(col("l_returnflag"))
      .collect().map(_.toSeq)
    val b = Scale.forcingSide(false)(Robust.madByFlag(l)).orderBy(col("l_returnflag"))
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    val t1 = Scale.forcingSide(true)(Robust.trimmedMean(l)).orderBy(col("l_returnflag"))
      .collect().map(_.toSeq)
    val t2 = Scale.forcingSide(false)(Robust.trimmedMean(l)).orderBy(col("l_returnflag"))
      .collect().map(_.toSeq)
    assert(t1.toSeq == t2.toSeq)
    // trimmed mean sits inside the untrimmed range; MAD non-negative
    t1.foreach(r => assert(r(3).asInstanceOf[Long] > 0))
    a.foreach(r => assert(r(2).asInstanceOf[Long] >= 0))
  }
}
