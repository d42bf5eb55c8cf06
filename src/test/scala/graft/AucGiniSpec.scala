package graft

import org.apache.spark.sql.functions._

import graft.operators.{Auc, Gini, Scale}

class AucGiniSpec extends SparkSpecBase {
  import spark.implicits._

  test("auc: perfect separation = 1000, reversed = 0, ties = 500") {
    def auc(rows: Seq[(Long, Boolean)]): (Long, Long, Long, Long) = {
      val r = Auc.rankAuc(rows.toDF("s", "y"), col("s"), col("y")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // positives all score higher than negatives
    assert(auc(Seq((10L, true), (11L, true), (1L, false), (2L, false)))
      == ((2L, 2L, 8L, 1000L)))
    // reversed ordering
    assert(auc(Seq((1L, true), (2L, true), (10L, false), (11L, false)))
      == ((2L, 2L, 0L, 0L)))
    // every score tied → U = pos·neg/2 → 500
    assert(auc(Seq((5L, true), (5L, true), (5L, false), (5L, false)))
      == ((2L, 2L, 4L, 500L)))
  }

  test("auc hand-check with a mixed ordering") {
    // scores: pos {3, 1}, neg {2, 0}: pairs (3>2),(3>0),(1>0) = 3 wins,
    // (1<2) = 1 loss, no ties → U = 3, 2U = 6, auc = 750
    val r = Auc.rankAuc(
      Seq((3L, true), (1L, true), (2L, false), (0L, false)).toDF("s", "y"),
      col("s"), col("y")).head()
    assert((r.getLong(2), r.getLong(3)) == ((6L, 750L)))
  }

  test("auc on single-class input is NULL, not a wrap or engine divergence") {
    // ADVICE r10: n_pos·n_neg = 0 used to NULL in Spark but error in the
    // DuckDB twin; now both sides CASE-guard to NULL explicitly
    val allPos = Auc.rankAuc(
      Seq((3L, true), (1L, true)).toDF("s", "y"), col("s"), col("y")).head()
    assert(allPos.getLong(0) == 2L && allPos.getLong(1) == 0L)
    assert(allPos.isNullAt(3), s"expected NULL auc_milli, got $allPos")
    val allNeg = Auc.rankAuc(
      Seq((3L, false), (1L, false)).toDF("s", "y"), col("s"), col("y")).head()
    assert(allNeg.isNullAt(3))
  }

  test("auc on the fixture: bounded, and total pairs reconcile") {
    val r = Auc.qLengthAuc(spark, sf).head()
    val (nPos, nNeg, u2, auc) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nPos > 0 && nNeg > 0)
    assert(u2 >= 0 && u2 <= 2 * nPos * nNeg)
    assert(auc >= 0 && auc <= 1000)
  }

  test("gini: equal spend = 0; extreme concentration approaches (n-1)/n") {
    def gini(cents: Seq[Long]): Long = {
      val cust = cents.indices.map(i => (i.toLong, 7L)).toDF("c_custkey", "c_nationkey")
      val ords = cents.zipWithIndex.map { case (c, i) =>
        (i.toLong, c / 100.0) }.toDF("o_custkey", "o_totalprice")
      Gini.giniBySpend(cust, ords).head().getLong(3)
    }
    assert(gini(Seq(500L, 500L, 500L, 500L)) == 0L)
    // one customer owns ~everything: G → (n−1)/n = 0.75 for n=4
    val g = gini(Seq(1L, 1L, 1L, 1000000L))
    assert(g >= 740L && g <= 750L, s"concentrated gini $g")
  }

  test("gini rank-weighted sum survives values that overflow Int64 (decimal path)") {
    // ADVICE r10: 1000·(2·rs − (n+1)·total) wrapped silently in Long.
    // 100 members × 1e11-cent spends → numerator ~1.7e19 > Long.MAX;
    // the decimal(38,0) path must match an exact BigInt evaluation.
    val n = 100
    val cust = (0 until n).map(i => (i.toLong, 7L)).toDF("c_custkey", "c_nationkey")
    val ords = (0 until n).map(i => (i.toLong, (i + 1) * 1e9))
      .toDF("o_custkey", "o_totalprice")
    val got = Gini.giniBySpend(cust, ords).head()
    val cents = (1 to n).map(i => BigInt(i) * BigInt("100000000000"))
    val total = cents.sum
    val rs = cents.zipWithIndex.map { case (c, i) => BigInt(i + 1) * c }.sum
    val expected = (BigInt(1000) * (2 * rs - BigInt(n + 1) * total)) /
      (BigInt(n) * total)
    assert(BigInt(1000) * (2 * rs - BigInt(n + 1) * total) > BigInt(Long.MaxValue),
      "fixture no longer exercises the overflow regime")
    assert(got.getLong(3) == expected.toLong,
      s"gini_milli ${got.getLong(3)} != exact $expected")
  }

  test("gini survives a SINGLE rnk*cents product over Long.MAX (operand-cast, not product-cast)") {
    // ADVICE r11: casting the PRODUCT to decimal computes it in Int64
    // first — silent wrap under non-ANSI, ARITHMETIC_OVERFLOW under
    // ANSI; the operand must widen before the multiply. 150k members at
    // 1 cent plus one 9e13-cent whale: the whale ranks LAST, so its
    // single product is (n+1)·9e13 ≈ 1.35e19 > Long.MAX while
    // total_cents stays inside the operator's BIGINT contract.
    val n = 150000
    val whale = BigInt("90000000000000")
    val cust = (0 to n).map(i => (i.toLong, 7L)).toDF("c_custkey", "c_nationkey")
    val ords = ((0 until n).map(i => (i.toLong, 0.01)) :+ (n.toLong, 9e11))
      .toDF("o_custkey", "o_totalprice")
    assert(BigInt(n + 1) * whale > BigInt(Long.MaxValue),
      "fixture no longer exercises the single-product overflow regime")
    val got = Scale.forcingSide(false)(Gini.giniBySpend(cust, ords)).head()
    val cents = Seq.fill(n)(BigInt(1)) :+ whale
    val total = cents.sum
    assert(total < BigInt(Long.MaxValue), "total_cents out of BIGINT contract")
    val rs = cents.zipWithIndex.map { case (c, i) => BigInt(i + 1) * c }.sum
    val expected = (BigInt(1000) * (2 * rs - BigInt(n + 2) * total)) /
      (BigInt(n + 1) * total)
    assert(got.getLong(3) == expected.toLong,
      s"gini_milli ${got.getLong(3)} != exact $expected")
  }

  test("gini on the fixture: every nation bounded in [0, 1000) and n reconciles") {
    val out = Gini.qGiniBySpend(spark, sf).collect()
    assert(out.length == 25)
    out.foreach { r =>
      assert(r.getLong(3) >= 0 && r.getLong(3) < 1000, r.toString)
    }
    val buyers = Tables.orders(spark, sf).select(col("o_custkey")).distinct().count()
    assert(out.map(_.getLong(1)).sum == buyers)
  }

  test("gini grouped-rank path is result-identical to the window path") {
    val (c, o) = (Tables.customer(spark, sf), Tables.orders(spark, sf))
    val a = Scale.forcingSide(true)(Gini.giniBySpend(c, o)).orderBy(col("nation"))
      .collect().map(_.toSeq)
    val b = Scale.forcingSide(false)(Gini.giniBySpend(c, o)).orderBy(col("nation"))
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }
}
