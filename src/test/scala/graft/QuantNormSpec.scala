package graft

import org.apache.spark.sql.functions._

import graft.operators.{QuantNorm, Scale}

class QuantNormSpec extends SparkSpecBase {
  import spark.implicits._

  test("a shifted source maps onto the global distribution exactly") {
    // source a: 1..4, source b: 101..104 (same shape, shifted)
    val docs = ((1 to 4).map(i => (i.toLong, "a", i.toLong)) ++
      (1 to 4).map(i => (100L + i, "b", 100L + i)))
      .toDF("doc_id", "source", "n_chars")
    val out = QuantNorm.quantileNormalize(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // n_s=4, N=8: within-source rank r maps to global rank 2r →
    // global sorted values (1,2,3,4,101,102,103,104) at ranks 2,4,6,8
    // give normalized values 2, 4, 102, 104
    assert(out(1L) == 2L && out(2L) == 4L && out(3L) == 102L && out(4L) == 104L)
    // the shifted source lands on the SAME normalized values
    assert(out(101L) == 2L && out(102L) == 4L && out(103L) == 102L && out(104L) == 104L)
  }

  test("grouped-rank path is result-identical to the window path") {
    val docs = Tables.documents(spark, sf)
    val grouped = Scale.forcingSide(true)(QuantNorm.quantileNormalize(docs))
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(QuantNorm.quantileNormalize(docs))
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window quantile normalization diverge")
  }

  test("normalization preserves within-source order; fixture is total") {
    val out = QuantNorm.qQuantileNormalize(spark, sf).cache()
    assert(out.count() == Tables.documents(spark, sf).count())
    // within each source, norm_chars is monotone in (n_chars, doc_id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val bad = out.withColumn("prev", lag(col("norm_chars"), 1).over(w))
      .filter(col("prev").isNotNull && col("norm_chars") < col("prev"))
      .count()
    assert(bad == 0, "normalized values must preserve source-local order")
    // top-ranked doc per source maps to the global maximum
    val gmax = out.agg(max(col("n_chars"))).head().getLong(0)
    val tops = out.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id").desc)))
      .filter(col("rn") === 1)
    assert(tops.filter(col("norm_chars") =!= gmax).count() == 0)
  }

  test("winsorize: hand-computed bounds on a planted group") {
    import spark.implicits._
    // values 1..100, one type: p05 rank = ceil(100/20) = 5 → lo = 5,
    // p95 rank = ceil(95·100/100)... (19n+19) div 20 = 95 → hi = 95
    val ev = (1 to 100).map(i => (i.toLong, "t", i.toDouble))
      .toDF("event_id", "event_type", "value")
    val out = QuantNorm.winsorize(ev).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) == 5.0 && out(4L) == 5.0, "below p05 clamps up")
    assert(out(5L) == 5.0 && out(50L) == 50.0 && out(95L) == 95.0)
    assert(out(96L) == 95.0 && out(100L) == 95.0, "above p95 clamps down")
  }

  test("winsorize: grouped prefix-sum path ≡ window path; bounds contain the middle") {
    val ev = Tables.events(spark, sf)
    val grouped = Scale.forcingSide(true)(QuantNorm.winsorize(ev))
      .orderBy(col("event_id")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(QuantNorm.winsorize(ev))
      .orderBy(col("event_id")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window winsorize diverge")
    // ~90% of rows must be untouched (the definition of a 5/95 clamp)
    val n = windowed.length
    val touched = windowed.count(r => r(2) != r(3))
    assert(touched <= n / 5 && touched > 0, s"$touched of $n clamped")
  }
}
