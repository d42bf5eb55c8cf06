package graft

import org.apache.spark.sql.functions._

import graft.operators.{DupWeights, Scale}

class DupWeightsSpec extends SparkSpecBase {
  import spark.implicits._

  test("dup weights: total training mass equals the number of distinct contents") {
    val out = DupWeights.qDupWeights(spark, sf).cache()
    assert(out.count() == Tables.documents(spark, sf).count())
    // weight is exactly 1000/size (floor)
    assert(out.filter(col("weight_milli") =!=
      expr("1000 div cluster_size")).count() == 0)
    // singletons carry full weight
    assert(out.filter(col("cluster_size") === 1 && col("weight_milli") =!= 1000)
      .count() == 0)
    // per cluster, members share one cluster_size
    val bad = out.groupBy(col("cluster_id"))
      .agg(countDistinct(col("cluster_size")).as("d"),
        count(lit(1)).as("n"), max(col("cluster_size")).as("s"))
      .filter(col("d") =!= 1 || col("n") =!= col("s")).count()
    assert(bad == 0)
  }

  test("padding waste: bucketed batching never wastes more than naive") {
    val out = DupWeights.qPaddingWaste(spark, sf).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val (naive, bucketed) = (r.getLong(2), r.getLong(3))
      assert(bucketed <= naive,
        s"bucketing increased waste for ${r.getString(0)}: $bucketed > $naive")
      assert(bucketed >= 0 && naive >= 0)
    }
    // and it must actually help somewhere, or the report is vacuous
    assert(out.exists(r => r.getLong(3) < r.getLong(2)))
  }

  test("padding waste grouped-rank path is result-identical to the window path") {
    val docs = Tables.documents(spark, sf)
    val grouped = Scale.forcingSide(true)(DupWeights.paddingWaste(docs))
      .orderBy(col("source")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(DupWeights.paddingWaste(docs))
      .orderBy(col("source")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window padding waste diverge")
  }

  test("padding waste hand-check: lengths 1,9 batched together vs apart") {
    // batch size 8: 16 docs with lengths 1×8 then 9×8, ids interleaved so
    // the naive (id) order mixes them while length order separates them
    val docs = (0 until 16).map { i =>
      val len = if (i % 2 == 0) 1 else 9
      (i.toLong, ("w " * len).trim, "s0")
    }.toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")))
    val r = DupWeights.paddingWaste(docs).collect().head
    // bucketed: two pure batches → waste 0; naive: every batch max 9,
    // half the rows are len 1 → waste = 8 per batch × 2... = (9−1)×4×2
    assert(r.getLong(3) == 0L, s"bucketed waste ${r.getLong(3)}")
    assert(r.getLong(2) == 64L, s"naive waste ${r.getLong(2)}")
  }
}
