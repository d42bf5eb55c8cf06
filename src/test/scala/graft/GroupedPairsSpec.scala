package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The r18 in-group pair generator ([[Dedup.groupedPairs]]) must emit
  * EXACTLY the two-leg self-equi-join's candidate stream — same pairs,
  * same multiplicity (one row per shared key), ordered a < b by the
  * payload's first field — since every converted operator's counts
  * (inter, shared_shingles, n_co) are aggregates over that stream. */
class GroupedPairsSpec extends SparkSpecBase {

  test("groupedPairs ≡ self-join pairs: multiset equality, a<b, null keys dropped") {
    import spark.implicits._
    // adversarial exploded frame: skewed key fan-in (one key shared by
    // many ids), singleton keys (no pair), null keys (must pair with
    // nothing), ids deliberately NOT arriving in sorted order
    val rows = Seq(
      (5L, 50L, "k1"), (1L, 10L, "k1"), (3L, 30L, "k1"), (2L, 20L, "k1"),
      (9L, 90L, "k2"), (4L, 40L, "k2"),
      (7L, 70L, "lonely"),
      (8L, 80L, null.asInstanceOf[String]), (6L, 60L, null.asInstanceOf[String]))
    val ex = rows.toDF("doc_id", "n_sh", "sh")
    val grouped = Dedup.groupedPairs(ex, "sh",
        struct(col("doc_id"), col("n_sh")))
      .select(col("a.doc_id").as("doc_a"), col("a.n_sh").as("n_a"),
        col("b.doc_id").as("doc_b"), col("b.n_sh").as("n_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val a = ex.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("sh"))
    val b = ex.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"), col("sh"))
    val joined = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("n_a"), col("doc_b"), col("n_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(grouped == joined, "pair multisets must be identical")
    assert(grouped.forall { case (da, _, db, _) => da < db }, "a < b per pair")
    // the skewed key alone contributes C(4,2) = 6 pairs; null keys none
    assert(joined.count { case (da, _, _, _) => da <= 5L } >= 6)
    assert(!grouped.exists { case (da, _, db, _) => da == 6L || db == 8L })
  }

  test("multiplicity: a pair shared by two keys appears twice (the distinct stays the caller's)") {
    import spark.implicits._
    val ex = Seq((1L, "x"), (2L, "x"), (1L, "y"), (2L, "y"))
      .toDF("id", "k")
    val n = Dedup.groupedPairs(ex, "k", struct(col("id"))).count()
    assert(n == 2L, "one pair row per shared key, exactly like the join")
  }

  test("a payload repeated under one key never pairs with itself") {
    import spark.implicits._
    // doc 1 contributes key k twice: the sorted group is [1, 1, 2]
    val ex = Seq((1L, "k"), (1L, "k"), (2L, "k")).toDF("id", "k")
    val pairs = Dedup.groupedPairs(ex, "k", struct(col("id")))
      .select(col("a.id"), col("b.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(!pairs.exists { case (a, b) => a == b }, "no (x, x) pair")
    // the self-join's a < b keeps one (1, 2) row per copy of doc 1
    assert(pairs == Seq((1L, 2L), (1L, 2L)))
  }
}
