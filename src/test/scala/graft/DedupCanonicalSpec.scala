package graft

import graft.operators.Dedup

/** Canonical selection: exactly one survivor per cluster, survivorship
  * rule enforced (longest doc, lowest id on ties), singletons keep
  * themselves, and nothing is lost — the verdict covers every doc. */
class DedupCanonicalSpec extends SparkSpecBase {

  test("one survivor per cluster; longest wins; total coverage") {
    val docs = Tables.documents(spark, sf)
    val total = docs.count()
    val rows = Dedup.qDedupCanonical(spark, sf).collect()
    assert(rows.length == total, "every doc gets a verdict")
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, rs) =>
      val kept = rs.filter(_.getInt(3) == 1)
      assert(kept.length == 1, s"cluster $cid must keep exactly one")
      val k = kept.head
      // survivor beats every dropped member on (n_chars desc, doc_id asc)
      rs.filter(_.getInt(3) == 0).foreach { d =>
        val better = d.getLong(2) > k.getLong(2) ||
          (d.getLong(2) == k.getLong(2) && d.getLong(0) < k.getLong(0))
        assert(!better, s"cluster $cid kept ${k.getLong(0)} over ${d.getLong(0)}")
      }
      // the cluster id is the minimum member id (CC contract + coalesce)
      assert(cid == rs.map(_.getLong(0)).min)
    }
    // singletons (clusters of one) keep themselves
    val singles = byCluster.filter(_._2.length == 1)
    assert(singles.nonEmpty)
    singles.values.foreach(rs => assert(rs.head.getInt(3) == 1))
    // the fixture contains at least one real multi-doc cluster
    assert(byCluster.exists(_._2.length > 1))
  }

  test("a member with null n_chars never survives a sized one (twin: DESC puts nulls last)") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog near the quiet river bank"
    val b = "seven silver swans swam slowly south along the winding canal at dawn"
    val docs = Seq[(Long, String, Option[Long])](
      (1L, a, Some(10L)), (2L, a, None), (3L, a, Some(20L)),
      (10L, b, None), (11L, b, None),
      (20L, "a lone singleton document about nothing in particular", None))
      .toDF("doc_id", "text", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("canon-nulls").toString
    docs.write.parquet(s"$dir/documents.parquet")
    val keep = Dedup.qDedupCanonical(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    // cluster {1,2,3}: the largest sized member wins over the null one;
    // cluster {10,11}: all null, so the lowest id; singletons keep
    assert(keep == Map(1L -> 0, 2L -> 0, 3L -> 1, 10L -> 1, 11L -> 0, 20L -> 1),
      s"survivors drifted from the twin's ordering: $keep")
  }
}
