package graft

import org.apache.spark.sql.functions._

import graft.operators.{Auc, Quantiles, Sampling, Scale}

/** Round-10 additions: exact-proportion splits, exact-k sampling,
  * grouped scalable quantiles, PR operating points. */
class ExactSplitSpec extends SparkSpecBase {
  import spark.implicits._

  test("exact split: per-stratum counts are exactly the integer slice sizes") {
    val docs = Tables.documents(spark, sf)
    val out = Sampling.exactSplit(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val sizes = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (src, n) =>
      val train = 8 * n / 10
      val valN = 9 * n / 10 - train
      assert(out((src, "train")) == train, s"$src train")
      assert(out((src, "val")) == valN, s"$src val")
      assert(out((src, "test")) == n - train - valN, s"$src test")
    }
    // forced-switch equality (the hotGroups dial rides here too)
    val a = Scale.forcingSide(true)(Sampling.exactSplit(docs))
      .orderBy(col("source"), col("split")).collect().map(_.toSeq)
    val b = Scale.forcingSide(false)(Sampling.exactSplit(docs))
      .orderBy(col("source"), col("split")).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("exact-k sample: exactly k per source, deterministic across runs") {
    val docs = Tables.documents(spark, sf)
    val out = Sampling.exactKPerGroup(docs).cache()
    val perSource = out.groupBy(col("source")).count().collect()
    assert(perSource.forall(_.getLong(1) == Sampling.SampleK))
    // determinism: a second run picks the identical rows
    val again = Sampling.exactKPerGroup(docs)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    // ranks are contiguous 1..k
    assert(out.groupBy(col("source")).agg(max(col("r")).as("m"), min(col("r")).as("lo"))
      .collect().forall(r => r.getLong(1) == Sampling.SampleK && r.getLong(2) == 1L))
  }

  test("grouped scalable quantiles equal the windowed percentile_disc per type") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf)
    val got = Quantiles.quantilesScalableGrouped(ev).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val ranked = ev.select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    Quantiles.Ps.foreach { p =>
      val exact = ranked.filter(col("rn") === ceil(lit(p) * col("n")))
        .groupBy(col("event_type")).agg(max(col("value")).as("v"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      exact.foreach { case (t, v) =>
        assert(got((t, p)) == v, s"$t p$p: ${got((t, p))} != $v")
      }
    }
  }

  test("kmv daily merge equals the direct full-range signature (closure property)") {
    val ev = Tables.events(spark, sf)
    val merged = graft.operators.Sketches.qKmvDailyMerge(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val direct = graft.operators.Sketches.kmvDistinct(ev).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("est_distinct")).toMap
    assert(merged == direct,
      s"daily-merged KMV estimates diverge from direct: $merged vs $direct")
  }

  test("tolerant as-of nulls stale matches and keeps fresh ones, planted") {
    import graft.operators.AsOf
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def d(s: String) = java.sql.Date.valueOf(s)
    val left = Seq(
      (1L, t("2024-03-01 00:00:00"), 7L),   // 1 day after order — fresh
      (2L, t("2024-06-01 00:00:00"), 7L),   // 93 days after — stale
      (3L, t("2024-01-01 00:00:00"), 7L))   // before any order — no match
      .toDF("event_id", "ts", "user_id")
    val right = Seq((7L, d("2024-02-29"), 42L))
      .toDF("user_id", "o_orderdate", "o_orderkey")
    val out = AsOf.asofJoinTolerant(left, right, "user_id", "ts",
        "o_orderdate", Seq("o_orderkey"), maxGapDays = 30)
      .orderBy(col("event_id")).collect()
    assert(!out(0).isNullAt(3) && out(0).getLong(3) == 42L)
    assert(out(1).isNullAt(3), "stale match must be nulled")
    assert(out(2).isNullAt(3), "no prior order must stay null")
  }

  test("kmv rolling distinct: exact below K, bounded error above, window ≥ daily") {
    val out = graft.operators.Sketches.qKmvRollingDistinct(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (kept, est, exact) = (r.getLong(2), r.getLong(3), r.getLong(4))
      if (kept < graft.operators.Sketches.K) assert(est == exact, r.toString)
      else assert(math.abs(est - exact) * 100 <= 40 * exact, r.toString)
      assert(exact >= 1)
    }
  }

  test("top-k with OTHER partitions the spend exactly") {
    val out = graft.operators.Serving.qTopKWithOther(spark, sf).cache()
    val byNation = out.groupBy(col("nation"))
      .agg(sum(col("cents")).as("total"), sum(col("n_members")).as("members"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // totals reconcile with the raw orders per nation (exact cents)
    val raw = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"))
      .agg((sum(col("o_totalprice").cast("decimal(14,2)")) * 100)
        .cast("long").as("total"),
        countDistinct(col("o_custkey")).as("members"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byNation == raw, "leaderboard + OTHER does not reconcile to raw totals")
    // ≤ k top rows per nation (a nation with ≤ k buyers has no OTHER
    // row — same contract as the oracle), top spends ordered
    out.collect().groupBy(_.getInt(0)).foreach { case (_, rows) =>
      val others = rows.filter(_.getLong(1) == 0L)
      assert(others.length <= 1)
      val tops = rows.filter(_.getLong(1) > 0L).sortBy(_.getLong(1))
      assert(tops.length <= graft.operators.Serving.TopKOther)
      assert(others.isEmpty ||
        tops.length == graft.operators.Serving.TopKOther,
        "OTHER row present but top-k not full")
      assert(tops.sliding(2).forall {
        case Array(a, b) => a.getLong(3) >= b.getLong(3); case _ => true })
    }
    out.unpersist()
  }

  test("pr curve: monotone recall, planted hand-check") {
    // scores 1..10, positives at 6..10; thresholds 3 and 8
    val df = (1L to 10L).map(i => (i, i >= 6L)).toDF("s", "y")
    val out = Auc.prCurve(df, col("s"), col("y"), Seq(3L, 8L)).orderBy(col("t"))
      .collect()
    // t=3: predicted 3..10 → tp=5, fp=3, fn=0 → P=625, R=1000
    assert((out(0).getLong(1), out(0).getLong(2), out(0).getLong(3),
      out(0).getLong(4), out(0).getLong(5)) == ((5L, 3L, 0L, 625L, 1000L)))
    // t=8: predicted 8..10 → tp=3, fp=0, fn=2 → P=1000, R=600
    assert((out(1).getLong(1), out(1).getLong(2), out(1).getLong(3),
      out(1).getLong(4), out(1).getLong(5)) == ((3L, 0L, 2L, 1000L, 600L)))
    // fixture: recall is non-increasing in t, precision bounded
    val fix = Auc.qLengthPrCurve(spark, sf).collect()
    fix.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getLong(5) >= hi.getLong(5), "recall increased with threshold")
    }
    fix.foreach(r => assert(r.getLong(4) <= 1000 && r.getLong(5) <= 1000))
  }
}
