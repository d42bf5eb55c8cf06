package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Diagnostics, Pareto, Rfm, Scale}

/** The r16 UNGROUPED window sweep — the ungrouped twin of the r15
  * hot-group audit: every gated query that ranked/running-summed an
  * entity-grain rollup through a global `Window.orderBy` (Spark plans
  * `Exchange SinglePartition`: ONE task sorts every entity) now rides
  * the size-aware dial onto [[Scale.globalRank]] /
  * [[Scale.globalRankAndRunningSum]]. Forced-switch result identity
  * plus a plan pin that the lifted mode plans NO global-sort exchange
  * (with the plain mode as the detector's positive control).
  * Companion to the SCALE.md ungrouped window-site audit table. */
class UngroupedWindowSpec extends SparkSpecBase {

  /** Count `Exchange SinglePartition` nodes that feed a Sort — the
    * global-window signature. Control-plane 1-row aggregates also plan
    * a SinglePartition exchange, but under a HashAggregate, never a
    * Sort, so they don't count. */
  private def globalSortExchanges(plan: String): Int = {
    val lines = plan.linesIterator.toVector
    lines.indices.count { i =>
      lines(i).contains("Exchange SinglePartition") && {
        val prev = lines.take(i).reverseIterator
          .find(_.trim.nonEmpty).getOrElse("")
        prev.contains("Sort ")
      }
    }
  }

  test("globalRankAndRunningSum ≡ single window, invariant to nPartitions") {
    import spark.implicits._
    val df = Seq(
      (1L, 30.00), (2L, 10.50), (3L, 30.00), (4L, 0.25),
      (5L, 99.75), (6L, 10.50), (7L, 42.00), (8L, 0.25))
      .toDF("id", "v0")
      .withColumn("v", col("v0").cast("decimal(14,2)")).drop("v0")
    val order = Seq(col("v").desc, col("id"))
    val w = Window.orderBy(order: _*)
    val expected = df
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("run", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("decimal(38,6)"))
      .collect().map(_.toSeq).toSet
    for (np <- Seq(1, 3, 7)) {
      val got = Scale.globalRankAndRunningSum(df, order, col("v"),
        "rnk", "run", np).collect().map(_.toSeq).toSet
      assert(got == expected, s"nPartitions=$np diverges from the window form")
    }
  }

  test("rfm: forced distributed path ≡ forced window path") {
    val orders = Tables.orders(spark, sf)
    val hot = Scale.forcingSide(true)(Rfm.rfm(orders))
      .orderBy(col("o_custkey")).collect().map(_.toSeq)
    val cold = Scale.forcingSide(false)(Rfm.rfm(orders))
      .orderBy(col("o_custkey")).collect().map(_.toSeq)
    assert(hot.toSeq == cold.toSeq, "forced rfm paths diverge")
    assert(hot.nonEmpty)
  }

  test("supplier pareto: forced distributed path ≡ forced window path") {
    val li = Tables.lineitem(spark, sf)
    val hot = Scale.forcingSide(true)(Pareto.supplierPareto(li))
      .orderBy(col("rnk")).collect().map(_.toSeq)
    val cold = Scale.forcingSide(false)(Pareto.supplierPareto(li))
      .orderBy(col("rnk")).collect().map(_.toSeq)
    assert(hot.toSeq == cold.toSeq, "forced pareto paths diverge")
    assert(hot.nonEmpty)
  }

  test("user concentration: forced distributed path ≡ forced window path") {
    val ev = Tables.events(spark, sf)
    val hot = Scale.forcingSide(true)(Diagnostics.userConcentration(ev, 1))
      .collect().map(_.toSeq)
    val cold = Scale.forcingSide(false)(Diagnostics.userConcentration(ev, 1))
      .collect().map(_.toSeq)
    assert(hot.toSeq == cold.toSeq, "forced concentration paths diverge")
    assert(hot.nonEmpty)
  }

  test("lifted mode plans NO global-sort exchange (plain mode is the positive control)") {
    System.setProperty("graft.explain.lineage", "true")
    try {
      val orders = Tables.orders(spark, sf)
      val li = Tables.lineitem(spark, sf)
      val ev = Tables.events(spark, sf)
      // positive control: the detector sees the plain form's
      // single-partition sort (three ntile windows → ≥1 site)
      val coldPlan = Scale.forcingSide(false)(Rfm.rfm(orders))
        .queryExecution.executedPlan.toString
      assert(globalSortExchanges(coldPlan) >= 1,
        s"detector lost the plain global window:\n$coldPlan")
      for ((name, plan) <- Seq(
        "rfm" -> Scale.forcingSide(true)(Rfm.rfm(orders)),
        "pareto" -> Scale.forcingSide(true)(Pareto.supplierPareto(li)),
        "concentration" -> Scale.forcingSide(true)(Diagnostics.userConcentration(ev, 1)))) {
        val p = plan.queryExecution.executedPlan.toString
        assert(globalSortExchanges(p) == 0,
          s"$name lifted mode still plans a single-partition sort:\n$p")
      }
    } finally System.clearProperty("graft.explain.lineage")
  }

  test("baked-bucket rank: exotic order types, heavy ties, nPartitions invariance") {
    import spark.implicits._
    // 400 rows: a TIMESTAMP leading key with only 4 distinct values
    // (power-law ties — the case head-only cuts cannot split), a
    // DECIMAL desc key, STRING tiebreaks; every combination must equal
    // the single-window form at several partition counts
    val df = (0 until 400).map { i =>
      (f"d$i%03d", s"2024-0${1 + i % 4}-01 00:00:00", (i % 7) * 10.5)
    }.toDF("id", "tss", "v0")
      .select(col("id"), to_timestamp(col("tss")).as("ts"),
        col("v0").cast("decimal(14,2)").as("v"))
    for ((order, tag) <- Seq(
      (Seq(col("ts"), col("id")), "timestamp asc + string tiebreak"),
      (Seq(col("v").desc, col("id")), "decimal desc + string tiebreak"),
      (Seq(col("ts"), col("v").desc, col("id")), "3-column mixed"))) {
      val w = Window.orderBy(order: _*)
      val expected = df.withColumn("rn", row_number().over(w).cast("long"))
        .collect().map(_.toSeq).toSet
      for (np <- Seq(1, 4, 16)) {
        val got = Scale.globalRank(df, order, "rn", np)
          .collect().map(_.toSeq).toSet
        assert(got == expected, s"$tag diverges at nPartitions=$np")
      }
    }
  }

  test("the dial is width-aware: same sort-byte budget, width-scaled row thresholds") {
    import spark.implicits._
    // slim rank projection (two 8-byte cols): flips LATER than the 8M
    // row anchor; a wide rollup flips EARLIER — both hit the same
    // HotGroupSortBytes budget (clamped 16x either side of the anchor)
    val slim = Seq((1L, 2L)).toDF("k", "v")
    val wide = Seq((1L, "a")).toDF("k", "v")
      .select(col("k") +: (0 until 100).map(i => col("v").as(s"c$i")): _*)
    val ts = Scale.hotRowThreshold(slim)
    val tw = Scale.hotRowThreshold(wide)
    assert(ts > Scale.HotGroupMinRowsPerGroup,
      s"16-byte rows must flip later than the 100-byte anchor: $ts")
    assert(tw < Scale.HotGroupMinRowsPerGroup,
      s"2-KB rows must flip earlier than the 100-byte anchor: $tw")
    // both thresholds express the SAME byte budget — unless the 16×
    // clamp engaged (the wide frame's 2 KB rows ask for ~400k rows,
    // below the 500k floor, so it sits ON the floor by design)
    def bytes(df: org.apache.spark.sql.DataFrame) =
      Scale.estimatedRowBytes(df.schema)
    def onClamp(t: Long) = t == Scale.HotGroupMinRowsPerGroup / 16 ||
      t == Scale.HotGroupMinRowsPerGroup * 16
    assert(ts * bytes(slim) <= Scale.HotGroupSortBytes || onClamp(ts))
    assert(tw * bytes(wide) <= Scale.HotGroupSortBytes || onClamp(tw))
    assert((ts + 1) * bytes(slim) > Scale.HotGroupSortBytes || onClamp(ts),
      "slim threshold neither fills the budget nor sits on the clamp")
    assert(onClamp(tw), "the 2 KB frame should sit on the lower clamp")
  }

  test("the dial is size-aware: fixture facts stay on the plain window") {
    // the None path takes the cheap fact-count bound — fixture facts
    // are far below HotGroupMinRowsPerGroup, so the gated queries keep
    // today's single-sort plan (the measured r10 crossover) and the
    // dial adds only a footer-cheap count
    assert(Tables.orders(spark, sf).count() < Scale.HotGroupMinRowsPerGroup)
    assert(Tables.lineitem(spark, sf).count() < Scale.HotGroupMinRowsPerGroup)
    assert(Tables.events(spark, sf).count() < Scale.HotGroupMinRowsPerGroup)
    System.setProperty("graft.explain.lineage", "true")
    try {
      val plan = Rfm.rfm(Tables.orders(spark, sf))
        .queryExecution.executedPlan.toString
      assert(globalSortExchanges(plan) >= 1,
        "fixture-scale rfm should keep the plain window plan")
    } finally System.clearProperty("graft.explain.lineage")
  }
}
