package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Pairs, Scale, Serving, Sweep}

/** The r15 hot-group wiring sweep: every data-sized window on a
  * handful-valued key must either ride the size-aware Scale dial
  * (forced-switch result-identity proven here) or avoid the full
  * ranking entirely (topKWithOther's totals-minus-top rework, plan
  * pinned). Companion to the SCALE.md window-site audit table. */
class HotGroupWiringSpec extends SparkSpecBase {

  test("peak concurrency: grouped prefix-sum path ≡ window path") {
    val ev = Tables.events(spark, sf)
    val grouped = Scale.forcingSide(true)(Sweep.peakConcurrency(ev))
      .orderBy(col("event_type")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(Sweep.peakConcurrency(ev))
      .orderBy(col("event_type")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window peak concurrency diverge")
  }

  test("interleave sources: grouped prefix-sum path ≡ window path") {
    val docs = Tables.documents(spark, sf)
    val grouped = Scale.forcingSide(true)(Pairs.interleaveSources(docs))
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(Pairs.interleaveSources(docs))
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window interleave diverge")
  }

  test("source mix: grouped prefix-sum path ≡ window path") {
    val docs = Tables.documents(spark, sf)
    val shares = Map("src0" -> 4000, "src1" -> 4000, "src2" -> 2000)
    val grouped = Scale.forcingSide(true)(Curation.sourceMix(docs, shares))
      .select(col("doc_id"), col("source"), col("rank_in_source"))
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(Curation.sourceMix(docs, shares))
      .select(col("doc_id"), col("source"), col("rank_in_source"))
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window source mix diverge")
  }

  test("source mix tokens: grouped prefix-sum path ≡ window path") {
    val docs = Tables.documents(spark, sf)
    val shares = Map("src3" -> 5000, "src4" -> 3000, "src5" -> 2000)
    val grouped = Scale.forcingSide(true)(Curation.sourceMixTokens(docs, shares))
      .select(col("doc_id"), col("source"), col("token_count"),
        col("start_tok"), col("source_token_cap"))
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(Curation.sourceMixTokens(docs, shares))
      .select(col("doc_id"), col("source"), col("token_count"),
        col("start_tok"), col("source_token_cap"))
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window source mix tokens diverge")
  }

  test("top-k+OTHER: residual reconciles to totals and plans NO unbounded window") {
    val (cust, ord) = (Tables.customer(spark, sf), Tables.orders(spark, sf))
    val out = Serving.topKWithOther(cust, ord)
    // reconciliation: per-nation top cents + OTHER cents == total spend
    val byNation = out.groupBy(col("nation"))
      .agg(sum(col("cents")).as("c"), sum(col("n_members")).as("m")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = ord.groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(14,2)")) * 100)
        .cast("long").as("cents"))
      .join(cust.select(col("c_custkey"), col("c_nationkey").as("nation")),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("nation"))
      .agg(sum(col("cents")).as("c"), count(lit(1)).as("m")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byNation == direct, "top+OTHER must partition the spend exactly")
    // plan pin: the only window is the rank≤k one and the group-limit
    // rule bounds it map-side; the tail is never ranked (the lineage
    // escape hatch keeps withCached from checkpointing the result,
    // which would hide the window from executedPlan)
    System.setProperty("graft.explain.lineage", "true")
    try {
      val plan = Serving.topKWithOther(cust, ord)
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"top-k rank must be group-limit bounded:\n$plan")
      // every Window node must sit directly above a WindowGroupLimit —
      // an unbounded window would mean the tail is being ranked (in
      // lineage mode the cached top subtree appears twice; both copies
      // must be bounded)
      val lines = plan.linesIterator.toVector
      lines.zipWithIndex.foreach { case (l, i) =>
        if (l.contains(" Window ")) {
          val next = lines.drop(i + 1).find(_.trim.nonEmpty).getOrElse("")
          assert(next.contains("WindowGroupLimit"),
            s"unbounded Window at plan line $i:\n$plan")
        }
      }
    } finally System.clearProperty("graft.explain.lineage")
  }

  test("KMV bottom-K windows are group-limit bounded (audit-table claim)") {
    // the audit table classifies every `row_number ≤ literal` site as
    // map-side bounded via InferWindowGroupLimit — pin that the rule
    // actually fires on the KMV signature build (low-card event_type
    // over every distinct user hash: the shape where the bound matters)
    System.setProperty("graft.explain.lineage", "true")
    try {
      val plan = graft.operators.Sketches
        .kmvDistinct(Tables.events(spark, sf))
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"kmv bottom-K window not group-limit bounded:\n$plan")
    } finally System.clearProperty("graft.explain.lineage")
  }
}
