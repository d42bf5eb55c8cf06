package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Graph, Scale}

/** VERDICT r12 item 4: the graph family over the build-once persisted
  * edge projections — results identical to the inline queries (so they
  * share the inline DuckDB twins), one shared artifact for all three,
  * and no rebuild on re-read. */
class GraphServingSpec extends SparkSpecBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("serving queries equal their inline twins row-for-row") {
    assert(rows(Graph.qPageRankServing(spark, sf)) ==
      rows(Graph.qPageRank(spark, sf, bounded = false)), "pagerank")
    assert(rows(Graph.qBfsReachServing(spark, sf)) ==
      rows(Graph.qBfsReach(spark, sf, bounded = false)), "bfs reach")
    assert(rows(Graph.qTrianglesServing(spark, sf)) ==
      rows(Graph.qTriangles(spark, sf, bounded = false)), "triangles")
  }

  test("bucketed pagerank equals the classic in BOTH share modes, bit-for-bit") {
    Graph.bucketedEdgesFor(spark, sf)
    val edges = spark.table("b3_graph_edges")
    val plain = spark.read.parquet(
      Graph.edgesArtifactFor(spark, sf) + "/purchase")
    def ranks(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.orderBy("node").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ref = ranks(Graph.pageRank(plain))
    assert(ref.nonEmpty)
    assert(ranks(Scale.forcingSide(false)(Graph.pageRankBucketed(edges))) == ref,
      "broadcast-share mode drifted")
    assert(ranks(Scale.forcingSide(true)(Graph.pageRankBucketed(edges))) == ref,
      "shuffle-share mode drifted")
  }

  test("bucketed pagerank iterations plan with zero exchange on the edge side") {
    Graph.bucketedEdgesFor(spark, sf)
    val edges = spark.table("b3_graph_edges")
    val deg = edges.groupBy(org.apache.spark.sql.functions.col("src").as("node"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("outdeg"))
    val ranks = deg
      .withColumn("init_fp", org.apache.spark.sql.functions.lit(1000L))
      .selectExpr("node", "outdeg", "init_fp", "init_fp AS rank_fp")
    val srcExchange = """Exchange hashpartitioning\((src|dst)#\d+L?, \d+\)""".r
    // dimension-scale (broadcast share): NO exchange anywhere in the round
    val bPlan = Graph.iterateBucketed(edges, ranks, useBroadcast = true)
      .queryExecution.executedPlan.toString
    assert(!bPlan.contains("Exchange hashpartitioning"),
      s"broadcast-mode iteration still shuffles:\n$bPlan")
    assert(bPlan.contains("Bucketed: true"), bPlan)
    // corpus-scale (shuffled share): the EDGE side must not move — the
    // only edge-key exchanges allowed are the node-sized share/inflow
    // moves, never a scan-fed one. Pin it structurally: no exchange may
    // sit directly above the bucketed scan subtree.
    val sPlan = Graph.iterateBucketed(edges, ranks, useBroadcast = false)
      .queryExecution.executedPlan
    val scanFedExchange = sPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.child.collectLeaves().exists(_.toString.contains("b3_graph_edges")) &&
          // partial-agged inflow may shuffle (node-sized); a raw
          // edge-table move would surface as an exchange whose child is
          // NOT an aggregate
          !e.child.toString.startsWith("HashAggregate") => e
    }
    assert(scanFedExchange.isEmpty,
      s"shuffle-mode iteration moved the edge table:\n$sPlan")
    // the same round over UNbucketed edges must shuffle the scan — the
    // spec proves the layout removed the exchange, not the fixture
    val plain = spark.read.parquet(
      Graph.edgesArtifactFor(spark, sf) + "/purchase")
    val uPlan = Graph.iterateBucketed(plain, ranks, useBroadcast = false)
      .queryExecution.executedPlan.toString
    assert(srcExchange.findFirstIn(uPlan).isDefined,
      "unbucketed iteration did not shuffle on the edge key — vacuous")
  }

  test("one artifact serves all three; a re-read does not rebuild") {
    val path = Graph.edgesArtifactFor(spark, sf)
    assert(Files.exists(Paths.get(path, "purchase")))
    assert(Files.exists(Paths.get(path, "copurchase")))
    def newest(): Long = {
      val s = Files.walk(Paths.get(path))
      try s.filter(Files.isRegularFile(_))
        .mapToLong(p => Files.getLastModifiedTime(p).toMillis)
        .reduce(-1L, Math.max)
      finally s.close()
    }
    val before = newest()
    // both a second artifact resolution and a serving query re-run must
    // leave every artifact file untouched (build amortization is the
    // point of the layout)
    Graph.edgesArtifactFor(spark, sf)
    Graph.qTrianglesServing(spark, sf).collect()
    assert(newest() == before, "artifact was rebuilt on re-read")
  }

  test("HITS half-steps plan with zero exchange over the dual-bucketed twins") {
    import org.apache.spark.sql.functions._
    Graph.bucketedDirectedEdgesFor(spark, sf)
    val eSrc = spark.table("b3_hits_src")
    val eDst = spark.table("b3_hits_dst")
    val hubs = eSrc.select(col("src").as("c")).distinct()
      .withColumn("score_fp", lit(1000000L)).localCheckpoint(true)
    // broadcast mode: authority reads the dst twin (aggregate by dst),
    // hub reads the src twin — NO exchange in either half-step
    val aPlan = Graph.hitsHalfStepRaw(eDst, hubs, "c", "src", "dst", "s",
      broadcastScores = true).queryExecution.executedPlan.toString
    assert(!aPlan.contains("Exchange hashpartitioning"),
      s"authority half-step still shuffles:\n$aPlan")
    assert(aPlan.contains("Bucketed: true"), aPlan)
    val auths = Graph.hitsHalfStepRaw(eDst, hubs, "c", "src", "dst", "s",
        broadcastScores = true)
      .withColumnRenamed("raw", "score_fp").localCheckpoint(true)
    val hPlan = Graph.hitsHalfStepRaw(eSrc, auths, "s", "dst", "src", "c",
      broadcastScores = true).queryExecution.executedPlan.toString
    assert(!hPlan.contains("Exchange hashpartitioning"),
      s"hub half-step still shuffles:\n$hPlan")
    // shuffle mode (corpus scale): the half-step reads the twin matching
    // its JOIN key; the edge scan must never feed an exchange directly
    val sPlan = Graph.hitsHalfStepRaw(eSrc, hubs, "c", "src", "dst", "s",
      broadcastScores = false).queryExecution.executedPlan
    val scanFed = sPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.child.collectLeaves().exists(_.toString.contains("b3_hits_src")) &&
          !e.child.toString.startsWith("HashAggregate") => e
    }
    assert(scanFed.isEmpty, s"shuffle-mode half-step moved the edges:\n$sPlan")
    // shuffle-mode DST twin (the r15 audit covered only the src side):
    // the hub half-step joins on dst and must read the dst-bucketed
    // twin without the edge scan feeding an exchange
    val dPlan = Graph.hitsHalfStepRaw(eDst, auths, "s", "dst", "src", "c",
      broadcastScores = false).queryExecution.executedPlan
    val dstScanFed = dPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.child.collectLeaves().exists(_.toString.contains("b3_hits_dst")) &&
          !e.child.toString.startsWith("HashAggregate") => e
    }
    assert(dstScanFed.isEmpty, s"shuffle-mode hub half-step moved the edges:\n$dPlan")
    // non-vacuous control: the same half-step over the UNbucketed
    // artifact shuffles the scan
    val plain = spark.read.parquet(Graph.directedEdgesArtifactFor(spark, sf))
    val uPlan = Graph.hitsHalfStepRaw(plain, hubs, "c", "src", "dst", "s",
      broadcastScores = false).queryExecution.executedPlan.toString
    assert("""Exchange hashpartitioning\((src|dst)#\d+L?, \d+\)""".r
      .findFirstIn(uPlan).isDefined,
      "unbucketed half-step did not shuffle on the edge key — vacuous")
  }
}
