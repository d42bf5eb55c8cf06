package graft

import org.apache.spark.sql.functions._

import graft.operators.{Advanced, Dedup, Entity, Features, Graph, Ivf, Joins, Planning, Quant, Scale, Temporal, WebText}
import graft.sinks.Jsonl

/** Specs for the crawl-front-door, graph, and feature-hashing operators:
  * HTML extraction recovers content and drops boilerplate; domain
  * reputation applies the two-level rule; PageRank conserves fixed-point
  * mass and ranks hubs above leaves; hashed TF-IDF is bounded-width;
  * the full-outer reconciliation keeps one-sided days; k-means cluster
  * sizes partition the corpus. */
class WebGraphSpec extends SparkSpecBase {
  import spark.implicits._

  test("html extraction strips boilerplate, decodes entities, keeps content") {
    val df = Seq((1L, "srcA",
      "hello world &" /* raw & must survive untouched */)).toDF("doc_id", "source", "text")
    val html = df.withColumn("html",
      WebText.syntheticHtml($"doc_id", $"source", $"text"))
    val out = html.select(
      WebText.extractTitle($"html").as("title"),
      WebText.extractContent($"html").as("content")).head()
    assert(out.getString(0) == "srcA #1")
    // nav/footer/script/style gone; h1 entity decoded; body preserved
    assert(out.getString(1) == "srcA #1 & friends hello world &")
  }

  test("entity decode order: &amp;lt; yields the literal string &lt;, not <") {
    val df = Seq(("<p>a &amp;lt; b</p>")).toDF("html")
    val got = df.select(WebText.extractContent($"html")).head().getString(0)
    assert(got == "a &lt; b")
  }

  test("html extraction round-trips on the real fixture corpus") {
    val out = WebText.qHtmlExtract(spark, sf).cache()
    assert(out.filter(!$"roundtrip_ok").count() == 0)
    // extraction actually removed boilerplate on every doc
    assert(out.filter($"extracted_chars" >= $"html_chars").count() == 0)
  }

  test("domain reputation: doc admitted iff its own keep AND source keep-rate clears the bar") {
    val out = WebText.qDomainReputation(spark, sf).cache()
    val bad = out.filter($"admitted" =!= ($"doc_keep" && $"source_reputable"))
    assert(bad.count() == 0)
    val repBad = out.filter($"source_reputable" =!=
      ($"source_kept" * 100 >= $"source_total" * WebText.RepMinKeepPct))
    assert(repBad.count() == 0)
    // per-source totals really partition the corpus
    val n = out.count()
    val sums = out.select($"source", $"source_total").distinct()
      .agg(sum($"source_total")).head().getLong(0)
    assert(sums == n)
  }

  test("pagerank: hub node outranks leaves; star graph is exact") {
    // star: 1 hub (node 0) <-> 4 leaves; bidirectional edges
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L),
      (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iterations = 3)
      .orderBy($"node").collect().map(x => (x.getLong(0), x.getLong(2))).toMap
    // N=5, init = 2*10^11. Hand-rolled recurrence (floor div):
    // leaf share: hub rank/4 each round; hub gets 4 leaf shares
    val init = Graph.Scale / 5
    var hub = init; var leaf = init
    for (_ <- 1 to 3) {
      val hubIn = 4 * (leaf / 1) // each leaf has outdeg 1
      val leafIn = hub / 4
      val h2 = (15 * init + 85 * hubIn) / 100
      val l2 = (15 * init + 85 * leafIn) / 100
      hub = h2; leaf = l2
    }
    assert(r(0L) == hub, s"hub ${r(0L)} != expected $hub")
    assert(r(1L) == leaf && r(2L) == leaf && r(3L) == leaf && r(4L) == leaf)
    assert(r(0L) > r(1L))
  }

  test("pagerank on the purchase graph: mass approximately conserved, top-20 well-formed") {
    val edges = Graph.purchaseEdges(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)).cache()
    val ranks = Graph.pageRank(edges).cache()
    val n = ranks.count()
    val total = ranks.agg(sum($"rank_fp")).head().getLong(0)
    // floor-division leaks < 1 unit per share per round; with 3 rounds
    // and #edges shares the loss is far below 0.1% of Scale
    assert(total <= Graph.Scale && total > Graph.Scale - Graph.Scale / 1000,
      s"mass $total vs ${Graph.Scale} over $n nodes")
    val top = Graph.qPageRank(spark, sf).collect()
    assert(top.length == 20)
    assert(top.map(_.getLong(4)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("pagerank on an empty edge set returns empty instead of dividing by zero") {
    // ADVICE r9: lit(Scale / nNodes) threw ArithmeticException at
    // plan-build time on an empty graph
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = Graph.pageRank(empty)
    assert(out.columns.toSeq == Seq("node", "outdeg", "rank_fp"))
    assert(out.count() == 0L)
  }

  test("pagerank shuffle-join variant is result-identical to broadcast") {
    val edges = Graph.purchaseEdges(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)).cache()
    val bc = Scale.forcingSide(false)(Graph.pageRank(edges))
      .orderBy($"node").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sh = Scale.forcingSide(true)(Graph.pageRank(edges))
      .orderBy($"node").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // integer fixed-point arithmetic either way → bit-equal, not close
    assert(bc.sameElements(sh), "broadcast and shuffle pagerank diverge")
    // and the dial itself: this dimension-scale graph selects broadcast
    val auto = Graph.pageRank(edges).orderBy($"node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(auto.sameElements(bc))
  }

  test("hashed tf-idf: bounded width, ranks contiguous, weight consistent") {
    val out = Features.qHashedTfIdf(spark, sf).cache()
    assert(out.filter($"bucket" < 0 || $"bucket" >= Features.Buckets).count() == 0)
    assert(out.filter($"rank" > Features.TopSlots).count() == 0)
    // per-doc ranks are 1..k with weights non-increasing
    val perDoc = out.groupBy($"doc_id").agg(
      count(lit(1)).as("k"), max($"rank").as("maxr"),
      min($"rank").as("minr")).filter($"maxr" =!= $"k" || $"minr" =!= 1)
    assert(perDoc.count() == 0)
    val docs = Tables.documents(spark, sf).count()
    val badW = out.filter($"weight" =!=
      $"tf" * expr(s"(${docs}L * ${Features.IdfScale}) div df"))
    assert(badW.count() == 0)
  }

  test("full-outer reconciliation keeps one-sided days from both calendars") {
    val out = Joins.qDailyReconciliation(spark, sf).cache()
    assert(out.filter(!$"has_orders" && !$"has_shipments").count() == 0)
    // the shipment calendar extends past the last order date
    assert(out.filter($"has_shipments" && !$"has_orders").count() > 0)
    assert(out.filter($"has_orders" && $"orders_placed" === 0).count() == 0)
    // counts reconcile to the base tables
    val placed = out.agg(sum($"orders_placed")).head().getLong(0)
    assert(placed == Tables.orders(spark, sf).count())
    val shipped = out.agg(sum($"lines_shipped")).head().getLong(0)
    assert(shipped == Tables.lineitem(spark, sf).count())
  }

  test("triangle counting: planted 4-clique yields known per-node counts") {
    // K4 on {1,2,3,4} plus a pendant 5: C(3,2)=3 triangles per K4 node
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("u", "v")
    val got = Graph.triangleCounts(edges).orderBy($"node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L), (4L, 4L, 3L)))
    // pendant node 5 participates in no triangle → absent
    assert(!got.exists(_._1 == 5L))
  }

  test("triangle counting is exact for node ids beyond 10^9 (struct rank, not packed)") {
    // VERDICT r12: the old degree*1e9 + node packing silently corrupted
    // the total order once ids reached 10^9 — any 100 TB id space. Same
    // K4+pendant shape, shifted past the packing boundary.
    val base = 7000000000L
    val ids = (1L to 5L).map(_ + base)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).map { case (a, b) => (a + base, b + base) }
      .toDF("u", "v")
    val got = Graph.triangleCounts(edges).orderBy($"node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((ids(0), 3L, 3L), (ids(1), 3L, 3L),
      (ids(2), 3L, 3L), (ids(3), 4L, 3L)))
    assert(!got.exists(_._1 == ids(4)))
  }

  test("triangle counts are orientation-independent: degree order equals id order") {
    val edges = Graph.coPurchaseEdges(
      Tables.orders(spark, sf), Tables.lineitem(spark, sf)).cache()
    val degOrdered = Graph.triangleCounts(edges)
      .orderBy($"node").collect().toSeq
    // id-ordered enumeration (the oracle's shape) as the independent twin
    val e = edges.select($"u".as("src"), $"v".as("dst"),
      lit(0L).as("rv")).cache()
    val tris = e.as("e1")
      .join(e.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      // path wedges a→b→c close on the (a, c) edge
      .join(e.select($"src".as("a"), $"dst".as("c")), Seq("a", "c"), "left_semi")
    val roles = tris.select($"a".as("node"))
      .union(tris.select($"b".as("node")))
      .union(tris.select($"c".as("node")))
    val deg = e.select($"src".as("node")).union(e.select($"dst".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("degree"))
    val idOrdered = roles.groupBy($"node").agg(count(lit(1)).as("triangles"))
      .join(deg, Seq("node")).select($"node", $"degree", $"triangles")
      .orderBy($"node").collect().toSeq
    assert(degOrdered == idOrdered)
  }

  test("golden records: members partition the table, survivorship rules hold") {
    val out = Entity.qGoldenRecords(spark, sf).cache()
    val cust = Tables.customer(spark, sf)
    assert(out.agg(sum($"n_members")).head().getLong(0) == cust.count())
    // singleton entities carry their own key and name
    val single = out.filter($"n_members" === 1)
    assert(single.filter($"entity_id" =!= $"min_key").count() == 0)
    // entity id is always the minimum member key (min-survivor rule)
    assert(out.filter($"entity_id" =!= $"min_key").count() == 0)
    // merged entities exist on this fixture and stay entity-sized
    val merged = out.filter($"n_members" > 1)
    assert(merged.count() > 0)
    assert(out.agg(max($"n_members")).head().getLong(0) < 50)
  }

  test("join cardinality: actual matches the real join; key-FK estimate is exact") {
    val stats = Planning.qJoinCardinality(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val ol = stats("orders_lineitem")
    val realOl = Tables.orders(spark, sf).join(Tables.lineitem(spark, sf),
      col("o_orderkey") === col("l_orderkey")).count()
    assert(ol.getLong(5) == realOl)
    val co = stats("customer_orders")
    val realCo = Tables.customer(spark, sf).join(Tables.orders(spark, sf),
      col("c_custkey") === col("o_custkey")).count()
    assert(co.getLong(5) == realCo)
    // FK-clean fixture joins: the uniform model is already exact
    assert(ol.getLong(6) == ol.getLong(5) && co.getLong(6) == co.getLong(5))
  }

  test("join cardinality on a skewed join: heavy-hitter estimate beats uniform") {
    // one hot key (1000×1000) + 99 singletons: uniform underestimates ~80×
    val hot = (1 to 1000).map(_ => 1L) ++ (2L to 100L)
    val l = hot.toDF("k1")
    val r = hot.toDF("k2")
    val row = Planning.joinCardinality(l, "k1", r, "k2", "skewed").head()
    val actual = row.getLong(5)
    assert(actual == 1000L * 1000 + 99)
    // top-100 covers every key → the heavy estimate is exact
    assert(row.getLong(7) == actual)
    assert(row.getLong(9) < row.getLong(8),
      s"heavy err ${row.getLong(9)} !< uniform err ${row.getLong(8)}")
  }

  test("bfs: planted path graph yields exact hops and leaves far nodes unreached") {
    // path 1-2-3-4-5-6-7, bidirectional; source {1}, depth 4
    val und = (1L to 6L).map(i => (i, i + 1)).toDF("u", "v")
    val edges = und.select($"u".as("src"), $"v".as("dst"))
      .union(und.select($"v".as("src"), $"u".as("dst")))
    val dist = Graph.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dist == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
    // 6 and 7 are beyond depth 4 → absent from the settled set
    assert(!dist.contains(6L) && !dist.contains(7L))
  }

  test("bfs reach histogram partitions the node universe") {
    // the gated query runs the bounded order slice (r14) — the
    // histogram must partition THAT graph's node universe exactly
    val out = Graph.qBfsReach(spark, sf).cache()
    val edges = Graph.purchaseEdges(
      Tables.orders(spark, sf)
        .filter($"o_orderkey" % Graph.GateOrderMod === 0),
      Tables.lineitem(spark, sf))
    val nNodes = edges.select($"src").distinct().count()
    assert(out.agg(sum($"n_nodes")).head().getLong(0) == nNodes)
    assert(out.filter($"hop" < -1 || $"hop" > Graph.BfsMaxHops).count() == 0)
    // and the full form still partitions the full universe
    val full = Graph.qBfsReach(spark, sf, bounded = false)
    val fullNodes = Graph.purchaseEdges(
        Tables.orders(spark, sf), Tables.lineitem(spark, sf))
      .select($"src").distinct().count()
    assert(full.agg(sum($"n_nodes")).head().getLong(0) == fullNodes)
  }

  test("int8 code covariance: planted two-vector fixture has hand-checked moments") {
    // v1 = [127, 0], v2 = [127, 127] (scales 1.0): codes equal values
    val emb = Seq((1L, Array(127f, 0f)), (2L, Array(127f, 127f)))
      .toDF("vec_id", "embedding")
    val got = Quant.codeCovariance(emb, dims = 2).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // (0,0): n=2 s_i=s_j=254 s_ij=2*127^2=32258; cov=2*32258-254^2=0
    assert(got((0, 0)) == ((2L, 254L, 254L, 32258L, 0L)))
    // (0,1): s_j=127, s_ij=127^2; cov=2*16129-254*127=0
    assert(got((0, 1)) == ((2L, 254L, 127L, 16129L, 0L)))
    // (1,1): s=127, s_ij=16129; cov=2*16129-16129=16129
    assert(got((1, 1)) == ((2L, 127L, 127L, 16129L, 16129L)))
  }

  test("covariance diagonal is non-negative and n is the corpus size") {
    val out = Quant.qCodeCovariance(spark, sf).cache()
    val n = Tables.embeddings(spark, sf).count()
    assert(out.filter($"n" =!= n).count() == 0)
    assert(out.filter($"i" === $"j" && $"cov_num" < 0).count() == 0)
    assert(out.count() == Quant.CovDims * (Quant.CovDims + 1) / 2)
  }

  test("rank variants: gap vs dense semantics, bounded percent ranks, quartiles") {
    val out = Advanced.qRankVariants(spark, sf).cache()
    assert(out.filter($"rnk" < $"drnk").count() == 0)
    assert(out.filter($"prnk" < 0 || $"prnk" > 1).count() == 0)
    assert(out.filter($"cdist" <= 0 || $"cdist" > 1).count() == 0)
    assert(out.filter($"quartile" < 1 || $"quartile" > 4).count() == 0)
    // rn is a permutation of 1..k per customer
    val bad = out.groupBy($"o_custkey").agg(
      count(lit(1)).as("k"), max($"rn").as("maxrn"),
      countDistinct($"rn").as("drn"))
      .filter($"maxrn" =!= $"k" || $"drn" =!= $"k")
    assert(bad.count() == 0)
    // ties exist somewhere → rank gaps (rnk > drnk on some row)
    assert(out.filter($"rnk" > $"drnk").count() > 0)
  }

  test("prefix-filtered jaccard equals the shared-shingle exact operator") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.shingleJaccardPairs(docs, 0.8)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    val prefix = Dedup.jaccardPrefixPairs(docs, 0.8)
      .orderBy($"doc_a", $"doc_b").collect().toSeq
    assert(prefix == exact)
    assert(exact.nonEmpty) // the fixture plants near-dups; equality must not be vacuous
  }

  test("prefix bound rejects a mismatched rational") {
    intercept[IllegalArgumentException] {
      Dedup.jaccardPrefixPairs(Tables.documents(spark, sf), 0.7)
    }
  }

  test("time-weighted average: hand-computed zero-order hold, single readings get NULL") {
    val ev = Seq(
      // user 1: 10.00 for 2s, then 30.00 for 6s -> twa = (1000*2e6+3000*6e6)/8e6 = 2500
      (1L, "2024-01-01 00:00:00", 10.0, 101L),
      (2L, "2024-01-01 00:00:02", 30.0, 101L),
      (3L, "2024-01-01 00:00:08", 99.0, 101L), // last reading holds nothing
      (4L, "2024-01-01 00:00:00", 55.5, 202L)  // single reading
    ).toDF("event_id", "s", "value", "user_id")
      .withColumn("ts", to_timestamp($"s")).drop("s")
    val got = Temporal.timeWeightedAvg(ev).orderBy($"user_id").collect()
    assert(got(0).getLong(0) == 101L && got(0).getLong(1) == 3L)
    assert(got(0).getLong(2) == 8000000L)
    assert(got(0).getLong(4) == 2500L)
    assert(got(1).getLong(0) == 202L && got(1).isNullAt(4))
  }

  test("jsonl export round-trips the corpus and the manifest reconciles") {
    val docs = Tables.documents(spark, sf)
    val path = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    Jsonl.exportCorpus(docs, path, shards = 4)
    val back = Jsonl.readBack(spark, path, docs.schema)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    val man = Jsonl.manifest(spark, path).cache()
    assert(man.count() == 4)
    assert(man.agg(sum($"rows")).head().getLong(0) == docs.count())
    // round-robin sharding: sizes even within a factor of 2
    val sizes = man.select($"rows").collect().map(_.getLong(0))
    assert(sizes.max <= 2 * math.max(1L, sizes.min))
  }

  test("hopping windows: every event lands in exactly size/slide windows") {
    val out = Temporal.qHoppingAgg(spark, sf).cache()
    val nEvents = Tables.events(spark, sf).count()
    // 1h window / 30m slide -> each event counted twice across windows
    assert(out.agg(sum($"n")).head().getLong(0) == 2 * nEvents)
    // windows are 30-minute-aligned and exactly one hour wide
    assert(out.filter(unix_seconds($"w_start") % 1800 =!= 0).count() == 0)
    assert(out.filter(unix_seconds($"w_end") - unix_seconds($"w_start") =!= 3600)
      .count() == 0)
  }

  test("html extraction is stateless and streams: file stream equals batch") {
    val docs = Tables.documents(spark, sf)
    def extracted(df: org.apache.spark.sql.DataFrame) = df.select(
      $"doc_id",
      WebText.extractTitle(WebText.syntheticHtml($"doc_id", $"source", $"text"))
        .as("title"),
      md5(WebText.extractContent(
        WebText.syntheticHtml($"doc_id", $"source", $"text"))).as("content_hash"))
    // map-only: no exchange anywhere in the extraction plan
    val plan = extracted(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"extraction must not shuffle:\n$plan")
    val d = java.nio.file.Files.createTempDirectory("graft-webtext").toString
    docs.write.mode("overwrite").parquet(d)
    val q = extracted(spark.readStream.schema(docs.schema).parquet(d))
      .writeStream.outputMode("append").format("memory")
      .queryName("webtext_stream_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("webtext_stream_out").orderBy($"doc_id").collect().toSeq
    val want = extracted(docs).orderBy($"doc_id").collect().toSeq
    assert(got == want && want.nonEmpty)
  }

  test("k-means clustering: sizes partition the corpus, assignment matches cellOf") {
    val out = Ivf.qKmeansClusters(spark, sf).cache()
    val n = Tables.embeddings(spark, sf).count()
    assert(out.count() == n)
    val sums = out.select($"cluster", $"cluster_size").distinct()
      .agg(sum($"cluster_size")).head().getLong(0)
    assert(sums == n)
    assert(out.select($"cluster").distinct().count() <= Ivf.Cells)
  }
}
