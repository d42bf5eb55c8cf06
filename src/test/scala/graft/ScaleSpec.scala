package graft

import org.apache.spark.sql.functions._

import graft.operators.Scale

/** Specs for the scale mechanics: salted aggregation equals the direct
  * aggregation; bucketed joins plan without exchanges; sketches land
  * within tolerance of exact answers. */
class ScaleSpec extends SparkSpecBase {
  import spark.implicits._

  test("bloom pre-filter: no false negatives, real pruning, exact semi-join result") {
    val lineitem = Tables.lineitem(spark, sf)
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
    val plain = lineitem
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
    val pre = Scale.bloomPrefilter(lineitem, urgent, "l_orderkey", "o_orderkey",
      expectedItems = 10000L)
    // bloom guarantee: every true match survives the pre-filter
    assert(plain.exceptAll(pre.join(urgent,
      col("l_orderkey") === col("o_orderkey"), "left_semi")).isEmpty)
    // and the pre-filter actually prunes the non-matching majority
    val (total, kept, matches) = (lineitem.count(), pre.count(), plain.count())
    assert(kept < total, s"pre-filter kept all $total rows")
    assert(kept < matches + (total - matches) / 10 + 100,
      s"fpp blowout: $kept kept for $matches true matches of $total")
    // the full operator is result-identical to the plain semi join
    val full = Scale.bloomSemiJoin(lineitem, urgent, "l_orderkey", "o_orderkey",
      expectedItems = 10000L)
    assert(full.exceptAll(plain).isEmpty && plain.exceptAll(full).isEmpty)
  }

  test("forcingSide: restored after a throw and a nested scope; unscoped dials measure") {
    val small = Seq(("a", 1L), ("b", 2L)).toDF("g", "v")
    // outside any scope the dial measures: a two-row frame is not hot
    assert(Scale.forced.isEmpty)
    assert(!Scale.hotGroups(small, Seq("g")))
    Scale.forcingSide(true) {
      assert(Scale.hotGroups(small, Seq("g")))
      Scale.forcingSide(false)(assert(!Scale.hotGroups(small, Seq("g"))))
      // the nested scope ended: the outer side is back
      assert(Scale.forced.contains(true))
      assert(Scale.hotGroups(small, Seq("g")))
    }
    // a body that throws leaves no side behind
    intercept[IllegalStateException] {
      Scale.forcingSide(true)(throw new IllegalStateException("boom"))
    }
    assert(Scale.forced.isEmpty)
    assert(!Scale.hotGroups(small, Seq("g")))
  }

  test("grouped running sum / rank equal the per-group window exactly, any nPartitions") {
    import org.apache.spark.sql.expressions.Window
    // 3 hot groups × 2000 rows — the agg_weighted_median shape
    val df = (0 until 6000).map { i =>
      (s"g${i % 3}", (i * 7919) % 1000, i.toLong, (i % 13 + 1).toLong)
    }.toDF("grp", "v", "id", "w")
    val w = Window.partitionBy($"grp").orderBy($"v", $"id")
    val ref = df
      .withColumn("cum", sum($"w").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .select($"grp", $"id", $"cum", $"rn")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    for (nPart <- Seq(1, 5, 32)) {
      val cum = Scale.groupedRunningSum(df, Seq("grp"), Seq($"v", $"id"), $"w",
        "cum", nPart)
      val rnk = Scale.globalRankGrouped(df, Seq("grp"), Seq($"v", $"id"), "rn", nPart)
      cum.select($"grp", $"id", $"cum").collect().foreach { r =>
        assert(r.getLong(2) == ref((r.getString(0), r.getLong(1)))._1,
          s"cum mismatch at nPart=$nPart for ${r.getString(0)}/${r.getLong(1)}")
      }
      rnk.select($"grp", $"id", $"rn").collect().foreach { r =>
        assert(r.getLong(2) == ref((r.getString(0), r.getLong(1)))._2,
          s"rank mismatch at nPart=$nPart for ${r.getString(0)}/${r.getLong(1)}")
      }
    }
  }

  test("grouped prefix sums keep every task bounded by a range partition") {
    // one giant group + two small ones: a per-group window would put
    // ~all rows on one task; the grouped path must spread them
    val df = (0 until 8000).map { i =>
      (if (i < 7800) "hot" else s"g${i % 2}", i % 997, i.toLong)
    }.toDF("grp", "v", "id")
    val ranked = Scale.globalRankGrouped(df, Seq("grp"), Seq($"v", $"id"), "rn", 16)
    // correct per-group ranks (spot totals) …
    val tops = ranked.groupBy($"grp").agg(max($"rn").as("mx"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tops("hot") == ((7800L, 7800L)))
    // … and the physical plan contains no single-partition exchange
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"grouped rank fell back to a single-partition exchange:\n$plan")
  }

  test("salted aggregation equals direct aggregation (skew-safe path)") {
    val ev = Tables.events(spark, sf)
    val direct = ev.groupBy($"event_type").agg(
      sum($"value".cast("decimal(14,2)")).cast("double").as("sum_value"),
      count($"value").as("record_count"),
      min($"value").as("min_value"),
      max($"value").as("max_value"))
    val salted = Scale.saltedBasicStats(ev, Seq("event_type"), "value")
    val d = direct.orderBy("event_type").collect().toSeq
    val s = salted.select("event_type", "sum_value", "record_count", "min_value", "max_value")
      .orderBy("event_type").collect().toSeq
    assert(d == s)
  }

  test("salted windowed top-N equals the plain ranking window exactly") {
    val ev = Tables.events(spark, sf)
    val order = Seq($"value".desc, $"event_id".asc) // total order via tiebreak
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy(order: _*)
    val plain = ev.withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
      .filter($"rank" <= 3)
      .select("user_id", "rank", "event_id")
      .orderBy("user_id", "rank").collect().toSeq
    val salted = Scale.saltedTopNPerKey(ev, Seq("user_id"), order, 3, $"event_id")
      .select("user_id", "rank", "event_id")
      .orderBy("user_id", "rank").collect().toSeq
    assert(plain.nonEmpty && salted == plain)
  }

  test("bucketed fact-fact join plans without a shuffle exchange") {
    val result = Scale.bucketedJoinDemo(spark, sf)
    // at fixture scale the planner prefers broadcast; disable it to
    // expose the co-located layout the bucketing buys at fact scale
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert(result.agg(sum($"line_count")).head().getLong(0) ==
      Tables.lineitem(spark, sf).count())
  }

  test("TPC-H Q3 over bucketed facts joins with zero exchange on either fact side") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable size-based broadcast so the fact join can't hide behind a
      // fixture-scale BHJ; the customer leg keeps its explicit broadcast()
      // hint, so the plan shape is exactly the 100 TB one
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketed = Scale.q3Bucketed(spark, sf)
      val got = bucketed.collect().toSeq
      val plan = bucketed.queryExecution.executedPlan.toString
      // a single-key exchange on either orderkey = the fact join still
      // shuffles (the 3-key group-by exchange is allowed and expected)
      val factExchange =
        """Exchange hashpartitioning\((l|o)_orderkey#\d+L?, \d+\)""".r
      assert(factExchange.findFirstIn(plan).isEmpty,
        s"bucketed Q3 still shuffles a fact side:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      // same configuration WITHOUT the layout must shuffle both facts —
      // the spec proves bucketing removed the exchange, not the fixture
      val unbucketed = graft.operators.Tpch.q3ShippingPriority(spark, sf)
      val ref = unbucketed.collect().toSeq
      assert(factExchange.findFirstIn(
        unbucketed.queryExecution.executedPlan.toString).isDefined,
        "unbucketed Q3 did not shuffle on orderkey — assertion is vacuous")
      assert(got == ref, "bucketed layout changed Q3's answer")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("TPC-H Q18 over bucketed facts plans with zero orderkey exchange") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // size-based broadcast off: both remaining joins carry explicit
      // broadcast() hints, so the surviving plan is the 100 TB shape
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketed = Scale.q18Bucketed(spark, sf)
      val got = bucketed.collect().toSeq
      val plan = bucketed.queryExecution.executedPlan.toString
      val keyExchange =
        """Exchange hashpartitioning\((l|o)_orderkey#\d+L?, \d+\)""".r
      assert(keyExchange.findFirstIn(plan).isEmpty,
        s"bucketed Q18 still shuffles on orderkey:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
      // the same query WITHOUT the layout must shuffle lineitem for the
      // per-order aggregate — proves the layout removed it, not the
      // fixture
      val unbucketed = graft.operators.TpchMore.q18LargeOrders(spark, sf)
      val ref = unbucketed.collect().toSeq
      assert(keyExchange.findFirstIn(
        unbucketed.queryExecution.executedPlan.toString).isDefined,
        "unbucketed Q18 did not shuffle on orderkey — assertion is vacuous")
      assert(got == ref, "bucketed layout changed Q18's answer")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("sketch aggregates land within tolerance of exact answers") {
    val s = Scale.qSketchStatsNative(spark, sf).collect()
    s.foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
    // p50 within the observed range and below p99
    s.foreach { r =>
      assert(r.getAs[Double]("approx_p50") <= r.getAs[Double]("approx_p99"))
    }
  }

  test("SQL entry surface produces the same plan family as the DSL") {
    val viaSql = Sql.qWeeklySql(spark, sf)
    assert(viaSql.count() > 0)
    // spot-check one aggregate against the DSL computed directly
    val dsl = Tables.events(spark, sf)
      .groupBy($"event_type", year($"ts").as("year"), weekofyear($"ts").as("week_of_year"))
      .agg((sum($"value".cast("decimal(14,2)")).cast("double") / count($"value")).as("avg_value"))
    val a = viaSql.select("event_type", "year", "week_of_year", "avg_value")
      .orderBy("event_type", "year", "week_of_year").collect().toSeq
    val b = dsl.orderBy("event_type", "year", "week_of_year").collect().toSeq
    assert(a == b)
  }

  test("AQE splits a skewed join partition at runtime") {
    val set = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      set.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key carrying ~100k rows vs 10 rows on every other key
      val left = spark.range(100000).select(
        when($"id" % 100 =!= 0, lit(0L)).otherwise($"id").as("k"),
        concat(lit("padpadpadpadpadpad-"), $"id").as("payload"))
      val right = spark.range(100).select($"id".as("k"), lit("dim").as("name"))
      val joined = left.join(right, "k")
      // collect() executes THIS DataFrame's queryExecution — count() would
      // run a separate plan and leave joined's AdaptiveSparkPlan unexecuted.
      // 99_000 rows on the hot key 0, plus id=0 itself; other left keys
      // (100, 200, …) have no dim match
      assert(joined.collect().length == 99001)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot partition as skewed:\n${plan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("clustered IVF layout probes via partition pruning with identical results") {
    import graft.operators.Ivf
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val emb = Tables.embeddings(spark, sf)
    val cents = Ivf.writeClustered(emb, dir)
    val corpus = spark.read.parquet(dir)
    val res = Ivf.ivfTopKClustered(corpus, emb.filter($"vec_id" < 50), cents, 5)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*\\].*"),
      s"probe did not partition-prune on cell:\n$plan")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs(res) == pairs(Ivf.ivfTopK(emb, 5, 50)),
      "clustered probe must return exactly the unclustered IVF results")
  }

  test("IVF layout append: daily batches join their cells; probe equals a full rebuild") {
    import graft.operators.Ivf
    val emb = Tables.embeddings(spark, sf)
    val first = emb.filter($"vec_id" % 2 === 0)
    val rest = emb.filter($"vec_id" % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    // initial build on the first half trains the quantizer; the second
    // half arrives later as a maintenance batch — no retrain, no rewrite
    val cents = Ivf.writeClustered(first, dir)
    val before = spark.read.parquet(dir).inputFiles.toSet
    Ivf.appendClustered(rest, dir, cents)
    val after = spark.read.parquet(dir).inputFiles.toSet
    assert(before.subsetOf(after), "append rewrote settled files")
    assert(after.size > before.size)
    // from-scratch build over the union with the SAME quantizer
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivf-reb").toString
    Ivf.appendClustered(emb, dir2, cents)
    def pairs(corpus: org.apache.spark.sql.DataFrame) =
      Ivf.ivfTopKClustered(corpus, emb.filter($"vec_id" < 50), cents, 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    assert(pairs(spark.read.parquet(dir)) == pairs(spark.read.parquet(dir2)),
      "appended layout must probe exactly like a full rebuild")
  }

  test("z-order layout prunes files on the SECOND dimension where 1-D layout cannot") {
    val zDir = java.nio.file.Files.createTempDirectory("graft-zorder")
    val linDir = java.nio.file.Files.createTempDirectory("graft-linear")
    try {
      val ev = Tables.events(spark, sf).filter(col("value").isNotNull)
      graft.operators.Scale.writeZOrderLayout(ev, zDir.toString, "user_id", "value",
        nFiles = 16)
      graft.operators.Scale.writeRangeLayout(ev, linDir.toString, Seq("user_id"),
        nFiles = 16)
      assert(spark.read.parquet(zDir.toString).count() == ev.count())
      def valueSpans(dir: java.nio.file.Path): Array[(Double, Double)] = {
        val stream = java.nio.file.Files.list(dir)
        val files =
          try stream.filter(_.toString.endsWith(".parquet")).toArray.map(_.toString)
          finally stream.close()
        files.map { f =>
          val r = spark.read.parquet(f).agg(min("value"), max("value")).head()
          (r.getDouble(0), r.getDouble(1))
        }
      }
      // a predicate on value ONLY: which files could min/max stats skip?
      val vr = ev.agg(min("value"), max("value")).head()
      val (vlo, vhi) = (vr.getDouble(0), vr.getDouble(1))
      val boxLo = vlo + (vhi - vlo) * 0.4
      val boxHi = vlo + (vhi - vlo) * 0.6
      def hits(spans: Array[(Double, Double)]): Int =
        spans.count { case (lo, hi) => hi >= boxLo && lo <= boxHi }
      val (zSpans, linSpans) = (valueSpans(zDir), valueSpans(linDir))
      // user_id-sorted files each span ~the full value domain — no skipping
      assert(hits(linSpans) == linSpans.length,
        s"1-D layout unexpectedly skipped value-range files: ${linSpans.toSeq}")
      // z-ordered files tile both dimensions — a middle-20% value slab
      // must leave at least half the files skippable by footer stats
      assert(hits(zSpans) <= zSpans.length / 2,
        s"z-order pruned too little: ${hits(zSpans)} of ${zSpans.length} files hit")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(zDir.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(linDir.toFile)
    }
  }

  test("range layout yields disjoint per-file key ranges (min/max pruning works)") {
    val out = java.nio.file.Files.createTempDirectory("graft-layout")
    try {
      val ev = Tables.events(spark, sf)
      graft.operators.Scale.writeRangeLayout(ev, out.toString, Seq("user_id"), nFiles = 8)
      // content survives the relayout
      assert(spark.read.parquet(out.toString).count() == ev.count())
      // every parquet file must cover a key range STRICTLY below the
      // next file's (range partitioning keeps all rows of one key in one
      // file; a shared boundary key would force a probe to read both
      // files — the exact failure min/max skipping cares about)
      val stream = java.nio.file.Files.list(out)
      val files =
        try stream.filter(_.toString.endsWith(".parquet")).toArray.map(_.toString)
        finally stream.close()
      assert(files.length > 1, s"expected several files, got ${files.length}")
      val ranges = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(org.apache.spark.sql.functions.min("user_id"),
            org.apache.spark.sql.functions.max("user_id")).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) =>
          assert(hi < lo2, s"file ranges overlap: $hi >= $lo2 (${ranges.toSeq})")
        case _ =>
      }
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  test("profile counts planted nulls and distincts exactly") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Long, String, java.lang.Double)](
      (1L, 10L, "click", 1.5), (2L, null, "click", null),
      (3L, 11L, "view", 2.5), (4L, null, "view", 3.5))
      .toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.expr(
        "timestamp_micros(event_id * 1000000)"))
    val r = graft.operators.Advanced.profile(df).head()
    assert(r.getAs[Long]("n_rows") == 4)
    assert(r.getAs[Long]("user_id_nulls") == 2, "null user_ids miscounted")
    assert(r.getAs[Long]("value_nulls") == 1, "null values miscounted")
    assert(r.getAs[Long]("event_types") == 2)
    assert(r.getAs[Long]("distinct_users") == 2, "nulls must not count as a user")
    assert(r.getAs[Double]("min_value") == 1.5 && r.getAs[Double]("max_value") == 3.5)
  }

  test("daily HLL sketches merge to the whole-range estimate, near exact") {
    val events = Tables.events(spark, "/root/testdata/sf0.01")
    val daily = Scale.dailyUserSketches(events)
    assert(daily.count() == 30, "one sketch row per day")
    val merged = Scale.mergedDistinctUsers(daily).collect()(0)
    // merged-daily estimate must equal the single-pass whole-range
    // sketch (register-wise max is associative across any grouping)
    val whole = events
      .agg(org.apache.spark.sql.functions.hll_sketch_estimate(
        org.apache.spark.sql.functions.hll_sketch_agg(
          org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.lit(12))).as("est"))
      .collect()(0).getLong(0)
    assert(merged.getLong(0) == whole, "merge-of-days must equal one pass")
    // and land within HLL tolerance of the exact count (150 users)
    val exact = events.select("user_id").distinct().count()
    assert(math.abs(merged.getLong(0) - exact).toDouble / exact < 0.05,
      s"estimate ${merged.getLong(0)} vs exact $exact")
    assert(merged.getLong(1) == events.count())
  }
}
