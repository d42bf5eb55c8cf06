package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Exprs
import graft.operators.Silver

/** Property-based semantics specs (SURVEY §5): dedup idempotence,
  * quality-score bounds, range-filter completeness, agg-sum consistency
  * over generated inputs rather than fixtures. */
class PropertySpec extends SparkSpecBase {

  /** Deterministic sampling of a generator (scalatestplus bridge is not
    * in the offline cache; raw ScalaCheck with fixed seeds is enough). */
  private def forAll[T](g: Gen[T], n: Int = 15)(f: T => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }
  private def whenever(c: Boolean)(f: => Unit): Unit = if (c) f
  import spark.implicits._

  private val rowGen = for {
    id <- Gen.choose(0L, 999L)
    key <- Gen.choose(0L, 9L)
    slot <- Gen.choose(0L, 19L)
    value <- Gen.choose(-150.0, 150.0)
  } yield (id, key, java.sql.Timestamp.valueOf(
    java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(slot)), value)

  private val rowsGen = Gen.listOfN(60, rowGen)

  test("dedup is idempotent and keeps the min-id row per key (property)") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("event_id", "user_id", "ts", "value")
        val once = Silver.dedupFirstByKey(df, Seq("user_id", "ts"), col("event_id"))
        val twice = Silver.dedupFirstByKey(once, Seq("user_id", "ts"), col("event_id"))
        val onceRows = once.collect().toSet
        assert(onceRows == twice.collect().toSet)
        // survivor is the min event_id of its key group
        val expected = rows.groupBy(r => (r._2, r._3))
          .map { case (_, g) => g.minBy(_._1) }.toSet
        assert(onceRows.map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
          == expected)
      }
    }
  }

  test("quality score stays within [100 - 10*cols, 100] (property)") {
    forAll(Gen.listOfN(30, Gen.option(Gen.choose(-1000.0, 1000.0)))) { vals =>
      whenever(vals.nonEmpty) {
        val df = vals.map(v => Tuple1(v)).toDF("a")
        val scores = df.select(Exprs.qualityScore(Seq(col("a"), col("a"), col("a"))))
          .collect().map(_.getInt(0))
        assert(scores.forall(s => s == 100 || s == 70))
      }
    }
  }

  test("range filter partitions rows exactly (property)") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("event_id", "user_id", "ts", "value")
      val in = df.filter(col("value").between(-100.0, 60.0)).count()
      val out = df.filter(!col("value").between(-100.0, 60.0)).count()
      assert(in + out == rows.size)
      assert(in == rows.count(r => r._4 >= -100.0 && r._4 <= 60.0))
    }
  }

  test("hourly record counts roll up to the daily count (property)") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("event_id", "user_id", "ts", "value")
          .withColumn("event_type", lit("t"))
          .withColumn("props", lit("{}"))
        val enriched = Silver.enrich(df)
        val daily = Silver.dailyAgg(enriched)
          .agg(sum($"record_count")).head().getLong(0)
        val hourly = Silver.hourlyAgg(enriched)
          .agg(sum($"record_count")).head().getLong(0)
        assert(daily == hourly && daily == rows.size)
      }
    }
  }

  test("binned range join equals the naive theta-join on generated timestamps (property)") {
    // seconds resolution near bin edges; ids unique per generated set
    val tsGen = Gen.choose(0L, 4L * 1800L).map(s =>
      java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(s)))
    val evGen = for { key <- Gen.choose(0L, 2L); ts <- tsGen } yield (key, ts)
    forAll(Gen.listOfN(40, evGen), n = 8) { evs =>
      whenever(evs.nonEmpty) {
        val df = evs.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
          .toDF("event_id", "user_id", "ts")
        val a = df.select($"event_id".as("event_a"), $"user_id", $"ts".as("ts_a"))
        val b = df.select($"event_id".as("event_b"), $"user_id", $"ts".as("ts_b"))
        def pairs(r: org.apache.spark.sql.DataFrame) =
          r.select("event_a", "event_b").collect()
            .map(x => (x.getLong(0), x.getLong(1))).toSet
        val binned = pairs(graft.operators.Ranged
          .rangeJoinBinned(a, b, "user_id", "ts_a", "ts_b", 1800L))
        val naive = pairs(a.join(b, Seq("user_id"))
          .filter($"ts_b" > $"ts_a" &&
            $"ts_b" <= $"ts_a" + expr("INTERVAL 1800 SECONDS")))
        assert(binned == naive,
          s"missed ${naive -- binned}, extra ${binned -- naive}")
      }
    }
  }

  test("md5u56: 56-bit range, deterministic, pinned reference values (property)") {
    import graft.functions.TextFns
    // pinned against hashlib: int(md5(s).hexdigest()[:14], 16)
    val pinned = Seq("abc" -> 40533842309468751L,
      "hello world" -> 26659015482154734L,
      "the quick brown" -> 52914156111112028L)
    val got = pinned.map(_._1).toDF("s")
      .select(TextFns.md5u56($"s")).collect().map(_.getLong(0)).toSeq
    assert(got == pinned.map(_._2), s"$got")
    forAll(Gen.listOfN(40, Gen.alphaNumStr), n = 5) { ss =>
      whenever(ss.nonEmpty) {
        val vals = ss.toDF("s").select(TextFns.md5u56($"s")).collect().map(_.getLong(0))
        assert(vals.forall(v => v >= 0L && v < (1L << 56)))
        val again = ss.toDF("s").select(TextFns.md5u56($"s")).collect().map(_.getLong(0))
        assert(vals.toSeq == again.toSeq)
      }
    }
  }

  test("PII scrub is idempotent and leaves PII-free text untouched (property)") {
    val wordGen = Gen.oneOf("alpha", "beta", "v1.2", "x-4567", "10.0.0.1",
      "a@b.io", "call 555-123-4567 now", "99.12", "date 2024-01-01")
    val textGen = Gen.listOfN(8, wordGen).map(_.mkString(" "))
    forAll(Gen.listOfN(6, textGen), n = 10) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      // one expression tuple serves both projections: scrubPii is pure,
      // so applying it to the already-scrubbed text must change nothing
      // (the placeholders contain no digits/@ so no pattern re-fires)
      val (e, p, ip, clean) = graft.operators.Curation.scrubPii(col("text"))
      val once = df.select($"doc_id", clean.as("text"))
      val twice = once.select($"doc_id", clean.as("text"))
      assert(once.collect().toSeq == twice.collect().toSeq, "scrub not idempotent")
      assert(once.select((e + p + ip).as("n")).agg(sum($"n")).head().getLong(0) == 0,
        "scrubbed text still matches a PII pattern")
    }
  }

  test("repetition ratio is bounded [0,1) and zero for all-distinct shingles (property)") {
    val textGen = for {
      base <- Gen.listOfN(12, Gen.identifier.map(_.take(5)))
      reps <- Gen.choose(1, 6)
    } yield List.fill(reps)(base).flatten.mkString(" ")
    forAll(Gen.listOfN(5, textGen), n = 10) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val r = graft.operators.Curation.repetition(df).collect()
      r.foreach { row =>
        val ratio = row.getAs[Double]("repetition_ratio")
        assert(ratio >= 0.0 && ratio < 1.0, s"ratio out of bounds: $ratio")
        assert(row.getAs[Int]("distinct_ngrams") <= row.getAs[Int]("total_ngrams"))
      }
    }
  }

  test("sequence packing conserves tokens and never reorders a shard (property)") {
    val docGen = for {
      id <- Gen.choose(0L, 100000L)
      words <- Gen.choose(1, 80)
    } yield (id, Seq.fill(words)("w").mkString(" "))
    forAll(Gen.listOfN(40, docGen).map(_.distinctBy(_._1)), n = 10) { docs =>
      whenever(docs.nonEmpty) {
        val df = docs.toDF("doc_id", "text")
        val packed = graft.operators.Curation.seqPack(df, capacity = 64, nShards = 4)
          .collect()
        packed.groupBy(_.getAs[Int]("shard")).foreach { case (_, rs) =>
          val inOrder = rs.sortBy(_.getAs[Long]("doc_id"))
          // start offsets are the prefix sums → packing conserves tokens
          // and pack_id is monotone in doc order within a shard
          var cum = 0L
          var lastPack = -1L
          inOrder.foreach { r =>
            assert(r.getAs[Long]("start_tok") == cum)
            assert(r.getAs[Long]("pack_id") >= lastPack, "pack ids went backwards")
            lastPack = r.getAs[Long]("pack_id")
            cum += r.getAs[Int]("token_count")
          }
        }
      }
    }
  }

  private val wordGen = Gen.oneOf("small", "large", "ring", "table", "sky",
    "blue", "mint", "rose", "drab", "lace", "box", "chair")
  private val nameGen = for {
    k <- Gen.choose(1, 5)
    ws <- Gen.listOfN(k, wordGen)
  } yield ws.mkString(" ")

  test("jaro-winkler kernel: symmetry, range, identity, hist implication (property)") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    import graft.plans.JaroWinklerKernel._
    val pairGen = for { a <- nameGen; b <- nameGen } yield (a, b)
    forAll(pairGen, n = 300) { case (a, b) =>
      val s = compute(u8(a), u8(b))
      assert(s == compute(u8(b), u8(a)), s"asymmetric on '$a'/'$b'")
      assert(s >= 0.0 && s <= 1.0, s"out of range on '$a'/'$b': $s")
      assert(compute(u8(a), u8(a)) == 1.0)
      // the histogram candidate bound is an implication at EVERY legal
      // threshold, not just the query's 0.9
      val micro = math.floor(s * 1000000d).toLong
      Seq(650000L, 800000L, 900000L, 990000L).foreach { th =>
        if (micro >= th)
          assert(histCandidate(hist(u8(a)), hist(u8(b)), th),
            s"bound dropped '$a'/'$b' (score $micro) at θ=$th")
      }
    }
  }

  test("skyline equals brute-force dominance on generated point sets (property)") {
    val ptGen = for {
      k <- Gen.choose(0L, 999999L)
      cost <- Gen.choose(1, 40).map(_.toDouble)
      gain <- Gen.choose(1L, 30L)
    } yield (k, cost, gain)
    val setGen = for {
      pts <- Gen.listOfN(40, ptGen)
      nPart <- Gen.choose(1, 9)
    } yield (pts, nPart)
    forAll(setGen, n = 8) { case (pts, nPart) =>
      // duplicate keys collapse (keys must be unique rows)
      val uniq = pts.groupBy(_._1).map(_._2.head).toSeq
      whenever(uniq.nonEmpty) {
        val df = uniq.toDF("k", "cost", "gain")
        val got = graft.operators.Skyline
          .frontier2d(df, "k", "cost", "gain", nPartitions = nPart)
          .select("k").collect().map(_.getLong(0)).toSet
        val want = uniq.filter { case (_, c, g) =>
          !uniq.exists { case (_, qc, qg) =>
            qc <= c && qg >= g && (qc < c || qg > g) }
        }.map(_._1).toSet
        assert(got == want, s"nPart=$nPart pts=$uniq")
      }
    }
  }

  test("corpus split is total and exclusive: one split per doc, buckets in [0,100)") {
    val docs = Tables.documents(spark, sf)
    val split = graft.operators.TextAnalysis.withSplit(docs)
    val n = docs.count()
    assert(split.count() == n, "split must not drop or duplicate docs")
    val byBucket = split.filter($"bucket" < 0 || $"bucket" >= 100).count()
    assert(byBucket == 0)
    val shares = split.groupBy($"split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(shares.keySet == Set("train", "val", "test"))
    assert(shares("train") > n * 6 / 10, s"train share off: $shares")
    assert(shares("val") + shares("test") > n / 10, s"holdout share off: $shares")
  }
}
