package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Rebalance, Scale}

/** Temperature mixing + cluster-balanced selection: quota math,
  * flattening, and grouped-prefix-sum/window path equivalence. */
class RebalanceSpec extends SparkSpecBase {

  lazy val docs = Tables.documents(spark, sf)

  test("temperature quotas flatten the distribution and never upsample") {
    val counts = Seq("en" -> 900L, "de" -> 100L, "fr" -> 25L)
    val q = Rebalance.temperatureQuotas(counts, target = 500L)
    val byLang = q.map(t => t._1 -> t._3).toMap
    // w = [30, 10, 5], Σ=45: raw quotas 333/111/55; de and fr clamp at
    // their sizes (selection never upsamples)
    assert(byLang == Map("en" -> 333L, "de" -> 100L, "fr" -> 25L))
    // head/tail imbalance shrinks: raw 900/100 = 9x, rebalanced 3x
    assert(byLang("en") * 100 / byLang("de") < 900L * 100 / 100L)
    q.foreach { case (_, n, quota) => assert(quota <= n) }
  }

  test("mix selection honors quotas exactly and both rank paths agree") {
    val res = Rebalance.sourceMixTemperature(docs, "lang", 250L)
    val got = res.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val quotas = Rebalance.temperatureQuotas(
      docs.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq, 250L)
    quotas.foreach { case (lang, _, quota) =>
      assert(got.getOrElse(lang, 0L) == quota, s"$lang quota mismatch")
    }
    def rows(hot: Boolean) =
      Scale.forcingSide(hot)(Rebalance.sourceMixTemperature(docs, "lang", 250L))
        .orderBy("doc_id").collect().toSeq
    assert(rows(hot = true) == rows(hot = false),
      "grouped prefix-sum path must match the window path")
  }

  test("token-space mix honors quotas up to one straddling doc; paths agree") {
    val res = Rebalance.sourceMixTemperatureTokens(docs, "lang", 15000L)
      .collect()
    val byLang = res.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rows) =>
      val quota = rows.head.getAs[Long]("token_quota")
      val selected = rows.map(_.getAs[Long]("token_count")).sum
      val maxDoc = rows.map(_.getAs[Long]("token_count")).max
      // greedy boundary rule: token mass ≤ quota + the straddling doc
      assert(selected < quota + maxDoc, s"$lang over-selected")
      // every selected doc starts strictly inside the budget
      rows.foreach(r =>
        assert(r.getAs[Long]("start_tok") < quota, s"$lang boundary"))
      // maximality: total group mass beyond quota ⇒ selection reaches it
      if (rows.head.getAs[Long]("group_tokens") > quota)
        assert(selected >= quota, s"$lang under-selected")
    }
    def rows(hot: Boolean) =
      Scale.forcingSide(hot)(
          Rebalance.sourceMixTemperatureTokens(docs, "lang", 15000L))
        .orderBy("doc_id").collect().toSeq
    assert(rows(hot = true) == rows(hot = false),
      "grouped prefix-sum path must match the window path")
  }

  test("cluster balance caps every cell and both rank paths agree") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Ivf.trainCentroids(emb)
    val res = Rebalance.clusterBalance(emb, cents, cap = 20L)
    val perCell = res.groupBy("cluster").count().collect()
    assert(perCell.nonEmpty)
    perCell.foreach(r => assert(r.getLong(1) <= 20L))
    // cells smaller than the cap keep everything (balance, not decimation)
    val sizes = res.select("cluster", "cluster_size").distinct().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val kept = perCell.map(r => r.getInt(0) -> r.getLong(1)).toMap
    sizes.foreach { case (cell, size) =>
      assert(kept(cell) == math.min(size, 20L), s"cell $cell")
    }
    def rows(hot: Boolean) =
      Scale.forcingSide(hot)(Rebalance.clusterBalance(emb, cents, 20L))
        .orderBy("vec_id").collect().toSeq
    assert(rows(hot = true) == rows(hot = false),
      "grouped prefix-sum path must match the window path")
  }

  test("null and non-string group columns survive the temperature mix") {
    // ADVICE r12: getString(0) NPE'd on a null group and crashed on an
    // int group column; null groups must also survive the quota JOIN
    // (a plain equi-join drops null keys)
    import spark.implicits._
    val d = Seq(
      (1L, Some(7)), (2L, Some(7)), (3L, Some(7)), (4L, Some(7)),
      (5L, Some(9)), (6L, Some(9)), (7L, None), (8L, None))
      .toDF("doc_id", "src")
    val res = Rebalance.sourceMixTemperature(d, "src", target = 6L)
      .collect()
    assert(res.nonEmpty)
    // the null group is a real category: it keeps its quota's rows
    assert(res.exists(_.isNullAt(1)), "null group must not be dropped")
    // int group values round-trip unchanged in the output column
    assert(res.filter(!_.isNullAt(1)).map(_.getInt(1)).toSet == Set(7, 9))
    // quotas still honored exactly per group
    val quotas = Rebalance.temperatureQuotas(
      Seq("7" -> 4L, "9" -> 2L, (null: String) -> 2L), 6L)
      .map(t => t._1 -> t._3).toMap
    val got = res.groupBy(r =>
      if (r.isNullAt(1)) null else r.getInt(1).toString)
      .map { case (k, v) => k -> v.size.toLong }
    got.foreach { case (k, n) => assert(n == quotas(k), s"group $k") }
    // token-space variant takes the same path
    val dt = d.withColumn("text", concat(lit("w x y z doc "),
      col("doc_id").cast("string")))
    val rt = Rebalance.sourceMixTemperatureTokens(dt, "src", 30L).collect()
    assert(rt.nonEmpty)
    assert(rt.exists(_.isNullAt(1)), "null group must survive token mix")
  }

  test("fertility table: ratios are consistent integer surrogates") {
    val f = graft.operators.Fertility.qFertilityByLang(spark, sf).collect()
    assert(f.length >= 2)
    f.foreach { r =>
      val tokens = r.getAs[Long]("tokens")
      val words = r.getAs[Long]("words")
      val chars = r.getAs[Long]("chars")
      // surface tokens split punctuation off words → at least one per word
      assert(tokens >= words, r.toString)
      assert(r.getAs[Long]("tokens_per_100_words") == tokens * 100 / words)
      assert(r.getAs[Long]("chars_per_100_tokens") == chars * 100 / tokens)
    }
  }
}
