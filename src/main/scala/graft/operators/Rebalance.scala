package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Distribution rebalancing for training mixtures — the two standard
  * knobs a 100 TB curation pipeline turns between dedup and packing:
  *
  * 1. TEMPERATURE (α) SAMPLING over a categorical column — the
  *    multilingual-pretraining rule (exponentiated smoothing in mBERT,
  *    α-sampling in XLM-R): sampling weights ∝ n_i^α with α < 1 flatten
  *    a skewed group distribution so head groups stop drowning the
  *    tail. α is pinned to 1/2 — the one exponent whose per-group
  *    weights are EXACT integers in both engines (floor of a
  *    correctly-rounded IEEE sqrt of an integer; both engines floor the
  *    same double) — so the driver gate stays a bit-exact hash gate
  *    rather than a tolerance check. The mechanism generalizes to any
  *    α; only the weight function changes.
  *
  * 2. CLUSTER-BALANCED SELECTION over embedding k-means cells — topic
  *    balance: cap every semantic cluster at a fixed budget so a
  *    near-duplicate-rich topic can't dominate an epoch. Rides the
  *    SAME deterministic coarse quantizer as the IVF family
  *    ([[Ivf.cellOf]]), so the DuckDB twin inlines the trained
  *    centroids as literals (the [[Ivf.oracleEntries]] precedent).
  *
  * Scale shape, shared by both: group counts are one partial agg
  * collected as a bounded control plane (≤ |groups| rows); selection is
  * rank-below-quota per group, routed through [[Scale.groupRanks]] — a
  * plain per-group window while every group fits one sort task, the
  * distributed grouped prefix sum ([[Scale.globalRankGrouped]]) once
  * groups are few and giant, which is exactly the regime rebalancing
  * exists for (one language with 90% of the corpus; 16 clusters over
  * 100 TB). Selection order is the usual md5u56 content-free hash rank
  * (deterministic, reproducible in DuckDB) — no RNG state anywhere.
  */
object Rebalance {

  /** Integer temperature quotas at α = 1/2: w_i = ⌊√n_i⌋,
    * q_i = min(n_i, ⌊target·w_i / Σw⌋). Selection never upsamples — a
    * with-replacement epoch over the rebalanced set is
    * [[Curation.epochShuffle]]'s job. BigInt guards target·w overflow;
    * input is sorted so the fold order is pinned. */
  def temperatureQuotas(counts: Seq[(String, Long)],
      target: Long): Seq[(String, Long, Long)] = {
    // null-first ordering: a null group (null lang/source) is a real
    // category a 100 TB corpus will contain; plain sortBy on String
    // NPEs on it (ADVICE r12)
    val sorted = counts.sortBy(_._1)(Ordering.fromLessThan[String](
      (a, b) => if (a == null) b != null else if (b == null) false
      else a < b))
    val ws = sorted.map { case (_, n) => math.sqrt(n.toDouble).toLong }
    val wSum = ws.sum
    require(wSum > 0, "temperature mix over an empty corpus")
    sorted.zip(ws).map { case ((g, n), w) =>
      (g, n, math.min(n, (BigInt(target) * w / wSum).toLong))
    }
  }

  /** Group key read null- and type-safely off a collected count row:
    * a null group (null lang/source) must survive as a category, and a
    * non-string group column (int source id) must not crash getString
    * (ADVICE r12). Group identity downstream is the key's STRING form
    * (quota join below matches on cast-to-string, null-safely). */
  private def groupKeyOf(r: org.apache.spark.sql.Row): String = {
    val v = r.get(0)
    if (v == null) null else v.toString
  }

  /** Temperature-rebalanced selection: every `groupCol` group keeps its
    * first q_i rows by hash rank. Output carries the group's raw count
    * and quota so the rebalance is auditable row-by-row. */
  def sourceMixTemperature(docs: DataFrame, groupCol: String,
      target: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = docs.groupBy(col(groupCol)).count().collect()
      .map(r => groupKeyOf(r) -> r.getLong(1)).toSeq
    val quotas = temperatureQuotas(counts, target)
    val qDf = broadcast(quotas.toDF("_graft_g", "group_n", "quota"))
    val ranked = Scale.groupRanks(
      docs.select(col("doc_id"), col(groupCol)), Seq(groupCol),
      Seq(TextFns.md5u56(col("doc_id").cast("string")), col("doc_id")),
      "rank_in_group")
    // <=> keeps the null group joined to its own quota row — a plain
    // equi-join silently drops every null-group document
    ranked.join(qDf, ranked(groupCol).cast("string") <=> qDf("_graft_g"))
      .filter(col("rank_in_group") <= col("quota"))
      .select(col("doc_id"), col(groupCol), col("rank_in_group"),
        col("group_n"), col("quota"))
  }

  /** α=1/2 temperature rebalance of the documents corpus BY LANGUAGE —
    * the canonical application (en dominates the fixture ~3.4× over fr;
    * the rebalanced quotas flatten that to ~1.8×). */
  def qMixTemperature(spark: SparkSession, dir: String): DataFrame =
    sourceMixTemperature(Tables.documents(spark, dir), "lang", target = 250L)
      .orderBy(col("doc_id"))

  def oMixTemperature: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH cnt AS (SELECT lang, count(*) AS group_n FROM documents GROUP BY lang),
       |w AS (
       |  SELECT lang, group_n,
       |    CAST(floor(sqrt(CAST(group_n AS DOUBLE))) AS BIGINT) AS w
       |  FROM cnt),
       |q AS (
       |  SELECT lang, group_n,
       |    LEAST(group_n,
       |      CAST(CAST(250 AS HUGEINT) * w // (SELECT sum(w) FROM w) AS BIGINT))
       |      AS quota
       |  FROM w),
       |r AS (
       |  SELECT doc_id, lang,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY $h, doc_id) AS rk
       |  FROM documents)
       |SELECT doc_id, r.lang, CAST(rk AS BIGINT) AS rank_in_group,
       |  group_n, quota
       |FROM r JOIN q ON r.lang = q.lang
       |WHERE rk <= quota ORDER BY doc_id""".stripMargin
  }

  /** [[sourceMixTemperature]] in TOKEN space — the unit pretraining
    * mixtures are actually specified in: weights ∝ √(group token
    * totals), quotas are token budgets, and each group contributes docs
    * in id-hash order until its quota under the greedy boundary rule
    * (the doc straddling the cap is kept — `start_tok < quota`, the
    * [[Curation.sourceMixTokens]] convention). Running token sums ride
    * [[Scale.groupRunningSums]]: a per-group window while every group
    * fits one sort task, distributed prefix sums for few giant groups. */
  def sourceMixTemperatureTokens(docs: DataFrame, groupCol: String,
      targetTokens: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val slim = docs.select(col("doc_id"), col(groupCol),
      TextFns.tokenCount(col("text")).cast("long").as("token_count"))
    Dedup.withCached(slim) { s =>
      val totals = s.groupBy(col(groupCol))
        .agg(sum(col("token_count")).as("n")).collect()
        .map(r => groupKeyOf(r) -> r.getLong(1)).toSeq
      val quotas = temperatureQuotas(totals, targetTokens)
      val qDf = broadcast(
        quotas.toDF("_graft_g", "group_tokens", "token_quota"))
      val order = Seq(TextFns.md5u56(col("doc_id").cast("string")),
        col("doc_id"))
      val cum = Scale.groupRunningSums(s, Seq(groupCol), order,
          col("token_count"), "cum_tok")
        .withColumn("start_tok", col("cum_tok") - col("token_count"))
      cum.join(qDf, cum(groupCol).cast("string") <=> qDf("_graft_g"))
        .filter(col("start_tok") < col("token_quota"))
        .select(col("doc_id"), col(groupCol), col("token_count"),
          col("start_tok"), col("group_tokens"), col("token_quota"))
    }
  }

  def qMixTemperatureTokens(spark: SparkSession, dir: String): DataFrame =
    sourceMixTemperatureTokens(Tables.documents(spark, dir), "lang",
      targetTokens = 15000L)
      .orderBy(col("doc_id"))

  def oMixTemperatureTokens: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH tk AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
       |      AS token_count
       |  FROM documents),
       |cnt AS (
       |  SELECT lang, CAST(sum(token_count) AS BIGINT) AS group_tokens
       |  FROM tk GROUP BY lang),
       |w AS (
       |  SELECT lang, group_tokens,
       |    CAST(floor(sqrt(CAST(group_tokens AS DOUBLE))) AS BIGINT) AS w
       |  FROM cnt),
       |q AS (
       |  SELECT lang, group_tokens,
       |    LEAST(group_tokens,
       |      CAST(CAST(15000 AS HUGEINT) * w // (SELECT sum(w) FROM w) AS BIGINT))
       |      AS token_quota
       |  FROM w),
       |r AS (
       |  SELECT doc_id, lang, token_count,
       |    CAST(sum(token_count) OVER (PARTITION BY lang ORDER BY $h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - token_count AS BIGINT) AS start_tok
       |  FROM tk)
       |SELECT r.doc_id, r.lang, r.token_count, r.start_tok,
       |  q.group_tokens, q.token_quota
       |FROM r JOIN q ON r.lang = q.lang
       |WHERE start_tok < token_quota ORDER BY doc_id""".stripMargin
  }

  /** Cluster-balanced selection: assign every vector its k-means cell
    * (one codegen'd [[Ivf.cellOf]] map pass — no training here; the
    * caller passes the frozen quantizer), then keep each cell's first
    * `cap` vectors by hash rank. `cluster_size` carries the pre-cap
    * population so the report doubles as the imbalance diagnostic. */
  def clusterBalance(emb: DataFrame, cents: Seq[Array[Double]],
      cap: Long): DataFrame =
    Scale.groupRanks(
      emb.withColumn("cluster", Ivf.cellOf(col("embedding"), cents))
        .select(col("vec_id"), col("cluster")),
      Seq("cluster"),
      Seq(TextFns.md5u56(col("vec_id").cast("string")), col("vec_id")),
      "rank_in_cluster", Some("cluster_size"))
      .filter(col("rank_in_cluster") <= cap)
      .select(col("vec_id"), col("cluster"), col("cluster_size"),
        col("rank_in_cluster"))

  def qClusterBalance(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    clusterBalance(emb, Ivf.centroidsFor(dir, emb), cap = 40L)
      .orderBy(col("vec_id"))
  }

  /** Generated twin (same [[Ivf.cachedCentroids]] discipline as the IVF
    * family: available only when exactly one dataset's quantizer is
    * cached; rows-only gate otherwise). */
  def oracleEntries: Map[String, String] = Ivf.cachedCentroids match {
    case Some((_, cents)) =>
      val h = TextFns.md5u56Sql("CAST(neighbor_id AS VARCHAR)")
      Map("curation_cluster_balance" ->
        s"""${Ivf.ivfBaseSql(cents)},
           |sizes AS (SELECT cell, count(*) AS cluster_size FROM assign GROUP BY cell),
           |r AS (
           |  SELECT neighbor_id AS vec_id, cell AS cluster,
           |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY $h, neighbor_id)
           |      AS rk
           |  FROM assign)
           |SELECT vec_id, cluster, cluster_size,
           |  CAST(rk AS BIGINT) AS rank_in_cluster
           |FROM r JOIN sizes ON r.cluster = sizes.cell
           |WHERE rk <= 40 ORDER BY vec_id""".stripMargin)
    case None => Map.empty
  }
}
