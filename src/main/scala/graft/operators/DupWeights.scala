package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Two curation finishing moves that feed the TRAINING loop directly:
  *
  * 1. DUPLICATE-AWARE LOSS WEIGHTS — instead of dropping near-dups,
  *    down-weight every member of a duplicate cluster by 1/cluster_size
  *    so each piece of CONTENT contributes one unit of training mass
  *    (the count-based alternative to hard dedup; keeps the best copy
  *    selectable downstream while fixing the over-representation).
  *    Clusters come from the existing near-dup closure; singletons keep
  *    weight 1. Integer milli weights: ⌊1000 / size⌋.
  *
  * 2. PADDING-WASTE ACCOUNTING for length-bucketed batching — group
  *    docs into batches of [[BatchSize]] by LENGTH RANK (the bucketed
  *    order) and by DOC ID (the naive order), and report per-source
  *    padded-token waste under each: waste = Σ(batch_max − len). The
  *    measured argument for length bucketing, as data (exact integers).
  */
object DupWeights {

  def dupWeights(docs: DataFrame): DataFrame = {
    val clusters = Dedup.dupClusters(
      Dedup.shingleJaccardPairs(docs, 0.8))
    // r18 (guide §2.4): cluster sizes from ONE bounded aggregate over
    // the matched-docs label table (pair-graph scale) instead of a
    // count() window over the whole corpus, which exchanged + sorted
    // every row by cluster_id. Every member of a matched cluster is IN
    // the label table, so the aggregate counts full cluster sizes;
    // singletons (absent from it) have size 1, and a singleton's id can
    // never equal a matched cluster's id (cluster ids are ids of
    // matched docs) — so the left join cannot mis-size anyone.
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("sz"))
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(sizes, Seq("cluster_id"), "left")
      .withColumn("cluster_size", coalesce(col("sz"), lit(1L)))
      .withColumn("weight_milli", expr("1000 div cluster_size"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("weight_milli"))
  }

  def qDupWeights(spark: SparkSession, dir: String): DataFrame =
    dupWeights(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Twin: the dedup-clusters recursive closure, completed with
    * singletons, then the same window count and integer division. */
  def oDupWeights: String =
    """WITH RECURSIVE w AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
      |    ELSE [array_to_string(ws, ' ')] END AS shingles FROM w),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.shingles, b.shingles))
      |      / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM p
      |  UNION SELECT doc_b, doc_a FROM p),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      |       FROM reach GROUP BY src),
      |fl AS (
      |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
      |sized AS (
      |  SELECT *, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
      |    AS cluster_size
      |  FROM fl)
      |SELECT doc_id, cluster_id, cluster_size,
      |  CAST(1000 // cluster_size AS BIGINT) AS weight_milli
      |FROM sized ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- padding waste

  val BatchSize = 8

  /** Per-source batch ranks ride [[Scale.globalRankGrouped]] by default
    * — sources are a handful-valued key, the VERDICT-r9 hot-group window
    * shape — with the plain window behind the [[Scale.hotGroups]] dial.
    * The dial is read once, not per rank as [[Scale.groupRanks]] would:
    * both rank passes (by length, by id) rank the same frame. */
  def paddingWaste(docs: DataFrame): DataFrame = {
    val lens = docs.select(col("doc_id"), col("source"),
      TextFns.wordCount(col("text")).cast("long").as("len"))
    val hot = Scale.hotGroups(lens, Seq("source"))
    def wasteUnder(orderCol: String, label: String): DataFrame = {
      val ranked = if (hot)
        Scale.globalRankGrouped(lens, Seq("source"),
          Seq(col(orderCol), col("doc_id")), "rn")
      else {
        val w = Window.partitionBy(col("source"))
          .orderBy(col(orderCol), col("doc_id"))
        lens.withColumn("rn", row_number().over(w))
      }
      ranked
        .withColumn("batch", expr(s"(rn - 1) div ${BatchSize}"))
        .groupBy(col("source"), col("batch"))
        .agg(sum(col("len")).as("tok"), max(col("len")).as("mx"),
          count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(sum(col("mx") * col("n") - col("tok")).as(s"waste_$label"),
          sum(col("tok")).as(s"tok_$label"))
    }
    wasteUnder("len", "bucketed")
      .join(wasteUnder("doc_id", "naive").drop("tok_naive"), Seq("source"))
      .withColumnRenamed("tok_bucketed", "total_tokens")
      .select(col("source"), col("total_tokens"),
        col("waste_naive"), col("waste_bucketed"))
  }

  def qPaddingWaste(spark: SparkSession, dir: String): DataFrame =
    paddingWaste(Tables.documents(spark, dir)).orderBy(col("source"))

  def oPaddingWaste: String =
    s"""WITH l AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT)
      |      AS len
      |  FROM documents),
      |b AS (
      |  SELECT source, len,
      |    (row_number() OVER (PARTITION BY source ORDER BY len, doc_id) - 1)
      |      // ${BatchSize} AS batch
      |  FROM l),
      |bb AS (
      |  SELECT source, batch, sum(len) AS tok, max(len) AS mx, count(*) AS n
      |  FROM b GROUP BY 1, 2),
      |bw AS (
      |  SELECT source, CAST(sum(mx * n - tok) AS BIGINT) AS waste_bucketed,
      |    CAST(sum(tok) AS BIGINT) AS total_tokens
      |  FROM bb GROUP BY 1),
      |nv AS (
      |  SELECT source, len,
      |    (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
      |      // ${BatchSize} AS batch
      |  FROM l),
      |nb AS (
      |  SELECT source, batch, sum(len) AS tok, max(len) AS mx, count(*) AS n
      |  FROM nv GROUP BY 1, 2),
      |nw AS (
      |  SELECT source, CAST(sum(mx * n - tok) AS BIGINT) AS waste_naive
      |  FROM nb GROUP BY 1)
      |SELECT bw.source, bw.total_tokens, nw.waste_naive, bw.waste_bucketed
      |FROM bw JOIN nw USING (source) ORDER BY source""".stripMargin
}
