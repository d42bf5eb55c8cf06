package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Training-pair construction: contrastive hard negatives and the
  * deterministic epoch shuffle — the two map-side artifacts a
  * contrastive/causal trainer asks the data layer for.
  */
object Pairs {

  // ------------------------------------------------------ hard negatives

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most similar vectors with a DIFFERENT label —
    * the near-boundary impostors that carry most of the gradient
    * signal. The brute-force form here is the labelled exact baseline
    * (the [[Similarity.bruteForceTopK]] discipline); at corpus scale
    * the candidate leg rides any of the ANN paths (LSH/IVF/PQ/RP) with
    * the label-mismatch filter applied before the re-rank window.
    */
  def hardNegatives(emb: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val n = emb.withColumn("nrm", Similarity.norm(col("embedding")))
    val q = n.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("embedding").as("qe"), col("nrm").as("qn"))
    val c = n.select(col("vec_id").as("neighbor_id"),
      col("label").as("neighbor_label"), col("embedding").as("ce"),
      col("nrm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(c, col("query_label") =!= col("neighbor_label"))
      .withColumn("cosine",
        Similarity.dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("cosine"), col("rank"))
  }

  def qHardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegatives(Tables.embeddings(spark, dir), k = 5, nQueries = 50)
      .orderBy(col("query_id"), col("rank"))

  def oHardNegatives: String =
    """WITH n AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |p AS (
      |  SELECT q.vec_id AS query_id, q.label AS query_label,
      |    c.vec_id AS neighbor_id, c.label AS neighbor_label,
      |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (q.nrm * c.nrm) AS cosine
      |  FROM n q JOIN n c ON q.vec_id < 50 AND c.label != q.label)
      |SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
      |       CAST(rank AS INTEGER) AS rank
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |      FROM p)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // -------------------------------------------------------- epoch shuffle

  val Epochs = 2

  /** Deterministic per-epoch corpus shuffle: training order for epoch e
    * is the ascending order of `md5u56(doc_id || ':' || e)` — a seeded
    * pseudo-random permutation that is reproducible (restart-safe,
    * auditable) and different every epoch, with no RNG state anywhere.
    * Positions come from [[Scale.globalRank]], so there is no global
    * single-task sort; the hash key is uniform by construction, which
    * makes the range partitioning skew-free. */
  def epochShuffle(docs: DataFrame, epochs: Int = Epochs,
      nPartitions: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(col("doc_id"))
      .crossJoin(broadcast((0 until epochs).toDF("epoch")))
      .withColumn("shuffle_key",
        TextFns.md5u56(concat_ws(":", col("doc_id"), col("epoch"))))
    // per-epoch 1-based positions DIRECTLY from the grouped rank (one
    // shuffle, deterministic baked buckets on the uniform hash key) —
    // the old shape ranked globally with epoch leading the order, then
    // paid a second full pass to rebase each epoch to 1
    Scale.globalRankGrouped(keyed, Seq("epoch"),
        Seq(col("shuffle_key"), col("doc_id")), "position", nPartitions)
      .select(col("epoch"), col("position"), col("doc_id"), col("shuffle_key"))
  }

  def qEpochShuffle(spark: SparkSession, dir: String): DataFrame =
    epochShuffle(Tables.documents(spark, dir))
      .orderBy(col("epoch"), col("position"))

  /** Source-interleaved training order: within each source, docs rank
    * by the deterministic shuffle hash; global position striped as
    * rank·K + source index (K = #sources) — every K consecutive
    * training rows see every source once, the arrival balance a
    * mixture-trained run wants WITHOUT a global shuffle ever touching
    * the batch composition. The per-source rank is EVERY doc on a
    * handful-valued key — the r9 hot-group shape — so it rides the
    * size-aware [[Scale.groupRanks]] dial (plain window small,
    * distributed prefix-sum ranks once a source passes the crossover);
    * plus a ≤K-row broadcast of source indexes. */
  def interleaveSources(docs: DataFrame): DataFrame = {
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("src_idx",
        row_number().over(Window.orderBy(col("source"))) - 1)
    val k = srcIdx.count()
    val keyed = docs.select(col("doc_id"), col("source"),
        TextFns.md5u56(concat_ws(":", col("doc_id"), lit("il"))).as("shuffle_key"))
      .join(broadcast(srcIdx), Seq("source"))
    Scale.groupRanks(keyed, Seq("source"),
        Seq(col("shuffle_key"), col("doc_id")), "src_rank")
      .select(col("doc_id"), col("source"),
        ((col("src_rank") - 1) * lit(k) + col("src_idx")).cast("long")
          .as("position"))
  }

  def qInterleave(spark: SparkSession, dir: String): DataFrame =
    interleaveSources(Tables.documents(spark, dir))
      .orderBy(col("position"))

  def oInterleave: String = {
    val h = TextFns.md5u56Sql("concat(doc_id, ':', 'il')")
    s"""WITH si AS (
      |  SELECT source,
      |    row_number() OVER (ORDER BY source) - 1 AS src_idx
      |  FROM (SELECT DISTINCT source FROM documents)),
      |k AS (SELECT count(*) AS k FROM si),
      |r AS (
      |  SELECT d.doc_id, d.source, si.src_idx,
      |    row_number() OVER (PARTITION BY d.source
      |                       ORDER BY $h, d.doc_id) AS src_rank
      |  FROM documents d JOIN si USING (source))
      |SELECT doc_id, source,
      |  CAST((src_rank - 1) * k + src_idx AS BIGINT) AS position
      |FROM r, k ORDER BY position""".stripMargin
  }

  def oEpochShuffle: String = {
    val h = TextFns.md5u56Sql("concat(doc_id, ':', epoch)")
    s"""WITH k AS (
      |  SELECT doc_id, epoch, $h AS shuffle_key
      |  FROM documents, (SELECT unnest(range(0, $Epochs)) AS epoch)),
      |r AS (
      |  SELECT epoch, doc_id, shuffle_key,
      |    row_number() OVER (PARTITION BY epoch
      |                       ORDER BY shuffle_key, doc_id) AS position
      |  FROM k)
      |SELECT CAST(epoch AS INTEGER) AS epoch, CAST(position AS BIGINT) AS position,
      |       doc_id, shuffle_key
      |FROM r ORDER BY epoch, position""".stripMargin
  }
}
