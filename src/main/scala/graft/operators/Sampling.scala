package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Weighted corpus sampling — Bernoulli inclusion with probability
  * proportional to document size, plus the inverse-probability weight
  * (Horvitz-Thompson) column downstream estimators need to stay
  * unbiased. The curation use: build a cheap pilot corpus whose token
  * statistics estimate the full corpus's, without the uniform-sample
  * bias toward short documents.
  *
  * Inclusion is INTEGER-EXACT and stateless: doc d with w(d) words is
  * kept iff md5u56(doc_id) mod (Cap·100) < min(w, Cap)·RatePct — i.e.
  * p(d) = RatePct·min(w, Cap) / (100·Cap), capped so no document
  * exceeds RatePct/100. No RNG, no libm: the decision replays
  * identically in any engine ([[TextFns.md5u56]]'s discipline), re-runs
  * are idempotent, and the sample is auditable row-by-row. The ipw
  * column is one exactly-rounded IEEE division of two integers, so the
  * full output carries a DuckDB hash gate.
  *
  * Scale shape (100 TB): map-only — a projection and a filter on the
  * scan, zero shuffles; at 1000 executors every partition samples
  * independently (the hash needs no coordination, unlike a reservoir).
  */
object Sampling {

  /** Per-doc probability cap denominator: documents at or above `Cap`
    * words get the full `RatePct`% inclusion probability. */
  val Cap = 200L
  val RatePct = 30L

  def weightedSample(docs: DataFrame, cap: Long = Cap,
      ratePct: Long = RatePct): DataFrame = {
    val w = least(size(TextFns.words(col("text"))).cast("long"), lit(cap))
    val u = pmod(TextFns.md5u56(col("doc_id").cast("string")), lit(cap * 100L))
    docs
      .withColumn("n_words", w)
      .withColumn("u", u)
      .filter(col("u") < col("n_words") * ratePct)
      .withColumn("ipw",
        lit((cap * 100L).toDouble) / (col("n_words") * ratePct).cast("double"))
      .select(col("doc_id"), col("n_words"), col("ipw"))
  }

  def qWeightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(spark, dir)).orderBy("doc_id")

  val oWeightedSample: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    raw"""WITH d AS (
      |  SELECT doc_id,
      |    least(CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT),
      |          $Cap) AS n_words,
      |    $h % ${Cap * 100L} AS u
      |  FROM documents)
      |SELECT doc_id, n_words,
      |  ${(Cap * 100L).toDouble} / CAST(n_words * $RatePct AS DOUBLE) AS ipw
      |FROM d WHERE u < n_words * $RatePct
      |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------- exact-proportion split

  /** Train/val/test split with EXACT per-stratum proportions — the
    * audited alternative to hash-rate splits (TextAnalysis.withSplit),
    * whose per-stratum sizes only approximate the target rates: each
    * source's docs are ranked by a deterministic hash (shuffle order,
    * no RNG) and sliced at exact integer boundaries — train gets rows
    * with r·10 ≤ 8·n_s, val up to 9·n_s, test the rest, so counts are
    * exactly ⌊0.8·n_s⌋ / ⌊0.9·n_s⌋−⌊0.8·n_s⌋ / remainder, pure integer
    * cross-multiplication. Hash-ranking rides the [[Scale.hotGroups]]
    * dial like every per-source window (handful-valued key).
    *
    * Gated at the audit grain: (source, split) → count + id-sum — any
    * mis-assigned doc flips the fingerprint. */
  def exactSplit(docs: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("source"),
      TextFns.md5u56(col("doc_id").cast("string")).as("h"))
    Scale.groupRanks(keyed, Seq("source"), Seq(col("h"), col("doc_id")),
        "r", totalOut = Some("n_s"))
      .withColumn("split",
        when(col("r") * 10 <= col("n_s") * 8, "train")
          .when(col("r") * 10 <= col("n_s") * 9, "val")
          .otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
  }

  def qExactSplit(spark: SparkSession, dir: String): DataFrame =
    exactSplit(Tables.documents(spark, dir)).orderBy(col("source"), col("split"))

  val oExactSplit: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    raw"""WITH k AS (SELECT doc_id, source, $h AS h FROM documents),
      |r AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
      |      AS BIGINT) AS r,
      |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
      |  FROM k),
      |s AS (
      |  SELECT doc_id, source,
      |    CASE WHEN r * 10 <= n_s * 8 THEN 'train'
      |         WHEN r * 10 <= n_s * 9 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM r)
      |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM s GROUP BY 1, 2 ORDER BY source, split""".stripMargin
  }

  // ------------------------------------------ exact-k per-group sample

  val SampleK = 25

  /** Exactly `k` docs per source — the deterministic replacement for a
    * per-group reservoir: keep the k smallest deterministic hash values
    * (uniform over the group, no RNG, no sequential state — every
    * partition ranks independently and the group-rank filter does the
    * rest; the KMV selection idea applied to sampling). Re-runs and
    * engines agree row-for-row. */
  def exactKPerGroup(docs: DataFrame, k: Int = SampleK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col("doc_id"), col("source"),
        TextFns.md5u56(col("doc_id").cast("string")).as("h"))
      .withColumn("r", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))).cast("long"))
      .filter(col("r") <= k)
      .select(col("source"), col("r"), col("doc_id"))
  }

  def qExactKPerGroup(spark: SparkSession, dir: String): DataFrame =
    exactKPerGroup(Tables.documents(spark, dir))
      .orderBy(col("source"), col("r"))

  val oExactKPerGroup: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    raw"""WITH k AS (SELECT doc_id, source, $h AS h FROM documents),
      |r AS (
      |  SELECT source, doc_id,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
      |      AS BIGINT) AS r
      |  FROM k)
      |SELECT source, r, doc_id FROM r WHERE r <= $SampleK
      |ORDER BY source, r""".stripMargin
  }
}
