package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Length-bucketed batch packing — the trainer data-loader step that
  * turns a curated corpus into fixed-size batches with a bounded
  * padding bill: every sequence in a batch is padded to the BATCH max,
  * so batching similar lengths together is the whole lever (the
  * classic bucketing-by-length / dynamic-batching discipline next to
  * [[Curation.seqPack]]'s concat-packing — packing fills a fixed
  * context with many docs, batching pads many docs to one length; a
  * pipeline serves whichever the trainer consumes).
  *
  * Docs land in power-of-two length buckets (⌊log₂ tokens⌋ as
  * `length(bin(t)) − 1`, the [[TextAnalysis]] integer-log idiom — no
  * libm call, bit-identical in both engines), are ranked
  * (tokens, doc_id) within the bucket, and cut into batches of
  * [[BatchDocs]]. Per batch the exact integer padding account:
  * capacity = n_docs·max_tokens, waste = capacity − Σ tokens,
  * `pad_waste_permille` by integer division — every column a full
  * hash gate.
  *
  * Scale shape (100 TB): one map pass computes token counts (codegen'd
  * regexp_count); buckets are ≤ ~log₂(max_len) ≈ 20 values — exactly
  * the r9 hot-group shape — so the within-bucket rank rides the
  * size-aware [[Scale.groupRanks]] dial FROM BIRTH (ascending order
  * keeps the dial's hot path valid: its range buckets require a
  * monotone leading sort column); the batch rollup is one partial-agg
  * shuffle whose output is corpus/BatchDocs rows. */
object Batching {

  /** Sequences per batch — the data-loader's micro-batch width. */
  val BatchDocs = 32

  def lengthBatches(docs: DataFrame): DataFrame = {
    // tokens coalesced to 0: a NULL would sort NULLS FIRST in Spark
    // but NULLS LAST in DuckDB, shifting every batch cut (review r16);
    // it would also violate groupedRunningSum's non-null-order contract
    val base = docs.select(col("doc_id"),
        coalesce(TextFns.tokenCount(col("text")).cast("long"), lit(0L))
          .as("tokens"))
      .withColumn("bucket",
        TextFns.log2Floor(greatest(col("tokens"), lit(1L))).cast("long"))
    // the token projection feeds up to three passes once the dial's
    // hot path engages (sample/exact pre-check + groupedRunningSum's
    // two scans) — cache it for the duration; the checkpointed result
    // is batch-grain (corpus/BatchDocs rows), far smaller than the input
    Dedup.withCached(base) { b =>
      val ranked = Scale.groupRanks(b, Seq("bucket"),
        Seq(col("tokens"), col("doc_id")), "r")
      ranked
        .withColumn("batch_id", expr(s"(r - 1) div $BatchDocs"))
        .groupBy(col("bucket"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("tokens")).as("max_tokens"),
          sum(col("tokens")).as("sum_tokens"))
        .withColumn("capacity", col("n_docs") * col("max_tokens"))
        // an all-empty batch has zero capacity and zero waste — guard
        // the division symmetrically (Spark ANSI would throw, DuckDB
        // `// 0` yields NULL: both wrong answers; review r16)
        .withColumn("pad_waste_permille", expr(
          """CASE WHEN capacity = 0 THEN CAST(0 AS BIGINT)
            |ELSE (1000 * (capacity - sum_tokens)) div capacity
            |END""".stripMargin))
        .select(col("bucket"), col("batch_id"), col("n_docs"),
          col("max_tokens"), col("sum_tokens"), col("capacity"),
          col("pad_waste_permille"))
    }
  }

  def qLengthBatches(spark: SparkSession, dir: String): DataFrame =
    lengthBatches(Tables.documents(spark, dir))
      .orderBy(col("bucket"), col("batch_id"))

  def oLengthBatches: String =
    raw"""WITH b AS (
      |  SELECT doc_id,
      |    COALESCE(CAST(len(regexp_extract_all(text,
      |      '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT), 0) AS tokens
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, tokens,
      |    CAST(length(bin(greatest(tokens, 1))) - 1 AS BIGINT) AS bucket
      |  FROM b),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY bucket
      |      ORDER BY tokens, doc_id) AS rn
      |  FROM k),
      |g AS (
      |  SELECT bucket, (rn - 1) // $BatchDocs AS batch_id,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(max(tokens) AS BIGINT) AS max_tokens,
      |    CAST(sum(tokens) AS BIGINT) AS sum_tokens
      |  FROM r GROUP BY 1, 2)
      |SELECT bucket, CAST(batch_id AS BIGINT) AS batch_id, n_docs,
      |  max_tokens, sum_tokens,
      |  CAST(n_docs * max_tokens AS BIGINT) AS capacity,
      |  CASE WHEN n_docs * max_tokens = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST((1000 * (n_docs * max_tokens - sum_tokens))
      |      // (n_docs * max_tokens) AS BIGINT)
      |  END AS pad_waste_permille
      |FROM g ORDER BY bucket, batch_id""".stripMargin
}
