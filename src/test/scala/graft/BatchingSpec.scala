package graft

import org.apache.spark.sql.functions._

import graft.operators.{Batching, Scale}

/** Length-bucketed batch packing: hand-computed padding account,
  * partition invariants, and the forced-switch dial equivalence. */
class BatchingSpec extends SparkSpecBase {
  import spark.implicits._

  private def docsOf(tokens: Seq[Int]) =
    tokens.zipWithIndex.map { case (t, i) =>
      (i.toLong, Seq.fill(t)("w").mkString(" "))
    }.toDF("doc_id", "text")

  test("hand case: buckets, batch cuts, and the exact padding account") {
    // tokens 1,1 → bucket 0; tokens 2,3 → bucket 1 (⌊log2⌋); BatchDocs
    // = 32 so each bucket is one (partial) batch
    val out = Batching.lengthBatches(docsOf(Seq(1, 1, 2, 3)))
      .orderBy(col("bucket"), col("batch_id")).collect()
    assert(out.length == 2)
    val b0 = out(0)
    assert(b0.getAs[Long]("bucket") == 0L && b0.getAs[Long]("n_docs") == 2L)
    assert(b0.getAs[Long]("max_tokens") == 1L &&
      b0.getAs[Long]("sum_tokens") == 2L)
    assert(b0.getAs[Long]("capacity") == 2L &&
      b0.getAs[Long]("pad_waste_permille") == 0L)
    val b1 = out(1)
    assert(b1.getAs[Long]("bucket") == 1L && b1.getAs[Long]("n_docs") == 2L)
    assert(b1.getAs[Long]("max_tokens") == 3L &&
      b1.getAs[Long]("sum_tokens") == 5L)
    // capacity 6, waste 1 → ⌊1000/6⌋ = 166
    assert(b1.getAs[Long]("capacity") == 6L &&
      b1.getAs[Long]("pad_waste_permille") == 166L)
  }

  test("degenerate docs: NULL and empty text land in bucket 0 with zero waste") {
    // NULL text → tokens coalesced to 0 (Spark NULLS FIRST vs DuckDB
    // NULLS LAST would otherwise shift every batch cut); an all-empty
    // batch has capacity 0 and the waste guard must emit 0, not a
    // division error (Spark ANSI) or NULL (DuckDB // 0)
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "   "),
      (4L, "one two")).toDF("doc_id", "text")
    val out = Batching.lengthBatches(docs)
      .orderBy(col("bucket"), col("batch_id")).collect()
    assert(out.length == 2)
    val zero = out(0)
    assert(zero.getAs[Long]("bucket") == 0L && zero.getAs[Long]("n_docs") == 3L)
    assert(zero.getAs[Long]("max_tokens") == 0L &&
      zero.getAs[Long]("capacity") == 0L)
    assert(zero.getAs[Long]("pad_waste_permille") == 0L,
      s"zero-capacity batch must report zero waste: $zero")
    assert(out(1).getAs[Long]("bucket") == 1L &&
      out(1).getAs[Long]("max_tokens") == 2L)
  }

  test("batches partition each bucket; only the trailing batch is partial") {
    val out = Batching.qLengthBatches(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = Tables.documents(spark, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == docs,
      "batches must partition the corpus")
    out.groupBy(_.getAs[Long]("bucket")).foreach { case (bkt, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("batch_id"))
      sorted.init.foreach { r =>
        assert(r.getAs[Long]("n_docs") == Batching.BatchDocs.toLong,
          s"non-trailing partial batch in bucket $bkt: $r")
      }
      assert(sorted.last.getAs[Long]("n_docs") <= Batching.BatchDocs.toLong)
    }
    out.foreach { r =>
      val (b, m) = (r.getAs[Long]("bucket"), r.getAs[Long]("max_tokens"))
      assert(m >= (1L << b) && m < (2L << b),
        s"max_tokens $m outside its power-of-two bucket $b")
      val w = r.getAs[Long]("pad_waste_permille")
      assert(w >= 0L && w < 1000L, s"waste out of range: $r")
    }
  }

  test("grouped prefix-sum path ≡ window path") {
    val docs = Tables.documents(spark, sf)
    val grouped = Scale.forcingSide(true)(Batching.lengthBatches(docs))
      .orderBy(col("bucket"), col("batch_id")).collect().map(_.toSeq)
    val windowed = Scale.forcingSide(false)(Batching.lengthBatches(docs))
      .orderBy(col("bucket"), col("batch_id")).collect().map(_.toSeq)
    assert(grouped.toSeq == windowed.toSeq,
      "forced grouped vs window batching diverge")
  }
}
