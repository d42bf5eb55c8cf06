package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Erasure-impact audit for TRAINED artifacts (VERDICT r13 item 5 —
  * the machine-unlearning gap): row erasure sweeps every persisted
  * copy of a subject's rows ([[Forget.forgetWithDerived]]), but the
  * MODELS fitted on the pre-erasure corpus — IVF/IVFPQ coarse
  * centroids, PQ codebooks, the NB language classifier's class
  * tables, BPE merges, DSIR importance weights — still encode the
  * subject's data in their parameters. Full unlearning means
  * retraining; the operational question is WHICH models (and which
  * of their cells) absorbed enough erased mass to require it.
  *
  * This audit answers it: for every model family, compute the erased
  * subject's share of each training cell's mass —
  *
  *  - `ivf`      one cell per coarse-quantizer centroid; mass = the
  *               corpus vectors assigned to it ([[Ivf.cellOf]], the
  *               assignment the clustered layouts persist)
  *  - `pq`       one cell per (subquantizer j, codeword c); mass =
  *               subvectors quantizing to that codeword
  *               ([[Pq.encode]])
  *  - `nb_lang`  one cell per class (lang); mass = the TRAIN-split
  *               docs the class's count tables were fitted on
  *               (the [[Classify.modelFor]] training partition)
  *  - `bpe`      one corpus-level cell; mass = the train-split word
  *               occurrences the merge table was counted over
  *               (the [[Tokenize.modelFor]] training partition)
  *  - `dsir`     one cell per hashed feature bucket; mass = token
  *               occurrences per bucket ([[Dsir]]'s md5u56 % Buckets)
  *
  * — and flag `retrain` when the erased share exceeds
  * [[RetrainPermille]]. Cells dominated by the subject (a departed
  * data provider's source, here) trip; cells that barely saw it
  * don't, and their parameters can be documented as de-minimis
  * residue instead of triggering a fleet-wide retrain.
  *
  * Scale shape (100 TB): every family is ONE map-side assignment pass
  * (the same codegen'd kernels the serving paths use: ArgMaxDot,
  * NearestCode, md5u56) followed by a per-cell aggregate whose output
  * is bounded by the model size (16 + 8×16 + |langs| + 1 + 512 rows),
  * never the corpus. Subjects enter as a PREDICATE evaluated in the
  * same scan — no join against an erasure backlog table is needed
  * when the legal basis is source-keyed; a key-table variant would
  * broadcast-join the backlog exactly like the sweeps do. All counts
  * are integers and the share is an integer permille, so the DuckDB
  * twin (trained parameters inlined as literals, the
  * [[Ivf.oracleEntries]] pattern) matches bit-for-bit. */
object ModelAudit {

  /** The departed data provider whose corpus is being erased. */
  val SubjectSource = "src0"

  /** Retrain flag threshold: a cell whose training mass was ≥ this
    * many permille subject-derived needs its model retrained. */
  val RetrainPermille = 100L

  private def perCell(df: DataFrame, model: String, cell: Column): DataFrame =
    df.groupBy(cell.as("cell"))
      .agg(sum(when(col("_subj"), lit(1L)).otherwise(lit(0L)))
        .as("rows_erased"),
        count(lit(1)).as("rows_total"))
      .select(lit(model).as("model"), col("cell"),
        col("rows_erased"), col("rows_total"))

  private def withShare(cells: DataFrame, retrainPermille: Long): DataFrame =
    cells
      .withColumn("erased_permille",
        expr("(1000 * rows_erased) div rows_total"))
      .withColumn("retrain", col("erased_permille") >= retrainPermille)

  /** The three TEXT model legs (nb_lang, bpe, dsir) of the audit — the
    * cheap deterministic models [[retrainFlagged]] can retrain inside
    * the sweep, split out so the retrain path does not pay the IVF/PQ
    * assignment passes. */
  private def textCells(docsS: DataFrame): DataFrame = {
    // class/merge tables were fitted on the deterministic train split
    // (Classify.modelFor / Tokenize.modelFor); the audit mirrors that
    // partition — erased mass OUTSIDE the training partition never
    // entered the parameters and must not inflate the flag
    val train = TextAnalysis.withSplit(docsS)
      .filter(col("split") === "train")
    val nb = perCell(train, "nb_lang", col("lang"))
    val bpe = perCell(
      train.select(col("_subj"),
          explode(TextFns.words(col("text"))).as("w"))
        .filter(col("w") =!= ""),
      "bpe", lit("train_corpus"))
    val dsir = perCell(
      docsS.select(col("_subj"),
          explode(TextFns.words(col("text"))).as("term"))
        .select(col("_subj"),
          (TextFns.md5u56(col("term")) % Dsir.Buckets).as("b")),
      "dsir", format_string("%03d", col("b")))
    nb.unionByName(bpe).unionByName(dsir)
  }

  /** The two QUANTIZER legs (ivf, pq) of the audit over an embedding
    * frame already carrying the `_subj` flag — shared by [[modelAudit]]
    * and the [[retrainQuantizers]] pre/re-audit passes. */
  private def quantCells(embS: DataFrame, cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]]): DataFrame = {
    val ivf = perCell(embS, "ivf",
      format_string("%03d", Ivf.cellOf(col("embedding"), cents)))
    val pq = perCell(
      Pq.encode(embS.select(col("vec_id"), col("embedding")), books, 64)
        .join(embS.select(col("vec_id"), col("_subj")), Seq("vec_id"))
        .select(col("_subj"), posexplode(col("codes")).as(Seq("j", "c"))),
      "pq", format_string("%d:%02d", col("j"), col("c")))
    ivf.unionByName(pq)
  }

  /** The audit frame: (model, cell, rows_erased, rows_total,
    * erased_permille, retrain), one row per populated model cell. */
  def modelAudit(docs: DataFrame, emb: DataFrame,
      cents: Seq[Array[Double]], books: Seq[Seq[Array[Double]]],
      subjectSource: String = SubjectSource,
      retrainPermille: Long = RetrainPermille): DataFrame = {
    val docsS = docs.withColumn("_subj", col("source") === subjectSource)
    val embS = emb.join(
      docsS.select(col("doc_id").as("vec_id"), col("_subj")), Seq("vec_id"))
    withShare(quantCells(embS, cents, books).unionByName(textCells(docsS)),
      retrainPermille)
  }

  /** Text-model-only audit (nb_lang, bpe, dsir) — the input to the
    * retrain decision. Same columns as [[modelAudit]]. */
  def textModelAudit(docs: DataFrame,
      subjectSource: String = SubjectSource,
      retrainPermille: Long = RetrainPermille): DataFrame =
    withShare(
      textCells(docs.withColumn("_subj", col("source") === subjectSource)),
      retrainPermille)

  def qForgetModelAudit(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    modelAudit(Tables.documents(spark, dir), emb,
      Ivf.centroidsFor(dir, emb), Pq.codebooksFor(spark, dir))
      .orderBy(col("model"), col("cell"))
  }

  /** The retrained artifacts a tripped flag produced, plus the re-audit
    * summary: post-erasure cell masses for the flagged families (every
    * `rows_erased` is 0 — the training partitions no longer contain the
    * subject) joined with the pre-erasure flags that triggered the
    * retrain. */
  case class RetrainResult(summary: DataFrame,
      nb: Option[Classify.NbModel], bpe: Option[graft.plans.BpeTokens.Bpe],
      dsirWeights: Option[DataFrame])

  /** Act on the retrain flag (VERDICT r14 item 3): audit, erase the
    * subject source, RETRAIN every flagged text model on the
    * post-erasure corpus with the exact training entry points the
    * serving queries use (`Classify.trainNaiveBayes`,
    * `Tokenize.trainBpe`, `Dsir.bucketWeights` — determinism means the
    * retrained model is byte-identical to one trained fresh on the
    * clean corpus), then re-audit: the retrained training partitions
    * must carry ZERO erased mass. Families with no tripped cell are
    * NOT retrained (their parameters carry only de-minimis residue,
    * documented by the audit row itself).
    *
    * The deterministic doc_id-hash split means the post-erasure train
    * partition is exactly the pre-erasure one minus subject docs — no
    * surviving doc changes split, so the retrain never leaks
    * val/test rows into training.
    *
    * IVF coarse centroids and PQ codebooks stay flag-only here: their
    * rebuild is a k-means over the post-erasure embedding corpus whose
    * cost is measured in SCALE.md r15 —
    * the audit names the affected cells; scheduling the rebuild is an
    * operational decision the flag feeds.
    *
    * `dsirTarget` is the in-domain exemplar the retrained DSIR weights
    * score against. It must be a SURVIVING source: when the departed
    * subject was itself the exemplar (the fixture's src0 doubles as
    * both), the pipeline has to designate a new target before DSIR can
    * be retrained at all — evaluating the old predicate over the
    * erased corpus would silently train target-free "rarity" weights
    * (review r15 finding), so that case throws instead. */
  def retrainFlagged(docs: DataFrame,
      subjectSource: String = SubjectSource,
      retrainPermille: Long = RetrainPermille,
      dsirTarget: String = "src1"): RetrainResult = {
    // the pre audit is model-cell-bounded (|langs| + 1 + 512 rows) —
    // collect it ONCE and reuse the local rows for both the flag set
    // and the was_flagged join (re-executing the frame would re-run
    // the full-corpus explodes twice, review r15 finding)
    val spark = docs.sparkSession
    import spark.implicits._
    val preRows = textModelAudit(docs, subjectSource, retrainPermille)
      .select(col("model"), col("cell"), col("retrain"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    val flagged = preRows.filter(_._3).map(_._1).toSet
    val post = docs.filter(col("source") =!= subjectSource)
    lazy val postTrain = TextAnalysis.withSplit(post)
      .filter(col("split") === "train")
    val nb = if (flagged("nb_lang"))
      Some(Classify.trainNaiveBayes(postTrain)) else None
    val bpe = if (flagged("bpe"))
      Some(Tokenize.trainBpe(postTrain)) else None
    val dsir = if (flagged("dsir")) {
      require(dsirTarget != subjectSource,
        s"DSIR exemplar '$dsirTarget' is the erased subject — designate " +
          "a surviving target source before retraining")
      val tokens = post
        .select(col("doc_id"), col("source"),
          explode(TextFns.words(col("text"))).as("term"))
        .select((TextFns.md5u56(col("term")) % Dsir.Buckets).as("b"),
          (col("source") === dsirTarget).as("is_target"))
      Some(Dsir.bucketWeights(tokens))
    } else None
    val reAudit = textModelAudit(post, subjectSource, retrainPermille)
      .select(col("model"), col("cell"), col("rows_erased"),
        col("rows_total"), col("erased_permille"))
    val summary = reAudit
      .join(broadcast(preRows.toSeq
        .toDF("model", "cell", "was_flagged")), Seq("model", "cell"), "left")
      .withColumn("was_flagged", coalesce(col("was_flagged"), lit(false)))
      .withColumn("retrained",
        col("model").isin(flagged.toSeq: _*))
      .select(col("model"), col("cell"), col("was_flagged"),
        col("retrained"), col("rows_erased"), col("rows_total"),
        col("erased_permille"))
    RetrainResult(summary, nb, bpe, dsir)
  }

  def qForgetRetrain(spark: SparkSession, dir: String): DataFrame =
    // src0 (the departed subject) was also the DSIR exemplar; src1 is
    // the designated replacement target should the dsir family trip
    retrainFlagged(Tables.documents(spark, dir), dsirTarget = "src1").summary
      .orderBy(col("model"), col("cell"))

  // ------------------------------------------- quantizer retrain leg

  /** Post-sweep quantizer state: the re-audit summary over the
    * post-erasure corpus, the CHOSEN quantizers (retrained where a
    * cell tripped, the originals otherwise), and which families
    * retrained. */
  case class QuantRetrainResult(summary: DataFrame,
      centroids: Seq[Array[Double]], codebooks: Seq[Seq[Array[Double]]],
      retrainedFamilies: Set[String])

  /** Opt-in quantizer leg of the erasure sweep (VERDICT r15 item 5 —
    * [[retrainFlagged]] covers nb/bpe/dsir but a tripped IVF/PQ flag
    * used to leave stale codebooks): audit the IVF cells and PQ
    * codewords against the erased subject, and when any cell of a
    * family trips, RETRAIN that family on the post-erasure embedding
    * corpus through the SAME bounded-TrainSample entry points the
    * serving queries use ([[Ivf.trainCentroids]] /
    * [[Pq.trainCodebooks]] — seeded and deterministic, so the
    * retrained quantizer is byte-identical to one trained fresh on the
    * clean corpus, spec-pinned). The re-audit assigns the POST-erasure
    * corpus to the chosen quantizers: every `rows_erased` is zero — no
    * cell of the serving layout carries erased training mass. Families
    * with no tripped cell keep their quantizers (de-minimis residue,
    * documented by the pre-audit row). Rebuild cost is the measured
    * near-flat curve in SCALE.md r15 — the
    * sweep stays opt-in because rescheduling a serving layout rebuild
    * is an operational decision; this entry point IS that schedule.
    *
    * Does NOT touch the per-dir serving caches ([[Ivf.centroidsFor]] /
    * [[Pq.codebooksFor]]) — the live ANN gates keep their quantizers
    * until the operator swaps layouts explicitly. */
  def retrainQuantizers(docs: DataFrame, emb: DataFrame,
      cents: Seq[Array[Double]], books: Seq[Seq[Array[Double]]],
      subjectSource: String = SubjectSource,
      retrainPermille: Long = RetrainPermille): QuantRetrainResult = {
    val docsS = docs.withColumn("_subj", col("source") === subjectSource)
    val embS = emb.join(
      docsS.select(col("doc_id").as("vec_id"), col("_subj")), Seq("vec_id"))
    // pre-audit is model-cell-bounded (16 + 8×16 rows) — collect once
    val preRows = withShare(quantCells(embS, cents, books), retrainPermille)
      .select(col("model"), col("retrain")).collect()
      .map(r => (r.getString(0), r.getBoolean(1)))
    val flagged = preRows.filter(_._2).map(_._1).toSet
    val postEmbS = emb.join(
      docsS.filter(!col("_subj"))
        .select(col("doc_id").as("vec_id"), col("_subj")), Seq("vec_id"))
    val newCents =
      if (flagged("ivf")) Ivf.trainCentroids(postEmbS) else cents
    val newBooks =
      if (flagged("pq")) Pq.trainCodebooks(postEmbS, 64) else books
    val summary = withShare(quantCells(postEmbS, newCents, newBooks),
        retrainPermille)
      .withColumn("retrained", col("model").isin(flagged.toSeq: _*))
      .select(col("model"), col("cell"), col("retrained"),
        col("rows_erased"), col("rows_total"), col("erased_permille"))
    QuantRetrainResult(summary, newCents, newBooks, flagged)
  }

  /** Chosen post-sweep quantizers per dataset dir — the
    * [[Ivf.cachedCentroids]] cache-to-oracle bridge for the retrained
    * models (training is deterministic; caching only skips the k-means
    * on repeated bench runs). */
  private val retrainedQuant = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[Array[Double]], Seq[Seq[Array[Double]]], Set[String])]()

  /** The CHOSEN post-sweep quantizers for `dir` — cached per JVM+dir
    * (training is deterministic; the cache only skips the k-means on
    * repeated runs). Shared by the inline re-audit gate and the
    * serving-swap leg so they can never disagree on which quantizers
    * "post-sweep" means. */
  private def chosenQuantizers(spark: SparkSession, dir: String)
      : (Seq[Array[Double]], Seq[Seq[Array[Double]]], Set[String]) =
    retrainedQuant.computeIfAbsent(dir, { _ =>
      val emb = Tables.embeddings(spark, dir)
      val r = retrainQuantizers(Tables.documents(spark, dir), emb,
        Ivf.centroidsFor(dir, emb), Pq.codebooksFor(spark, dir))
      (r.centroids, r.codebooks, r.retrainedFamilies)
    })

  def qForgetRetrainQuantizers(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val docs = Tables.documents(spark, dir)
    val (cents, books, flagged) = chosenQuantizers(spark, dir)
    // rebuild the (cheap, two-assignment-pass) summary from the cached
    // chosen quantizers — the k-means is paid once per JVM+dir
    val docsS = docs.withColumn("_subj", col("source") === SubjectSource)
    val postEmbS = emb.join(
      docsS.filter(!col("_subj"))
        .select(col("doc_id").as("vec_id"), col("_subj")), Seq("vec_id"))
    withShare(quantCells(postEmbS, cents, books), RetrainPermille)
      .withColumn("retrained", col("model").isin(flagged.toSeq: _*))
      .select(col("model"), col("cell"), col("retrained"),
        col("rows_erased"), col("rows_total"), col("erased_permille"))
      .orderBy(col("model"), col("cell"))
  }

  /** Opt-in post-retrain SERVING swap (VERDICT r16 #3): rebuild the
    * IVFPQ serving layout ([[Pq.writeCodesClustered]] — the same
    * cell-partitioned 32×-compressed shape `sim_ivfpq_serving_topk`
    * reads) from the CHOSEN post-sweep quantizers over the
    * post-erasure corpus. Build-once semantics, its own artifact kind —
    * the live pre-erasure layout is untouched until the operator runs
    * this, which is exactly the "swapping layouts is an operational
    * decision" contract, now WITH the swap implemented. */
  def rebuildServingLayout(spark: SparkSession, dir: String): String = {
    val (cents, books, _) = chosenQuantizers(spark, dir)
    graft.Serving.buildOnce("ivfpq_codes_retrained", dir) { p =>
      val surviving = Tables.documents(spark, dir)
        .filter(col("source") =!= SubjectSource)
        .select(col("doc_id").as("vec_id"))
      Pq.writeCodesClustered(
        Tables.embeddings(spark, dir).join(surviving, Seq("vec_id")),
        p, cents, books)
    }
  }

  /** The re-audit THROUGH the serving read path: ivf cell masses from
    * the rebuilt layout's PARTITION column and pq codeword masses from
    * its STORED codes — no inline re-assignment anywhere on the Spark
    * side. Gated by the same literal-quantizer twin as the inline
    * re-audit ([[oForgetRetrainQuantizers]]), so a layout still built
    * from a STALE quantizer disagrees on the first retrained family's
    * cell counts and hash-fails; every `rows_erased` is computed (not
    * asserted) via the subject-flag join and reads zero. */
  def qForgetRetrainServing(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, flagged) = chosenQuantizers(spark, dir)
    val path = rebuildServingLayout(spark, dir)
    val docFlags = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"),
        (col("source") === SubjectSource).as("_subj"))
    val scan = spark.read.parquet(path).join(docFlags, Seq("vec_id"))
    val ivf = perCell(scan.select(col("_subj"), col("cell")), "ivf",
      format_string("%03d", col("cell")))
    val pq = perCell(
      scan.select(col("_subj"), posexplode(col("codes")).as(Seq("j", "c"))),
      "pq", format_string("%d:%02d", col("j"), col("c")))
    withShare(ivf.unionByName(pq), RetrainPermille)
      .withColumn("retrained", col("model").isin(flagged.toSeq: _*))
      .select(col("model"), col("cell"), col("retrained"),
        col("rows_erased"), col("rows_total"), col("erased_permille"))
      .orderBy(col("model"), col("cell"))
  }

  /** Twin: the nb/bpe/dsir audit legs twice — once on the full corpus
    * (the flags) and once on the post-erasure corpus (the re-audit) —
    * joined per cell; pure integer arithmetic, no model literals. */
  def oForgetRetrain: String = {
    val hdoc = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    val hterm = TextFns.md5u56Sql("term")
    def legs(tag: String, where: String): String =
      s"""tr_$tag AS (SELECT lang, text, (source = '$SubjectSource') AS s
         |  FROM documents WHERE $where AND $hdoc % 100 < 80),
         |nb_$tag AS (
         |  SELECT 'nb_lang' AS model, lang AS cell,
         |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased,
         |    CAST(count(*) AS BIGINT) AS rows_total
         |  FROM tr_$tag GROUP BY 2),
         |wtr_$tag AS (SELECT s,
         |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
         |  FROM tr_$tag),
         |bpe_$tag AS (
         |  SELECT 'bpe' AS model, 'train_corpus' AS cell,
         |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased,
         |    CAST(count(*) AS BIGINT) AS rows_total
         |  FROM wtr_$tag WHERE w != ''),
         |dtok_$tag AS (SELECT (source = '$SubjectSource') AS s,
         |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
         |  FROM documents WHERE $where),
         |dsir_$tag AS (
         |  SELECT 'dsir' AS model,
         |    format('{:03d}', ($hterm) % ${Dsir.Buckets}) AS cell,
         |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased,
         |    CAST(count(*) AS BIGINT) AS rows_total
         |  FROM dtok_$tag GROUP BY 2),
         |u_$tag AS (SELECT * FROM nb_$tag UNION ALL SELECT * FROM bpe_$tag
         |  UNION ALL SELECT * FROM dsir_$tag)""".stripMargin
    s"""WITH ${legs("pre", "1 = 1")},
       |${legs("post", s"source != '$SubjectSource'")},
       |flags AS (
       |  SELECT model, cell,
       |    ((1000 * rows_erased) // rows_total >= $RetrainPermille)
       |      AS was_flagged
       |  FROM u_pre),
       |fam AS (
       |  SELECT model, bool_or(was_flagged) AS retrained FROM flags
       |  GROUP BY 1)
       |SELECT p.model, p.cell,
       |  coalesce(f.was_flagged, false) AS was_flagged,
       |  fam.retrained,
       |  p.rows_erased, p.rows_total,
       |  CAST((1000 * p.rows_erased) // p.rows_total AS BIGINT)
       |    AS erased_permille
       |FROM u_post p
       |LEFT JOIN flags f ON p.model = f.model AND p.cell = f.cell
       |JOIN fam ON fam.model = p.model
       |ORDER BY p.model, p.cell""".stripMargin
  }

  /** Generated after training (the [[Pq.oracleEntries]] bridge): the
    * twin needs both the coarse quantizer and the codebooks, for the
    * same dataset. */
  def oracleEntries: Map[String, String] = {
    val audit = (Ivf.cachedCentroids, Pq.cachedCodebooks) match {
      case (Some((cd, cents)), Some((bd, books))) if cd == bd =>
        Map("forget_model_audit" -> oForgetModelAudit(cents, books))
      case _ => Map.empty[String, String]
    }
    // retrained-quantizer twin: the CHOSEN post-sweep models are
    // deterministic, so they inline as literals exactly like the
    // serving quantizers (generated after the query trained them).
    // Dir resolution (ADVICE r16): prefer the dir the Ivf/Pq serving
    // caches corroborate; a single-dir retrain JVM (every Verify run)
    // is unambiguous even when other datasets muddied those caches;
    // only a MULTI-dir retrain the caches cannot disambiguate fails
    // LOUDLY — silently dropping the twin would dump a gated parquet
    // with no oracle.
    def emitFor(
        e: (Seq[Array[Double]], Seq[Seq[Array[Double]]], Set[String])) = {
      val twin = oForgetRetrainQuantizers(e._1, e._2, e._3)
      // the serving-swap re-audit reads the same numbers out of the
      // rebuilt layout, so it shares the literal-assignment twin —
      // that sharing IS the gate: a stale layout hash-fails it
      Map("forget_retrain_quantizers" -> twin,
        "forget_retrain_serving" -> twin)
    }
    val quant = (Ivf.cachedCentroids, Pq.cachedCodebooks) match {
      case (Some((cd, _)), Some((bd, _)))
          if cd == bd && retrainedQuant.containsKey(cd) =>
        emitFor(retrainedQuant.get(cd))
      case _ if retrainedQuant.size == 1 =>
        emitFor(retrainedQuant.entrySet.iterator.next.getValue)
      case _ if !retrainedQuant.isEmpty =>
        throw new IllegalStateException(
          "forget_retrain_quantizers ran for dirs " +
            s"${retrainedQuant.keySet} and the Ivf/Pq serving caches " +
            s"(${Ivf.cachedCentroids.map(_._1)} / " +
            s"${Pq.cachedCodebooks.map(_._1)}) cannot disambiguate " +
            "which one the dumped result belongs to — no twin emitted")
      case _ => Map.empty[String, String]
    }
    audit ++ quant
  }

  /** Twin of [[qForgetRetrainQuantizers]]: the re-audit's assignment
    * legs with the RETRAINED quantizers inlined as literals, restricted
    * to the surviving corpus — `rows_erased` is zero by construction on
    * both sides (the training partitions no longer contain the
    * subject), which is exactly the property the gate pins. */
  def oForgetRetrainQuantizers(cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]], flagged: Set[String]): String = {
    val retrainedExpr =
      if (flagged.isEmpty) "FALSE"
      else flagged.toSeq.sorted.map(f => s"'$f'").mkString("model IN (", ", ", ")")
    s"""${Ivf.ivfBaseSql(cents)},
       |${Pq.pqAssignCtes(books)},
       |src AS (SELECT doc_id AS vec_id, (source = '$SubjectSource') AS s
       |        FROM documents WHERE source != '$SubjectSource'),
       |ivf AS (
       |  SELECT 'ivf' AS model, format('{:03d}', cell) AS cell,
       |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased,
       |    CAST(count(*) AS BIGINT) AS rows_total
       |  FROM assign JOIN src ON src.vec_id = assign.neighbor_id
       |  GROUP BY 2),
       |pqa AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT *, row_number() OVER (
       |        PARTITION BY vec_id, j ORDER BY dd ASC, c ASC) AS rn
       |    FROM dist) WHERE rn = 1),
       |pq AS (
       |  SELECT 'pq' AS model, format('{:d}:{:02d}', j, c) AS cell,
       |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased,
       |    CAST(count(*) AS BIGINT) AS rows_total
       |  FROM pqa JOIN src USING (vec_id) GROUP BY 2),
       |u AS (SELECT * FROM ivf UNION ALL SELECT * FROM pq)
       |SELECT model, cell, $retrainedExpr AS retrained,
       |  rows_erased, rows_total,
       |  CAST((1000 * rows_erased) // rows_total AS BIGINT)
       |    AS erased_permille
       |FROM u ORDER BY model, cell""".stripMargin
  }

  /** Twin: IVF assignment via [[Ivf.ivfBaseSql]] (bit-identical to the
    * clustered-layout gates), PQ assignment via [[Pq.pqAssignCtes]]
    * (bit-identical to the ADC gates), the md5-bucket split and word
    * machinery of the corpus-split/DSIR twins, and pure-integer share
    * arithmetic. */
  def oForgetModelAudit(cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]]): String = {
    val hdoc = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    val hterm = TextFns.md5u56Sql("term")
    s"""${Ivf.ivfBaseSql(cents)},
       |${Pq.pqAssignCtes(books)},
       |src AS (SELECT doc_id AS vec_id, (source = '$SubjectSource') AS s
       |        FROM documents),
       |ivf AS (
       |  SELECT 'ivf' AS model, format('{:03d}', cell) AS cell,
       |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased,
       |    CAST(count(*) AS BIGINT) AS rows_total
       |  FROM assign JOIN src ON src.vec_id = assign.neighbor_id
       |  GROUP BY 2),
       |pqa AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT *, row_number() OVER (
       |        PARTITION BY vec_id, j ORDER BY dd ASC, c ASC) AS rn
       |    FROM dist) WHERE rn = 1),
       |pq AS (
       |  SELECT 'pq' AS model, format('{:d}:{:02d}', j, c) AS cell,
       |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased,
       |    CAST(count(*) AS BIGINT) AS rows_total
       |  FROM pqa JOIN src USING (vec_id) GROUP BY 2),
       |tr AS (SELECT lang, text, (source = '$SubjectSource') AS s
       |       FROM documents WHERE $hdoc % 100 < 80),
       |nb AS (
       |  SELECT 'nb_lang' AS model, lang AS cell,
       |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased,
       |    CAST(count(*) AS BIGINT) AS rows_total
       |  FROM tr GROUP BY 2),
       |wtr AS (SELECT s,
       |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
       |  FROM tr),
       |bpe AS (
       |  SELECT 'bpe' AS model, 'train_corpus' AS cell,
       |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased,
       |    CAST(count(*) AS BIGINT) AS rows_total
       |  FROM wtr WHERE w != ''),
       |dtok AS (SELECT (source = '$SubjectSource') AS s,
       |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
       |  FROM documents),
       |dsir AS (
       |  SELECT 'dsir' AS model,
       |    format('{:03d}', ($hterm) % ${Dsir.Buckets}) AS cell,
       |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased,
       |    CAST(count(*) AS BIGINT) AS rows_total
       |  FROM dtok GROUP BY 2),
       |u AS (SELECT * FROM ivf UNION ALL SELECT * FROM pq UNION ALL
       |      SELECT * FROM nb UNION ALL SELECT * FROM bpe UNION ALL
       |      SELECT * FROM dsir)
       |SELECT model, cell, rows_erased, rows_total,
       |  CAST((1000 * rows_erased) // rows_total AS BIGINT) AS erased_permille,
       |  ((1000 * rows_erased) // rows_total >= $RetrainPermille) AS retrain
       |FROM u ORDER BY model, cell""".stripMargin
  }
}
