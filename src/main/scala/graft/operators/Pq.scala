package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Product quantization (PQ) — the memory-bandwidth scale path of the ANN
  * family (brute force = exact baseline, sign-LSH = hash pruning, IVF =
  * partition pruning, PQ = compression): each L2-normalized vector is
  * split into [[M]] subvectors, each quantized to its nearest of [[K]]
  * per-subspace centroids, so a 64-float (256 B) embedding becomes M = 8
  * byte-sized codes — 32× smaller. Queries score candidates by
  * asymmetric distance (ADC): each query builds its M×K lookup table of
  * partial dots lut[j][c] = q_j·c_{j,c} ONCE, and a candidate scores as
  * Σ_j lut[j][code_j] — M lookups and adds per candidate, never a
  * reconstruction or a per-pair dot. The top ADC candidates are then
  * re-ranked with exact cosine against the true vectors.
  *
  * Scale design: the codebooks are M·K·(D/M) doubles (1k values here) —
  * driver-trained on a bounded seeded sample and inlined as literal
  * expressions, like IVF's centroids. The code table is the only thing a
  * full ADC sweep reads: at 100 TB the 32× compression is the difference
  * between scanning 100 TB and scanning 3 TB. Encode and ADC are
  * map-only; the per-query top-R is one window; only the ≤ R·|Q|
  * re-rank rows touch full vectors. Composes with IVF (FAISS's IVFPQ):
  * cluster by cell, store codes per cell, probe cells then ADC — the
  * cell layout is [[Ivf.writeClustered]], unchanged.
  *
  * Approximate by construction (codebooks are sampled k-means, ADC is a
  * lossy score) → rows-only gate + recall/compression specs, same
  * treatment as IVF.
  */
object Pq {

  /** Subspaces; 64 dims → 8 dims per subspace. */
  val M = 8

  /** Centroids per subspace (codes stay byte-sized up to K = 256). */
  val K = 32

  val Seed = 42L
  val TrainSample = 4000

  /** ADC keeps this × k candidates per query for the exact re-rank. */
  val Refine = 8

  /** Per-subspace codebooks: M × K × (D/M), trained on the same bounded
    * seeded sample discipline as [[Ivf.trainCentroids]]. Subvectors of
    * L2-normalized vectors, so summed subspace dots reconstruct cosine. */
  def trainCodebooks(emb: DataFrame, dim: Int): Seq[Seq[Array[Double]]] = {
    val d = dim / M
    val sampled = emb.select(col("embedding"))
      .orderBy(xxhash64(col("embedding"))).limit(TrainSample)
      .withColumn("nrm", Similarity.norm(col("embedding")))
    (0 until M).map { j =>
      val feat = sampled.select(array_to_vector(
        transform(slice(col("embedding"), j * d + 1, d),
          x => x.cast("double") / col("nrm"))).as("features"))
      new KMeans().setK(K).setSeed(Seed + j).setMaxIter(10).fit(feat)
        .clusterCenters.toIndexedSeq.map(_.toArray)
    }
  }

  /** Nearest-centroid code for one subspace: argmin ‖s − c‖² ≡
    * argmin (½‖c‖² − s·c) — one dot per centroid, the ‖c‖² halves are
    * driver-side constants. Runs per corpus row per subspace (M·K dots
    * per row), so it is the fused [[graft.plans.MatVec.NearestCode]]
    * kernel: the codebook rides as a codegen reference object instead
    * of K·(D/M) literal subexpressions (which overflowed Janino's 64 KB
    * method limit and pushed the encode stage to interpreted fallback),
    * and ties take the smaller index, bit-replicating the `array_min`
    * over (d, idx) structs it replaces. */
  private def codeOf(sub: Column, codebook: Seq[Array[Double]]): Column =
    graft.plans.MatVec.nearestCode(sub, codebook)

  /** (vec_id, codes array<int>) — the 32×-compressed corpus. Map-only.
    * The normalized subvectors are projected as their OWN attributes
    * before quantization — each is built by one interpreted
    * transform-over-slice, and the projection boundary pins exactly one
    * evaluation per row before the fused [[graft.plans.MatVec.NearestCode]]
    * kernel consumes it (historically this also guarded against the
    * literal composition re-evaluating the lambda per centroid — the
    * trap TextAnalysis.winnowed documents). */
  def encode(emb: DataFrame, books: Seq[Seq[Array[Double]]], dim: Int): DataFrame =
    encodeExtra(emb, books, dim)

  /** encode() plus caller-supplied per-row columns computed in the SAME
    * corpus pass (IVFPQ rides its coarse cell assignment here — one scan
    * producing (vec_id, codes, cell), no self-join of two emb
    * derivations). `extra` columns may reference `embedding`. */
  private def encodeExtra(emb: DataFrame, books: Seq[Seq[Array[Double]]],
      dim: Int, extra: (String, Column => Column)*): DataFrame = {
    val d = dim / M
    val subs = emb.withColumn("nrm", Similarity.norm(col("embedding")))
      .select(Seq(col("vec_id"), col("embedding")) ++ (0 until M).map { j =>
        transform(slice(col("embedding"), j * d + 1, d),
          x => x.cast("double") / col("nrm")).as(s"sub_$j")
      }: _*)
    subs.select(Seq(col("vec_id"), array((0 until M).map { j =>
      codeOf(col(s"sub_$j"), books(j))
    }: _*).as("codes")) ++
      extra.map { case (n, f) => f(col("embedding")).as(n) }: _*)
  }

  /** Reconstruction from codes: concat of the indexed centroids — a pure
    * codebook-literal lookup, no vector data read. Debug/inspection path;
    * the ADC sweep never reconstructs (see [[adcOf]]). */
  def decode(codes: Column, books: Seq[Seq[Array[Double]]]): Column =
    concat((0 until M).map { j =>
      val bookLit = array(books(j).map(c =>
        array(c.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
      element_at(bookLit, element_at(codes, j + 1) + 1)
    }: _*)

  /** The per-query ADC lookup table: M × K partial dots
    * lut[j][c] = q_j · c_{j,c}, computed ONCE per query row (M·K dots of
    * length D/M). The query stays RAW: dot(q, recon) = ‖q‖·dot(q/‖q‖,
    * recon), and a per-query positive scale can't change that query's
    * ADC ranking — while the raw vector lets the re-rank cosine reuse
    * the exact dot/(qn·cn) operand order of bruteForceTopK, bit-for-bit. */
  private def lutFor(subCols: Seq[Column],
      books: Seq[Seq[Array[Double]]]): Column =
    array((0 until M).map { j =>
      array(books(j).map(c =>
        Similarity.dot(subCols(j), array(c.map(lit).toIndexedSeq: _*))): _*)
    }: _*)

  /** ADC score from the query's LUT and a candidate's codes:
    * Σ_j lut[j][code_j] — M array lookups and adds per candidate, no
    * reconstruction, no per-pair dot. Summed j = 0..M−1 left-to-right so
    * the value is deterministic (and identical between the full sweep and
    * the IVF-pruned sweep). */
  private def adcOf(lut: Column, codes: Column): Column =
    (0 until M).map(j =>
      element_at(element_at(lut, j + 1), element_at(codes, j + 1) + 1))
      .reduceLeft(_ + _)

  /** The per-query LUT frame: (query_id, lut). Query subvectors are
    * projected once (the same lambda-inlining discipline as encode —
    * lutFor references each K times). */
  private def queryLuts(emb: DataFrame, books: Seq[Seq[Array[Double]]],
      nQueries: Int, dim: Int): DataFrame = {
    val d = dim / M
    val qsub = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id") +: (0 until M).map { j =>
        transform(slice(col("embedding"), j * d + 1, d),
          x => x.cast("double")).as(s"qsub_$j")
      }: _*)
    qsub.select(col("query_id"),
      lutFor((0 until M).map(j => col(s"qsub_$j")), books).as("lut"))
  }

  /** The exact-cosine re-rank tail every PQ variant shares: join the
    * narrow (query_id, neighbor_id, adc) shortlist back to true vectors
    * — only ≤ Refine·k·|Q| rows ever touch an embedding — and rank by
    * exact cosine in bruteForceTopK's operand order. */
  private def rerank(shortlist: DataFrame, emb: DataFrame, k: Int,
      nQueries: Int): DataFrame = {
    val qvec = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("qn", Similarity.norm(col("qe")))
    val exact = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .withColumn("cn", Similarity.norm(col("ce")))
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    shortlist.join(broadcast(qvec), Seq("query_id"))
      .join(exact, Seq("neighbor_id"))
      .withColumn("cosine",
        Similarity.dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("cosine"),
        col("rank"))
  }

  /** ADC sweep + exact re-rank against an arbitrary (neighbor_id, codes)
    * table — shared by the encode-inline path ([[pqTopKWith]]) and the
    * persisted-code-table serving path ([[pqTopKFromCodes]]). */
  private def sweep(codes: DataFrame, emb: DataFrame,
      books: Seq[Seq[Array[Double]]], k: Int, nQueries: Int,
      dim: Int): DataFrame = {
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    // windowed rows stay narrow: (query_id, neighbor_id, adc) — the
    // query vector rejoins only for the ≤ Refine·k·|Q| re-rank rows
    val shortlist = broadcast(queryLuts(emb, books, nQueries, dim))
      .crossJoin(codes)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcOf(col("lut"), col("codes")).as("adc"))
      .withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= k * Refine)
      .select(col("query_id"), col("neighbor_id"), col("adc"))
    rerank(shortlist, emb, k, nQueries)
  }

  /** PQ top-k: ADC sweep over the code table, top Refine·k per query,
    * exact-cosine re-rank of those against true vectors. */
  def pqTopKWith(emb: DataFrame, books: Seq[Seq[Array[Double]]], k: Int,
      nQueries: Int, dim: Int = 64): DataFrame =
    sweep(encode(emb, books, dim)
      .select(col("vec_id").as("neighbor_id"), col("codes")),
      emb, books, k, nQueries, dim)

  /** The 100 TB serving layout: codebooks trained once, the corpus
    * encoded once and persisted as (vec_id, codes) — 8 ints per vector,
    * the 32×-compressed hot table. Returns the codebooks the codes were
    * built with (queries must build their LUTs from the same books).
    * Mirrors [[Ivf.writeClustered]]'s build-once discipline. */
  def writeCodes(emb: DataFrame, path: String,
      dim: Int = 64): Seq[Seq[Array[Double]]] = {
    val books = trainCodebooks(emb, dim)
    encode(emb, books, dim).write.mode("overwrite").parquet(path)
    books
  }

  /** Top-k against a persisted code table: the sweep scans ONLY the code
    * parquet; true vectors are touched just for the ≤ Refine·k·|Q|
    * re-rank rows. Same codebooks ⇒ codes identical to an inline encode
    * ⇒ same results as [[pqTopKWith]] (spec-pinned). */
  def pqTopKFromCodes(codes: DataFrame, emb: DataFrame,
      books: Seq[Seq[Array[Double]]], k: Int, nQueries: Int,
      dim: Int = 64): DataFrame =
    sweep(codes.select(col("vec_id").as("neighbor_id"), col("codes")),
      emb, books, k, nQueries, dim)

  /** IVFPQ — the FAISS composition of the two index legs: the IVF coarse
    * quantizer prunes candidates to the queries' nProbe cells, and PQ
    * codes are what the surviving candidates are SCANNED as. At 100 TB
    * the corpus is `Ivf.writeClustered` by cell with only (vec_id, cell,
    * codes) in the hot table: a probe reads nProbe/cells of a 32×-
    * compressed table — both pruning levers multiply. With nProbe =
    * cells the cell filter admits everything and the result is EXACTLY
    * [[pqTopKWith]]'s (spec-pinned), so the approximation added by cell
    * pruning is isolated and measurable. */
  def ivfPqTopKWith(emb: DataFrame, cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]], k: Int, nQueries: Int,
      nProbe: Int = Ivf.NProbe, dim: Int = 64): DataFrame = {
    val cands = encodeExtra(emb, books, dim,
      "cell" -> (e => Ivf.cellOf(e, cents)))
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    rerank(ivfPqShortlist(cands, emb, cents, books, k, nQueries, nProbe, dim),
      emb, k, nQueries)
  }

  /** The cell-pruned ADC shortlist shared by the inline-encode IVFPQ path
    * and the persisted-layout serving path: queries carry (lut, probed
    * cell) — broadcast, they fan candidates per cell — and candidates are
    * whatever (neighbor_id, cell, codes) table the caller scans. */
  private def ivfPqShortlist(cands: DataFrame, emb: DataFrame,
      cents: Seq[Array[Double]], books: Seq[Seq[Array[Double]]], k: Int,
      nQueries: Int, nProbe: Int, dim: Int): DataFrame = {
    val d = dim / M
    val qsub = emb.filter(col("vec_id") < nQueries)
      .select(Seq(col("vec_id").as("query_id"), col("embedding").as("qe")) ++
        (0 until M).map { j =>
          transform(slice(col("embedding"), j * d + 1, d),
            x => x.cast("double")).as(s"qsub_$j")
        }: _*)
    val qlut = qsub.select(col("query_id"),
      lutFor((0 until M).map(j => col(s"qsub_$j")), books).as("lut"),
      explode(Ivf.probeCells(col("qe"), cents, nProbe).getField("cell"))
        .as("cell"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    broadcast(qlut).join(cands, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcOf(col("lut"), col("codes")).as("adc"))
      .withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= k * Refine)
      .select(col("query_id"), col("neighbor_id"), col("adc"))
  }

  /** IVFPQ against a PERSISTED cell-partitioned code table — the layout
    * where BOTH pruning levers pay at read time: the union of the
    * queries' probe cells (a control-plane collect of ≤ [[Ivf.Cells]]
    * ints) becomes a static IN filter on the partition column, so
    * Catalyst prunes every unprobed cell's files before a row is read,
    * and what the probed cells hold is 8 ints per vector, not 64 floats.
    * At 100 TB a query batch reads ~nProbe/Cells of a 32×-compressed
    * table. Same quantizer + codebooks ⇒ identical codes, ADC, ranks as
    * [[ivfPqTopKWith]] (spec-pinned). */
  def ivfPqTopKFromCodes(codes: DataFrame, emb: DataFrame,
      cents: Seq[Array[Double]], books: Seq[Seq[Array[Double]]], k: Int,
      nQueries: Int, nProbe: Int = Ivf.NProbe, dim: Int = 64): DataFrame = {
    val probed = emb.filter(col("vec_id") < nQueries)
      .select(explode(Ivf.probeCells(col("embedding"), cents, nProbe)
        .getField("cell")).as("cell"))
      .distinct().collect().map(_.getInt(0))
    val cands = codes
      .filter(col("cell").isin(probed.toIndexedSeq.map(Integer.valueOf): _*))
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    rerank(ivfPqShortlist(cands, emb, cents, books, k, nQueries, nProbe, dim),
      emb, k, nQueries)
  }

  /** Codebooks per dataset dir (training is deterministic — caching only
    * skips recomputation, same discipline as Ivf.quantizers). */
  private val codebooks =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Array[Double]]]]()

  /** Build-once persisted code tables per dataset dir — the serving
    * deployment shape: codebooks trained and the corpus encoded ONCE
    * (the warm pass in a bench, the index build in production), every
    * subsequent query scanning only the 32×-compressed code parquet.
    * Shares [[codebooks]], so codes — and therefore results — are
    * bit-identical to the inline-encode path (spec-pinned). */
  private def servingCodesFor(spark: SparkSession, dir: String): String =
    graft.Serving.buildOnce("pq_codes", dir) { path =>
      val books = codebooks.computeIfAbsent(dir,
        dd => trainCodebooks(Tables.embeddings(spark, dd), 64))
      encode(Tables.embeddings(spark, dir), books, 64)
        .write.mode("overwrite").parquet(path)
    }

  /** The 100 TB read shape, benchable: top-k against the PERSISTED code
    * table (train + encode + write happen once per dataset and are
    * amortized out, exactly like a production index build) — the ADC
    * sweep reads 8 ints per vector instead of re-deriving codes from
    * 64 floats in-query. Same codebooks ⇒ same results as [[qPqTopK]],
    * so it shares the generated [[oPqTopK]] twin. */
  def qPqTopKServing(spark: SparkSession, dir: String): DataFrame = {
    val path = servingCodesFor(spark, dir)
    // computeIfAbsent, NOT get: buildOnce skips the builder (and its
    // codebook training) whenever the persisted artifact is already
    // fresh — e.g. every second JVM on the same machine — and training
    // is deterministic, so recomputing yields the exact books the
    // artifact was encoded with (ADVICE r11 NPE)
    val books = codebooks.computeIfAbsent(dir,
      dd => trainCodebooks(Tables.embeddings(spark, dd), 64))
    pqTopKFromCodes(spark.read.parquet(path), Tables.embeddings(spark, dir),
      books, k = 5, nQueries = 50)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The 100 TB IVFPQ layout: the corpus encoded to PQ codes AND
    * coarse-quantized in the same single scan ([[encodeExtra]] — no
    * self-join of two embedding derivations), written partitionBy(cell):
    * [[Ivf.writeClustered]]'s file layout holding [[writeCodes]]'s
    * 32×-compressed payload. Callers pass the trained quantizer and
    * codebooks so the query side probes and LUT-builds with the same
    * models the layout was built from. */
  def writeCodesClustered(emb: DataFrame, path: String,
      cents: Seq[Array[Double]], books: Seq[Seq[Array[Double]]],
      dim: Int = 64): Unit =
    encodeExtra(emb, books, dim, "cell" -> (e => Ivf.cellOf(e, cents)))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Incremental maintenance for the flat PQ code table: encode the
    * batch with the FROZEN codebooks and append — settled files are
    * never rewritten and the work is one map-only encode pass over the
    * batch (no shuffle, no retrain), so maintenance cost ∝ batch size
    * while a full [[writeCodes]] rebuild is ∝ corpus. The codes are
    * deterministic given the books, so an appended layout is row-for-row
    * the layout a from-scratch encode of the union would produce
    * (spec-pinned probe equivalence). Mirror of [[Ivf.appendClustered]]
    * for the PQ leg. */
  def appendCodes(newEmb: DataFrame, path: String,
      books: Seq[Seq[Array[Double]]], dim: Int = 64): Unit =
    encode(newEmb, books, dim).write.mode("append").parquet(path)

  /** [[appendCodes]] for the IVFPQ serving layout: the batch is encoded
    * AND coarse-assigned in the same single scan, then appended into its
    * cells' partition directories — cells the batch doesn't touch keep
    * their files byte-identical, so the partition-pruned probe keeps
    * skipping them without re-listing cost. */
  def appendCodesClustered(newEmb: DataFrame, path: String,
      cents: Seq[Array[Double]], books: Seq[Seq[Array[Double]]],
      dim: Int = 64): Unit =
    encodeExtra(newEmb, books, dim, "cell" -> (e => Ivf.cellOf(e, cents)))
      .write.mode("append").partitionBy("cell").parquet(path)

  /** Build-once persisted IVFPQ layouts per dataset dir (the serving
    * deployment shape; shares [[codebooks]] and [[Ivf.centroidsFor]], so
    * results match the inline path — spec-pinned). */
  private def servingIvfPqFor(spark: SparkSession, dir: String): String =
    graft.Serving.buildOnce("ivfpq_codes", dir) { path =>
      val emb = Tables.embeddings(spark, dir)
      val books = codebooks.computeIfAbsent(dir, _ => trainCodebooks(emb, 64))
      writeCodesClustered(emb, path, Ivf.centroidsFor(dir, emb), books)
    }

  /** The full 100 TB ANN serving read shape, benchable: top-k against the
    * persisted cell-partitioned code table (index build amortized out) —
    * partition pruning × 32× compression multiply at the scan. Same
    * quantizer + codebooks ⇒ same results as [[qIvfPqTopK]], so it
    * shares the generated [[oIvfPqTopK]] twin. */
  def qIvfPqTopKServing(spark: SparkSession, dir: String): DataFrame = {
    val path = servingIvfPqFor(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    // same fresh-artifact NPE as qPqTopKServing: the builder (and its
    // training) may never have run in this JVM (ADVICE r11)
    val books = codebooks.computeIfAbsent(dir, _ => trainCodebooks(emb, 64))
    val cents = Ivf.centroidsFor(dir, emb)
    ivfPqTopKFromCodes(spark.read.parquet(path), emb, cents, books,
      k = 5, nQueries = 50)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Cached per-dir codebooks (the [[Ivf.centroidsFor]] counterpart). */
  def codebooksFor(spark: SparkSession, dir: String): Seq[Seq[Array[Double]]] =
    codebooks.computeIfAbsent(dir,
      d => trainCodebooks(Tables.embeddings(spark, d), 64))

  def qPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val books = codebooksFor(spark, dir)
    pqTopKWith(Tables.embeddings(spark, dir), books, k = 5, nQueries = 50)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The single trained codebook set this JVM has seen, if unambiguous —
    * the same cache-to-oracle bridge as [[Ivf.cachedCentroids]]. */
  def cachedCodebooks: Option[(String, Seq[Seq[Array[Double]]])] =
    if (codebooks.size == 1) {
      val e = codebooks.entrySet.iterator.next
      Some(e.getKey -> e.getValue)
    } else None

  /** Oracle entries generated AFTER training (empty until then). The
    * IVFPQ twin needs the IVF quantizer too, and both caches must refer
    * to the same dataset. */
  def oracleEntries: Map[String, String] =
    (cachedCodebooks, Ivf.cachedCentroids) match {
      case (Some((bd, books)), Some((cd, cents))) if bd == cd =>
        Map("sim_pq_topk" -> oPqTopK(books),
          // persisted-code serving path: same codebooks ⇒ same results
          "sim_pq_serving_topk" -> oPqTopK(books),
          "sim_ivfpq_topk" -> oIvfPqTopK(cents, books),
          // persisted cell-partitioned layout: same quantizer + books
          "sim_ivfpq_serving_topk" -> oIvfPqTopK(cents, books))
      case (Some((_, books)), None) =>
        Map("sim_pq_topk" -> oPqTopK(books),
          "sim_pq_serving_topk" -> oPqTopK(books))
      case _ => Map.empty
    }

  /** Codebook literal table (j, c, cv, half): half = ½‖c‖² folded
    * left-to-right, the exact [[graft.plans.MatVec.Mat.halfNorms]]
    * constant, inlined so the twin never re-derives it in different
    * fp order. */
  private def bookValuesSql(books: Seq[Seq[Array[Double]]]): String =
    (for {
      j <- books.indices
      c <- books(j).indices
    } yield {
      val cw = books(j)(c)
      val half = 0.5 * cw.map(x => x * x).sum
      s"($j, $c, ${Ivf.vecLit(cw)}, ${Ivf.dLit(half)})"
    }).mkString(", ")

  private val jsSql: String =
    (0 until M).mkString("(SELECT unnest([", ", ", "]) AS j)")

  /** Shared twin prefix: norms, codebook literals, per-(vec, subspace)
    * normalized subvectors, nearest-code assignment (argmin of
    * ½‖c‖² − s·c, ties to the SMALLER index — NearestCode's strict `<`
    * scan), the per-vector code list, and each query's raw-subvector
    * LUT — all on the sequential-fold dot idiom that is bit-exact with
    * the fused kernels. */
  /** The assignment CTEs alone (codebook literals, normalized
    * subvectors, per-code distances — expects an `n` CTE with
    * (vec_id, embedding, nrm) in scope), shared with the model-erasure
    * audit's twin so both gates quantize with byte-identical SQL. */
  private[operators] def pqAssignCtes(books: Seq[Seq[Array[Double]]]): String = {
    val d = 64 / M
    s"""book AS (SELECT * FROM (VALUES ${bookValuesSql(books)}) t(j, c, cv, half)),
       |js AS $jsSql,
       |subv AS (
       |  SELECT vec_id, j,
       |    list_transform(list_slice(embedding, j*$d+1, j*$d+$d),
       |      x -> CAST(x AS DOUBLE) / nrm) AS sub
       |  FROM n CROSS JOIN js),
       |dist AS (
       |  SELECT vec_id, j, c,
       |    half - list_sum(list_transform(list_zip(sub, cv),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dd
       |  FROM subv JOIN book USING (j))""".stripMargin
  }

  private def pqBaseSql(books: Seq[Seq[Array[Double]]]): String = {
    val d = 64 / M
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |${pqAssignCtes(books)},
       |codes AS (
       |  SELECT vec_id, list(c ORDER BY j) AS codes
       |  FROM (SELECT *, row_number() OVER (
       |          PARTITION BY vec_id, j ORDER BY dd ASC, c ASC) AS rn
       |        FROM dist)
       |  WHERE rn = 1 GROUP BY vec_id),
       |qsub AS (
       |  SELECT vec_id AS query_id, j,
       |    list_transform(list_slice(embedding, j*$d+1, j*$d+$d),
       |      x -> CAST(x AS DOUBLE)) AS qs
       |  FROM n CROSS JOIN js WHERE vec_id < 50),
       |lutv AS (
       |  SELECT query_id, j, c,
       |    list_sum(list_transform(list_zip(qs, cv),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS v
       |  FROM qsub JOIN book USING (j)),
       |luts AS (
       |  SELECT query_id, list(lv ORDER BY j) AS lut
       |  FROM (SELECT query_id, j, list(v ORDER BY c) AS lv
       |        FROM lutv GROUP BY query_id, j)
       |  GROUP BY query_id)""".stripMargin
  }

  /** ADC as the explicit left-associated 8-term chain — literally
    * [[adcOf]]'s reduceLeft, no aggregate-order assumptions. */
  private val adcChainSql: String =
    (0 until M).map(j => s"lut[${j + 1}][codes[${j + 1}]+1]").mkString(" + ")

  /** Shared twin suffix from the (query_id, neighbor_id, adc) pair set:
    * top Refine·k by ADC (ties to the smaller neighbor), exact-cosine
    * re-rank of the shortlist. */
  private val pqTailSql: String =
    s"""short AS (
       |  SELECT query_id, neighbor_id, adc
       |  FROM (SELECT *, row_number() OVER (
       |          PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS r
       |        FROM adc)
       |  WHERE r <= ${5 * Refine}),
       |qv AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM n WHERE vec_id < 50),
       |cv2 AS (SELECT vec_id AS neighbor_id, embedding AS ce, nrm AS cn FROM n),
       |rer AS (
       |  SELECT s.query_id, s.neighbor_id, s.adc,
       |    list_sum(list_transform(list_zip(qe, ce),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (qn * cn) AS cosine
       |  FROM short s JOIN qv USING (query_id) JOIN cv2 USING (neighbor_id))
       |SELECT query_id, neighbor_id, adc, cosine, CAST(rank AS INTEGER) AS rank
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |      FROM rer)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Full DuckDB twin of [[qPqTopK]]: trained codebooks inlined as
    * literals (training is deterministic and cached per dataset), codes
    * and LUTs rebuilt bit-identically, ADC summed in fixed j order. */
  def oPqTopK(books: Seq[Seq[Array[Double]]]): String =
    s"""${pqBaseSql(books)},
       |adc AS (
       |  SELECT query_id, c.vec_id AS neighbor_id, $adcChainSql AS adc
       |  FROM luts CROSS JOIN codes c
       |  WHERE query_id != c.vec_id),
       |$pqTailSql""".stripMargin

  /** Full DuckDB twin of [[qIvfPqTopK]]: the PQ base plus the IVF
    * centroid literals; the ADC sweep only sees (query, candidate) pairs
    * whose candidate cell is among the query's top-nProbe probe cells. */
  def oIvfPqTopK(cents: Seq[Array[Double]],
      books: Seq[Seq[Array[Double]]]): String =
    s"""${pqBaseSql(books)},
       |cent AS (SELECT * FROM (VALUES ${Ivf.centValuesSql(cents)}) tc(cell, ccv)),
       |cscored AS (
       |  SELECT n.vec_id, cent.cell,
       |    list_sum(list_transform(list_zip(n.embedding, ccv),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS score
       |  FROM n CROSS JOIN cent),
       |cellof AS (
       |  SELECT vec_id, cell
       |  FROM (SELECT *, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
       |        FROM cscored)
       |  WHERE rn = 1),
       |qprobe AS (
       |  SELECT vec_id AS query_id, cell
       |  FROM (SELECT *, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
       |        FROM cscored WHERE vec_id < 50)
       |  WHERE rn <= ${Ivf.NProbe}),
       |adc AS (
       |  SELECT qp.query_id, c.vec_id AS neighbor_id, $adcChainSql AS adc
       |  FROM qprobe qp
       |    JOIN cellof cf USING (cell)
       |    JOIN codes c ON c.vec_id = cf.vec_id
       |    JOIN luts ON luts.query_id = qp.query_id
       |  WHERE qp.query_id != c.vec_id),
       |$pqTailSql""".stripMargin

  def qIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val books = codebooks.computeIfAbsent(dir, _ => trainCodebooks(emb, 64))
    val cents = Ivf.centroidsFor(dir, emb)
    ivfPqTopKWith(emb, cents, books, k = 5, nQueries = 50)
      .orderBy(col("query_id"), col("rank"))
  }
}
