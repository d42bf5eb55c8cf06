package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Corpus deduplication operators (training-data-pipeline set).
  *
  * Scale design:
  *  - Exact dedup = hash groupBy: one shuffle on the 128-bit digest,
  *    partial aggregation upstream.
  *  - Near-dup candidate generation avoids the O(n²) cross join: docs are
  *    exploded into shingles (or MinHash band keys) and candidates are
  *    pairs sharing a key — a self-equi-join whose cost tracks the number
  *    of colliding pairs, not n². At 100 TB you additionally drop
  *    ultra-frequent shingles (doc_freq above a cap) before the join —
  *    they generate quadratic garbage pairs and carry no signal; the
  *    `maxShingleDocFreq` knob does this here.
  *  - Jaccard verification never rematerializes full texts into the join:
  *    only (doc_id, shingle-set-size) plus the colliding keys flow.
  */
object Dedup {

  /** Exact duplicate groups by content hash; keeps the smallest doc_id
    * (deterministic survivor, reference dedup A8 analog). */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("text_hash", md5(col("text")))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("copies"))
      .orderBy(col("keep_doc_id"))

  def oDedupExact: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, COUNT(*) AS copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin

  /** (doc_id, shingles, n_shingles) — words materialized as their own
    * projection so shingling references an attribute (see
    * TextFns.shinglesFromWords). Consumers that explode this MUST go
    * through [[withCached]]: the cache is an optimizer barrier, without
    * which a Generate above the nested transform re-inlines the words
    * split per element (the measured quadratic blowup). */
  private[operators] def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFns.words(col("text")).as("ws"))
      .select(col("doc_id"), TextFns.shinglesFromWords(col("ws")).as("shingles"))
      .withColumn("n_sh", size(col("shingles")))

  /** Bounded-lifetime cache for the shingled corpus: every near-dup path
    * reads it several times (candidate generation + verify legs), so it is
    * persisted, the pair result — orders of magnitude smaller than the
    * corpus — is eagerly materialized via localCheckpoint (truncating the
    * lineage so nothing re-reads the cache later), and the corpus cache is
    * released immediately. Checkpoint blocks for the compact result are
    * freed by the ContextCleaner once the frame is unreachable, so a
    * long-lived session doesn't accumulate corpus-sized cache entries.
    *
    * Tradeoff: localCheckpoint blocks are executor-local and
    * unreplicated with TRUNCATED lineage — an executor loss (or
    * dynamic-allocation decommission) after the checkpoint permanently
    * fails downstream reads of the result. Right for local/ephemeral
    * runs; on a cluster with executor churn, configure a checkpoint dir
    * and use reliable checkpoint() (or persist with replication 2) for
    * the pair result instead. */
  private[operators] def withCached(frame: DataFrame)(body: DataFrame => DataFrame): DataFrame = {
    val cached = frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try materialized(body(cached))
    finally cached.unpersist(false)
  }

  /** [[withCached]] over SEVERAL intermediate frames with ONE final
    * checkpoint: persist-in-place registers each frame's plan with the
    * cache manager, so the body's references to those vals hit cache —
    * nesting withCached instead would checkpoint (fully materialize)
    * once per level, and the extra passes are pure overhead. */
  private[operators] def withCachedAll(frames: DataFrame*)(body: => DataFrame): DataFrame = {
    frames.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try materialized(body)
    finally frames.foreach(_.unpersist(false))
  }

  /** Eagerly materialize ONE bounded intermediate consumed by several
    * downstream legs (same localCheckpoint reliability caveats as
    * [[withCached]]). The one lineage escape hatch: with
    * -Dgraft.explain.lineage=true the frame is returned unsettled, so
    * plan dumps show the full logical subtree instead of a checkpoint
    * scan — every settling helper ends here. Since r17 the
    * [[Scale.globalRank]] family returns LAZY frames (deterministic
    * baked buckets need no pinning), so a caller fanning a rank result
    * into 2+ legs decides the materialization itself — here — instead
    * of every single-consumer caller paying it. */
  private[operators] def materialized(frame: DataFrame): DataFrame =
    if (sys.props.get("graft.explain.lineage").contains("true")) frame
    else frame.localCheckpoint(true)

  /** In-group candidate pair generation (r18, guide §2.3/§2.4): given
    * exploded (key, payload-struct) rows whose per-key group size is
    * BOUNDED (a df cap, a prefix rule — never an unfiltered hot key),
    * group by the key ONCE, sort the collected structs (lexicographic =
    * by their first field, the doc id — unique within a group, so the
    * order is total and deterministic), and emit every i<j pair from
    * the sorted array. Replaces the classic two-leg self-equi-join,
    * which (a) shuffles the exploded corpus TWICE (once per leg — or
    * worse, broadcasts a whole exploded leg when fixture-scale size
    * estimates allow it) and (b) re-derives the key-frequency aggregate
    * under each leg because only the doc-grain frame is cached. Pair
    * volume is identical (C(group,2) per key, the candidate-generation
    * cost model is unchanged); the per-key array is bounded by the same
    * cap that already bounds join fan-in, so task memory is bounded too.
    * Emits (a, b, key-count) grains downstream aggregates consume
    * exactly as they consumed the join output. */
  private[graft] def groupedPairs(exploded: DataFrame, keyCol: String,
      payload: Column): DataFrame =
    exploded
      .filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(payload)).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(posexplode(col("ds")).as(Seq("i", "a")), col("ds"))
      .select(col("a"),
        explode(slice(col("ds"), col("i") + lit(2), size(col("ds")))).as("b"))
      // a unit repeating the same payload under one key would pair with
      // itself; the self-join this replaces required a strictly smaller
      // first field, so (x, x) never came out
      .filter(col("a") =!= col("b"))

  /** Exact n-gram Jaccard near-dup pairs via shared-shingle candidate
    * generation: |A∩B| counted by the co-occurrence count,
    * |A∪B| = |A|+|B|−|A∩B|. */
  def shingleJaccardPairs(docs: DataFrame, threshold: Double,
      maxShingleDocFreq: Int = 1000): DataFrame = withCached(shingled(docs)) { sh =>
    // the exploded frame feeds the frequent-shingle scan and the pair
    // grouping — deriving both from the cached doc-level frame means the
    // regex tokenize + shingle transform runs once, not 2×
    val ex = sh.select(col("doc_id"), col("n_sh"), explode_outer(col("shingles")).as("sh"))
    // drop ultra-frequent shingles before the pair grouping: the frequent
    // set is tiny, so it broadcast-anti-joins with no extra shuffle (a
    // window over every exploded shingle would full-shuffle the corpus)
    val frequent = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDocFreq).select(col("sh"))
    val rare = ex.join(broadcast(frequent), Seq("sh"), "left_anti")
    // ONE grouped shuffle + in-group i<j pairs replaces the two-leg
    // self-join (see [[groupedPairs]]); group size ≤ maxShingleDocFreq
    // by the cap above. Same pairs, same counts, same arithmetic.
    groupedPairs(rare, "sh", struct(col("doc_id"), col("n_sh")))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("a.n_sh")).as("n_a"), first(col("b.n_sh")).as("n_b"))
      .withColumn("jaccard", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    shingleJaccardPairs(Tables.documents(spark, dir), 0.8)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Prefix-filtered exact Jaccard pairs (the AllPairs/PPJoin candidate
    * scheme): order every document's shingles by ascending global
    * document frequency (rarest first, deterministic (df, shingle)
    * tiebreak) and join only on each side's PREFIX — the rare head of
    * the set. Completeness argument (conservative symmetric form):
    * J(A,B) ≥ t ⇒ |A∩B| ≥ t|A∪B| ≥ t·|B| ≥ t²·|A| (size filter both
    * ways), so with α = ⌈t²·|X|⌉ per side, prefixes of length
    * |X| − α + 1 must share a token (SSJoin prefix lemma; the
    * asymmetric probing-prefix variant tightens t² to t but needs an
    * index/probe asymmetry that doesn't map to a symmetric equi-join).
    * ⌈t²n⌉ is computed in exact integer arithmetic (t² as a rational),
    * so the prefix bound never loses a pair to float rounding.
    *
    * vs [[shingleJaccardPairs]]: candidates shrink from "any shared
    * shingle" to "shared RARE-head shingle" — frequent shingles sort to
    * the suffix and never generate candidates, replacing the
    * maxShingleDocFreq cap with a principled, threshold-derived rule
    * (no cap parameter to mistune). The price is a df join + one
    * per-doc ranking window over the exploded corpus; worth it when
    * pair volume, not preprocessing, is the bottleneck — measured:
    * 175× fewer distinct candidate pairs at sf0.01 (66 vs 11,533
    * for the capped shared-shingle scheme, both verifying to the same
    * 25 true pairs).
    * Verification computes the exact intersection per candidate on the
    * cached doc-level sets, so results ≡ the exact operator (shared
    * oracle). */
  def jaccardPrefixPairs(docs: DataFrame, threshold: Double = 0.8,
      t2Num: Long = 16, t2Den: Long = 25): DataFrame = {
    require(math.abs(t2Num.toDouble / t2Den - threshold * threshold) < 1e-9,
      "t2Num/t2Den must equal threshold² exactly (integer prefix bound)")
    withCached(shingled(docs)) { sh =>
      val ex = sh.select(col("doc_id"), col("n_sh"),
        explode_outer(col("shingles")).as("sh"))
      val df = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
      val prefixes = ex.join(df, Seq("sh"))
        .withColumn("pos", row_number().over(w))
        .withColumn("plen",
          expr(s"n_sh - (($t2Num * n_sh + ${t2Den - 1}) div $t2Den) + 1"))
        .filter(col("pos") <= col("plen"))
        .select(col("doc_id"), col("sh"))
      // r18: the [[groupedPairs]] rewrite was MEASURED HERE AND REJECTED
      // (4.2-4.4 s join form vs 6.1-6.7 s grouped, interleaved ×2 at
      // sf0.1): unlike the capped-shingle joins, the prefix frame is
      // df-ranked — most groups are size 1-2 — so the grouped agg pays
      // a full extra aggregation of the prefix table for almost no
      // join-volume saving, while the self-join's second leg is a cheap
      // re-read of the cached shingles
      val cands = prefixes.as("a").join(prefixes.as("b"), Seq("sh"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val setsA = sh.select(col("doc_id").as("doc_a"),
        col("shingles").as("sh_a"), col("n_sh").as("n_a"))
      val setsB = sh.select(col("doc_id").as("doc_b"),
        col("shingles").as("sh_b"), col("n_sh").as("n_b"))
      cands.join(setsA, Seq("doc_a")).join(setsB, Seq("doc_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("jaccard",
          col("inter") / (col("n_a") + col("n_b") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    }
  }

  def qJaccardPrefix(spark: SparkSession, dir: String): DataFrame =
    jaccardPrefixPairs(Tables.documents(spark, dir), 0.8)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Oracle: brute-force pairwise shingle Jaccard (fine at oracle scale;
    * the Spark side stays candidate-generated). */
  def oNgramJaccard: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
      |    ELSE [array_to_string(ws, ' ')] END AS shingles
      |  FROM w)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  len(list_intersect(a.shingles, b.shingles))
      |    / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.shingles, b.shingles))
      |    / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  val MinhashFuncs = 64
  val Bands = 16
  val RowsPerBand: Int = MinhashFuncs / Bands

  /** LSH candidate pairs: docs sharing any band hash; then exact-Jaccard
    * verified so the output equals the exact operator (recall at the 0.8
    * threshold with 16×4 bands is ≈1−2e-4 worst case). */
  def minhashLshPairs(docs: DataFrame, threshold: Double): DataFrame = withCached(shingled(docs)) { sh =>
    // the shingled corpus feeds both the signature build and the verify
    // joins — cached for the duration of this computation only
    val ex = sh.select(col("doc_id"), explode_outer(col("shingles")).as("sh"))
    val aggs = (0 until MinhashFuncs).map(i => min(hash(col("sh"), lit(i))).as(s"h$i"))
    val sigs = ex.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until Bands).map { b =>
      val rows = (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), hash(rows: _*).as("bh"))
    }
    val banded = sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val cands = banded.as("x").join(banded.as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val withSets = cands
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"), col("n_sh").as("n_b")), Seq("doc_b"))
    withSets
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  def qMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairs(Tables.documents(spark, dir), 0.8)
      .orderBy(col("doc_a"), col("doc_b"))

  /** SimHash bit width: 56, the width of the cross-engine md5-derived
    * hash (TextFns.md5u56) — which makes the whole operator reproducible
    * in the DuckDB oracle, unlike an xxhash64-based 64-bit variant. */
  val SimhashBits = 56

  /** Shared cosine threshold for the embedding near-dup family —
    * interpolated into BOTH the Spark operators' default arguments and
    * every DuckDB twin, so a non-default call site cannot silently
    * diverge from its oracle (ADVICE r12). */
  val NearDupThreshold = 0.45

  /** SimHash-56 per doc: bit k is the sign of Σ_shingles (±1 on hash
    * bit k). Near-dup pairs = Hamming ≤ maxHamming over the signatures. */
  def simhash(docs: DataFrame): DataFrame = {
    val ex = shingled(docs).select(col("doc_id"), explode_outer(col("shingles")).as("sh"))
      .withColumn("h", TextFns.md5u56(col("sh")))
    val bitSums = (0 until SimhashBits).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$k")
    }
    ex.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash",
        (0 until SimhashBits).map(k => when(col(s"b$k") > 0, lit(1L << k)).otherwise(lit(0L)))
          .reduce((a: Column, b: Column) => a.bitwiseOR(b)))
      .select(col("doc_id"), col("simhash"))
  }

  /** The 56 signature bits split into 8 blocks of 7 bits. */
  private def simhashBlock(c: Int): Column =
    shiftright(col("simhash"), c * 7).bitwiseAND(lit(0x7FL))

  /** Candidate pairs under single-block blocking: 8 keys/doc, 7-bit key
    * space. Pigeonhole-complete for Hamming ≤ 7, but 7-bit keys collide
    * at rate 2^-7 per block — at corpus scale the join output is garbage-
    * pair-dominated. Kept as the small-corpus baseline and the spec's
    * measurement yardstick. */
  private[graft] def simhashCandidates8(sh: DataFrame): DataFrame = {
    val chunked = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 8).map(c =>
        struct(lit(c).as("blk"), simhashBlock(c).as("ck"))): _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.blk").as("blk"), col("b.ck").as("ck"))
    chunked.as("x").join(chunked.as("y"), Seq("blk", "ck"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sim_a"), col("y.simhash").as("sim_b"))
      .distinct()
  }

  /** Corpus-scale candidate generation (the Manku-et-al table scheme):
    * keys are every ordered pair of the 8 blocks — C(8,2) = 28 families
    * of 14-bit keys. A pair differing in ≤ 6 bits dirties at most 6
    * blocks, leaving ≥ 2 clean blocks, so SOME family key matches
    * (pigeonhole: complete for Hamming ≤ 8−2). 3.5× the exploded rows of
    * single-block blocking, but each family collides at 2^-14, so the
    * join's garbage-pair output drops by orders of magnitude — the term
    * that dominates at 100 TB. */
  private[graft] def simhashCandidates16(sh: DataFrame): DataFrame =
    simhashCandidatesBlocked(sh, nBlocks = 8, keep = 2)

  /** Generalized Manku blocking: split the 56-bit signature into
    * `nBlocks` equal blocks and key on every `keep`-combination of them
    * (key = the kept blocks' bits concatenated) — pigeonhole-complete
    * for Hamming ≤ nBlocks − keep. Costs scale as
    *
    *   exploded rows  ∝ n · C(nBlocks, keep)           (linear term)
    *   garbage pairs  ∝ n² · C(nBlocks, keep) / 2^(keep·56/nBlocks)
    *
    * so the key-width choice is a corpus-size dial, not a constant:
    * (8,2) — 28 families × 14-bit keys — is right for ~10^5-10^6 docs,
    * but its fixed 2^-14 collision rate went measurably superlinear at
    * 315k docs in the scaling probe (SCALE.md). (14,8) — 3003 families
    * × 32-bit keys — trades a ~107× linear factor for ~2400× less n²
    * garbage: the right configuration past ~10^7 docs. Candidates are
    * always exact-Hamming verified downstream, so the scheme changes
    * cost, never results. */
  private[graft] def simhashCandidatesBlocked(sh: DataFrame,
      nBlocks: Int, keep: Int): DataFrame = {
    require(SimhashBits % nBlocks == 0, s"$nBlocks must divide $SimhashBits")
    require(keep >= 1 && keep < nBlocks, s"keep $keep out of range")
    val bits = SimhashBits / nBlocks
    val mask = (1L << bits) - 1
    def block(c: Int): Column =
      shiftright(col("simhash"), c * bits).bitwiseAND(lit(mask))
    val combos = (0 until nBlocks).combinations(keep).toSeq
    val chunked =
      if (combos.size <= 64) {
        // few families: inline the keys as a literal struct array + explode
        val families = combos.zipWithIndex.map { case (combo, fid) =>
          struct(lit(fid).as("blk"),
            combo.map(block).reduce((a, b) => shiftleft(a, bits).bitwiseOR(b)).as("ck"))
        }
        sh.select(col("doc_id"), col("simhash"), explode(array(families: _*)).as("b"))
          .select(col("doc_id"), col("simhash"), col("b.blk").as("blk"), col("b.ck").as("ck"))
      } else {
        // many families: the literal-array form would codegen
        // C(nBlocks,keep) struct constructions per row (Janino blows the
        // heap at 3003), and Catalyst's size stats don't see the ×3003
        // fan-out, so it later tries to broadcast the exploded side.
        // A broadcast cross join against the tiny family table produces
        // the same rows from a constant-size plan; the key folds over
        // the combo's block-index list, and the self-join is pinned to
        // merge (the fan-out side must never be the broadcast build).
        val spark = sh.sparkSession
        import spark.implicits._
        val families = spark.createDataset(combos.zipWithIndex.map {
          case (combo, fid) => (fid, combo.map(_.toLong).toArray)
        }).toDF("blk", "blocks")
        sh.crossJoin(broadcast(families))
          .withColumn("ck", expr(
            s"""aggregate(blocks, 0L, (acc, i) ->
               | (acc * ${1L << bits}) +
               | (shiftright(simhash, CAST(i AS INT) * $bits) & $mask))""".stripMargin))
          .select(col("doc_id"), col("simhash"), col("blk"), col("ck"))
          .hint("merge")
      }
    chunked.as("x").join(chunked.as("y"), Seq("blk", "ck"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sim_a"), col("y.simhash").as("sim_b"))
      .distinct()
  }

  /** Near-dup pairs at Hamming ≤ maxHamming. Candidate generation is the
    * paired-block scheme (complete for maxHamming ≤ 6) followed by exact
    * Hamming verification, so the output EQUALS brute force — blocking
    * changes cost, never results. `wideBlocks = false` selects the
    * single-byte baseline (complete up to Hamming 7). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 6,
      wideBlocks: Boolean = true): DataFrame = {
    require(if (wideBlocks) maxHamming <= 6 else maxHamming <= 7,
      s"blocking scheme incomplete at Hamming $maxHamming")
    // r17: the candidate self-join's two legs each re-derived the FULL
    // signature build (shingle + md5 + 56 bit-sum aggregate — 2 scans
    // of documents in the before plan); the signature table is one slim
    // (doc_id, simhash) row per doc, so cache it and let both legs
    // explode from the cached frame.
    withCached(simhash(docs)) { sh =>
      val cands = if (wideBlocks) simhashCandidates16(sh) else simhashCandidates8(sh)
      cands
        .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
        .filter(col("hamming") <= maxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }
  }

  /** [[simhashPairs]] under an explicit blocking configuration — the
    * corpus-size dial (see [[simhashCandidatesBlocked]]'s cost model;
    * (14,8) past ~10^7 docs). Output equals simhashPairs for any
    * complete configuration. */
  def simhashPairsBlocked(docs: DataFrame, maxHamming: Int,
      nBlocks: Int, keep: Int): DataFrame = {
    require(maxHamming <= nBlocks - keep,
      s"(nBlocks=$nBlocks, keep=$keep) blocking incomplete at Hamming $maxHamming")
    // same one-signature-build discipline as [[simhashPairs]] (r17)
    withCached(simhash(docs)) { sh =>
      simhashCandidatesBlocked(sh, nBlocks, keep)
        .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
        .filter(col("hamming") <= maxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }
  }

  /** The measured (8,2)→(14,8) crossover (SCALE.md scaling probe):
    * below it the ~107× linear explode factor of (14,8) dominates; above
    * it (8,2)'s fixed-2^-14 n² garbage term does — at 315k docs (14,8)
    * already costs 10× more (774 s vs 74 s), while at 10^8 docs (8,2)'s
    * garbage term is O(10^13) pairs and only (14,8) is viable. */
  private[graft] val SimhashDialCrossoverDocs = 4000000L

  /** Corpus-size dial, auto-positioned: the blocking configuration for
    * an estimated corpus size, from the cost model
    * `linear ∝ n·C(B,k)` vs `garbage ∝ n²·C(B,k)/2^(k·56/B)`. */
  private[graft] def simhashBlockingFor(estimatedDocs: Long): (Int, Int) =
    if (estimatedDocs < SimhashDialCrossoverDocs) (8, 2) else (14, 8)

  /** [[simhashPairs]] with the blocking configuration selected from the
    * corpus size instead of hard-coded. `estimatedDocs` should come from
    * table statistics / the catalog at scale; when absent, one
    * control-plane `count()` positions the dial — a single cheap job
    * before a corpus-pairing operator that dwarfs it, and at parquet
    * sources Spark answers it from footer row counts without a scan.
    * Any complete configuration returns identical verified pairs, so the
    * dial changes cost, never results (spec-pinned across the switch). */
  def simhashPairsAuto(docs: DataFrame, maxHamming: Int = 6,
      estimatedDocs: Option[Long] = None): DataFrame = {
    val n = estimatedDocs.getOrElse(docs.count())
    val (b, k) = simhashBlockingFor(n)
    simhashPairsBlocked(docs, maxHamming, b, k)
  }

  def qSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    // sf-scale corpora sit far below the crossover, so the auto dial
    // resolves to the same (8,2) plan the hard-coded path ran — the
    // benched query now exercises the production entry point
    simhashPairsAuto(Tables.documents(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Full DuckDB twin: same md5-derived 56-bit shingle hash
    * (TextFns.md5u56Sql), same sign-of-bit-sum signature, brute-force
    * Hamming pairs — blocking changes cost, never results, so the
    * blocked Spark operator must hash-match this exactly. */
  def oSimhashPairs: String = {
    val h = TextFns.md5u56Sql("s")
    val bitSums = (0 until SimhashBits).map(k =>
      s"SUM(CASE WHEN (h >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS b$k").mkString(",\n    ")
    val signBits = (0 until SimhashBits).map(k =>
      s"(CASE WHEN b$k > 0 THEN ${1L << k} ELSE 0 END)").mkString(" + ")
    s"""WITH w AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(ws) >= 3
       |    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
       |    ELSE [array_to_string(ws, ' ')] END AS shingles FROM w),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |hh AS (SELECT doc_id, $h AS h FROM ex),
       |bits AS (SELECT doc_id,
       |    $bitSums
       |  FROM hh GROUP BY doc_id),
       |sim AS (SELECT doc_id, ($signBits) AS simhash FROM bits)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Connected components over the near-dup pair graph by iterative
    * hash-min label propagation — the GraphX/GraphFrames CC algorithm
    * expressed on DataFrames. Each round is one shuffle (neighbor-min
    * join + aggregate); rounds needed = component diameter (near-dup
    * clusters are shallow — typically 2-3 rounds). The driver-side loop
    * is the fixpoint control only; all data work is distributed.
    * localCheckpoint truncates lineage per round so plans don't nest.
    *
    * Output: (doc_id, cluster_id) for every doc in some pair, where
    * cluster_id = min doc_id of the component (deterministic survivor —
    * the A8 dedup rule lifted to transitive duplicate groups).
    *
    * `maxRounds` guards the fixpoint: hop-propagation needs diameter
    * rounds, and near-dup components are dense (diameter 2-4). A graph
    * that is still moving after `escalateAfter` rounds is not
    * duplicate-shaped; rather than grind out diameter-many hops (or
    * trip `maxRounds`), later rounds add the pointer-jump of
    * [[dupClustersLogRounds]], making convergence O(log diameter) from
    * that point — same output contract either way. */
  def dupClusters(pairs: DataFrame, maxRounds: Int = 50,
      escalateAfter: Int = 8): DataFrame =
    ccFixpoint(pairs, maxRounds) { (edges, labels, round) =>
      if (round <= escalateAfter) hopMin(edges, labels)
      else pointerJumpStep(edges, labels)
    }

  /** One neighbor-min hop: (doc_id, label, next) with
    * next = min(own label, min over neighbors' labels). */
  private def hopMin(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
      .groupBy(edges("src").as("nid")).agg(min(col("label")).as("nlabel"))
    labels.join(nbrMin, labels("doc_id") === nbrMin("nid"), "left")
      .select(col("doc_id"), col("label"),
        least(col("label"), coalesce(col("nlabel"), col("label"))).as("next"))
  }

  /** Shared CC fixpoint scaffold: edge symmetrization, own-id label
    * init, bounded driver-side loop. `step` maps (edges, labels,
    * round) → an UNCHECKPOINTED (doc_id, label, next) frame; the
    * scaffold attaches an observe() metric counting moved labels, then
    * eagerly localCheckpoints — so each round runs exactly ONE job (the
    * checkpoint materialization), with the convergence count riding on
    * it as a CollectMetrics accumulator instead of a second count()
    * action over the cached partitions. Both clustering variants differ
    * only in their step. */
  private def ccFixpoint(pairs: DataFrame, maxRounds: Int)(
      step: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")).localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      require(rounds <= maxRounds,
        s"component diameter exceeds $maxRounds rounds — not a duplicate-shaped graph")
      // an Observation is single-use: fresh one per round
      val moved = org.apache.spark.sql.Observation(s"cc_moved_r$rounds")
      val stepped = step(edges, labels, rounds)
        .observe(moved, coalesce(sum(when(col("next") < col("label"), 1L)
          .otherwise(0L)), lit(0L)).as("moved"))
        .localCheckpoint(true)
      // metrics arrive via an async listener bus; bound the wait and fall
      // back to counting the (already cached) checkpoint rather than hang
      changed =
        try {
          import scala.concurrent.duration._
          val row = scala.concurrent.Await.result(moved.future, 30.seconds)
          row.getLong(row.fieldIndex("moved"))
        } catch { case _: java.util.concurrent.TimeoutException =>
          stepped.filter(col("next") < col("label")).count()
        }
      labels = stepped.select(col("doc_id"), col("next").as("label"))
    }
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** [[dupClusters]] for graphs whose diameter is NOT duplicate-shaped:
    * each round adds a pointer-jump (label(doc) := label(label(doc)),
    * one extra equi-join on the label frame) to the neighbor-min step,
    * so the distance to the component minimum roughly halves per round
    * and convergence needs O(log diameter) rounds instead of diameter —
    * the star-contraction idea (Kiveris et al., "Connected Components
    * in MapReduce and Beyond") expressed as one extra join. Same
    * output contract as dupClusters; use it when a 50-round fixpoint
    * guard would trip (long chains, sparse adversarial graphs). */
  def dupClustersLogRounds(pairs: DataFrame, maxRounds: Int = 30): DataFrame =
    ccFixpoint(pairs, maxRounds)((edges, labels, _) => pointerJumpStep(edges, labels))

  /** Neighbor-min hop + pointer jump (label(doc) := label(label(doc))). */
  private def pointerJumpStep(edges: DataFrame, labels: DataFrame): DataFrame = {
    // checkpoint the hop BEFORE the self-join: both sides of the jump
    // read the cached hop result instead of re-running the
    // edges⋈labels aggregation twice per round
    val stepped = hopMin(edges, labels)
      .withColumnRenamed("next", "l1").localCheckpoint(true)
    stepped.join(
        stepped.select(col("doc_id").as("j_id"), col("l1").as("j_l")),
        stepped("l1") === col("j_id"), "left")
      .select(col("doc_id"), col("label"),
        least(col("l1"), coalesce(col("j_l"), col("l1"))).as("next"))
  }

  def qDedupClusters(spark: SparkSession, dir: String): DataFrame =
    dupClusters(shingleJaccardPairs(Tables.documents(spark, dir), 0.8))
      .orderBy(col("doc_id"))

  /** Shared CTE prefix: shingle-Jaccard pair graph → transitive closure
    * (cluster id = min reachable doc, incl. self) — consumed by the
    * cluster gate and the canonical-selection gate. */
  private def ccClosureCtes: String =
    """w AS (
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
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin

  /** Oracle: transitive closure by recursive CTE over the same pair
    * graph; cluster id = min reachable doc (incl. self). */
  def oDedupClusters: String =
    s"""WITH RECURSIVE $ccClosureCtes
      |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** Canonical-document selection — the step after clustering: every
    * doc labeled with its near-dup cluster (singletons are their own
    * cluster, the [[Entity.goldenRecords]] coalesce), ONE survivor per
    * cluster under an explicit rule (longest doc wins, lowest id breaks
    * ties) and the rest marked dropped. This is the row-level verdict a
    * dedup pass actually ships — "which copy do we train on" — where
    * [[qDedupClusters]] ships the cluster map itself.
    *
    * Scale shape: the cluster map covers only MATCHED docs (pair-graph
    * scale, a small fraction of any real corpus) and left-joins onto
    * the full table; the survivorship window partitions BY CLUSTER, so
    * no partition exceeds the largest near-dup family. */
  def qDedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clusters = dupClusters(shingleJaccardPairs(docs, 0.8))
      .withColumnRenamed("cluster_id", "matched_cluster")
    // r18 (guide §2.4): survivorship via ONE bounded aggregate over the
    // MATCHED docs (pair-graph scale — the label table the closure just
    // produced) instead of a row_number window over the whole corpus,
    // which exchanged + sorted every row by cluster_id. The survivor of
    // a cluster is its (max n_chars, then min doc_id) member =
    // min(struct(−n_chars, doc_id)) — structs compare lexicographically.
    // Singletons (not in the label table) keep themselves; a singleton's
    // id can never equal a matched cluster's id (cluster ids are ids OF
    // matched docs), so the left join below cannot mislabel one. The
    // twin's ORDER BY n_chars DESC puts nulls LAST: the leading null
    // flag sorts them after every sized member, and the negation runs in
    // decimal so no BIGINT n_chars wraps.
    val slim = docs.select(col("doc_id"), col("n_chars"))
    val survivors = clusters.join(slim, Seq("doc_id"))
      .groupBy(col("matched_cluster").as("cluster_id"))
      .agg(min(struct(col("n_chars").isNull.as("nul"),
          (-col("n_chars").cast("decimal(20,0)")).as("neg"),
          col("doc_id").as("d")))
        .as("s"))
      .select(col("cluster_id"), col("s.d").as("survivor_id"))
    slim
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("matched_cluster"), col("doc_id")))
      .join(survivors, Seq("cluster_id"), "left")
      .withColumn("keep",
        when(col("survivor_id").isNull || col("survivor_id") === col("doc_id"),
          1).otherwise(0))
      .select(col("doc_id"), col("cluster_id"), col("n_chars"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Twin: the same closure CTEs + the same survivorship window. */
  def oDedupCanonical: String =
    s"""WITH RECURSIVE $ccClosureCtes,
      |cmap AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS mc
      |  FROM reach GROUP BY src),
      |lab AS (
      |  SELECT d.doc_id, COALESCE(c.mc, d.doc_id) AS cluster_id, d.n_chars
      |  FROM documents d LEFT JOIN cmap c USING (doc_id))
      |SELECT doc_id, cluster_id, n_chars,
      |  CASE WHEN row_number() OVER (
      |    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) = 1
      |    THEN 1 ELSE 0 END AS keep
      |FROM lab ORDER BY doc_id""".stripMargin

  /** Embedding-cosine near-dup pairs, exact: every (a, b) with
    * cosine ≥ threshold, via the codegen'd fused kernel (one pass per
    * pair, no intermediate arrays). The pair space is a broadcast
    * nested-loop self-join — the baseline, correct at any threshold.
    * Fine while one side fits a broadcast; at corpus scale use
    * [[embeddingNearDupLsh]] to cut the pair space first. */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // norms once per VECTOR, not per pair: the fused cosineSim kernel
    // re-derives both norms inside every candidate pair — 3× the FLOPs
    // of a dot across the O(n²) sweep (isolated fresh-JVM ×3: 3.5 s →
    // 1.3 s at sf0.1). Same IEEE op sequence as the kernel (sequential
    // -fold dot, sqrt, multiply, divide), so cosines stay bit-identical
    // to the twin, whose norms were always precomputed. A zero vector
    // yields NaN here vs null from the kernel; the ≥ threshold filter
    // drops both identically.
    val n = emb.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    val a = n.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = n.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    broadcast(a).join(b, col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  def qEmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairs(Tables.embeddings(spark, dir), NearDupThreshold)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Oracle: same sequential-fold accumulation as the kernel, so cosine
    * values are bit-identical (see Similarity.oCosineTopK). */
  def oEmbeddingNearDup: String =
    s"""WITH n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) AS cosine
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) >= $NearDupThreshold
      |ORDER BY vec_a, vec_b""".stripMargin

  /** Scale path: sign-LSH-blocked near-dup. Candidates = pairs whose
    * hyperplane sign buckets agree exactly or differ in one bit
    * (multi-probe, reusing Similarity's deterministic planes), then
    * exact-cosine verified — so precision is 1 by construction and the
    * output is always a subset of [[embeddingNearDupPairs]]; recall is
    * the multi-probe collision probability (≈0.9 at cosine 0.9 with 4
    * planes; raise probes for more). Shuffles on the bucket id instead
    * of materializing the n² pair space. */
  def embeddingNearDupLsh(emb: DataFrame, threshold: Double): DataFrame = {
    val withB = emb.withColumn("bucket", Similarity.lshBucket(col("embedding")))
    val probes = array((lit(0L) +: (0 until Similarity.Planes)
      .map(p => lit(1L << p))): _*)
    val a = withB
      .select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("bucket"))
      .withColumn("probe", explode(transform(probes, m => col("bucket").bitwiseXOR(m))))
    val b = withB.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("bucket").as("probe"))
    // a's 5 probe values are distinct and b contributes one bucket, so a
    // pair can match at most once — no dedup needed after the join
    a.join(b, Seq("probe")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        graft.plans.CosineSimilarity.cosineSim(col("ea"), col("eb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Approximate vs the exact pair scan, but deterministic given the
    * fixed seed-42 planes → full DuckDB twin ([[oEmbeddingNearDupLsh]]);
    * subset-of-exact and recall properties are additionally spec-tested. */
  def qEmbeddingNearDupLsh(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupLsh(Tables.embeddings(spark, dir), NearDupThreshold)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Shared CTE block reproducing [[embeddingNearDupLsh]] in DuckDB —
    * ends at `p` = (vec_a, vec_b, cosine ≥ [[NearDupThreshold]]). Used by the pair query
    * oracle and composed further by the semantic-dedup oracle. */
  private def lshPairCtes: String =
    s"""n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |b AS (SELECT vec_id, embedding, nrm,
       |        ${Similarity.bucketSql("embedding")} AS bucket FROM n),
       |a AS (
       |  SELECT vec_id AS vec_a, embedding AS ea, nrm AS na, xor(bucket, m) AS probe
       |  FROM b, (SELECT unnest(${Similarity.probeMasksSql}) AS m)),
       |bb AS (SELECT vec_id AS vec_b, embedding AS eb, nrm AS nb, bucket AS probe FROM b),
       |p0 AS (
       |  SELECT vec_a, vec_b,
       |    list_sum(list_transform(list_zip(ea, eb),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (na * nb) AS cosine
       |  FROM a JOIN bb USING (probe)
       |  WHERE vec_a < vec_b),
       |p AS (SELECT * FROM p0 WHERE cosine >= $NearDupThreshold)""".stripMargin

  /** Full DuckDB twin of [[qEmbeddingNearDupLsh]]: identical plane
    * literals reproduce the sign buckets and Hamming-1 probes, and the
    * sequential-fold dot idiom is bit-exact with the fused kernel (see
    * oEmbeddingNearDup) — so the blocked operator hash-matches. */
  def oEmbeddingNearDupLsh: String =
    s"""WITH $lshPairCtes
       |SELECT vec_a, vec_b, cosine FROM p
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Semantic deduplication (the SemDeDup idea — Abbas et al. 2023,
    * arXiv:2303.09540 — re-expressed Spark-first): embedding-space
    * near-dup pairs from the sign-LSH blocked kernel, transitive closure
    * over the pair graph, then one canonical survivor (the min vec_id)
    * per semantic cluster. Output covers EVERY vector — singletons are
    * their own cluster and are kept — so `filter(col("keep"))` IS the
    * deduplicated corpus.
    *
    * Scale design: inherits the LSH candidate generation (shuffles on
    * bucket id, never materializes n² pairs) and the bounded
    * O(log diameter)-capable label-propagation closure; the final
    * keep-labelling is one left join of labels onto the corpus. */
  def semanticDedup(emb: DataFrame, threshold: Double): DataFrame = {
    val pairs = embeddingNearDupLsh(emb, threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val clusters = dupClusters(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    emb.select(col("vec_id"))
      .join(clusters, Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("vec_id")))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
  }

  def qSemanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(Tables.embeddings(spark, dir), NearDupThreshold)
      .orderBy(col("vec_id"))

  /** Oracle: the LSH pair CTEs + recursive-CTE transitive closure
    * (cluster id = min reachable vec incl. self), left-joined back onto
    * the full corpus so singletons appear with keep = true. */
  def oSemanticDedup: String =
    s"""WITH RECURSIVE $lshPairCtes,
       |edges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM p
       |  UNION SELECT vec_b, vec_a FROM p),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cl AS (
       |  SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
       |  FROM reach GROUP BY src)
       |SELECT e.vec_id,
       |  coalesce(cl.cluster_id, e.vec_id) AS cluster_id,
       |  coalesce(cl.cluster_id, e.vec_id) = e.vec_id AS keep
       |FROM embeddings e LEFT JOIN cl USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  /** SEMANTIC eval contamination: val/test documents whose embedding has
    * a train-side neighbor above `threshold` — the paraphrase leakage
    * that shingle-level [[TextAnalysis.qContamination]] cannot see
    * (reworded copies share no 3-gram but sit next to each other in
    * embedding space). Splits follow the corpus hash rule
    * (md5u56(id) mod 100: 80/10/10), candidates come from the same
    * sign-LSH blocks as the near-dup family (cross-split join only —
    * train×train and eval×eval pairs are never generated), and each
    * contaminated eval doc reports its single best train neighbor
    * (max cosine, min-id tiebreak). Per-eval window is bounded by the
    * doc's block collisions, not the corpus. */
  def semanticContamination(emb: DataFrame,
      threshold: Double = NearDupThreshold): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withB = emb
      .withColumn("split",
        when(pmod(graft.functions.TextFns.md5u56(col("vec_id").cast("string")),
          lit(100L)) < 80, "train")
          .when(pmod(graft.functions.TextFns.md5u56(col("vec_id").cast("string")),
            lit(100L)) < 90, "val")
          .otherwise("test"))
      .withColumn("bucket", Similarity.lshBucket(col("embedding")))
    val probes = array((lit(0L) +: (0 until Similarity.Planes)
      .map(p => lit(1L << p))): _*)
    val eval_ = withB.filter(col("split") =!= "train")
      .select(col("vec_id").as("eval_id"), col("split"),
        col("embedding").as("ee"), col("bucket"))
      .withColumn("probe",
        explode(transform(probes, m => col("bucket").bitwiseXOR(m))))
    val train = withB.filter(col("split") === "train")
      .select(col("vec_id").as("train_id"), col("embedding").as("et"),
        col("bucket").as("probe"))
    // eval probes are 1+Planes distinct values and train contributes one
    // bucket ⇒ a pair matches at most once — no post-join dedup
    val hits = eval_.join(train, Seq("probe"))
      .withColumn("cosine",
        graft.plans.CosineSimilarity.cosineSim(col("ee"), col("et")))
      .filter(col("cosine") >= threshold)
    val w = Window.partitionBy(col("eval_id"))
      .orderBy(col("cosine").desc, col("train_id"))
    hits.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("eval_id"), col("split"), col("train_id"), col("cosine"))
  }

  def qSemanticContamination(spark: SparkSession, dir: String): DataFrame =
    semanticContamination(Tables.embeddings(spark, dir))
      .orderBy(col("eval_id"))

  /** Twin: same plane literals, split rule, cross-split probe join, and
    * sequential-fold cosine; best neighbor via the same pinned window. */
  def oSemanticContamination: String = {
    val h = graft.functions.TextFns.md5u56Sql("CAST(vec_id AS VARCHAR)")
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
       |    CASE WHEN $h % 100 < 80 THEN 'train'
       |         WHEN $h % 100 < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM embeddings),
       |b AS (SELECT vec_id, embedding, nrm, split,
       |        ${Similarity.bucketSql("embedding")} AS bucket FROM n),
       |ev AS (
       |  SELECT vec_id AS eval_id, split, embedding AS ee, nrm AS ne,
       |    xor(bucket, m) AS probe
       |  FROM b, (SELECT unnest(${Similarity.probeMasksSql}) AS m)
       |  WHERE split != 'train'),
       |tr AS (
       |  SELECT vec_id AS train_id, embedding AS et, nrm AS nt,
       |    bucket AS probe
       |  FROM b WHERE split = 'train'),
       |h0 AS (
       |  SELECT eval_id, split, train_id,
       |    list_sum(list_transform(list_zip(ee, et),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (ne * nt) AS cosine
       |  FROM ev JOIN tr USING (probe)),
       |h AS (SELECT * FROM h0 WHERE cosine >= $NearDupThreshold)
       |SELECT eval_id, split, train_id, cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY eval_id
       |        ORDER BY cosine DESC, train_id) AS rn FROM h)
       |WHERE rn = 1 ORDER BY eval_id""".stripMargin
  }
}
