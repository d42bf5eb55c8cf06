package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns

/** Stage ledger for [[Curation.curate]]: row counts entering/leaving
  * each curation stage plus the final pack count — the shrinkage audit
  * a data team reads after every corpus build. */
case class CurationReport(
    input: Long,
    afterQuality: Long,
    afterDedup: Long,
    splitCounts: Map[String, Long],
    trainPacks: Long,
    afterMixture: Option[Long] = None)

/** Training-data curation operators beyond the reference's surface:
  * PII scrubbing, within-document repetition scoring, per-stratum
  * deterministic downsampling, and fixed-capacity sequence packing.
  * All four are the day-to-day verbs of an LLM data pipeline that the
  * dedup/similarity family doesn't cover.
  *
  * Scale shape: pii/repetition/sample are map-only (fused into the scan,
  * column-pruned to what each needs); packing is one window per hash
  * shard — shard count is the scale dial, see [[seqPack]].
  */
object Curation {

  // Cross-engine regexes (Java + RE2 agree on these: character classes,
  // bounded repetition, \b word boundaries — no alternation-order or
  // laziness pitfalls, which the two engines resolve differently).
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Scrub emails → `<EMAIL>`, phone numbers → `<PHONE>`, IPv4s → `<IP>`
    * and count each category. Email first: its local/domain parts contain
    * dots and digits that the IP pattern could otherwise nibble at.
    * Pure per-row expression work — codegen'd, no shuffle. */
  def scrubPii(text: Column): (Column, Column, Column, Column) = {
    val noEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val noPhone = regexp_replace(noEmail, PhoneRe, "<PHONE>")
    val clean = regexp_replace(noPhone, Ipv4Re, "<IP>")
    (regexp_count(text, lit(EmailRe)),
      regexp_count(noEmail, lit(PhoneRe)),
      regexp_count(noPhone, lit(Ipv4Re)),
      clean)
  }

  /** The synthetic corpus carries no organic PII, so the query leg plants
    * a deterministic contact line per doc — the oracle plants the same
    * line, making the scrub semantics (not the fixture) the thing under
    * test. */
  private def withContactLine(docs: DataFrame): DataFrame =
    docs.withColumn("aug",
      concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
        lit("@example.com or 555-123-4567 at 10.0.0."),
        (col("doc_id") % 256).cast("string")))

  def qPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val (emails, phones, ips, clean) =
      scrubPii(col("aug"))
    withContactLine(Tables.documents(spark, dir))
      .select(col("doc_id"), emails.as("pii_emails"), phones.as("pii_phones"),
        ips.as("pii_ips"), clean.as("clean_text"))
      .orderBy(col("doc_id"))
  }

  def oPiiScrub: String =
    """WITH a AS (
      |  SELECT doc_id, text || ' reach user' || CAST(doc_id AS VARCHAR)
      |    || '@example.com or 555-123-4567 at 10.0.0.'
      |    || CAST(doc_id % 256 AS VARCHAR) AS aug
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, aug,
      |    regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS no_email
      |  FROM a),
      |p AS (
      |  SELECT doc_id, aug, no_email,
      |    regexp_replace(no_email, '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '<PHONE>', 'g') AS no_phone
      |  FROM s)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS pii_emails,
      |  CAST(len(regexp_extract_all(no_email, '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS INTEGER) AS pii_phones,
      |  CAST(len(regexp_extract_all(no_phone, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS pii_ips,
      |  regexp_replace(no_phone, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean_text
      |FROM p ORDER BY doc_id""".stripMargin

  // -------------------------------------------- Luhn-validated card PII

  /** Luhn mod-10 sum of a 16-digit string: from the RIGHT, every second
    * digit doubles (digits > 9 after doubling subtract 9) — for a fixed
    * even length that is every LEFT-even index. Pure integer HOF
    * arithmetic, identical in DuckDB (`list_transform` over `range`),
    * so validity is oracle-exact. */
  private def luhnSum16(c: Column): Column =
    aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, i) => {
      val d = (ascii(c.substr((i + 1).cast("int"), lit(1))) - lit(48))
        .cast("long")
      acc + when(i % 2 === 0,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })

  private def luhnValid16(c: Column): Column = luhnSum16(c) % 10 === 0

  /** Card-number scrub with CHECKSUM validation: a bare
    * `\d{16} → <CARD>` rewrite nukes order ids, hashes, and timestamps
    * that happen to be 16 digits — the classic PII-scrub false-positive
    * that silently destroys training signal at corpus scale. Candidates
    * come from the regex; only Luhn-VALID candidates scrub (the same
    * two-stage detect→validate structure payment processors use).
    * Per-row HOF expression work, no shuffle; the scrub itself is an
    * `aggregate` over the validated candidate list, so any number of
    * valid cards per doc rewrite in one pass. */
  def luhnScrub(text: Column): (Column, Column, Column) = {
    val cands = regexp_extract_all(text, lit("\\b\\d{16}\\b"), lit(0))
    val valid = filter(cands, c => luhnValid16(c))
    val clean = aggregate(valid, text, (acc, c) => replace(acc, c, lit("<CARD>")))
    (size(cands).cast("long"), size(valid).cast("long"), clean)
  }

  /** The synthetic corpus carries no organic card numbers, so the query
    * leg plants TWO deterministic 16-digit candidates per doc — one
    * with the correct Luhn check digit, one with check+1 — making the
    * validator (not the fixture) the thing under test: exactly one of
    * the two may scrub. The check digit is derived with the same
    * integer arithmetic in both engines. */
  private def withCardLine(docs: DataFrame): DataFrame = {
    val prefix = concat(lit("4"),
      lpad(((col("doc_id") * 7919) % 100000000000000L).cast("string"), 14, "0"))
    // prefix occupies LEFT indices 0..14 of the 16-digit card; doubling
    // hits left-even indices, so the prefix sum shares luhn's parity
    val pSum = aggregate(sequence(lit(0), lit(14)), lit(0L), (acc, i) => {
      val d = (ascii(prefix.substr((i + 1).cast("int"), lit(1))) - lit(48))
        .cast("long")
      acc + when(i % 2 === 0,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    val check = (lit(10L) - pSum % 10) % 10
    val good = concat(prefix, check.cast("string"))
    val bad = concat(prefix, ((check + 1) % 10).cast("string"))
    docs.withColumn("aug",
      concat(col("text"), lit(" card "), good, lit(" ref "), bad))
  }

  def qPiiLuhn(spark: SparkSession, dir: String): DataFrame = {
    val (nCands, nValid, clean) = luhnScrub(col("aug"))
    withCardLine(Tables.documents(spark, dir))
      .select(col("doc_id"), nCands.as("n_candidates"),
        nValid.as("n_valid"), clean.as("clean_text"))
      .orderBy(col("doc_id"))
  }

  def oPiiLuhn: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    '4' || lpad(CAST((doc_id * 7919) % 100000000000000 AS VARCHAR),
      |      14, '0') AS pre
      |  FROM documents),
      |ck AS (
      |  SELECT doc_id, pre,
      |    (10 - list_sum(list_transform(range(15), i ->
      |      CASE WHEN i % 2 = 0 THEN
      |        CASE WHEN 2 * (ascii(substr(pre, CAST(i + 1 AS INTEGER), 1)) - 48) > 9
      |          THEN 2 * (ascii(substr(pre, CAST(i + 1 AS INTEGER), 1)) - 48) - 9
      |          ELSE 2 * (ascii(substr(pre, CAST(i + 1 AS INTEGER), 1)) - 48) END
      |      ELSE ascii(substr(pre, CAST(i + 1 AS INTEGER), 1)) - 48 END)) % 10)
      |      % 10 AS check
      |  FROM p),
      |a AS (
      |  SELECT d.doc_id,
      |    d.text || ' card ' || ck.pre || CAST(ck.check AS VARCHAR)
      |      || ' ref ' || ck.pre || CAST((ck.check + 1) % 10 AS VARCHAR) AS aug
      |  FROM documents d JOIN ck ON d.doc_id = ck.doc_id),
      |v AS (
      |  SELECT doc_id, aug,
      |    list_filter(regexp_extract_all(aug, '\b\d{16}\b'), c ->
      |      list_sum(list_transform(range(16), i ->
      |        CASE WHEN i % 2 = 0 THEN
      |          CASE WHEN 2 * (ascii(substr(c, CAST(i + 1 AS INTEGER), 1)) - 48) > 9
      |            THEN 2 * (ascii(substr(c, CAST(i + 1 AS INTEGER), 1)) - 48) - 9
      |            ELSE 2 * (ascii(substr(c, CAST(i + 1 AS INTEGER), 1)) - 48) END
      |        ELSE ascii(substr(c, CAST(i + 1 AS INTEGER), 1)) - 48 END)) % 10 = 0)
      |      AS valids
      |  FROM a)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(aug, '\b\d{16}\b')) AS BIGINT)
      |    AS n_candidates,
      |  CAST(len(valids) AS BIGINT) AS n_valid,
      |  list_reduce(list_prepend(aug, valids),
      |    (acc, c) -> replace(acc, c, '<CARD>')) AS clean_text
      |FROM v ORDER BY doc_id""".stripMargin

  /** Within-document repetition: ordered 3-gram shingles vs distinct
    * shingles. High ratio = boilerplate / template / degenerate text —
    * the standard pre-training drop signal that corpus-level dedup
    * misses (it compares across docs, not within). Map-only. */
  def repetition(docs: DataFrame): DataFrame = {
    val ws = TextFns.words(col("text"))
    docs
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), TextFns.shingleSeqFromWords(col("ws")).as("seq"))
      .select(col("doc_id"),
        size(col("seq")).as("total_ngrams"),
        size(array_distinct(col("seq"))).as("distinct_ngrams"))
      .withColumn("repetition_ratio",
        lit(1.0) - col("distinct_ngrams") / col("total_ngrams"))
      .withColumn("is_repetitive",
        col("repetition_ratio") > TextFns.QualityMaxRepetitionRatio)
  }

  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    repetition(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  def oRepetition: String =
    raw"""WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
      |sq AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]
      |    ELSE [array_to_string(ws, ' ')] END AS seq FROM w),
      |c AS (
      |  SELECT doc_id, CAST(len(seq) AS INTEGER) AS total_ngrams,
      |    CAST(len(list_distinct(seq)) AS INTEGER) AS distinct_ngrams FROM sq)
      |SELECT *, 1.0 - CAST(distinct_ngrams AS DOUBLE) / total_ngrams AS repetition_ratio,
      |  (1.0 - CAST(distinct_ngrams AS DOUBLE) / total_ngrams)
      |    > ${TextFns.QualityMaxRepetitionRatio} AS is_repetitive
      |FROM c ORDER BY doc_id""".stripMargin

  /** Deterministic per-stratum downsampling: keep a doc iff its id-hash
    * bucket falls under the stratum's rate. The workhorse for rebalancing
    * a corpus (e.g. downsample the dominant language) with zero RNG —
    * the same doc survives on every run, engine, and cluster layout,
    * which is what makes 100 TB sampling auditable. Map-only filter,
    * fused into the scan. */
  def stratifiedSample(docs: DataFrame, rates: Map[String, Int],
      defaultRate: Int): DataFrame = {
    val bucket = pmod(TextFns.md5u56(col("doc_id").cast("string")), lit(100L)).cast("int")
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, r).otherwise(acc)
    }
    docs.withColumn("bucket", bucket).filter(col("bucket") < rate)
  }

  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir), Map("en" -> 50), 20)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))

  def oStratifiedSample: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, lang, CAST($h % 100 AS INTEGER) AS bucket
       |FROM documents
       |WHERE $h % 100 < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
       |ORDER BY doc_id""".stripMargin
  }

  /** Fixed-capacity sequence packing: lay each shard's docs end-to-end
    * (doc_id order) in a virtual token stream and assign every doc to
    * the pack its FIRST token lands in — exactly the greedy concat-and-
    * chunk layout trainers feed to fixed-context models, computed as a
    * running-sum window instead of a sequential loop.
    *
    * Scale shape: one sort-window per shard, shards are hash-disjoint,
    * so parallelism = nShards and no global ordering bottleneck exists.
    * At 100 TB raise nShards until a shard's token ledger fits an
    * executor's sort budget (the window itself is O(shard rows)). */
  def seqPack(docs: DataFrame, capacity: Int, nShards: Int): DataFrame = {
    val shard = pmod(TextFns.md5u56(col("doc_id").cast("string")), lit(nShards.toLong)).cast("int")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), shard.as("shard"),
        TextFns.tokenCount(col("text")).as("token_count"))
      .withColumn("start_tok",
        (sum(col("token_count")).over(w) - col("token_count")).cast("long"))
      .withColumn("pack_id", floor(col("start_tok") / lit(capacity.toDouble)))
      .withColumn("pack_offset", col("start_tok") % capacity)
  }

  def qSeqPack(spark: SparkSession, dir: String): DataFrame =
    seqPack(Tables.documents(spark, dir), capacity = 2048, nShards = 8)
      .orderBy(col("doc_id"))

  def oSeqPack: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (
       |  SELECT doc_id, CAST($h % 8 AS INTEGER) AS shard,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS token_count
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, shard, token_count,
       |    CAST(SUM(token_count) OVER (PARTITION BY shard ORDER BY doc_id)
       |      - token_count AS BIGINT) AS start_tok
       |  FROM t)
       |SELECT doc_id, shard, token_count, start_tok,
       |  CAST(floor(start_tok / 2048.0) AS BIGINT) AS pack_id,
       |  CAST(start_tok % 2048 AS BIGINT) AS pack_offset
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Pack-level rollup of [[seqPack]]: how many docs START in each pack,
    * their id span, and the tokens they contribute. (In concat packing a
    * doc can spill past its pack's boundary; `tokens_started` counts a
    * doc's full length in its start pack, so per-pack sums exceed
    * capacity exactly where spill happens — the number a batching
    * pipeline needs to size reads.) One extra partial-agg shuffle on the
    * already-shard-local (shard, pack_id) key. */
  def packManifest(docs: DataFrame, capacity: Int, nShards: Int): DataFrame =
    seqPack(docs, capacity, nShards)
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"),
        sum(col("token_count")).as("tokens_started"))

  /** Persist a [[seqPack]] assignment table with packs FILE-CONTAINED:
    * range-partitioned on (shard, pack_id) — equal keys land in one
    * range partition, so no pack straddles a file — and sorted within,
    * so each file is a contiguous pack run. This is the layout contract
    * [[Forget.forgetPacked]]'s file-pruned repack relies on (an erasure
    * rewrites only the files holding an affected pack). */
  def writePacked(docs: DataFrame, capacity: Int, nShards: Int,
      path: String, nFiles: Int = 16): Unit =
    seqPack(docs, capacity, nShards)
      .repartitionByRange(nFiles, col("shard"), col("pack_id"))
      .sortWithinPartitions(col("shard"), col("pack_id"), col("doc_id"))
      .write.mode("overwrite").parquet(path)

  def qPackManifest(spark: SparkSession, dir: String): DataFrame =
    packManifest(Tables.documents(spark, dir), capacity = 2048, nShards = 8)
      .orderBy(col("shard"), col("pack_id"))

  def oPackManifest: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (
       |  SELECT doc_id, CAST($h % 8 AS INTEGER) AS shard,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS token_count
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, shard, token_count,
       |    CAST(SUM(token_count) OVER (PARTITION BY shard ORDER BY doc_id)
       |      - token_count AS BIGINT) AS start_tok
       |  FROM t)
       |SELECT shard, CAST(floor(start_tok / 2048.0) AS BIGINT) AS pack_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       |  CAST(SUM(token_count) AS BIGINT) AS tokens_started
       |FROM c GROUP BY shard, floor(start_tok / 2048.0)
       |ORDER BY shard, pack_id""".stripMargin
  }

  /** The curation funnel: compose the quality signals (length, stopword
    * density, punctuation, repetition) into one keep/drop verdict with a
    * FIRST-FAILING-CHECK drop reason — the audit column a data team
    * reads when a corpus shrinks unexpectedly. Map-only; every signal is
    * already a scan-fused expression, so the funnel costs one pass.
    *
    * [[funnelVerdict]] appends the verdict to the FULL input row — the
    * composition form [[curate]] wants (filter in place, no self-join to
    * recover original columns); [[filterFunnel]] is the audit projection
    * of the same pass. The words array is projected ONCE and every
    * word-level signal reads the attribute (multi-referenced aliases
    * survive CollapseProject, so the split regex runs once per row —
    * the inline form ran it per signal). */
  def funnelVerdict(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", TextFns.words(col("text")))
      .withColumn("seq", TextFns.shingleSeqFromWords(col("ws")))
      .withColumn("char_count", length(col("text")))
      .withColumn("stopword_ratio",
        TextFns.stopwordCountFromWords(col("ws"), TextFns.EnStopwords)
          / size(col("ws")))
      .withColumn("punct_ratio", TextFns.punctCount(col("text")) / length(col("text")))
      .withColumn("repetition_ratio",
        lit(1.0) - size(array_distinct(col("seq"))) / size(col("seq")))
      .drop("ws", "seq")
      .withColumn("drop_reason",
        when(col("char_count") < TextFns.QualityMinChars, "too_short")
          .when(col("char_count") > TextFns.QualityMaxChars, "too_long")
          .when(col("stopword_ratio") < TextFns.QualityMinStopwordRatio,
            "low_stopword_density")
          .when(col("punct_ratio") > TextFns.QualityMaxPunctRatio, "high_punctuation")
          .when(col("repetition_ratio") > TextFns.QualityMaxRepetitionRatio,
            "repetitive")
          .otherwise(lit(null).cast("string")))
      .withColumn("keep", col("drop_reason").isNull)

  private val funnelSignalCols =
    Seq("char_count", "stopword_ratio", "punct_ratio", "repetition_ratio",
      "drop_reason", "keep")

  def filterFunnel(docs: DataFrame): DataFrame =
    funnelVerdict(docs).select((Seq("doc_id") ++ funnelSignalCols).map(col): _*)

  def qFilterFunnel(spark: SparkSession, dir: String): DataFrame =
    filterFunnel(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  def oFilterFunnel: String = {
    val reason =
      s"""CASE WHEN char_count < ${TextFns.QualityMinChars} THEN 'too_short'
         |       WHEN char_count > ${TextFns.QualityMaxChars} THEN 'too_long'
         |       WHEN stopword_ratio < ${TextFns.QualityMinStopwordRatio} THEN 'low_stopword_density'
         |       WHEN punct_ratio > ${TextFns.QualityMaxPunctRatio} THEN 'high_punctuation'
         |       WHEN repetition_ratio > ${TextFns.QualityMaxRepetitionRatio} THEN 'repetitive'
         |       ELSE NULL END""".stripMargin
    raw"""WITH w AS (
      |  SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
      |sq AS (
      |  SELECT doc_id, text, ws, CASE WHEN len(ws) >= 3
      |    THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]
      |    ELSE [array_to_string(ws, ' ')] END AS seq FROM w),
      |s AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS INTEGER) AS char_count,
      |    len(list_filter(ws, x -> list_contains(['the','a','of','and','is','to','in'], x)))
      |      / len(ws) AS stopword_ratio,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) / length(text) AS punct_ratio,
      |    1.0 - CAST(len(list_distinct(seq)) AS DOUBLE) / len(seq) AS repetition_ratio
      |  FROM sq)
      |SELECT *,
      |  $reason AS drop_reason,
      |  ($reason) IS NULL AS keep
      |FROM s ORDER BY doc_id""".stripMargin
  }

  /** The full corpus build, composed from the operators above: quality
    * funnel → near-dup removal (cluster survivor = min doc_id, the A8
    * dedup rule lifted to transitive groups) → optional token-weighted
    * mixture rebalance (`mixtureBp`, [[sourceMixTokens]]; off by
    * default) → deterministic split →
    * train-shard packing. Writes the curated corpus partitioned by
    * split (so a trainer's `split=train` read partition-prunes) plus
    * the pack manifest, and returns the per-stage shrinkage ledger.
    *
    * Every stage is the already-scale-shaped operator: the only joins
    * are the candidate-generated near-dup pair join and a broadcast-
    * sized anti-join against the duplicate list (dup victims are a
    * small fraction of any real corpus; for a pathological majority-dup
    * corpus swap in a shuffle anti-join by lifting the hint). */
  def curate(docs: DataFrame, outDir: String,
      jaccardThreshold: Double = 0.8, capacity: Int = 2048,
      nShards: Int = 8,
      mixtureBp: Option[Map[String, Int]] = None): CurationReport = {
    val spark = docs.sparkSession
    // 1. quality funnel — verdict computed alongside the original
    // columns, so survivors come out of the same fused scan (no
    // self-join, no second corpus pass); the input count rides the same
    // scan as an observe() metric instead of a dedicated counting pass
    val inputObs = org.apache.spark.sql.Observation()
    val kept = funnelVerdict(docs)
      .observe(inputObs, count(lit(1)).as("rows"))
      .filter(col("keep"))
      .drop(funnelSignalCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val afterQuality = kept.count()
    val input = inputObs.get("rows").asInstanceOf[Long]
    // 2. near-dup removal: every clustered doc except its cluster's min
    // survivor is a victim; anti-join the victim list out
    val victims = Dedup.dupClusters(shinglePairs(kept, jaccardThreshold))
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val deduped = kept.join(broadcast(victims), Seq("doc_id"), "left_anti")
    // 2b. optional token-weighted mixture rebalance (shares over tokens,
    // [[sourceMixTokens]]): when on, afterDedup needs its own count
    // because the split ledger below then counts the post-mixture corpus
    // survivors come back as a doc_id semi join so the mixture's window
    // shuffles only its narrow projection, never the text column
    val (mixed, afterDedupExplicit) = mixtureBp match {
      case Some(shares) =>
        (deduped.join(sourceMixTokens(deduped, shares).select("doc_id"),
          Seq("doc_id"), "left_semi"), Some(deduped.count()))
      case None => (deduped, None)
    }
    // 3. deterministic split, then write partitioned by split
    val tagged = TextAnalysis.withSplit(mixed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tagged.drop("bucket").write.mode("overwrite")
      .partitionBy("split").parquet(s"$outDir/corpus")
    val splitCounts = tagged.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val afterDedup = afterDedupExplicit.getOrElse(splitCounts.values.sum)
    val afterMixture = mixtureBp.map(_ => splitCounts.values.sum)
    // 4. pack the train split; manifest is the batching layer's read
    // plan. Its row count rides the write as an observe() metric — no
    // read-back of the file just written.
    val packObs = org.apache.spark.sql.Observation()
    packManifest(tagged.filter(col("split") === "train"), capacity, nShards)
      .observe(packObs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(s"$outDir/train_pack_manifest")
    val trainPacks = packObs.get("rows").asInstanceOf[Long]
    kept.unpersist(); tagged.unpersist()
    CurationReport(input, afterQuality, afterDedup, splitCounts, trainPacks,
      afterMixture)
  }

  private def shinglePairs(docs: DataFrame, threshold: Double): DataFrame =
    Dedup.shingleJaccardPairs(docs.select("doc_id", "text"), threshold)

  /** Per-source document cap: keep at most `cap` docs from each source,
    * chosen as a deterministic pseudo-random sample (rank by id-hash, not
    * by id — a raw doc_id prefix would bias toward whatever arrived
    * first). The standard guard against one crawl domain swamping the
    * corpus. One shuffle on `source`; each kept row carries its
    * `rank_in_source` so downstream tightening (cap 100 → cap 10) is a
    * filter, not a recompute. */
  def sourceCap(docs: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(TextFns.md5u56(col("doc_id").cast("string")), col("doc_id"))
    docs.withColumn("rank_in_source", row_number().over(w))
      .filter(col("rank_in_source") <= cap)
  }

  /** Skew path for [[sourceCap]]: a plain ranking window sorts a hot
    * source's every row on one task. [[Scale.saltedTopNPerKey]] ranks
    * within (source, salt) first and only re-ranks the ≤ cap×buckets
    * survivors — exactly equal output, spec-pinned. */
  def sourceCapSalted(docs: DataFrame, cap: Int, saltBuckets: Int = 16): DataFrame =
    Scale.saltedTopNPerKey(docs, Seq("source"),
        Seq(TextFns.md5u56(col("doc_id").cast("string")), col("doc_id")),
        cap, saltFrom = col("doc_id"), saltBuckets = saltBuckets)
      .withColumnRenamed("rank", "rank_in_source")

  def qSourceCap(spark: SparkSession, dir: String): DataFrame =
    sourceCap(Tables.documents(spark, dir), cap = 15)
      .select(col("doc_id"), col("source"), col("rank_in_source"))
      .orderBy(col("doc_id"))

  def oSourceCap: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH r AS (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY $h, doc_id)
       |      AS rank_in_source
       |  FROM documents)
       |SELECT doc_id, source, CAST(rank_in_source AS INTEGER) AS rank_in_source
       |FROM r WHERE rank_in_source <= 15 ORDER BY doc_id""".stripMargin
  }

  /** Rebalance the corpus to target per-source proportions: find the
    * largest total T such that every declared source can contribute its
    * share (T = min over sources of count/share), then keep each
    * source's floor(T × share) lowest-id-hash docs — the "data mixture"
    * step of a pretraining corpus build, here as exact-count selection
    * rather than rate sampling, so output proportions hit the target up
    * to floor. Shares in basis points; all arithmetic is integer, so the
    * DuckDB twin is bit-exact. Undeclared sources are dropped (the
    * mixture defines the corpus).
    *
    * Scale shape: per-source counts are one partial-agg shuffle of a
    * #sources-row result (control plane, like [[budgetSelect]]'s
    * offsets); caps broadcast back; then a per-source rank of EVERY doc
    * on a handful-valued key — the r9 hot-group shape (the cap is a
    * data-dependent column, so WindowGroupLimit cannot bound it the way
    * it bounds [[sourceCap]]'s literal cap). The rank rides the
    * size-aware [[Scale.groupRanks]] dial. */
  def sourceMix(docs: DataFrame, sharesBp: Map[String, Int]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cnts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val t = sharesBp.map { case (src, bp) =>
      cnts.getOrElse(src, 0L) * 10000L / bp
    }.min
    val caps = sharesBp.toSeq.map { case (src, bp) => (src, t * bp / 10000L) }
    val keyed = docs.join(broadcast(caps.toDF("source", "_cap")), "source")
      .withColumn("_h", TextFns.md5u56(col("doc_id").cast("string")))
    Scale.groupRanks(keyed, Seq("source"),
        Seq(col("_h"), col("doc_id")), "rank_in_source")
      .filter(col("rank_in_source") <= col("_cap"))
      .drop("_cap", "_h")
  }

  def qSourceMix(spark: SparkSession, dir: String): DataFrame =
    sourceMix(Tables.documents(spark, dir),
        Map("src0" -> 4000, "src1" -> 4000, "src2" -> 2000))
      .select(col("doc_id"), col("source"), col("rank_in_source"))
      .orderBy(col("doc_id"))

  def oSourceMix: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH s(source, share_bp) AS (
       |  VALUES ('src0', 4000), ('src1', 4000), ('src2', 2000)),
       |cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
       |t AS (
       |  SELECT min(n * 10000 // share_bp) AS cap_t
       |  FROM cnt JOIN s USING (source)),
       |caps AS (
       |  SELECT source, (SELECT cap_t FROM t) * share_bp // 10000 AS cap
       |  FROM s),
       |r AS (
       |  SELECT doc_id, source,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY $h, doc_id) AS rk
       |  FROM documents)
       |SELECT doc_id, source, CAST(rk AS BIGINT) AS rank_in_source
       |FROM r JOIN caps USING (source) WHERE rk <= cap
       |ORDER BY doc_id""".stripMargin
  }

  /** Cross-snapshot corpus diff: classify every doc_id as added /
    * removed / changed / unchanged between two corpus versions by
    * comparing content digests — the audit step of a versioned corpus
    * (what actually moved between releases, and how much re-tokenizing
    * / re-embedding the delta costs downstream).
    *
    * Scale shape: each side collapses to (doc_id, digest) at scan time
    * — text never crosses the join — then one full-outer sort-merge on
    * doc_id. With both snapshots bucketed by doc_id the exchange
    * disappears entirely ([[Scale.writeBucketed]]); at 100 TB this is
    * the digest-manifest comparison pattern, and the manifests
    * themselves are reusable across diffs. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def side(df: DataFrame, digest: String) =
      df.select(col("doc_id"), md5(col("text").cast("binary")).as(digest))
    side(oldDocs, "old_digest")
      .join(side(newDocs, "new_digest"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_digest").isNull, "added")
          .when(col("new_digest").isNull, "removed")
          .when(col("old_digest") =!= col("new_digest"), "changed")
          .otherwise("unchanged"))
  }

  /** The fixture has one snapshot, so the query leg derives a second
    * one deterministically: drop doc_id % 10 == 0, edit % 10 == 1,
    * append fresh ids past the max — the oracle applies the same drift. */
  def qCorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val next = docs.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 1, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 10 === 2)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    corpusDiff(docs, next)
      .select(col("doc_id"), col("status"))
      .orderBy(col("doc_id"))
  }

  def oCorpusDiff: String =
    """WITH nxt AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 1 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 10 = 2),
      |o AS (SELECT doc_id, md5(text) AS old_digest FROM documents),
      |n AS (SELECT doc_id, md5(text) AS new_digest FROM nxt)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       WHEN o.old_digest <> n.new_digest THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Token-weighted mixture: like [[sourceMix]] but shares are over
    * TOKENS — the unit pretraining mixtures are actually specified in.
    * T = the largest token total every declared source can supply at its
    * share; each source then contributes docs in id-hash order until its
    * floor(T × share) token cap, with [[budgetSelect]]'s greedy boundary
    * rule (the doc straddling the cap is kept — `start_tok < cap`).
    * Integer arithmetic throughout → bit-exact DuckDB twin.
    *
    * Scale shape: per-source token totals are one partial-agg shuffle of
    * a #sources-row result (control plane); caps broadcast back; then a
    * per-source running sum of EVERY doc's tokens on a handful-valued
    * key — the r9 hot-group shape — riding the size-aware
    * [[Scale.groupRunningSums]] dial: plain window small, distributed
    * prefix sums past the crossover. The token projection is computed
    * once and cached across the totals pass and the selection pass. */
  def sourceMixTokens(docs: DataFrame,
      sharesBp: Map[String, Int]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val slim = docs.select(col("doc_id"), col("source"),
      TextFns.tokenCount(col("text")).as("token_count"))
    Dedup.withCached(slim) { s =>
      val totals = s.groupBy("source").agg(sum(col("token_count")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val t = sharesBp.map { case (src, bp) =>
        totals.getOrElse(src, 0L) * 10000L / bp
      }.min
      val caps = sharesBp.toSeq.map { case (src, bp) => (src, t * bp / 10000L) }
      val keyed = s.join(broadcast(caps.toDF("source", "_cap")), "source")
        .withColumn("_h", TextFns.md5u56(col("doc_id").cast("string")))
      Scale.groupRunningSums(keyed, Seq("source"),
          Seq(col("_h"), col("doc_id")), col("token_count"), "_cum")
        .withColumn("start_tok",
          (col("_cum") - col("token_count")).cast("long"))
        .filter(col("start_tok") < col("_cap"))
        .withColumnRenamed("_cap", "source_token_cap")
        .drop("_h", "_cum")
    }
  }

  def qSourceMixTokens(spark: SparkSession, dir: String): DataFrame =
    sourceMixTokens(Tables.documents(spark, dir),
        Map("src3" -> 5000, "src4" -> 3000, "src5" -> 2000))
      .select(col("doc_id"), col("source"), col("token_count"),
        col("start_tok"), col("source_token_cap"))
      .orderBy(col("doc_id"))

  def oSourceMixTokens: String = {
    val h = TextFns.md5u56Sql("CAST(doc_id AS VARCHAR)")
    s"""WITH sh(source, share_bp) AS (
       |  VALUES ('src3', 5000), ('src4', 3000), ('src5', 2000)),
       |tk AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER)
       |      AS token_count
       |  FROM documents),
       |cnt AS (SELECT source, SUM(token_count) AS n FROM tk GROUP BY source),
       |t AS (
       |  SELECT min(n * 10000 // share_bp) AS cap_t
       |  FROM cnt JOIN sh USING (source)),
       |caps AS (
       |  SELECT source, CAST((SELECT cap_t FROM t) * share_bp // 10000 AS BIGINT)
       |    AS source_token_cap
       |  FROM sh),
       |r AS (
       |  SELECT doc_id, source, token_count,
       |    CAST(SUM(token_count) OVER (PARTITION BY source ORDER BY $h, doc_id)
       |      - token_count AS BIGINT) AS start_tok
       |  FROM tk)
       |SELECT doc_id, source, token_count, start_tok, source_token_cap
       |FROM r JOIN caps USING (source) WHERE start_tok < source_token_cap
       |ORDER BY doc_id""".stripMargin
  }

  /** Select documents in descending `priority` order until a global
    * token budget is spent — the "best data first, stop at N tokens"
    * selection every budgeted training run performs. A doc is kept iff
    * the tokens BEFORE it in priority order (`start_tok`) fall under the
    * budget, so exactly one doc can straddle the boundary (same greedy
    * boundary rule as [[seqPack]]).
    *
    * The naive plan is a running sum over one global window = every row
    * sorted on a single task. This is instead a distributed prefix sum:
    * range-partition by (priority desc, doc_id), take ONE action to
    * collect per-partition token totals (control plane — `nPartitions`
    * longs), turn their running total into a broadcast per-partition
    * offset, then a per-partition window adds local running sums to the
    * offset. Max task = one range partition, any `nPartitions`; the
    * kept/cut result is identical whatever boundaries the range sampler
    * picks, because offsets are computed from actual partition totals. */
  def budgetSelect(docs: DataFrame, priority: Column, budgetTokens: Long,
      nPartitions: Int = 32): DataFrame = {
    val slim = docs
      .select(col("doc_id"), priority.as("prio"),
        TextFns.tokenCount(col("text")).as("token_count"))
      .repartitionByRange(nPartitions, col("prio").desc, col("doc_id"))
      .withColumn("_pid", spark_partition_id())
    Dedup.withCached(slim) { s =>
      val spark = docs.sparkSession
      import spark.implicits._
      val totals = s.groupBy(col("_pid")).agg(sum(col("token_count")).as("t"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      val offsets = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, t)) =>
        (pid, acc + t)
      }.tail.zip(totals).map { case ((pid, cum), (_, t)) => (pid, cum - t) }
      val w = Window.partitionBy("_pid").orderBy(col("prio").desc, col("doc_id"))
      s.join(broadcast(offsets.toSeq.toDF("_pid", "_off")), "_pid")
        .withColumn("start_tok",
          (sum(col("token_count")).over(w) - col("token_count") + col("_off"))
            .cast("long"))
        .filter(col("start_tok") < budgetTokens)
        .drop("_pid", "_off")
    }
  }

  def qBudgetSelect(spark: SparkSession, dir: String): DataFrame =
    budgetSelect(Tables.documents(spark, dir), col("n_chars"),
        budgetTokens = 12000L, nPartitions = 8)
      .select(col("doc_id"), col("prio"), col("token_count"), col("start_tok"))
      .orderBy(col("doc_id"))

  def oBudgetSelect: String =
    s"""WITH t AS (
       |  SELECT doc_id, n_chars AS prio,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER)
       |      AS token_count
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, prio, token_count,
       |    CAST(SUM(token_count) OVER (ORDER BY prio DESC, doc_id)
       |      - token_count AS BIGINT) AS start_tok
       |  FROM t)
       |SELECT doc_id, prio, token_count, start_tok
       |FROM c WHERE start_tok < 12000 ORDER BY doc_id""".stripMargin
}
