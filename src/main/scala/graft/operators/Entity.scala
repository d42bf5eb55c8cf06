package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Fuzzy entity matching: edit-distance near-pairs over an identifier
  * column (customer/vendor name reconciliation — the data-cleaning twin
  * of the document dedup family).
  *
  * Scale design: candidates come from FastSS deletion-neighborhood
  * blocking — each string keys on itself plus every single-character
  * deletion, and two strings within Levenshtein distance 1 ALWAYS share
  * a key (substitution: delete the differing position from both;
  * insert/delete: delete the extra char from the longer side). The pair
  * join therefore runs on short blocking keys, never name×name; the
  * exploded volume is (len+1) keys per row — linear — and candidates are
  * exact-verified with `levenshtein`, so blocking changes cost, never
  * results (the SimHash discipline, applied to strings). The n² brute
  * force exists only as the DuckDB oracle twin.
  */
object Entity {

  /** `{s} ∪ {s with char i removed}` — the distance-1 FastSS key set.
    * The per-char lambda runs interpreted, but over name-length arrays
    * (tens of chars) it is noise next to the join it feeds; the explode
    * itself is map-only. */
  private[graft] def deletionKeys(s: Column): Column =
    array_union(array(s), transform(sequence(lit(1), length(s)),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s) - i))))

  private def delAt(t: Column, i: Column): Column =
    concat(t.substr(lit(1), i - 1), t.substr(i + 1, length(t) - i))

  /** Deletion-2 blocking needs ~len²/2 keys per row; past this length
    * the key volume (and the collision fan-in on digit-structured ids)
    * stops beating per-block brute force — over-length rows route
    * through the brute-force leg in [[editPairs]] instead of the key
    * join (measured cost note in SCALE.md r10; ADVICE r11 closed the
    * silent-drop hole). */
  val Del2MaxLen = 64

  /** Depth-2 deletion neighborhood `{s} ∪ del¹(s) ∪ del²(s)` — the
    * FastSS key set for Levenshtein distance ≤ 2 (Bocek et al. 2007):
    * two strings within distance k always share a string reachable by
    * ≤ k deletions from each, so candidates on these keys are COMPLETE
    * for k = 2. ~len²/2 keys per row (vs len+1 at k = 1). del² is
    * generated DIRECTLY over position pairs i<j (three substrs per
    * key) rather than del¹∘del¹ — half the interpreted-lambda string
    * builds for the same set (measured 2×: this expression dominates
    * the operator, SCALE.md r10). */
  private[graft] def deletionKeys2(s: Column): Column = {
    val d1 = transform(sequence(lit(1), length(s)), i => delAt(s, i))
    val d2 = when(length(s) >= 2,
      flatten(transform(sequence(lit(1), length(s) - 1), i =>
        transform(sequence(i + 1, length(s)), j =>
          concat(s.substr(lit(1), i - 1),
            s.substr(i + 1, j - i - 1),
            s.substr(j + 1, length(s) - j))))))
      .otherwise(array().cast("array<string>"))
    array_union(array(s), array_union(d1, d2))
  }

  /** Pairs of rows whose `nameCol` values are within Levenshtein
    * distance `maxEdit` ∈ {1, 2} (ids ordered, exact distances
    * attached). Complete by the deletion-neighborhood arguments above;
    * deeper distances would need k-deletion neighborhoods — refused
    * rather than silently incomplete. Distance 2 is what real
    * reconciliation needs (two typos); its key volume grows ~len²/2, so
    * names past [[Del2MaxLen]] take the brute-force leg instead of the
    * key join — no row is ever silently dropped. */
  def editPairs(df: DataFrame, idCol: String, nameCol: String,
      maxEdit: Int = 1, blockCol: Option[String] = None): DataFrame = {
    require(maxEdit == 1 || maxEdit == 2,
      "deletion-neighborhood blocking implemented for maxEdit ∈ {1, 2}")
    // an exact-match blocking attribute rides INSIDE the join key (NUL
    // separator — it never appears in names), so cross-block candidates
    // are never generated rather than generated-then-filtered: with 25
    // nations that is ~25x less candidate volume through the
    // join+distinct+verify pipeline
    val blk = blockCol.map(b => concat(col(b).cast("string"), lit("\u0000")))
      .getOrElse(lit(""))
    val keyFn: Column => Column =
      if (maxEdit == 1) deletionKeys else deletionKeys2
    // At k=2, names past Del2MaxLen don't enter the deletion-neighborhood
    // leg (their ~len²/2 key volume stops beating brute force) — but they
    // must not silently vanish from the result (ADVICE r10: even an
    // exact duplicate of a long name would have disappeared, and short
    // oracle fixtures can't catch it). Over-length rows instead go
    // through a per-block brute-force leg below: |long| × |block| work,
    // linear in the corpus as long as over-length names are rare.
    val isLong = length(col(nameCol)) > Del2MaxLen
    val guarded = if (maxEdit == 2) df.filter(!isLong) else df
    val keyed = guarded.select(col(idCol).as("id"), col(nameCol).as("name"),
        blk.as("blk"))
      .select(col("id"), col("name"), col("blk"),
        explode(keyFn(col("name"))).as("dk"))
      // join on the 8-byte hash of the (block, deletion) key, not the
      // ~20-char string: equal keys still collide (completeness intact)
      // and a rare 64-bit collision only ADDS a candidate the exact
      // levenshtein verify removes — while the exploded join input
      // shrinks ~3x and the shuffle comparator becomes a long compare
      .select(col("id"), col("name"), xxhash64(col("blk"), col("dk")).as("k"))
    // r18: in-group i<j pair generation ([[Dedup.groupedPairs]]) from ONE
    // grouped shuffle of the keyed table replaces the cached two-leg
    // self-join — which evaluated the deletion-neighborhood expression
    // once per side before the r10 cache, and still shuffled the
    // exploded keys twice after it. Key fan-in is name-structured and
    // small (measured max 38 ids per key at sf0.1), so the per-key
    // array is bounded; pairs and the verify are unchanged.
    val fast = Dedup.groupedPairs(keyed, "k",
        struct(col("id"), col("name")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      // distinct BEFORE verify: on this workload the candidate stream
      // carries ~1.5 duplicate key-collisions per pair (1.46M → 956k at
      // sf0.1), so deduping first skips a third of the levenshtein calls
      // and measured faster than verify-first (4.56 s vs 4.91 s); flip
      // the order if key multiplicity per pair is near 1 and the
      // verified survivor set is much smaller than the candidate set
      .distinct()
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("edit_dist") <= maxEdit)
    if (maxEdit == 1) fast
    else {
      // brute-force leg for over-length rows: long × (everything in the
      // same block), exact-verified. Pairs with BOTH sides ≤ Del2MaxLen
      // are exactly the fast leg's domain, so the two legs are disjoint
      // and the union needs no dedup (long×long pairs appear twice in
      // the join — once per orientation — hence the distinct()).
      val longSide = df.filter(isLong)
        .select(col(idCol).as("lid"), col(nameCol).as("lname"), blk.as("lblk"))
      val anySide = df
        .select(col(idCol).as("rid"), col(nameCol).as("rname"), blk.as("rblk"))
      // null-safe block equality: the fast leg hashes the block INTO the
      // join key (xxhash64 folds null consistently, so two null-block
      // rows pair); a plain === here would make an over-length name with
      // a null block unpairable while an equally-null-blocked short name
      // pairs — the legs must agree on null semantics (ADVICE r11)
      val brute = longSide
        .join(anySide, col("lblk") <=> col("rblk") && col("lid") =!= col("rid"))
        .select(
          least(col("lid"), col("rid")).as("id_a"),
          greatest(col("lid"), col("rid")).as("id_b"),
          when(col("lid") < col("rid"), col("lname")).otherwise(col("rname"))
            .as("name_a"),
          when(col("lid") < col("rid"), col("rname")).otherwise(col("lname"))
            .as("name_b"))
        .distinct()
        .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("edit_dist") <= maxEdit)
      fast.unionByName(brute)
    }
  }

  def qCustomerEditPairs(spark: SparkSession, dir: String): DataFrame =
    editPairs(Tables.customer(spark, dir), "c_custkey", "c_name")
      .withColumnRenamed("id_a", "custkey_a")
      .withColumnRenamed("id_b", "custkey_b")
      .orderBy("custkey_a", "custkey_b")

  /** Brute-force twin: every pair, exact distance — blocking must
    * reproduce it exactly. */
  def oCustomerEditPairs: String =
    """SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
      |  a.c_name AS name_a, b.c_name AS name_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY custkey_a, custkey_b""".stripMargin

  /** Distance-2 reconciliation pairs over customer names,
    * nation-blocked: real reconciliation needs two typos, and the block
    * keeps digit-structured candidate fan-in entity-scoped (the
    * [[goldenRecords]] closure-collapse guard, applied at candidate
    * time). Cost note: ~len²/2 ≈ 190 keys per 19-char name (SCALE.md
    * r10 measures the volume against the k=1 path). */
  /** The benched BUILD-path gate is BOUNDED (VERDICT r13 item 4): the
    * full-size signature generation was re-proven every suite run at
    * ~10.8 s while `entity_edit2_serving` already gates the complete
    * pair set from the persisted index and the probe tier measures
    * full-size build cost across corpus tiers. Blocks are nation-local,
    * so a nation-prefix slice keeps every included block COMPLETE —
    * the gate still exercises full-density in-block candidate
    * generation, both legs of the length dispatch, and the exact
    * verify, on [[Edit2GateNations]]/25 of the rows. */
  val Edit2GateNations = 6

  def qCustomerEdit2Pairs(spark: SparkSession, dir: String): DataFrame =
    editPairs(
      Tables.customer(spark, dir)
        .filter(col("c_nationkey") < Edit2GateNations),
      "c_custkey", "c_name",
      maxEdit = 2, blockCol = Some("c_nationkey"))
      .withColumnRenamed("id_a", "custkey_a")
      .withColumnRenamed("id_b", "custkey_b")
      .orderBy("custkey_a", "custkey_b")

  /** Brute-force twin (per-block n²) over the same bounded slice:
    * deletion-2 blocking must reproduce it exactly. */
  def oCustomerEdit2PairsGate: String =
    s"""SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
      |  a.c_name AS name_a, b.c_name AS name_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |  AND a.c_nationkey = b.c_nationkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 2
      |  AND a.c_nationkey < $Edit2GateNations
      |ORDER BY custkey_a, custkey_b""".stripMargin

  /** Brute-force twin (per-block n², FULL table) — gates the serving
    * read path, which returns the complete pair set. */
  def oCustomerEdit2Pairs: String =
    """SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
      |  a.c_name AS name_a, b.c_name AS name_b,
      |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
      |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |  AND a.c_nationkey = b.c_nationkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 2
      |ORDER BY custkey_a, custkey_b""".stripMargin

  /** Golden-record consolidation — the step after matching: match pairs
    * are closed into entity clusters (transitive: A≈B and B≈C merge all
    * three even when A,C differ by 2 edits — [[graft.operators.Dedup.dupClusters]]
    * reused on the id graph), then one survivor row per entity under
    * explicit survivorship rules: identity fields from the lowest-key
    * member (deterministic "first registered wins"), account balance as
    * the exact-decimal max and sum across members.
    *
    * Matches require an exact blocking attribute (`blockCol`, e.g.
    * nation) on top of the fuzzy name rule — the practical guard
    * against closure collapse: on sequentially-numbered synthetic
    * names, unblocked edit-1 chains transitively merge the entire
    * table into one entity (measured: 1 cluster at sf0.01); with the
    * block, clusters stay entity-sized (max 17).
    *
    * Scale shape: the pair graph is candidate-generated (deletion-1
    * blocking), clustering touches only MATCHED ids (a small fraction of
    * any real corpus), and the final merge is one hash aggregate over
    * the full table after a left join against the broadcast-sized
    * cluster map. Singletons never enter the fixpoint. */
  /** Per-block connected components via in-executor union–find: when an
    * exact blocking attribute provably CONTAINS every component (matches
    * require equal blocks, so no edge crosses blocks), distributed
    * fixpoint clustering is the wrong tool — the digit-structured match
    * chains here have diameter ~100, and even pointer-jumping fixpoints
    * paid 15+ driver-scheduled rounds (measured 10.2 s at sf0.1, and
    * the per-round self-joins square the carried sizeInBytes statistic
    * until stats arithmetic itself dominates). One shuffle on the block
    * key + a linear union–find per block replaces the whole loop
    * (measured ~0.4 s). Per-block edge lists must fit one executor —
    * guaranteed when blocks are entity-scoped (a nation's match graph,
    * a domain's near-dup set), guarded by `maxBlockEdges`; for
    * block-free graphs use [[graft.operators.Dedup.dupClusters]]. */
  def blockComponents(pairs: DataFrame, maxBlockEdges: Int = 5000000): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(col("blk").cast("string"), col("doc_a").cast("long"),
        col("doc_b").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (blk, it) =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        var n = 0
        it.foreach { case (_, a, b) =>
          n += 1
          require(n <= maxBlockEdges,
            s"block $blk exceeds $maxBlockEdges edges — not entity-scoped; use dupClusters")
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // union by MIN id so the representative IS the cluster id
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        parent.keysIterator.map(v => (v, find(v))).toSeq
      }
      .toDF("doc_id", "cluster_id")
  }

  def goldenRecords(df: DataFrame, idCol: String, nameCol: String,
      balCol: String, blockCol: String): DataFrame = {
    val blocks = df.select(col(idCol).as("id_a"), col(blockCol).as("blk"))
    val pairs = editPairs(df, idCol, nameCol, blockCol = Some(blockCol))
      .join(blocks, Seq("id_a"))
      .select(col("blk"), col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val clusters = blockComponents(pairs)
    df.join(clusters, df(idCol) === clusters("doc_id"), "left")
      .withColumn("entity_id", coalesce(col("cluster_id"), col(idCol)))
      .groupBy(col("entity_id"))
      .agg(
        count(lit(1)).as("n_members"),
        min(col(idCol)).as("min_key"),
        max(col(idCol)).as("max_key"),
        min_by(col(nameCol), col(idCol)).as("golden_name"),
        // the fixture stores balances as DOUBLE; decimal intermediates
        // keep the merge sums exact, then one cast back to DOUBLE at the
        // edge (the Tpch.scala discipline — a >18-precision DECIMAL final
        // column writes as parquet FLBA and breaks the driver's hasher,
        // the one red gate of round 8)
        max(col(balCol).cast("decimal(15,2)")).cast("double").as("max_acctbal"),
        sum(col(balCol).cast("decimal(15,2)")).cast("double").as("total_acctbal"))
  }

  def qGoldenRecords(spark: SparkSession, dir: String): DataFrame =
    goldenRecords(Tables.customer(spark, dir), "c_custkey", "c_name",
      "c_acctbal", "c_nationkey")
      .orderBy(col("entity_id"))

  /** Twin: n² match pairs → recursive-CTE closure (cluster id = min
    * reachable key, the oDedupClusters idiom) → the same survivorship
    * aggregate. */
  def oGoldenRecords: String =
    """WITH RECURSIVE p AS (
      |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      |  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      |    AND a.c_nationkey = b.c_nationkey
      |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM p
      |  UNION SELECT id_b, id_a FROM p),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |cl AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      |  FROM reach GROUP BY src)
      |SELECT COALESCE(cl.cluster_id, c.c_custkey) AS entity_id,
      |  count(*) AS n_members,
      |  min(c.c_custkey) AS min_key,
      |  max(c.c_custkey) AS max_key,
      |  min_by(c.c_name, c.c_custkey) AS golden_name,
      |  CAST(max(CAST(c.c_acctbal AS DECIMAL(15,2))) AS DOUBLE) AS max_acctbal,
      |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(15,2))) AS DOUBLE) AS total_acctbal
      |FROM customer c LEFT JOIN cl ON c.c_custkey = cl.doc_id
      |GROUP BY entity_id
      |ORDER BY entity_id""".stripMargin

  // ------------------------ persisted signature layout (VERDICT r12 #5)

  private def blkOf(blockCol: Option[String]): Column =
    blockCol.map(b => concat(col(b).cast("string"), lit("\u0000")))
      .getOrElse(lit(""))

  /** Persist the FastSS-2 signature index for `df` at `path`: the
    * suite's heaviest query (`entity_edit2_pairs`, 11–14 s in-suite)
    * spends its time generating ~len²/2 deletion-neighborhood keys per
    * row — work that is a pure function of the ROW and therefore
    * belongs in a build-once artifact, not in every match run. Two
    * sub-layouts: `/keys` = (k, id, name) postings (k = the same
    * xxhash64(block, deletion-key) 8-byte surrogate the inline join
    * uses — content-derived, so independently-appended batches produce
    * identical keys with no global coordination), clustered by k at
    * write so the self-join's shuffle reads key-local runs; `/long` =
    * (id, name, blk) over-length rows for the brute-force leg.
    * Append maintenance ([[appendEdit2Index]]) writes ONLY the new
    * batch's keys — work ∝ batch, the [[Pq.appendCodes]] discipline
    * (measured: SCALE.md r13). */
  def writeEdit2Index(df: DataFrame, idCol: String, nameCol: String,
      blockCol: Option[String], path: String, append: Boolean = false): Unit = {
    val mode = if (append) "append" else "overwrite"
    val isLong = length(col(nameCol)) > Del2MaxLen
    df.filter(!isLong)
      .select(col(idCol).as("id"), col(nameCol).as("name"),
        blkOf(blockCol).as("blk"))
      .select(col("id"), col("name"),
        explode(deletionKeys2(col("name"))).as("dk"), col("blk"))
      .select(col("id"), col("name"), xxhash64(col("blk"), col("dk")).as("k"))
      .repartition(col("k")).sortWithinPartitions(col("k"), col("id"))
      .write.mode(mode).parquet(path + "/keys")
    df.filter(isLong)
      .select(col(idCol).as("id"), col(nameCol).as("name"),
        blkOf(blockCol).as("blk"))
      .write.mode(mode).parquet(path + "/long")
  }

  /** Incremental maintenance: index ONLY the new batch (key generation
    * is per-row, so cost ∝ batch; the appended files join the layout —
    * candidate completeness holds because equal (block, deletion-key)
    * pairs hash equal regardless of which batch wrote them). */
  def appendEdit2Index(batch: DataFrame, idCol: String, nameCol: String,
      blockCol: Option[String], path: String): Unit =
    writeEdit2Index(batch, idCol, nameCol, blockCol, path, append = true)

  /** Distance-≤2 pairs served from a persisted signature index: the
    * fast leg self-joins the postings (no deletion-neighborhood
    * expression anywhere in the plan — the build paid it once); the
    * brute leg pairs the persisted over-length rows against the live
    * table. Same keys ⇒ same candidates ⇒ same verified pairs as
    * [[editPairs]] at maxEdit = 2 (spec-pinned; shares the brute-force
    * twin). */
  def edit2PairsFromIndex(spark: SparkSession, path: String, df: DataFrame,
      idCol: String, nameCol: String, blockCol: Option[String]): DataFrame = {
    val keyed = spark.read.parquet(path + "/keys")
    val fast = keyed.as("a").join(keyed.as("b"), Seq("k"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      .distinct()
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("edit_dist") <= 2)
    val longSide = spark.read.parquet(path + "/long")
      .select(col("id").as("lid"), col("name").as("lname"),
        col("blk").as("lblk"))
    val anySide = df.select(col(idCol).as("rid"), col(nameCol).as("rname"),
      blkOf(blockCol).as("rblk"))
    val brute = longSide
      .join(anySide, col("lblk") <=> col("rblk") && col("lid") =!= col("rid"))
      .select(
        least(col("lid"), col("rid")).as("id_a"),
        greatest(col("lid"), col("rid")).as("id_b"),
        when(col("lid") < col("rid"), col("lname")).otherwise(col("rname"))
          .as("name_a"),
        when(col("lid") < col("rid"), col("rname")).otherwise(col("lname"))
          .as("name_b"))
      .distinct()
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("edit_dist") <= 2)
    fast.unionByName(brute)
  }

  private def edit2IndexFor(spark: SparkSession, dir: String): String =
    graft.Serving.buildOnce("entity_edit2_index", dir) { path =>
      writeEdit2Index(Tables.customer(spark, dir), "c_custkey", "c_name",
        Some("c_nationkey"), path)
    }

  /** [[qCustomerEdit2Pairs]] served from the persisted signature index
    * — the build path stays gated as `entity_edit2_pairs`; this row
    * gates the serving read path against the SAME brute-force twin. */
  def qCustomerEdit2PairsServing(spark: SparkSession, dir: String): DataFrame =
    edit2PairsFromIndex(spark, edit2IndexFor(spark, dir),
      Tables.customer(spark, dir), "c_custkey", "c_name",
      Some("c_nationkey"))
      .withColumnRenamed("id_a", "custkey_a")
      .withColumnRenamed("id_b", "custkey_b")
      .orderBy("custkey_a", "custkey_b")

  // --------------------------------------- Jaro–Winkler fuzzy matching

  /** Match threshold in micro-units (0.90); comparisons run on
    * floor(jw·10⁶) BIGINTs in both engines, so a 1-ulp double
    * divergence could only matter exactly ON the 10⁻⁶ grid — and the
    * kernel is op-order-identical to DuckDB anyway. */
  val JwThresholdMicro = 900000L

  /** Pairs within an exact block whose names score ≥ threshold under
    * Jaro–Winkler — the scorer for name variants edit distance
    * misranks (transposed words, shared prefixes). Scoring itself is
    * the native [[graft.plans.JaroWinkler]] kernel inside whole-stage
    * codegen.
    *
    * Two-level structure, because jw is a pure function of the VALUE
    * pair, not the row pair: (1) score each block's DISTINCT name pairs
    * — work bounded by per-block vocabulary², which real catalogs keep
    * orders below row² (this fixture: 64 distinct names across 20k
    * rows — scoring row pairs directly was measured 11× slower at
    * sf0.1, 10.1 vs 0.9 s, purely on the 8M-row pair-stream volume);
    * (2) expand qualifying name pairs
    * back to id pairs with two hash joins, work ∝ output. Blocks are
    * entity-scoped (the [[goldenRecords]] closure-collapse guard), so
    * per-block vocabulary stays bounded as the corpus grows by adding
    * blocks; an all-unique-names corpus degrades exactly to the row-pair
    * join plus one distinct.
    *
    * Before any O(l²) matching, two integer implications prune name
    * pairs that cannot reach θ, both evaluated inside the codegen'd
    * [[graft.plans.JwHistCandidate]] on the histogram headers' UTF-16
    * unit lengths (the matcher's own measure): (a) the LENGTH bound —
    * jw ≥ θ forces jaro ≥ (θ−0.4)/0.6 (boost adds ≤ 0.4·(1−j)) and
    * jaro ≤ (2 + lmin/lmax)/3 (m ≤ lmin), so lmin/lmax ≥ 5θ−4, at
    * θ = 0.9 exactly 2·lmin ≥ lmax; (b) the MATCH-COUNT bound — Jaro
    * matches pair chars injectively, so m ≤ Σ min(histA, histB)
    * (passes 5.4% of this fixture's name pairs). Both are implications:
    * they change cost, never results. */
  def jaroWinklerPairs(df: DataFrame, idCol: String, nameCol: String,
      blockCol: String, thresholdMicro: Long = JwThresholdMicro): DataFrame = {
    val t = df.select(col(idCol).as("id"), col(nameCol).as("name"),
      col(blockCol).as("blk"))
    // level 1: distinct (block, name), histogram computed once per NAME
    val names = t.select(col("blk"), col("name")).distinct()
      .select(col("blk"), col("name"),
        graft.plans.JaroWinkler.jwHist(col("name")).as("h"))
    // unordered name pairs INCLUDING the diagonal (equal names pair ids
    // within a group; jw = 1 ≥ θ always, but keep it uniform). Both
    // integer implications — the 5θ−4 length-ratio bound and the
    // match-count histogram bound — run INSIDE jwHistCandidate on the
    // hist headers' UTF-16 unit lengths, the matcher's own measure (a
    // Spark length() conjunct here counted CODEPOINTS and could drop a
    // qualifying non-BMP pair)
    val scored = names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") <= col("b.name")
          && graft.plans.JaroWinkler.jwHistCandidate(
               col("a.h"), col("b.h"), thresholdMicro))
      .withColumn("jw_micro",
        floor(graft.plans.JaroWinkler.jaroWinkler(
          col("a.name"), col("b.name")) * 1000000d).cast("long"))
      .filter(col("jw_micro") >= thresholdMicro)
      .select(col("a.blk").as("blk"), col("a.name").as("na"),
        col("b.name").as("nb"), col("jw_micro"))
    // level 2: expand to id pairs — each unordered id pair materializes
    // exactly once (cross-name pairs once per (na < nb); same-name via
    // ia < ib), then orient by id
    val ta = t.select(col("blk"), col("name").as("na"), col("id").as("ia"))
    val tb = t.select(col("blk"), col("name").as("nb"), col("id").as("ib"))
    scored.join(ta, Seq("blk", "na")).join(tb, Seq("blk", "nb"))
      .filter(col("na") =!= col("nb") || col("ia") < col("ib"))
      .select(
        least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        when(col("ia") < col("ib"), col("na")).otherwise(col("nb")).as("name_a"),
        when(col("ia") < col("ib"), col("nb")).otherwise(col("na")).as("name_b"),
        col("jw_micro"))
  }

  /** Brand-blocked part-name variants: the catalog-reconciliation
    * query (same SKU family, renamed). */
  def qPartJaroWinkler(spark: SparkSession, dir: String): DataFrame =
    jaroWinklerPairs(Tables.part(spark, dir), "p_partkey", "p_name", "p_brand")
      .withColumnRenamed("id_a", "partkey_a")
      .withColumnRenamed("id_b", "partkey_b")
      .orderBy("partkey_a", "partkey_b")

  /** Brute-force twin: per-block n² with DuckDB's own
    * jaro_winkler_similarity — the blocking + length bound must
    * reproduce it exactly (quantized to the same micro grid). */
  def oPartJaroWinkler: String =
    s"""SELECT a.p_partkey AS partkey_a, b.p_partkey AS partkey_b,
       |  a.p_name AS name_a, b.p_name AS name_b,
       |  CAST(floor(jaro_winkler_similarity(a.p_name, b.p_name) * 1000000) AS BIGINT)
       |    AS jw_micro
       |FROM part a JOIN part b
       |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
       |WHERE floor(jaro_winkler_similarity(a.p_name, b.p_name) * 1000000)
       |      >= $JwThresholdMicro
       |ORDER BY partkey_a, partkey_b""".stripMargin
}
