package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming semantics for the event stream (SURVEY §2.9):
  * watermarked tumbling windows, streaming dedup, and custom session
  * state via flatMapGroupsWithState. The reference's calendar-column
  * groupBys are 1-hour/1-day tumbling windows in disguise — both forms
  * are provided.
  */
object StreamingOps {

  /** Tumbling 1-hour aggregate with a 2-hour watermark: the streaming
    * form of Silver.hourlyAgg. Late rows beyond the watermark are
    * dropped instead of re-merged by full reprocessing. */
  def hourlyAggStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("record_count"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Streaming key dedup within the watermark horizon — replay-safe
    * Bronze→Silver (SURVEY §2.9 watermark row). */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "ts")

  /** Stream-stream interval join: same-user follow-up events within
    * `gapSecs`. The streaming twin of Ranged.rangeJoinBinned: watermarks
    * on BOTH sides plus the two-sided time condition let Spark bound the
    * join state to the watermark + gap horizon and evict older rows —
    * state is O(events per horizon), independent of stream length. */
  def followupsStream(a: DataFrame, b: DataFrame,
      gapSecs: Long = 1800L): DataFrame = {
    val l = a.select(col("event_id").as("event_a"),
        col("user_id").as("user_a"), col("ts").as("ts_a"))
      .withWatermark("ts_a", "2 hours")
    val r = b.select(col("event_id").as("event_b"),
        col("user_id").as("user_b"), col("ts").as("ts_b"))
      .withWatermark("ts_b", "2 hours")
    l.join(r, expr(
        s"user_a = user_b AND ts_b > ts_a AND ts_b <= ts_a + interval $gapSecs seconds"))
      .select(col("event_a"), col("event_b"),
        (unix_micros(col("ts_b")) - unix_micros(col("ts_a"))).as("gap_micros"))
  }

  /** Left-outer variant: an event with no follow-up is emitted with a
    * null `event_b` — but only once the watermark passes its ts + gap,
    * i.e. when no qualifying right row can still arrive. The null-side
    * emission is the part batch jobs get for free and streaming has to
    * earn from state eviction. */
  def followupsStreamOuter(a: DataFrame, b: DataFrame,
      gapSecs: Long = 1800L): DataFrame = {
    val l = a.select(col("event_id").as("event_a"),
        col("user_id").as("user_a"), col("ts").as("ts_a"))
      .withWatermark("ts_a", "2 hours")
    val r = b.select(col("event_id").as("event_b"),
        col("user_id").as("user_b"), col("ts").as("ts_b"))
      .withWatermark("ts_b", "2 hours")
    l.join(r, expr(
        s"user_a = user_b AND ts_b > ts_a AND ts_b <= ts_a + interval $gapSecs seconds"),
        "leftOuter")
      .select(col("event_a"), col("event_b"),
        (unix_micros(col("ts_b")) - unix_micros(col("ts_a"))).as("gap_micros"))
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  /** start/end in MICROseconds — Timestamp.getTime alone would truncate
    * the fixture's microsecond precision and desync from the batch twin. */
  case class SessionState(start: Long, end: Long, count: Int)
  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, events: Int)

  private def toMicros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
  private def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Gap-based sessionization: emits a session whenever a user's stream
    * goes quiet for `gapMinutes` (event-time timeout keyed state). */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, fromMicros(s.start), fromMicros(s.end), s.count))
          } else {
            val sorted = rows.toSeq.sortBy(e => toMicros(e.ts))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(s.copy(end = math.max(s.end, t), count = s.count + 1))
                case Some(s) =>
                  closed ::= Session(userId, fromMicros(s.start), fromMicros(s.end), s.count)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.end + gapUs) / 1000L)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-static enrichment join: each micro-batch joins against a
    * static dimension frame. Spark re-plans the static side per batch
    * (so a broadcast hint keeps every batch a broadcast-hash join, no
    * stream-side shuffle), and the join is stateless — no watermark or
    * state store involved, unlike stream-stream joins. The canonical
    * "enrich events with a dimension table" shape at any scale. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Streaming as-of enrichment: each micro-batch of events is
    * point-in-time joined ([[graft.operators.AsOf.asofJoin]] — most
    * recent right row ≤ the event time) against a SETTLED right side,
    * inside foreachBatch. The as-of's union-ordering window is a
    * multi-pass shape append mode can't plan as one continuous query
    * (the [[dedupGateStream]] discipline), and the semantics a feature
    * pipeline wants here are "state as of the settled table", not a
    * watermark race — the right side's refresh cadence, not this
    * operator, sets the enrichment horizon (the same horizon contract
    * as dedupGateStream's corpus).
    *
    * Per-batch cost tracks the BATCH, not the right table: the right
    * side is first semi-joined down to the batch's keys (cdcApply's
    * restriction discipline), so a 100-row micro-batch unions with its
    * own customers' order history, never the full 100 TB table. The
    * checkpoint makes replays re-deliver the same batch to an
    * idempotent consumer rather than double-enrich. */
  def asofStream(events: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightValueCols: Seq[String],
      checkpoint: String)(
      onBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val keys = batch.select(col(key)).distinct()
        val restricted = right.join(keys, Seq(key), "left_semi")
        onBatch(graft.operators.AsOf.asofJoin(batch, restricted, key,
          leftTs, rightTs, rightValueCols), batchId)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming → Gold over JDBC with exactly-once effect: foreachBatch
    * runs the idempotent anti-join append per micro-batch, so replays
    * (same batch re-delivered after a crash) insert nothing twice. This
    * is the streaming form of the reference's Gold load (S9) — the
    * unique-index-error hack replaced by keyed idempotence. */
  def streamToGold(cleaned: DataFrame, url: String, table: String,
      keys: Seq[String],
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    cleaned.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.JdbcSink.idempotentAppend(
          batch.sparkSession, batch, url, table, keys)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming admission gate for the curation family: each micro-batch
    * of incoming documents is classified against a STATIC settled corpus
    * (exact_dup / near_dup / kept) by running
    * [[graft.operators.IncrementalDedup.incrementalDedup]] inside
    * foreachBatch. The gate's per-side groupBy band signatures plus the
    * candidate-verification re-joins are a multi-aggregation shape
    * streaming append mode can't plan as one continuous query — the same
    * reason [[streamToGold]] uses foreachBatch. The checkpoint makes
    * replays re-deliver the same batch to an idempotent consumer rather
    * than double-classify.
    *
    * Horizon semantics (deliberate): the corpus index is static WITHIN
    * the stream — the daily-settled shape incrementalDedup documents.
    * Docs admitted by batch N are not visible to batch N+1 until the
    * corpus table is refreshed out-of-band; the refresh cadence, not
    * this operator, sets the dedup horizon. (In-stream self-dedup is
    * [[dedupStream]]'s watermarked job.) */
  def dedupGateStream(docs: DataFrame, corpus: DataFrame, checkpoint: String,
      threshold: Double = 0.8)(
      onBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(graft.operators.IncrementalDedup
          .incrementalDedup(corpus, batch, threshold), batchId)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming CDC apply: fold an event changelog into a versioned
    * current-state parquet table, one [[graft.operators.Cdc.cdcApply]]
    * merge per micro-batch. Each batch writes a NEW version directory
    * and then swaps the `LATEST` pointer file — readers always see a
    * complete snapshot (the Bronze sink-log swap discipline). Versions
    * increment from the pointer, never from the batch id (batch ids
    * reset across runs; a version named after one could collide with
    * the very directory the lazy merge is reading). Replay safety needs
    * no write-side dedup because re-merging an already-applied batch is
    * CONTENT-idempotent: per key the snapshot row is that batch's
    * winner or later, so it wins the re-merge (or ties with the
    * identical original row), and a tombstone-latest key stays absent.
    * Merge cost per batch tracks the batch (cdcApply's semi-join
    * restriction), so the stream's steady-state cost is independent of
    * accumulated state size — the lakehouse MERGE INTO loop without a
    * table format. */
  def cdcApplyStream(changes: DataFrame, stateDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val ptr = java.nio.file.Paths.get(stateDir, "LATEST")
        val cur =
          if (java.nio.file.Files.exists(ptr))
            Some(java.nio.file.Files.readString(ptr).trim)
          else None
        val snapshot = cur.map(v => spark.read.parquet(s"$stateDir/$v"))
          .getOrElse( // empty state with the exact output schema
            graft.operators.Cdc.cdcBuild(
              graft.operators.Cdc.asChangelog(batch.limit(0))))
        val merged = graft.operators.Cdc.cdcApply(snapshot, batch)
        val v = "v" + (cur.map(_.drop(1).toLong + 1).getOrElse(0L))
        merged.write.mode("overwrite").parquet(s"$stateDir/$v")
        cdcWritePointer(stateDir, v)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Atomic LATEST-pointer swap for a versioned state dir (ADVICE r13):
    * a bare truncate-then-write has a crash window that leaves an
    * empty/torn pointer every reader then fails on. The new value is
    * staged beside LATEST and renamed over it ([[graft.Swap.replaceFile]],
    * the one crash-safe replace), so a reader resolves either the old or
    * the new version, never a torn one. */
  def cdcWritePointer(stateDir: String, version: String): Unit =
    graft.Swap.replaceFile(java.nio.file.Paths.get(stateDir, "LATEST")) {
      java.nio.file.Files.writeString(_, version)
    }

  /** Read the state table a [[cdcApplyStream]] maintains. */
  def cdcCurrentState(spark: SparkSession, stateDir: String): DataFrame = {
    val v = java.nio.file.Files
      .readString(java.nio.file.Paths.get(stateDir, "LATEST")).trim
    spark.read.parquet(s"$stateDir/$v")
  }

  /** Version retention for [[cdcApplyStream]]'s state directory: every
    * batch writes a NEW version (that's what makes the swap reader-safe
    * and replay content-idempotent), so versions accumulate forever
    * without a sweep — the lakehouse VACUUM in miniature. Keeps the
    * newest `keep` versions (the LATEST target always survives:
    * versions are monotone, LATEST is the max), deletes the directories
    * of everything older, returns the dropped version names. Readers of
    * retained versions are untouched; `keep ≥ 2` leaves one rollback
    * step. Dropped trees go through [[graft.Swap.deleteTree]], the swap
    * protocol's own delete. Driver-side directory walk — version count,
    * not data size. */
  def cdcRetainVersions(stateDir: String, keep: Int): Seq[String] = {
    require(keep >= 1, "must keep at least the LATEST version")
    val root = java.nio.file.Paths.get(stateDir)
    val s = java.nio.file.Files.list(root)
    val versions =
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.matches("v\\d+"))
        .sortBy(_.getFileName.toString.drop(1).toLong)
      finally s.close()
    val drop = versions.dropRight(keep)
    drop.foreach(graft.Swap.deleteTree)
    drop.map(_.getFileName.toString).toSeq
  }

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long)

  /** Streaming debounce — the arrival-order twin of
    * [[graft.operators.Temporal.debounce]]: per key, admit an event only
    * if ≥ `deltaSeconds` after the last ADMITTED event, with the last-
    * admitted micros as the only state (one long per key, no timeout —
    * the quota-admission state discipline). Within a micro-batch events
    * sort by (ts, event_id) so intra-batch order is deterministic;
    * across batches the chain carries through GroupState, so a burst
    * split across batch boundaries still collapses to one admit. */
  def debounceStream(events: Dataset[Ev],
      deltaSeconds: Long): Dataset[Ev] = {
    val spark = events.sparkSession
    import spark.implicits._
    val deltaMicros = deltaSeconds * 1000000L
    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[Ev], state: GroupState[Long]) => {
          var lastKept = state.getOption.getOrElse(Long.MinValue / 2)
          val kept = it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).filter { e =>
            val t = micros(e.ts)
            if (t >= lastKept + deltaMicros) { lastKept = t; true } else false
          }
          state.update(lastKept)
          kept.iterator
        })
  }

  case class TEv(user_id: Long, ts: Timestamp, event_id: Long, event_type: String)
  case class Attributed(user_id: Long, event_id: Long, attributed_type: String)

  /** Streaming last-touch attribution — the live twin of
    * [[graft.operators.Attribution.lastTouch]]: per user, the state is
    * just (last touch type, last touch micros) — two values regardless
    * of throughput — and every purchase is attributed THE MOMENT it
    * arrives, against the touch state accumulated so far. Same arrival-
    * order contract as [[debounceStream]]: batches arrive in event-time
    * order; within a batch, rows sort by (ts, purchase-after-touch,
    * event_id), so a same-instant touch is visible to its purchase even
    * when both land in one micro-batch. */
  def attributionStream(events: Dataset[TEv],
      windowDays: Int = graft.operators.Attribution.WindowDays): Dataset[Attributed] = {
    import events.sparkSession.implicits._
    val horizon = windowDays.toLong * 86400L * 1000000L
    val touchTypes = graft.operators.Attribution.TouchTypes.toSet
    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(String, Long), Attributed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[TEv], state: GroupState[(String, Long)]) =>
          var (lt, lts) = state.getOption.getOrElse(("", Long.MinValue / 2))
          val out = scala.collection.mutable.ArrayBuffer.empty[Attributed]
          rows.toSeq
            .sortBy(e => (micros(e.ts), if (touchTypes(e.event_type)) 0 else 1,
              e.event_id))
            .foreach { e =>
              if (touchTypes(e.event_type)) { lt = e.event_type; lts = micros(e.ts) }
              else if (e.event_type == "purchase") {
                val a = if (lt.nonEmpty && micros(e.ts) - lts <= horizon) lt
                        else "none"
                out += Attributed(user, e.event_id, a)
              }
            }
          state.update((lt, lts))
          out.iterator
      }
  }

  case class Doc(doc_id: Long, source: String)
  case class Admitted(doc_id: Long, source: String, rank_in_source: Int)

  /** Streaming per-source quota admission — the arrival-order twin of
    * [[graft.operators.Curation.sourceCap]]: admit each source's first
    * `cap` documents across micro-batches, then drop the rest forever.
    * State is ONE counter per source with no timeout (a quota is
    * permanent) — the smallest possible streaming state, so quota state
    * at 100 TB is #sources longs regardless of throughput. Within a
    * batch, docs are processed in doc_id order, so shuffle partitioning
    * inside the batch cannot reorder admission; across batches, arrival
    * order IS the rank, and each admitted doc carries it. */
  def quotaAdmitStream(docs: Dataset[Doc], cap: Int): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Long, Admitted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[Doc], state: GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val room = math.max(0L, cap - admitted).toInt
          val take = rows.toSeq.sortBy(_.doc_id).take(room)
          state.update(admitted + take.size)
          take.iterator.zipWithIndex.map { case (d, i) =>
            Admitted(d.doc_id, d.source, (admitted + i + 1).toInt)
          }
      }
  }

  case class HashedDoc(doc_id: Long, source: String, h: Long)
  case class SampleSnapshot(source: String, version: Long, members: Seq[Long])

  /** Streaming uniform sample — the arrival-order twin of
    * [[graft.operators.Sampling.exactKPerGroup]]: per source, keep the k
    * docs with the SMALLEST md5-derived hashes seen so far (bottom-k by
    * hash IS a uniform sample, and it is mergeable: min-k of a union =
    * min-k of min-ks — the KMV property, reused for sampling instead of
    * distinct-counting). A reservoir sample would need randomness and
    * arrival-order dependence; bottom-k is deterministic and
    * order-INDEPENDENT, so the final streaming state equals the batch
    * sample no matter how micro-batches slice the corpus (spec-pinned).
    * State per source is exactly k (hash, id) pairs — bounded forever;
    * each batch emits the group's current snapshot with a version so a
    * consumer (or the spec) takes the latest. */
  def bottomKSampleStream(docs: Dataset[HashedDoc],
      k: Int): Dataset[SampleSnapshot] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[(Long, Seq[(Long, Long)]), SampleSnapshot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[HashedDoc],
            state: GroupState[(Long, Seq[(Long, Long)])]) =>
          val (version, prev) = state.getOption.getOrElse((0L, Seq.empty))
          val merged = (prev ++ rows.map(d => (d.h, d.doc_id)))
            .distinct.sorted.take(k)
          state.update((version + 1, merged))
          Iterator.single(SampleSnapshot(source, version + 1,
            merged.map(_._2)))
      }
  }

  /** Batch twin of sessionize (same semantics via window functions) — the
    * correctness oracle for the stateful operator and the backfill path. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val gapMs = gapMinutes * 60000L
    val gapSecs = gapMinutes * 60.0
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        (col("prev_ts").isNull
          || (col("ts").cast("double") - col("prev_ts").cast("double")) > gapSecs)
          .cast("int"))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).cast("int").as("events"))
      .drop("session_id")
  }

  case class HourCount(event_type: String, h: Timestamp, x: Long)
  case class CusumOut(event_type: String, h: Timestamp, n_events: Long,
    cusum_d: Long, alarm: Boolean)

  /** Streaming form of [[graft.operators.Cusum]]: the same integer
    * recurrence D ← max(0, D + 10n·x − 11Σx) applied to hourly counts
    * AS THEY ARRIVE, with the reference parameters (n, Σx per series)
    * supplied from a CALIBRATION period — which is how a live CUSUM is
    * actually deployed: the batch operator derives its reference from
    * the full series because it HAS the full series; a monitor watching
    * the stream cannot, so the reference is trained offline and the
    * detector carries ONE long of state per series across micro-batches.
    * Within a batch, rows are processed in hour order so shuffle
    * partitioning cannot reorder the recurrence; fed the dense hourly
    * series with batch-matching calibration, the output is bit-equal to
    * the batch operator (spec-pinned). */
  def cusumStream(counts: Dataset[HourCount],
      calib: Map[String, (Long, Long)]): Dataset[CusumOut] = {
    import counts.sparkSession.implicits._
    counts.groupByKey(_.event_type)
      .flatMapGroupsWithState[Long, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (t: String, rows: Iterator[HourCount], state: GroupState[Long]) =>
          val (n, sx) = calib(t)
          var d = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.h.getTime).map { r =>
            d = math.max(0L, d + 10 * n * r.x - 11 * sx)
            CusumOut(t, r.h, r.x, d, d > 50 * sx)
          }
          state.update(d)
          out.iterator
      }
  }

  case class DayCount(event_type: String, d: java.sql.Date, c: Long)
  case class EwmaOut(event_type: String, d: java.sql.Date, c: Long,
    ewma_milli: Option[Long], spike: Option[Int])

  /** Streaming form of [[graft.operators.Ewma.qEwmaDaily]]: the same
    * exact integer lag polynomial applied to daily counts AS THEY
    * ARRIVE. Where the batch form reads the whole series through a lag
    * window, the monitor carries the last Terms−1 counts per series
    * (newest first) across micro-batches — Terms−1 longs of state per
    * key REGARDLESS of history length, the bounded-state property that
    * makes a per-entity baseline feasible on an unbounded stream.
    * Within a batch rows are processed in day order so shuffle
    * partitioning cannot reorder the recurrence; ACROSS batches the
    * state carries the newest processed day and DROPS any row at or
    * before it (ADVICE r14: a day arriving out of order across
    * micro-batches would otherwise be folded into the recurrence as if
    * it were newest, corrupting every later baseline for the key — the
    * documented in-order contract is now machine-enforced; dropped
    * days surface in the day-count reconciliation a monitor keeps, the
    * same place watermark-dropped rows do). Fed the same daily series,
    * the output is bit-equal to the batch operator (spec-pinned),
    * including the NULL-until-filled lookback head.
    *
    * STATE-SCHEMA VERSIONING (r15 break, r16 ADVICE closed in r17):
    * the per-key state is `(version, lastDay, recent)`. Spark's
    * state-schema compatibility checker catches SHAPE changes on
    * restore; the explicit version tag catches SEMANTIC changes the
    * schema cannot see (same column types, new meaning — exactly the
    * r15 `Seq[Long]` → in-order-guard widening class of break, had it
    * kept the shape), and [[ewmaFold]]'s decode shim turns either into
    * a loud, named failure instead of a misdecoded recurrence.
    * Restarting across a version bump requires a FRESH checkpoint
    * directory plus a replay from the source's retained offsets (the
    * standard stateful-upgrade path). */
  def ewmaStream(counts: Dataset[DayCount]): Dataset[EwmaOut] = {
    import counts.sparkSession.implicits._
    counts.groupByKey(_.event_type)
      .flatMapGroupsWithState[(Int, Long, Seq[Long]), EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(ewmaFold)
  }

  /** Current [[ewmaStream]] state-tuple version. Bump on ANY change to
    * the tuple's shape OR meaning. */
  val EwmaStateVersion = 2

  /** The per-key fold behind [[ewmaStream]], named so the upgrade path
    * is spec-testable through `TestGroupState`. */
  private[graft] def ewmaFold(t: String, rows: Iterator[DayCount],
      state: GroupState[(Int, Long, Seq[Long])]): Iterator[EwmaOut] = {
    import graft.operators.Ewma
    var (v, lastDay, recent) = state.getOption
      .getOrElse((EwmaStateVersion, Long.MinValue, Seq.empty[Long]))
    if (v != EwmaStateVersion)
      throw new IllegalStateException(
        s"ewmaStream state decoded as version $v but this build writes " +
          s"version $EwmaStateVersion — the checkpoint predates a state " +
          "upgrade; restart with a fresh checkpoint directory and replay " +
          "from the source's retained offsets")
    // the guard compares against the RUNNING lastDay, not the
    // pre-batch snapshot: a duplicate day arriving in the SAME
    // micro-batch must drop exactly like one arriving a batch
    // later — results must not depend on batch boundaries
    // (review r15 finding)
    val out = rows.toSeq.sortBy(_.d.getTime)
      .flatMap { r =>
        if (r.d.getTime <= lastDay) None
        else {
          val res =
            if (recent.length == Ewma.Terms - 1) {
              val wsum = r.c * Ewma.weight(0) + recent.zipWithIndex.map {
                case (c, i) => c * Ewma.weight(i + 1) }.sum
              // wsum ≥ 0 so / is the batch form's floor div
              EwmaOut(t, r.d, r.c, Some(wsum * 1000 / Ewma.WeightSum),
                Some(if (r.c * Ewma.WeightSum > Ewma.SpikeNum * wsum) 1
                  else 0))
            } else EwmaOut(t, r.d, r.c, None, None)
          recent = (r.c +: recent).take(Ewma.Terms - 1)
          lastDay = r.d.getTime
          Some(res)
        }
      }
    state.update((EwmaStateVersion, lastDay, recent))
    out.iterator
  }

  case class MgEntry(shard: Int, term: String, est: Long, shard_seen: Long)

  /** Streaming Misra-Gries heavy-hitter summaries — the arrival-order
    * twin of [[graft.operators.TextAnalysis.heavyHitters]]'s candidate
    * pass: each hash shard carries a bounded `summarySize`-entry
    * frequency summary across micro-batches (the decrement-all step
    * evicts infrequent keys exactly as in the batch form), so streaming
    * state at 100 TB is shards × summarySize entries REGARDLESS of
    * vocabulary or throughput — the property that makes top-terms over
    * an unbounded token stream feasible at all. After each batch the
    * shard emits its current summary stamped with the cumulative element
    * count; the latest stamp per shard is the live summary, and the MG
    * guarantee transfers verbatim: any term with shard-count
    * > shard_seen/(summarySize+1) is present, and estimates undercount
    * by at most that same bound (spec-pinned, plus an exact-equality
    * spec in the no-eviction regime). Final exact top-k = recount the
    * merged candidates, as in the batch operator. */
  def heavyHittersStream(words: Dataset[String], shards: Int = 8,
      summarySize: Int = 256): Dataset[MgEntry] = {
    import words.sparkSession.implicits._
    words.groupByKey(w => math.floorMod(w.##, shards))
      .flatMapGroupsWithState[(Map[String, Long], Long), MgEntry](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[String], state: GroupState[(Map[String, Long], Long)]) =>
          val (initMap, initSeen) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          val counts = scala.collection.mutable.HashMap[String, Long](initMap.toSeq: _*)
          var seen = initSeen
          rows.foreach { w =>
            seen += 1
            counts.get(w) match {
              case Some(c) => counts.update(w, c + 1)
              case None =>
                if (counts.size < summarySize) counts.update(w, 1L)
                else {
                  val dead = scala.collection.mutable.ArrayBuffer.empty[String]
                  counts.keysIterator.foreach { key =>
                    val c = counts(key) - 1
                    if (c == 0) dead += key else counts.update(key, c)
                  }
                  dead.foreach(counts.remove)
                }
            }
          }
          state.update((counts.toMap, seen))
          counts.iterator.map { case (t, c) => MgEntry(shard, t, c, seen) }
      }
  }

  case class KmvRow(event_type: String, k_kept: Long, kth_hash: Long,
      est_distinct: Long)

  /** Streaming KMV distinct-user counter — the
    * [[graft.operators.Sketches]] bottom-k sketch carried as LIVE
    * state: per event_type the GroupState is the sorted bottom-K hash
    * array (≤ K longs forever, regardless of throughput — the
    * bounded-state answer to "how many distinct users so far" that an
    * exact streaming distinct cannot give without unbounded state).
    * Each micro-batch folds its users' hashes in and emits the
    * refreshed estimate (Update mode). Bottom-k merge is
    * order-insensitive, so the final state equals the batch sketch over
    * the same data for ANY batch split — spec-pinned against
    * [[graft.operators.Sketches.kmvDistinct]]; `kth_hash` is
    * non-increasing and `k_kept` non-decreasing across emissions (the
    * monotonicity a reader uses to take the freshest row). */
  def kmvDistinctStream(events: DataFrame): Dataset[KmvRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    import graft.operators.Sketches.{K, M}
    events.select(col("event_type"),
        graft.functions.TextFns.md5u56(col("user_id").cast("string")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], KmvRow](OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (t: String, it: Iterator[(String, Long)], state: GroupState[Array[Long]]) =>
          val merged = (state.getOption.getOrElse(Array.empty[Long]) ++
            it.map(_._2)).distinct.sorted.take(K)
          state.update(merged)
          val kept = merged.length.toLong
          val kth = if (merged.isEmpty) 0L else merged.last
          val est = if (kept < K) kept else ((K - 1).toLong * M) / kth
          Iterator.single(KmvRow(t, kept, kth, est))
      }
  }

  /** Built-in session_window form of sessionization — one groupBy, no
    * custom state code, works identically in batch and streaming (with a
    * watermark). Semantic note vs [[sessionizeBatch]]: session_window
    * treats the gap as a half-open window after each event, so two
    * events exactly `gap` apart CLOSE the session here but chain in the
    * lag-based form's `> gap` test — the equivalence spec uses data away
    * from that boundary. */
  def sessionizeWindow(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).cast("int").as("events"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("events"))

  /** Streaming daily dup-rate monitor — the live form of
    * [[graft.operators.Diagnostics.dupRateDaily]], built on Spark's
    * CHAINED stateful window aggregations (multiple stateful operators,
    * append mode): the first windowed aggregate reduces at full event
    * TUPLE grain (the map-side-heavy reduction of the batch twin,
    * bounded state = tuples per watermark horizon), the second
    * re-windows that window and rolls up to day grain. Append mode
    * emits each day exactly once, when the watermark closes it — an
    * open day's partial counts are never published, which is precisely
    * what a dup-rate alarm wants (no false rates from half-seen days).
    * Spec proves closed-day equality with the batch operator. */
  def dupRateStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      // the tuple grain carries ts as a PLAIN long (unix_micros), not
      // the raw column: keeping watermarked ts next to the window would
      // leave two event-time columns in one stream (AnalysisException)
      .groupBy(window(col("ts"), "1 day"), col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .agg(count(lit(1)).as("c"))
      .groupBy(window(col("window"), "1 day"))
      .agg(sum(col("c")).as("n_rows"),
        count(lit(1)).as("distinct_tuples"),
        sum(col("c") - 1).as("dup_rows"))
      .select(col("window.start").cast("date").as("day"), col("n_rows"),
        col("distinct_tuples"), col("dup_rows"))
      .withColumn("dup_rate_milli", expr("dup_rows * 1000 div n_rows"))
}
