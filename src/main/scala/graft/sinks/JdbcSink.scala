package graft.sinks

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gold-layer JDBC serving sink (gold_loader.py re-expressed).
  *
  * The reference "handles" replays by letting the unique index reject
  * duplicates and swallowing the error (gold_loader.py:313-319). Here
  * idempotence is first-class: incoming batches are left-anti-joined
  * against the existing natural keys before append. At scale the key
  * probe reads only the key columns over JDBC (column pruning pushes into
  * the remote scan) and the anti-join broadcasts whichever side is small.
  */
object JdbcSink {

  /** Pure core of the idempotent append (unit-testable without a DB). */
  def newRowsOnly(incoming: DataFrame, existingKeys: DataFrame,
      keys: Seq[String]): DataFrame =
    incoming.join(existingKeys.select(keys.map(col): _*), keys, "left_anti")

  def readTable(spark: SparkSession, url: String, table: String,
      props: Properties = new Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** SQL literal for a probe bound, or None for types we won't inline.
    * Strings are deliberately NOT bounded: Spark's min/max order strings
    * by binary UTF-8, but the remote DB evaluates BETWEEN under its own
    * collation (Postgres en_US sorts 'a' < 'B'), so a Spark-derived
    * ['B','a'] range can be EMPTY remotely and the probe would miss
    * existing keys — silently re-inserting duplicates. Numeric, date and
    * timestamp ordering is collation-free, so only those are inlined;
    * timestamps/dates use the JDBC escape syntax so the predicate is
    * driver-portable (Derby, Postgres, …). */
  private def sqlLiteral(v: Any): Option[String] = v match {
    case null => None
    case t: java.sql.Timestamp => Some(s"{ts '${t.toString}'}")
    case d: java.sql.Date => Some(s"{d '${d.toString}'}")
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) =>
      Some(n.toString)
    case b: java.math.BigDecimal => Some(b.toPlainString)
    case b: BigDecimal => Some(b.bigDecimal.toPlainString)
    case _ => None
  }

  /** One tiny agg over the incoming batch → a remote WHERE clause
    * bounding the key probe to the batch's own key range. At a year of
    * Gold data an unbounded probe reads every historical key; a load is
    * almost always key-local (one day / one backfill window), so pushing
    * `key BETWEEN min AND max` per key turns the probe from O(table)
    * into O(window) on the DB side. Keys whose type/null-content prevents
    * safe literal inlining (strings — collation, see [[sqlLiteral]] —
    * binary, arrays, all-null columns) are simply dropped from the
    * conjunction: a probe bounded on the REMAINING keys still returns a
    * superset of the existing keys, so the anti-join stays correct.
    * Returns None when the batch is empty or no key is boundable (caller
    * then probes unbounded — correct, just not pruned). */
  def probePredicate(incoming: DataFrame, keys: Seq[String],
      quote: String => String): Option[String] = {
    val aggs = keys.flatMap(k => Seq(min(col(k)).as(s"__min_$k"), max(col(k)).as(s"__max_$k")))
    val row = incoming.agg(aggs.head, aggs.tail: _*).head()
    val parts = keys.zipWithIndex.flatMap { case (k, i) =>
      for {
        lo <- sqlLiteral(row.get(2 * i))
        hi <- sqlLiteral(row.get(2 * i + 1))
      } yield s"${quote(k)} BETWEEN $lo AND $hi"
    }
    if (parts.isEmpty) None else Some(parts.mkString(" AND "))
  }

  /** Append only rows whose natural key is not already present.
    *
    * The existing-key probe is BOUNDED: the remote scan reads only the
    * key columns (column pruning) within the incoming batch's key range
    * (predicate pushed into the remote SQL); a batch with no boundable
    * key ([[probePredicate]] returns None) falls back to the full-table
    * probe. */
  def idempotentAppend(spark: SparkSession, df: DataFrame, url: String,
      table: String, keys: Seq[String],
      props: Properties = new Properties): Long = {
    // resolve the remote-side identifier case once (Derby folds unquoted
    // identifiers to uppercase; quoting the reported name is always exact)
    val remoteSchema = readTable(spark, url, table, props).schema
    def remoteName(k: String): String =
      remoteSchema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(k)
    def quoted(k: String): String = "\"" + remoteName(k) + "\""
    val keyList = keys.map(quoted).mkString(", ")
    val existing = probePredicate(df, keys, quoted) match {
      case Some(pred) =>
        val probe = s"(SELECT $keyList FROM $table WHERE $pred) probe"
        spark.read.jdbc(url, probe, props)
      case None =>
        readTable(spark, url, table, props).select(keys.map(col): _*)
    }
    // normalize remote case back to the incoming names for the anti-join
    val existingNamed = existing.toDF(keys: _*)
    // persist before counting: count + write are two actions, and without
    // the cache each would re-run the remote key probe and the anti-join
    // (at a year of Gold history that doubles the probe cost per load)
    val fresh = newRowsOnly(df, existingNamed, keys)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = fresh.count()
      if (n > 0) fresh.write.mode("append").jdbc(url, table, props)
      n
    } finally fresh.unpersist()
  }

  /** Plain append (exact reference parity mode, S9). */
  def append(df: DataFrame, url: String, table: String,
      props: Properties = new Properties): Unit =
    df.write.mode("append").jdbc(url, table, props)

  private def withConn[T](url: String)(f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Run ledger (gold_loader.py:77-167 / pipeline_execution_log,
    * sql/schema.sql:185-199): driver-side row-at-a-time JDBC, independent
    * of the executor write path — mirrors the reference's psycopg2 side
    * channel (S10). */
  /** Derby's VARCHAR length ceiling — the widest a legacy metadata
    * column can be grown in place. */
  private val MaxVarchar = 32672

  final class PipelineLog(url: String) {

    /** metadata is CLOB on fresh tables — the reference column is JSONB
      * (sql/schema.sql:197), i.e. effectively unbounded, and a large
      * run-metadata blob must not truncate or fail the ledger write. A
      * table from the VARCHAR(4000) release is widened in place to
      * Derby's VARCHAR ceiling (ALTER to CLOB isn't supported); writes
      * are guarded to the discovered capacity. */
    def ensureTable(): Unit = withConn(url) { c =>
      val meta = c.getMetaData.getTables(null, null, "PIPELINE_EXECUTION_LOG", null)
      if (!meta.next()) {
        val st = c.createStatement()
        try st.executeUpdate(
          """CREATE TABLE pipeline_execution_log (
            |  execution_id VARCHAR(36) NOT NULL,
            |  stage VARCHAR(64) NOT NULL,
            |  attempt INT NOT NULL DEFAULT 1,
            |  status VARCHAR(16) NOT NULL,
            |  started_at TIMESTAMP,
            |  finished_at TIMESTAMP,
            |  duration_secs DOUBLE,
            |  rows_processed BIGINT,
            |  metadata CLOB
            |)""".stripMargin)
        finally st.close()
      } else metadataCapacity(c) match {
        case Some(size) if size < MaxVarchar =>
          val st = c.createStatement()
          try st.executeUpdate(
            s"ALTER TABLE pipeline_execution_log ALTER COLUMN metadata SET DATA TYPE VARCHAR($MaxVarchar)")
          finally st.close()
        case _ => ()
      }
    }

    /** None = unbounded (CLOB); Some(n) = VARCHAR(n) from a legacy table. */
    private def metadataCapacity(c: Connection): Option[Int] = {
      val rs = c.getMetaData.getColumns(null, null, "PIPELINE_EXECUTION_LOG", "METADATA")
      if (rs.next() && rs.getString("TYPE_NAME").toUpperCase.startsWith("VARCHAR"))
        Some(rs.getInt("COLUMN_SIZE"))
      else None
    }

    def logStart(executionId: String, stage: String, attempt: Int = 1): Long = {
      val now = System.currentTimeMillis()
      withConn(url) { c =>
        val ps = c.prepareStatement(
          "INSERT INTO pipeline_execution_log (execution_id, stage, attempt, status, started_at) VALUES (?,?,?,?,?)")
        ps.setString(1, executionId); ps.setString(2, stage)
        ps.setInt(3, attempt)
        ps.setString(4, "RUNNING"); ps.setTimestamp(5, new java.sql.Timestamp(now))
        ps.executeUpdate()
      }
      now
    }

    def logEnd(executionId: String, stage: String, startedMs: Long,
        status: String, rows: Long, metadataJson: String = "{}",
        attempt: Int = 1): Unit = {
      val now = System.currentTimeMillis()
      withConn(url) { c =>
        // length guard: on a not-yet-widened legacy VARCHAR column an
        // oversized blob degrades to a truncated row, not a failed write
        val guarded = metadataCapacity(c) match {
          case Some(cap) if metadataJson.length > cap => metadataJson.take(cap)
          case _ => metadataJson
        }
        val ps = c.prepareStatement(
          """UPDATE pipeline_execution_log SET status=?, finished_at=?,
            |duration_secs=?, rows_processed=?, metadata=?
            |WHERE execution_id=? AND stage=? AND attempt=?""".stripMargin)
        ps.setString(1, status); ps.setTimestamp(2, new java.sql.Timestamp(now))
        ps.setDouble(3, (now - startedMs) / 1000.0); ps.setLong(4, rows)
        ps.setString(5, guarded); ps.setString(6, executionId)
        ps.setString(7, stage); ps.setInt(8, attempt)
        ps.executeUpdate()
      }
    }

    /** Latest attempt's metadata blob for the stage (ledger audit path). */
    def metadataOf(executionId: String, stage: String): Option[String] =
      withConn(url) { c =>
        val ps = c.prepareStatement(
          """SELECT metadata FROM pipeline_execution_log
            |WHERE execution_id=? AND stage=?
            |ORDER BY attempt DESC FETCH FIRST 1 ROWS ONLY""".stripMargin)
        ps.setString(1, executionId); ps.setString(2, stage)
        val rs = ps.executeQuery()
        if (rs.next()) Option(rs.getString(1)) else None
      }

    /** Latest attempt's status for the stage. */
    def statusOf(executionId: String, stage: String): Option[(String, Long)] =
      withConn(url) { c =>
        val ps = c.prepareStatement(
          """SELECT status, rows_processed FROM pipeline_execution_log
            |WHERE execution_id=? AND stage=?
            |ORDER BY attempt DESC FETCH FIRST 1 ROWS ONLY""".stripMargin)
        ps.setString(1, executionId); ps.setString(2, stage)
        val rs = ps.executeQuery()
        if (rs.next()) Some((rs.getString(1), rs.getLong(2))) else None
      }

    /** Every attempt of the stage, oldest first: (attempt, status). */
    def attemptsOf(executionId: String, stage: String): Seq[(Int, String)] =
      withConn(url) { c =>
        val ps = c.prepareStatement(
          """SELECT attempt, status FROM pipeline_execution_log
            |WHERE execution_id=? AND stage=? ORDER BY attempt""".stripMargin)
        ps.setString(1, executionId); ps.setString(2, stage)
        val rs = ps.executeQuery()
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
        while (rs.next()) out += ((rs.getInt(1), rs.getString(2)))
        out.toSeq
      }
  }

  /** Retention cleanup (cleanup_old_data, sql/schema.sql:259-286):
    * driver-side delete, returns rows removed. `dateTyped` switches the
    * bind parameter to java.sql.Date for DATE columns (Derby won't coerce
    * a TIMESTAMP bind against a DATE column). */
  def retentionDelete(url: String, table: String, tsCol: String,
      keepDays: Int, dateTyped: Boolean = false): Int = withConn(url) { c =>
    val cutoffMs = System.currentTimeMillis() - keepDays * 86400000L
    val ps = c.prepareStatement(s"DELETE FROM $table WHERE $tsCol < ?")
    if (dateTyped) ps.setDate(1, new java.sql.Date(cutoffMs))
    else ps.setTimestamp(1, new java.sql.Timestamp(cutoffMs))
    ps.executeUpdate()
  }
}
