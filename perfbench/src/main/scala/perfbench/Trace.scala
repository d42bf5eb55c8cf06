package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Engine work done inside a time window, as seen from the listener bus. */
final case class Counts(jobs: Long, tasks: Long, taskSec: Double,
    shuffleMb: Double, scanRows: Long) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
    taskSec + o.taskSec, shuffleMb + o.shuffleMb, scanRows + o.scanRows)
}
object Counts { val zero: Counts = Counts(0, 0, 0.0, 0.0, 0) }

/** One timed interval. `startMs`/`endMs` are epoch millis (the clock the
  * listener and the pipeline ledger stamp with); `seconds` is measured
  * with the monotonic clock when the span was timed in-process. */
final case class Span(id: Int, name: String, opId: Int, parent: Option[Int],
    startMs: Long, endMs: Long, seconds: Double)

/** Records job submissions and completed-stage metrics. A job belongs to
  * the span its submission time falls in; a stage counts once, for the
  * first job that lists it (later jobs that reuse its shuffle output list
  * it as skipped). */
final class EngineListener extends SparkListener {
  import EngineListener._
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val stageOwner = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(Job(e.jobId, e.time, e.stageIds))
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, Stage(i.numTasks, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten))
  }

  /** Jobs submitted in [fromMs, toMs) and the stages they own. */
  def within(fromMs: Long, toMs: Long): Counts = {
    val js = jobs.asScala.filter(j => j.submitMs >= fromMs && j.submitMs < toMs).toSeq
    val ids = js.map(_.id).toSet
    val owned = js.flatMap(_.stageIds).distinct
      .filter(s => ids(stageOwner.getOrDefault(s, -1)))
      .flatMap(s => Option(stages.get(s)))
    Counts(js.size.toLong, owned.map(_.tasks).sum, owned.map(_.runMs).sum / 1e3,
      owned.map(_.shuffleBytes).sum / 1e6, 0L)
  }
}

private object EngineListener {
  final case class Job(id: Int, submitMs: Long, stageIds: Seq[Int])
  final case class Stage(tasks: Long, runMs: Long, shuffleBytes: Long)
}

/** Spans kept in memory, plus the listener counts and the program's own
  * `Metrics` ledger read at the same boundaries. The bus is drained at
  * every boundary so a span sees all events of the jobs it ran. */
final class Tracer(spark: SparkSession) {
  private val listener = new EngineListener
  private var attached = false
  // attached at the first span, so untraced passes before it run bare
  private lazy val ledger = {
    spark.sparkContext.addSparkListener(listener)
    attached = true
    graft.Metrics.attach(spark)
  }
  private val spans = ArrayBuffer.empty[Span]
  private val spanCounts = scala.collection.mutable.Map.empty[Int, Counts]

  def drain(): Unit = ListenerBusAccess.drain(spark.sparkContext)

  private def ledgerSize(): Int = ledger.snapshot().size
  private def scanRowsFrom(mark: Int): Long =
    ledger.snapshot().drop(mark).map(_.scanRows).sum

  private var nextId = 0
  private var open = List.empty[Int]

  /** Time `f` as a span nested in the innermost open span; returns the
    * result and the span. */
  def span[T](name: String, opId: Int)(f: => T): (T, Span) = {
    drain()
    val id = nextId; nextId += 1
    val parent = open.headOption
    open = id :: open
    val mark = ledgerSize()
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try f finally open = open.tail
    val sec = (System.nanoTime() - t0) / 1e9
    // close the window one millisecond late so jobs submitted in the
    // span's last millisecond are not lost to truncation
    val s1 = math.max(System.currentTimeMillis(), s0) + 1
    drain()
    val sp = Span(id, name, opId, parent, s0, s1, sec)
    spans += sp
    spanCounts(id) = listener.within(s0, s1).copy(scanRows = scanRowsFrom(mark))
    (out, sp)
  }

  /** A span reconstructed after the fact (pipeline ledger rows). Its
    * counts come from the listener only; the query ledger carries no
    * timestamps, so scan rows stay with the enclosing op. */
  def record(name: String, opId: Int, parent: Option[Int], startMs: Long,
      endMs: Long, seconds: Double): Span = {
    drain()
    val sp = Span(nextId, name, opId, parent, startMs, endMs, seconds)
    nextId += 1
    spans += sp
    spanCounts(sp.id) = listener.within(startMs, endMs)
    sp
  }

  def counts(s: Span): Counts = spanCounts.getOrElse(s.id, Counts.zero)
  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** A span's duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent.contains(s.id))
    math.max(0.0, s.seconds - kids.map(_.seconds).sum)
  }

  def close(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    graft.Metrics.detach(spark, ledger)
  }

  def toJson: Seq[Map[String, Any]] = all.map { s =>
    val c = counts(s)
    Map("id" -> s.id, "name" -> s.name, "op" -> s.opId,
      "parent" -> s.parent.getOrElse(-1), "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_seconds" -> selfSeconds(s), "jobs" -> c.jobs, "tasks" -> c.tasks,
      "task_seconds" -> c.taskSec, "shuffle_mb" -> c.shuffleMb,
      "scan_rows" -> c.scanRows)
  }
}
