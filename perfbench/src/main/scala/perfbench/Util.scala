package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

object Stats {
  /** Linear-interpolation quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Median of the last third of `xs` over the median of the first third
    * (a third rounded to the nearest whole count, at least 1). */
  def thirdsRatio(xs: Seq[Double]): Double = {
    val k = math.max(1, math.round(xs.size / 3.0).toInt)
    median(xs.takeRight(k)) / median(xs.take(k))
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double => java.lang.Double.valueOf(d)
    case i: Int => java.lang.Integer.valueOf(i)
    case l: Long => java.lang.Long.valueOf(l)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case other => other.toString
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
  def pretty(v: Any): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(toJava(v))
  def read(path: Path): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(path.toFile)
}

object Files2 {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Deletes between ops, outside the timed window: on a disk mounted with
    * online discard an unlink waits for its trim, so the I/O is over before
    * the next op starts instead of running under it. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** The parquet data files directly in `dir`, by name. */
  def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Hard-link every data file of `src` into `dst` (landing a batch costs
    * no copy and leaves the generated input untouched). */
  def linkFiles(src: Path, dst: Path, prefix: String = ""): Unit = {
    Files.createDirectories(dst)
    list(src).foreach(p => Files.createLink(dst.resolve(prefix + p.getFileName), p))
  }

  def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }
}

/** Order-insensitive content hash of a result: each row is rendered to a
  * canonical string (doubles rounded to 6 significant digits, maps sorted
  * by key), hashed, and the row hashes are summed, so row order and
  * partitioning do not matter but every row's content does. */
object ContentHash {
  private val mc = new java.math.MathContext(6)

  private def render(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros().toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros().toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros().toPlainString

  def rowHash(r: Row): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val h = md.digest(render(r).getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** (row count, summed row hash as 16 hex digits). */
  def of(df: DataFrame): (Long, String) = {
    val (n, h) = df.rdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += rowHash(r) }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (n, f"$h%016x")
  }
}

object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val master: String = s"local[$cores]"

  /** The session shape `graft.Bench` builds, plus run-local directories. */
  def create(workDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", workDir.resolve("spark-warehouse").toString)
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** Between ops: drop cached plans and persisted RDDs, as `graft.Bench`
    * does between queries. */
  def clear(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** `clear`, then a full collection; returns the live heap in MB: what the
    * heap pools held after their last collection. (Current usage would
    * count garbage whenever the requested collection is deferred, e.g.
    * while native code holds a critical region.) */
  def settle(spark: SparkSession): Double = {
    clear(spark)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  def heapLimitMb: Double = Runtime.getRuntime.maxMemory / 1e6
}
