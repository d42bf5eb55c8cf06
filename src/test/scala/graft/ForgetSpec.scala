package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.Forget

/** Key erasure: rows gone, untouched partitions byte-identical,
  * audit reconciles, idempotent. */
class ForgetSpec extends SparkSpecBase {
  import spark.implicits._

  test("erasure rewrites only affected partitions and removes exactly the subjects' rows") {
    val dir = Files.createTempDirectory("graft-forget").toString
    val ev = Tables.events(spark, sf)
      .withColumn("year", year(col("ts")))
      .withColumn("month", month(col("ts")))
    ev.write.mode("overwrite").partitionBy("year", "month").parquet(dir)
    val before = spark.read.option("basePath", dir).parquet(dir)
    val total = before.count()
    // pick two real users, plus one id that appears nowhere
    val subjects = before.select($"user_id").distinct()
      .orderBy($"user_id").limit(2)
      .collect().map(_.getLong(0)).toSeq :+ 999999999L
    val subjectRows = before.filter($"user_id".isin(subjects.map(Long.box): _*)).count()
    assert(subjectRows > 0, "fixture users not found — test vacuous")
    // snapshot file listing of partitions the subjects do NOT touch
    val touched = before
      .filter($"user_id".isin(subjects.map(Long.box): _*))
      .select($"year", $"month").distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    def files(): Map[String, Long] = {
      val s = Files.walk(Paths.get(dir))
      try s.filter(p => p.toString.endsWith(".parquet"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val filesBefore = files()
    def partOf(f: String): Option[(Int, Int)] = {
      val m = """year=(\d+)/month=(\d+)""".r.findFirstMatchIn(f)
      m.map(g => (g.group(1).toInt, g.group(2).toInt))
    }
    val audit = Forget.forgetKeys(spark, dir, Seq("year", "month"),
      "user_id", subjects).collect()
    // rows: exactly the subjects' rows are gone
    val after = spark.read.option("basePath", dir).parquet(dir)
    assert(after.count() == total - subjectRows)
    assert(after.filter($"user_id".isin(subjects.map(Long.box): _*)).count() == 0)
    // audit reconciles removed counts
    assert(audit.map(_.getLong(1)).sum == subjectRows)
    audit.foreach(r => assert(r.getLong(2) >= 0L))
    // untouched partitions: same files, untouched mtimes
    val filesAfter = files()
    filesBefore.foreach { case (f, mtime) =>
      partOf(f).foreach { p =>
        if (!touched(p)) {
          assert(filesAfter.contains(f), s"untouched partition file vanished: $f")
          assert(filesAfter(f) == mtime, s"untouched partition file rewritten: $f")
        }
      }
    }
    // no staging/old residue
    assert(!filesAfter.keys.exists(f =>
      f.contains(".forget_staging") || f.contains(".forget_old")))
    // idempotent: a second run touches nothing
    val again = Forget.forgetKeys(spark, dir, Seq("year", "month"),
      "user_id", subjects)
    assert(again.count() == 0, "re-run found affected partitions")
  }

  test("partition values with special characters and nulls resolve to the writer's paths") {
    // ADVICE r11: raw interpolation broke on ' ', ':', '=' and nulls
    // (__HIVE_DEFAULT_PARTITION__); paths must follow Spark's own
    // partition-path escaping
    val dir = Files.createTempDirectory("graft-forget-esc").toString
    val rows = Seq(
      (1L, "north america"), (2L, "north america"),
      (3L, "a:b=c/d"), (4L, "a:b=c/d"),
      (5L, null.asInstanceOf[String]), (6L, null.asInstanceOf[String]),
      (7L, "plain"))
      .toDF("user_id", "region")
    rows.write.mode("overwrite").partitionBy("region").parquet(dir)
    val audit = Forget.forgetKeys(spark, dir, Seq("region"), "user_id",
      Seq(1L, 3L, 5L)).collect()
    assert(audit.length == 3, audit.mkString(";"))
    assert(audit.map(_.getLong(1)).sum == 3L)
    val after = spark.read.option("basePath", dir).parquet(dir)
    assert(after.count() == 4L)
    assert(after.filter(col("user_id").isin(1L, 3L, 5L)).count() == 0L)
    // survivors in every touched partition kept their rows
    assert(after.filter(col("user_id").isin(2L, 4L, 7L)).count() == 3L)
    assert(after.filter(col("user_id") === 6L && col("region").isNull).count() == 1L)
    // no staging/old residue anywhere under the root
    val s = Files.walk(Paths.get(dir))
    val residue = try s.toArray.map(_.toString)
      .filter(f => f.contains(".forget_staging") || f.contains(".forget_old"))
    finally s.close()
    assert(residue.isEmpty, residue.mkString(";"))
  }

  test("erasing by a partition column is refused") {
    intercept[IllegalArgumentException] {
      Forget.forgetKeys(spark, "/nonexistent", Seq("year"), "year", Seq(1L))
    }
  }

  test("a crash between the root-swap renames is recovered on the next sweep") {
    // ADVICE r12: mv(dir, old); CRASH; mv(staging, dir) leaves the table
    // path absent with the complete new tree stranded in staging — the
    // next sweep must resume the swap instead of failing on the missing
    // path
    val dir = Files.createTempDirectory("graft-forget-crash")
      .resolve("tbl")
    val rows = Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30))
      .toDF("user_id", "region", "v")
    rows.write.mode("overwrite").partitionBy("region")
      .parquet(dir.toString)
    // the "new" tree the crashed sweep had fully staged: user 1 erased
    val staging = dir.resolveSibling(".tbl.forget_staging")
    val old = dir.resolveSibling(".tbl.forget_old")
    spark.read.option("basePath", dir.toString).parquet(dir.toString)
      .filter($"user_id" =!= 1L)
      .write.partitionBy("region").parquet(staging.toString)
    // simulate the crash window: target absent, staging + old present
    Files.move(dir, old)
    // next sweep (no-op keys) must first finish the interrupted swap
    val audit = Forget.forgetKeys(spark, dir.toString, Seq("region"),
      "user_id", Seq(999L))
    assert(audit.count() == 0)
    val after = spark.read.option("basePath", dir.toString)
      .parquet(dir.toString)
    assert(after.count() == 2L, "staged tree must have been promoted")
    assert(after.filter($"user_id" === 1L).count() == 0L)
    assert(!Files.exists(staging) && !Files.exists(old),
      "swap residue must be cleared")
    // the complementary window — crash AFTER the second rename but
    // before the old-tree delete — leaves only a stale old dir
    Files.createDirectories(old)
    Files.writeString(old.resolve("stale.txt"), "x")
    Forget.forgetKeys(spark, dir.toString, Seq("region"), "user_id",
      Seq(999L))
    assert(!Files.exists(old), "stale forget_old must be dropped")
    assert(spark.read.option("basePath", dir.toString)
      .parquet(dir.toString).count() == 2L)
  }

  test("forgetWithDerived finishes an artifact's interrupted root swap instead of reporting it unbuilt") {
    // a crash between the root-swap renames leaves the artifact's root
    // renamed aside with the complete staged tree beside it: the path is
    // absent, but the artifact was built and still holds subject rows
    val art = Files.createTempDirectory("graft-forget-derived-crash")
      .resolve("art")
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "text")
      .write.parquet(art.toString)
    val staging = art.resolveSibling(".art.forget_staging")
    val old = art.resolveSibling(".art.forget_old")
    // the crashed sweep had staged the tree with doc 1 erased
    spark.read.parquet(art.toString).filter($"doc_id" =!= 1L)
      .write.parquet(staging.toString)
    Files.move(art, old)
    val report = Forget.forgetWithDerived(spark,
      Seq(Forget.DerivedRef("art", art.toString, "doc_id")),
      Seq(2L).toDF("doc_id")).collect()
    assert(report.length == 1)
    assert(report.head.getLong(1) == 1L, s"rows_removed: ${report.head}")
    assert(report.head.getLong(2) == 1L, s"rows_kept: ${report.head}")
    assert(spark.read.parquet(art.toString).select($"doc_id").as[Long]
      .collect().toSeq == Seq(3L))
    assert(!Files.exists(staging) && !Files.exists(old),
      "the staged tree must not stay stranded")
  }

  test("Swap.recover promotes a staged tree once the original was renamed aside, else rolls the original back") {
    val base = Files.createTempDirectory("graft-swap-recover")
    def tree(p: java.nio.file.Path, v: String): Unit = {
      Files.createDirectories(p)
      Files.writeString(p.resolve("v"), v)
      ()
    }
    // crash after the rename-aside: target absent, old aside, staging
    // complete (staging strictly precedes the first rename)
    val t = base.resolve("t")
    tree(Swap.oldOf(t), "old")
    tree(Swap.stagingOf(t), "new")
    Swap.recover(t)
    assert(Files.readString(t.resolve("v")) == "new")
    // the same window one level down, found by the walk under the root
    val inner = t.resolve("part=1")
    tree(Swap.oldOf(inner), "old")
    tree(Swap.stagingOf(inner), "new")
    // crash after the rename-aside but with no staging tree: roll back
    val u = t.resolve("part=2")
    tree(Swap.oldOf(u), "old")
    Swap.recover(t)
    assert(Files.readString(inner.resolve("v")) == "new")
    assert(Files.readString(u.resolve("v")) == "old")
    val s = Files.walk(base)
    val residue = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".")).toList
    finally s.close()
    assert(residue.isEmpty, residue.mkString(";"))
  }

  test("Swap.recover drops a staged tree whose original was never renamed aside") {
    val base = Files.createTempDirectory("graft-swap-unpaired")
    // a crashed first build: staging only, no target, nothing aside
    val first = base.resolve("first")
    Files.createDirectories(Swap.stagingOf(first))
    Files.writeString(Swap.stagingOf(first).resolve("v"), "partial")
    Swap.recover(first)
    assert(!Files.exists(first), "a first build's staging must not be promoted")
    assert(!Files.exists(Swap.stagingOf(first)))
    // a crashed staging write beside a present file: the file stays
    val f = base.resolve("tbl").resolve("part-0.parquet")
    Files.createDirectories(f.getParent)
    Files.writeString(f, "kept")
    Files.createDirectories(Swap.stagingOf(f))
    Files.writeString(Swap.stagingOf(f).resolve("part-0.parquet"), "partial")
    Swap.recover(base.resolve("tbl"))
    assert(Files.readString(f) == "kept")
    assert(!Files.exists(Swap.stagingOf(f)))
  }

  test("erasing every row of an artifact reports rows_kept = 0 without a read-back crash") {
    // ADVICE r12: the all-rows-removed staging tree has no
    // schema-bearing files, so a post-sweep read-back would throw
    // 'unable to infer schema' — rows_kept now comes from the
    // detection scan's own totals
    val flat = Files.createTempDirectory("graft-forget-all").toString
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("doc_id", "text")
      .repartition(2).write.mode("overwrite").parquet(flat)
    val keys = Seq(1L, 2L, 3L).toDF("doc_id")
    val report = Forget.forgetWithDerived(spark,
      Seq(Forget.DerivedRef("flat_all", flat, "doc_id")), keys)
      .collect()
    assert(report.length == 1)
    assert(report.head.getLong(1) == 3L, "rows_removed")
    assert(report.head.getLong(2) == 0L, "rows_kept must be 0")
  }

  // callers delete the tree the sweeps write into as soon as the fan-out
  // returns or throws (qForgetAudit's temp copy): a sibling still
  // writing then would race that cleanup
  test("sweep fan-out: a failing unit surfaces only after its slow sibling finished, as itself") {
    val boom = new IllegalStateException("unit 0 failed")
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val thrown = intercept[IllegalStateException] {
      Forget.inParallel(Seq(0, 1)) { i =>
        if (i == 0) throw boom
        Thread.sleep(1500)
        siblingDone.set(true)
      }
    }
    assert(siblingDone.get, "the sibling was still running when the failure surfaced")
    assert(thrown eq boom, "the unit's own exception, not a wrapper")
  }
}
