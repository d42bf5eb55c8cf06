package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Round-8 lesson: a final column of DecimalType with precision > 18 is
    * written by Spark as parquet fixed-len-byte-array while ≤18 packs into
    * an int64, and the driver's hasher diverges on the FLBA form even when
    * every value compares equal (`entity_golden_record` was the round's
    * only such column and its only red hash gate). The repo discipline is
    * decimal intermediates, DOUBLE at the edge (Tpch.scala) — enforce it
    * mechanically on every dumped schema so local green implies driver
    * green. */
  def assertHashSafeSchema(name: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.types._
    def walk(dt: DataType, path: String): Unit = dt match {
      case d: DecimalType if d.precision > 18 =>
        throw new IllegalStateException(
          s"[hash-guard] $name column $path is DecimalType(${d.precision}," +
            s"${d.scale}) — precision > 18 writes parquet FLBA and breaks " +
            "the driver hash; cast to DOUBLE at the edge (Tpch.scala " +
            "discipline)")
      case s: StructType => s.fields.foreach(f => walk(f.dataType, s"$path.${f.name}"))
      case a: ArrayType => walk(a.elementType, s"$path[]")
      case m: MapType =>
        walk(m.keyType, s"$path<key>"); walk(m.valueType, s"$path<value>")
      case _ => ()
    }
    schema.fields.foreach(f => walk(f.dataType, f.name))
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (comma-separated names); the driver sets
    // nothing and always dumps the full set
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // fail loudly on unknown names, like Bench: a typo'd filter that
    // silently dumps zero queries reads as a vacuously green check
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names no known queries: ${unknown.mkString(", ")}")
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        assertHashSafeSchema(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
