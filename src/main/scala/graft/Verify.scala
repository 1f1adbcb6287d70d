package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional 3rd+ args: subset of query names (local targeted iteration).
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus)
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Result timestamps dump as NTZ: with the session writing MICROS
    // (isAdjustedToUTC=true), DuckDB/pandas would read the dumps as
    // TZ-AWARE while every oracle result is naive — a dtype-only
    // mismatch that flips the hash on identical instants. The NTZ cast
    // (same wall-clock under the UTC session) reproduces exactly what
    // the INT96 dumps used to read back as.
    def ntz(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.TimestampType
      df.select(df.schema.fields.toSeq.map { f =>
        if (f.dataType == TimestampType) col(f.name).cast("timestamp_ntz").as(f.name)
        else col(f.name)
      }: _*)
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name))
      try ntz(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
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
    // A query that throws must stay VISIBLE in the round's artifacts: a
    // missing parquet dir silently drops the query from the driver's
    // comparison (round-5 lesson — 52 failures looked like a smaller,
    // all-green suite). errors.json names each failure with its message so
    // the correctness artifact (or a human) can surface them as err rows.
    // ONLY full runs write it — a subset re-run scoped to one fixed query
    // would otherwise clobber the full-run failure record with {} while
    // the other failures' dumps are still missing (the same stale-artifact
    // trap BENCH.json guards against).
    if (only.isEmpty)
      Files.writeString(Paths.get(s"$outDir/errors.json"),
        errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    Caches.clearAll() // teardown: release per-corpus memo storage
    spark.stop()
    // rc stays 0 even on partial failure: the driver's DuckDB compare over
    // the dumped parquet is the authoritative gate, and an abort here could
    // skip it entirely. Set SPARK_GRAFT_STRICT=1 for a CI gate keyed on rc.
    if (errors.nonEmpty && sys.env.get("SPARK_GRAFT_STRICT").contains("1")) sys.exit(1)
  }
}
