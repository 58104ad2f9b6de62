package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only the named queries (builder iteration)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.create(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        // Pin the file's physical row order to the query's logical order:
        // collect() is order-preserving, and one in-order partition makes
        // the dump deterministic run-to-run. (Note: the r2/r3 q96 hash
        // mismatch was NOT row order — it was the oracle SQL's uncast
        // DuckDB HUGEINT, fixed in SparkEntry — but a deterministic dump
        // is still cheap insurance.) Verify runs at sf≤0.01 only — this
        // collect is test-harness plumbing, not an engine path.
        val res = fn(spark, sfDir)
        val rows = java.util.Arrays.asList(res.collect(): _*)
        spark.createDataFrame(rows, res.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the pair/group operators persist per-doc frames for within-query
      // reuse; without a per-query release those cached blocks
      // accumulate across the session (same hygiene as Bench)
      GraftSession.release(spark)
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
