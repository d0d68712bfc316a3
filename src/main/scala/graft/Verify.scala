package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args scope the dump to named queries (local
    // iteration); the driver always calls with exactly two.
    val only = args.drop(2).toSet
    val spark = graft.core.LocalSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.LogQuiet.boundedWindowWarnings()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Remove any stale output from a previous run so the compare step
        // reports a hard failure instead of silently passing on old data.
        // Recursive (round-12 review): a failed write can leave a nested
        // _temporary tree that a flat listFiles().delete() skips, and
        // listFiles() is null on a plain file — either would leave stale
        // output (or abort the remaining queries) exactly when the dump
        // is already in a failure path.
        def rmRec(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rmRec)
          f.delete()
        }
        val stale = new java.io.File(s"$outDir/$name")
        if (stale.exists) rmRec(stale)
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
    // Full registry listing (round 11): oracle_sql.json is only the
    // SQL-expressible SUBSET of the registry by contract, so tools that
    // need "every registered query" (scan_check's budgeted-but-unprobed
    // cross-check) must not use it as the registry — a future oracle-less
    // query would silently fall outside their guarantee.
    Files.writeString(Paths.get(s"$outDir/registry.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    graft.core.TempDirs.cleanupAll()
    spark.stop()
  }
}
