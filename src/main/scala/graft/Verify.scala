package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). Extra args are a
    // LOCAL convenience — query names to restrict the run to, for
    // fast iteration on one oracle without paying the full surface.
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // each result is fully materialized by the write above, so its
      // session caches are releasable — the multi-query run holds at
      // most one query's caches at a time (Caches contract)
      graft.ops.Caches.releaseAll(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${BenchFormat.jstr(k)}: ${BenchFormat.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
