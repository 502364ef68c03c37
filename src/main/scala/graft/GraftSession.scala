package graft
import org.apache.spark.sql.SparkSession

/** The one session every entry point runs on ([[Bench]], [[Verify]]
  * and the `tools/` objects): `local[$SPARK_GRAFT_CPUS]` (default 4)
  * with one shuffle partition per core, size-based AQE coalescing,
  * nanosecond parquet timestamps read as longs, UTC and no UI. The
  * specs keep their own plain `local[4]` session. */
object GraftSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // let AQE coalesce post-shuffle partitions by SIZE instead of
      // pinning reducer count to the core count: at bench SF most
      // shuffles carry a few MB and 32-task reduce stages are pure
      // scheduling floor; at 100 TB the advisory size (64 MB default)
      // keeps full fan-out. This is the setting Spark's own docs
      // recommend for clusters (parallelismFirst=true is the
      // regression-safe interactive default).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // 4m (not the 64m default): local[32] reduce stages are CPU-bound,
      // not IO-bound — a 15 MB shingle-join shuffle coalesced to ONE
      // partition serializes the quadratic pair scoring (q20 +1.1 s);
      // 4m keeps such stages at a handful of tasks while still
      // collapsing the KB-sized ones that were the scheduling floor
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      // events.ts ships as TIMESTAMP(NANOS) in some testdata
      // generations; ops.Tables.events adapts to the raw long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
