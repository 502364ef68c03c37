package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. All access goes through
  * here so column pruning / filter pushdown is controlled at one
  * place and queries stay declarative (Catalyst prunes the scan from
  * the downstream `select`s).
  */
object Tables {

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Scale-adaptive scan fan-out (optimization guide §2.5, "input
    * skew: one huge unsplittable file... repartition immediately
    * after the read"): the driver testdata ships every table as ONE
    * parquet row group, so a scan can never parallelize past one task
    * and heavy per-row map work above it (PII regexes, JSON parses,
    * shingle/feature explodes, winnowing) serializes on one core of
    * local[32] — measured 1.5-1.9 s single-task cache-build stages
    * under six of the ten heaviest bench queries at sf0.1. When the
    * plan has fewer partitions than the session's default parallelism,
    * insert one round-robin repartition to defaultParallelism;
    * otherwise return the input untouched, so on any production
    * layout with ≥ cores splits this is a no-op and the plan is
    * unchanged. Row-preserving — no query result changes.
    *
    * OPT-IN per call site, deliberately NOT applied inside [[load]]:
    * a round-15 experiment that fanned out every ≥256 KB table scan
    * made the whole bench WORSE (82 → 126 s, 61 guard trips) — each
    * repartition is an AQE stage barrier costing ~100-300 ms of
    * scheduling at bench SF, which swamps the win everywhere the
    * serialized map work isn't itself ≫ that (the PQ serves, which
    * run many small probe jobs, regressed 2×). Callers below are the
    * measured winners only. */
  def fanOut(df: DataFrame): DataFrame = {
    val target = fanOutWidth(df)
    if (target <= 1) df
    else if (numPartitionsOf(df) >= target) df
    else df.repartition(target)
  }

  /** Floor on input bytes per fan-out task. The fanned call sites run
    * CPU-heavy per-row work (regex passes, JSON parsing, feature
    * hashing) at single-digit MB/s/core, so 64 KB of input is tens of
    * milliseconds of compute — under that, task scheduling dominates
    * and extra width is pure overhead (round-15 scaling block: all
    * four fanned queries ran FASTER at 8 cores than at
    * defaultParallelism = 32 on the sf0.1 inputs, i.e. unconditional
    * cores-width over-partitions small inputs; VERDICT r15 #7). */
  val FanOutBytesPerTask: Long = 64L << 10

  /** Size-aware fan-out width (VERDICT r15 #7): wide enough to use the
    * cores, never wider than the input justifies —
    * min(defaultParallelism, ceil(inputBytes / 64 KB)). Input bytes
    * come from the optimizer's plan statistics (for the scan-rooted
    * frames every call site passes, that is the parquet file size —
    * no job runs). At the oracle SFs this derives width ≤ 1 and the
    * gate no-ops without even planning the RDD. */
  private def fanOutWidth(df: DataFrame): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes = (bytes + FanOutBytesPerTask - 1) / FanOutBytesPerTask
    byBytes.min(BigInt(cores)).max(BigInt(1)).toInt
  }

  /** Physical partition count WITHOUT the `df.rdd` deserialized-RDD
    * conversion the round-15 version paid (VERDICT r15 #4): `toRdd`
    * is the internal-row RDD the physical plan already owns. Building
    * it is not free: under AQE a cache-rooted child (an
    * InMemoryRelation whose own plan holds an exchange) can run its
    * stages at this point, materializing the cache early. Both
    * callers therefore reach it only after their plan-stats gates. */
  private def numPartitionsOf(df: DataFrame): Int =
    df.queryExecution.toRdd.getNumPartitions

  /** [[fanOut]] with HASH partitioning on `key` instead of round-robin
    * — for fanning out the probe side of a candidate-expansion
    * SELF-join (the q20-family shape, round 16): keyless
    * `repartition(n)` pays a local sort of its input
    * (`sortBeforeRepartition`, kept on for retry determinism) which on
    * a single-partition cache is one more serialized pass over the
    * whole relation; a deterministic hash key sidesteps the sort and
    * the SPARK-38388 retry hazard at once. Width = the full core
    * count, NOT byte-derived: these sites are measured
    * quadratic-expansion hot spots where per-row output (candidate
    * pairs), not input bytes, is the cost.
    *
    * Fires ONLY when the relation is small enough that the self-join
    * will plan as a BROADCAST hash join (plan-stats size ≤ the
    * session's autoBroadcastJoinThreshold): under a broadcast join the
    * probe side streams with NO exchange, so a single-split input
    * serializes the whole pair expansion on one task — the measured
    * q20-family pathology this exists for. Past the threshold the
    * planner shuffle-joins and the join's own exchange already fans
    * the expansion out — there an extra probe repartition is a pure
    * full-relation shuffle tax (measured +5-9 s per shingle-family
    * query at sf10, round-16 campaign c2). Also no-ops when the input
    * already has ≥ cores partitions. */
  def fanOutBy(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val bcThreshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (target <= 1 ||
        bcThreshold <= 0 ||
        df.queryExecution.optimizedPlan.stats.sizeInBytes > bcThreshold ||
        numPartitionsOf(df) >= target) df
    else df.repartition(target, key)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped in two physical encodings across driver
    * testdata generations: parquet TIMESTAMP(NANOS) (reads as a raw
    * long under `spark.sql.legacy.parquet.nanosAsLong=true`, set by
    * every session builder here) and parquet TIMESTAMP(MICROS) (reads
    * as TIMESTAMP_NTZ). Normalize both to the same logical shape:
    * `ts` = session-local TimestampType (micros) and `ts_ns` = exact
    * nanos-since-epoch long (the ordering key — integer arithmetic,
    * no double rounding at 1e18 magnitudes). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case dt @ (org.apache.spark.sql.types.TimestampNTZType |
                 org.apache.spark.sql.types.TimestampType) =>
        // TIMESTAMP_NTZ: the NTZ→LTZ cast interprets the wall clock
        // in the SESSION time zone, so a non-zero-offset session
        // would silently shift every ts_ns by the zone offset and
        // diverge from the oracle (which reads the raw micros). All
        // project sessions pin UTC; for library callers, fail LOUDLY
        // instead of shifting. Any FIXED zero-offset zone (UTC,
        // Etc/UTC, GMT, +00:00) is accepted, and a true LTZ physical
        // encoding needs no guard at all — unix_micros on an instant
        // is zone-independent.
        if (dt == org.apache.spark.sql.types.TimestampNTZType) {
          val zone = java.time.ZoneId.of(
            s.conf.get("spark.sql.session.timeZone"),
            java.time.ZoneId.SHORT_IDS)
          val rules = zone.getRules
          require(rules.isFixedOffset &&
            rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds == 0,
            "events' TIMESTAMP_NTZ encoding requires a zero-offset " +
              "session time zone (a shifted session would shift ts_ns " +
              s"by the zone offset; got $zone)")
        }
        // same layout rule as the nanos branch for ANY schema: ts_ns
        // takes ts's original position, ts is appended last — no
        // encoding-dependent column order, and extra/renamed columns
        // pass through identically in both branches
        val ts = col("ts").cast(org.apache.spark.sql.types.TimestampType)
        raw.select(raw.columns.map {
          case "ts" => (unix_micros(ts) * lit(1000L)).as("ts_ns")
          case c    => col(c)
        }.toIndexedSeq :+ ts.as("ts"): _*)
      case other =>
        // a THIRD physical encoding (string/int32/date/...) from a
        // future testdata generation must fail at load, not silently
        // cast through TimestampType — the exact drift class this
        // adapter exists to surface (ADVICE r8). Known encodings are
        // handled above; anything else needs a reviewed adapter.
        throw new IllegalStateException(
          s"events.ts has unrecognized physical type $other — " +
            "known encodings: TIMESTAMP(NANOS)-as-long (legacy nanosAsLong), " +
            "TIMESTAMP_NTZ (micros), TIMESTAMP_LTZ; extend Tables.events deliberately")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
