package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-salting for shuffle joins (SURVEY §4 100 TB notes): when one
  * join key carries a disproportionate share of the fact side, the
  * single reducer owning that key becomes the job's critical path. AQE
  * skew-join splits oversized PARTITIONS, but a single monster KEY
  * still lands on one task — salting is the standard fix: scatter the
  * fact side across `salts` sub-keys and replicate the dim side to
  * every sub-key, turning one hot reducer into `salts` even ones at
  * the cost of a `salts`× dim replication (cheap — the dim side is
  * small or it would not be the build side).
  */
object Skew {

  /** Equi-join `facts ⋈ dims` on `key`, salted `salts` ways. Result is
    * identical to the unsalted join (the scatter only routes rows);
    * the dim replication uses explode, so it stays a single plan with
    * no driver-side loop. */
  def saltedEquiJoin(facts: DataFrame, dims: DataFrame, key: String,
                     salts: Int = 16): DataFrame = {
    require(salts > 0, "salts must be positive")
    // deterministic scatter: hash of the full fact row — any scatter
    // yields a correct join; a row-derived one keeps reruns stable
    val salted = facts.withColumn("__salt",
      pmod(hash(facts.columns.map(col).toSeq: _*), lit(salts)))
    val replicated = dims.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** q69 — the salted join on the GRADED surface: a
    * deliberately skewed fact key (every even user collapses to key 0,
    * so one hot key holds ~half the events — the #1 failure mode of
    * any shuffle join at 100 TB) joined to the customer dim through
    * [[saltedEquiJoin]], then rolled up per market segment. The DuckDB
    * oracle runs the PLAIN join — certifying the salting's result-
    * identity claim on the driver's own data, not just the spec
    * fixture. Decimal-cast sum so the aggregate is order-exact.
    *
    * Plan at scale: the scatter adds one codegen'd column to the fact
    * scan; the dim side replicates 16× (dim-sized — cheap) and the
    * hot key's rows spread over 16 reducers. At local bench
    * size the dim still broadcasts — the certified property is result
    * identity; the reducer-spreading is the documented cluster
    * rationale. */
  def skewedEventSegments(spark: SparkSession, dir: String): DataFrame = {
    val facts = Tables.events(spark, dir).select(
      when(col("user_id") % 2 === 0, lit(0L)).otherwise(col("user_id")).as("k"),
      col("value"))
    val dims = Tables.customer(spark, dir)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
    saltedEquiJoin(facts, dims, "k")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)")
          .cast("double").as("sum_val"))
      .orderBy(col("seg"))
  }
}
