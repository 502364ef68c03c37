package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-cache registry — the one place that documents the cache
  * contract for every `persist()` in the query builders.
  *
  * Query builders (q20/q21/q27/q29/q31) persist subtrees that feed
  * multiple consumers inside ONE query (self-joins, re-joins); the
  * returned DataFrame is lazy, so the builder itself can never
  * unpersist — the cache must outlive the builder call and is only
  * releasable after the caller has fully evaluated the result.
  *
  * Contract: every SESSION-LIVED `persist()` in graft.ops goes
  * through [[persist]], and harnesses (Bench, Verify, specs) call
  * [[releaseAll(spark*)]] once the results are materialized. The
  * registry is KEYED BY SESSION: releasing one harness's caches
  * cannot unpersist those registered by a different SparkSession
  * running concurrently in the same JVM. A long-lived session that
  * runs many queries therefore holds at most one query's caches at a
  * time instead of accumulating all of them. The one sanctioned
  * exception is a persist whose lifetime is a single method call and
  * whose release sits in that method's `finally`
  * (LlmOps.connectedComponents' edge/pair tables) — a
  * registry entry would outlive it, not protect it.
  *
  * Lifetime caveat: entries hold strong references keyed by session —
  * a session abandoned WITHOUT its releaseAll(spark) keeps its cached
  * plans pinned for the process lifetime. Harnesses must release in a
  * finally; a long-lived multi-session host should release on session
  * stop.
  */
object Caches {
  private val live =
    scala.collection.mutable.Map.empty[SparkSession, scala.collection.mutable.ArrayBuffer[DataFrame]]

  /** Persist `df` and register it (under its own session) for a later
    * [[releaseAll(spark*)]]. */
  def persist(df: DataFrame): DataFrame = synchronized {
    val p = df.persist()
    live.getOrElseUpdate(df.sparkSession, scala.collection.mutable.ArrayBuffer.empty) += p
    p
  }

  /** Unpersist every cache registered by `spark` (blocking=false:
    * eviction is async, callers don't wait on executor cleanup).
    * Caches owned by other sessions are untouched. */
  def releaseAll(spark: SparkSession): Unit = synchronized {
    live.remove(spark).foreach(_.foreach(df => scala.util.Try(df.unpersist())))
  }

  /** Unpersist every registered cache across ALL sessions — only for
    * single-session processes (specs' afterAll, JVM teardown); a
    * multi-session host must use the session-scoped overload. */
  def releaseAll(): Unit = synchronized {
    live.valuesIterator.foreach(_.foreach(df => scala.util.Try(df.unpersist())))
    live.clear()
  }

  /** Free the executor blocks behind a MATERIALIZED localCheckpoint.
    * `Dataset.unpersist` cannot: localCheckpoint persists at the RDD
    * level, below the SQL cache manager, so superseded per-round
    * checkpoints in driver-loop iterations (connectedComponents'
    * labels) otherwise stay pinned until driver
    * GC happens to run the ContextCleaner — corpus-sized storage ×
    * rounds on a long-lived session. Call ONLY on a checkpoint no
    * plan will read again: the blocks ARE the data (lineage is
    * truncated), so a later read would fail, not recompute. */
  def freeLocalCheckpoint(ds: org.apache.spark.sql.Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        scala.util.Try(lr.rdd.unpersist(blocking = false))
      case _ => ()
    }
}
