package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream interval join — the streaming form of the q52 range
  * join (click→view conversion attribution while both sides are
  * unbounded).
  *
  * Scale/state contract: BOTH sides carry a watermark and the join
  * condition bounds event time in BOTH directions (`view_ts ∈
  * (click_ts, click_ts + window]`), which is exactly what Structured
  * Streaming needs to evict state: a buffered click can be dropped
  * once the view-side watermark passes `click_ts + window`, a
  * buffered view once the click-side watermark passes `view_ts`. The
  * state store therefore holds only `lateness + window` worth of
  * events per side regardless of stream length — the unbounded-joins
  * trap (no time bound → state grows forever) is structurally
  * impossible here.
  */
object IntervalJoin {

  /** Inner interval join: `clicks(user_id, click_id, click_ts)` ⋈
    * `views(user_id, view_id, view_ts)` with the view inside
    * `(click_ts, click_ts + 10 minutes]`, both sides watermarked 30
    * minutes late. Works on batch frames too (same plan minus the
    * state store). */
  def clickViewConversions(clicks: DataFrame, views: DataFrame): DataFrame = {
    val c = clicks.withWatermark("click_ts", "30 minutes")
    val v = views.withWatermark("view_ts", "30 minutes")
    c.join(v,
        c("user_id") === v("user_id") &&
          col("view_ts") > col("click_ts") &&
          col("view_ts") <= col("click_ts") + expr("INTERVAL 10 minutes"))
      .select(c("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"))
  }
}
