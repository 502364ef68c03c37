package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Relational conformance queries over the TPC-H-ish driver tables.
  *
  * Re-expresses the reference's relational surface
  * (SURVEY.md §2.2-§2.7: predicates P6-P11, joins J1-J5 classes,
  * aggregations A1-A7, window W1, sorts/set-ops O1-O4) as
  * declarative Spark plans that Catalyst can push down / broadcast.
  *
  * Determinism rules for the DuckDB-oracle gate:
  *  - never `sum` raw doubles (order-dependent FP); cast to
  *    decimal first — exact, order-independent;
  *  - derived doubles only via identical expression trees on both
  *    sides (cast-of-exact-decimal, division of identical doubles);
  *  - every query globally ordered by its full key.
  */
object Relational {

  /** Exact decimal view of a double column (order-independent sums). */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Final-projection rule for the driver's pandas comparator: DECIMAL
    * outputs surface as Python `Decimal` objects on the Spark side but
    * float64 on the DuckDB side — numerically equal, never hash-equal.
    * So every query aggregates in exact decimal (order-independent)
    * and casts the *final* column to DOUBLE on both sides. The cast is
    * deterministic: the decimal is exact and its unscaled value fits
    * in 2^53 at bench scale, so decimal→double is a single correctly-
    * rounded IEEE operation in both engines. */
  private def dbl(c: Column): Column = c.cast("double")

  /** Q1-style pricing summary: scan → filter → hash agg.
    * Aggregates in decimal so the result is independent of partial-agg
    * order; the scan should show PushedFilters on l_shipdate.
    * (SURVEY §2.4; reference has only set-union aggs — this is the
    * numeric extension exercised by the warehouse SQL surface.) */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") < lit("1998-09-01").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dbl(sum(dec(col("l_quantity"))).cast(DecimalType(38, 2))).as("sum_qty"),
        dbl(sum(dec(col("l_extendedprice"))).cast(DecimalType(38, 2))).as("sum_base_price"),
        dbl(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast(DecimalType(38, 4))).as("sum_disc_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Q3-style shipping priority: 3-way join + agg + top-k.
    * orders/customer filter pushes below the join; lineitem is the
    * probe side. Top-10 via global sort+limit (driver-safe: k rows). */
  def shipPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, dir)
    val li   = Tables.lineitem(spark, dir)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderpriority"))
      .agg(dbl(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
        .cast(DecimalType(38, 4))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Broadcast equi-join (J1 class): fact ⋈ small dim. `broadcast`
    * hint pins BroadcastHashJoin regardless of stats. */
  def brandVolume(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val pt = Tables.part(spark, dir)
    li.join(broadcast(pt), li("l_partkey") === pt("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        dbl(sum(dec(col("l_quantity"))).cast(DecimalType(38, 2))).as("sum_qty"),
        count(lit(1)).as("n_lines")
      )
      .orderBy(col("p_brand"))
  }

  /** Left-semi join (J4 class, EXISTS): orders with at least one
    * high-quantity line. Semi join short-circuits on first match. */
  def ordersWithBigLines(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val big = Tables.lineitem(spark, dir).filter(col("l_quantity") >= 48)
      .select(col("l_orderkey"))
    ord.join(big, ord("o_orderkey") === big("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"), dbl(dec(col("o_totalprice"))).as("total_dec"))
      .orderBy(col("o_orderkey"))
  }

  /** Left-anti join (NOT EXISTS): customers with no URGENT order. The
    * complement branch of the reference's J2 caller classification. */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord  = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Left-outer join + conditional count: nations with customer counts
    * (0 preserved). Exercises outer-join null semantics. */
  def nationCustomerCounts(spark: SparkSession, dir: String): DataFrame = {
    val nat  = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    nat.join(cust, nat("n_nationkey") === cust("c_nationkey"), "left_outer")
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(count(col("c_custkey")).as("n_customers"))
      .orderBy(col("n_nationkey"))
  }

  /** W1 conformance — latest event per user, LAST write wins
    * (pr-review-flow.yml:100-109 Map.set semantics). row_number over
    * (user) ordered by ts desc with event_id as the deterministic
    * tie-break (event_id is the arrival sequence). */
  def latestEventPerUser(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val w  = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns").desc, col("event_id").desc)
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        dbl(dec(col("value"))).as("value_dec"))
      .orderBy(col("user_id"))
  }

  /** Window ranking beyond W1: top-3 orders per customer by price,
    * rank ties broken by key. */
  def top3OrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("rnk").cast(LongType).as("rnk"), col("o_orderkey"),
        dbl(dec(col("o_totalprice"))).as("price_dec"))
      .orderBy(col("o_custkey"), col("rnk"))
  }

  /** A4/A5 conformance — ALL-teams / ANY-member boolean gates
    * (pr-review-flow.yml:195-211) re-expressed: per customer, did
    * EVERY order complete ('F') and did ANY order ship urgent? */
  def booleanGates(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    ord.groupBy(col("o_custkey"))
      .agg(
        every(col("o_orderstatus") === "F").as("all_finished"),
        bool_or(col("o_orderpriority") === "1-URGENT").as("any_urgent"),
        count(lit(1)).as("n_orders")
      )
      .orderBy(col("o_custkey"))
  }

  /** A6 conformance — per-source counts (per-dir file counts,
    * scan_dependencies.py:83-84) over documents. */
  def perSourceCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"), col("lang"))

  /** A1-A3/O1 conformance — sorted distinct set collection per group
    * (`collect_set` + `sort_array` = the reference's
    * sorted(used_in_files), scan_dependencies.py:23-24). */
  def sourcesPerLang(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      // array_join: the driver comparator cannot sort/hash ndarray
      // cells, so sorted-set outputs serialize to a '|'-joined string
      // (deterministic: the array is already sorted).
      .agg(array_join(sort_array(collect_set(col("source"))), "|").as("sources"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  /** O3/O4 conformance — union + distinct across two branch scans
    * (multi-dir corpus union, scan_dependencies.py:85). */
  def unionDistinctKeys(spark: SparkSession, dir: String): DataFrame = {
    val fromOrders = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("custkey"))
    val fromCust = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 9000)
      .select(col("c_custkey").as("custkey"))
    fromOrders.union(fromCust).distinct().orderBy(col("custkey"))
  }

  /** P11/F11 conformance — TRY_CAST to DECIMAL(38,0) + JSON props
    * extraction (DIM_MFO_FD_WEB_CHANNEL.sql:5 `TRY_CAST(UTM_CONTENT
    * AS NUMBER(38,0))`; events.props hosts the dynamic field). */
  def tryCastProps(spark: SparkSession, dir: String): DataFrame = {
    // fanned out (round 15): the per-row JSON parse is the whole cost
    // and ran serialized on the one-row-group events scan — measured
    // 1.43 → 0.78 s at sf0.1
    val ev = Tables.fanOut(Tables.events(spark, dir))
    // ONE JSON parse per row: from_json with a single-field schema,
    // then both outputs project off the parsed field. The previous
    // 2× get_json_object formulation parsed the document twice
    // (GetJsonObject is CodegenFallback — per-reference interpreted
    // eval, no subexpression sharing): measured 1.16 → 0.92 s at
    // sf0.1, and at 100 TB the parse IS the scan cost. Value parity
    // with get_json_object('$.k') is exact for this surface (missing
    // key / invalid document → null on both).
    ev.select(
        col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", StringType))))
          .getField("k").as("k_str"),
        col("event_type"))
      .select(
        col("event_id"),
        col("k_str"),
        dbl(col("k_str").try_cast(DecimalType(38, 0))).as("k_num"),
        dbl(col("event_type").try_cast(DecimalType(38, 0))).as("not_a_number"))
      .orderBy(col("event_id"))
  }

  /** Grouping sets / rollup — engine-completeness beyond the
    * reference (none there, SURVEY §2.4); partial-agg friendly. */
  def rollupOrders(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    ord.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        dbl(sum(dec(col("o_totalprice"))).cast(DecimalType(38, 2))).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** q54 — cube (§2.4 completeness alongside q14's rollup): all four
    * grouping combinations of (status, priority) in one pass, with
    * `grouping_id` disambiguating a NULL group value from a NULL-as-
    * total row — the other grouping-sets shape Spark compiles to a
    * single Expand + two-phase aggregate (no re-scan per set). */
  def cubeOrders(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    ord.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        dbl(sum(dec(col("o_totalprice"))).cast(DecimalType(38, 2))).as("sum_price"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  /** q55 — time-series gap-fill (resample): per-user DAILY event
    * counts with missing days emitted as ZERO rows, over each user's
    * own [first, last] day span — the densification step before any
    * window/trend computation (a moving average over a sparse series
    * silently skips quiet days; over the filled grid it is correct).
    *
    * Plan shape at 100 TB: two #user-bounded aggregates off one scan
    * (daily counts; per-user spans), the grid generated by a per-row
    * `sequence` explode of the span (the amplification IS the
    * product), and one left join grid ⋈ counts on (user, day) — all
    * keys are user-prefixed, so every shuffle is the natural
    * per-user one and the filled series never crosses users. */
  def dailyGapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
    val daily = ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"))
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("user_id"), col("day"))
  }

  /** q51 — pivot (§2.4-adjacent engine completeness): the source ×
    * language document-count matrix, via `RelationalGroupedDataset
    * .pivot` with an EXPLICIT value list. The explicit list is the
    * production form at scale: it fixes the output schema up front
    * (no extra distinct-values pass over the corpus — implicit pivot
    * runs one, capped by `spark.sql.pivotMaxValues`), and the plan is
    * then a single two-phase aggregate over one corpus scan, exactly
    * a groupBy with conditional counts. Missing cells are 0, matching
    * the oracle's FILTER-count semantics. */
  val PivotLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  def langPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .pivot("lang", PivotLangs)
      .count()
      .na.fill(0L, PivotLangs)
      .orderBy(col("source"))

  /** q49 — per-source corpus profile: the know-your-data report a
    * curation team reads before deciding mix weights — document count,
    * language spread, and the length distribution (min/max/exact
    * median/p90 of `n_chars`) per source.
    *
    * Plan shape at 100 TB: one shuffle on `source` with map-side
    * partials for count/min/max; the exact percentiles are the one
    * non-partial aggregate (Spark's `percentile` buffers each group's
    * values), bounded per group by the stratum size, and #source
    * groups spread across the cluster — the standard exact-quantile
    * trade. A monitoring pipeline that can tolerate error swaps in
    * `approx_percentile` (t-digest partials) with the same plan shape;
    * the oracle pins the exact form (`quantile_cont` twin in DuckDB,
    * identical (p·(n−1)) linear interpolation). */
  def corpusProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        percentile(col("n_chars"), lit(0.5)).as("median_chars"),
        percentile(col("n_chars"), lit(0.9)).as("p90_chars"))
      .orderBy(col("source"))

  /** q58 — rolling time-window aggregate (RANGE frame): 7-day moving
    * revenue over the DAILY series — the other window-frame class
    * (q07/q08 use unbounded/rows frames; this one is a sliding RANGE
    * keyed on a gap-ful time axis, where `ROWS 6 PRECEDING` would be
    * wrong whenever a day is missing).
    *
    * Plan shape at 100 TB: the corpus-sized work is the daily rollup —
    * one shuffle with map-side partials down to #days rows (~365/yr;
    * decades fit in one task). The window then runs over that
    * BOUNDED aggregate table, so the single-partition global sort the
    * unpartitioned window implies is #days-sized, never corpus-sized —
    * the standard shape for a global time series. Revenue is summed in
    * exact decimal (order-independent) and only the final columns cast
    * to double. */
  def rollingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .select(date_trunc("DAY", col("o_orderdate")).as("day"),
        dec(col("o_totalprice")).as("p"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_orders"), sum(col("p")).as("rev"))
      // integer day number (days since epoch): RANGE frames need a
      // numeric ordering key, and both engines derive the identical
      // integer from the same date
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
    val w7 = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
    daily
      .withColumn("rev7", sum(col("rev")).over(w7))
      .withColumn("days7", count(lit(1)).over(w7))
      .select(col("day"), col("n_orders"), dbl(col("rev")).as("day_rev"),
        dbl(col("rev7")).as("rev7"), col("days7"),
        (dbl(col("rev7")) / col("days7")).as("avg7"))
      .orderBy(col("day"))
  }

  /** q59 — quantile bucketing (§2.5 completeness beyond q07/q08's
    * row_number): per-source `ntile` deciles plus `percent_rank` /
    * `cume_dist` over document length — the length-distribution
    * bucketing a curation pipeline uses to drop tails or stratify.
    * The order key (n_chars, doc_id) is total, so every rank function
    * is deterministic on both engines; the ratios are single IEEE
    * divisions of small exact integers. One shuffle on `source`;
    * each source's sort is stratum-bounded. */
  def lengthDeciles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy(col("source"), col("doc_id"))
  }

  /** q60 — UNPIVOT / melt (the inverse of q51's pivot, §2.4
    * completeness): q49's wide per-source profile to long
    * (source, stat, value) form — the shape metric stores and plotting
    * layers ingest. Spark's `unpivot` compiles to a single Expand over
    * the #source-sized aggregate (no join, no re-scan per stat); all
    * six stats cast to double up front (unpivot requires one value
    * type; exact small ints and q49's deterministic percentiles are
    * both exact in double). */
  def profileUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val stats = Seq("n_docs", "n_langs", "min_chars", "max_chars",
      "median_chars", "p90_chars")
    corpusProfile(spark, dir)
      .select(col("source") +: stats.map(s => dbl(col(s)).as(s)): _*)
      .unpivot(Array(col("source")), stats.map(col).toArray, "stat", "value")
      .orderBy(col("source"), col("stat"))
  }

  /** q63 — INTERSECT / EXCEPT (§2.6 completeness beyond q12's UNION):
    * users with a big purchase AND a big click but no severe error —
    * composed set semantics with DISTINCT de-duplication, exactly
    * SQL's `INTERSECT` / `EXCEPT`. Catalyst plans both as left-semi /
    * left-anti hash joins on the distinct key sets, so the plan is
    * three pushed-filter scans of one table + two key-sized joins —
    * no corpus-sized shuffle beyond the distincts. (The value
    * thresholds keep each operand a strict subset of the dense user
    * universe — with bare event-type sets every user lands in every
    * operand and the result certifies only the empty case.) */
  def engagedPurchasers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def ids(t: String, minValue: Double) =
      ev.filter(col("event_type") === t && col("value") > minValue)
        .select(col("user_id"))
    ids("purchase", 50).intersect(ids("click", 50)).except(ids("error", 90))
      .orderBy(col("user_id"))
  }

  /** q65 — APPROXIMATE aggregates (sketches), the monitoring-scale
    * forms of q49/q43's exact report: per-source HyperLogLog++ vocab
    * size (`approx_count_distinct` — mergeable fixed-size registers
    * instead of the exact count-distinct's expand+two-level agg) and
    * t-digest length quantiles (`approx_percentile` — constant-memory
    * partials instead of buffering each group's values). At 100 TB
    * the exact forms are the bounded-but-costly path; these sketches
    * are what a recurring data-quality monitor actually runs — same
    * plan shape, partial-aggregatable all the way down.
    *
    * Raw form: carries BOTH the sketch estimates and their exact
    * twins (the q43 count-distinct, the q49 interpolated percentiles)
    * per source. The sketch VALUES can never be SQL-oracled — register
    * layouts and compression constants are engine-specific, so DuckDB
    * cannot replay Spark's estimates bit-for-bit — which is why the
    * graded [[approxProfile]] reduces them to accuracy-band BOOLEANS
    * (engine-invariant: any correct sketch lands inside the band)
    * and this raw form stays the spec/debugging surface. */
  def approxProfileRaw(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocab = docs
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("source"))
      .agg(approx_count_distinct(col("token"), rsd = 0.02).as("approx_vocab"),
        countDistinct(col("token")).as("exact_vocab"))
    val lengths = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("approx_median"),
        percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("approx_p90"),
        percentile(col("n_chars"), lit(0.5)).as("exact_median"),
        percentile(col("n_chars"), lit(0.9)).as("exact_p90"))
    lengths.join(vocab, Seq("source")).orderBy(col("source"))
  }

  /** The GRADED q65 (VERDICT r12 #1): the sketch estimates reduced to
    * deterministic accuracy-band booleans against the exact twins
    * computed in the same query —
    * `|approx_vocab − exact_vocab| ≤ 0.10·exact` (the HLL runs at
    * rsd 0.02, so the band is 5σ) and
    * `|approx_pXX − exact_pXX| ≤ 0.15·exact + 8`. The percentile band
    * is sized by the ORACLE side, not Spark's: both engines'
    * estimators return an ELEMENT while the exact twin interpolates,
    * and on the oracle SF's 25-doc strata DuckDB's t-digest lands up
    * to ~7% of exact from the interpolated p90 (measured max 32.4
    * chars; this band keeps ≥2.4× margin). Spark's accuracy-10000
    * percentile_approx sits far inside it (RelationalOpsSpec pins
    * 0.05·exact + 2 on the raw form). Booleans are
    * engine-invariant — the DuckDB oracle replays the exact side with
    * ITS OWN sketches (approx_count_distinct / approx_quantile) and
    * asserts the same bands — so the row is hash-oracle-able without
    * pinning any engine's sketch internals, and a wiring break on
    * either side (wrong column, wrong rsd, band inverted) flips a
    * boolean and fails the gate. The exact twins ride along as the
    * engine-invariant payload a monitor would alert on. */
  def approxProfile(spark: SparkSession, dir: String): DataFrame =
    approxProfileRaw(spark, dir).select(
      col("source"), col("n_docs"), col("exact_vocab"),
      col("exact_median"), col("exact_p90"),
      (abs(col("approx_vocab") - col("exact_vocab")) <=
        col("exact_vocab") * 0.10).as("vocab_in_band"),
      (abs(col("approx_median") - col("exact_median")) <=
        col("exact_median") * 0.15 + 8.0).as("p50_in_band"),
      (abs(col("approx_p90") - col("exact_p90")) <=
        col("exact_p90") * 0.15 + 8.0).as("p90_in_band"))
      .orderBy(col("source"))

  /** q66 — statistical aggregates (§2.4 completeness: second moments):
    * per-returnflag mean / population stddev / Pearson correlation of
    * lineitem quantity vs extended price. NOT Spark's `stddev`/`corr`
    * builtins: those stream FP co-moments whose partial-merge order
    * differs per partitioning (and per engine), so they can never
    * hash-match an oracle. Instead the aggregate computes the five
    * EXACT decimal co-moment sums (Σq, Σp, Σq², Σp², Σqp —
    * order-independent by exactness), and the moments are derived
    * AFTER aggregation by one identical IEEE double expression tree on
    * both engines (+, −, ×, ÷, √ are all correctly rounded — identical
    * inputs give identical bits). Same two-phase map-side-partial plan
    * shape as the builtins, exactness where they have drift. */
  def priceStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_returnflag").as("flag"),
      dec(col("l_quantity")).as("q"), dec(col("l_extendedprice")).as("p"))
    val sums = li.groupBy(col("flag")).agg(
      count(lit(1)).as("n"),
      sum(col("q")).as("sq"), sum(col("p")).as("sp"),
      sum(col("q") * col("q")).as("sqq"), sum(col("p") * col("p")).as("spp"),
      sum(col("q") * col("p")).as("sqp"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    // radicands clamped at 0 (mirrored in the oracle): n·Σx² − (Σx)²
    // is ≥ 0 in exact arithmetic, but the two independent
    // decimal→double roundings can land a hair negative for a
    // zero-variance group — where Spark's sqrt yields NaN and DuckDB
    // ERRORS, failing the whole oracle query. A zero denominator
    // (either variance 0) nulls the correlation on both engines
    // instead of dividing 0/0 into a NaN the comparator can't match.
    val varQ = greatest(n * d("sqq") - d("sq") * d("sq"), lit(0.0))
    val varP = greatest(n * d("spp") - d("sp") * d("sp"), lit(0.0))
    val denom = sqrt(varQ) * sqrt(varP)
    sums.select(col("flag"), col("n"),
        (d("sq") / n).as("mean_q"), (d("sp") / n).as("mean_p"),
        (sqrt(varQ) / n).as("stddev_q"),
        (sqrt(varP) / n).as("stddev_p"),
        when(denom === 0.0, lit(null).cast("double"))
          .otherwise((n * d("sqp") - d("sq") * d("sp")) / denom).as("corr_qp"))
      .orderBy(col("flag"))
  }

  /** q67 — explicit GROUPING SETS (completing q14 rollup / q54 cube):
    * the two one-dimension marginals (by status; by priority) in ONE
    * pass — a set combination neither rollup nor cube expresses
    * (no grand total, no cross cells). Same single Expand + two-phase
    * aggregate physical shape; `grouping_id` disambiguates which
    * marginal a row belongs to. */
  def orderMarginals(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    ord.groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        dbl(sum(dec(col("o_totalprice"))).cast(DecimalType(38, 2))).as("sum_price"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }
}
