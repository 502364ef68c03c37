package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.textStats

/** Deterministic sampling/splitting for training-data pipelines.
  *
  * Both operators key on [[LlmOps.portableHash64]] of the document id
  * plus a salt, NOT on `rand()`: the assignment is a pure function of
  * (id, salt), so it is reproducible across runs, engines (the DuckDB
  * oracle replays it bit-for-bit), cluster sizes, and re-partitions —
  * the property that makes a 100 TB split auditable. Both are
  * single-scan, zero-shuffle projections/filters (the output sort is
  * presentation only); at scale the filter pushes into the scan
  * pipeline and never materializes the dropped rows.
  */
object Sampling {

  /** 60-bit hash of `"<salt>:<id>"` — the ONE definition of the
    * salted membership key (the `'salt:id'` byte format is a bit-exact
    * contract with every sampling oracle's `|| ':' ||`).
    * NULL-PROPAGATING `concat`, not concat_ws: a null salt component
    * (e.g. a null `source` stratum) must null the hash so the row
    * drops out of the sample — exactly what the oracle's SQL `||`
    * does; concat_ws would silently skip the null and lump such rows
    * into a phantom stratum. */
  private def saltedHash(id: Column, salt: Column): Column =
    LlmOps.portableHash64(concat(salt, lit(":"), id.cast("string")))

  /** [[saltedHash]] folded into [0, 1000) for the permille operators
    * (the hash is non-negative, so pmod is a plain modulo). */
  private def bucket1000(id: Column, salt: Column): Column =
    pmod(saltedHash(id, salt), lit(1000L))

  /** The one split configuration (80/10/10 under one salt), shared by
    * q36 and q97 so a singleton lands in the same split in both. */
  val DefaultSplitSalt = "split-v1"
  val DefaultTrainPermille = 800
  val DefaultValPermille = 100

  /** q36 — deterministic train/val/test split: 80/10/10 by hash
    * bucket. Every document gets exactly one split label; the same
    * (doc_id, salt) maps to the same split forever. */
  def hashSplit(spark: SparkSession, dir: String,
                salt: String = DefaultSplitSalt): DataFrame =
    hashSplitDocs(Tables.documents(spark, dir), salt)
      .select(col("doc_id"), col("source"), col("split"))
      .orderBy(col("doc_id"))

  /** [[hashSplit]] over an arbitrary documents DataFrame — the
    * composition form (e.g. a curated subset): APPENDS the `split`
    * column, keeping every input column, so downstream stages
    * (packing, export) filter server-side without re-joining the
    * corpus; no presentation sort (the dir wrapper adds it). The
    * assignment is a pure function of (doc_id, salt), so a doc's
    * split NEVER changes with the surrounding set — curate-then-split
    * and split-then-curate commute. */
  def hashSplitDocs(docs: DataFrame, salt: String = DefaultSplitSalt): DataFrame =
    docs.withColumn("split", splitOf(bucket1000(col("doc_id"), lit(salt))))

  /** The split label of a [[bucket1000]] value. */
  private def splitOf(b: Column): Column =
    when(b < DefaultTrainPermille, "train")
      .when(b < DefaultTrainPermille + DefaultValPermille, "val")
      .otherwise("test")

  /** q97 — leakage-safe train/val/test split: the q36 hash split keyed
    * by NEAR-DUP GROUP instead of by document. A per-doc split leaks
    * evaluation data whenever a near-duplicate pair straddles the
    * train/test boundary — the standard contamination pitfall a
    * deduplicated-eval pipeline exists to prevent (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * §on train/test overlap). Here every document is first assigned
    * its q32 near-dup component ([[LlmOps.connectedComponents]] over
    * the q20 thresholded-Jaccard pair stream; singletons group as
    * themselves), and the [[bucket1000]] split hash is taken on the
    * GROUP id — so a whole duplicate cluster lands in one split by
    * construction.
    *
    * Two documented properties make it auditable:
    *  - singletons (the vast majority of a deduplicated corpus) get
    *    BIT-IDENTICALLY their q36 assignment (same salt, and a
    *    singleton's group id IS its doc_id) — adopting the
    *    leakage-safe split only ever moves documents that have a
    *    near-duplicate;
    *  - cluster members share a split by construction, not by test.
    *
    * Scale shape: the component table is O(docs-in-pairs) — collision-
    * proportional, never corpus-sized — so the enrichment left-join
    * has a tiny right side (AQE broadcasts it at low duplication,
    * shuffles when a pathological corpus makes it big: the same
    * planner freedom as [[LlmOps.dropList]]); the split itself stays a
    * per-row projection. The assignment is a pure function of
    * (group id, salt), so it is stable across runs, engines, and
    * re-partitions like every operator in this file. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val comp = LlmOps.connectedComponents(
      LlmOps.jaccardPairsRaw(spark, dir, 0.2).select(col("d1"), col("d2")))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split", splitOf(bucket1000(col("group_id"), lit(DefaultSplitSalt))))
      .select(col("doc_id"), col("group_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** q37 — per-stratum deterministic sample: keep 200/1000 of
    * each `source` stratum (a per-stratum salt decorrelates strata so
    * a hot doc_id range cannot starve one stratum). Emits the kept
    * rows — at 100 TB this is the scan-side filter that feeds an
    * export job, so selectivity is the cost. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    // null-propagating concat (see bucket1000): a null source nulls
    // the hash and the row drops out, matching the oracle's `||`
    val b = bucket1000(col("doc_id"), concat(lit("sample-v1/"), col("source")))
    Tables.documents(spark, dir)
      .filter(b < 200)
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** q40 — per-stratum cap resampling: downsample every (source, lang)
    * stratum to an EXPECTED `cap` = 5 documents, keeping the rest intact —
    * the balancing stage that stops one over-crawled source from
    * dominating the training mix. A document survives iff its 60-bit
    * hash is below the stratum's `accept_threshold` = `(2^60 div n) ·
    * cap`, clamped to 2^60 when n ≤ cap — exact integer arithmetic
    * the DuckDB oracle replays bit-for-bit, at FULL 60-bit granularity
    * so the acceptance rate never floors to zero (a permille-granular
    * rate would deterministically eliminate any stratum above
    * 1000·cap docs — precisely the over-crawled stratum the operator
    * exists to tame; this threshold only vanishes past 2^60 docs in
    * one stratum). No overflow: for n > cap the product is < 2^60;
    * for n ≤ cap the clamp short-circuits the multiply.
    *
    * Plan shape at 100 TB: the stratum-count aggregate is
    * #strata-sized (map-side partials, tiny result), joins back
    * broadcast (AQE picks it from the runtime size), and the
    * acceptance filter rides the scan — the corpus is read once and
    * dropped rows never materialize past the filter. */
  def stratumCapSample(spark: SparkSession, dir: String): DataFrame = {
    val cap = 5
    val hashRange = 1L << 60 // one past portableHash64's maximum
    val docs = Tables.documents(spark, dir)
    val rates = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_stratum"))
      .withColumn("accept_threshold",
        when(col("n_stratum") <= cap, lit(hashRange))
          .otherwise(expr(s"($hashRange div n_stratum) * $cap")))
    // null-propagating concat (see saltedHash): null stratum keys null
    // the hash and the row drops out, matching the oracle's `||`
    val h = saltedHash(col("doc_id"),
      concat(lit("cap-v1/"), col("source"), lit("/"), col("lang")))
    // explicit broadcast: the rate table is #strata-sized by
    // construction (always broadcast-safe), and without the hint the
    // static planner's stats put the RAW SCAN under the aggregate and
    // broadcast the corpus side instead — exactly backwards at 100 TB
    docs.join(broadcast(rates), Seq("source", "lang"))
      .filter(h < col("accept_threshold"))
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_stratum"), col("accept_threshold"))
      .orderBy(col("doc_id"))
  }

  /** q48 — weighted source mixing: downsample sources so the mixed
    * corpus approaches TARGET PROPORTIONS (domain reweighting — the
    * "20% code, 30% web, …" stage of a training mix), keeping the mix
    * as LARGE as possible. With integer weights `w_s` (permille-like,
    * any positive scale; weight 0 or absent = excluded) and stratum
    * counts `n_s`, the largest total `T` respecting every stratum's
    * supply is `T = min_s (n_s·1000 div w_s)`; each source then
    * contributes an expected `target_n = (T·w_s) div 1000 ≤ n_s`
    * documents via the shared 60-bit hash-threshold primitive (q40's
    * acceptance rule — `(2^60 div n_s)·target_n`, clamped at full
    * acceptance). All arithmetic is exact-integer, so the DuckDB
    * oracle replays the mix bit-for-bit and the same corpus mixes
    * identically on any engine or cluster size.
    *
    * Plan shape at 100 TB: one #source-sized aggregate (map-side
    * partials), a 1-row global min under it, the threshold table
    * broadcast back onto the scan (explicit hint — the q40 static-
    * stats argument), and the acceptance filter rides the scan: the
    * corpus is read once, dropped rows never materialize. */
  def sourceMixDocs(docs: DataFrame, weight: Column): DataFrame = {
    val hashRange = 1L << 60 // one past portableHash64's maximum
    val weighted = docs.select(col("doc_id"), col("source"), weight.as("wt"))
    // ONE rate row per source, enforced: `weight` is an arbitrary
    // Column, and a weight that varies WITHIN a source would fan the
    // source's documents out across multiple rate rows in the join
    // below (silent duplicates). raise_error fires during the
    // aggregate if any source carries two distinct weights.
    val strata = weighted.filter(col("wt") > 0)
      .groupBy(col("source"))
      .agg(max(col("wt")).as("wt"), count(lit(1)).as("n_stratum"),
        countDistinct(col("wt")).as("n_wt"))
      .withColumn("wt",
        when(col("n_wt") === 1, col("wt")).otherwise(raise_error(concat(
          lit("sourceMix weight must be constant per source; source "),
          col("source"), lit(" has multiple weights")))))
      .drop("n_wt")
    // global min over a #source-sized table: a 1-row subtree joined by
    // a broadcast nested loop of one row — not a data-path cross join
    val t = strata.agg(min(expr("n_stratum * 1000 div wt")).as("t"))
    val rates = strata.crossJoin(broadcast(t))
      .withColumn("target_n", expr("(t * wt) div 1000"))
      .withColumn("accept_threshold",
        when(col("target_n") >= col("n_stratum"), lit(hashRange))
          .otherwise(expr(s"($hashRange div n_stratum) * target_n")))
      .select(col("source"), col("n_stratum"), col("target_n"), col("accept_threshold"))
    // null-propagating concat (see saltedHash): a null source nulls the
    // hash and the row drops out, matching the oracle's `||`
    val h = saltedHash(col("doc_id"), concat(lit("mix-v1/"), col("source")))
    // the per-ROW weight filter, not just the strata-side one: the join
    // below keys on source NAME, so without it a row whose own weight
    // is 0/null/negative ("excluded" per the contract) would ride its
    // source's rate into the mix — and since n_stratum counted only
    // the positive-weight rows, the source would over-contribute
    docs.filter(weight > 0)
      .join(broadcast(rates), Seq("source"))
      .filter(h < col("accept_threshold"))
      .select(col("doc_id"), col("source"), col("n_stratum"), col("target_n"))
  }

  /** [[sourceMixDocs]] over the `documents` table with the pinned
    * demo weight rule (numeric source suffix mod 4, plus 1 — any
    * per-source weight expression works; a real pipeline passes a
    * `typedLit(map)` lookup of its mix config). */
  def sourceMix(spark: SparkSession, dir: String): DataFrame =
    sourceMixDocs(Tables.documents(spark, dir),
      expr("CAST(substr(source, 4) AS BIGINT) % 4 + 1"))
      .orderBy(col("doc_id"))

  /** q74 — temperature-flattened source mixing: sample source `s`
    * ∝ `n_s^alpha` (the multilingual-LM upsampling rule — XLM /
    * mBERT exponential smoothing: α < 1 flattens the source
    * distribution, boosting low-resource sources' share without the
    * hard targets of [[sourceMixDocs]]; α = 1 is proportional
    * sampling). Where q48 hits EXACT configured proportions, this is
    * the rule a pipeline uses when the mix should ADAPT to whatever
    * the crawl produced.
    *
    * Oracle-exact arithmetic: the one real-valued step, `n_s^alpha`,
    * is quantized to a DECIMAL(18,6) weight grid (libm pow ulps die
    * in the cast — the q71-q73 rule) and scaled to an integer `wq`;
    * everything after is exact-integer — `budget = n_total·
    * budgetPermille div 1000`, `target_n = min(n_s, budget·wq div
    * Σwq)`, and q40's hash-threshold acceptance — so the selected
    * SET is a pure function of (corpus, α, budget, salt) on any
    * engine or partitioning. The `budget·wq` product runs in
    * DECIMAL(38,0) on the Spark side and HUGEINT in the oracle —
    * a 64-bit product wraps silently on Spark and ERRORS on DuckDB
    * (BIGINT multiplication does not auto-promote) at α→1 past
    * ~10^6-doc sources, so both engines widen — exact through
    * ~10^12-doc corpora at the 10^6 grid; past THAT, Spark's
    * non-ANSI decimal overflow nulls the product and `least` would
    * silently full-accept, so rescale the grid first.
    *
    * Plan shape at 100 TB (the q48 posture): one #source-sized
    * aggregate with map-side partials, a 1-row total under it, the
    * rate table broadcast back onto the scan, acceptance filter
    * rides the scan — the corpus is read once and dropped rows never
    * materialize. */
  def temperatureMixDocs(docs: DataFrame, alpha: Double = 0.5,
                         budgetPermille: Int = 500): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(budgetPermille >= 0 && budgetPermille <= 1000,
      "budgetPermille must be in [0, 1000]")
    val hashRange = 1L << 60 // one past portableHash64's maximum
    val strata = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_stratum"))
      .withColumn("wq",
        (pow(col("n_stratum"), lit(alpha)).cast("decimal(18,6)") *
          lit(1000000L)).cast("long"))
    // 1-row totals joined by a broadcast nested loop of one row (the
    // q48 global-min shape — not a data-path cross join)
    val tot = strata.agg(sum(col("wq")).as("sum_wq"),
      sum(col("n_stratum")).as("n_total"))
    val rates = strata.crossJoin(broadcast(tot))
      .withColumn("target_n",
        least(col("n_stratum"),
          expr(s"(CAST((n_total * $budgetPermille) div 1000 AS DECIMAL(38,0))" +
            s" * CAST(wq AS DECIMAL(38,0))) div CAST(sum_wq AS DECIMAL(38,0))")))
      .withColumn("accept_threshold",
        when(col("target_n") >= col("n_stratum"), lit(hashRange))
          .otherwise(expr(s"($hashRange div n_stratum) * target_n")))
      .select(col("source"), col("n_stratum"), col("target_n"),
        col("accept_threshold"))
    // null-propagating concat (see saltedHash): a null source nulls
    // the hash and the row drops out, matching the oracle's `||`
    val h = saltedHash(col("doc_id"), concat(lit("temp-v1/"), col("source")))
    docs.join(broadcast(rates), Seq("source"))
      .filter(h < col("accept_threshold"))
      .select(col("doc_id"), col("source"), col("n_stratum"), col("target_n"))
  }

  /** [[temperatureMixDocs]] over the `documents` table — the q74
    * conformance shape (α = 0.5, half-corpus budget). */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMixDocs(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  /** Packing configuration, read by the q39 oracle too. */
  val DefaultContextLen = 128
  val DefaultShards = 8

  /** q39 — sequence packing: lay documents end to end and cut
    * fixed-size context windows of `contextLen` tokens — the batch
    * assembly step between a curated corpus and a training run. Each
    * document is assigned to the pack containing its FIRST token
    * (GPT-style concatenation: documents may span pack boundaries);
    * `start_tok` is the document's token offset in its shard's
    * stream, `pack_id` = start_tok div contextLen.
    *
    * Packing is inherently sequential — a running total over an
    * ordered stream — so the 100 TB form shards first:
    * `shard = doc_id mod nShards` splits the corpus into independent
    * streams, each packed by its own window (one shuffle on shard;
    * the cumulative sum never crosses shards). nShards scales with
    * the cluster — each shard's window is one task's sequential scan.
    * Token counts are the q23/q25 whitespace rule via the codegen
    * [[graft.functions.TextStats]] expression (zero interpretation on
    * the scan side). Deterministic: (doc_id, nShards, contextLen) ↦
    * (shard, pack_id, start_tok) is a pure function — the same corpus
    * packs identically on any engine or cluster size, and the DuckDB
    * oracle replays it exactly. Here `contextLen` is
    * [[DefaultContextLen]] and `nShards` is [[DefaultShards]]. */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequencesDocs(Tables.documents(spark, dir))

  /** q46 — sliding-window chunking: cut each document into overlapping
    * token windows (`size` tokens every `stride`) — the INTRA-document
    * counterpart of q39's cross-document packing, and the chunk table
    * a retrieval/embedding pipeline feeds to its encoder. Emits
    * (doc_id, chunk_id, tok_start, tok_len): starts at 0, stride,
    * 2·stride … while the start is inside the document; the final
    * chunk is partial (`tok_len = n − start`) rather than dropped, so
    * every token is covered by ≥1 chunk whenever stride ≤ size.
    *
    * Plan: scan → codegen [[graft.functions.TextStats]] token count →
    * per-row explode of the chunk index range — ZERO shuffle (the
    * range exchange is output presentation only); the ~n/stride row
    * amplification IS the product, not an intermediate. Deterministic
    * pure function of (doc_id, n_tokens, size, stride). */
  def slidingChunks(spark: SparkSession, dir: String,
                    size: Int = 64, stride: Int = 48): DataFrame = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    Tables.documents(spark, dir)
      // the n_tokens ≥ 1 gate as an INDEPENDENT cheap predicate (some
      // non-space byte ⟺ at least one token): filtering on the
      // projected text_stats field gets pushed below the project and
      // SUBSTITUTED by the optimizer — the byte scan would run twice
      // per row (the q41 pathology, same fix)
      .filter(col("text").rlike("[^ ]"))
      .select(col("doc_id"), textStats(col("text")).getField("n_tokens").as("n"))
      .select(col("doc_id"), col("n"),
        explode(expr(s"sequence(0L, (n - 1) div $stride)")).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("tok_start"),
        least(lit(size.toLong), col("n") - col("chunk_id") * stride).as("tok_len"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** [[packSequences]] over an arbitrary documents DataFrame — the
    * composition form: packing runs over whatever survived curation /
    * splitting upstream (offsets are relative to the INPUT SET, so
    * unlike the hash-keyed operators this one intentionally depends
    * on which docs are present — packing a curated corpus is exactly
    * the point). */
  def packSequencesDocs(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .select(col("doc_id"), pmod(col("doc_id"), lit(DefaultShards.toLong)).as("shard"),
        textStats(col("text")).getField("n_tokens").as("n_tokens"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack_id", expr(s"start_tok div $DefaultContextLen"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("start_tok"), col("pack_id"))
      .orderBy(col("doc_id"))
  }
}
