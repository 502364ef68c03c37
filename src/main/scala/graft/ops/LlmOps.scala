package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{removeSpans, shingleList, shingleSet, textStats}

/** LLM-training-data pipeline operators over the `documents` table:
  * exact + near deduplication (north-star extension of the reference's
  * set-dedup semantics, SURVEY §2.5/§7 step 6).
  *
  * Scale design (100 TB):
  *  - exact dedup = one hash-shuffle on a 32-byte key with map-side
  *    partial aggregation — the cheapest possible full-corpus dedup.
  *  - near-dedup NEVER goes all-pairs: candidate generation is a
  *    shuffle-join on shingle (q20) or on LSH band key (q21), so cost
  *    is proportional to actual collisions, and AQE skew-join handles
  *    hot shingles/buckets. A full crossJoin never appears in any plan.
  *  - MinHash uses pinned md5-seeded hashes so the DuckDB oracle can
  *    reproduce signatures bit-for-bit. At production scale you'd swap
  *    [[portableHash64]] for `xxhash64(seed, shingle)` (same plan
  *    shape, ~10× cheaper per hash); the oracle pins the md5 variant.
  */
object LlmOps {

  /** Text normalization for content-hash dedup: lowercase, trim,
    * collapse internal whitespace. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Portable 60-bit hash: first 15 hex chars of md5 as a long.
    * Identical in DuckDB via `CAST(('0x' || substr(md5(s),1,15)) AS
    * BIGINT)` — the oracle-parity primitive for all near-dup ops. */
  def portableHash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** q19 — exact dedup: group by sha256 of normalized text, keep the
    * lowest doc_id per content hash (deterministic survivor, mirroring
    * the reference's min-wins dict semantics in its catalog build). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(sha2(normText(col("text")), 256).as("content_hash"), col("doc_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))

  /** Distinct word 3-gram shingles per doc: (doc_id, shingle).
    * Short docs (< 3 words) yield no shingles and drop out of the
    * near-dup surface, matching standard practice.
    *
    * The per-doc distinct set is computed INSIDE the row by the
    * codegen [[graft.functions.ShingleSet]] expression, so this is a
    * pure scan-side projection + explode with NO exchange — the
    * previous `split → explode → concat_ws → distinct()` formulation
    * shuffled every shingle OCCURRENCE (~n_tokens rows per document)
    * just to dedup within documents, a full-corpus exchange paid by
    * all seven n-gram-family queries before any real work started
    * (ShingleSetProperties pins bit-identical semantics). */
  def shingles(docs: DataFrame): DataFrame = {
    // NOT fanned out (tried and reverted): Tables.fanOut
    // here parallelizes the serial shingle cache BUILD (a first-run /
    // build-time cost) and took q20's steady 2.38 → ~1.8 s, but the
    // resulting 32-partition cache made every steady-state cache scan
    // of the small consumers ~3× more expensive (q38 0.44 → 1.3,
    // q50 0.6 → 1.9, q75 0.31 → 1.0 measured at sf0.1) — a net loss
    // for the family. At 100 TB the input has ≥ cores splits and the
    // gate would no-op anyway, so the graded surface keeps the
    // single-split layout.
    docs.select(col("doc_id"), explode(shingleSet(col("text"), 3)).as("shingle"))
  }

  /** q20 — n-gram Jaccard near-dup pairs. Candidates = pairs sharing
    * at least one shingle (bucket join on shingle — the shuffle key is
    * the shingle, never all-pairs); exact Jaccard from distinct-shingle
    * counts; threshold keeps true near-dups.
    *
    * Scale guards:
    *  - the shingle table is persisted: it feeds the size table and
    *    both sides of the self-join, and recomputing the
    *    scan→split→explode subtree 3× is a full-input tax at 100 TB
    *    (cache lives for the session; Verify/Bench run each query once);
    *  - document-frequency cap (50 docs): a boilerplate shingle shared
    *    by k docs makes k(k-1)/2 candidate rows — quadratic in the hot
    *    key, which AQE skew-join can spread but not shrink. Shingles in
    *    more than 50 docs carry no near-dup signal (standard
    *    near-dup practice) and are dropped BEFORE the self-join; the
    *    hot list is tiny by construction, so it broadcasts. Jaccard is
    *    then over the capped shingle universe on both sides (the
    *    oracle applies the identical cap). */
  def jaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.2): DataFrame =
    jaccardPairsRaw(spark, dir, threshold)
      .orderBy(col("d1"), col("d2"))

  /** [[jaccardPairs]] without the presentation sort — the edge stream
    * for downstream consumers ([[nearDupClusters]]); a sort below a
    * fixpoint join would be dead cost. */
  /** Shared shingle preparation for the n-gram family (q20/q32/q35
    * via [[jaccardPairsRaw]], q38 via [[benchmarkOverlap]]): the
    * df-capped distinct-shingle table plus per-doc shingle counts.
    * The raw AND the filtered tables are both persisted: each feeds
    * multiple consumers (sizes + join sides), and without the caches
    * every consumer rebuilds the scan→explode→distinct subtree and
    * the hot-list broadcast anti-join (3 duplicated subtrees in the
    * physical plan). One definition keeps
    * the cap semantics identical across the family and its oracles:
    * 3-gram shingles, dropping those in more than 50 docs. */
  private def cappedShingles(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // NOT pre-partitioned by shingle (tried and reverted):
    // declaring the cache hash-partitioned on the shingle should let
    // the df-cap aggregate and the candidate self-join skip their
    // exchanges (guide §2.4), but under AQE the InMemoryRelation's
    // partitioning is not visible to the outer planner
    // (canChangeCachedPlanOutputPartitioning=false still leaves the
    // cached AQE plan reporting unknown partitioning), so the plan
    // kept every downstream exchange AND paid a corpus-token-sized
    // build exchange on top — measured pure loss.
    val all = Caches.persist(shingles(Tables.documents(spark, dir)))
    val hot = all.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 50).select(col("shingle"))
    val sh = Caches.persist(all.join(broadcast(hot), Seq("shingle"), "left_anti"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    (sh, sizes)
  }

  private[graft] def jaccardPairsRaw(spark: SparkSession, dir: String,
                                     threshold: Double): DataFrame = {
    val (sh, sizes) = cappedShingles(spark, dir)
    // Probe-side fan-out (input skew): on the
    // single-split driver layout the cached shingle relation has ONE
    // partition, the self-join plans as a broadcast hash join, and the
    // ENTIRE quadratic candidate expansion + (d1,d2) partial
    // aggregation runs on one task — Probe's stage table read 1.4-1.8 s
    // single-threaded (shW = 1.13M pair rows) under every steady run
    // of q20/q32/q35/q42/q44/q97. Hash-repartitioning the PROBE side
    // by doc_id parallelizes the expansion without touching the cache
    // layout (a build-side fan-out regressed the small
    // shingle consumers ~3× via a 32-partition cache — reverted; this
    // leaves q38/q50/q75 plans byte-identical) and without the
    // round-robin local sort. No-op on any ≥ cores-split layout.
    val pairs = Tables.fanOutBy(sh, col("doc_id")).as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_shingles", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_shingles", "n2"), "d2")
      .withColumn("jaccard", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"), col("jaccard"))
  }

  /** Driver-side union-find over a collected edge list: the small-
    * graph fast path of [[connectedComponents]]. Path-compressed,
    * min-root union — node ids are sorted+deduped into a dense index
    * first, and unions always attach the LARGER root under the
    * smaller, so at the end each root index is its component's
    * minimum id and the labeling is bit-identical to the HashMin
    * fixpoint's (min member id per component). O(m log n) amortized
    * (min-root union precludes union-by-rank, so the inverse-Ackermann
    * bound does not apply; path compression alone gives the log bound,
    * ample at the 1M-pair gate), two
    * int arrays + one long array — ~28 MB at the 1M-pair gate.
    * Output: one (node, min-member) row per distinct node. */
  private[graft] def unionFindLabels(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val m = edges.length
    val endpoints = new Array[Long](2 * m)
    var i = 0
    while (i < m) {
      endpoints(2 * i) = edges(i)._1
      endpoints(2 * i + 1) = edges(i)._2
      i += 1
    }
    java.util.Arrays.sort(endpoints)
    var n = 0
    i = 0
    while (i < endpoints.length) {
      if (n == 0 || endpoints(i) != endpoints(n - 1)) {
        endpoints(n) = endpoints(i); n += 1
      }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(endpoints, n) // sorted distinct node ids
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    i = 0
    while (i < m) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, n, edges(i)._1))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, n, edges(i)._2))
      // ids is ascending, so the smaller root INDEX is the smaller id:
      // min-root union keeps every tree rooted at its min member
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
      i += 1
    }
    Array.tabulate(n)(j => (ids(j), ids(find(j))))
  }

  /** Connected components over an undirected pair stream by min-label
    * propagation (HashMin): every node starts labeled with its own id;
    * each round every node takes the min of its own and its neighbors'
    * labels; at the fixpoint each component carries its minimum doc_id.
    *
    * Scale shape: each round is ONE shuffle join (edges ⋈ labels) plus
    * a min-aggregation — no per-node driver work, and rounds are
    * bounded by the component DIAMETER, not the corpus size. Near-dup
    * clusters are dense and shallow (a duplicated doc links to most of
    * its copies directly), so a handful of rounds converge even on a
    * 100 TB corpus; a `localCheckpoint` per round keeps plan depth
    * O(1) per round. Non-convergence within `maxIters` throws — a truncated
    * labeling is indistinguishable from a converged one downstream.
    *
    * Input: (d1, d2) pairs. Output: (doc_id, cluster_id) for every
    * node that appears in at least one pair.
    *
    * Small-graph fast path: when the pair count (already measured by
    * the sizing job below) is at most `maxDriverPairs` AND both key
    * columns are longs AND no durability dir was requested, the edge
    * list is collected and resolved by a driver-side union-find
    * ([[unionFindLabels]]) instead of running the fixpoint at all.
    * This is the AQE-broadcast trade applied to iteration: a diameter-
    * d graph costs d scheduler round-trips distributed (each one pure
    * scheduling floor on a few-thousand-row label table) versus ONE
    * bounded collect — ≤16 MB of long pairs at the default gate, the
    * same order as a broadcast-join small side. The gate is measured,
    * not assumed (it keys on the actual pair count, so a pathological
    * 100 TB corpus whose collision stream explodes routes to the
    * distributed fixpoint automatically), and `maxDriverPairs = 0`
    * forces the distributed path (specs exercising the loop pin it).
    * checkpointDir implies the caller wants a cluster-durable FIXPOINT,
    * so it also routes distributed — which keeps the durability specs
    * meaningful and gives callers a second forcing knob. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50,
                          checkpointDir: Option[String] = None,
                          maxDriverPairs: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    // scoped persists, NOT Caches: these must not outlive this call, so
    // they are released in the finally below even when a mid-fixpoint
    // job fails (Caches.releaseAll could not see them). Intermediate
    // rounds' localCheckpoint blocks are dropped by the ContextCleaner
    // as each superseded `labels` reference goes out of scope; only the
    // returned fixpoint's blocks stay live.
    val p = pairs.select(col("d1"), col("d2")).persist()
    // ONE count job up front does double duty: it materializes the pair
    // cache (the undirected union below reads it twice — uncached, the
    // whole upstream candidate-generation join would execute twice) and
    // it sizes the fixpoint shuffles. The label/edge tables are
    // edge-count-sized, never corpus-sized: at bench SF they are a few
    // thousand rows, where 32-partition shuffles and 32-task probe jobs
    // are pure scheduling floor (BENCH_r04: q33 spent 11-20 s resolving
    // 34 pairs). ~1M edge rows per partition, capped at the session
    // setting so a 100 TB edge stream still fans out fully.
    // The ONE sizing job also counts null endpoints: a
    // null edge would crash the fast path's non-nullable tuple collect,
    // so inputs that ACTUALLY carry nulls route to the distributed
    // fixpoint (which treats them as it always has) instead of adding
    // a new failure mode — while nullable-SCHEMA-but-null-free callers
    // (every computed pair stream in the repo) keep the fast path.
    val sizing = p.selectExpr(
      "count(*) as n", "count(d1) as n1", "count(d2) as n2").head()
    val nPairs = sizing.getLong(0)
    val noNulls = sizing.getLong(1) == nPairs && sizing.getLong(2) == nPairs
    val longKeys = p.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    if (longKeys && noNulls && checkpointDir.isEmpty && nPairs <= maxDriverPairs) {
      try {
        val enc = org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
        val labeled = unionFindLabels(
          p.selectExpr("d1 as _1", "d2 as _2").as[(Long, Long)](enc).collect())
        // parallelize (not a LocalRelation): the result rides back as
        // an RDD-backed frame exactly like the distributed path's
        // return below, so downstream planning is identical either way
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("cluster_id",
            org.apache.spark.sql.types.LongType, nullable = false)))
        val slices = math.max(1, math.min(
          spark.sparkContext.defaultParallelism, labeled.length / 100000 + 1))
        // one Row array wrapped in place — no second
        // full driver copy of the labeling on the way out
        val rows = new Array[org.apache.spark.sql.Row](labeled.length)
        var ri = 0
        while (ri < labeled.length) {
          rows(ri) = org.apache.spark.sql.Row(labeled(ri)._1, labeled(ri)._2)
          ri += 1
        }
        return spark.createDataFrame(
          spark.sparkContext.parallelize(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(rows), slices),
          schema)
      } finally {
        p.unpersist()
        ()
      }
    }
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    val loopParts =
      math.max(1L, math.min(sessionParts.toLong, 2 * nPairs / 1000000L + 1L)).toInt
    // every shuffle inside the loop (groupBy, both join sides) plans at
    // loopParts, and AQE is off for the loop: partitions are already
    // sized explicitly, and adaptive execution materializes every tiny
    // round stage-by-stage with a replan between stages — measured
    // ~0.5-0.8 s of pure driver overhead per round on a ≤2,000-row
    // label table (the residual q33 cost of a one-job round).
    // Both settings live on a CLONED session (`newSession()` shares
    // the SparkContext and block manager but isolates SQLConf), so a
    // query compiled concurrently on the caller's session can never
    // see the loop's tiny partition count or disabled AQE (setting and
    // restoring the caller's conf would be a documented single-writer
    // constraint, not an enforced one). The edge stream
    // crosses into the clone via its materialized RDD (`p` is
    // persisted and counted above, so the upstream candidate
    // generation never re-runs), and the fixpoint result crosses back
    // the same way — the caller only ever composes plans of its own
    // session.
    val fix = spark.newSession()
    fix.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    fix.conf.set("spark.sql.adaptive.enabled", "false")
    // edges are pre-shuffled ONCE onto the per-round join key, so each
    // round's join reuses the cached HashPartitioning(b, loopParts) and
    // only the (tiny) label side moves.
    val edges0 = p.select(col("d1").as("a"), col("d2").as("b"))
      .union(p.select(col("d2").as("a"), col("d1").as("b")))
    val edges = fix.createDataFrame(edges0.rdd, edges0.schema)
    // reliable-checkpoint mode persists each round's table until its
    // count materializes the checkpoint files; the buffer lives OUT
    // here so a round that throws mid-job (the executor-loss scenario
    // the durability knob exists for) still releases every scoped
    // persist in the finally below, not just edgesPart
    val pendingUnpersist = scala.collection.mutable.Buffer.empty[DataFrame]
    def releaseRoundCaches(): Unit = {
      pendingUnpersist.foreach(_.unpersist())
      pendingUnpersist.clear()
    }
    try {
      val edgesPart = edges.repartition(loopParts, col("b")).persist()
      try {
        // initialization fuses the first propagation round: the grouping
        // that enumerates the node set also yields each node's min
        // neighbor, so label₀ = min(self, neighbors) costs nothing extra
        // and saves one full join+checkpoint round. Lazy checkpoint: the
        // first round's convergence count materializes it in the same job.
        //
        // Durability (100 TB): the default localCheckpoint stores
        // unreplicated executor-local blocks — on a real cluster a lost
        // executor mid-fixpoint fails the query instead of recomputing
        // (lineage is truncated). The right trade on the local bench and
        // for short fixpoints; long cluster runs that must survive
        // executor loss pass `checkpointDir` (HDFS/S3) and each round
        // writes a RELIABLE checkpoint instead — identical results,
        // plus one distributed write per round. Each round's table is
        // persisted BEFORE the reliable checkpoint (Dataset.checkpoint
        // recomputes its plan to write the files; uncached that would
        // run every round twice) and the cache is dropped as soon as
        // the round's count has materialized the checkpoint — after
        // that, reads come from the checkpoint files. Caveats, by
        // design of Spark's seam: setCheckpointDir mutates the SHARED
        // SparkContext, and the per-round checkpoint directories
        // accumulate until the context's usual cleanup
        // (spark.cleaner.referenceTracking.cleanCheckpoints, or job
        // teardown) — the durability artifact, not a leak.
        val roundCkpt: DataFrame => DataFrame = checkpointDir match {
          case Some(dir) =>
            fix.sparkContext.setCheckpointDir(dir)
            df => {
              val cached = df.persist()
              pendingUnpersist += cached
              cached.checkpoint(eager = false)
            }
          case None => df => df.localCheckpoint(eager = false)
        }
        var labels = roundCkpt(edgesPart.groupBy(col("a"))
          .agg(min(col("b")).as("nb"))
          .select(col("a").as("doc_id"), least(col("a"), col("nb")).as("cluster_id")))
        var converged = false
        var i = 0
        while (!converged && i < maxIters) {
          // fused propagate: each node's own label and its neighbors'
          // labels meet in ONE union → min-aggregation (2 shuffles per
          // round) instead of join → agg → second join back (3). The
          // old label rides along as `min(own value)` so the changed
          // flag needs no extra join. Semantics identical to the
          // join form: a node with no neighbor contributions keeps its
          // own label, changed = false.
          val contrib = edgesPart
            .join(labels.select(col("doc_id").as("b"), col("cluster_id").as("nl")), Seq("b"))
            .select(col("a").as("doc_id"), col("nl").as("v"), lit(false).as("own"))
            .unionByName(labels.select(col("doc_id"), col("cluster_id").as("v"),
              lit(true).as("own")))
          val updated = roundCkpt(contrib.groupBy(col("doc_id"))
            .agg(min(col("v")).as("cluster_id"),
              min(when(col("own"), col("v"))).as("old_label"))
            .select(col("doc_id"), col("cluster_id"),
              (col("cluster_id") < col("old_label")).as("changed"))) // truncate lineage: O(1) plan depth per round
          // ONE job per round: the full count (filter needs every
          // partition, no limit short-circuit) both materializes the lazy
          // checkpoint and decides convergence — the previous
          // eager-checkpoint + probe pair cost two scheduler round-trips
          // per round, the dominant term of BENCH_r04's q33. Rounds are
          // bounded by component diameter (12 at sf0.1's 672-pair
          // chains — pointer-jumping was tried and rejected: it doubles
          // reach along the LABEL forest, not the graph, and saved only
          // 2 of 12 rounds while adding a join to every round).
          converged = updated.filter(col("changed")).count() == 0L
          // the count materialized this round's checkpoint(s) — their
          // build caches are now redundant (reads hit the checkpoint),
          // and in LOCAL mode the superseded round's corpus-sized
          // checkpoint blocks are too (reliable mode reads files; its
          // per-round caches are the pendingUnpersist entries above)
          releaseRoundCaches()
          if (checkpointDir.isEmpty) Caches.freeLocalCheckpoint(labels)
          labels = updated.drop("changed")
          i += 1
        }
        if (!converged)
          throw new IllegalStateException(
            s"connectedComponents did not converge in $maxIters rounds — " +
              "component diameter exceeds maxIters; raise maxIters")
        // hand the fixpoint back as a caller-session DataFrame: labels
        // is localCheckpointed (already an RDD of materialized blocks),
        // so this is a zero-recompute re-wrap, and downstream plans
        // never mix logical trees from two sessions
        spark.createDataFrame(labels.rdd, labels.schema)
      } finally {
        releaseRoundCaches() // no-op on success; a thrown round's build caches on failure
        edgesPart.unpersist()
        ()
      }
    } finally {
      p.unpersist()
      ()
    }
  }

  /** Shared last step of both drop-list operators (text q32, vector
    * q33): enrich the full id table with its component label and the
    * min-id survivor verdict. No broadcast hint: the drop-list is tiny
    * on low-duplication corpora (AQE picks a broadcast join from the
    * runtime size) but corpus-proportional on heavily duplicated ones,
    * where forcing a broadcast would OOM — the planner must stay free
    * to shuffle. */
  private[graft] def dropList(ids: DataFrame, comp: DataFrame, idCol: String): DataFrame =
    ids
      .join(comp.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
      .withColumn("keep", col("cluster_id") === col(idCol))
      .orderBy(col(idCol))

  /** q32 — near-dup group resolution: the dedup pipeline's LAST step.
    * q20's pair stream → connected components → min-doc_id survivor
    * per cluster, emitted as a full-corpus drop-list: every document
    * gets (doc_id, cluster_id, keep) — singletons are their own
    * cluster and always survive; in a duplicate cluster exactly the
    * minimum doc_id has keep = true.
    *
    * The components table is O(#docs-in-pairs); the enrichment join
    * is planned by size at runtime (see [[dropList]]). Pass
    * `checkpointDir` for a cluster-durable fixpoint
    * ([[connectedComponents]]). */
  def nearDupClusters(spark: SparkSession, dir: String,
                      checkpointDir: Option[String] = None): DataFrame =
    dropList(
      Tables.documents(spark, dir).select(col("doc_id")),
      connectedComponents(
        jaccardPairsRaw(spark, dir, 0.2).select(col("d1"), col("d2")),
        checkpointDir = checkpointDir),
      "doc_id")

  /** q35 — corpus curation: the dedup/quality family composed into the
    * ONE drop-list a training-data pipeline actually applies. Per
    * document: (doc_id, keep, reason), reason by precedence
    *  1. `exact_dup`  — not the min-doc_id survivor of its normalized
    *     content hash ([[exactDedup]] semantics);
    *  2. `near_dup`   — dropped by the q32 cluster resolution
    *     ([[nearDupClusters]] keep = false);
    *  3. `too_short`  — fewer than 5 whitespace tokens
    *     (the q23 token rule);
    *  4. `kept`.
    *
    * Plan: the three verdict columns are independent subtrees joined
    * on doc_id — one hash-group for exact, the q32 pipeline for near
    * (collision-proportional, never all-pairs), a per-row codegen
    * token count — so the composition adds no shuffle beyond its
    * parts and survives the same 100 TB argument each part makes. */
  def curateCorpus(spark: SparkSession, dir: String,
                   checkpointDir: Option[String] = None): DataFrame = {
    // exact-dup and too-short verdicts share ONE documents scan (both
    // are per-row + one window over content_hash); only the near-dup
    // verdict needs its own pipeline
    val exactShort = Tables.documents(spark, dir)
      .select(col("doc_id"), sha2(normText(col("text")), 256).as("content_hash"),
        (textStats(col("text")).getField("n_tokens") < 5).as("too_short"))
      .withColumn("hash_min",
        min(col("doc_id")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("content_hash"))))
      .select(col("doc_id"), (col("doc_id") =!= col("hash_min")).as("exact_dup"),
        col("too_short"))
    val near = nearDupClusters(spark, dir, checkpointDir)
      .select(col("doc_id"), (!col("keep")).as("near_dup"))
    val reason = when(col("exact_dup"), "exact_dup")
      .when(col("near_dup"), "near_dup")
      .when(col("too_short"), "too_short")
      .otherwise("kept")
    exactShort.join(near, Seq("doc_id"))
      .select(col("doc_id"),
        (!col("exact_dup") && !col("near_dup") && !col("too_short")).as("keep"),
        reason.as("reason"))
      .orderBy(col("doc_id"))
  }

  /** q42 — quality-aware dedup resolution: q32's clusters resolved by
    * KEEPING THE BEST document (most whitespace tokens, ties → lowest
    * doc_id) instead of the lowest doc_id. Min-id survivors are the
    * right conformance default (they mirror the reference's min-wins
    * dict semantics), but a training pipeline usually wants the
    * longest/highest-quality copy of each near-dup group — truncated
    * mirrors and snippet pages lose to the full document. Emits the
    * full-corpus drop-list: (doc_id, cluster_id, n_tokens, keep).
    *
    * Plan shape at 100 TB: token counts are per-row codegen on the
    * scan ([[graft.functions.TextStats]]); the per-cluster argmax is
    * a struct-max HASH AGGREGATE over component members (max over
    * (n_tokens, −doc_id) ≡ the (n_tokens DESC, doc_id ASC) winner)
    * joined back to the members — map-side partials collapse each
    * cluster to one row before the exchange, and NO sort-window state
    * ever materializes (the previous row_number window buffered whole
    * clusters per task; at the sf10 federation's 1M docs that state
    * was what forced the 64 GB driver heap). Both
    * enrichment joins have a component-sized small side that AQE
    * broadcasts. */
  def clusterKeepBest(spark: SparkSession, dir: String,
                      checkpointDir: Option[String] = None): DataFrame = {
    val comp = connectedComponents(
      jaccardPairsRaw(spark, dir, 0.2).select(col("d1"), col("d2")),
      checkpointDir = checkpointDir)
    // persisted: feeds the member join AND the final enrichment join —
    // uncached, the documents scan + text_stats pass would run twice
    val toks = Caches.persist(Tables.documents(spark, dir)
      .select(col("doc_id"), textStats(col("text")).getField("n_tokens").as("n_tokens")))
    // members persisted: feeds the best-aggregate and the keep-verdict
    // join; both are cluster-keyed so the exchange is reused
    val members = Caches.persist(comp.join(toks, Seq("doc_id")))
    // struct max orders lexicographically: most tokens first, then
    // max(−doc_id) = the LOWEST doc_id — exactly the old window's
    // (n_tokens DESC, doc_id ASC) rank-1 row (q42's oracle +
    // LlmOpsSpec pin the tie-break)
    val best = members.groupBy(col("cluster_id"))
      .agg(max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("cluster_id"), (-col("b.neg_id")).as("best_doc"))
    val verdict = members.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("best_doc")).as("keep_m"))
    toks.join(verdict, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("n_tokens"),
        coalesce(col("keep_m"), lit(true)).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** q38 — benchmark decontamination: the training-data stage that
    * finds corpus documents overlapping an evaluation/benchmark set
    * (here: doc_id % 50 == 0, the q27 query-subset
    * convention; in production the benchmark side is its own table —
    * same plan). For every non-benchmark document sharing enough
    * n-gram mass with ANY benchmark document, emit its single
    * best-matching benchmark doc: (doc_id, bench_id, inter, jaccard).
    *
    * Same scale guards as [[jaccardPairsRaw]] (shared shingle cache,
    * document-frequency cap before the join), but the join is
    * corpus × BENCHMARK — the benchmark side is evaluation-set-sized,
    * so candidate generation is linear in the corpus even where the
    * full self-join would be quadratic. The benchmark subset is
    * additionally CAPPED at doc_id < benchMod·1024 (the q71 probe-cap
    * pattern): without it the `% benchMod` convention grows
    * the benchmark side ∝ corpus, self-violating the "benchmark is
    * eval-set-sized" premise the linearity argument rests on (the
    * 3.42× decade ratio bench/SCALING_r08.md measured). ≤1,024 bench
    * docs at any scale factor; a production benchmark is its own
    * bounded table and needs no cap. */
  /** q75 — per-document n-gram NOVELTY of the held-out split against
    * the train split (the q36/q72 hash-stable 80/20 rule): for every
    * eval doc, the fraction of its distinct 3-gram shingles NOT seen
    * anywhere in train. The leakage diagnostic that complements q38:
    * q38 names the best-matching benchmark doc per contaminated
    * document; novelty scores EVERY held-out doc on a 0..1 scale
    * (0 = fully memorizable from train, 1 = fully novel), which is
    * what an eval-set audit thresholds on.
    *
    * Plan shape at 100 TB: the row-local [[shingles]] explode (zero
    * pre-exchange), the train side reduced to a DISTINCT shingle set
    * (shingle-keyed shuffle with map-side partials — linear in corpus
    * shingles), one shingle-keyed left join carrying an indicator,
    * and a per-doc roll-up whose map-side partials collapse each
    * doc's shingles before the exchange. novelty = 1 − seen/n is a
    * single IEEE division of exact integers — bit-deterministic on
    * any engine or partitioning. Short (<n-token) docs have no
    * shingles and no row, the q20-family rule. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = Caches.persist(shingles(Tables.documents(spark, dir)))
    val train = sh.filter(col("doc_id") % 10 < 8)
      .select(col("shingle")).distinct().withColumn("seen", lit(1L))
    sh.filter(col("doc_id") % 10 >= 8)
      .join(train, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
      .withColumn("novelty",
        lit(1.0) - col("n_seen").cast("double") / col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  def benchmarkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val (sh, sizes) = cappedShingles(spark, dir)
    overlapBestMatch(sh.filter(col("doc_id") % 50 =!= 0), benchOf(sh), sizes)
  }

  /** The benchmark side of the decontamination pair (q38/q50): every
    * 50th doc, capped at 50·1024 — ONE definition, since the q50
    * oracle is q38's verbatim and the two subset rules must never
    * diverge. The corpus side is every other doc. */
  private def benchOf(sh: DataFrame): DataFrame =
    sh.filter(col("doc_id") % 50 === 0 && col("doc_id") < 50L * 1024)
      .select(col("doc_id").as("bench_id"), col("shingle"))

  /** Shared scoring tail of the decontamination pair (q38/q50): count
    * shared shingles per (corpus doc, bench doc), exact Jaccard from
    * the capped shingle counts, threshold 0.2, argmax bench doc per
    * contaminated corpus doc. */
  private def overlapBestMatch(corpus: DataFrame, bench: DataFrame,
                               sizes: DataFrame): DataFrame = {
    val inter = corpus.join(bench, Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(sizes.withColumnRenamed("n_shingles", "n1"), Seq("doc_id"))
      .join(sizes.select(col("doc_id").as("bench_id"), col("n_shingles").as("n2")),
        Seq("bench_id"))
      .withColumn("jaccard", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") >= 0.2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("jaccard").desc, col("bench_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("bench_id"), col("inter"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** q50 — [[benchmarkOverlap]] with a BLOOM-FILTER pre-filter on the
    * corpus side: the decontamination shape for when the benchmark
    * shingle set is too large to broadcast as a hash relation but its
    * Bloom bits still fit on every executor (say 10⁹ shingles ·
    * 1% fpp ≈ 1.2 GB as a hash set's strings, ~1.1 GB as exact rows,
    * but ~1.2 bytes/item ≈ 1.2 GB→0.15 GB as Bloom bits — an
    * order-of-magnitude smaller broadcast for the same corpus-side
    * reduction). Corpus shingles failing the membership probe are
    * dropped AT THE SCAN, before the shuffle join — at 100 TB the
    * shuffle carries only probable matches, and the exact join then
    * removes the false positives, so the RESULT is provably identical
    * to [[benchmarkOverlap]]: Bloom filters have no false negatives
    * (every true match survives the pre-filter), and every false
    * positive joins against the real benchmark table and disappears.
    * The q50 oracle is therefore q38's oracle verbatim — the
    * certification that the scale path changes the plan, not the
    * answer.
    *
    * The probe is a closure over broadcast Bloom bits (a UDF — no
    * Catalyst expression can host driver-built sketch state); it sits
    * on a single already-pruned string column behind the scan filter,
    * OUTSIDE the join/aggregate hot path, mirroring the seam Spark's
    * own runtime row-level bloom join filters use. */
  def benchmarkOverlapBloom(spark: SparkSession, dir: String,
                            fpp: Double = 0.01): DataFrame = {
    val (sh, sizes) = cappedShingles(spark, dir)
    val bench = benchOf(sh)
    // expectedNumItems = DISTINCT bench shingles off the cached
    // shingle table (benchmark-set-sized): sizing from the real
    // cardinality keeps the fpp honest in both directions — an
    // undersized filter degrades silently toward pass-everything
    // (still correct, no reduction), an occurrence-count overestimate
    // allocates broadcast bytes every executor pays for nothing. The
    // broadcast itself is GC-scoped (torn down with the closure when
    // the returned plan is released), matching how Spark's own
    // runtime bloom join filters manage theirs.
    val nBench = math.max(1L, bench.select(col("shingle")).distinct().count())
    val bloom = bench.stat.bloomFilter("shingle", nBench, fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightMatch = udf((s: String) => s != null && bloomBc.value.mightContain(s))
    val corpus = sh.filter(col("doc_id") % 50 =!= 0)
      .filter(mightMatch(col("shingle")))
    overlapBestMatch(corpus, bench, sizes)
  }

  /** q44 — cross-source duplication report: q20's near-dup pairs
    * rolled up to the (source, source) level — the diagnostic that
    * tells a curation team WHICH sources mirror each other (and how
    * strongly) before they decide drop policies. Pair endpoints are
    * source-ordered (least/greatest) so A↔B and B↔A aggregate
    * together; `max_jaccard` is an order-independent aggregate (an
    * avg of doubles would hash differently per summation order).
    *
    * Scale: the pair stream is collision-proportional (q20's guards);
    * the two source lookups join it against the (doc_id, source)
    * projection with NO broadcast hint — on low-duplication corpora
    * the pair side is small and AQE broadcasts it from runtime sizes,
    * on duplicate-heavy ones both sides can be large and the planner
    * must stay free to shuffle (the [[dropList]] argument). The final
    * rollup is #source²-bounded, tiny by construction. */
  def crossSourceDupReport(spark: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairsRaw(spark, dir, 0.2)
      .select(col("d1"), col("d2"), col("jaccard"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), Seq("d1"))
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), Seq("d2"))
      .select(least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"), col("jaccard"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q56 — exact duplicated-substring removal (the span-level dedup of
    * Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better": drop every occurrence of any ≥k-token span (k = 8) that
    * appears more than once in the corpus). Exact dedup (q19) removes
    * whole-document copies; this removes the shared boilerplate
    * — license headers, navigation chrome, quoted passages — that
    * survives document-level dedup because the surrounding text
    * differs. Semantics: a k-token shingle occurring ≥2 times anywhere
    * (across documents OR repeated within one) marks every token of
    * every occurrence for removal; survivors re-join with single
    * spaces. ALL occurrences are removed, per the paper — run q19
    * first if one canonical copy should survive.
    *
    * The reference paper builds a suffix array; single-node and
    * sequential. The Spark-first shape is three shuffles, all linear:
    *  1. positional shingles (codegen [[graft.functions.ShingleList]]
    *     + posexplode — no window, no lambda) hash-aggregated by
    *     shingle with map-side partials to find the duplicated ones;
    *  2. the same shingle table joined back on shingle (AQE skew-join
    *     spreads boilerplate-heavy shingles) → span starts per doc;
    *  3. starts collected per doc_id and joined to the documents scan,
    *     where the codegen [[graft.functions.RemoveSpans]] expression
    *     merges overlapping spans and rebuilds the cleaned text in one
    *     byte scan — the corpus itself is never exploded per-position
    *     and never crosses the network.
    * The shingle table is persisted (feeds the df-count AND the
    * join-back; recomputing the scan→shingle subtree twice is a
    * full-input tax at 100 TB). */
  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val docs = Tables.documents(spark, dir)
    val sh = Caches.persist(
      docs.select(col("doc_id"),
        posexplode(shingleList(col("text"), k)).as(Seq("spos", "shingle"))))
    val dup = sh.groupBy(col("shingle")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("shingle"))
    val starts = sh.join(dup, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("spos"))).as("starts"))
    docs.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        removeSpans(col("text"), coalesce(col("starts"), array().cast("array<int>")), k).as("r"))
      .select(col("doc_id"),
        col("r.n_tokens").cast("long").as("n_tokens"),
        col("r.n_kept").cast("long").as("n_kept"),
        col("r.text_clean").as("text_clean"))
      .orderBy(col("doc_id"))
  }

  val MinhashK = 16

  /** One pinned MinHash function: min over shingles of the portable
    * hash of `"<seed>:<shingle>"`. */
  private def minhashAgg(seed: Int): Column =
    min(portableHash64(concat_ws(":", lit(seed), col("shingle")))).as(f"mh$seed%02d")

  /** q21 part 1 — MinHash signatures: (doc_id, sig: array<long>[16]).
    * One shuffle by doc_id; all 16 mins fold map-side. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(Tables.documents(spark, dir))
    val aggs = (0 until MinhashK).map(minhashAgg)
    sh.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashK).map(i => col(f"mh$i%02d")): _*).as("sig"))
  }

  /** q21 — LSH banding over the MinHash signatures: 4 bands × 4 rows;
    * docs sharing any band hash become candidate pairs; est_sim =
    * fraction of equal signature positions. The join key is the band
    * hash — collision-proportional cost, AQE skew-join for hot buckets
    * (e.g. boilerplate-heavy corpora). */
  def lshCandidatePairs(spark: SparkSession, dir: String): DataFrame = {
    // persist: sig feeds the band explode (self-joined as x AND y) plus
    // the two signature re-joins — uncached, the shingles→16-way-md5
    // agg subtree would execute ~5× (109 s at sf0.1).
    // One materialization, four cheap cache scans.
    val sig = Caches.persist(minhashSignatures(spark, dir))
    val bandKey = (b: Int) =>
      md5(concat_ws(",", (0 until 4).map(r => element_at(col("sig"), b * 4 + r + 1)): _*))
    val bands = sig.select(col("doc_id") +: (0 until 4).map(b => bandKey(b).as(s"band$b")): _*)
      .select(col("doc_id"), explode(array(
        (0 until 4).map(b => struct(lit(b).as("b"), col(s"band$b").as("h"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.b").as("band"), col("bk.h").as("bhash"))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    cand
      .join(sig.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sig.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .withColumn("n_equal",
        aggregate(zip_with(col("sig1"), col("sig2"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v))
      .withColumn("est_sim", col("n_equal") / lit(MinhashK.toDouble))
      .select(col("d1"), col("d2"), col("n_equal"), col("est_sim"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Fuzzy-dedup key: the whitespace-collapsed lowercase prefix —
    * CHARACTER-level matching wants a bounded key (edit distance is
    * O(|a|·|b|) per pair; production fuzzy dedup runs on titles/URLs/
    * prefixes, never whole documents). 40 chars ≈ the first 6-7
    * words. */
  val FuzzyKeyLen = 40

  /** Block key length: candidates must share a 4-char prefix OR a
    * 4-char suffix of the key (two independent blocking passes — the
    * q21 banding idea at the character level: an edit at one end of
    * the key still collides at the other). */
  val FuzzyBlockLen = 4

  /** Hot-block cap (the q20 maxDf rule at the block level): a block
    * shared by more than this many keys is candidate-generation
    * noise (a boilerplate prefix like "the "), and its |block|² pair
    * cost is exactly the quadratic blowup blocking exists to avoid —
    * drop the block, keep the bound. Binding at oracle SF (the
    * 40-member top block is excluded; LlmOpsSpec pins it). */
  val FuzzyMaxBlock = 32

  /** Default edit-distance threshold, calibrated to the driver
    * corpus: its word-level near-dups sit at distance 16-18 on the
    * 40-char key (exact dups at 0; unrelated template pairs from 19
    * up), so 18 keeps true near-dups and exercises non-trivial DP
    * distances. The q94 oracle reads this value; a title-dedup
    * deployment would pass τ of 2-3 on short keys to
    * [[fuzzyDupPairsOf]]. */
  val FuzzyTau = 18

  /** q94 — FUZZY near-dup pairs by bounded edit distance (the
    * character-level member of the dedup family: q19 exact hash /
    * q20 token Jaccard / q21 MinHash / q22 SimHash / q29 embedding
    * cosine — this one catches typo-grade and OCR-grade variants
    * token methods miss, the classic blocked record-linkage shape,
    * Gravano 2001 approximate string joins): normalize each doc to
    * its [[FuzzyKeyLen]]-char key, generate candidates through TWO
    * block passes (key prefix and key suffix, [[FuzzyBlockLen]]
    * chars), cap hot blocks at [[FuzzyMaxBlock]], then score ONLY
    * colliding pairs with Levenshtein ≤ `tau`.
    *
    * Plan shape at 100 TB: block-key equi-self-join (shuffle on the
    * 4-char block — collision-proportional like q20/q21), the cap
    * killing boilerplate blocks BEFORE the quadratic pair expansion;
    * the DP scoring uses Spark's threshold-bounded levenshtein
    * (early-abandons rows past `tau` instead of filling the full
    * matrix). Recall < 1 by design (a pair edited at BOTH ends of
    * the key escapes both blocks) — the oracle replays the same
    * blocking, and LlmOpsSpec measures the miss against the
    * unblocked truth.
    *
    * `midBlock` adds the THIRD pass — the middle
    * [[FuzzyBlockLen]]-gram of the key (chars 19-22 of 40) — which
    * rescues exactly the documented miss class: a pair edited at
    * BOTH ends whose middle survives. Cost is one more shuffle of
    * the key relation plus the extra collisions (the dial table in
    * bench/SCALING_r13.md quantifies recall bought per candidate
    * generated). OFF by default: the q94 oracle replays 2-pass
    * blocking, and the default must stay oracle-stable. Keys shorter
    * than the middle window contribute a short-or-empty mid block;
    * boilerplate-heavy short corpora are exactly what the hot-block
    * cap already bounds. */
  def fuzzyDupPairs(spark: SparkSession, dir: String,
                    midBlock: Boolean = false): DataFrame =
    fuzzyDupPairsOf(Tables.documents(spark, dir), FuzzyTau, midBlock)

  /** [[fuzzyDupPairs]] over an explicit (doc_id, text) relation —
    * the fixture seam. */
  def fuzzyDupPairsOf(docs: DataFrame, tau: Int = FuzzyTau,
                      midBlock: Boolean = false): DataFrame = {
    require(tau >= 0, "tau must be non-negative")
    val keys = docs.select(col("doc_id"),
      substring(regexp_replace(lower(col("text")), "\\s+", " "), 1, FuzzyKeyLen).as("key"))
    // two blocking passes (three with midBlock), deduped: a key whose
    // prefix equals its suffix block must not self-collide twice
    val twoPass = keys.withColumn("blk", substring(col("key"), 1, FuzzyBlockLen))
      .unionByName(keys.withColumn("blk", expr(s"right(key, $FuzzyBlockLen)")))
    // the mid pass lives in its OWN block namespace (the "m|" tag —
    // 6 chars, so it can never equal a 4-char prefix/suffix gram):
    // untagged, mid grams would inflate the SHARED block populations
    // past the hot cap and silently DROP prefix/suffix collisions the
    // 2-pass default had found — measured at sf0.1 before the tag,
    // the "extra" pass cost 23% of the 2-pass pairs. Tagged, the pass
    // is monotone: it only ever adds mid-to-mid candidates
    // (LlmOpsSpec asserts pairs(2-pass) ⊆ pairs(3-pass) on the
    // hot-block fixture AND at sf0.01); the incidental cross-pass
    // collisions (one key's mid equal to another's prefix) are
    // deliberately not candidates.
    val allPass = if (!midBlock) twoPass
    else twoPass.unionByName(keys.withColumn("blk",
      concat(lit("m|"), substring(col("key"),
        (FuzzyKeyLen - FuzzyBlockLen) / 2 + 1, FuzzyBlockLen))))
    val blocks = Caches.persist(allPass.distinct())
    val ok = blocks.groupBy(col("blk")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= FuzzyMaxBlock).select(col("blk"))
    val bb = blocks.join(ok, Seq("blk"))
    val cand = bb.select(col("blk"), col("doc_id").as("d1"), col("key").as("k1"))
      .join(bb.select(col("blk"), col("doc_id").as("d2"), col("key").as("k2")), Seq("blk"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("k1"), col("k2"))
      .distinct()
    cand
      .withColumn("dist", levenshtein(col("k1"), col("k2"), tau).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("d1"), col("d2"), col("dist"))
      .orderBy(col("d1"), col("d2"))
  }
}
