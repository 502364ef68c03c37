package graft

import graft.ops.LlmOps
import org.apache.spark.sql.functions._

/** Dedup-family semantics on inline corpora: survivor choice, shingle
  * construction, Jaccard math, MinHash signature invariants, and the
  * LSH-catches-near-dups / rejects-unrelated property. */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  test("normText collapses whitespace and case before hashing") {
    val got = Seq("  Foo   BAR baz ", "foo bar baz").toDF("text")
      .select(LlmOps.normText(col("text"))).as[String].collect()
    assert(got(0) === got(1))
  }

  test("shingles: 3-grams, distinct, none for short docs") {
    val docs = Seq(
      (1L, "a b c d"),   // 2 shingles
      (2L, "a b"),       // too short → none
      (3L, "x y z x y z x y z") // repeated shingles collapse
    ).toDF("doc_id", "text")
    val sh = LlmOps.shingles(docs).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sh.filter(_._1 == 1L).map(_._2).sorted === Seq("a b c", "b c d"))
    assert(!sh.exists(_._1 == 2L))
    // 9 tokens → 7 positions but only 3 distinct shingles
    assert(sh.filter(_._1 == 3L).map(_._2).sorted === Seq("x y z", "y z x", "z x y"))
  }

  test("MinHashAgg typed UDAF: bit-parity with the declarative 16-min signatures") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val minhashSig = udaf(new graft.functions.MinHashAgg(LlmOps.MinhashK))
    val viaUdaf = LlmOps.shingles(graft.ops.Tables.documents(spark, dir))
      .groupBy(col("doc_id")).agg(minhashSig(col("shingle")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val declarative = LlmOps.minhashSignatures(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaUdaf.keySet == declarative.keySet && viaUdaf.nonEmpty)
    viaUdaf.foreach { case (id, sig) =>
      assert(sig == declarative(id), s"signature mismatch for doc $id")
    }
  }

  test("jaccard pairs: identical docs hit 1.0, disjoint docs absent") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", lit(0L))
    val dir = writeDocsFixture(docs)
    val pairs = LlmOps.jaccardPairs(spark, dir).collect()
    assert(pairs.length === 1)
    assert(pairs(0).getLong(0) === 1L && pairs(0).getLong(1) === 2L)
    assert(pairs(0).getDouble(5) === 1.0)
  }

  test("minhash: identical shingle sets → identical signatures; LSH pairs them") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", lit(0L))
    val dir = writeDocsFixture(docs)
    val sigs = LlmOps.minhashSignatures(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
    assert(sigs(1L).length === LlmOps.MinhashK)
    val cand = LlmOps.lshCandidatePairs(spark, dir).collect()
    assert(cand.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(cand(0).getInt(2) === LlmOps.MinhashK) // all positions equal
    assert(cand(0).getDouble(3) === 1.0)
  }

  test("connectedComponents: chain propagates min label over multiple hops") {
    // 1-2-3-4 is a diameter-3 chain (forces >1 propagation round);
    // 7-8 is a separate component; 9 never appears in a pair.
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (7L, 8L)).toDF("d1", "d2")
    val comp = LlmOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents: 600k-pair graph exercises the multi-partition loop") {
    // above 500k pairs loopParts exceeds 1, so the fixpoint runs with
    // genuinely partitioned shuffles (the 100 TB code path) — every
    // other spec stays in the 1-partition fast path. Triangle chains
    // (3i, 3i+1) (3i+1, 3i+2): 600k pairs, 300k components.
    // maxDriverPairs = 0 pins the DISTRIBUTED path: 600k pairs would
    // otherwise take the driver union-find and never touch the loop.
    val n = 900000L
    val pairs = spark.range(n)
      .select((col("id") - col("id") % 3).as("base"), (col("id") % 3).as("off"))
      .filter(col("off") < 2)
      .select((col("base") + col("off")).as("d1"), (col("base") + col("off") + 1).as("d2"))
    val comp = LlmOps.connectedComponents(pairs, maxDriverPairs = 0L)
    val bad = comp.filter(col("cluster_id") =!= col("doc_id") - col("doc_id") % 3).count()
    val total = comp.count()
    assert(bad == 0L, s"$bad nodes got a wrong component label")
    assert(total == n, s"expected $n labeled nodes, got $total")
    // the loop must leave the session partition setting untouched
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("connectedComponents: reliable-checkpoint mode equals localCheckpoint mode") {
    // the cluster-durability knob (VERDICT r6 #3): same fixpoint, each
    // round writing a RELIABLE checkpoint to a directory instead of
    // unreplicated executor-local blocks — results must be identical,
    // and the checkpoint dir must actually receive the round files.
    val ckptDir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    // multi-hop chain + separate component, forcing >1 round
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (7L, 8L)).toDF("d1", "d2")
    def rel(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = rel(LlmOps.connectedComponents(pairs))
    val durable = rel(LlmOps.connectedComponents(pairs, checkpointDir = Some(ckptDir)))
    assert(durable === local)
    assert(durable === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
    // reliable checkpoints were really written (not silently local)
    def countFiles(p: java.io.File): Int =
      if (p.isDirectory) p.listFiles().map(countFiles).sum else 1
    assert(countFiles(new java.io.File(ckptDir)) > 0,
      "checkpointDir received no reliable-checkpoint files")
    // and the q32-shaped composition accepts the knob end-to-end
    val dup = "the quick brown fox jumps over the lazy dog again today"
    val docs = Seq((4L, dup), (2L, dup), (9L, "totally unrelated content this row"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", lit(0L))
    val dir = writeDocsFixture(docs)
    val plainQ32 = rel(LlmOps.nearDupClusters(spark, dir).select("doc_id", "cluster_id"))
    val durableQ32 = rel(LlmOps.nearDupClusters(spark, dir, checkpointDir = Some(ckptDir))
      .select("doc_id", "cluster_id"))
    assert(durableQ32 === plainQ32)
  }

  test("connectedComponents throws when maxIters is below the diameter") {
    // maxDriverPairs = 0: maxIters bounds the DISTRIBUTED fixpoint (the
    // driver union-find has no rounds), so the guard under test needs
    // the loop path forced
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("d1", "d2")
    intercept[IllegalStateException] {
      LlmOps.connectedComponents(pairs, maxIters = 1, maxDriverPairs = 0L)
    }
  }

  test("unionFindLabels matches a plain-Scala BFS model on random graphs") {
    // pure unit test of the fast path's kernel, no Spark: 60 seeded
    // random graphs of varying density vs an obviously-correct BFS
    // labeler (min member per component)
    var seed = 42L
    def next(bound: Int): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 17, bound.toLong)
    }
    for (trial <- 1 to 60) {
      val nNodes = 2 + next(40).toInt
      val nEdges = 1 + next(60).toInt
      // sparse ids (×1000 + offset) so dense-index remapping is exercised
      val edges = Array.fill(nEdges)((next(nNodes) * 1000 + 7, next(nNodes) * 1000 + 7))
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def bfsLabel(start: Long): Long = {
        var frontier = Set(start); var seen = Set(start)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
          seen ++= frontier
        }
        seen.min
      }
      val expected = adj.keys.map(k => k -> bfsLabel(k)).toMap
      val got = LlmOps.unionFindLabels(edges).toMap
      assert(got === expected, s"trial $trial: ${edges.toSeq}")
    }
  }

  test("connectedComponents: driver union-find equals the distributed fixpoint") {
    // cross-path identity on an adversarial graph: long chains (deep
    // diameter), a star (dense shallow), singleton-free random unions —
    // deterministic LCG so the spec is stable. The fast path's gate is
    // the pair count, so the SAME input runs both paths via the knob.
    var seed = 0x5DEECE66DL
    def nextLong(bound: Long): Long = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      math.floorMod(seed >>> 16, bound)
    }
    val chain = (0 until 40).map(i => (100L + i, 101L + i))
    val star = (1 to 30).map(i => (5000L, 5000L + i))
    val rand = (1 to 400).map(_ => (nextLong(300), nextLong(300)))
    val pairs = (chain ++ star ++ rand).toDF("d1", "d2")
    def rel(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = rel(LlmOps.connectedComponents(pairs))
    val dist = rel(LlmOps.connectedComponents(pairs, maxDriverPairs = 0L))
    assert(driver === dist)
    // and each component label really is its min member
    val byCluster = driver.groupBy(_._2).view.mapValues(_.keys.min).toMap
    byCluster.foreach { case (label, minMember) => assert(label === minMember) }
  }

  test("connectedComponents releases every scoped persist, also on the throw paths") {
    // the failure path is the one the durability knob exists for: a
    // fixpoint that dies mid-fixpoint must not leave its per-round
    // build caches resident on the long-lived shared SparkContext
    val ckptDir = java.nio.file.Files.createTempDirectory("cc-leak").toString
    // compare RDD-id SETS, not counts: the ContextCleaner may
    // asynchronously unpersist GC'd leftovers from earlier tests
    // mid-run, so only NEW surviving ids indicate a leak here
    def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("d1", "d2")
    val before = persistedIds
    // detector sanity: a materialized Dataset.persist must be visible
    // to getPersistentRDDs, else the assertions below are vacuous
    val probe = Seq(1).toDF("x").persist()
    probe.count()
    assert((persistedIds -- before).nonEmpty, "probe persist invisible — leak detector broken")
    probe.unpersist()
    LlmOps.connectedComponents(pairs, checkpointDir = Some(ckptDir)).collect()
    assert((persistedIds -- before).isEmpty, "success path leaked a scoped persist")
    // maxIters = 1: one full round materializes its caches, then the
    // non-convergence throw exits through the finally
    intercept[IllegalStateException] {
      LlmOps.connectedComponents(pairs, maxIters = 1, checkpointDir = Some(ckptDir))
    }
    assert((persistedIds -- before).isEmpty, "non-convergence throw leaked a scoped persist")
    // maxIters = 0: label-init's persist is registered but never
    // counted — the throw must still release it
    intercept[IllegalStateException] {
      LlmOps.connectedComponents(pairs, maxIters = 0, checkpointDir = Some(ckptDir))
    }
    assert((persistedIds -- before).isEmpty, "pre-loop throw leaked a scoped persist")
    // the driver fast path (no checkpointDir, tiny graph) has its own
    // scoped pair persist + finally — it must release too
    LlmOps.connectedComponents(pairs).collect()
    assert((persistedIds -- before).isEmpty, "driver fast path leaked the pair persist")
  }

  test("nearDupClusters: duplicate cluster keeps min doc_id, singletons survive") {
    val dup = "the quick brown fox jumps over the lazy dog again today"
    val docs = Seq(
      (4L, dup), (2L, dup), (9L, dup),
      (5L, "completely different words entirely here now for sure indeed")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", lit(0L))
    val dir = writeDocsFixture(docs)
    val got = LlmOps.nearDupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got === Seq((2L, 2L, true), (4L, 2L, false), (5L, 5L, true), (9L, 2L, false)))
  }

  test("clusterKeepBest: survivor is the longest doc, not the min id; singletons keep") {
    val base = "the quick brown fox jumps over the lazy dog again today"
    val docs = Seq(
      (2L, base), (9L, base),                               // 11 tokens each
      (4L, base + " with extra trailing words appended here"), // 17 tokens — the best
      (5L, "completely different words entirely here now for sure indeed")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", lit(0L))
    val dir = writeDocsFixture(docs)
    // sanity: same cluster as the min-id resolution...
    val minId = LlmOps.nearDupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.ops.Caches.releaseAll(spark)
    assert(minId === Map(2L -> 2L, 4L -> 2L, 9L -> 2L, 5L -> 5L))
    // ...but the keep flag goes to the token-count argmax (doc 4),
    // min doc_id only breaking ties (9 loses to 2 on nothing here)
    val got = LlmOps.clusterKeepBest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got === Seq((2L, 2L, 11L, false), (4L, 2L, 17L, true),
      (5L, 5L, 9L, true), (9L, 2L, 11L, false)))
    graft.ops.Caches.releaseAll(spark)
  }

  test("crossSourceDupReport: pairs roll up to ordered source pairs") {
    val dup = "the quick brown fox jumps over the lazy dog again today"
    val docs = Seq(
      (1L, dup, "srcA"), (2L, dup, "srcB"), (3L, dup, "srcA"),
      (4L, "completely different words entirely here now for sure indeed", "srcB")
    ).toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
      .withColumn("n_chars", lit(0L))
    val dir = writeDocsFixture(docs)
    val got = LlmOps.crossSourceDupReport(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    // pairs (1,2) A↔B, (1,3) A↔A, (2,3) B↔A — endpoints source-ordered
    assert(got == Seq(("srcA", "srcA", 1L, 1.0), ("srcA", "srcB", 2L, 1.0)))
    graft.ops.Caches.releaseAll(spark)
  }

  test("benchmarkOverlapBloom: byte-identical to the exact path (no false negatives)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val exact = LlmOps.benchmarkOverlap(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    graft.ops.Caches.releaseAll(spark)
    // aggressive fpp exercises the false-positive path: FPs enter the
    // join and must vanish against the real benchmark table
    val bloom = LlmOps.benchmarkOverlapBloom(spark, dir, fpp = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(bloom == exact)
    graft.ops.Caches.releaseAll(spark)
  }

  test("substringDedup removes every occurrence of a duplicated span, merging overlaps") {
    // docs 1 and 2 share the 8-token run "one two three four five six
    // seven eight" (doc 2 shifted by one token, so its covered span
    // starts at position 1); doc 3 shares nothing. Unique suffixes
    // survive, the duplicated run is removed from BOTH docs.
    val docs = Seq(
      (1L, "one two three four five six seven eight keep1 keep2"),
      (2L, "lead one two three four five six seven eight tail"),
      (3L, "totally different words with no duplicated span at all")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", lit(0L))
    val dir = writeDocsFixture(docs)
    val got = LlmOps.substringDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((10L, 2L, "keep1 keep2")))
    assert(got(2L) === ((10L, 2L, "lead tail")))
    assert(got(3L) === ((9L, 9L, "totally different words with no duplicated span at all")))
    graft.ops.Caches.releaseAll(spark)
  }

  test("substringDedup: a span repeated WITHIN one doc is removed (both occurrences)") {
    val eight = "a b c d e f g h"
    val docs = Seq(
      (1L, s"$eight middle $eight trailer"),
      (2L, "unrelated text content here entirely fresh words now")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", lit(0L))
    val dir = writeDocsFixture(docs)
    val got = LlmOps.substringDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // 18 tokens; the two 8-token runs go, "middle" and "trailer" stay
    assert(got(1L) === ((18L, 2L, "middle trailer")))
    assert(got(2L)._2 === 8L)
    graft.ops.Caches.releaseAll(spark)
  }

  test("exact dedup keeps the minimum doc_id per content hash") {
    val docs = Seq(
      (7L, "Same   Text"), (3L, "same text"), (9L, "other text")
    ).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", lit(0L))
    val dir = writeDocsFixture(docs)
    val got = LlmOps.exactDedup(spark, dir).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got === Map(3L -> 2L, 9L -> 1L))
  }

  test("ngramNovelty: 0 for memorized, 1 for novel, exact mix, short docs absent") {
    import spark.implicits._
    // train split = doc_id % 10 < 8; eval = the rest
    val docs = Seq(
      (1L, "a b c d e"),          // train: shingles {a b c, b c d, c d e}
      (2L, "x y z w"),            // train: {x y z, y z w}
      (18L, "a b c d e"),         // eval: all three shingles in train → novelty 0
      (28L, "p q r s"),           // eval: none seen → novelty 1
      (38L, "a b c q r s"),       // eval: 1 of 4 seen → novelty 0.75
      (48L, "t u"))               // eval: < 3 tokens → no row
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = writeDocsFixture(docs)
    val got = LlmOps.ngramNovelty(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(18L, 28L, 38L))
    assert(got(18L) == ((3L, 3L, 0.0)))
    assert(got(28L) == ((2L, 0L, 1.0)))
    assert(got(38L) == ((4L, 1L, 0.75)))
    graft.ops.Caches.releaseAll(spark)
  }

  /** LlmOps loads via Tables.documents(dir) — materialize the fixture
    * as a one-file parquet table like the driver testdata. */
  private def writeDocsFixture(df: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("llmops").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Driver-side Levenshtein for the fuzzy-dedup truth. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def fuzzyKey(text: String): String =
    text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").take(LlmOps.FuzzyKeyLen)

  test("fuzzyDupPairsOf laws: middle edits found with exact distance, both-end edits escape blocking, hot blocks drop") {
    // middle edit: same 4-char prefix AND suffix → collides, dist 1
    val d1 = "alpha beta gamma delta"
    val d2 = "alpha beta gamna delta"
    // both-end edit: first AND last 4 chars differ → escapes both blocks
    val d3 = "XXale beta gamma demma"
    val d4 = "YYle beta gamma deltaZZZZ"
    // a hot block: maxBlock+1 docs sharing prefix "hot " and distinct suffixes
    val hot = (100L to (100L + LlmOps.FuzzyMaxBlock)).map(i => (i, s"hot block filler $i${"x" * 30}"))
    val docs = (Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)) ++ hot).toDF("doc_id", "text")
    val got = LlmOps.fuzzyDupPairsOf(docs, tau = 18).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.ops.Caches.releaseAll(spark)
    assert(got.contains((1L, 2L, lev(fuzzyKey(d1), fuzzyKey(d2)).toLong)))
    assert(lev(fuzzyKey(d1), fuzzyKey(d2)) == 1L)
    // 3/4 are within tau of 1/2 on the key but share no block — the
    // documented recall miss
    assert(lev(fuzzyKey(d3), fuzzyKey(d4)) <= 18, "fixture drifted: 3-4 not within tau")
    assert(!got.exists(p => Set(p._1, p._2).contains(3L) || Set(p._1, p._2).contains(4L)))
    // hot-prefix block exceeded the cap → its pairs are dropped even
    // though each pair is within tau... (distinct fillers differ by
    // ~4 chars). Their SUFFIX blocks are distinct, so no rescue.
    assert(!got.exists(p => p._1 >= 100L))
  }

  test("fuzzyDupPairsOf midBlock: a both-ends edit with a surviving middle is rescued by the third pass") {
    // VERDICT r12 #6: the documented 2-pass miss class is an edit at
    // BOTH ends of the key; the middle 4-gram pass catches exactly the
    // members of that class whose middle window survives. Keys built
    // to the letter: chars 1-4 and 37-40 differ (prefix AND suffix
    // blocks miss), chars 19-22 identical (mid block collides),
    // distance 8 ≤ τ.
    val k1 = "aaaa" + "c" * 32 + "xxxx"
    val k2 = "bbbb" + "c" * 32 + "yyyy"
    assert(k1.length == LlmOps.FuzzyKeyLen && lev(k1, k2) == 8)
    val docs = Seq((1L, k1), (2L, k2)).toDF("doc_id", "text")
    val twoPass = LlmOps.fuzzyDupPairsOf(docs, tau = 18).collect()
    graft.ops.Caches.releaseAll(spark)
    assert(twoPass.isEmpty, "fixture drifted: the pair no longer escapes 2-pass blocking")
    val threePass = LlmOps.fuzzyDupPairsOf(docs, tau = 18, midBlock = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.ops.Caches.releaseAll(spark)
    assert(threePass.toSeq == Seq((1L, 2L, 8L)),
      s"mid-block pass must rescue the pair with its exact distance: ${threePass.toSeq}")

    // MONOTONE under the hot cap (the namespace law): the mid pass
    // runs in its own block namespace, so its grams can never push a
    // shared prefix/suffix block over maxBlock and LOSE 2-pass pairs —
    // the untagged-namespace regression this fixture reproduces: a
    // found pair (5,6) rides a prefix block at exactly the cap, and
    // the hot docs' mid grams all COLLIDE with it.
    val capKey = "zzzz" + "q" * 32 + "wwww" // prefix zzzz, mid qqqq
    val nearCap = (0 until LlmOps.FuzzyMaxBlock - 2).map(i =>
      // same zzzz prefix (fills the block to exactly maxBlock with
      // 5/6), distinct suffixes/mids, far beyond tau of everything
      (10L + i, f"zzzz unrelated filler $i%02d ${"uvw" * 8}$i%02d"))
    val capDocs = (Seq((5L, capKey), (6L, capKey)) ++ nearCap ++
      // the pressure population: 32 docs whose MID gram is "zzzz" —
      // in a SHARED namespace their mid entries would join the zzzz
      // prefix block (32 + 32 = 64 > cap) and kill the (5,6) pair;
      // tagged, they populate "m|zzzz" instead and 2-pass results
      // are untouchable by construction
      (0 until LlmOps.FuzzyMaxBlock).map(i =>
        (100L + i, f"mm$i%02d aaaaaaaaaaaa zzzz ffffffffffff $i%02d end")))
      .toDF("doc_id", "text")
    val two = LlmOps.fuzzyDupPairsOf(capDocs, tau = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Caches.releaseAll(spark)
    val three = LlmOps.fuzzyDupPairsOf(capDocs, tau = 2, midBlock = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Caches.releaseAll(spark)
    assert(two.contains((5L, 6L)), s"fixture drifted: 2-pass lost the cap-edge pair ($two)")
    assert(two.subsetOf(three),
      s"midBlock LOST pairs the default found — namespace leak: ${two -- three}")
  }

  test("fuzzyDupPairs at sf0.01: perfect precision vs the unblocked truth, recall measured") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val got = LlmOps.fuzzyDupPairs(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    graft.ops.Caches.releaseAll(spark)
    val keys = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> fuzzyKey(r.getString(1))).sortBy(_._1)
    val truth = (for {
      i <- keys.indices; j <- (i + 1) until keys.length
      d = lev(keys(i)._2, keys(j)._2) if d <= LlmOps.FuzzyTau
    } yield (keys(i)._1, keys(j)._1) -> d.toLong).toMap
    // every reported pair is true with the exact distance (blocking
    // can only MISS, never invent)
    got.foreach { case (p, d) => assert(truth.get(p).contains(d), s"false positive $p") }
    // recall, in two regimes: identical keys ALWAYS collide (same
    // blocks — unless both are hot-capped, which the corpus does not
    // trigger), so the production-dedup regime (small distances) is
    // complete; at the corpus-calibrated aggressive τ = 18 nearly half
    // the edits touch both block windows and the measured overall
    // recall is 0.67 — the documented cost of 2-block candidate
    // generation, bought back in production by lowering τ or adding
    // block passes
    assert(truth.size >= 20, s"fixture vacuous: ${truth.size} true pairs")
    val exact = truth.filter(_._2 == 0L).keySet
    assert(exact.nonEmpty && exact.forall(got.contains),
      "an identical-key pair escaped blocking")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.6, s"recall $recall (${got.size}/${truth.size}) below the measured floor")
    // nonzero distances are exercised (the word-level near-dups)
    assert(got.values.exists(_ > 0L), "only exact-prefix dups matched — tau fixture vacuous")
    // the mid pass is MONOTONE on the real corpus too (the namespace
    // law at data scale): 3-pass finds a superset, with distances intact
    val got3 = LlmOps.fuzzyDupPairs(spark, dir, midBlock = true).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    graft.ops.Caches.releaseAll(spark)
    assert(got.forall { case (p, d) => got3.get(p).contains(d) },
      s"midBlock lost sf0.01 pairs the default found: ${got.keySet -- got3.keySet}")
    got3.foreach { case (p, d) => assert(truth.get(p).contains(d), s"false positive $p") }
  }
}
