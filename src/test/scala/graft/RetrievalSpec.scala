package graft

import graft.ops.Retrieval
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** BM25 retrieval against an independent driver-side implementation
  * of the documented formula (Lucene-form idf, unique query terms,
  * lowercased whitespace tokens). */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def terms(s: String): Seq[String] =
    s.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSeq

  /** Driver-side BM25: scores for every (query, doc) pair with at
    * least one matching term. */
  private def bruteScores(corpus: Map[Long, String], queries: Map[Long, String],
                          k1: Double, b: Double): Map[(Long, Long), Double] = {
    val n = corpus.size
    val dls = corpus.view.mapValues(t => terms(t).size).toMap
    val avgdl = if (n == 0) 0.0 else dls.values.sum.toDouble / n
    val dfs = corpus.values.flatMap(t => terms(t).distinct)
      .groupBy(identity).view.mapValues(_.size).toMap
    def idf(t: String) = math.log(1.0 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
    (for {
      (qid, q) <- queries.toSeq
      (did, d) <- corpus.toSeq
      dterms = terms(d)
      matched = terms(q).distinct.filter(t => dterms.contains(t))
      if matched.nonEmpty
    } yield {
      // mirror the engine's DECIMAL(18,6) per-term quantization + the
      // exact decimal sum (HALF_UP = Spark's cast rounding), with the
      // engine's exact FP evaluation order idf * (tf-norm)
      val score = matched.map { t =>
        val tf = dterms.count(_ == t).toDouble
        java.math.BigDecimal.valueOf(
          idf(t) * (tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls(did) / avgdl))))
          .setScale(6, java.math.RoundingMode.HALF_UP)
      }.foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue
      (qid, did) -> score
    }).toMap
  }

  private val corpus = Map(
    1L -> "the cat sat on the mat",
    2L -> "a dog chased the cat",
    3L -> "dogs and cats live together",
    4L -> "the stock market closed higher today",
    5L -> "cat cat cat cat",
    6L -> "   ")
  private val queries = Map(
    10L -> "the cat",
    11L -> "DOG chased",          // case folding
    12L -> "cat cat cat",         // duplicate query terms count once
    13L -> "zebra quux",          // no corpus hits
    14L -> "")                    // zero-term query

  test("bm25Build/bm25TopK: ranking and scores equal the brute force") {
    val k1 = 1.2; val b = 0.75
    val ix = Retrieval.bm25Build(corpus.toSeq.toDF("doc_id", "text"), k1, b)
    assert(ix.nDocs == 6)
    assert((ix.avgdl - corpus.values.map(terms(_).size).sum / 6.0).abs < 1e-12)

    val want = bruteScores(corpus, queries, k1, b)
    val got = Retrieval.bm25TopK(ix, queries.toSeq.toDF("query_id", "query"), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

    // per query: the top-3 of the brute scores, (-score, doc_id) order
    for (qid <- queries.keys) {
      val expect = want.collect { case ((q, d), s) if q == qid => (d, s) }
        .toSeq.sortBy { case (d, s) => (-s, d) }.take(3)
      val rows = got.filter(_._1 == qid).sortBy(_._2)
      assert(rows.map(_._3).toSeq == expect.map(_._1),
        s"query $qid ranking: got ${rows.toSeq} want $expect")
      rows.zip(expect).foreach { case ((_, _, _, gs), (_, ws)) =>
        assert((gs - ws).abs < 1e-9, s"query $qid score: got $gs want $ws") }
      assert(rows.map(_._2).toSeq == (1 to rows.length))
    }
    // no-hit and zero-term queries return no rows
    assert(!got.exists(r => r._1 == 13L || r._1 == 14L))
    // duplicate query terms count once: q12 ≡ single-term "cat"
    val q12 = got.filter(_._1 == 12L).map(r => r._3 -> r._4).toMap
    val single = bruteScores(corpus, Map(12L -> "cat"), k1, b)
      .map { case ((_, d), s) => d -> s }
    q12.foreach { case (d, s) => assert((s - single(d)).abs < 1e-9) }
    // tf saturation: doc 5 (tf=4, short) outranks doc 1 (tf=1) on "cat"
    // but by far less than 4× — the k1 saturation BM25 exists for
    assert(q12(5L) > q12(1L) && q12(5L) < 4 * q12(1L))
  }

  test("bm25TopK: seeded random corpus agrees with the brute force at full k") {
    val rnd = new scala.util.Random(20260813L)
    val alphabet = Vector("a", "b", "c", "dog", "cat", "The", "ü", "日本")
    def randDoc(): String = Seq.fill(rnd.nextInt(10))(
      alphabet(rnd.nextInt(alphabet.length))).mkString(" " * (1 + rnd.nextInt(2)))
    val corpus = (1L to 40L).map(i => i -> randDoc()).toMap
    val queries = (101L to 110L).map(i => i -> randDoc()).toMap
    val k1 = 0.9; val b = 0.4
    val ix = Retrieval.bm25Build(corpus.toSeq.toDF("doc_id", "text"), k1, b)
    val want = bruteScores(corpus, queries, k1, b)
    // k ≥ |corpus|: every candidate surfaces — compare the full score
    // relation (rank order on near-equal doubles is checked separately)
    val got = Retrieval.bm25TopK(ix, queries.toSeq.toDF("query_id", "query"), k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> (r.getInt(1), r.getDouble(3)))
      .toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (key, ws) =>
      assert((got(key)._2 - ws).abs < 1e-9, s"$key: got ${got(key)._2} want $ws") }
    // ranks are score-descending within each query (ties by doc_id)
    got.groupBy(_._1._1).values.foreach { rows =>
      val byRank = rows.toSeq.sortBy(_._2._1)
      byRank.sliding(2).foreach {
        case Seq(((_, d1), (_, s1)), ((_, d2), (_, s2))) =>
          assert(s1 > s2 || (s1 == s2 && d1 < d2) || (s1 - s2).abs < 1e-12)
        case _ => ()
      }
    }
  }

  test("bm25Save/bm25Load: a loaded index serves identically") {
    val ix = Retrieval.bm25Build(corpus.toSeq.toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("bm25-artifact")
    Retrieval.bm25Save(ix, s"$dir/ix")
    val loaded = Retrieval.bm25Load(spark, s"$dir/ix")
    assert(loaded.nDocs == ix.nDocs && loaded.avgdl == ix.avgdl &&
      loaded.k1 == ix.k1 && loaded.b == ix.b)
    val q = queries.toSeq.toDF("query_id", "query")
    def rel(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(rel(Retrieval.bm25TopK(loaded, q)) == rel(Retrieval.bm25TopK(ix, q)))
  }

  test("bm25 serve plan: query side broadcasts, no cartesian product") {
    val ix = Retrieval.bm25Build(corpus.toSeq.toDF("doc_id", "text"))
    val res = Retrieval.bm25TopK(ix, queries.toSeq.toDF("query_id", "query"), k = 2)
    res.collect()
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("bm25 guards: bad parameters are rejected") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Retrieval.bm25Build(docs, k1 = -0.1))
    intercept[IllegalArgumentException](Retrieval.bm25Build(docs, b = 1.5))
    intercept[IllegalArgumentException](
      Retrieval.bm25TopK(Retrieval.bm25Build(docs), docs.toDF("query_id", "query"), 0))
  }

  test("bm25Build: corpus stats ride the built relation — no second tokenization pass") {
    import org.apache.spark.sql.functions.{col, udf}
    // count how many times the text column is MATERIALIZED: the r8
    // finding was a stats aggregate re-reading + re-splitting every
    // text after the tf relation already carried (doc_id, dl)
    val reads = spark.sparkContext.longAccumulator("textReads")
    val tap = udf((s: String) => { reads.add(1); s })
    // keep the local fixture plan-shaped like a parquet scan: without
    // this, ConvertToLocalRelation eagerly evaluates the tap
    // projection at OPTIMIZATION time for the metadata-only count()
    // job, charging reads a real corpus never pays
    val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try {
      val base = Seq((1L, "a b c"), (2L, "a a"), (3L, "")).toDF("doc_id", "text")
      val docs = base.select(col("doc_id"), tap(col("text")).as("text"))
      val ix = Retrieval.bm25Build(docs)
      val perPass = reads.value
      // empty docs count in the stats (dl = 0), exactly as avg(size) did
      assert(ix.nDocs == 3)
      assert(ix.avgdl == (3 + 2 + 0) / 3.0)
      // the build's own tokenization already materialized text; the
      // stats jobs (metadata count + cached-tf fold) must not again.
      // ONE pass costs 5 taps on this fixture (the collapsed dl/terms
      // projection evaluates the tapped column twice for docs that
      // reach the explode — an artifact of the opaque UDF: production
      // codegen CSE dedupes the pure-expression form; measured
      // per-stage: docs.count() +0, Σdl off the cached tf +0). The
      // old stats aggregate re-tokenized every doc: +3 on 3 docs.
      assert(perPass <= 5,
        s"text materialized $perPass times for 3 docs — a second corpus pass leaked in")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
        case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
      }
      graft.ops.Caches.releaseAll(spark)
    }
  }

  test("rrfFuse: exact-integer RRF laws — consensus wins, absent leg contributes 0, ties break on doc_id") {
    // q1 lexical: docs 10, 11, 12 at ranks 1..3; semantic: 12, 13 at
    // ranks 1..2. Doc 12 sits on BOTH lists (consensus); 11 and 13
    // land the identical single-leg rank-2 score (integer tie).
    // q2 appears on the semantic leg ONLY (a zero-term lexical query).
    val lex = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 3L, 12L))
      .toDF("query_id", "rank", "doc_id")
    val sem = Seq((1L, 1L, 12L), (1L, 2L, 13L), (2L, 1L, 20L))
      .toDF("query_id", "rank", "doc_id")
    val got = Retrieval.rrfFuse(lex, sem, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def c(r: Long) = Retrieval.RrfScale / (Retrieval.RrfK0 + r)
    val q1 = Seq((12L, c(3) + c(1)), (10L, c(1)), (11L, c(2)), (13L, c(2)))
      .sortBy { case (d, s) => (-s, d) }
      .zipWithIndex.map { case ((d, s), i) => (1L, (i + 1).toLong, d, s) }
    val q2 = Seq((2L, 1L, 20L, c(1)))
    assert(got.toSeq == q1 ++ q2)
    // the fixture's load-bearing shape: consensus doc 12 must outrank
    // the lexical winner despite its worse single-leg ranks, and the
    // 11-vs-13 integer tie must fall to the smaller doc_id
    assert(got(0)._3 == 12L && got(1)._3 == 10L)
    assert(got(2)._3 == 11L && got(3)._3 == 13L && got(2)._4 == got(3)._4)
    intercept[IllegalArgumentException](Retrieval.rrfFuse(lex, sem, 0))
  }

  test("bm25TopK excludeSelf: drops only the self doc with contiguous re-ranking; external query ids unaffected") {
    val docs = Seq(
      (1L, "apple banana cherry"), (2L, "apple banana"), (3L, "apple"),
      (4L, "durian elderberry")).toDF("doc_id", "text")
    val ix = Retrieval.bm25Build(docs)
    // query 1 IS doc 1: with excludeSelf its own doc vanishes and the
    // remaining ranks stay contiguous from 1
    val self = Seq((1L, "apple banana cherry")).toDF("query_id", "query")
    val kept = Retrieval.bm25TopK(ix, self, k = 10, excludeSelf = true).collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(!kept.map(_._2).contains(1L), "self doc survived excludeSelf")
    assert(kept.map(_._1).toSeq == (1 to kept.length), "ranks not contiguous after self exclusion")
    // an EXTERNAL query id collides with no doc — excludeSelf is a no-op
    val ext = Seq((999L, "apple banana")).toDF("query_id", "query")
    val a = Retrieval.bm25TopK(ix, ext, k = 10, excludeSelf = true).collect().toSeq
    val b = Retrieval.bm25TopK(ix, ext, k = 10, excludeSelf = false).collect().toSeq
    assert(a == b, "excludeSelf changed an external query's answer")
    graft.ops.Caches.releaseAll(spark)
  }

  test("hybridRrfDocs: the fused ranking replays from the two legs, and both legs genuinely contribute") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val got = Retrieval.hybridRrfDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    graft.ops.Caches.releaseAll(spark)
    assert(got.nonEmpty)
    // replay the two legs through their own public entry points and
    // fuse in plain Scala — the fused operator must agree bit-exactly
    val docs = graft.ops.Tables.documents(spark, dir)
    val ix = Retrieval.bm25Build(docs)
    val probes = spark.sql(
      s"""SELECT doc_id AS query_id,
            concat_ws(' ', slice(filter(split(lower(text), '\\\\s+'), t -> length(t) > 0), 1, 8)) AS query
          FROM parquet.`$dir/documents.parquet`
          WHERE doc_id % 100 = 0 AND doc_id < ${graft.ops.Pq.ProbeCap}""")
    val lex = Retrieval.bm25TopK(ix, probes, k = 10, excludeSelf = true).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getInt(1).toLong)).toMap
    graft.ops.Caches.releaseAll(spark)
    val sem = graft.ops.Sq.ivfSq8TopK(spark, dir, k = 10, queryMod = 100).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getLong(1))).toMap
    graft.ops.Caches.releaseAll(spark)
    def c(r: Long) = Retrieval.RrfScale / (Retrieval.RrfK0 + r)
    val want = (lex.keySet ++ sem.keySet).groupBy(_._1).toSeq.flatMap { case (q, pairs) =>
      pairs.toSeq.map { case (_, d) =>
        (q, d, lex.get((q, d)).map(c).getOrElse(0L) + sem.get((q, d)).map(c).getOrElse(0L))
      }.sortBy { case (_, d, s) => (-s, d) }.take(10)
        .zipWithIndex.map { case ((_, d, s), i) => (q, (i + 1).toLong, d, s) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want, "hybrid fusion diverged from the plain-Scala leg replay")
    // non-vacuity: each leg must contribute candidates the other leg
    // does not have — otherwise the fusion never exercises its
    // absent-leg-0 branch
    val lexOnly = lex.keySet -- sem.keySet
    val semOnly = sem.keySet -- lex.keySet
    assert(lexOnly.nonEmpty && semOnly.nonEmpty,
      s"legs identical (lexOnly=${lexOnly.size}, semOnly=${semOnly.size}) — fusion fixture vacuous")
  }

  test("rrfFuse plan: candidate-sized broadcast joins only — no sort-merge shuffle, no cartesian") {
    val lex = Seq((1L, 1L, 10L)).toDF("query_id", "rank", "doc_id")
    val sem = Seq((1L, 1L, 12L)).toDF("query_id", "rank", "doc_id")
    val plan = Retrieval.rrfFuse(lex, sem).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"rrfFuse shuffled a top-list-bounded side:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"rrfFuse planned an all-pairs join:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"rrfFuse's leg attaches must broadcast:\n$plan")
  }

  test("bm25Rm3TopK: expansion replays from parts, excludes original terms, and changes some ranking") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val got = Retrieval.bm25Rm3TopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    graft.ops.Caches.releaseAll(spark)
    assert(got.nonEmpty)
    // replay from the component operators: pass-1 feedback via
    // bm25TopK, expansion weights via the postings, weighted pass 2
    // via plain-Scala decimal sums over collected postings
    val docs = graft.ops.Tables.documents(spark, dir)
    val ix = Retrieval.bm25Build(docs)
    val probes = spark.sql(
      s"""SELECT doc_id AS query_id,
            concat_ws(' ', slice(filter(split(lower(text), '\\\\s+'), t -> length(t) > 0), 1, 8)) AS query
          FROM parquet.`$dir/documents.parquet`
          WHERE doc_id % 100 = 0 AND doc_id < 102400""")
    val qterms = probes.collect()
      .map(r => r.getLong(0) -> terms(r.getString(1)).distinct.toSet).toMap
    val fb = Retrieval.bm25TopK(ix, probes, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val post = ix.postings.collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
        r.getAs[Number]("tf").longValue, r.getAs[Number]("dl").longValue,
        r.getAs[Double]("idf")))
    graft.ops.Caches.releaseAll(spark)
    val byDoc = post.groupBy(_._2)
    // expansion: Σ (tf·10⁶ div dl) over each query's feedback docs,
    // original terms excluded, top-10 by (w DESC, term ASC)
    val expTerms = fb.groupBy(_._1).map { case (q, rows) =>
      val w = rows.flatMap { case (_, d) => byDoc.getOrElse(d, Array.empty) }
        .groupBy(_._1).view
        .mapValues(_.map { case (_, _, tf, dl, _) => tf * Retrieval.Rm3Scale / dl }.sum)
        .toSeq.filterNot { case (t, _) => qterms(q).contains(t) }
      q -> w.sortBy { case (t, wt) => (-wt, t) }.take(10).map(_._1).toSet
    }
    // pass 2 from parts: weighted decimal contributions (build
    // defaults k1 = 1.2, b = 0.75)
    val k1 = 1.2
    val want = expTerms.toSeq.flatMap { case (q, exp) =>
      val wts = qterms(q).map(_ -> Retrieval.Rm3OrigWt).toMap ++
        exp.map(_ -> Retrieval.Rm3ExpWt).toMap
      post.filter(p => wts.contains(p._1)).groupBy(_._2).toSeq.map { case (d, rows) =>
        val score = rows.map { case (t, _, tf, dl, idf) =>
          java.math.BigDecimal.valueOf(
            idf * (tf * (k1 + 1) / (tf + k1 * (1 - 0.75 + 0.75 * dl / ix.avgdl))))
            .setScale(6, java.math.RoundingMode.HALF_UP)
            .multiply(java.math.BigDecimal.valueOf(wts(t)))
        }.foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue
        (q, d, score)
      }.sortBy { case (_, d, s) => (-s, d) }.take(10)
        .zipWithIndex.map { case ((_, d, s), i) => (q, i + 1, d, s) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq.sortBy(t => (t._1, t._2)) == want,
      "RM3 diverged from the component replay")
    // non-vacuity: expansion terms exist and are disjoint from the
    // originals, and the expanded ranking differs from plain BM25
    assert(expTerms.values.exists(_.nonEmpty), "no expansion terms mined")
    expTerms.foreach { case (q, exp) => assert((exp & qterms(q)).isEmpty) }
    val plain = Retrieval.bm25TopKDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    graft.ops.Caches.releaseAll(spark)
    assert(got.map(t => (t._1, t._2, t._3)).toSet != plain,
      "expansion changed nothing — fixture vacuous")
  }

  test("bm25BuildFrozen laws: delta retrievable now, unseen vocab waits for rebuild, base-everything is the identity") {
    val docs = Seq(
      (1L, "spark shuffles the partitions"),
      (2L, "spark broadcasts the small side"),
      (3L, "partitions and shuffles again"),
      (10L, "spark zyxnovel partitions")  // the delta doc; zyxnovel unseen in base
    ).toDF("doc_id", "text")
    val frozen = Retrieval.bm25BuildFrozen(docs, col("doc_id") < 10L)
    // frozen stats read base only
    assert(frozen.nDocs == 3L)
    val qs = Seq((100L, "partitions"), (101L, "zyxnovel")).toDF("query_id", "query")
    val got = Retrieval.bm25TopK(frozen, qs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // the delta doc is retrievable NOW through its base-vocab terms...
    assert(got.contains((100L, 10L)), "delta doc not retrievable through frozen index")
    // ...but its novel term contributes nothing until the next rebuild
    assert(!got.exists(_._1 == 101L), "unseen-vocab term matched before rebuild")
    val rebuilt = Retrieval.bm25Build(docs)
    val after = Retrieval.bm25TopK(rebuilt, qs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(after.contains((101L, 10L)), "rebuild did not pick up the novel term")
    // identity law: base = everything ≡ the plain build, bit-exact
    val all = Retrieval.bm25TopK(Retrieval.bm25BuildFrozen(docs, lit(true)), qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val plain = Retrieval.bm25TopK(rebuilt, qs, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    graft.ops.Caches.releaseAll(spark)
    assert(all == plain, "frozen(base=all) diverged from the plain build")
  }

  test("bm25FrozenIngestTopK at sf0.01: the freeze is non-vacuous and delta docs surface as results") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val frozen = Retrieval.bm25FrozenIngestTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    graft.ops.Caches.releaseAll(spark)
    val full = Retrieval.bm25TopKDocs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    graft.ops.Caches.releaseAll(spark)
    assert(frozen.nonEmpty)
    // frozen stats genuinely differ from the full rebuild (scores
    // shift: N, avgdl and df all read the 80% tranche)
    assert(frozen.toSet != full.toSet, "frozen ≡ full — the freeze fixture is vacuous")
    // delta-tranche docs (doc_id % 5 = 4) DO surface as neighbors —
    // ingest made them retrievable
    assert(frozen.exists(_._3 % 5 == 4), "no delta doc retrieved — ingest vacuous")
  }

  test("term_counts tf relation ≡ the replaced explode/groupBy plan on real documents") {
    // the r14 build rewrite (row-local tf via the term_counts
    // expression) against the declarative formulation it replaced,
    // row-for-row on the sf0.001 documents table — this pins the
    // UTF8String lowercase kernel and the \s byte classes on real
    // text, where TermCountsProperties pins them on generated text
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    import org.apache.spark.sql.functions._
    val docs = graft.ops.Tables.documents(spark, dir)
    val neu = docs
      .select(col("doc_id"), graft.functions.termCounts(col("text")).as("tc"))
      .select(col("doc_id"), col("tc.dl").as("dl"), explode(col("tc.pairs")).as("p"))
      .select(col("p.term").as("term"), col("doc_id"), col("dl"),
        col("p.tf").cast("long").as("tf"))
    val legacyTerms = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
    val old = docs.select(col("doc_id"), legacyTerms.as("terms"))
      .select(col("doc_id"), size(col("terms")).as("dl"), explode(col("terms")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
    assert(neu.count() > 0)
    assert(neu.exceptAll(old).count() == 0L, "rows only in the term_counts build")
    assert(old.exceptAll(neu).count() == 0L, "rows only in the legacy build")
  }
}
