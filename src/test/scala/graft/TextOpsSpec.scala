package graft

import graft.functions.{bigramStats, nfc, winnowMinima}
import graft.ops.{LlmOps, TextOps}
import org.apache.spark.sql.functions._

/** q22-q26 semantics on inline corpora: simhash bit construction and
  * invariances, quality-stat arithmetic, language-ID markers, token
  * counting, winnowing window minima. */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  /** The engine's lmScore quantization, mirrored: DECIMAL(18,8) on
    * per-bigram log-probs / cross-entropy, DECIMAL(18,6) on
    * perplexity (HALF_UP = Spark's decimal-cast rounding). */
  private def q8(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(8, java.math.RoundingMode.HALF_UP)
  private def q6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue

  private def writeDocs(rows: Seq[(Long, String)], lang: String = "en"): String = {
    val dir = java.nio.file.Files.createTempDirectory("textops").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit(lang)).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("simhash of a single-token doc IS the token hash masked to 60 bits") {
    // with one token of count 1, bit b's weighted sum is +1 iff bit b of
    // the token hash is set — so the fingerprint equals the hash itself
    val dir = writeDocs(Seq((1L, "hello")))
    val got = TextOps.simhash(spark, dir).collect()(0).getLong(1)
    val h = Seq("hello").toDF("t")
      .select(LlmOps.portableHash64(col("t"))).as[Long].collect()(0)
    assert(got == (h & ((1L << TextOps.SimhashBits) - 1)))
  }

  test("simhash is token-order invariant and count-sensitive") {
    val dir = writeDocs(Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),     // same multiset → same bits
      (3L, "alpha alpha alpha alpha beta gamma delta"))) // weights differ
    val m = TextOps.simhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
  }

  test("textStats arithmetic on a pinned doc") {
    val dir = writeDocs(Seq((1L, "the cat sat!!")))
    val r = TextOps.textStats(spark, dir).collect()(0)
    assert(r.getLong(1) == 3L)                  // n_tokens
    assert(r.getLong(2) == 3L)                  // distinct
    assert(r.getDouble(3) == (3 + 3 + 5) / 3.0) // avg token len ("sat!!" is 5)
    assert(r.getDouble(4) == 1.0 / 3.0)         // stopword ratio ("the")
    // 13 chars, 2 of them ('!','!') non-[a-zA-Z0-9 ]
    assert(r.getDouble(5) == 11.0 / 13.0)
  }

  test("langId: marker tokens decide, no markers → unknown, ties → lexicographic") {
    val dir = writeDocs(Seq(
      (1L, "der hund und die katze"),  // de markers
      (2L, "the house of the dog"),    // en markers
      (3L, "zzz qqq www"),             // no markers → unknown
      (4L, "la la la")))               // 'la' is in both es and fr → tie → es
    val got = TextOps.langId(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("en", "de", 1L), ("en", "en", 1L),
      ("en", "unknown", 1L), ("en", "es", 1L)))
  }

  test("tokenCounts: whitespace vs BPE-ish regex tokens") {
    val dir = writeDocs(Seq((1L, "Hello, world 42")))
    val r = TextOps.tokenCounts(spark, dir).collect()(0)
    assert(r.getLong(1) == 3L) // ws tokens
    assert(r.getLong(2) == 4L) // hello | , | world | 42
    assert(r.getLong(3) == 15L)
  }

  test("WinnowMinima expression == the md5/conv SQL formulation, interpreted and codegen'd") {
    val texts = Seq((1L, "abcdefghijklmnop"), (2L, "the quick brown fox!"), (3L, "ABCDEFGH"))
    val df = texts.toDF("doc_id", "text")
    val viaSql = df.selectExpr("doc_id",
      "transform(sequence(1, length(text) - 7), " +
        "i -> cast(conv(substring(md5(substring(text, i, 8)), 1, 15), 16, 10) as bigint)) AS hs")
      .selectExpr("doc_id", "transform(sequence(1, size(hs)), i -> array_min(slice(hs, i, 4))) AS wm")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaExpr = {
      df.select(col("doc_id"), winnowMinima(col("text"), 8, 4).as("wm"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    }
    assert(viaExpr == viaSql)
    // direct (interpreted nullSafeEval path) agrees too
    val direct = graft.functions.WinnowMinima.compute("abcdefghijklmnop", 8, 4).toLongArray().toSeq
    assert(direct == viaExpr(1L))
  }

  test("winnowFingerprint: short docs drop out; identical docs agree; minima come from gram hashes") {
    val dir = writeDocs(Seq(
      (1L, "abcdefghij"), (2L, "abcdefghij"), (3L, "short")))
    val rows = TextOps.winnowFingerprint(spark, dir).collect()
    val m = rows.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(!m.contains(3L))            // < k chars → no grams
    assert(m(1L) == m(2L))             // deterministic per content
    assert(m(1L)._2 == 3L)             // 10 chars, k=8 → 3 gram positions
    // every winnow minimum is one of the doc's k-gram hashes
    val gramHashes = (0 until 3).map(i => "abcdefghij".substring(i, i + 8))
      .toDF("g").select(LlmOps.portableHash64(col("g"))).as[Long].collect().toSet
    val fp = m(1L)._1.split('|').map(_.toLong).toSet
    assert(fp.subsetOf(gramHashes))
  }

  test("BigramStats expression == the explode/groupBy SQL formulation, interpreted and codegen'd") {
    val texts = Seq((1L, "a b a b a b"), (2L, "the quick brown fox the quick brown cat"),
      (3L, "  padded   tokens  here "), (4L, "x"))
    val df = texts.toDF("doc_id", "text")
    // reference semantics spelled out with built-ins: consecutive pairs
    // of the empty-filtered whitespace tokens, counted per doc
    val viaSql = df.selectExpr("doc_id",
      "filter(split(text, ' '), x -> length(x) > 0) AS ws")
      .selectExpr("doc_id",
        // sequence(1, 0) counts DOWN — guard like LlmOps.shingles does
        "transform(CASE WHEN size(ws) >= 2 THEN sequence(1, size(ws) - 1) " +
          "ELSE array() END, i -> concat_ws(' ', ws[i-1], ws[i])) AS bgs")
      .selectExpr("doc_id", "size(bgs) AS n",
        "size(array_distinct(bgs)) AS d",
        "array_max(transform(array_distinct(bgs), b -> size(filter(bgs, x -> x = b)))) AS m")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1).toLong,
        r.getInt(2).toLong, Option(r.get(3)).fold(0L)(_.asInstanceOf[Int].toLong)))).toMap
    val viaExpr = {
      df.select(col("doc_id"), bigramStats(col("text")).as("bs"))
        .select(col("doc_id"), col("bs.n_bigrams"), col("bs.n_distinct_bigrams"), col("bs.max_count"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    }
    // the no-bigram doc: SQL's array_max over empty is null → 0 above
    assert(viaExpr == viaSql)
    // direct (interpreted nullSafeEval path) agrees too
    val direct = graft.functions.BigramStats.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b a b a b"))
    assert((direct.getLong(0), direct.getLong(1), direct.getLong(2)) == ((5L, 2L, 3L)))
  }

  test("repetitionStats: bigram counts on pinned docs; <2-token docs drop out") {
    val dir = writeDocs(Seq(
      (1L, "a b a b a b"), // bigrams: "a b"×3, "b a"×2 → n=5, distinct=2, max=3
      (2L, "x y z"),       // n=2, distinct=2, max=1
      (3L, "solo"),        // no bigrams → absent
      (4L, "  a   b ")))   // empty-run splits ignored → one bigram "a b"
    val got = TextOps.repetitionStats(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(got.keySet == Set(1L, 2L, 4L))
    assert(got(1L) == ((5L, 2L, 3L, 1.0 - 2.0 / 5.0, 3.0 / 5.0)))
    assert(got(2L) == ((2L, 2L, 1L, 0.0, 0.5)))
    assert(got(4L) == ((1L, 1L, 1L, 0.0, 1.0)))
  }

  test("vocabTopK: tf/df arithmetic, rank order, tie-break by token") {
    val dir = writeDocs(Seq(
      (1L, "a b a"),  // a×2, b×1
      (2L, "b c"),
      (3L, "a")))
    val got = TextOps.vocabTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // tf: a=3 (df 2), b=2 (df 2), c=1 (df 1) — rank by tf desc then token
    assert(got == Seq((1L, "a", 3L, 2L), (2L, "b", 2L, 2L), (3L, "c", 1L, 1L)))
    // k truncates: top-2 keeps the same prefix
    val top2 = TextOps.vocabTopK(spark, dir, k = 2).collect().map(_.getString(1)).toSeq
    assert(top2 == Seq("a", "b"))
  }

  test("nfc expression: composes decomposed sequences, ASCII passes through untouched") {
    val decomposed = "Cafe\u0301 nai\u0308ve"     // e + U+0301, i + U+0308
    val composed = "Caf\u00e9 na\u00efve"          // é, ï precomposed
    val r = spark.range(1).select(nfc(lit(decomposed)).as("a"), nfc(lit(composed)).as("b"),
      nfc(lit("plain ascii")).as("c"), nfc(lit(null).cast("string")).as("d")).collect()(0)
    assert(r.getString(0) === composed)            // NFC composes
    assert(r.getString(1) === composed)            // already-NFC unchanged
    assert(r.getString(2) === "plain ascii")       // ASCII fast path
    assert(r.isNullAt(3))
    // char length shrinks by the number of combining marks composed
    assert(decomposed.codePointCount(0, decomposed.length) ===
      composed.codePointCount(0, composed.length) + 2)
  }

  test("nfcNormalize query: every row shows the 2-char composition delta") {
    val dir = writeDocs(Seq((1L, "alpha beta"), (2L, "x")))
    val got = TextOps.nfcNormalize(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val (lenRaw, lenNfc, nfc1) = got(1L)
    assert(lenRaw - lenNfc === 2L)
    assert(nfc1 === "Caf\u00e9 na\u00efve alpha beta")
    assert(got(2L)._3 === "Caf\u00e9 na\u00efve x")
  }

  test("bpeTrain: merge sequence equals a driver-side brute-force BPE") {
    // the classic worked example: 'low' x5-ish corpora where the
    // learned merges are hand-checkable, plus multi-byte text so the
    // code-point symbol rule is exercised
    val dir = writeDocs(Seq(
      (1L, "low low low lower lower newest newest newest"),
      (2L, "newest newest newest widest widest café café")))
    // brute force: identical algorithm, plain Scala over the raw words
    def brute(words: Seq[String], nMerges: Int, minCount: Long): Seq[(Int, String, String, Long)] = {
      val freq = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
      var vocab: Map[Seq[String], Long] = freq.map { case (w, c) =>
        val cps = w.codePoints().toArray
        (cps.indices.map(i => new String(cps, i, 1)): Seq[String]) -> c
      }
      val out = Seq.newBuilder[(Int, String, String, Long)]
      var r = 0
      var stop = false
      while (r < nMerges && !stop) {
        val counts = collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, c) =>
          syms.zip(syms.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + c)
        }
        // tie-break in CODE-POINT order (Spark's binary UTF-8 string
        // ordering) — Java's UTF-16 compareTo diverges for
        // supplementary-plane symbols vs [U+E000, U+FFFF]
        def cpLt(a: String, b: String): Boolean = {
          val x = a.codePoints().toArray
          val y = b.codePoints().toArray
          val n = math.min(x.length, y.length)
          var i = 0
          while (i < n) {
            if (x(i) != y(i)) return x(i) < y(i)
            i += 1
          }
          x.length < y.length
        }
        val best = counts.toSeq.sortWith { case (((l1, r1), n1), ((l2, r2), n2)) =>
          if (n1 != n2) n1 > n2
          else if (l1 != l2) cpLt(l1, l2)
          else cpLt(r1, r2)
        }.headOption
        best match {
          case Some(((l, rr), n)) if n >= minCount =>
            out += ((r, l, rr, n))
            vocab = vocab.map { case (syms, c) =>
              val m = Seq.newBuilder[String]
              var i = 0
              while (i < syms.length) {
                if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) { m += (l + rr); i += 2 }
                else { m += syms(i); i += 1 }
              }
              (m.result(), c)
            }.groupBy(_._1).view.mapValues(_.values.sum).toMap
            r += 1
          case _ => stop = true
        }
      }
      out.result()
    }
    val words = Seq.fill(1)("low low low lower lower newest newest newest").mkString(" ").split(" ").toSeq ++
      "newest newest newest widest widest café café".split(" ").toSeq
    val expected = brute(words, 12, 2L)
    val got = TextOps.bpeTrain(spark, dir, 12, 2L)
    assert(got == expected, s"merge trajectories diverged:\n got $got\n exp $expected")
    // the same trajectory equality on a seeded RANDOM corpus: merge
    // cascades, count ties, and saturation arise organically instead
    // of by fixture construction
    val rnd = new scala.util.Random(7L)
    val pool = Vector("ab", "abc", "aab", "bc", "ca", "abcd", "dd")
    val rwords = Seq.fill(60)(pool(rnd.nextInt(pool.length)))
    val rdir = writeDocs(Seq(
      (1L, rwords.take(30).mkString(" ")),
      (2L, rwords.drop(30).mkString(" "))))
    val rgot = TextOps.bpeTrain(spark, rdir, 8, 2L)
    assert(rgot == brute(rwords, 8, 2L), s"random-corpus trajectories diverged: $rgot")
    // sanity of the worked example: 'e'+'s' or similar high-frequency
    // pairs surface early, and every learned pair met the floor
    assert(got.nonEmpty && got.forall(_._4 >= 2L))
    // ranks are sequential from 0
    assert(got.map(_._1) == got.indices)

    // ENCODE side: applying the learned merges in rank order tokenizes
    // every trained-on word to exactly its final training segmentation
    // — training ended with no mergeable pair left, so a fully-trained
    // frequent word collapses to one token
    val enc = TextOps.bpeEncode(spark, dir, got).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[collection.Seq[String]]("tokens").toSeq).toMap
    assert(enc(1L).nonEmpty && enc(2L).nonEmpty)
    // reassembling tokens per word recovers the original text bytes
    val reassembled = enc(1L).mkString
    assert(reassembled == "low low low lower lower newest newest newest".replace(" ", ""))
    // 'newest' (6 occurrences across both docs) is fully merged after
    // 12 rounds → appears as a single token wherever it occurs
    assert(enc(1L).contains("newest") && enc(2L).contains("newest"))
    // multi-byte word: code points survive encode intact
    assert(enc(2L).mkString.endsWith("cafécafé"))
  }

  test("lmTrain/lmScore: per-doc cross-entropy equals a driver-side brute force") {
    // doc 6 carries LITERAL "<s>" and "<unk>" tokens (common in
    // ML/tokenizer-related web text): the reserved-symbol policy maps
    // both to <unk> — a literal "<s>" must never merge with the
    // sentence-start sentinel's context
    val train = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran"),
      (3L, "a dog ran fast"),
      (6L, "docs mention <s> and <unk> tokens")).toDF("doc_id", "text")
    val k = 0.1
    val lm = TextOps.lmTrain(train, maxVocab = 1000, k = k)

    // brute force with the documented rules: <s> head, reserved
    // symbols → <unk>, add-k, V=|vocab|+1
    val corpus = Map(1L -> "the cat sat on the mat", 2L -> "the cat ran",
      3L -> "a dog ran fast", 6L -> "docs mention <s> and <unk> tokens")
    val toksOf = (s: String) => s.split("\\s+").filter(_.nonEmpty).toSeq
    val vocabSet = corpus.values.flatMap(toksOf).toSet - "<s>" - "<unk>" // rest fit under the cap
    val mappedOf = (s: String) =>
      toksOf(s).map(t => if (vocabSet(t)) t else "<unk>")
    val big = scala.collection.mutable.Map.empty[(String, String), Long]
    val ctx = scala.collection.mutable.Map.empty[String, Long]
    for (t <- corpus.values; bg <- ("<s>" +: mappedOf(t)).sliding(2)) {
      big(bg(0) -> bg(1)) = big.getOrElse(bg(0) -> bg(1), 0L) + 1
      ctx(bg(0)) = ctx.getOrElse(bg(0), 0L) + 1
    }
    val v = vocabSet.size + 1
    def score(text: String): (Long, Double) = {
      val lps = ("<s>" +: mappedOf(text)).sliding(2).map { bg =>
        q8(math.log((big.getOrElse(bg(0) -> bg(1), 0L) + k) /
          (ctx.getOrElse(bg(0), 0L) + k * v)))
      }.toSeq
      val sum = lps.foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      (lps.length.toLong, -sum.doubleValue / lps.length)
    }
    assert(lm.vocabSize == v)

    // scoring the TRAINING docs plus an unseen-word doc, a doc in a
    // wholly unseen context, and a doc LED by a literal "<s>"
    val eval = train.unionByName(Seq(
      (4L, "the zebra sat"),     // zebra → <unk> (unseen token)
      (5L, "zzz qqq"),
      (7L, "<s> the cat")).toDF("doc_id", "text"))
    val got = TextOps.lmScore(eval, lm).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    for ((id, text) <- corpus ++ Map(4L -> "the zebra sat", 5L -> "zzz qqq",
      7L -> "<s> the cat")) {
      val (n, xent) = score(text)
      val (gn, gx, gp) = got(id)
      assert(gn == n, s"doc $id n_tokens")
      assert(gx == xent, s"doc $id xent: got $gx want $xent")
      assert((gp - q6(math.exp(xent))).abs < 1e-12, s"doc $id perplexity")
    }
    // a wholly unseen context scores exactly uniform 1/V per token:
    // "mat" is sentence-FINAL everywhere in training, so as a context
    // it is unseen (note <unk> no longer demonstrates this — doc 6's
    // reserved literals make it a seen context) → the add-k cancels
    // to exactly 1/V
    val unseenCtxLogp = math.log(1.0 / v)
    val bruteZzz = score("zzz qqq")._2
    assert(got(5L)._2 > 0 && got(5L)._2 == bruteZzz)
    assert(ctx.get("mat").isEmpty)
    assert((math.log((big.getOrElse("mat" -> "the", 0L) + k) /
      (ctx.getOrElse("mat", 0L) + k * v)) - unseenCtxLogp).abs < 1e-12)
    // training docs are more probable than the OOV doc (the filter's
    // reason to exist)
    assert(got(2L)._3 < got(5L)._3)
    // empty/whitespace-only docs yield NO score row
    val empties = Seq((9L, ""), (10L, "   ")).toDF("doc_id", "text")
    assert(TextOps.lmScore(empties, lm).count() == 0)
  }

  test("lmTrain/lmScore: seeded random corpus agrees with the brute force " +
    "(live vocab cap, reserved literals, empty docs)") {
    val rnd = new scala.util.Random(20260813L)
    // BMP-only alphabet: there, Spark's binary-UTF-8 sort == Java's
    // UTF-16 sort == code-point order, so the brute force's vocabulary
    // tie-break matches the engine's. Reserved literals ride along.
    val alphabet = Vector("a", "b", "c", "ab", "ba", "ü", "日本", "<s>", "<unk>")
    def randDoc(): String = Seq.fill(rnd.nextInt(9))(
      alphabet(rnd.nextInt(alphabet.length))).mkString(" " * (1 + rnd.nextInt(2)))
    val trainTexts = (1L to 40L).map(i => i -> randDoc()).toMap
    val evalOnly = (101L to 115L).map(i => i -> randDoc()).toMap
    val k = 0.3
    val maxVocab = 5 // below the alphabet size → the (tf DESC, token ASC) cut is live
    val lm = TextOps.lmTrain(trainTexts.toSeq.toDF("doc_id", "text"), maxVocab, k)

    // independent driver-side model with the documented rules
    val reserved = Set("<s>", "<unk>")
    def toksOf(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
    val tf = trainTexts.values.flatMap(toksOf).filterNot(reserved)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val vocabSet = tf.toSeq.sortBy { case (t, n) => (-n, t) }.take(maxVocab).map(_._1).toSet
    def mappedOf(s: String) = toksOf(s).map(t => if (vocabSet(t)) t else "<unk>")
    val big = collection.mutable.Map.empty[(String, String), Long]
    val ctx = collection.mutable.Map.empty[String, Long]
    for (t <- trainTexts.values; bg <- ("<s>" +: mappedOf(t)).sliding(2) if bg.length == 2) {
      big(bg(0) -> bg(1)) = big.getOrElse(bg(0) -> bg(1), 0L) + 1
      ctx(bg(0)) = ctx.getOrElse(bg(0), 0L) + 1
    }
    val v = vocabSet.size + 1
    def score(text: String): Option[(Long, Double)] = {
      val m = mappedOf(text)
      if (m.isEmpty) None
      else {
        val lps = ("<s>" +: m).sliding(2).map(bg =>
          q8(math.log((big.getOrElse(bg(0) -> bg(1), 0L) + k) /
            (ctx.getOrElse(bg(0), 0L) + k * v)))).toSeq
        val sum = lps.foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
        Some((lps.length.toLong, -sum.doubleValue / lps.length))
      }
    }
    assert(lm.vocabSize == v)
    val all = trainTexts ++ evalOnly
    val got = TextOps.lmScore(all.toSeq.toDF("doc_id", "text"), lm).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == all.filter(e => toksOf(e._2).nonEmpty).keySet)
    for ((id, text) <- all) score(text) match {
      case None => assert(!got.contains(id), s"doc $id: no row expected for an empty doc")
      case Some((n, xent)) =>
        val (gn, gx, gp) = got(id)
        assert(gn == n, s"doc $id n_tokens: got $gn want $n")
        assert(gx == xent, s"doc $id xent: got $gx want $xent")
        assert((gp - q6(math.exp(xent))).abs < 1e-12, s"doc $id perplexity")
    }
  }

  test("lmSave/lmLoad: a loaded model scores identically to the in-memory one") {
    val train = Seq((1L, "the cat sat on the mat"), (2L, "a dog ran")).toDF("doc_id", "text")
    val eval = train.unionByName(Seq((3L, "the dog sat quietly")).toDF("doc_id", "text"))
    val lm = TextOps.lmTrain(train, maxVocab = 4, k = 0.2) // cap forces <unk> rows too
    val path = java.nio.file.Files.createTempDirectory("lm-artifact").toString
    TextOps.lmSave(lm, path)
    val loaded = TextOps.lmLoad(spark, path)
    assert(loaded.vocabSize == lm.vocabSize && loaded.k == lm.k)
    def rel(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double, Double)] =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rel(TextOps.lmScore(eval, loaded)) == rel(TextOps.lmScore(eval, lm)))
  }

  test("lmTrain: the vocabulary cap maps tail tokens to <unk> deterministically") {
    // "b" and "c" tie at 2 occurrences — the (tf DESC, token ASC)
    // cut keeps "b"; "c" and the singletons fall to <unk>
    val docs = Seq((1L, "a a a b b c"), (2L, "c x y")).toDF("doc_id", "text")
    val lm = TextOps.lmTrain(docs, maxVocab = 2, k = 0.5)
    assert(lm.vocab.collect().map(_.getString(0)).toSet == Set("a", "b"))
    assert(lm.vocabSize == 3) // {a, b} + <unk>
    val bigs = lm.bigrams.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // doc 1: <s>→a, a→a, a→a, a→b, b→b, b→<unk>(c)
    // doc 2: <s>→<unk>(c), <unk>→<unk>(x), <unk>→<unk>(y)
    assert(bigs(("a", "a")) == 2 && bigs(("a", "b")) == 1)
    assert(bigs(("<unk>", "<unk>")) == 2 && bigs(("<s>", "<unk>")) == 1)
    val ctxs = lm.contexts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ctxs("<s>") == 2 && ctxs("a") == 3 && ctxs("<unk>") == 2)
  }

  test("redactPii: emails/phones/IPs replaced with tokens, counts per pattern") {
    val docs = Seq(
      (1L, "contact bob.smith+x@example.co.uk or +1 (415) 555-0199 now"),
      (2L, "server at 10.0.12.7 responded"),
      (3L, "plain text with no sensitive tokens"),
      (4L, "two mails: a@b.io c@d.org")).toDF("doc_id", "text")
    val got = TextOps.redactPii(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L)._1 == "contact <EMAIL> or <PHONE> now")
    assert(got(1L)._2 == 2L)
    assert(got(2L)._1 == "server at <IP> responded" && got(2L)._2 == 1L)
    assert(got(3L) == ("plain text with no sensitive tokens", 0L))
    assert(got(4L)._1 == "two mails: <EMAIL> <EMAIL>" && got(4L)._2 == 2L)
  }
}
