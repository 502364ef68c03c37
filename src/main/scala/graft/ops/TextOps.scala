package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{bigramStats, charPairs, nfc, simhash60, winnowMinima}

/** Text-analysis operators for training-data curation over `documents`:
  * SimHash fingerprints, quality stats, heuristic language ID, token
  * counting, and winnowing document fingerprints.
  *
  * Scale design: every operator is a single scan + at most one shuffle
  * keyed by doc_id (SimHash folds 60 bit-sums map-side exactly like a
  * partial agg; winnowing's window is per-doc). Hashes reuse
  * [[LlmOps.portableHash64]] so each query has a bit-exact DuckDB twin;
  * swap for xxhash64 at production scale (same plan shape).
  */
object TextOps {

  val SimhashBits = 60

  /** q22 — 60-bit SimHash over whitespace tokens weighted by count.
    * Bit b of the fingerprint is 1 iff the sum over token OCCURRENCES
    * of (+1 if the token hash has bit b set, else −1) is > 0 —
    * occurrence-summing is identical to the textbook count-weighted
    * form, just without materializing the counts.
    *
    * ZERO-SHUFFLE, ZERO-INTERPRETATION plan: the whole sketch runs in
    * the custom codegen expression [[graft.functions.SimHash60]] —
    * one md5 digest + primitive counter array per row, one static
    * call from generated code. The round-2 version shuffled 1.5M
    * exploded token rows twice; an intermediate version avoided the
    * shuffle but paid 60 interpreted `aggregate` lambdas per row
    * (docs with no tokens drop out, matching the exploded
    * semantics). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val ws = filter(split(col("text"), " "), x => length(x) > 0)
    Tables.documents(spark, dir)
      .withColumn("ws", ws).filter(size(col("ws")) > 0)
      .select(col("doc_id"), simhash60(col("ws")).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** Pinned stopword list for quality ratios — alias of the canonical
    * copy inside the codegen expression ([[graft.functions.TextStats]]). */
  val Stopwords: Seq[String] = graft.functions.TextStats.Stopwords

  /** q23 — per-doc quality stats: token counts, average token length,
    * stopword ratio, non-alphanumeric character ratio. Pure per-row
    * expressions — no shuffle at all, scales linearly with the scan.
    *
    * ZERO-INTERPRETATION plan: the token counts run inside the custom
    * codegen expression [[graft.functions.TextStats]] (one byte scan
    * per row); the previous formulation paid three interpreted
    * higher-order lambdas per row (`aggregate` + 2× `filter`) — the
    * last interpretation tax in the text family (VERDICT r4). The
    * four struct fields are one shared subexpression (Catalyst CSE
    * evaluates text_stats once per row). */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    // fanned out (round 16, the r15 q26/q99 pattern at the remaining
    // single-split text kernels — VERDICT r15 #7): the per-row byte
    // scan serialized on one task; size-aware width, no-op at scale
    Tables.fanOut(Tables.documents(spark, dir))
      .withColumn("st", graft.functions.textStats(col("text")))
      .select(
        col("doc_id"),
        col("st.n_tokens").as("n_tokens"),
        col("st.n_distinct_tokens").as("n_distinct_tokens"),
        (col("st.sum_tok_len").cast("double") / col("st.n_tokens")).as("avg_token_len"),
        (col("st.n_stop").cast("double") / col("st.n_tokens")).as("stopword_ratio"),
        ((length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")))
          .cast("double") / length(col("text"))).as("alnum_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Pinned per-language marker tokens for the n-gram heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und"),
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "los"),
    "fr" -> Seq("le", "la", "et", "les"))

  /** q24 — heuristic language ID: score each doc against each marker
    * list (count of marker-token occurrences), predict the best-scoring
    * language (ties → lexicographically first), `unknown` when no
    * marker hits; aggregate to a (label, predicted) confusion table.
    * Plan: scan → per-row scores → explode(4) → window rank → count:
    * one shuffle by doc, one by (lang, pred). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    // fanned out (round 16): four marker-array scans per row over a
    // single-split scan — the q23 rationale
    val docs = Tables.fanOut(Tables.documents(spark, dir))
      .withColumn("ws", filter(split(col("text"), " "), x => length(x) > 0))
    val scored = docs.select(col("doc_id"), col("lang"), explode(array(
      LangMarkers.map { case (l, marks) =>
        val mArr = array(marks.map(lit): _*)
        struct(lit(l).as("cand"),
          size(filter(col("ws"), x => array_contains(mArr, x))).cast("long").as("score"))
      }: _*)).as("s"))
      .select(col("doc_id"), col("lang"), col("s.cand"), col("s.score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("cand"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"),
        when(col("score") > 0, col("cand")).otherwise("unknown").as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred"))
  }

  /** BPE-ish token regex: letter runs, digit runs, or single
    * non-alphanumeric marks — a deterministic stand-in for a real BPE
    * vocabulary with the same plan shape (regex over the scan). */
  val BpeTokenRe = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** q25 — token counting: whitespace tokens vs BPE-ish regex tokens
    * per doc. No shuffle; linear in the scan. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    // fanned out (round 16): the regex_extract_all pass is the
    // heaviest per-row text kernel — the q23 rationale
    Tables.fanOut(Tables.documents(spark, dir))
      .select(
        col("doc_id"),
        size(filter(split(col("text"), " "), x => length(x) > 0)).cast("long").as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit(BpeTokenRe), lit(0)))
          .cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** q57 — Unicode canonical normalization (NFC) via the codegen
    * [[graft.functions.NfcNormalize]] expression: the canonicalization
    * stage every text pipeline runs before hashing/shingling, since a
    * decomposed `e`+U+0301 and a precomposed `é` are different bytes
    * for the same grapheme. The synthetic corpus is pure ASCII (NFC =
    * identity, exercising only the expression's zero-copy fast path),
    * so the query prepends a pinned decomposed prefix on BOTH engines
    * — `Cafe`+U+0301 + ` nai`+U+0308+`ve ` — making the normalization
    * observable in the oracle: len_nfc = len_raw − 2 on every row
    * (two combining marks compose away). Per-row projection, no
    * shuffle; linear in the scan at any scale. */
  def nfcNormalize(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(lit("Cafe\u0301 nai\u0308ve "), substring(col("text"), 1, 40)).as("raw"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("len_raw"),
        length(nfc(col("raw"))).cast("long").as("len_nfc"),
        nfc(col("raw")).as("text_nfc"))
      .orderBy(col("doc_id"))
  }

  /** q43 — corpus vocabulary profile: top-k tokens by total
    * occurrence count with document frequency — the Zipf/vocabulary
    * report a pipeline runs before tokenizer training or corpus-mix
    * decisions. Deterministic: ties at the cut break by token.
    *
    * Plan shape at 100 TB: this is canonical wordcount — explode →
    * partial-agg on (token, doc) map-side → shuffle by token → final
    * agg; the cross-document aggregation genuinely requires the
    * shuffle (unlike q41's per-doc counts, which stay row-local). The
    * top-k is TakeOrderedAndProject (per-partition heaps + a k-row
    * driver merge), never a global sort; the rank window then runs
    * over k rows, not the vocabulary. */
  def vocabTopK(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    // empties dropped AFTER the explode with a plain codegen'd
    // predicate — a pre-explode `filter(split(...), len > 0)` pays an
    // interpreted higher-order lambda on every corpus row (the 5-8×
    // interpretation tax the text family's codegen work removed)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val vocab = toks.groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
    vocab.orderBy(col("tf").desc, col("token")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("tf").desc, col("token"))).cast("long"))
      .select(col("rank"), col("token"), col("tf"), col("df"))
      .orderBy(col("rank"))
  }

  /** PII redaction patterns: (label, regex, replacement token). Order
    * matters — applied sequentially, counts taken per pattern on the
    * ORIGINAL text (documented: overlapping patterns both count). */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\+?\\d[\\d() -]{7,}\\d", "<PHONE>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** The redaction as reusable COLUMNS over a `text` column —
    * (clean_text, n_redacted) — so any projection (batch q-series,
    * [[graft.stream.StreamingIngest]]'s per-row stage) applies the one
    * pattern list without a join. */
  def redactColumns: (Column, Column) = {
    val counts = PiiPatterns.map { case (_, re, _) =>
      size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long")
    }.reduce(_ + _)
    val cleaned = PiiPatterns.foldLeft(col("text")) { case (c, (_, re, repl)) =>
      regexp_replace(c, re, repl)
    }
    (cleaned, counts)
  }

  /** PII scrubbing — the redaction stage of a training-data pipeline:
    * (doc_id, clean_text, n_redacted). Pure regexp_replace /
    * regexp_extract_all expressions over the scan (codegen'd
    * builtins, zero shuffle, linear at any scale). Spec-certified on
    * synthetic fixtures — the driver corpus contains no PII-shaped
    * tokens, so an oracle row would certify only the vacuous case. */
  def redactPii(docs: DataFrame): DataFrame = {
    val (cleaned, counts) = redactColumns
    docs.select(col("doc_id"), cleaned.as("clean_text"), counts.as("n_redacted"))
  }

  /** q41 — within-document repetition stats, the Gopher-style
    * repetition filter of a training-data pipeline: documents whose
    * text is dominated by a few repeated phrases (boilerplate,
    * navigation chrome, generated spam) are low-value and get flagged
    * by these two ratios per doc:
    *  - `dup_frac`  = 1 − distinct_bigrams / total_bigrams — overall
    *    repeatedness of the phrase stream;
    *  - `top_frac`  = count(most frequent bigram) / total_bigrams —
    *    single-phrase domination.
    * Documents with fewer than 2 tokens (no bigrams) drop out — no
    * ratio is defined for them.
    *
    * ZERO-SHUFFLE, ZERO-INTERPRETATION plan: the whole bigram count
    * map lives inside the custom codegen expression
    * [[graft.functions.BigramStats]] (one byte scan per row, struct
    * fields CSE-shared). The explode→groupBy×2 formulation would
    * amplify ~n_tokens rows per doc through two exchanges — at 100 TB
    * the amplification IS the cost; per-row state that fits in memory
    * (a doc's own bigram set) should never cross a shuffle. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      // the ≥2-tokens gate as an INDEPENDENT cheap predicate (some
      // non-space, ≥1 space, some non-space ⟺ n_bigrams ≥ 1): filtering
      // on bigram_stats itself gets pushed below the project and
      // SUBSTITUTED by the optimizer — the count map would build twice
      // per row; this regex prunes before the expression runs at all
      .filter(col("text").rlike("[^ ] +[^ ]"))
      .withColumn("bs", bigramStats(col("text")))
      .select(
        col("doc_id"),
        col("bs.n_bigrams").as("n_bigrams"),
        col("bs.n_distinct_bigrams").as("n_distinct_bigrams"),
        col("bs.max_count").as("max_count"),
        (lit(1.0) - col("bs.n_distinct_bigrams") / col("bs.n_bigrams")).as("dup_frac"),
        (col("bs.max_count") / col("bs.n_bigrams")).as("top_frac"))
      .orderBy(col("doc_id"))
  }

  /** q26 — winnowing document fingerprint (MOSS-style): hash every
    * char k-gram (k = 8), keep the minimum hash of each sliding window
    * of w = 4 positions, fingerprint = sorted distinct minima ('|'-joined —
    * array cells kill the driver comparator). Robust to small edits;
    * the standard near-dup/plagiarism sketch.
    *
    * ZERO-SHUFFLE, ZERO-INTERPRETATION plan: the per-row k-gram
    * hashing + window minima run inside the custom codegen expression
    * [[graft.functions.WinnowMinima]] (one static call per row from
    * generated code). The round-2 version exploded ~n_chars rows per
    * doc through a window shuffle — a row amplification through the
    * exchange that is the real bottleneck on a 1000-executor cluster;
    * an intermediate higher-order-function version avoided the shuffle
    * but paid ~1.7× interpreted-lambda CPU. This keeps both wins. */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    // fanned out (round 15): the per-char winnowing pass is the whole
    // cost and ran serialized on the one-row-group scan — measured
    // 1.41 → 0.58 s at sf0.1
    Tables.fanOut(Tables.documents(spark, dir))
      .filter(length(col("text")) >= k)
      .select(col("doc_id"),
        array_join(array_sort(array_distinct(winnowMinima(col("text"), k, 4)))
          .cast("array<string>"), "|").as("fingerprint"),
        (length(col("text")) - (k - 1)).cast("long").as("n_grams"))
      .orderBy(col("doc_id"))
  }

  /** q61 — BPE merge-candidate pair counts, the statistics kernel of
    * tokenizer training: corpus-wide frequency of every adjacent
    * character pair within words (merges never cross whitespace), with
    * document frequency alongside, top-k by count. Re-run over the
    * partially-merged symbol stream, this exact job is every
    * subsequent BPE round; round one is directly computable from raw
    * text and is what this query pins.
    *
    * Plan shape at 100 TB: the per-row pair stream comes from the
    * custom codegen expression [[graft.functions.CharPairs]] (one byte
    * scan per row, code-point addressed — no interpreted lambdas, no
    * pre-explode amplification), then explode → the canonical
    * word-count two-phase aggregate: map-side partials shrink each
    * task to its distinct-pair set (bounded by alphabet², tiny) before
    * the ONE shuffle keyed by pair, and top-k is TakeOrdered — never a
    * global sort. */
  def bpePairCounts(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(charPairs(col("text"))).as("pair"))
    val counts = pairs.groupBy(col("pair"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("pair"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("df"))
    counts.orderBy(col("n").desc, col("pair")).limit(50)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("pair"))).cast("long"))
      .select(col("rank"), col("pair"), col("n"), col("df"))
      .orderBy(col("rank"))
  }

  /** Iterative BPE tokenizer TRAINING — the loop whose single step
    * q61 profiles (Sennrich et al. 2016). Returns the learned merge
    * list in order: `(rank, left, right, pair_count)`.
    *
    * The scalable shape: the corpus is scanned ONCE into a (word,
    * count) VOCABULARY table — after that, every merge round runs on
    * the vocab relation, never the corpus, which is how BPE training
    * stays tractable at 100 TB (the vocab is heavy-tailed and orders
    * of magnitude smaller than the corpus; it still lives in a
    * Dataset, so a billion-type vocabulary distributes fine). Each
    * round is: weighted adjacent-pair count over the current
    * segmentations (one vocab-sized shuffle, map-side partial) →
    * argmax collected to the driver (count DESC, then (left, right)
    * in CODE-POINT order — Spark's binary UTF-8 string ordering,
    * which equals code-point order; note java.lang.String's UTF-16
    * comparison differs for supplementary-plane symbols, so any
    * driver-side reimplementation must compare code points — the
    * deterministic tie-break both the spec's brute force and any
    * re-run reproduce) → row-local merge rewrite
    * of the segmentations (narrow, no shuffle). Lineage is truncated
    * with localCheckpoint every few rounds, the [[graft.ops.LlmOps
    * .connectedComponents]] pattern for driver-loop iteration.
    *
    * Symbols are CODE POINTS (surrogate-safe, matching `char_pairs` /
    * q61 semantics); words are whitespace tokens (the project-wide
    * tokenization rule). `minPairCount` stops training when the best
    * pair drops below it (vocabulary saturated). */
  def bpeTrain(spark: SparkSession, dir: String, nMerges: Int,
               minPairCount: Long = 2L): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    val checkpointEvery = 8
    // ONE corpus pass: whitespace words with frequencies, then each
    // word as its code-point symbol sequence
    var vocab = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .map { case (w, c) =>
        val cps = w.codePoints().toArray
        (cps.indices.map(i => new String(cps, i, 1)), c)
      }
      .toDF("syms", "cnt")
      .as[(Seq[String], Long)]
      .localCheckpoint()
    // each new checkpoint supersedes the previous one — free its
    // blocks explicitly (the [[Caches.freeLocalCheckpoint]] rule:
    // ~nMerges/8 vocab-sized block sets would otherwise pile up on
    // the executors until driver GC)
    var lastCkpt = vocab
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var saturated = false
    try {
      while (rank < nMerges && !saturated) {
        // weighted pair counts over the CURRENT segmentation; argmax
        // with the pinned tie-break, one row to the driver
        val best = vocab.flatMap { case (syms, c) =>
          (0 until syms.length - 1).map(i => ((syms(i), syms(i + 1)), c))
        }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
          .map { case ((l, r), n) => (l, r, n) }
          .toDF("l", "r", "n")
          .orderBy(col("n").desc, col("l"), col("r")).limit(1)
          .as[(String, String, Long)].collect().headOption
        best match {
          case Some((l, r, n)) if n >= minPairCount =>
            merges += ((rank, l, r, n))
            val merged = l + r
            // row-local merge: replace every (l, r) adjacency left-to-
            // right (the standard greedy single-pass application)
            vocab = vocab.map { case (syms, c) =>
              (mergeOnce(syms, l, r, merged), c)
            }
            rank += 1
            if (rank % checkpointEvery == 0) {
              vocab = vocab.localCheckpoint() // eager: materializes from lastCkpt's blocks
              Caches.freeLocalCheckpoint(lastCkpt)
              lastCkpt = vocab
            }
          case _ => saturated = true
        }
      }
    } finally {
      // the merge list is driver-side — the current checkpoint's
      // blocks have no further reader, on success OR a thrown round
      Caches.freeLocalCheckpoint(lastCkpt)
    }
    merges.result()
  }

  /** One left-to-right greedy merge pass: every (l, r) adjacency in
    * `syms` becomes `merged`. Shared by training and encoding so the
    * two sides cannot drift. */
  private def mergeOnce(syms: Seq[String], l: String, r: String,
                        merged: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += merged; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** BPE ENCODING — apply a [[bpeTrain]] merge list to the corpus:
    * (doc_id, tokens array<string>, n_tokens). Entirely row-local
    * (the merge table broadcasts as a closure constant; each word
    * re-applies the merges in RANK ORDER, the rule that makes
    * encoding deterministic and training-consistent), so the encode
    * pass rides the scan at any corpus size — the same
    * zero-shuffle shape as the other per-row text kernels. */
  def bpeEncode(spark: SparkSession, dir: String,
                merges: Seq[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    val ranked = merges.sortBy(_._1).map { case (_, l, r, _) => (l, r) }
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .as[(Long, Seq[String])]
      .map { case (id, words) =>
        val tokens = words.filter(_.nonEmpty).flatMap { w =>
          val cps = w.codePoints().toArray
          var syms: Seq[String] = cps.indices.map(i => new String(cps, i, 1))
          ranked.foreach { case (l, r) => syms = mergeOnce(syms, l, r, l + r) }
          syms
        }
        (id, tokens, tokens.length.toLong)
      }
      .toDF("doc_id", "tokens", "n_tokens")
      .orderBy(col("doc_id"))
  }

  /** Add-k-smoothed bigram language model over a `documents`-shaped
    * relation — the tables + constants [[lmScore]] consumes. All
    * three DataFrames are VOCABULARY-sized, never corpus-sized;
    * [[lmTrain]] registers vocab and bigrams with [[Caches]] (the
    * harness releaseAll contract), so repeated scoring never re-runs
    * the corpus aggregations; [[lmSave]]/[[lmLoad]] make the model a
    * durable artifact. */
  final case class BigramLm(vocab: DataFrame,    // (token) — top-maxVocab
                            bigrams: DataFrame,  // (w1, w2, bcount)
                            contexts: DataFrame, // (w1, ccount)
                            vocabSize: Long, k: Double)

  /** The sentence-start sentinel and the out-of-vocabulary bucket —
    * RESERVED symbols: neither can enter the learned vocabulary, and
    * a literal corpus `<s>` token is remapped to `<unk>` before
    * adjacency, so the `<s>` value is unambiguously the sentinel in
    * every model table (a literal `<unk>` needs no rewrite — it is
    * never in the vocabulary, so it folds into the unk bucket like
    * any OOV token). */
  private val Sentinel = "<s>"
  private val Unk = "<unk>"

  /** Row-local bigram rows (doc_id, w1, w2): whitespace tokens
    * (reserved symbols remapped per the [[Sentinel]] policy), a
    * `<s>` head so the first token is conditioned, adjacency built
    * INSIDE the row (array slice + zip) — the corpus never shuffles
    * to form its bigrams. A zero-token doc yields no rows. */
  private def bigramRows(docs: DataFrame): DataFrame = {
    val raw = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val toks = transform(raw, t => when(t === Sentinel, Unk).otherwise(t))
    val prevs = concat(array(lit(Sentinel)),
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))))
    docs.select(col("doc_id"),
        explode(arrays_zip(prevs.as("w1"), toks.as("w2"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w2").isNotNull)
  }

  /** Map both bigram sides through the capped vocabulary: tokens
    * outside it become `<unk>`; the `<s>` sentinel survives as a
    * context (unambiguously — [[bigramRows]] already remapped any
    * literal corpus `<s>`). The vocab is maxVocab-bounded by
    * construction → an explicit broadcast hash join on each side. */
  private def mapUnk(bg: DataFrame, vocab: DataFrame): DataFrame = {
    val v1 = broadcast(vocab.select(col("token").as("w1"), lit(true).as("in1")))
    val v2 = broadcast(vocab.select(col("token").as("w2"), lit(true).as("in2")))
    bg.join(v1, Seq("w1"), "left").join(v2, Seq("w2"), "left")
      .select(col("doc_id"),
        when(col("w1") === Sentinel, col("w1"))
          .otherwise(when(col("in1"), col("w1")).otherwise(lit(Unk))).as("w1"),
        when(col("in2"), col("w2")).otherwise(lit(Unk)).as("w2"))
  }

  /** Bigram-LM quality-model TRAINING — the CCNet-style filter
    * (Wenzek et al. 2020 score documents with an n-gram model and
    * keep the low-perplexity tail; smoothing per Jurafsky & Martin
    * ch. 3, add-k). TWO corpus passes total: one builds the
    * top-`maxVocab` vocabulary (heavy-tailed, everything else mapped
    * to `<unk>` — the cap is what keeps the model bounded at 100 TB;
    * reserved symbols excluded per the [[Sentinel]] policy), one the
    * bigram counts over the mapped stream; both results are
    * vocabulary-sized and CACHED (via [[Caches]] — without that, the
    * two broadcast sides of [[mapUnk]], the context roll-up, and
    * every save/score replay the corpus-wide aggregations). The
    * vocabulary cut is deterministic (frequency DESC, token ASC).
    * `vocabSize` = |vocab| + 1: the next-word space is the
    * vocabulary plus `<unk>` (`<s>` is only ever a context). */
  def lmTrain(docs: DataFrame, maxVocab: Int = 50000, k: Double = 0.1): BigramLm = {
    val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val vocab = Caches.persist(docs.select(explode(toks).as("token"))
      .filter(!col("token").isin(Sentinel, Unk))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token")).limit(maxVocab)
      .select(col("token")))
    val mapped = mapUnk(bigramRows(docs), vocab)
    val bigrams = Caches.persist(
      mapped.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bcount")))
    val contexts = bigrams.groupBy(col("w1")).agg(sum(col("bcount")).as("ccount"))
    BigramLm(vocab, bigrams, contexts, vocab.count() + 1, k)
  }

  /** Persist a trained [[BigramLm]] as a reusable artifact — the
    * [[Embeddings.saveQuantizer]] deployment shape: train once, load
    * from every scoring job instead of re-running the corpus pass.
    * Unlike the quantizer the model tables are vocabulary-sized, not
    * driver-sized, so they are written as DISTRIBUTED parquet (only
    * the one-row meta ever funnels). Layout:
    * `<path>/{vocab,bigrams,contexts,meta}.parquet`. */
  def lmSave(lm: BigramLm, path: String): Unit = {
    lm.vocab.write.mode(SaveMode.Overwrite).parquet(s"$path/vocab.parquet")
    lm.bigrams.write.mode(SaveMode.Overwrite).parquet(s"$path/bigrams.parquet")
    lm.contexts.write.mode(SaveMode.Overwrite).parquet(s"$path/contexts.parquet")
    val spark = lm.vocab.sparkSession
    import spark.implicits._
    Seq((lm.vocabSize, lm.k)).toDF("vocab_size", "k")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta.parquet")
  }

  /** Load a [[lmSave]] artifact. The returned tables are plain
    * parquet scans — scoring against a loaded model re-reads files,
    * never the training corpus. */
  def lmLoad(spark: SparkSession, path: String): BigramLm = {
    val meta = spark.read.parquet(s"$path/meta.parquet").collect()(0)
    BigramLm(
      spark.read.parquet(s"$path/vocab.parquet"),
      spark.read.parquet(s"$path/bigrams.parquet"),
      spark.read.parquet(s"$path/contexts.parquet"),
      meta.getAs[Long]("vocab_size"), meta.getAs[Double]("k"))
  }

  /** Score documents against a trained [[BigramLm]]: per doc,
    * `n_tokens` (= scored bigrams — every token is conditioned
    * exactly once via the `<s>` head), `cross_entropy` (nats/token)
    * and `perplexity` (e^xent). The same row-local bigram explode as
    * training, unk-mapped, left-joined against the model — no
    * broadcast hint on the model joins (the [[LlmOps.dropList]]
    * rule: vocabulary-sized usually broadcasts via AQE, but a forced
    * hint would OOM on a pathological vocab). Unseen bigram in a
    * seen context: (0+k)/(C(w1)+kV); wholly unseen context: the k
    * cancels to exactly 1/V (uniform). Zero-token docs produce no
    * score row — there is nothing to condition. */
  def lmScore(docs: DataFrame, lm: BigramLm): DataFrame = {
    val mapped = mapUnk(bigramRows(docs), lm.vocab)
    // Per-bigram log-prob QUANTIZED to an 8-dp decimal before the
    // per-doc sum (the q62 never-sum-raw-doubles rule): decimal
    // addition is exact, so the score is bit-identical under any
    // partitioning or summation order — and a 1-ulp libm difference
    // in ln() between engines dies in the cast. |logp| < 40, so
    // DECIMAL(18,8) holds ~10^5-bigram documents with headroom; the
    // 5e-9 grid is ~6 orders below any filter-relevant xent gap.
    // cross_entropy/perplexity derive from the exact sum by single
    // IEEE ops (÷, exp) + one final 6-dp quantization.
    mapped
      .join(lm.bigrams, Seq("w1", "w2"), "left")
      .join(lm.contexts, Seq("w1"), "left")
      .select(col("doc_id"),
        log((coalesce(col("bcount"), lit(0L)) + lm.k) /
            (coalesce(col("ccount"), lit(0L)) + lm.k * lm.vocabSize))
          .cast("decimal(18,8)").as("logp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("logp")).as("sum_logp"))
      // cross_entropy is NOT re-quantized: -(exact sum)/n is a single
      // IEEE division of identical inputs — already bit-deterministic
      // everywhere. (Quantizing it WOULD flake: an 8-dp sum over a
      // small n lands exactly on 8-dp half-boundaries, where Spark's
      // shortest-string double→decimal rounding and other engines'
      // scaled-multiply rounding disagree.) perplexity goes through
      // libm exp, so it alone gets the 6-dp absorb-the-ulp cast.
      .select(col("doc_id"), col("n_tokens"),
        (-(col("sum_logp").cast("double")) / col("n_tokens")).as("cross_entropy"))
      // DECIMAL(38,6), not (18,6): xent can legitimately reach ~35
      // (an all-unseen-bigram doc against a 100 TB-trained model has
      // logp ≈ −ln(ccount/k)), and exp(35) ≈ 1.6e15 overflows the
      // 1e12 ceiling of precision 18 — Spark's non-ANSI cast would
      // NULL it silently while DuckDB errors. Precision 38 holds to
      // e^73, far past any reachable cross-entropy. Bound on the
      // absorb-the-ulp property: the fixed 1e-6 grid out-coarsens a
      // double ulp only while perplexity < ~4e9 (xent < ~22) — true
      // at every oracle SF by construction (xent ≤ ln(corpus
      // tokens/k) ≈ 13 at sf0.01), so the GATE is safe; past that,
      // perplexity is a display value and filtering/conformance
      // should key on cross_entropy, which is exact at every scale.
      .withColumn("perplexity",
        exp(col("cross_entropy")).cast("decimal(38,6)").cast("double"))
  }

  /** q72 — the oracle-gated conformance shape of the CCNet-style
    * quality filter: train the bigram LM on the hash-stable 80%
    * "train" docs (doc_id % 10 < 8 — the q36 split rule family),
    * score the held-out 20%. maxVocab pinned small (2000) so the
    * `<unk>` path is exercised at every scale factor. */
  def lmPerplexityScores(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lm = lmTrain(docs.filter(col("doc_id") % 10 < 8), maxVocab = 2000)
    lmScore(docs.filter(col("doc_id") % 10 >= 8), lm).orderBy(col("doc_id"))
  }
}
