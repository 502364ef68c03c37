package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al.
  * 2023, "Data Selection for Language Models via Importance
  * Resampling"): fit cheap bag-of-hashed-n-gram generative models on
  * a TARGET corpus (the distribution you want more of — e.g. books,
  * wiki) and on the RAW pool, weight every raw document by its log
  * importance ratio log p̂_target(x) − log p̂_raw(x), and resample
  * without replacement via the Gumbel-top-k trick. The selection
  * stage that sits between crawling and curation in a training-data
  * pipeline — [[LlmOps.curateCorpus]] drops bad documents, DSIR
  * CHOOSES among the good ones.
  *
  * Scale shape (the paper's reason to use hashed n-grams at all):
  * both models are `nBuckets`-bounded tables regardless of corpus
  * size — training is ONE corpus pass ending in a bucket-keyed
  * aggregate with map-side partials; scoring is a row-local feature
  * explode, one bounded-table join, and a per-doc roll-up whose
  * map-side partials collapse each document's features before the
  * exchange (a document's feature rows are generated inside one
  * input partition, so the doc-keyed shuffle carries ~one row per
  * document, not per n-gram). Resampling is a TakeOrdered top-k —
  * never a global sort. The Gumbel noise is a pure function of
  * (salt, doc_id) through [[LlmOps.portableHash64]] (the
  * [[Sampling]] rule, NOT `rand()`): the same pool resamples
  * identically on any engine, cluster size, or partitioning.
  */
object Dsir {

  /** A fitted bag-of-hashed-n-grams model: `buckets` is (bucket,
    * cnt) with at most [[nBuckets]] rows — BOUNDED by construction,
    * never corpus-sized; `total` = Σ cnt; add-`k` smoothing turns
    * counts into probabilities at scoring time:
    * p(b) = (cnt_b + k) / (total + k·nBuckets). */
  final case class HashNgramModel(buckets: DataFrame, total: Long,
                                  nBuckets: Int, k: Double)

  /** Row-local hashed feature rows (doc_id, bucket): whitespace
    * unigrams plus adjacent space-joined bigrams (tokens contain no
    * whitespace by construction, so the bigram string is
    * unambiguous), each hashed into [0, nBuckets) via the portable
    * 60-bit hash. Adjacency is built INSIDE the row (slice + zip) —
    * the corpus never shuffles to form its features. A zero-token
    * document yields no rows. */
  private def featureRows(docs0: DataFrame, nBuckets: Int): DataFrame = {
    // fanned out: tokenize + per-n-gram md5 hashing is the
    // dominant cost of both model fits and the scoring pass, and ran
    // serialized on the one-row-group scan — q73 measured 1.89 →
    // ~1.2 s at sf0.1
    val docs = Tables.fanOut(docs0)
    val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val bigs = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    docs.select(col("doc_id"), explode(concat(toks, bigs)).as("ngram"))
      .select(col("doc_id"),
        pmod(LlmOps.portableHash64(col("ngram")), lit(nBuckets.toLong)).as("bucket"))
  }

  /** Fit a [[HashNgramModel]] on a corpus: one pass, one
    * bucket-keyed aggregate (map-side partials; the result is
    * nBuckets-bounded). The bucket table is CACHED via [[Caches]]
    * (the harness releaseAll contract) — every scoring job joins it,
    * and [[dsirSave]] re-reads it. */
  def dsirTrain(docs: DataFrame, nBuckets: Int = 10000,
                k: Double = 0.1): HashNgramModel = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(k > 0, "add-k smoothing needs k > 0")
    val buckets = Caches.persist(featureRows(docs, nBuckets)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt")))
    val total = buckets.agg(coalesce(sum(col("cnt")), lit(0L)).as("t"))
      .collect()(0).getLong(0)
    HashNgramModel(buckets, total, nBuckets, k)
  }

  /** Persist a fitted model as a reusable artifact (the
    * [[TextOps.lmSave]] shape): the bounded bucket table as
    * distributed parquet, the scalars as a one-row meta table.
    * Layout: `<path>/{buckets,meta}.parquet`. */
  def dsirSave(m: HashNgramModel, path: String): Unit = {
    m.buckets.write.mode(SaveMode.Overwrite).parquet(s"$path/buckets.parquet")
    val spark = m.buckets.sparkSession
    import spark.implicits._
    Seq((m.total, m.nBuckets, m.k)).toDF("total", "n_buckets", "k")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta.parquet")
  }

  /** Load a [[dsirSave]] artifact — scoring against a loaded model
    * re-reads the bounded table, never the training corpus. */
  def dsirLoad(spark: SparkSession, path: String): HashNgramModel = {
    val meta = spark.read.parquet(s"$path/meta.parquet").collect()(0)
    HashNgramModel(spark.read.parquet(s"$path/buckets.parquet"),
      meta.getAs[Long]("total"), meta.getAs[Int]("n_buckets"),
      meta.getAs[Double]("k"))
  }

  /** The per-bucket log importance ratio table
    * log p̂_target(b) − log p̂_raw(b) (≤ nBuckets rows), plus the
    * constant ratio for buckets absent from BOTH models (where the
    * smoothing masses alone ratio against each other) — needed
    * because a scored document can hash a feature into a bucket no
    * training n-gram touched. */
  private def logRatio(target: HashNgramModel,
                       raw: HashNgramModel): (DataFrame, java.math.BigDecimal) = {
    require(target.nBuckets == raw.nBuckets,
      "target and raw models must share the feature space (nBuckets)")
    val denomT = target.total + target.k * target.nBuckets
    val denomR = raw.total + raw.k * raw.nBuckets
    // Per-bucket log ratio QUANTIZED to an 8-dp decimal (the q62
    // never-sum-raw-doubles rule): the per-doc weight is an exact
    // decimal sum — bit-identical under any partitioning, summation
    // order, or engine (libm ln ulp noise dies in the cast). |lr| is
    // a log-prob difference (< ~40), so DECIMAL(18,8) holds 10^5
    // features per doc with headroom.
    // valueOf (shortest-string repr), NOT new BigDecimal(double):
    // Spark's double→decimal cast rounds the shortest representation,
    // and the driver-side constant must quantize on the same rule.
    val dflt = java.math.BigDecimal.valueOf(
      math.log(target.k / denomT) - math.log(raw.k / denomR))
      .setScale(8, java.math.RoundingMode.HALF_UP)
    val t = target.buckets.select(col("bucket"), col("cnt").as("tcnt"))
    val r = raw.buckets.select(col("bucket"), col("cnt").as("rcnt"))
    val lr = t.join(r, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        (log((coalesce(col("tcnt"), lit(0L)) + target.k) / denomT) -
         log((coalesce(col("rcnt"), lit(0L)) + raw.k) / denomR))
          .cast("decimal(18,8)").as("lr"))
    (lr, dflt)
  }

  /** Per-document log importance weights: (doc_id, n_feats,
    * log_weight) where log_weight = Σ over the doc's hashed features
    * of the bucket's log ratio. No broadcast hint on the model join
    * (the [[LlmOps]] dropList rule — an nBuckets-bounded table
    * normally broadcasts via AQE, but a forced hint would OOM on a
    * pathological nBuckets). Zero-token documents produce no row —
    * they have no features to weigh (curation's length gate owns
    * them, not selection). */
  def dsirLogWeights(docs: DataFrame, target: HashNgramModel,
                     raw: HashNgramModel): DataFrame =
    logWeightsQ(docs, target, raw)
      .select(col("doc_id"), col("n_feats"),
        col("log_weight_q").cast("double").as("log_weight"))

  /** [[dsirLogWeights]] with the weight still in its EXACT decimal
    * form — [[dsirResample]] ranks on it so the selection cut never
    * rides double noise. */
  private def logWeightsQ(docs: DataFrame, target: HashNgramModel,
                          raw: HashNgramModel): DataFrame = {
    val (lr, dflt) = logRatio(target, raw)
    featureRows(docs, target.nBuckets)
      .join(lr, Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("lr"), lit(dflt).cast("decimal(18,8)")))
          .as("log_weight_q"))
  }

  /** Gumbel-top-k resampling WITHOUT replacement (the paper's
    * sampling trick): keep the `nKeep` documents maximizing
    * log_weight + Gumbel(0,1) noise, which samples exactly
    * proportionally to the importance weights. The noise is
    * DETERMINISTIC — u = (hash60(salt:doc_id) + 0.5) / 2^60 ∈ (0,1),
    * g = −log(−log u) — so the selection is a pure function of
    * (pool, salt, nKeep) and replays identically anywhere; ties
    * break on doc_id. The ranking key is EXACT: the decimal weight
    * sum plus the Gumbel noise QUANTIZED to the same DECIMAL(18,8)
    * grid — membership at the nKeep cut is bit-deterministic across
    * engines (a raw-double key would let a libm ln ulp flip the
    * rank-k/rank-k+1 order; the q71-q74 rule applies to the KEY, not
    * just the output). Plan: the weight roll-up, one TakeOrdered
    * top-k — no global sort, nothing driver-side but the k rows. */
  def dsirResample(docs: DataFrame, target: HashNgramModel,
                   raw: HashNgramModel, nKeep: Int,
                   salt: String = "dsir-v1"): DataFrame = {
    require(nKeep >= 0, "nKeep must be non-negative")
    val h = LlmOps.portableHash64(
      concat(lit(salt), lit(":"), col("doc_id").cast("string")))
    val u = (h.cast("double") + 0.5) / math.pow(2.0, 60)
    val g = (-log(-log(u))).cast("decimal(18,8)")
    logWeightsQ(docs, target, raw)
      .withColumn("gumbel_key_q", col("log_weight_q") + g)
      .orderBy(col("gumbel_key_q").desc, col("doc_id"))
      .limit(nKeep)
      .select(col("doc_id"), col("n_feats"),
        col("log_weight_q").cast("double").as("log_weight"),
        col("gumbel_key_q").cast("double").as("gumbel_key"))
  }

  /** q73 — the oracle-gated conformance shape: target model on the
    * hash-stable doc_id % 7 = 0 slice (the distribution to upweight),
    * raw model on the whole pool, Gumbel-top-100 selection on the
    * exact decimal key. The gumbel_key is still dropped from the
    * gated output (its DOUBLE rendering carries libm-ulp noise even
    * though the ranking itself is exact); membership + the
    * exact-decimal weights are the gated result, ordered by
    * doc_id. */
  def dsirSelectDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val target = dsirTrain(docs.filter(col("doc_id") % 7 === 0))
    val raw = dsirTrain(docs)
    dsirResample(docs, target, raw, nKeep = 100)
      .select(col("doc_id"), col("n_feats"), col("log_weight"))
      .orderBy(col("doc_id"))
  }
}
