package graft.stream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.simhash60

/** Streaming NEAR-deduplication — the firehose twin of q22/q29's
  * sketch dedup (LLM-pipeline north star: a training-data intake must
  * reject near-copies of the existing corpus at ingest time, not in a
  * nightly batch).
  *
  * Shape: the CORPUS side is a pre-built SimHash band index (static,
  * catalog-sized relative to the raw text — 4 longs per doc); the
  * STREAM side sketches each incoming doc with the same codegen
  * expression ([[graft.functions.SimHash60]]), explodes its 4 band
  * keys, and equi-joins the index per micro-batch. Banding makes the
  * join collision-proportional (the q21 argument), and splitting a
  * 60-bit sketch into 4 × 15-bit bands guarantees by pigeonhole that
  * any pair within Hamming distance 3 agrees on at least one full
  * band — so `maxHamming ≤ 3` has NO false negatives; the exact
  * Hamming check after the join removes band-collision false
  * positives.
  *
  * Index refresh: a stream-static join captures the static side's
  * FILE LISTING in the analyzed plan — on vanilla parquet a running
  * stream does NOT see a rebuilt index (`refreshByPath` only affects
  * plans created afterwards; an overwrite mid-stream fails the scan
  * with missing files). [[nearDupMatches]] therefore treats its index
  * as a frozen snapshot for the stream's lifetime — the correct
  * semantics for a pinned corpus version. For the nightly-rebuild
  * intake, [[nearDupMatchesRefreshing]] re-creates the static side
  * inside each [[ServeLoop]] batch, so every micro-batch lists the
  * index path fresh — the vanilla-Spark refresh pattern (transaction-logged
  * table formats can refresh a stream-static join in place; plain
  * files cannot). Both are exercised in SkewAndStreamDedupSpec.
  * State: only the output-dedup keys, bounded by the watermark
  * horizon — the index itself lives outside streaming state.
  */
object StreamingNearDedup {

  /** 4 bands × 15 bits = the 60-bit SimHash; Hamming ≤ Bands−1 is the
    * exact-recall regime (pigeonhole over the bands). */
  val Bands = 4
  val BandBits = 15

  private def bandVal(sh: Column, b: Int): Column =
    shiftright(sh, b * BandBits).bitwiseAND(lit((1L << BandBits) - 1))

  private def explodeBands(sh: Column): Column =
    explode(array((0 until Bands).map(b =>
      struct(lit(b).as("band"), bandVal(sh, b).as("band_val"))): _*))

  /** Sketch a (doc_id, text) corpus into the band index:
    * (band, band_val, idx_doc_id, idx_simhash). Tokenization matches
    * q22 exactly (whitespace split, empty tokens dropped, tokenless
    * docs out of the near-dup surface). */
  def simhashIndex(docs: DataFrame): DataFrame = {
    docs
      .withColumn("ws", filter(split(col("text"), " "), x => length(x) > 0))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id").as("idx_doc_id"), simhash60(col("ws")).as("idx_simhash"))
      .select(col("idx_doc_id"), col("idx_simhash"), explodeBands(col("idx_simhash")).as("bk"))
      .select(col("bk.band").as("band"), col("bk.band_val").as("band_val"),
        col("idx_doc_id"), col("idx_simhash"))
  }

  /** Match a document stream (ts, doc_id, text) against the index:
    * one row per (incoming doc, corpus doc) within Hamming Bands−1,
    * the band multiplicity collapsed by watermark-bounded dedup. The
    * index is broadcast — the stream side never shuffles for the
    * join. */
  def nearDupMatches(docs: DataFrame, index: DataFrame,
                     horizon: String = "1 hour"): DataFrame =
    matches(sketched(docs), index)
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("doc_id", "idx_doc_id")
      .select(col("ts"), col("doc_id"), col("idx_doc_id").as("match_id"), col("hamming"))

  /** The stream side's band probes: (ts, doc_id, simhash, band,
    * band_val), tokenized as [[simhashIndex]] does. */
  private def sketched(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", filter(split(col("text"), " "), x => length(x) > 0))
      .filter(size(col("ws")) > 0)
      .withColumn("simhash", simhash60(col("ws")))
      .withColumn("bk", explodeBands(col("simhash")))
      .select(col("ts"), col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.band_val").as("band_val"))

  /** Band probes joined to the broadcast index, kept within Hamming
    * Bands−1 — the pigeonhole bound: past it a pair can disagree on
    * every band and vanish from the join — self-matches dropped. */
  private def matches(probes: DataFrame, index: DataFrame): DataFrame =
    probes.join(broadcast(index), Seq("band", "band_val"))
      .withColumn("hamming", bit_count(col("simhash").bitwiseXOR(col("idx_simhash"))))
      .filter(col("hamming") <= Bands - 1 && col("doc_id") =!= col("idx_doc_id"))

  /** Resolve the newest COMPLETE index snapshot under `indexPath`.
    *
    * Versioned layout: each rebuild writes a NEW subdirectory (any
    * lexicographically sortable name — `v00042`, a timestamp) and the
    * greatest subdir carrying a `_SUCCESS` commit marker wins. The
    * writer never overwrites the snapshot a running micro-batch may be
    * mid-scan on, and a new version becomes visible atomically when
    * its marker lands — a half-written rebuild (no marker yet) is
    * invisible. This is the vanilla-parquet answer to the
    * rebuild/scan race (ADVICE r5): an in-place `overwrite` of a
    * plain dir can fail a concurrent batch with missing part files or
    * feed it a partial index.
    *
    * Back-compat: a path with no complete versioned subdir is itself
    * the index (the original flat layout) — callers who accept the
    * overwrite race keep working. */
  private[graft] def resolveSnapshot(spark: SparkSession, indexPath: String): String = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions =
      if (fs.exists(root))
        fs.listStatus(root).filter(_.isDirectory)
          // dot/underscore prefixes are Hadoop's hidden convention —
          // a writer's staging directory (Storage.upsertSnapshot) must
          // never resolve as a snapshot even when fully written
          .filterNot(st => st.getPath.getName.startsWith(".") ||
            st.getPath.getName.startsWith("_"))
          .filter(st => fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
          .map(_.getPath.getName).sortWith(naturalLt)
      else Array.empty[String]
    versions.lastOption.map(v => new org.apache.hadoop.fs.Path(root, v).toString)
      .getOrElse(indexPath)
  }

  /** Natural-order "less than": digit runs compare NUMERICALLY, other
    * chars lexicographically — so an unpadded version scheme (v1..v9,
    * v10) resolves v10 as newest instead of lexicographic "v10" < "v9"
    * silently pinning every future batch to the stale v9 snapshot.
    * Zero-padded and timestamp names order identically to before. */
  private[graft] def naturalLt(a: String, b: String): Boolean = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val (ca, cb) = (a.charAt(i), b.charAt(j))
      if (ca.isDigit && cb.isDigit) {
        var (i2, j2) = (i, j)
        while (i2 < a.length && a.charAt(i2).isDigit) i2 += 1
        while (j2 < b.length && b.charAt(j2).isDigit) j2 += 1
        // compare digit runs as numbers: strip leading zeros, then by
        // length, then lexicographically; equal numbers with different
        // padding fall through to the char comparison for a total order
        val na = a.substring(i, i2).dropWhile(_ == '0')
        val nb = b.substring(j, j2).dropWhile(_ == '0')
        if (na.length != nb.length) return na.length < nb.length
        if (na != nb) return na < nb
        if (i2 - i != j2 - j) return (i2 - i) > (j2 - j) // more padding sorts first
        i = i2; j = j2
      } else {
        if (ca != cb) return ca < cb
        i += 1; j += 1
      }
    }
    a.length < b.length
  }

  /** [[nearDupMatches]] against a file-backed index that is rebuilt
    * while the stream runs (nightly-rebuild intake): the stream side
    * sketches and explodes bands as usual, but the index is re-read
    * from `indexPath` inside each [[ServeLoop]] batch, so each
    * micro-batch joins against a FRESH file listing — no stream
    * restart after a rebuild. Each batch reads the newest complete
    * snapshot via [[resolveSnapshot]] (versioned subdirs + `_SUCCESS`
    * marker; a flat dir still works but is exposed to the overwrite
    * race documented there).
    * Trade-off vs the frozen-snapshot form: match dedup is per-batch
    * (`dropDuplicates` on the batch), not watermark-global — a doc
    * re-arriving in a later batch re-reports its matches, which is
    * what a rebuilt index semantically requires anyway. `onBatch`
    * receives the batch's match rows (ts, doc_id, match_id, hamming)
    * — the side-effect boundary, same role as the label sink.
    *
    * `checkpointDir` makes the intake restartable: committed batches
    * are not re-run after a stop (their matches are not re-reported
    * to `onBatch`), and the first post-restart batch resolves the
    * NEWEST complete snapshot — index rebuilds that land while the
    * intake is down take effect on restart (StreamRestartSpec pins
    * both). */
  def nearDupMatchesRefreshing(docs: DataFrame, indexPath: String, checkpointDir: String)
                              (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    ServeLoop.run(sketched(docs), checkpointDir) { batch =>
      // fresh resolution per batch: newest complete snapshot wins
      matches(batch, spark.read.parquet(resolveSnapshot(spark, indexPath)))
        .dropDuplicates("doc_id", "idx_doc_id")
        .select(col("ts"), col("doc_id"), col("idx_doc_id").as("match_id"), col("hamming"))
    }(onBatch)
  }
}
