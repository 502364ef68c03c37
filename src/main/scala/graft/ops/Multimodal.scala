package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media asset: an opaque binary payload plus typed metadata —
  * the storage contract for multimodal training data (images/audio/
  * video ride through the pipeline as `binary` columns; only the
  * decode step knows the codec). */
case class MediaRecord(media_id: Long, kind: String, content: Array[Byte])

/** Multimodal-column operators: binary payloads with typed metadata.
  *  - q28 [[mediaMeta]] projects typed metadata from the binary column
  *    with pure expressions, so DuckDB reproduces every value;
  *  - [[perceptualHashes]] decodes image payloads with the JDK's
  *    ImageIO and dHashes the pixels, and [[phashNearDup]] pairs
  *    near-identical images by banded Hamming blocking. The stream
  *    side, [[graft.stream.StreamingPhashDedup]], shares the per-record
  *    hasher and the band keys.
  *
  * Assets are `binary` columns in a columnar table: parquet keeps them
  * page-compressed, and predicate pushdown still prunes on the typed
  * metadata columns. Decode is embarrassingly parallel over input
  * splits.
  */
object Multimodal {

  /** Media table synthesized from `documents`: the text bytes play the
    * opaque payload (the driver testdata has no real media), kind
    * assigned deterministically. Schema is the production contract:
    * (media_id, kind, content: binary). */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("content"))

  /** dHash-64 over a decoded raster, the pixel-level member of the
    * dedup family: average-downsample the luminance to a 9×8 grid and
    * set bit r*8+c iff grid(r,c) > grid(r,c+1) — the standard
    * difference hash. Gradient-based, so it is invariant to global
    * brightness/contrast shifts and robust to resizing/recompression,
    * which byte-level hashes (q19 md5) and text sketches can't see.
    * Area-averaged downsample (every pixel contributes), not
    * point-sampled — two JPEG encodes of one photo land within a few
    * bits. */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    // 9 columns × 8 rows of mean luminance; cell (r,c) covers the
    // half-open pixel box [r*h/8,(r+1)*h/8) × [c*w/9,(c+1)*w/9),
    // widened to at least one pixel for rasters narrower than the grid
    val grid = Array.tabulate(8, 9) { (r, c) =>
      val (r0, c0) = (r * h / 8, c * w / 9)
      val (r1, c1) = (math.max(r0 + 1, (r + 1) * h / 8), math.max(c0 + 1, (c + 1) * w / 9))
      var sum = 0.0
      var cnt = 0
      var y = r0
      while (y < r1 && y < h) {
        var x = c0
        while (x < c1 && x < w) {
          val rgb = img.getRGB(x, y)
          sum += ((rgb >> 16) & 255) * 0.299 + ((rgb >> 8) & 255) * 0.587 + (rgb & 255) * 0.114
          cnt += 1
          x += 1
        }
        y += 1
      }
      sum / cnt
    }
    var bits = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (grid(r)(c) > grid(r)(c + 1)) bits |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Decode one image payload and dHash it — the per-record kernel of
    * [[perceptualHashes]] and [[graft.stream.StreamingPhashDedup]]'s
    * micro-batch hasher (ONE definition, so the batch index and the
    * stream side can never hash differently). None for non-image kinds
    * and undecodable payloads — dropped, not stubbed (see
    * [[perceptualHashes]]). */
  private[graft] def hashImage(kind: String, content: Array[Byte]): Option[Long] = {
    if (kind != "image") None
    else {
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content)))
        catch { case scala.util.control.NonFatal(_) => None }
      img.map(dHash64)
    }
  }

  /** Per-image perceptual hashes: decode with ImageIO in a
    * batch-shaped `mapPartitions` (streams each partition in
    * `batchSize` groups, never materializing it) and emit
    * (media_id, phash). Undecodable payloads and non-image
    * kinds are DROPPED, not stubbed — a hash derived from raw bytes
    * would pair arbitrary non-images at random Hamming distances,
    * polluting the near-dup output the operator exists for (the q28
    * metadata projection remains the total operator). */
  def perceptualHashes(media: Dataset[MediaRecord], batchSize: Int = 64): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap(_.flatMap(m =>
        hashImage(m.kind, m.content).map(h => (m.media_id, h))))
    }.toDF("media_id", "phash")
  }

  /** 8 bands × 8 bits = the 64-bit dHash; Hamming ≤ PhashBands−1 is
    * the exact-recall regime (pigeonhole over the bands —
    * PhashBandProperties pins the bound at exactly 7). */
  val PhashBands = 8

  /** Scalar twin of the banding Column below — ONE definition of
    * "band b's bits" for the ScalaCheck pigeonhole properties and any
    * driver-side index builder (the [[graft.functions.MinHashAgg]]
    * twin pattern). */
  private[graft] def phashBandKey(phash: Long, b: Int): Long =
    (phash >>> (b * 8)) & 255L

  /** Explode a phash column into its (band, bits) keys — shared by
    * [[phashNearDup]] and [[graft.stream.StreamingPhashDedup]] so the
    * batch and stream sides index identically. */
  private[graft] def phashBandsCol(ph: Column): Column =
    explode(array((0 until PhashBands).map(b => struct(lit(b).as("band"),
      shiftright(ph, b * 8).bitwiseAND(lit(255L)).as("bits"))): _*))

  /** Pixel-level near-duplicate pairs from dHash-64 fingerprints:
    * banded Hamming blocking (the q22 SimHash / StreamingNearDedup
    * pattern at the image hash's width). The 64 bits split into 8
    * bands of 8; by pigeonhole any pair within Hamming distance 7
    * agrees on at least one full band, so `maxHamming ≤ 7` (default 6
    * — the conventional dHash near-dup threshold is ~6-10 of 64) has
    * NO false negatives; the exact `bit_count` check after the join
    * removes band-collision false positives. Candidate generation is
    * an EQUI-join on (band, band_bits) — never all-pairs: at 100 TB
    * the cost is bounded by per-bucket population exactly like q21's
    * MinHash bands, and a skewed bucket (e.g. the all-zero band of
    * flat images) is an AQE skew-join case, not a plan change. */
  def phashNearDup(hashes: DataFrame, maxHamming: Int = 6): DataFrame = {
    val bands = PhashBands
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming must be ≤ ${bands - 1}: the $bands-band index only guarantees " +
        s"recall for Hamming < $bands (got $maxHamming)")
    val banded = hashes.select(col("media_id"), col("phash"),
      phashBandsCol(col("phash")).as("bk"))
      .select(col("media_id"), col("phash"), col("bk.band"), col("bk.bits"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("id1"), col("y.media_id").as("id2"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** q28 — typed-metadata projection over the binary column, fully
    * expression-based (no UDF): byte length, a content key from md5,
    * and stand-in dimensions derived from the content hash (the
    * fixture payloads are text, not real media), so the DuckDB
    * oracle reproduces every value from the same blob bytes. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    val h = LlmOps.portableHash64(col("content"))
    mediaTable(spark, dir)
      .select(
        col("media_id"), col("kind"),
        length(col("content")).cast("long").as("n_bytes"),
        substring(md5(col("content")), 1, 12).as("content_key"),
        (lit(160) + (h % 16) * 16).cast("long").as("width"),
        // h/16 as integer div = h >> 4 (h is a positive 60-bit hash;
        // a double `/` would lose low bits past 2^53)
        (lit(120) + (shiftright(h, 4) % 16) * 16).cast("long").as("height"),
        when(col("kind") === "video", lit(1) + h % 240)
          .when(col("kind") === "audio", lit(0))
          .otherwise(lit(1)).cast("long").as("n_frames"))
      .orderBy(col("media_id"))
  }
}
