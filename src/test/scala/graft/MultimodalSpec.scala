package graft

import graft.ops.{MediaRecord, Multimodal}
import org.apache.spark.sql.functions._

/** Multimodal operators: pixel-level perceptual hashes and their banded
  * near-dup pairs, and the q28 metadata projection's hash-derived
  * dimensions. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  /** Patterned real-codec image: per-pixel luminance from `f` (equal
    * RGB channels), encoded with an actual ImageIO writer. */
  private def patternBytes(w: Int, h: Int, format: String)(f: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = math.max(0, math.min(255, f(x, y)))
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, out), s"no $format writer")
    out.toByteArray
  }

  /** Smooth 2-D pattern with strong per-grid-cell gradients (margins
    * ≫ JPEG quantization noise) in a range that survives a +30
    * brightness shift unclamped. */
  private def wave(w: Int, h: Int)(x: Int, y: Int): Int =
    (110 + 90 * math.sin(2 * math.Pi * 1.5 * x / w) * math.cos(2 * math.Pi * y / h)).toInt

  test("dHash64 + phashNearDup: re-encodes pair up, banded blocking = exact Hamming") {
    val (w, h) = (72, 64)
    val png = patternBytes(w, h, "png")(wave(w, h))
    val jpg = patternBytes(w, h, "jpg")(wave(w, h))          // lossy re-encode of the SAME pixels
    val bright = patternBytes(w, h, "png")((x, y) => wave(w, h)(x, y) + 30)
    // luminance INVERSION flips every strict cell comparison — the
    // guaranteed-far image (a mirrored sinusoid turned out to be
    // dHash-identical: sin(3π−θ) = sin θ)
    val other = patternBytes(w, h, "png")((x, y) => 220 - wave(w, h)(x, y))
    // gradient hash is invariant to a global brightness shift (every
    // cell comparison's margin is preserved unclamped)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val imgBright = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bright))
    assert(Multimodal.dHash64(img) == Multimodal.dHash64(imgBright))
    val ds = Seq(
      MediaRecord(0L, "image", png),
      MediaRecord(1L, "image", jpg),
      MediaRecord(2L, "image", other),
      MediaRecord(3L, "audio", png),                              // non-image kind: dropped
      MediaRecord(4L, "image", "junk bytes".getBytes("UTF-8"))    // undecodable: dropped
    ).toDS()
    val hashes = Multimodal.perceptualHashes(ds, batchSize = 2)
    val byId = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId.keySet == Set(0L, 1L, 2L), "non-images and undecodables must drop, not stub")
    // the lossy JPEG re-encode lands within the conventional near-dup
    // band; the reversed pattern is far outside it
    def hd(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hd(byId(0L), byId(1L)) <= 6, s"png vs jpg re-encode: ${hd(byId(0L), byId(1L))} bits apart")
    assert(hd(byId(0L), byId(2L)) > 6, s"distinct patterns too close: ${hd(byId(0L), byId(2L))}")
    val pairs = Multimodal.phashNearDup(hashes, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact-Hamming brute force over the same hashes IS the oracle twin
    val ids = byId.keys.toSeq.sorted
    val exact = (for {
      i <- ids; j <- ids if i < j && hd(byId(i), byId(j)) <= 6
    } yield (i, j)).toSet
    assert(pairs == exact, s"banded $pairs != exact $exact")
    assert(pairs.contains((0L, 1L)) && !pairs.contains((0L, 2L)))
  }

  test("phashNearDup: pigeonhole recall at Hamming ≤ 7, exact filter past it, bound enforced") {
    // worst-case flips for an 8-band index: every flipped bit in a
    // DIFFERENT band — k ≤ 7 still leaves one band untouched
    val base = 0xA5C3F0962D4B1E87L
    val rows = (0 to 8).map { k =>
      (k.toLong, (0 until k).foldLeft(base)((h, b) => h ^ (1L << (b * 8 + 3))))
    }
    val hashes = rows.toDF("media_id", "phash")
    val got = Multimodal.phashNearDup(hashes, maxHamming = 7)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2).toLong)).toMap
    // id k differs from id 0 by exactly k cross-band bits
    (1 to 7).foreach { k =>
      assert(got.get((0L, k.toLong)).contains(k.toLong),
        s"pair (0,$k) at Hamming $k missed or misdistanced: ${got.get((0L, k.toLong))}")
    }
    assert(!got.contains((0L, 8L)), "Hamming 8 must be filtered by the exact check")
    // no false positives anywhere: every reported pair's distance ≤ 7
    val exact = (for {
      (i, hi) <- rows; (j, hj) <- rows
      if i < j && java.lang.Long.bitCount(hi ^ hj) <= 7
    } yield (i, j)).toSet
    assert(got.keySet == exact)
    // asking past the index's recall guarantee is a loud error
    assertThrows[IllegalArgumentException] {
      Multimodal.phashNearDup(hashes, maxHamming = 8)
    }
  }

  test("phashBandKey scalar twin matches the Column banding bit-for-bit") {
    // the bridge that lets PhashBandProperties pin the pigeonhole
    // bound against the scalar twin: both forms must extract the same
    // (band, bits) keys, including sign-bit bands of negative hashes
    val hs = Seq(0L, -1L, 0xA5C3F0962D4B1E87L, Long.MinValue, Long.MaxValue, 255L)
    val df = hs.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("media_id", "phash")
    val got = df.select(col("media_id"), Multimodal.phashBandsCol(col("phash")).as("bk"))
      .select(col("media_id"), col("bk.band"), col("bk.bits")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = (for {
      (h, i) <- hs.zipWithIndex
      b <- 0 until Multimodal.PhashBands
    } yield (i.toLong, b, Multimodal.phashBandKey(h, b))).toSet
    assert(got == want)
  }

  test("mediaMeta matches the stub decoder's dimensions (expression twin)") {
    val dir = java.nio.file.Files.createTempDirectory("mm").toString
    Seq((0L, "abc"), (1L, "defg"), (2L, "hijkl"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val meta = Multimodal.mediaMeta(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the stub decoder's dimensions, worked on the driver: a 60-bit
    // hash from the first 15 hex digits of the payload's md5
    def stub(m: MediaRecord): (Long, Long, Long, Long) = {
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(m.content)
      val h = java.lang.Long.parseLong(md5.map("%02x".format(_)).mkString.take(15), 16)
      val frames = m.kind match { case "video" => 1 + h % 240; case "audio" => 0L; case _ => 1L }
      (m.content.length.toLong, 160 + (h % 16) * 16, 120 + ((h / 16) % 16) * 16, frames)
    }
    val decoded = Multimodal.mediaTable(spark, dir).as[MediaRecord].collect()
      .map(m => m.media_id -> stub(m)).toMap
    (0L to 2L).foreach { id =>
      val (nBytes, width, height, frames) = decoded(id)
      assert(meta(id).getLong(4) == width, s"width of $id")
      assert(meta(id).getLong(5) == height, s"height of $id")
      assert(meta(id).getLong(6) == frames, s"frames of $id")
      assert(meta(id).getLong(2) == nBytes, s"bytes of $id")
    }
  }
}
