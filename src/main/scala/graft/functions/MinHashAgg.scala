package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** The SURVEY §2.9 typed UDAF: a real `Aggregator[IN, BUF, OUT]`
  * computing a k-seed MinHash signature over a group's shingles —
  * bit-identical to the declarative 16×`min()` formulation
  * [[graft.ops.LlmOps.minhashSignatures]] builds (same pinned
  * md5("seed:shingle") 60-bit hashes, spec-pinned parity), applied
  * as `udaf(new MinHashAgg(k))`.
  *
  * The DECLARATIVE form stays the production path: its 16 `min()`
  * columns ride whole-stage codegen and fold map-side as ordinary
  * partial aggregates, while a typed Aggregator moves (boxed) buffer
  * objects through `ObjectHashAggregate`. This class exists because
  * the engine must OFFER the typed-UDAF extension seam a user with
  * genuinely non-decomposable aggregation logic needs — buffer
  * semantics (elementwise min) are associative+commutative, so
  * partial aggregation still applies, exactly like the built-in. */
class MinHashAgg(val k: Int) extends Aggregator[String, Array[Long], Seq[Long]] {

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(buf: Array[Long], shingle: String): Array[Long] = {
    // NULL inputs are ignored — standard SQL aggregate semantics. (The
    // declarative twin never produces null shingles; without the skip
    // a SQL caller's null would hash the literal "seed:null" string.)
    if (shingle == null) return buf
    // ONE digest instance serves all k seeds (digest() resets it) —
    // per-seed getInstance would pay 16 JCA provider lookups per row
    val md = java.security.MessageDigest.getInstance("MD5")
    var s = 0
    while (s < k) {
      val h = MinHashAgg.portableHash64(md, s"$s:$shingle")
      if (h < buf(s)) buf(s) = h
      s += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var s = 0
    while (s < k) { if (b(s) < a(s)) a(s) = b(s); s += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
}

object MinHashAgg {

  /** JVM twin of [[graft.ops.LlmOps.portableHash64]] (first 15 md5 hex
    * chars as a 60-bit long) — same value as the Column form and the
    * DuckDB oracle's `CAST(('0x' || substr(md5(s),1,15)) AS BIGINT)`.
    * Takes the caller's digest instance (reset by `digest()`). */
  private[graft] def portableHash64(md: java.security.MessageDigest, s: String): Long = {
    val md5 = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // 15 hex chars = the top 7.5 bytes; build the value directly
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (md5(i) & 0xffL); i += 1 }
    (v << 4) | ((md5(7) & 0xf0L) >> 4)
  }
}
