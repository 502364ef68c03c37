package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PII detection + redaction over a documents relation — the
  * privacy-scrubbing stage every production pre-training pipeline
  * runs between crawl and tokenization (CCNet, Dolma and FineWeb all
  * ship a regex-class pass of exactly this shape: Dolma's pii taggers
  * are email/phone/IP regexes; FineWeb anonymizes emails and IPs
  * before release). Four detector classes, each a pattern chosen to
  * behave IDENTICALLY under Java regex (Spark codegen) and RE2
  * (DuckDB) — no lookarounds, no backreferences, ASCII classes only —
  * because cross-engine dialect drift is precisely the bug class a
  * gated redaction stage must catch (a pattern that silently matches
  * less in production leaks PII at 100 TB):
  *
  *  - email: `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}`
  *  - IPv4:  `\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b` (the
  *    deliberately-broad Dolma shape: over-matching version strings
  *    is the accepted trade for never under-matching an address)
  *  - SSN:   `\b\d{3}-\d{2}-\d{4}\b`
  *  - phone: `\b\d{3}[-.]\d{3}[-.]\d{4}\b`
  *
  * Masking applies the four replacements IN THAT ORDER (email → IP →
  * SSN → phone — SSN before phone so the 3-2-4 shape is never
  * half-eaten by the 3-3-4 one; the pattern languages are otherwise
  * disjoint) with digit-free tokens `<EMAIL> <IP> <SSN> <PHONE>`, so
  * masking is IDEMPOTENT (PiiSpec property-pins it: a masked text
  * re-masks to itself, because no token re-triggers any detector).
  * Counts are taken BEFORE masking, each class independently on the
  * RAW text — so on overlapping-class text the counts and the masked
  * spans can diverge (ADVICE r12): in `a@b.co10.0.0.1` the email
  * match consumes `a@b.co10.0.0.1`'s head and no standalone IP exists
  * in the raw text (`\b` sits mid-digits), yet after the email
  * substitution the chain masks `<EMAIL>` + an IP-shaped remainder —
  * n_pii then UNDERCOUNTS the spans actually redacted. The divergence
  * is one-sided by construction: replacement tokens are digit-free,
  * so the chain only ever reveals boundaries, never un-masks —
  * redaction stays conservative and both engines run the identical
  * chain, so the gate holds. Counting on the progressively-masked
  * chain would close the gap at the cost of four extra regex passes
  * per class per row; the raw-text count is the documented trade
  * (counts are a monitoring signal; the masked text is the product).
  *
  * Plan shape at 100 TB: pure scan-riding codegen projections —
  * four `regexp_count`s and four chained `regexp_replace`s per row,
  * ZERO shuffle (the presentation sort is the oracle contract). The
  * redaction pass costs one corpus read, which is its floor.
  */
object Pii {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** The masking order IS the contract (see scaladoc): each entry is
    * (pattern, digit-free replacement token). */
  val MaskOrder: Seq[(String, String)] = Seq(
    EmailRe -> "<EMAIL>", Ipv4Re -> "<IP>", SsnRe -> "<SSN>", PhoneRe -> "<PHONE>")

  /** Detect + redact over an arbitrary (doc_id, text) relation — the
    * REAL operator a pipeline points at its crawl. Output per doc:
    * per-class match counts (before masking), the total, and the
    * masked text. Docs with no PII pass through bit-identically
    * (n_pii = 0, text_masked = text — PiiSpec pins the identity). */
  def piiRedactDocs(docs: DataFrame): DataFrame = {
    val masked = MaskOrder.foldLeft(col("text")) { case (c, (re, tok)) =>
      regexp_replace(c, re, tok)
    }
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(col("text"), lit(SsnRe)).cast("long").as("n_ssns"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      masked.as("text_masked"))
      .withColumn("n_pii",
        col("n_emails") + col("n_ips") + col("n_ssns") + col("n_phones"))
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_ssns"),
        col("n_phones"), col("n_pii"), col("text_masked"))
  }

  /** The CONFORMANCE HARNESS for the synthetic corpus (q99): the
    * driver's documents table carries no digits at all (word-salad
    * text), so gating [[piiRedactDocs]] on it raw would be vacuous —
    * every count 0, masked ≡ input, and a regex-dialect divergence
    * between the engines would pass silently. Instead the graded
    * query PLANTS deterministic PII derived from each doc_id (the
    * q71-prefix pattern: conformance inputs derived from the corpus,
    * not invented) — an email every 2nd doc, an IPv4 every 3rd, a
    * phone every 5th, an SSN every 7th, so the fixture also covers
    * multi-PII docs (doc_id % 210 == 0 carries all four) and
    * PII-free docs (masking must be the identity there) — then
    * detects and masks it. The oracle replays planting + counting +
    * masking, so what the gate certifies is exactly the
    * cross-engine-parity contract of the pattern set and the masking
    * order. PiiSpec certifies the operator itself on real-world-shaped
    * fixtures (edge positions, adjacent PII, idempotence). */
  def plantPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 2 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com"))).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" from 10."), (col("doc_id") % 200).cast("string"),
          lit(".0."), (col("doc_id") % 250).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" ssn 123-45-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))).as("text"))

  /** q99 — the gated composition: plant, then redact. The scan is
    * fanned out ([[Tables.fanOut]], round 15): the redaction regexes
    * are the whole cost of this zero-shuffle query and ran serialized
    * on the one-row-group input — measured 1.03 → 0.57 s at sf0.1. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedactDocs(plantPii(Tables.fanOut(Tables.documents(spark, dir))))
      .orderBy(col("doc_id"))
}
