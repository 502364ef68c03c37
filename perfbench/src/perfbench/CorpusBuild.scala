package perfbench

import java.nio.file.Path
import java.security.MessageDigest
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

import graft.ops.{Caches, Embeddings, LlmOps, Retrieval, Sq}
import org.apache.spark.sql.{Row, SparkSession}

/** One seeded tranche: documents with planted exact duplicates (case
  * and spacing variants), near-duplicates (about a tenth of the words
  * replaced), short documents, a boilerplate opening shared by enough
  * documents to exceed the shingle document-frequency cap, and one
  * clustered embedding per id; `nVecs` may exceed `nDocs`, the
  * embeddings then run on past the last document id. */
final class Tranche(seed: Long, val t: Int, nDocs: Int, nVecs: Int) {
  private val r = new SplittableRandom(seed * 31337L + t)
  private val vocab: IndexedSeq[String] = {
    val v = new SplittableRandom(seed ^ 0xb0cabL)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 1500) seen += Seq.fill(3 + v.nextInt(6))(('a' + v.nextInt(26)).toChar).mkString
    seen.toIndexedSeq
  }
  private def word(): String = { val u = r.nextDouble(); vocab((u * u * vocab.length).toInt) }
  private val boiler = "this page is part of the shared archive of public notes and comments"

  val ids: IndexedSeq[Long] = (0 until nDocs).map(j => t * 100000L + j)
  val vecIds: IndexedSeq[Long] = (0 until nVecs).map(j => t * 100000L + j)
  val texts: IndexedSeq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    ids.indices.foreach { j =>
      val x = r.nextInt(100)
      val text =
        if (x < 8 && j > 10) {
          val w = out(r.nextInt(j)).trim.split(" +")
          "  " + w.head.toUpperCase(Locale.ROOT) + " " + w.tail.mkString("  ") + " "
        } else if (x < 16 && j > 10) {
          out(r.nextInt(j)).trim.split(" +").map(w => if (r.nextInt(10) == 0) word() else w).mkString(" ")
        } else if (x < 21) Seq.fill(2 + r.nextInt(3))(word()).mkString(" ")
        else {
          val body = Seq.fill(25 + r.nextInt(26))(word()).mkString(" ")
          if (x < 40) s"$boiler $body" else body
        }
      out += text
    }
    out.toIndexedSeq
  }

  /** Vector stream of this tranche's embeddings. */
  val salt: Long = 100L + t

  def write(spark: SparkSession, dir: String, vecs: Vectors): Unit = {
    import spark.implicits._
    ids.zip(texts).map { case (id, tx) => (id, tx, "en", s"tranche_$t", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecs.write(spark, dir, vecIds, salt)
  }
}

/** Independent expected answers for one tranche. */
object CorpusCheck {
  private def normText(s: String): String = s.trim.toLowerCase(Locale.ROOT).replaceAll("\\s+", " ")
  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def nTokens(s: String): Int = s.split(" ").count(_.nonEmpty)
  private def shingles(s: String, n: Int): Set[String] = {
    val w = s.split(" ", -1)
    if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
  }

  /** doc_id -> (keep, reason) by precedence exact_dup, near_dup,
    * too_short, kept: exact duplicates by SHA-256 of the normalised
    * text; near duplicates by exact word-3-shingle Jaccard >= 0.2 over
    * shingles held by at most 50 documents, resolved by connected
    * components to the smallest doc_id. */
  def curate(ids: Seq[Long], texts: Seq[String], n: Int = 3, threshold: Double = 0.2,
             maxDf: Int = 50, minTokens: Int = 5): Map[Long, (Boolean, String)] = {
    val hashMin = ids.zip(texts).groupBy { case (_, tx) => sha256(normText(tx)) }
      .values.flatMap(g => g.map(_._1 -> g.map(_._1).min)).toMap
    val sh = ids.zip(texts).map { case (id, tx) => id -> shingles(tx, n) }.toMap
    val df = sh.values.toSeq.flatten.groupBy(identity).map { case (s, xs) => s -> xs.length }
    val capped = sh.map { case (id, s) => id -> s.filter(df(_) <= maxDf) }
    val parent = mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { var y = x; while (parent(y) != y) y = parent(y); y }
    val postings = capped.toSeq.flatMap { case (id, s) => s.map(_ -> id) }.groupBy(_._1).values
    val pairs = postings.flatMap { ps =>
      val ds = ps.map(_._2).sorted
      for (i <- ds.indices; j <- i + 1 until ds.length) yield (ds(i), ds(j))
    }.toSet
    pairs.foreach { case (a, b) =>
      val inter = (capped(a) intersect capped(b)).size.toLong
      val jac = inter.toDouble / (capped(a).size + capped(b).size - inter).toDouble
      if (jac >= threshold) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
      }
    }
    ids.zip(texts).map { case (id, tx) =>
      val reason =
        if (hashMin(id) != id) "exact_dup"
        else if (find(id) != id) "near_dup"
        else if (nTokens(tx) < minTokens) "too_short"
        else "kept"
      id -> (reason == "kept", reason)
    }.toMap
  }

  /** Lloyd's with pinned Forgy seeds on the exact integer grid: the
    * nCells smallest vec_ids seed one-member centroids (j = vec_id,
    * s = its vector, n = 1); each round assigns every vector to the
    * centroid minimising Σ(n·q − s)² / n² (ties to the smaller j) and
    * replaces the centroids by the per-cell sums and counts. */
  def lloyd(vecs: Seq[(Long, Array[Long])], nCells: Int, iters: Int): Seq[Embeddings.Centroid] = {
    var cents = vecs.sortBy(_._1).take(nCells).map { case (id, q) => Embeddings.Centroid(id, q.toSeq, 1L) }
    for (_ <- 0 until iters) {
      val cs = cents.sortBy(_.j).map(c => (c.j, c.n, c.s.toArray))
      val assigned = vecs.map { case (_, q) =>
        var best = Double.MaxValue; var bestJ = Long.MaxValue
        cs.foreach { case (j, n, s) =>
          var acc = 0L; var d = 0
          while (d < q.length) { val x = n * q(d) - s(d); acc += x * x; d += 1 }
          val dist = acc.toDouble / (n.toDouble * n.toDouble)
          if (dist < best || (dist == best && j < bestJ)) { best = dist; bestJ = j }
        }
        bestJ -> q
      }
      cents = assigned.groupBy(_._1).toSeq.map { case (j, qs) =>
        val sum = Array.fill(q0Len(qs))(0L)
        qs.foreach { case (_, q) => var d = 0; while (d < q.length) { sum(d) += q(d); d += 1 } }
        Embeddings.Centroid(j, sum.toSeq, qs.length.toLong)
      }.sortBy(_.j)
    }
    cents
  }
  private def q0Len(qs: Seq[(Long, Array[Long])]): Int = qs.head._2.length

  def grid(v: Array[Float]): Array[Long] = v.map(x => math.floor(x.toDouble * 1000).toLong)

  /** Throws unless the trained centroids equal the expected ones exactly. */
  def centroids(got: Seq[Embeddings.Centroid], want: Seq[Embeddings.Centroid]): Unit = {
    val g = got.sortBy(_.j).map(c => (c.j, c.n, c.s.toSeq))
    val w = want.sortBy(_.j).map(c => (c.j, c.n, c.s.toSeq))
    if (g != w) {
      val diff = g.zipAll(w, null, null).find { case (a, b) => a != b }
      throw new CheckFailed(s"trained centroids differ from exact Lloyd's: ${diff.map { case (a, b) =>
        s"got ${Option(a).map(x => (x._1, x._2))} want ${Option(b).map(x => (x._1, x._2))}" }.getOrElse("")}")
    }
  }
}

/** What one tranche ingest hands back. */
final case class Ingested(curated: Array[Row], cents: Seq[Embeddings.Centroid], mins: IndexedSeq[Long],
                          maxs: IndexedSeq[Long], codes: Array[Row], nDocs: Long, avgdl: Double,
                          cachedMb: Double)

/** The tranche ingest: LlmOps.curateCorpus, then Sq.trainIvfSq8 +
  * ivfSq8Codes, then Retrieval.bm25Build + bm25Save, each collected or
  * saved so that its result is complete when the call returns. */
object Ingest {
  def run(spark: SparkSession, dir: String, bm25Dir: String, tr: Tracer): Ingested = {
    val curated = tr.span("ops.LlmOps.curateCorpus")(LlmOps.curateCorpus(spark, dir).collect())
    val (cents, mins, maxs) = tr.span("ops.Sq.trainIvfSq8")(Sq.trainIvfSq8(spark, dir))
    val codes = tr.span("ops.Sq.ivfSq8Codes")(Sq.ivfSq8Codes(spark, dir, cents, mins, maxs).collect())
    val ix = tr.span("ops.Retrieval.bm25Build") {
      val ix = Retrieval.bm25Build(graft.ops.Tables.documents(spark, dir))
      Retrieval.bm25Save(ix, bm25Dir)
      ix
    }
    val cachedMb = if (tr.enabled)
      spark.sparkContext.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum / 1048576.0 else 0.0
    Ingested(curated, cents, mins, maxs, codes, ix.nDocs, ix.avgdl, cachedMb)
  }

  final case class Expected(drop: Map[Long, (Boolean, String)], cents: Seq[Embeddings.Centroid], avgdl: Double)

  def expected(tc: Tranche, vecs: Vectors): Expected = {
    val grid = tc.vecIds.map(id => id -> CorpusCheck.grid(vecs.vector(id, tc.salt)))
    val sumDl = tc.texts.map(_.split("\\s+").count(_.nonEmpty).toLong).sum
    Expected(CorpusCheck.curate(tc.ids, tc.texts),
      CorpusCheck.lloyd(grid, Embeddings.OracleCells, Embeddings.OracleIters),
      sumDl.toDouble / tc.ids.length)
  }

  /** Throws unless the drop-list, the centroids, the codes (every
    * vector encoded exactly once) and the BM25 statistics are right. */
  def verify(out: Ingested, tc: Tranche, want: Expected): Unit = {
    val got = out.curated.map(r => r.getAs[Long]("doc_id") -> (r.getAs[Boolean]("keep"), r.getAs[String]("reason"))).toMap
    if (got != want.drop) {
      val bad = want.drop.keys.toSeq.sorted.filter(k => !got.get(k).contains(want.drop(k))).take(3)
      throw new CheckFailed(s"drop-list differs at ${bad.map(k => s"$k: ${got.get(k)} vs ${want.drop(k)}")}")
    }
    CorpusCheck.centroids(out.cents, want.cents)
    val ids = out.codes.map(_.getAs[Long]("vec_id"))
    if (ids.length != tc.vecIds.length || ids.toSet != tc.vecIds.toSet)
      throw new CheckFailed(s"${ids.length} codes for ${tc.vecIds.length} vectors (${ids.toSet.size} distinct)")
    val cells = want.cents.map(_.j).toSet
    out.codes.foreach { r =>
      val c = r.getAs[scala.collection.Seq[Long]]("codes")
      if (c.length != Embeddings.Dim || c.exists(x => x < 0 || x > 255) || !cells(r.getAs[Long]("cell")))
        throw new CheckFailed(s"vector ${r.getAs[Long]("vec_id")}: malformed code or cell")
    }
    if (out.nDocs != tc.ids.length || out.avgdl != want.avgdl)
      throw new CheckFailed(s"bm25 stats n=${out.nDocs} avgdl=${out.avgdl}, expected ${tc.ids.length} and ${want.avgdl}")
  }

  /** Layer values of the last ingest (traced mode): span times, jobs in
    * the training span, and candidate/duplicate pair counts. */
  def layers(spark: SparkSession, dir: String, out: Ingested, tr: Tracer): Map[String, Double] = {
    val (_, candidates) = tr.rows(LlmOps.jaccardPairs(spark, dir, threshold = 0.0))
    val (_, dups) = tr.rows(LlmOps.jaccardPairs(spark, dir))
    Caches.releaseAll(spark)
    val train = tr.spans.reverseIterator.find(s => s.name == "ops.Sq.trainIvfSq8" && s.op == tr.op)
    Map(
      "ops.LlmOps.curate_ms" -> tr.lastMs("ops.LlmOps.curateCorpus"),
      "ops.LlmOps.candidate_pairs_per_op" -> candidates.toDouble,
      "ops.LlmOps.dup_pairs_per_op" -> dups.toDouble,
      "ops.Sq.train_ms" -> tr.lastMs("ops.Sq.trainIvfSq8"),
      "ops.Sq.train_jobs" -> train.map(s => tr.jobsBetween(s.startMs, s.endMs).toDouble).getOrElse(0.0),
      "ops.Sq.encode_ms" -> tr.lastMs("ops.Sq.ivfSq8Codes"),
      "ops.Retrieval.bm25_build_ms" -> tr.lastMs("ops.Retrieval.bm25Build"),
      "ops.Caches.cached_mb" -> out.cachedMb)
  }
}

/** `corpus_build`: one seeded tranche ingested per operation; tranches
  * are generated in set-up and taken in turn. */
final class CorpusBuild(spark: SparkSession, work: Path, seed: Long, tr: Tracer) extends Workload {
  type Out = Ingested
  val Tranches = 4
  val Docs = 400
  val warmupOps = 1
  val warmupSeconds = 0
  val tailPct = 50
  private val vecs = new Vectors(seed)
  private val tranches = (0 until Tranches).map(t => new Tranche(seed, t, Docs, Docs))
  private def dirOf(t: Int) = work.resolve(s"tranche_$t").toString
  private val expected = mutable.Map.empty[Int, Ingest.Expected]

  def setup(): Unit = tranches.foreach(t => t.write(spark, dirOf(t.t), vecs))

  def op(i: Int): Out = Ingest.run(spark, dirOf(i % Tranches), work.resolve("bm25").toString, tr)

  def check(i: Int, out: Out): Checked = {
    Caches.releaseAll(spark)
    val t = i % Tranches
    Ingest.verify(out, tranches(t), expected.getOrElseUpdate(t, Ingest.expected(tranches(t), vecs)))
    Checked(Docs, 1.0)
  }

  override def traceOp(i: Int, out: Out): Map[String, Double] =
    Ingest.layers(spark, dirOf(i % Tranches), out, tr)

  def close(): Unit = Caches.releaseAll(spark)
}
