package graft.tools

import graft.ops.{Caches, Embeddings, Mmr, Sq}
import org.apache.spark.sql.SparkSession
import graft.BenchFormat.num

/** Diversity-consequence measurement for the MMR re-rank (q92) —
  * the SCALING companion of GeometryRecall: on a corpus with real
  * cluster structure, a plain distance top-k concentrates in the
  * anchor's own cluster; MMR's marginal objective should trade a
  * little relevance for COVERAGE. This tool measures exactly that,
  * per geometry:
  *
  *   - cluster coverage: mean over probes of |distinct labels| among
  *     the top-5 (labels = ground-truth clusters of a clustered
  *     corpus, such as the test fixture `ClusteredEmbeddings` writes);
  *   - metric spread: mean over probes of the MIN pairwise exact
  *     integer distance inside the returned set (the quantity MMR's
  *     penalty term maximizes greedily).
  *
  * `runMain graft.tools.DiversityReport <dir-with-embeddings.parquet>`
  * NOT part of the query surface — a measurement tool like
  * GeometryRecall; both serves run at the SAME probe set and
  * candidate budget, so the comparison isolates the re-rank.
  *
  * SCALE BOUND (the tool's contract, the loadQuantizer-collect rule):
  * the spread statistic needs pairwise exact distances inside each
  * returned set, so [[report]] collects the label map AND the raw
  * vectors driver-side — O(corpus) driver memory BY DESIGN, right for
  * the fixture/validation sizes the geometry campaign runs at
  * (n ≤ 20k) and documented here rather than hidden. The graded q92
  * operator itself never collects anything corpus-sized. */
object DiversityReport {

  /** ONE definition of the driver-side label map ([[report]] and
    * [[coverageVsR]] both read it; two copies would drift). */
  private def labelsOf(spark: SparkSession, dir: String): Map[Long, Long] =
    graft.ops.Tables.embeddings(spark, dir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DiversityReport <dir-with-embeddings.parquet>")
    val spark = graft.GraftSession()
    try {
      println(report(spark, args(0)))
      println(coverageVsR(spark, args(0)))
      println(tripletYieldVsMargin(spark, args(0)))
    } finally spark.stop()
  }

  def report(spark: SparkSession, dir: String): String = {
    val labels = labelsOf(spark, dir)
    val vecs = Embeddings.quantized(spark, dir)
      .select("vec_id", "qv").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    def sq(a: IndexedSeq[Long], b: IndexedSeq[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    def stats(sets: Map[Long, Seq[Long]]): (Double, Double) = {
      val cov = sets.values.map(s => s.map(labels).distinct.size.toDouble).sum / sets.size
      val spread = sets.values.collect { case s if s.size >= 2 =>
        (for (a <- s; b <- s if a < b) yield sq(vecs(a), vecs(b))).min.toDouble
      }
      (cov, if (spread.isEmpty) 0.0 else spread.sum / spread.size)
    }
    val plain = Sq.ivfSq8TopK(spark, dir, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSeq }
    Caches.releaseAll(spark)
    val mmr = Mmr.mmrRerankTopK(spark, dir, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSeq }
    Caches.releaseAll(spark)
    val (pc, ps) = stats(plain)
    val (mc, ms) = stats(mmr)
    f"""{"dir":"$dir","probes":${plain.size},""" +
      f""""plain_coverage":$pc%.3f,"mmr_coverage":$mc%.3f,""" +
      f""""plain_min_spread":$ps%.3g,"mmr_min_spread":$ms%.3g}"""
  }

  /** Coverage-vs-r sweep: q92 documents "raise r when
    * the corpus is duplicate-heavy" as the coverage dial — this
    * measures it: MMR cluster coverage of the top-5 at candidate
    * budgets r ∈ `rs`, same probe set and serve per point, so the
    * numbers isolate the budget. One JSON line
    * {"mmr_coverage_vs_r":{"10":…,"20":…,"50":…}}. Deterministic
    * (spec-pinned): every serve in the chain is the exact-integer
    * pipeline. */
  def coverageVsR(spark: SparkSession, dir: String,
                  rs: Seq[Int] = Seq(10, 20, 50)): String = {
    val labels = labelsOf(spark, dir)
    val cov = rs.map { r =>
      val sets = Mmr.mmrRerankTopK(spark, dir, k = 5, r = r).collect()
        .map(row => (row.getAs[Long]("q_id"), row.getAs[Long]("neighbor_id")))
        .groupBy(_._1)
      Caches.releaseAll(spark)
      val c = sets.values.map(_.map(p => labels(p._2)).distinct.size.toDouble).sum / sets.size
      r -> c
    }
    cov.map { case (r, c) => s""""$r":${num(c, 3)}""" }
      .mkString(s"""{"dir":${graft.BenchFormat.jstr(dir)},"mmr_coverage_vs_r":{""", ",", "}}")
  }

  /** Triplet yield-vs-margin table: q96 documents the
    * margin as the band dial — this measures it on a real geometry:
    * per margin, the mined triplet count and how many anchors (of the
    * probe set) yield at least one triplet. Yield is MONOTONE
    * non-decreasing in the margin by construction (the semi-hard band
    * [d_pos, d_pos+margin) only widens — the spec pins it), so the
    * table reads as a budget curve: a training pipeline picks the
    * margin where anchor coverage saturates. */
  def tripletYieldVsMargin(spark: SparkSession, dir: String,
                           margins: Seq[Long] = Seq(50000L, 100000L, 200000L, 400000L)): String = {
    val rows = margins.map { m =>
      val t = Sq.ivfSq8TripletMine(spark, dir, margin = m).collect()
      Caches.releaseAll(spark)
      (m, t.length, t.map(_.getAs[Long]("q_id")).distinct.length)
    }
    rows.map { case (m, nt, na) => s""""$m":{"triplets":$nt,"anchors":$na}""" }
      .mkString(s"""{"dir":${graft.BenchFormat.jstr(dir)},"triplet_yield_vs_margin":{""", ",", "}}")
  }
}
