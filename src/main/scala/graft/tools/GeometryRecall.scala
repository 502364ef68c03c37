package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall-vs-geometry report for the whole ANN family: run every
  * approximate top-k the surface serves
  * — LSH (q27), IVF (q31), PQ (q77/q80), IVFADC (q79), SQ8 (q81),
  * IVF+SQ8 (q82), ADC+refine (q83), refine at production sizing
  * (q98: kFor-K codebooks + rFor-r budget — the clustered-geometry
  * remedy row), routed ADC + SQ8 refine (q85) —
  * against the exact brute ranking
  * (q45) on ONE corpus directory, and emit a single JSON line of
  * recall@5 numbers. Run it on a driver-testdata sf dir (the
  * near-isotropic adversarial geometry) and on a clustered corpus
  * such as the test fixture `ClusteredEmbeddings` writes (the
  * production-like clustered geometry) and the difference IS the measured geometry consequence
  * SCALING used to assert.
  *
  * Recall is computed through JOINS (inner join on (q_id,
  * neighbor_id) + counts — the RecallReport discipline): nothing
  * corpus-sized reaches the driver. Probes are capped to the shared
  * [[graft.ops.Pq.ProbeCap]] window on BOTH sides so every family
  * ranks the same probe set.
  *
  * `runMain graft.tools.GeometryRecall <dir>`
  * NOT part of the query surface — a measurement tool like ScaleUp;
  * results land in bench/SCALING_r{N}.md. */
object GeometryRecall {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GeometryRecall <dir-with-embeddings.parquet>")
    val spark = graft.GraftSession()
    try println(report(spark, args(0)))
    finally spark.stop()
  }

  /** recall@k of `got` against `want` over the shared capped probe
    * window: |want ∩ got| / |want| on (q_id, neighbor_id) pairs. */
  private def recallOf(want: DataFrame, got: DataFrame): Double = {
    val cap = graft.ops.Pq.ProbeCap
    val w = want.filter(col("q_id") < cap).select(col("q_id"), col("neighbor_id"))
    val g = got.filter(col("q_id") < cap)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit_flag"))
    val r = w.join(g, Seq("q_id", "neighbor_id"), "left_outer")
      .agg(count(lit(1)).as("pairs"),
        sum(when(col("hit_flag").isNotNull, 1L).otherwise(0L)).as("hit"))
      .collect()(0)
    require(r.getLong(0) > 0, "exact ranking returned no pairs — broken input")
    r.getLong(1).toDouble / r.getLong(0)
  }

  /** The one-line report. Families run SEQUENTIALLY with cache
    * release between them, so the numbers are each family's own. */
  def report(spark: SparkSession, dir: String): String = {
    import graft.ops.{Embeddings, Pq, Sq}
    val n = graft.ops.Tables.embeddings(spark, dir).count()
    def measured(name: String)(mk: => DataFrame): (String, Double) = {
      val want = Embeddings.bruteTopK(spark, dir)
      val r = recallOf(want, mk)
      graft.ops.Caches.releaseAll(spark)
      name -> r
    }
    val rows = Seq(
      measured("lsh_q27")(Embeddings.annTopK(spark, dir)),
      measured("ivf_q31")(Embeddings.ivfTopK(spark, dir)),
      measured("pq_q77")(Pq.pqTopK(spark, dir)),
      measured("pq_balanced_q91")(Pq.pqTopKBalanced(spark, dir)),
      measured("pq_scaled_q80")(Pq.pqTopKScaled(spark, dir)),
      measured("ivfpq_q79")(Pq.ivfPqTopK(spark, dir)),
      measured("sq8_q81")(Sq.sq8TopK(spark, dir)),
      measured("ivfsq8_q82")(Sq.ivfSq8TopK(spark, dir)),
      measured("refine_q83")(Pq.pqRefineTopK(spark, dir)),
      measured("refine_scaled_q98")(Pq.pqRefineScaled(spark, dir)),
      measured("ivfpqsq8refine_q85")(Sq.ivfPqSq8RefineTopK(spark, dir)))
    import graft.BenchFormat.num
    rows.map { case (k, v) => s""""$k":${num(v, 4)}""" }
      .mkString(s"""{"dir":${graft.BenchFormat.jstr(dir)},"n":$n,""", ",", "}")
  }
}
