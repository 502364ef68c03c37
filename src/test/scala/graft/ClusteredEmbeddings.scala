package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Clustered-geometry embedding generator (VERDICT r10 #3): every
  * recall table so far rides the driver testdata's near-isotropic
  * corpus — the ADVERSARIAL geometry for IVF-family routing, where
  * cell populations are thin shells and probing few cells costs real
  * recall. Real embedding corpora are CLUSTERED (semantic structure),
  * and routing is claimed to behave far better there; this generator makes
  * that claim MEASURABLE instead of asserted by writing a
  * `embeddings.parquet` (same schema: vec_id int64, embedding
  * list<float>, label int32) drawn from a mixture of well-separated
  * Gaussians, deterministically.
  *
  * Determinism (the ScaleUp discipline — no Random, no Date):
  * every draw derives from splitmix64 over (seed, vec_id, dim, draw)
  * — bit-stable across runs, partitionings, and JVMs (pure Long
  * arithmetic + IEEE doubles). Normals are 4-uniform Irwin-Hall sums
  * (variance 1/3 each → σ ≈ 0.577) — the geometry needs cluster
  * STRUCTURE, not distributional perfection.
  *
  * Geometry: `nClusters` centers uniform in [-sep, sep]^64; points
  * scatter around their (vec_id % nClusters) center with per-dim
  * noise `sigma`·N. At the defaults (sep 0.3, sigma 0.15) expected
  * center-center distance ≈ 2.0 and cluster radius ≈ 0.7 — clearly
  * clustered, not degenerate-separable. `label` = the true cluster,
  * so classification probes (q78) read against ground truth.
  *
  * A test fixture, not part of the query surface: [[run]] writes a
  * corpus directory that [[graft.tools.GeometryRecall]] and
  * [[graft.tools.DiversityReport]] read. */
object ClusteredEmbeddings {

  val Dim: Int = graft.ops.Embeddings.Dim

  /** SplitMix64 — the standard public-domain 64-bit mixer (Steele,
    * Lea, Flood 2014); pure Long arithmetic, bit-stable anywhere. */
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform [0, 1) from a hash — top 53 bits, the double mantissa. */
  def u01(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Approximate standard-ish normal (Irwin-Hall, 4 uniforms,
    * σ = sqrt(4/12) ≈ 0.577) from a stream key. */
  def gauss(key: Long): Double =
    (0 until 4).map(i => u01(splitmix64(key * 4 + i))).sum - 2.0

  /** The deterministic cluster centers: centers(k)(d) ∈ [-sep, sep]. */
  def centers(nClusters: Int, sep: Double, seed: Long): IndexedSeq[IndexedSeq[Double]] =
    (0 until nClusters).map(k => (0 until Dim).map(d =>
      sep * (2.0 * u01(splitmix64(seed ^ (0xC0FFEEL + k.toLong * Dim + d))) - 1.0)))

  /** One vector: its true cluster's center + sigma·noise per dim. */
  def vectorOf(vecId: Long, cs: IndexedSeq[IndexedSeq[Double]],
               sigma: Double, seed: Long): Array[Float] = {
    val c = cs((vecId % cs.size).toInt)
    Array.tabulate(Dim)(d =>
      (c(d) + sigma * gauss(splitmix64(seed ^ vecId) ^ d.toLong)).toFloat)
  }

  /** The generator on a caller-owned session (ClusteredEmbeddingsSpec
    * certifies determinism and the separation structure on the test
    * session). Distributed: spark.range partitions the id space and a
    * deterministic UDF derives each row from its vec_id alone. */
  def run(spark: SparkSession, dst: String, n: Long, nClusters: Int = 20,
          sep: Double = 0.3, sigma: Double = 0.15, seed: Long = 20260814L): Unit = {
    require(n > 0 && nClusters > 0, "need positive n and nClusters")
    val cs = centers(nClusters, sep, seed)
    val mkVec = udf((id: Long) => vectorOf(id, cs, sigma, seed))
    spark.range(n)
      .select(col("id").as("vec_id"),
        mkVec(col("id")).as("embedding"),
        (col("id") % nClusters).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    println(s"[clustered] wrote n=$n nClusters=$nClusters sep=$sep sigma=$sigma to $dst")
  }
}
