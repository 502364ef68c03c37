package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-decade generator for EMPIRICAL scaling runs:
  * `runMain graft.tools.ScaleUp <srcSfDir> <dstDir> <factor>` writes a
  * `factor`×-sized federation of the source tables, so the bench can
  * measure per-query time at 10× and catch any accidentally
  * corpus-quadratic step the plan audits missed.
  *
  * Construction (copy i of 0..factor-1; copy 0 is the source rows
  * verbatim): every entity key shifts by i·10⁷, so each copy is
  * referentially closed — joins match within a copy and the fact/group
  * ratio grows exactly `factor`×, the TPC-H scaling shape. The fixed
  * dimensions (`region`, `nation`) are NOT replicated, matching TPC-H.
  * Two content columns need more than a key shift, because replicating
  * them verbatim would CHANGE THE DISTRIBUTION, not the scale — every
  * doc would gain `factor-1` exact clones and the dedup family's pair
  * streams would measure a duplication-rate change, not a scale-up:
  *  - `documents.text`: copy i > 0 suffixes every token with `_i` —
  *    within-copy duplication/shingle structure is preserved exactly,
  *    cross-copy shingle sets are disjoint; `n_chars` is recomputed to
  *    keep the `n_chars = length(text)` invariant.
  *  - `embeddings.embedding`: copy i > 0 multiplies component d by the
  *    pinned Rademacher sign [[graft.ops.Embeddings.rademacher]](1000·i,
  *    d) — norms (and hence quantized norms) are exactly preserved,
  *    while cross-copy cosines are sign-scrambled to ≈0 like the
  *    source's own unrelated-vector pairs.
  *
  * NOT part of the query surface — a measurement tool; outputs land in
  * an untracked scratch dir (target/). */
object ScaleUp {

  private val Shift = 10000000L // > any source key by 10×

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcSfDir> <dstDir> <factor>")
    val spark = graft.GraftSession()
    try run(spark, args(0), args(1), args(2).toInt)
    finally spark.stop()
  }

  /** The generator on a caller-owned session (main wraps it;
    * ScaleUpSpec certifies the methodology on the test session). */
  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    require(factor >= 1, "factor must be >= 1")
    // Collision guard: every shifted key must fit strictly under one
    // Shift stride, or copies overlap — e.g. re-scaling a federation
    // ScaleUp itself produced (keys up to (factor-1)·Shift) would
    // silently interleave copy key ranges: duplicate ids, foreign keys
    // resolving into the WRONG copy, and garbage scaling measurements
    // with no error. Scale from the ORIGINAL source instead (factor
    // 100 of sf0.1, not factor 10 of a factor-10 output).
    val shiftOnly = Seq(
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"))
    val keyCols = shiftOnly ++ Seq("documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))
    keyCols.foreach { case (t, ks) =>
      val row = spark.read.parquet(s"$src/$t.parquet")
        .select(ks.map(k => max(col(k)).as(k)): _*).collect()(0)
      ks.foreach { k =>
        val m = row.getAs[Number](k).longValue()
        require(m < Shift,
          s"$t.$k max $m >= shift stride $Shift — copies would collide; " +
            "scale up from the original source, not an already-scaled federation")
      }
    }

    def rep(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      (0 until factor).map(i => f(base, i)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    def shifted(df: DataFrame, i: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * Shift)))

    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    shiftOnly.foreach { case (t, ks) => rep(t)(shifted(_, _, ks: _*)) }
    rep("documents") { (df, i) =>
      if (i == 0) df
      else shifted(df, i, "doc_id")
        .withColumn("text", array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"_$i"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    rep("embeddings") { (df, i) =>
      if (i == 0) df
      else {
        val mask = array((0 until graft.ops.Embeddings.Dim).map(d =>
          lit(graft.ops.Embeddings.rademacher(1000 * i, d).toFloat)): _*)
        shifted(df, i, "vec_id")
          .withColumn("embedding",
            zip_with(col("embedding"), mask, (x, m) => x * m).cast("array<float>"))
      }
    }
    println(s"[scaleup] wrote ${factor}x of $src to $dst")
  }
}
