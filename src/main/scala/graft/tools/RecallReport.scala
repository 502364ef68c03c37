package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Recall-consequence reports for the two-level IVF routing: what the
  * approximate router does to the DECISION
  * surfaces a production owner acts on.
  *
  *  - assignment mode (default): run the semantic-dedup drop-list with
  *    EXACT cell assignment (q70, `Embeddings.semanticDedupScaled`)
  *    and with the two-level-routed assignment (q76,
  *    `Embeddings.semanticDedupTwoLevel`) and report how much the
  *    drop-lists agree — the flip-the-switch number for routed
  *    ASSIGNMENT.
  *  - serve mode: run the q31-family serve with EXACT probing
  *    (`Embeddings.ivfTopKServe`) and with two-level-routed probing
  *    (`Embeddings.ivfTopKServeRouted`) and report per-probe top-k
  *    agreement — the flip-the-switch number for routed SERVING.
  *
  * Both reports aggregate through JOINS (full-outer + counts), never
  * a corpus-sized driver collect — the tool itself
  * scales past diagnostic sizes.
  *
  * `runMain graft.tools.RecallReport <sfDir> [targetCell]` — assignment
  * `runMain graft.tools.RecallReport <sfDir> serve [targetCell [nprobe [nSuperProbe]]]`
  *
  * NOT part of the query surface — a measurement tool like ScaleUp;
  * results land in bench/SCALING_r{N}.md. */
object RecallReport {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RecallReport <sfDir> [serve] [targetCell ...]")
    val spark = graft.GraftSession()
    try {
      val out =
        if (args.length >= 2 && args(1) == "serve") {
          val rest = args.drop(2)
          serveReport(spark, args(0),
            targetCell = rest.lift(0).map(_.toInt)
              .getOrElse(graft.ops.Embeddings.OracleTargetCell),
            nprobe = rest.lift(1).map(_.toInt).getOrElse(2),
            nSuperProbe = rest.lift(2).map(_.toInt).getOrElse(1))
        } else report(spark, args(0),
          if (args.length >= 2) args(1).toInt
          else graft.ops.Embeddings.OracleTargetCell)
      println(out)
    } finally spark.stop()
  }

  /** One JSON line of drop-list overlap stats — assignment mode.
    * Pure set algebra over the two keep-columns, computed as ONE
    * full-outer join + count aggregate (no corpus-sized collect);
    * RecallReportSpec certifies the arithmetic on a fixture corpus. */
  def report(spark: SparkSession, dir: String,
             targetCell: Int = graft.ops.Embeddings.OracleTargetCell): String = {
    val exact = graft.ops.Embeddings.semanticDedupScaled(spark, dir, targetCell = targetCell)
      .select(col("vec_id"), col("keep").as("keep_exact"))
    val two = graft.ops.Embeddings.semanticDedupTwoLevel(spark, dir, targetCell = targetCell)
      .select(col("vec_id"), col("keep").as("keep_two"))
    // ONE job: full-outer on vec_id so a coverage mismatch is counted
    // (and failed on) rather than silently dropped, then count-sized
    // aggregates — the drop-list never reaches the driver
    val r = exact.join(two, Seq("vec_id"), "full_outer")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("keep_exact").isNull || col("keep_two").isNull, 1L)
          .otherwise(0L)).as("uncovered"),
        sum(when(!col("keep_exact"), 1L).otherwise(0L)).as("drop_e"),
        sum(when(!col("keep_two"), 1L).otherwise(0L)).as("drop_t"),
        sum(when(!col("keep_exact") && !col("keep_two"), 1L).otherwise(0L)).as("inter"),
        sum(when(col("keep_exact") === col("keep_two"), 1L).otherwise(0L)).as("agree"))
      .collect()(0)
    graft.ops.Caches.releaseAll(spark)
    require(r.getLong(1) == 0L,
      "exact and two-level drop-lists cover different vec_id sets")
    val n = r.getLong(0)
    // 0/0 would print NaN — invalid JSON; an empty corpus
    // is a broken input, not a degenerate report
    require(n > 0, s"no vectors under $dir — nothing to report on")
    val (dropE, dropT, inter, agree) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val union = dropE + dropT - inter
    val jaccard = if (union == 0) 1.0 else inter.toDouble / union
    import graft.BenchFormat.num
    s"""{"n":$n,"drop_exact":$dropE,"drop_twolevel":$dropT,""" +
      s""""drop_intersection":$inter,"drop_union":$union,""" +
      s""""drop_jaccard":${num(jaccard, 4)},""" +
      s""""keep_agreement":${num(agree.toDouble / n, 4)}}"""
  }

  /** One JSON line of serve-side top-k agreement — serve mode: the
    * q31 serve with `cellsFor(n, targetCell)` cells, exact probing vs
    * two-level-routed probing (`superFor` groups, `nSuperProbe`
    * probed). `topk_recall` = |exact ∩ routed| / |exact| over all
    * (q_id, neighbor_id) pairs — one inner join + count, no per-probe
    * collect; `exact_rank_agreement` = fraction of pairs that also
    * keep their exact rank. */
  def serveReport(spark: SparkSession, dir: String,
                  targetCell: Int = graft.ops.Embeddings.OracleTargetCell,
                  nprobe: Int = 2, nSuperProbe: Int = 1): String = {
    import graft.ops.Embeddings
    val n = graft.ops.Tables.embeddings(spark, dir).count()
    val nCells = Embeddings.cellsFor(n, targetCell)
    val nSuper = Embeddings.superFor(nCells)
    val cents = Embeddings.trainQuantizer(spark, dir, nCells)
    val exact = Embeddings.ivfTopKServe(spark, dir, cents, nprobe = nprobe)
      .select(col("q_id"), col("rank").as("rank_e"), col("neighbor_id"))
    val routed = Embeddings.ivfTopKServeRouted(spark, dir, cents, nprobe = nprobe,
        nSuper = nSuper, nSuperProbe = nSuperProbe)
      .select(col("q_id"), col("rank").as("rank_r"), col("neighbor_id"))
    val r = exact.join(routed, Seq("q_id", "neighbor_id"), "left_outer")
      .agg(
        count(lit(1)).as("pairs"),
        sum(when(col("rank_r").isNotNull, 1L).otherwise(0L)).as("hit"),
        sum(when(col("rank_r") === col("rank_e"), 1L).otherwise(0L)).as("rank_agree"))
      .collect()(0)
    graft.ops.Caches.releaseAll(spark)
    val (pairs, hit, rankAgree) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // 0/0 would print NaN — invalid JSON: an empty exact
    // top-k means the probe set itself is empty, a broken input
    require(pairs > 0, s"exact serve returned no pairs under $dir — no probes survive the cap")
    import graft.BenchFormat.num
    s"""{"n":$n,"n_cells":$nCells,"n_super":$nSuper,"nprobe":$nprobe,""" +
      s""""n_super_probe":$nSuperProbe,"pairs":$pairs,""" +
      s""""topk_recall":${num(hit.toDouble / pairs, 4)},""" +
      s""""exact_rank_agreement":${num(rankAgree.toDouble / pairs, 4)}}"""
  }
}
