package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: registers the engine's custom
  * Catalyst expressions through Spark's supported injection seam, so a
  * user (or a cluster-wide `spark-defaults.conf`) opts in with
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * and every session — including ones the user builds themselves, and
  * SQL-only clients that never touch the Scala API — has
  * `simhash60` / `text_stats` / `bigram_stats` / `winnow_minima` /
  * `vec_dot` / `shingle_set` / `term_counts` / `shingle_list` /
  * `remove_spans` / `nfc` / `char_pairs` available in SQL. This is
  * the only SQL surface: the operators build the same expressions as
  * typed Columns ([[graft.functions]]) and never touch a session's
  * function registry.
  *
  * The warehouse UDFs (`kimball_*`, [[graft.ops.Udfs]]) stay on the
  * runtime `spark.udf` path: they are Scala-closure UDFs needing a
  * live session, not Catalyst expression builders.
  *
  * `spark.sql.extensions` is a STATIC conf — it must be set before
  * the SparkContext exists (spark-submit/spark-defaults), not on a
  * builder reusing a live context; programmatic callers on an
  * existing context use `builder.withExtensions(new GraftExtensions)`
  * (same injection, spec-exercised).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.All.foreach { case (name, className, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(className, name), builder))
    }
}

object GraftExtensions {
  /** (SQL name, implementing class for ExpressionInfo, builder). */
  private[graft] val All: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("simhash60", "graft.functions.SimHash60", functions.SimHash60.builder),
    ("text_stats", "graft.functions.TextStatsExpr", functions.TextStats.builder),
    ("bigram_stats", "graft.functions.BigramStatsExpr", functions.BigramStats.builder),
    ("winnow_minima", "graft.functions.WinnowMinima", functions.WinnowMinima.builder),
    ("vec_dot", "graft.functions.VecDot", functions.VecDot.builder),
    ("shingle_set", "graft.functions.ShingleSetExpr", functions.ShingleSet.builder),
    ("term_counts", "graft.functions.TermCountsExpr", functions.TermCounts.builder),
    ("shingle_list", "graft.functions.ShingleListExpr", functions.ShingleList.builder),
    ("remove_spans", "graft.functions.RemoveSpansExpr", functions.RemoveSpans.builder),
    ("nfc", "graft.functions.NfcNormalizeExpr", functions.NfcNormalize.builder),
    ("char_pairs", "graft.functions.CharPairsExpr", functions.CharPairs.builder))
}
