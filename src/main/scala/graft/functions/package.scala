package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression => e}

/** Typed Column constructors for the custom Catalyst expressions —
  * the Scala API the operators build their plans with. Each wraps the
  * expression directly ([[org.apache.spark.sql.GraftColumns]]), so no
  * plan touches the session's function registry; SQL callers get the
  * same expressions by name through [[graft.GraftExtensions]]. */
package object functions {
  def vecDot(a: Column, b: Column): Column = column(VecDot(e(a), e(b)))
  def simhash60(tokens: Column): Column = column(SimHash60(e(tokens)))
  def textStats(text: Column): Column = column(TextStatsExpr(e(text)))
  def bigramStats(text: Column): Column = column(BigramStatsExpr(e(text)))
  def winnowMinima(text: Column, k: Int, w: Int): Column = column(WinnowMinima(e(text), k, w))
  def shingleSet(text: Column, n: Int): Column = column(ShingleSetExpr(e(text), n))
  def shingleList(text: Column, n: Int): Column = column(ShingleListExpr(e(text), n))
  def removeSpans(text: Column, starts: Column, k: Int): Column =
    column(RemoveSpansExpr(e(text), e(starts), k))
  def termCounts(text: Column): Column = column(TermCountsExpr(e(text)))
  def nfc(text: Column): Column = column(NfcNormalizeExpr(e(text)))
  def charPairs(text: Column): Column = column(CharPairsExpr(e(text)))

  def nearestCells(qv: Column, nrm: Column, table: CellTable): Column =
    column(NearestCells(e(qv), e(nrm), table))
  def probeCells(qv: Column, nrm: Column, table: CellTable, nprobe: Int,
                 nSuperProbe: Int = 0): Column =
    column(ProbeCells(e(qv), e(nrm), table, nprobe, nSuperProbe))
  def adcSubDists(qv: Column, nrm: Column, table: CellTable, scale: Long): Column =
    column(AdcSubDists(e(qv), e(nrm), table, scale))
}
