package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused nearest-centroid assignment over a REFERENCE-DATA centroid
  * table — the plan-size fix for the IVF family past O(10²) cells.
  *
  * [[graft.ops.Embeddings]]' original `nearestCell` inlines every
  * centroid as a separate expression subtree (array of nCells
  * scaled-distance expressions + argmin), which is the right shape up
  * to tens of cells but grows the PLAN linearly with the quantizer:
  * at the 625 cells a 20k-vector corpus trains under the pinned
  * `targetCell`, analysis/codegen of the ~650-subtree expression
  * dominated q70/q76 wall-clock (≈25-36 s at sf1, bench r9) and the
  * generated method blows past JIT limits, so rows were evaluated by
  * INTERPRETED expression trees — per row, per centroid.
  *
  * This expression instead carries the centroid matrix as one
  * broadcast-serialized reference object ([[CellTable]], flat
  * primitive arrays) and does the whole argmin — optionally two-level:
  * super-centroid routing then only the chosen group's members — in
  * one compiled loop: O(1) plan size at any cell count, whole-stage
  * codegen keeps working, per-row cost is (nSuper + group) fused
  * dot products. The arithmetic is BIT-IDENTICAL to the expression
  * form it replaces (exact-integer numerator, one IEEE division per
  * member distance, Long super distances, first-minimum ties) —
  * NearestCellsProperties pins equality against the old formulation
  * and the q31/q68/q70/q76 oracles replay the same trajectories
  * unchanged. */
case class NearestCells(qv: Expression, nrm: Expression, table: CellTable)
  extends BinaryExpression {

  override def left: Expression = qv
  override def right: Expression = nrm

  override def checkInputDataTypes(): TypeCheckResult = (qv.dataType, nrm.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells needs (array<bigint>, bigint), got ${l.catalogString} and ${r.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_cells"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    table.assign(a.asInstanceOf[ArrayData], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellTable", table, classOf[CellTable].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.assign($a, $b)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): NearestCells =
    copy(qv = newLeft, nrm = newRight)
}

/** [[NearestCells]]' sibling for the SERVING path: the `nprobe`
  * nearest cell ids, ordered (dist ASC, id ASC) — the fused form of
  * the probe-cells expression (array_sort over nCells struct
  * subtrees), with the same O(1)-plan-size rationale.
  *
  * `nSuperProbe = 0` (exact mode, flat table): probing ranks ALL
  * cells — what the q31 serve oracle pins. `nSuperProbe ≥ 1` over a
  * TWO-LEVEL table routes first: rank the super-centroids, keep the
  * `nSuperProbe` nearest groups, and rank only THEIR members — the
  * serve-side counterpart of [[NearestCells]]' two-level assignment
  * (per-probe cost ~nSuper + nSuperProbe·groupSize instead of
  * nCells). Approximate at group boundaries, exactly like two-level
  * assignment; `nSuperProbe ≥ nGroups` degenerates to the exact
  * ranking bit-for-bit (NearestCellsProperties pins it). */
case class ProbeCells(qv: Expression, nrm: Expression, table: CellTable, nprobe: Int,
                      nSuperProbe: Int = 0)
  extends BinaryExpression {

  require(nprobe >= 1, "nprobe must be positive")
  require(if (table.groupStart.isEmpty) nSuperProbe == 0 else nSuperProbe >= 1,
    "flat tables rank exactly (nSuperProbe = 0); two-level tables need nSuperProbe >= 1")

  override def left: Expression = qv
  override def right: Expression = nrm

  override def checkInputDataTypes(): TypeCheckResult = (qv.dataType, nrm.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"probe_cells needs (array<bigint>, bigint), got ${l.catalogString} and ${r.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "probe_cells"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (nSuperProbe == 0) table.probe(a.asInstanceOf[ArrayData], b.asInstanceOf[Long], nprobe)
    else table.probeGrouped(a.asInstanceOf[ArrayData], b.asInstanceOf[Long], nprobe, nSuperProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellTable", table, classOf[CellTable].getName)
    if (nSuperProbe == 0)
      defineCodeGen(ctx, ev, (a, b) => s"$ref.probe($a, $b, $nprobe)")
    else
      defineCodeGen(ctx, ev, (a, b) => s"$ref.probeGrouped($a, $b, $nprobe, $nSuperProbe)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): ProbeCells =
    copy(qv = newLeft, nrm = newRight)
}

/** The full per-code quantized-subdistance row of the PQ family's ADC
  * tables — [[NearestCells]]' third sibling: for a (16-dim slice,
  * norm) row, the K-element array of floor(dist·scale) BIGINTs, one
  * per sub-centroid in code order. Replaces the K-literal-subtree
  * array the PQ family launched with (ops/Pq.scala r9) for the same
  * reason [[NearestCells]] replaced the IVF literals: at the
  * production K = 256 the literal form is M·K = 1,024 plan subtrees —
  * the exact analysis/codegen pathology measured at ~25-36 s for 625
  * IVF cells — while this is O(1) plan size at any K. Arithmetic is
  * bit-identical to the literal form (exact-integer numerator, one
  * IEEE division, one double multiply, floor — PqSpec pins equality
  * and the q77/q79/q80 oracles replay it). */
case class AdcSubDists(qv: Expression, nrm: Expression, table: CellTable, scale: Long)
  extends BinaryExpression {

  require(table.groupStart.isEmpty, "ADC tables are flat (one entry per code)")
  require(scale > 0, "scale must be positive")

  override def left: Expression = qv
  override def right: Expression = nrm

  override def checkInputDataTypes(): TypeCheckResult = (qv.dataType, nrm.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"adc_subdists needs (array<bigint>, bigint), got ${l.catalogString} and ${r.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "adc_subdists"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    table.adcRow(a.asInstanceOf[ArrayData], b.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellTable", table, classOf[CellTable].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.adcRow($a, $b, ${scale}L)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): AdcSubDists =
    copy(qv = newLeft, nrm = newRight)
}

/** The flattened centroid matrix a [[NearestCells]] expression carries.
  *
  * Cells live in EVALUATION ORDER (the tie-break order: sorted by id
  * for the exact form; group-concatenated, in-group id-sorted for the
  * two-level form). `groupStart` is empty for the exact form; for the
  * two-level form it holds G+1 offsets into the cell arrays and
  * `superS`/`superSumS2` hold the G integer super-centroid grids.
  *
  * Arithmetic contract (must never drift from the expression form the
  * oracles replay):
  *  - member distance: (n²·‖q‖² − 2n·(q·s) + Σs²) exact in Long, ONE
  *    IEEE division by n·n (as double·double), first minimum wins;
  *  - super distance: ‖q‖² − 2(q·s) + Σs² compared as exact Longs
  *    (the n = 1 scaled distance without its ÷1), first minimum wins.
  * Member counts must respect [[graft.ops.Embeddings.MaxCellMembers]]
  * (checked at construction sites) or the Long numerator wraps. */
final class CellTable(val dim: Int,
                      val cellJ: Array[Long], val cellN: Array[Long],
                      val cellS: Array[Long], val cellSumS2: Array[Long],
                      val superS: Array[Long], val superSumS2: Array[Long],
                      val groupStart: Array[Int]) extends Serializable {

  require(cellJ.length == cellN.length && cellJ.length == cellSumS2.length &&
    cellS.length == cellJ.length * dim, "ragged cell arrays")
  require(superS.length == superSumS2.length * dim, "ragged super arrays")
  require(groupStart.isEmpty ||
    (groupStart.length == superSumS2.length + 1 &&
      groupStart.head == 0 && groupStart.last == cellJ.length),
    "groupStart must cover the cell range with one offset per super group")
  require(cellJ.nonEmpty, "empty centroid table")
  // exact-mode tie-breaks (probe's "earlier index IS the smaller id",
  // assign's first-minimum-wins) are only (dist, id)-lexicographic if
  // the flat layout arrives id-sorted — enforce it at the seam so a
  // future unsorted caller fails loudly instead of returning wrong
  // tie-breaks (ADVICE r9). Two-level layouts are group-concatenated
  // by construction and tie-break inside the chosen group only.
  require(groupStart.nonEmpty ||
    cellJ.indices.drop(1).forall(i => cellJ(i - 1) < cellJ(i)),
    "flat CellTable layouts must arrive strictly id-sorted (tie-break order)")


  private def dot(qv: ArrayData, flat: Array[Long], base: Int): Long = {
    var s = 0L
    var d = 0
    while (d < dim) { s += qv.getLong(d) * flat(base + d); d += 1 }
    s
  }

  /** Nearest member cell id in [from, until) — exact scaled distance,
    * first minimum (cells arrive in tie-break order). */
  private def nearestMember(qv: ArrayData, nrm: Long, from: Int, until: Int): Long = {
    var best = Double.PositiveInfinity
    var bestI = from
    var i = from
    while (i < until) {
      val n = cellN(i)
      val num = n * n * nrm - 2L * n * dot(qv, cellS, i * dim) + cellSumS2(i)
      val d = num.toDouble / (n.toDouble * n.toDouble)
      if (d < best) { best = d; bestI = i }
      i += 1
    }
    cellJ(bestI)
  }

  /** The `nprobe` nearest cell ids ordered (dist ASC, id ASC) — the
    * semantics of lexicographic array_sort over (dist, j) structs
    * followed by a head slice, as one insertion pass (nprobe is
    * small by contract). Cells arrive id-sorted, so among equal
    * distances the earlier index IS the smaller id. */
  def probe(qv: ArrayData, nrm: Long, nprobe: Int): ArrayData = {
    val kk = math.min(nprobe, cellJ.length)
    val topD = new Array[Double](kk)
    val topI = new Array[Int](kk)
    var filled = 0
    var i = 0
    while (i < cellJ.length) {
      val n = cellN(i)
      val num = n * n * nrm - 2L * n * dot(qv, cellS, i * dim) + cellSumS2(i)
      val d = num.toDouble / (n.toDouble * n.toDouble)
      // shift only STRICTLY worse entries, so a later candidate with
      // an equal distance lands after (larger index = larger id), and
      // never evicts an equal-distance incumbent — array_sort's
      // (dist, id) lexicographic order exactly
      if (filled < kk) {
        var p = filled
        while (p > 0 && topD(p - 1) > d) {
          topD(p) = topD(p - 1); topI(p) = topI(p - 1); p -= 1
        }
        topD(p) = d; topI(p) = i
        filled += 1
      } else if (d < topD(kk - 1)) {
        var p = kk - 1
        while (p > 0 && topD(p - 1) > d) {
          topD(p) = topD(p - 1); topI(p) = topI(p - 1); p -= 1
        }
        topD(p) = d; topI(p) = i
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      topI.take(filled).map(cellJ(_)))
  }

  /** The PQ ADC table row: per code i (table order = code order),
    * floor(memberDist·scale) as a Long — the same exact-integer
    * numerator / one-IEEE-division kernel as [[nearestMember]], then
    * ONE double multiply and floor, matching the literal column form
    * (`floor(dist × scale)` cast long) bit-for-bit. */
  def adcRow(qv: ArrayData, nrm: Long, scale: Long): ArrayData = {
    require(groupStart.isEmpty, "ADC tables are flat (one entry per code)")
    val out = new Array[Long](cellJ.length)
    var i = 0
    while (i < cellJ.length) {
      val n = cellN(i)
      val num = n * n * nrm - 2L * n * dot(qv, cellS, i * dim) + cellSumS2(i)
      out(i) = math.floor((num.toDouble / (n.toDouble * n.toDouble)) * scale.toDouble).toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Two-level [[probe]]: rank the super-centroids (exact Long
    * distances, ties to the smaller group index), keep the
    * `nSuperProbe` nearest groups, then rank only THEIR members by
    * (member dist ASC, cell id ASC) and return the first `nprobe`
    * ids. Member ties compare ids EXPLICITLY (the concatenated layout
    * is not globally id-sorted), so `nSuperProbe ≥ nGroups` — every
    * member ranked — reproduces the exact [[probe]] bit-for-bit. */
  def probeGrouped(qv: ArrayData, nrm: Long, nprobe: Int, nSuperProbe: Int): ArrayData = {
    require(groupStart.nonEmpty, "probeGrouped needs a two-level table")
    val nG = superSumS2.length
    val gk = math.min(nSuperProbe, nG)
    // stage 1: top-gk groups by (super dist ASC, group idx ASC) —
    // strictly-worse shifting keeps equal-distance incumbents (their
    // index is smaller), matching first-minimum semantics
    val gD = new Array[Long](gk)
    val gI = new Array[Int](gk)
    var gFilled = 0
    var g = 0
    while (g < nG) {
      val d = nrm - 2L * dot(qv, superS, g * dim) + superSumS2(g)
      if (gFilled < gk) {
        var p = gFilled
        while (p > 0 && gD(p - 1) > d) { gD(p) = gD(p - 1); gI(p) = gI(p - 1); p -= 1 }
        gD(p) = d; gI(p) = g
        gFilled += 1
      } else if (d < gD(gk - 1)) {
        var p = gk - 1
        while (p > 0 && gD(p - 1) > d) { gD(p) = gD(p - 1); gI(p) = gI(p - 1); p -= 1 }
        gD(p) = d; gI(p) = g
      }
      g += 1
    }
    // stage 2: rank the chosen groups' members by (dist, id) —
    // lexicographic with EXPLICIT id comparison
    val kk0 = {
      var total = 0
      var gi = 0
      while (gi < gFilled) { total += groupStart(gI(gi) + 1) - groupStart(gI(gi)); gi += 1 }
      math.min(nprobe, total)
    }
    val topD = new Array[Double](kk0)
    val topJ = new Array[Long](kk0)
    var filled = 0
    var gi = 0
    while (gi < gFilled) {
      var i = groupStart(gI(gi))
      val until = groupStart(gI(gi) + 1)
      while (i < until) {
        val n = cellN(i)
        val num = n * n * nrm - 2L * n * dot(qv, cellS, i * dim) + cellSumS2(i)
        val d = num.toDouble / (n.toDouble * n.toDouble)
        val id = cellJ(i)
        def worse(p: Int): Boolean = topD(p) > d || (topD(p) == d && topJ(p) > id)
        if (filled < kk0) {
          var p = filled
          while (p > 0 && worse(p - 1)) { topD(p) = topD(p - 1); topJ(p) = topJ(p - 1); p -= 1 }
          topD(p) = d; topJ(p) = id
          filled += 1
        } else if (worse(kk0 - 1)) {
          var p = kk0 - 1
          while (p > 0 && worse(p - 1)) { topD(p) = topD(p - 1); topJ(p) = topJ(p - 1); p -= 1 }
          topD(p) = d; topJ(p) = id
        }
        i += 1
      }
      gi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(topJ.take(filled))
  }

  def assign(qv: ArrayData, nrm: Long): Long =
    if (groupStart.isEmpty) nearestMember(qv, nrm, 0, cellJ.length)
    else {
      var best = Long.MaxValue
      var bestG = 0
      var g = 0
      while (g < superSumS2.length) {
        val d = nrm - 2L * dot(qv, superS, g * dim) + superSumS2(g)
        if (d < best) { best = d; bestG = g }
        g += 1
      }
      nearestMember(qv, nrm, groupStart(bestG), groupStart(bestG + 1))
    }
}
