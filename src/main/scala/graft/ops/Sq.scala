package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.functions.{VecDot, vecDot}

/** Scalar quantization (SQ8) — the MIDDLE point of the ANN memory
  * axis, between raw vectors (q45: 256 B/vec at Dim = 64 float) and
  * product quantization (q77/q80: 4 code bytes): one byte PER
  * DIMENSION against a per-dim [min, max] grid learned from the
  * corpus, with far higher fidelity than PQ (256 levels per dim vs
  * 16-256 levels per 16-dim subspace). The standard FAISS `SQ8`
  * production shape; the right default when memory pressure is real
  * but recall must stay near exact (the measured recall@5 floor here
  * is far above q77's).
  *
  * Sizes: a code takes 256 values, so a byte-packed layout holds a
  * vector in 64 B, 4× below 64 floats. This engine does not pack: in
  * Spark the codes are `array<bigint>`, 8 B per dimension, the same
  * width as the integer grid `qv` they encode. The "B/vec" figures
  * below are the packed sizes the plan shape is argued for; the
  * decoded serve tier ([[decodedTier]]) costs one bigint per row more
  * than the codes relation.
  *
  * Exact-replayable construction (the q81 oracle replays every step):
  *  - per-dim bounds: min_d / max_d over the quantized integer grid
  *    (floor(x·10³) — [[Embeddings.quantized]]'s contract), one
  *    64-group aggregate with map-side partials;
  *  - code: c_d = (qv_d − min_d)·255 `div` (max_d − min_d) — all
  *    Longs, integer division (operands non-negative, so Spark `div`
  *    ≡ DuckDB `//`), degenerate dims (max = min) code to 0;
  *  - decode: r_d = min_d + (c_d·(max_d − min_d)) `div` 255 — the
  *    pinned reconstruction every engine derives identically;
  *  - serve: est = Σ(qv_d − r_d)² — an exact-integer BIGINT (no
  *    division anywhere), so ranking is partition/engine-invariant;
  *    ties (est ASC, neighbor_id ASC); probes capped by the
  *    [[Pq.ProbeCap]] pattern.
  *
  * Plan shape at 100 TB: bounds are ONE 64-group aggregate (the
  * shuffle carries 64 rows); encoding and decoding are scan-riding
  * projections over dim-bounded literal arrays (128 literals — fixed
  * by Dim, not by corpus or level count); the serve is the q45/q77
  * broadcast-cross-join shape over the codes relation, per-pair work
  * one codegen `vec_dot` cross term (the q·q and r·r norms precompute
  * per side). */
object Sq {

  /** Quantization levels — byte codes, FAISS SQ8. */
  val Levels = 256

  /** Per-dim (min, max) over the quantized corpus: ONE distributed
    * 64-group aggregate (posexplode → groupBy pos, map-side partials
    * — the q62 label-centroid shape), 64 rows collected. */
  private[graft] def gridBounds(vecs: DataFrame): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val rows = vecs
      .select(posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    require(rows.length == Embeddings.Dim,
      s"per-dim bounds aggregated ${rows.length} dims (want ${Embeddings.Dim})")
    val byPos = rows.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dims = (0 until Embeddings.Dim).map(d => byPos(d))
    (dims.map(_._1), dims.map(_._2))
  }

  private def sqlArr(a: Seq[Long]): String = a.map(v => s"${v}L").mkString("array(", ",", ")")

  /** The SQ8 CODES relation (vec_id, codes: array<bigint> of 0..255)
    * — a scan-riding projection over the dim-bounded literal bounds
    * arrays; zero shuffle. Codes CLAMP to [0, Levels−1]: with bounds
    * learned from this corpus the clamp is an identity (qv_d ∈
    * [min_d, max_d] by construction — SqSpec pins it), and with a
    * STALE persisted bounds artifact whose grid the corpus has
    * drifted past, saturation IS the staleness semantics (the FAISS
    * SQ8 encode behavior): drifted values code to the nearest grid
    * edge instead of emitting out-of-range bytes that silently break
    * the byte-code invariant (ADVICE r10). Inside the clamp, `div` is
    * the INTEGRAL division operator; operands are non-negative on the
    * covered grid, so Spark's truncating `div` and DuckDB's flooring
    * `//` coincide — and off-grid (stale bounds) the clamp itself
    * restores engine agreement (both sides saturate to the same
    * edge). */
  private[graft] def encode(vecs: DataFrame,
                            mins: Seq[Long], maxs: Seq[Long],
                            keep: Seq[String] = Nil): DataFrame = {
    val rng = mins.zip(maxs).map { case (mn, mx) => mx - mn }
    vecs.select(col("vec_id") +: keep.map(col) :+ expr(
      s"""transform(qv, (x, i) ->
            CASE WHEN element_at(${sqlArr(rng)}, i + 1) = 0L THEN 0L
                 ELSE least(${Levels - 1}L, greatest(0L,
                      ((x - element_at(${sqlArr(mins)}, i + 1)) * ${Levels - 1}L)
                      div element_at(${sqlArr(rng)}, i + 1))) END)""").as("codes"): _*)
  }

  /** Pinned reconstruction onto the integer grid:
    * r_d = min_d + (c_d·range_d) div 255 (same non-negative-operand
    * `div` contract as [[encode]]). */
  private[graft] def decodeCol(mins: Seq[Long], maxs: Seq[Long]): Column = {
    val rng = mins.zip(maxs).map { case (mn, mx) => mx - mn }
    expr(
      s"""transform(codes, (c, i) ->
            element_at(${sqlArr(mins)}, i + 1) +
            (c * element_at(${sqlArr(rng)}, i + 1)) div ${Levels - 1}L)""")
  }

  /** Schema of [[probeRows]]: the probed-cell relation of
    * [[Pq.probeCellsRelation]] (q_id, qv, nrm, cell) plus the query's
    * residual against the probed cell's mean grid (q_v) and its exact
    * norm (q_n). */
  private val ProbeSchema: StructType = StructType(Seq(
    StructField("q_id", LongType),
    StructField("qv", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("nrm", LongType, nullable = false),
    StructField("cell", LongType, nullable = false),
    StructField("q_v", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("q_n", LongType, nullable = false)))

  /** The probe side of every ROUTED SQ8 serve, built on the driver:
    * one row per (query, probed cell), in [[ProbeSchema]]. The query
    * batch is broadcast-sized by contract, so it is collected once and
    * each query's `nprobe` cells are ranked by `CellTable.probe`, the
    * kernel [[graft.functions.ProbeCells]] evaluates in
    * [[Pq.probeCellsRelation]], over the same [[Embeddings.cellTable]];
    * q_v and q_n use the Long arithmetic of the distributed form
    * (`zip_with(qv, grid, _ - _)` against [[Embeddings.meanGrid]],
    * then `vec_dot`). A query whose qv is null or holds a null yields
    * no rows, as `explode` of the null probe array does there
    * (SqProbeProperties pins the two forms equal). `sorted` must be
    * cell-id-sorted. */
  private[graft] def probeRows(queries: DataFrame, sorted: Seq[Embeddings.Centroid],
                               nprobe: Int): Array[Row] = {
    require(nprobe >= 1, "nprobe must be positive")
    val table = Embeddings.cellTable(sorted)
    val grids = sorted.map(c => c.j -> Embeddings.meanGrid(c.s, c.n)).toMap
    queries.select(col("q_id"), col("qv")).collect().flatMap { r =>
      val raw = if (r.isNullAt(1)) null else r.getSeq[java.lang.Long](1)
      if (raw == null || raw.contains(null)) Array.empty[Row]
      else {
        val qv = raw.map(_.longValue).toArray
        require(qv.length == Embeddings.Dim,
          s"query ${r.get(0)} has ${qv.length} dims (want ${Embeddings.Dim})")
        val qa = new GenericArrayData(qv)
        val nrm = VecDot.computeStrict(qa, qa)
        table.probe(qa, nrm, nprobe).toLongArray().map { cell =>
          val g = grids(cell)
          val qres = Array.tabulate(qv.length)(d => qv(d) - g(d))
          val ra = new GenericArrayData(qres)
          new GenericRowWithSchema(
            Array(r.get(0), qv.toSeq, nrm, cell, qres.toSeq, VecDot.computeStrict(ra, ra)),
            ProbeSchema): Row
        }
      }
    }
  }

  /** [[probeRows]] as the broadcastable (q_id, cell, q_v, q_n) side of
    * the cell equi-join. */
  private[ops] def probeSide(spark: SparkSession, rows: Array[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), ProbeSchema)
      .select(col("q_id"), col("cell"), col("q_v"), col("q_n"))

  /** The corpus side of every SQ8 serve: the reconstruction rides the
    * codes scan (row-local) with its exact norm precomputed; `keep`
    * carries routing columns (cell) through. ONE definition for all
    * three SQ8 serves. */
  private def decoded(codes: DataFrame, mins: Seq[Long], maxs: Seq[Long],
                      keep: Seq[String] = Nil): DataFrame =
    codes.withColumn("rv", decodeCol(mins, maxs))
      .select(Seq(col("vec_id").as("neighbor_id")) ++ keep.map(col) ++
        Seq(col("rv"), vecDot(col("rv"), col("rv")).as("r_n")): _*)

  /** The routed serve tier: (neighbor_id, cell, rv, r_n) decoded from a
    * routed codes relation ([[ivfSq8Codes]]). A serving deployment
    * persists this instead of the codes, so its batches never re-run
    * the decode, an interpreted `transform` that falls back from
    * codegen; the cache holds one bigint per row more than the codes
    * relation. [[ivfSq8ServeDecoded]] serves it. */
  def decodedTier(codes: DataFrame, mins: Seq[Long], maxs: Seq[Long]): DataFrame =
    decoded(codes, mins, maxs, keep = Seq("cell"))

  /** The ONE ranking tail of every SQ8 serve ([[Pq.adcTail]]'s
    * counterpart): `pairs` carries (q_id, neighbor_id, q_v, q_n, rv,
    * r_n) candidate rows from whatever candidate generation ran
    * upstream (q81's broadcast cross join, q82's cell equi-join,
    * q85's candidate-sized refine joins); this applies the
    * exact-integer estimate — ONE codegen `vec_dot` cross term, the
    * norms precomputed per side — and the per-probe (est ASC,
    * neighbor_id ASC) top-k. One definition: the estimate and
    * tie-break are a bit-exact contract with the q81/q82/q85 oracles
    * and must never diverge between variants. */
  /** The exact-integer SQ8 estimate on candidate pairs —
    * est = q_n − 2·⟨q_v, rv⟩ + r_n = Σ(qres_d − r_d)² — ONE
    * definition for the ranked serves ([[sqTail]]) and the radius
    * serve ([[ivfSq8RangeServe]]), so the estimate can never drift
    * between the top-k and range contracts. */
  private def withEst(pairs: DataFrame): DataFrame =
    pairs.withColumn("est", col("q_n") - lit(2L) * vecDot(col("q_v"), col("rv")) + col("r_n"))

  private def sqTail(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("est"), col("neighbor_id"))
    withEst(pairs)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("est"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** q81 — SQ8 top-k: for every probe (vec_id % queryMod = 0, capped
    * by the [[Pq.ProbeCap]] pattern), the k nearest corpus vectors by
    * exact-integer distance to the RECONSTRUCTED vector (est ASC,
    * ties to the smaller neighbor_id, self excluded). Recall vs the
    * exact ranking is measured in SqSpec against q45's brute-force
    * baseline. */
  def sq8TopK(spark: SparkSession, dir: String,
              k: Int = 5, queryMod: Int = 50): DataFrame = {
    val vecs = Caches.persist(Embeddings.quantized(spark, dir))
    val (mins, maxs) = gridBounds(vecs)
    sq8Serve(encode(vecs, mins, maxs), mins, maxs, Pq.cappedProbes(vecs, queryMod), k,
      excludeSelf = true)
  }

  /** The SQ8 serve: decode rides the codes scan (row-local), the
    * probe batch broadcasts into the cross join (the q45/q77 shape),
    * per-pair work is ONE codegen `vec_dot` cross term. ONE
    * definition shared by q81 and the [[graft.stream.ServeLoop]]
    * serve (StreamingSqServeSpec pins stream ≡ batch). */
  def sq8Serve(codes: DataFrame, mins: Seq[Long], maxs: Seq[Long],
               probes: DataFrame, k: Int = 5,
               excludeSelf: Boolean = false): DataFrame = {
    val corpus = decoded(codes, mins, maxs)
    val qs = probes
      .select(col("q_id"), col("qv").as("q_v"))
      .withColumn("q_n", vecDot(col("q_v"), col("q_v")))
    val pairs = corpus.crossJoin(broadcast(qs))
    sqTail(if (excludeSelf) pairs.filter(col("neighbor_id") =!= col("q_id")) else pairs, k)
  }

  /** q82 — IVF+SQ8: the near-exact-recall memory point ROUTED (the
    * FAISS `IVFx,SQ8` production shape), completing the serving axis
    * q79 opened for PQ: q81's serve must scan every SQ8 code per
    * probe; this routes the corpus into the trained IVF cells,
    * SQ8-encodes each vector's RESIDUAL from its home cell's integer
    * mean grid (per-dim bounds learned over the residual relation —
    * residuals concentrate near 0, so the same 256 levels land on a
    * tighter grid than raw SQ8's), and serves by probing only each
    * query's `nprobe` nearest cells through the SAME cell equi-join +
    * static probed-cell pruning as [[Pq.ivfPqServe]].
    *
    * Exact-replayable construction (the q82 oracle replays it all):
    * the [[Embeddings.trainQuantizer]] pinned coarse trajectory, the
    * [[Embeddings.meanGrid]] exact-integer residuals (shared with q79
    * via [[Pq.residualsOf]]), the [[encode]]/[[decodeCol]] pinned
    * byte grid over residual bounds, and est = Σ(qres_d − r_d)² — an
    * exact-integer BIGINT where qres is the query's residual against
    * the PROBED cell.
    *
    * Plan shape at 100 TB: identical to q79's — the probe side
    * (nprobe rows per query, each carrying its per-cell residual)
    * broadcasts into a cell equi-join against the codes scan, the
    * probed-cell set rides the scan as a static filter (partitioned
    * by cell ⇒ listing-time pruning through the serve path,
    * StorageSpec's IVFADC proof shape) — per-probe work is
    * nprobe/nCells of the corpus at 64 B/vector. */
  def ivfSq8TopK(spark: SparkSession, dir: String,
                 k: Int = 5, queryMod: Int = 50, nprobe: Int = 2): DataFrame = {
    val (vecs, cents, mins, maxs, codes) = routedIndex(spark, dir)
    ivfSq8Serve(codes, cents, mins, maxs, Pq.cappedProbes(vecs, queryMod), k, nprobe,
      excludeSelf = true)
  }

  /** The q82 build every routed SQ8 query shares: the cached quantized
    * corpus, the pinned coarse quantizer ([[Embeddings.OracleCells]],
    * [[Embeddings.OracleIters]]), the residual bounds and the routed
    * codes. */
  private def routedIndex(spark: SparkSession, dir: String)
      : (DataFrame, Seq[Embeddings.Centroid], IndexedSeq[Long], IndexedSeq[Long], DataFrame) = {
    val vecs = Caches.persist(Embeddings.quantized(spark, dir))
    val cents = Embeddings.trainQuantizer(spark, dir).sortBy(_.j)
    val residuals = Caches.persist(Pq.residualsOf(spark, dir, cents))
    val (mins, maxs) = gridBounds(residuals)
    (vecs, cents, mins, maxs, encode(residuals, mins, maxs, keep = Seq("cell")))
  }

  /** Semi-hard margin on the integer distance grid: qv = x·1000, so
    * squared distances carry a 10⁶ scale — 200,000 ≈ 0.2 in original
    * float² units, calibrated so the band is non-empty on the
    * near-isotropic driver corpus (per-probe d_pos ≈ 1.2-1.5M with
    * different-label candidates spread across ±0.3M). The q96 oracle
    * reads this value; [[graft.tools.DiversityReport]] sweeps others. */
  val TripletMargin = 200000L

  /** q96 — SEMI-HARD TRIPLET MINING over routed candidates (the
    * embedding-model training-data operator: triplet/contrastive
    * losses need (anchor, positive, negative) examples where the
    * negative is CLOSE enough to carry gradient — FaceNet's semi-hard
    * rule, Schroff 2015: d_pos ≤ d_neg < d_pos + margin — and at
    * corpus scale the miner is an ANN serve, exactly how FAISS-based
    * miners run): candidates = the q82 routed IVF+SQ8 serve at
    * k = `r` per anchor (probed-cell pruning and all); labels attach
    * by candidate-sized broadcast equi-joins against the corpus scan;
    * positive = the nearest same-label candidate (ties neighbor_id);
    * negatives = different-label candidates inside the semi-hard
    * band. Anchors with no same-label candidate in the pool emit
    * nothing (the pool is [[Pq.RefineR]] deep); anchors with no negative in
    * the band emit nothing (the margin dial — MEASURED by
    * [[graft.tools.DiversityReport.tripletYieldVsMargin]]: yield and
    * anchor coverage are monotone in the margin by construction,
    * spec-pinned; tables per geometry in bench/SCALING_r12.md). All
    * distances are the
    * SQ8-estimate BIGINTs of the q82 chain, so the mined triplets
    * replay bit-for-bit in DuckDB.
    *
    * Output (q_id, pos_id, neg_id, d_pos, d_neg), ordered. */
  def ivfSq8TripletMine(spark: SparkSession, dir: String,
                        margin: Long = TripletMargin): DataFrame = {
    require(margin >= 0, "margin must be non-negative")
    val (vecs, cents, mins, maxs, codes) = routedIndex(spark, dir)
    val cands = ivfSq8Serve(codes, cents, mins, maxs, Pq.cappedProbes(vecs, 50),
        k = Pq.RefineR, nprobe = 2, excludeSelf = true)
      .select(col("q_id"), col("neighbor_id"), col("est"))
    // labels attach candidate-sized: the candidate list broadcasts
    // into the corpus scan twice (neighbor label, then anchor label)
    val nl = vecs.select(col("vec_id").as("neighbor_id"), col("label").as("nl"))
    val ql = vecs.select(col("vec_id").as("q_id"), col("label").as("ql"))
    val labeled = ql.join(broadcast(nl.join(broadcast(cands), Seq("neighbor_id"))),
      Seq("q_id"))
    val wPos = Window.partitionBy(col("q_id")).orderBy(col("est"), col("neighbor_id"))
    val pos = labeled.filter(col("nl") === col("ql"))
      .withColumn("rn", row_number().over(wPos)).filter(col("rn") === 1)
      .select(col("q_id"), col("neighbor_id").as("pos_id"), col("est").as("d_pos"))
    labeled.filter(col("nl") =!= col("ql"))
      .join(broadcast(pos), Seq("q_id"))
      .filter(col("est") >= col("d_pos") && col("est") < col("d_pos") + lit(margin))
      .select(col("q_id"), col("pos_id"), col("neighbor_id").as("neg_id"),
        col("d_pos"), col("est").as("d_neg"))
      .orderBy(col("q_id"), col("neg_id"))
  }

  /** The q82 BUILD stage alone: coarse quantizer + residual bounds —
    * the artifact pair a deployment persists ([[Embeddings
    * .saveQuantizer]] + [[saveBounds]]) so serving jobs never re-pay
    * the training scans ([[graft.stream.StreamingIvfSqServe]] loads
    * the pair). */
  def trainIvfSq8(spark: SparkSession, dir: String,
                  nCells: Int = Embeddings.OracleCells,
                  iters: Int = Embeddings.OracleIters)
      : (Seq[Embeddings.Centroid], IndexedSeq[Long], IndexedSeq[Long]) = {
    val cents = Embeddings.trainQuantizer(spark, dir, nCells, iters).sortBy(_.j)
    val (mins, maxs) = gridBounds(Caches.persist(Pq.residualsOf(spark, dir, cents)))
    (cents, mins, maxs)
  }

  /** The routed SQ8 index relation (vec_id, cell, codes): home cell +
    * residual byte codes — persist partitioned by cell at scale so
    * probed cells prune at listing time. The residual relation is NOT
    * cached here: this builder scans it exactly once (the caller
    * caches the CODES, not their input — review r11); the train path
    * ([[trainIvfSq8]]/[[ivfSq8TopK]]) owns its own residual cache
    * where two passes genuinely read it. */
  def ivfSq8Codes(spark: SparkSession, dir: String,
                  cents: Seq[Embeddings.Centroid],
                  mins: Seq[Long], maxs: Seq[Long]): DataFrame =
    encode(Pq.residualsOf(spark, dir, cents), mins, maxs, keep = Seq("cell"))

  /** Build BOTH q85 serve tiers — the routed 4 B/vec ADC codes and
    * the 64 B/vec SQ8 refine codes — off ONE cached residual
    * relation. [[Pq.ivfPqCodes]] and [[ivfSq8Codes]] each scan their
    * own [[Pq.residualsOf]]; calling them side by side at serve
    * startup pays the dominant build cost (the full-corpus
    * [[Embeddings.serveIndex]] assignment pass + mean-grid join)
    * twice (review r11). Callers persist the returned TIERS; the
    * residual cache behind them is registered with [[Caches]] and
    * falls to the session's releaseAll. */
  def buildRefineTiers(spark: SparkSession, dir: String,
                       cents: Seq[Embeddings.Centroid],
                       books: Seq[Seq[Embeddings.Centroid]],
                       mins: Seq[Long], maxs: Seq[Long]): (DataFrame, DataFrame) = {
    val residuals = Caches.persist(Pq.residualsOf(spark, dir, cents))
    (Pq.encode(residuals, books, keep = Seq("cell")),
     encode(residuals, mins, maxs, keep = Seq("cell")))
  }

  /** The q82 SERVE stage: probe each query's `nprobe` nearest cells
    * (the [[graft.functions.ProbeCells]] ranking, on the driver
    * through [[probeRows]]), build the query's per-probed-cell
    * RESIDUAL, and resolve est through the cell equi-join against the
    * decoded `codes` with the probed-cell set riding the codes scan as
    * a static filter (it pushes below the decode). `queries` carries
    * (q_id, qv) on the corpus integer grid ([[Pq.quantizeQueries]] for
    * external embeddings). The same kernel as [[ivfSq8ServeDecoded]]
    * over [[decodedTier]]`(codes)`, so batch q82 and the streaming
    * seam agree by identity. */
  def ivfSq8Serve(codes: DataFrame, cents: Seq[Embeddings.Centroid],
                  mins: Seq[Long], maxs: Seq[Long],
                  queries: DataFrame, k: Int = 5, nprobe: Int = 2,
                  excludeSelf: Boolean = false): DataFrame =
    ivfSq8ServeDecoded(decodedTier(codes, mins, maxs), cents, queries, k, nprobe, excludeSelf)

  /** [[ivfSq8Serve]] over an already-decoded tier ([[decodedTier]]). */
  def ivfSq8ServeDecoded(tier: DataFrame, cents: Seq[Embeddings.Centroid],
                         queries: DataFrame, k: Int = 5, nprobe: Int = 2,
                         excludeSelf: Boolean = false): DataFrame =
    sqTail(ivfSq8Pairs(tier, cents, queries, nprobe, excludeSelf), k)

  /** The candidate-pair half of every routed SQ8 serve: ONE driver-side
    * evaluation of the probe ranking ([[probeRows]]) yields both the
    * probed-cell static filter and the broadcast query side, which
    * meets the decoded `tier` in the cell equi-join.
    * [[ivfSq8ServeDecoded]] ranks these pairs to top-k;
    * [[ivfSq8RangeServe]] keeps every pair within a radius. */
  private def ivfSq8Pairs(tier: DataFrame, cents: Seq[Embeddings.Centroid],
                          queries: DataFrame, nprobe: Int,
                          excludeSelf: Boolean): DataFrame = {
    val rows = probeRows(queries, cents.sortBy(_.j), nprobe)
    val probedCells = rows.map(_.getLong(3)).distinct.toSeq
    val pairs = tier.filter(col("cell").isin(probedCells: _*))
      .join(broadcast(probeSide(queries.sparkSession, rows)), Seq("cell"))
    if (excludeSelf) pairs.filter(col("neighbor_id") =!= col("q_id")) else pairs
  }

  /** q89 — RANGE SEARCH (the FAISS `range_search` API shape, the
    * third retrieval contract after top-k and filtered top-k): every
    * neighbor within a RADIUS, not a fixed count — the shape
    * dedup-by-distance, collision detection, and "all near-matches"
    * audits need, where the answer size is data-dependent by design.
    * Served ROUTED over IVF+SQ8 (q82's build verbatim): candidates
    * come from each query's `nprobe` probed cells and pairs keep
    * `est ≤ tau` instead of ranking to k. Like every IVF serve this
    * is approximate-by-routing — a true neighbor outside the probed
    * cells is missed; SqSpec MEASURES range-completeness against the
    * exact radius scan, the nprobe trade of the range contract.
    *
    * Exact-replayable: q82's construction verbatim with the rank cut
    * replaced by `WHERE est ≤ tau` — the q89 oracle replays it from
    * the shared CTE chain. Output (q_id, neighbor_id, est) ordered
    * (q_id, est, neighbor_id); a probe with no neighbor inside the
    * radius yields no rows (the range contract: empty is an answer).
    *
    * Plan shape at 100 TB: identical to q82's serve — the radius
    * filter rides the SAME scan-pruned cell equi-join, and because
    * there is no per-query window, the range serve is cheaper than
    * top-k at equal candidate volume (no rank shuffle: the filter is
    * a scan-riding predicate after one codegen vec_dot). The radius is
    * [[RangeTau]], on the ×1000 integer grid (squared distance): ~1.5%
    * pair density on the synthetic corpus, and the value the q89
    * oracle reads. */
  val RangeTau = 1450000L

  def ivfSq8RangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val (vecs, cents, mins, maxs, codes) = routedIndex(spark, dir)
    ivfSq8RangeServe(codes, cents, mins, maxs, Pq.cappedProbes(vecs, 50), RangeTau,
      excludeSelf = true)
  }

  /** The radius serve behind [[ivfSq8RangeSearch]]: [[ivfSq8Pairs]]
    * + `est ≤ tau`. ONE definition with the top-k serve's pair
    * generation and estimate, so range and top-k can never disagree
    * about what "distance" means. */
  def ivfSq8RangeServe(codes: DataFrame, cents: Seq[Embeddings.Centroid],
                       mins: Seq[Long], maxs: Seq[Long],
                       queries: DataFrame, tau: Long,
                       excludeSelf: Boolean = false): DataFrame = {
    require(tau >= 0, "radius must be non-negative")
    withEst(ivfSq8Pairs(decodedTier(codes, mins, maxs), cents, queries, 2, excludeSelf))
      .filter(col("est") <= tau)
      .select(col("q_id"), col("neighbor_id"), col("est"))
      .orderBy(col("q_id"), col("est"), col("neighbor_id"))
  }

  /** q90 — TOMBSTONE DELETE through the index lifecycle (the FAISS
    * `remove_ids` contract, served through the snapshot protocol):
    * deleting vectors from a deployed ANN index WITHOUT a rebuild.
    * The routed SQ8 tier is PUBLISHED as snapshot v1
    * ([[Storage.upsertSnapshot]]), the delete set (`vec_id %
    * deleteMod = deleteRem` — 10% of the corpus) lands as a TOMBSTONE
    * upsert (v2: base minus the deleted keys — the copy-on-write
    * row-delete this protocol gives plain parquet), superseded v1 is
    * [[Storage.vacuumSnapshots]]ed, and the serve runs off the
    * refreshed snapshot — so the GRADED query exercises publish →
    * tombstone-delete → vacuum → resolve → serve, the full mutation
    * loop a production deployment runs when GDPR/takedown deletions
    * arrive. Training and routing are NOT redone (the frozen-index
    * contract, as in q87): deletion changes the candidate set only.
    *
    * Semantics pinned: deleted ids never appear as neighbors; a
    * DELETED id still works as a QUERY (query vectors are external
    * by contract — deletion removes a vector from the INDEX, not
    * from the world); a probe whose probed cells lost rows returns
    * what remains (possibly < k — deletion is the filter trade,
    * same as q86's selector).
    *
    * Exact-replayable: because the tombstone merge is exactly "base
    * rows minus deleted keys" and [[encode]] is row-local, the
    * refreshed snapshot's serve is bit-identical to filtering the
    * codes relation — the q90 oracle replays q82's chain with
    * `vec_id % deleteMod <> deleteRem` on the corpus side; the
    * protocol path producing the same rows IS the graded claim.
    *
    * Plan shape at 100 TB: the delete pays one copy-on-write tier
    * rewrite (64 B/vec — never the raw corpus, never the trainer,
    * the q87 ingest economics); the serve is q82's verbatim over a
    * smaller tier. */
  def ivfSq8DeleteTopK(spark: SparkSession, dir: String,
                       deleteMod: Int = 10, deleteRem: Int = 3): DataFrame = {
    val (vecs, cents, mins, maxs, codes) = routedIndex(spark, dir)
    // the REAL mutation loop, not a simulation: publish, tombstone,
    // vacuum the superseded version, serve the resolved snapshot
    val root = java.nio.file.Files.createTempDirectory("ivfsq8-del").toString
    Storage.upsertSnapshot(spark, root, codes, "vec_id")
    Storage.upsertSnapshot(spark, root,
      codes.filter(col("vec_id") % deleteMod === deleteRem)
        .withColumn("__deleted", lit(true)),
      "vec_id", deleteCol = Some("__deleted"))
    Storage.vacuumSnapshots(spark, root, keepLast = 1)
    ivfSq8Serve(Storage.readSnapshot(spark, root), cents, mins, maxs,
      Pq.cappedProbes(vecs, 50), 5, 2, excludeSelf = true)
  }

  /** q86 — FILTERED IVF+SQ8 top-k (the FAISS `IDSelector` / filtered-
    * search production shape): the routed q82 serve under a PER-QUERY
    * metadata predicate — here `label % 2 = 0` over the
    * corpus's label column — with selector semantics pinned to how
    * every production engine defines them: training, routing, and
    * encoding see the FULL corpus (the index is built once, filters
    * change per request); the predicate drops candidates at SERVE
    * time, after cell probing, so a probe returns fewer than k rows
    * when its probed cells hold fewer than k matching vectors (the
    * filter never widens the probe set — recall under selective
    * filters is the nprobe trade, measured in SqSpec).
    *
    * The filterable payload is attached to the TIER, not joined at
    * serve: [[ivfSq8CodesWithLabel]] pays one co-partitioned
    * vec_id equi-join at BUILD time (amortized across every serve,
    * the standard payload-in-index layout), so at serve time the
    * predicate is a scan-riding filter on the codes relation itself —
    * Catalyst pushes it below the probed-cell equi-join, and on a
    * persisted tier it reaches the parquet scan as a pushed filter
    * (PlanAuditSpec pins both the pushdown and the probed-cell
    * pruning surviving alongside it).
    *
    * Exact-replayable: q82's construction verbatim plus one label
    * equi-join + modulo predicate — the q86 oracle replays the serve
    * with `JOIN embeddings ... WHERE label % 2 = 0`. */
  def ivfSq8TopKFiltered(spark: SparkSession, dir: String,
                         k: Int = 5, queryMod: Int = 50): DataFrame = {
    val (vecs, cents, mins, maxs, codes) = routedIndex(spark, dir)
    val labeled = codes.join(vecs.select(col("vec_id"), col("label")), "vec_id")
    ivfSq8Serve(labeled.filter(col("label") % 2 === 0), cents, mins, maxs,
      Pq.cappedProbes(vecs, queryMod), k, 2, excludeSelf = true)
  }

  /** The q86 payload-attached tier: the routed SQ8 codes relation
    * carrying the corpus's filterable metadata (label) — ONE
    * co-partitioned vec_id equi-join at build time. Persist
    * partitioned by cell; per-request predicates then ride the tier
    * scan next to the probed-cell filter. */
  def ivfSq8CodesWithLabel(spark: SparkSession, dir: String,
                           cents: Seq[Embeddings.Centroid],
                           mins: Seq[Long], maxs: Seq[Long]): DataFrame =
    ivfSq8Codes(spark, dir, cents, mins, maxs)
      .join(Embeddings.quantized(spark, dir).select(col("vec_id"), col("label")),
        "vec_id")

  /** q87 — FROZEN-QUANTIZER ROLLING INGEST (the index-refresh
    * composition every production ANN deployment runs nightly): the
    * coarse quantizer AND the SQ8 residual bounds are trained on the
    * BASE tranche only (`vec_id % 5 ≠ 4` — the corpus
    * as of the last full rebuild), FROZEN, and the WHOLE corpus —
    * base plus the later delta tranche — is assigned, residualized,
    * and encoded against those frozen artifacts. This is the exact
    * contract of FAISS's `add()` after `train()`: ingest never
    * retrains, so delta vectors land in the nearest FROZEN cell and
    * their residuals may fall OUTSIDE the frozen per-dim bounds — the
    * [[encode]] clamp saturates them to the grid edge, which is the
    * documented staleness semantics (ADVICE r10) now exercised on the
    * graded surface under genuine drift (SqSpec asserts the fixture
    * actually saturates codes, so the gate is non-vacuous).
    *
    * Because [[encode]] is row-local, encoding the delta tranche
    * separately and unioning it with the base tier is bit-identical
    * to this one-pass encode — StorageSpec proves the REAL ingest
    * path (base tier published as snapshot v1, delta UPSERTED as v2,
    * newest-complete resolution, serve off the refreshed snapshot)
    * returns exactly this query's rows.
    *
    * Exact-replayable: the q87 oracle re-runs the pinned training
    * trajectory over the base tranche CTE, assigns the full corpus
    * against the frozen centroids, learns bounds over base residuals
    * only, and replays the clamped encode∘decode over everything —
    * the serve tail is q82's verbatim. */
  def ivfSq8FrozenIngestTopK(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Caches.persist(Embeddings.quantized(spark, dir))
    val cents = Embeddings.trainQuantizerOn(Caches.persist(vecs.filter(isBase)),
      Embeddings.OracleCells, Embeddings.OracleIters).sortBy(_.j)
    // full-corpus residuals against the FROZEN centroids feed both the
    // base-only bounds pass and the encode pass — cached once
    val residuals = Caches.persist(Pq.residualsOf(spark, dir, cents))
    val (mins, maxs) = gridBounds(residuals.filter(isBase))
    ivfSq8Serve(encode(residuals, mins, maxs, keep = Seq("cell")), cents, mins, maxs,
      Pq.cappedProbes(vecs, 50), 5, 2, excludeSelf = true)
  }

  /** The q87 base tranche: every vector but the delta `vec_id % 5 = 4`. */
  private def isBase: Column = col("vec_id") % 5 =!= 4

  /** Encode a NEW-VECTOR batch — (vec_id: long, embedding:
    * array<float>) rows that were NOT part of the index build —
    * against FROZEN artifacts: quantize onto the corpus integer grid,
    * assign each row to its nearest frozen cell
    * ([[Embeddings.indexBatch]]), residualize against the cell's mean
    * grid (the ONE [[Pq.residualsOfIndex]] definition the full-corpus
    * tiers use), and [[encode]] with the frozen bounds — drifted
    * components saturate to the grid edge (the q87 clamp contract).
    * The delta encoder of the streaming ingest loop (a
    * [[graft.stream.ServeLoop]] whose sink is [[Storage.upsertSnapshot]],
    * StreamingVectorIngestSpec): because every step is row-local
    * after the broadcast mean-grid join, encoding deltas
    * batch-by-batch and upserting is bit-identical to re-encoding the
    * grown corpus in one pass. */
  def ivfSq8EncodeBatch(batch: DataFrame, cents: Seq[Embeddings.Centroid],
                        mins: Seq[Long], maxs: Seq[Long]): DataFrame = {
    val q = batch.select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast("double") * 1000)).as("qv"))
      .withColumn("nrm", vecDot(col("qv"), col("qv")))
    encode(Pq.residualsOfIndex(Embeddings.indexBatch(q, cents), cents.sortBy(_.j)),
      mins, maxs, keep = Seq("cell"))
  }

  /** The q87 BUILD stage alone: tranche-train the quantizer, freeze
    * it, learn bounds over the tranche's residuals — the artifact
    * triple a rolling-ingest deployment persists at rebuild time
    * ([[Embeddings.saveQuantizer]] + [[saveBounds]]); every later
    * ingest batch encodes against it without touching the trainer. */
  def trainFrozenIvfSq8(spark: SparkSession, dir: String)
      : (Seq[Embeddings.Centroid], IndexedSeq[Long], IndexedSeq[Long]) = {
    val cents = Embeddings.trainQuantizerOn(
      Caches.persist(Embeddings.quantized(spark, dir).filter(isBase)),
      Embeddings.OracleCells, Embeddings.OracleIters).sortBy(_.j)
    val (mins, maxs) = gridBounds(
      Pq.residualsOf(spark, dir, cents).filter(isBase))
    (cents, mins, maxs)
  }

  /** q85 — IVFADC candidates + SQ8 refine (FAISS's
    * `IVFx,PQy` + `RefineFlat(SQ8)` production pairing): the LAST
    * composition of the ANN matrix, and the one a 100 TB deployment
    * actually serves with when RAW vectors are too big to keep at all.
    * q83's refine re-scores ADC candidates against raw vectors
    * (256 B/vec — 25 TB of refine-tier storage per 10¹¹ vectors);
    * this replaces the refine tier with the SQ8 codes (64 B/vec, the
    * measured near-exact-recall memory point): stage 1 generates
    * `r` ≫ k candidates per probe through the ROUTED ADC serve (the
    * q79 cell equi-join over 4 B/vec codes + static probed-cell
    * pruning), stage 2 re-scores ONLY those candidates against the
    * SQ8-RECONSTRUCTED vectors and re-ranks to top-k. Raw vectors
    * never load at serve time — the serve tiers are 4 B scan +
    * 64 B refine.
    *
    * Exact-replayable construction (the q85 oracle replays it all):
    * both stages ride the SHARED residual relation ([[Pq
    * .residualsOf]]) — stage 1 is q79's serve verbatim at k = r;
    * stage 2's distance is q82's est formula — Σ(qres_d − r_d)² where
    * qres is the query's residual against the CANDIDATE'S home cell
    * (algebraically the original-space distance to the reconstruction
    * g_cell + r, since qres = qv − g_cell) — computed only for the
    * candidate pairs. Ties (est ASC, neighbor_id ASC); a candidate
    * list shorter than k yields fewer than k rows (the refine never
    * invents candidates stage 1 didn't produce — the q83 contract).
    *
    * Plan shape at 100 TB: stage 1 is q79's (probe batch broadcasts
    * into a cell equi-join, probed cells prune at listing time);
    * stage 2 is CANDIDATE-SIZED — the nProbes·r candidate ids
    * broadcast into an equi-join against the SQ8 codes scan, which
    * ALSO carries the probed-cell static filter (a candidate's home
    * cell is probed by construction), so on the partitioned-by-cell
    * layout the refine tier prunes at listing time too. PlanAuditSpec
    * pins both: no second all-pairs join, both scans filtered. */
  def ivfPqSq8RefineTopK(spark: SparkSession, dir: String,
                         k: Int = 5, queryMod: Int = 50): DataFrame = {
    val vecs = Caches.persist(Embeddings.quantized(spark, dir))
    val cents = Embeddings.trainQuantizer(spark, dir).sortBy(_.j)
    // ONE cached residual relation feeds codebook training, PQ
    // encoding, bounds, and SQ8 encoding (the q79 review-r9 rationale)
    val residuals = Caches.persist(Pq.residualsOf(spark, dir, cents))
    val books = Pq.trainCodebooks(residuals)
    val pqCodes = Pq.encode(residuals, books, keep = Seq("cell"))
    val (mins, maxs) = gridBounds(residuals)
    val sqCodes = encode(residuals, mins, maxs, keep = Seq("cell"))
    ivfPqSq8RefineServe(pqCodes, sqCodes, cents, books, mins, maxs,
      Pq.cappedProbes(vecs, queryMod), k, Pq.RefineR, 2, excludeSelf = true)
  }

  /** The two-stage serve behind [[ivfPqSq8RefineTopK]]. ONE
    * definition shared by the batch q85 and the
    * [[graft.stream.ServeLoop]] serve, so batch/stream agreement is an
    * identity (StreamingRefineServeSpec). The probe ranking is paid
    * ONCE, on the driver ([[probeRows]]), and feeds all three uses:
    * stage 1's probed-cell filter + ADC tables
    * ([[Pq.ivfPqServeFrom]]), stage 2's per-probed-cell query
    * residuals, and stage 2's own static probed-cell filter. */
  def ivfPqSq8RefineServe(pqCodes: DataFrame, sqCodes: DataFrame,
                          cents: Seq[Embeddings.Centroid],
                          books: Seq[Seq[Embeddings.Centroid]],
                          mins: Seq[Long], maxs: Seq[Long],
                          queries: DataFrame, k: Int = 5, r: Int = Pq.RefineR,
                          nprobe: Int = 2,
                          excludeSelf: Boolean = false): DataFrame = {
    require(r >= k, s"refine candidate budget r=$r must cover k=$k")
    val rows = probeRows(queries, cents.sortBy(_.j), nprobe)
    val probedCells = rows.map(_.getLong(3)).distinct.toSeq
    // stage 1: routed ADC candidate generation — q79's serve at k = r
    val cands = Pq.ivfPqServeFrom(pqCodes, books, rows, r, excludeSelf)
      .select(col("q_id"), col("neighbor_id"))
    // stage 2: each probe's residual against each PROBED cell (the
    // q82 probe side) meets the candidates' SQ8 reconstructions
    // through candidate-sized equi-joins
    val nb = decodedTier(sqCodes, mins, maxs).filter(col("cell").isin(probedCells: _*))
    sqTail(nb.join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(probeSide(queries.sparkSession, rows)), Seq("q_id", "cell")), k)
  }

  /** Persist the learned bounds as a parquet artifact (d, mn, mx) —
    * the SQ8 counterpart of [[Embeddings.saveQuantizer]]. */
  def saveBounds(spark: SparkSession, mins: Seq[Long], maxs: Seq[Long], path: String): Unit = {
    import spark.implicits._
    mins.indices.map(d => (d, mins(d), maxs(d)))
      .toDF("d", "mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveBounds]] artifact in dim order. */
  def loadBounds(spark: SparkSession, path: String): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val rows = spark.read.parquet(path).collect()
      .map(r => (r.getAs[Int]("d"), r.getAs[Long]("mn"), r.getAs[Long]("mx")))
      .sortBy(_._1)
    require(rows.map(_._1).toSeq == (0 until Embeddings.Dim),
      s"bounds artifact at $path does not cover dims 0 until ${Embeddings.Dim}")
    (rows.map(_._2).toIndexedSeq, rows.map(_._3).toIndexedSeq)
  }
}
