package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{adcSubDists, nearestCells, vecDot}
import graft.ops.Embeddings.Centroid

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory axis of the ANN family.
  *
  * q45 (brute), q27 (LSH), q31 (IVF) and q76 (two-level IVF) all trade
  * TIME against recall; at 100 TB the binding constraint is usually
  * MEMORY: a 64-dim float corpus is 256 B/vector, so 10¹¹ vectors
  * need 25 TB of RAM just for the vectors. PQ splits each vector into
  * [[M]] = 4 subspaces of [[SubDim]] = 16 components, trains an
  * independent [[K]] = 16-centroid codebook per subspace (Lloyd's, the
  * exact-integer machinery q31 certifies, here over subvector slices)
  * and stores each vector as 4 code bytes — a 64× compression. Serving
  * is asymmetric distance computation (ADC): the QUERY stays exact;
  * per query one 4×16 table of query-to-sub-centroid distances is
  * precomputed, and each corpus vector's distance estimate is the sum
  * of 4 table lookups — no per-pair arithmetic on raw vectors at all.
  *
  * Determinism contract (the q77/q78 oracle replays every step):
  *  - training: Forgy seed = the K smallest vec_ids' subvectors,
  *    [[Embeddings.OracleIters]] Lloyd's rounds, the scaled exact-
  *    integer distance Σ(n·q−s)²/n² over the 16-dim slice, assignment
  *    ties to the smallest code;
  *  - each subdistance is ONE IEEE division (exact integer numerator);
  *    floor(·×10⁶) quantizes it to a BIGINT so the 4-term ADC sum is
  *    an exact integer — order-independent under Spark's partial
  *    aggregation and bit-identical in DuckDB;
  *  - top-k ties break on (est ASC, neighbor_id ASC).
  *
  * Plan shape at 100 TB: encoding is a scan-riding projection — one
  * fused reference-data argmin per subspace
  * ([[graft.functions.NearestCells]] over a per-subspace code table:
  * O(1) plan size at any K, all codegen, no shuffle; the r9
  * K-literal-subtree form is retained only as PqSpec's bit-identity
  * reference). The serve is the q45 broadcast-cross-join shape — the
  * fixed probe batch (carrying its 4 lookup arrays) broadcasts onto
  * the CODES scan, which is 64× smaller than the raw-vector scan the
  * brute path reads; the per-row work is 4 `element_at` lookups + 3
  * integer adds instead of a 64-dim dot product. The only shuffle is
  * the per-query top-k window over rows that already passed the
  * per-partition rank prune. */
object Pq {

  /** Subspace count × width: 4 × 16 must cover [[Embeddings.Dim]]. */
  val M = 4
  val SubDim = 16

  /** Sub-centroids per subspace — 4 code bits each, 2 code bytes per
    * vector at the oracle size (production PQ uses K = 256 for byte
    * codes; the trade is identical, the tables 16× taller). The
    * oracle-pinned DEFAULT; production callers size with [[kFor]]
    * (q80 gates the rule). */
  val K = 16

  /** Byte-code ceiling: one code byte per subspace — FAISS's `PQy`
    * production shape (Jégou 2011 §IV uses k* = 256 throughout). */
  val KMax = 256

  /** Training-vectors-per-sub-centroid floor for [[kFor]]. Kept
    * deliberately small (production guidance is ~39·K training points;
    * FAISS docs) so the rule is NON-VACUOUS at the oracle SF — 500
    * vectors derive K = 32 ≠ the pinned 16, the q70-cellsFor pattern —
    * while at any production corpus the [[KMax]] cap binds long before
    * this floor matters (n ≥ 2048 ⇒ K = 256). */
  val TrainPerCode = 8

  /** Codebook-size-vs-N rule — [[Embeddings.cellsFor]]'s counterpart
    * for the PQ family: K doubles with the corpus (power of 2: PQ
    * codes are bit-packed) until the [[KMax]] byte-code ceiling,
    * holding ≥ [[TrainPerCode]] training vectors per sub-centroid.
    * Exact-integer form (shift-compare, no log2 doubles — the
    * planesFor rationale): K = max{2^p : p ∈ [5, 8], TrainPerCode·2^p
    * ≤ n}, else the pinned [[K]]. The q80 oracle replays the same
    * integer rule in SQL. */
  def kFor(n: Long): Int = {
    require(n > 0, "need a positive corpus size")
    var p = 4
    while (p < 8 && (TrainPerCode.toLong << (p + 1)) <= n) p += 1
    1 << p
  }

  /** Per-sub-cell member bound for the exact-integer distance. The
    * binding case is the q79 RESIDUAL path: residual components span
    * ±2·10³ (raw grid ±10³ minus a mean grid ±10³), so the 16-dim
    * numerator ≤ SubDim·(n·2·10³ + n·2·10³)² = 2.56e8·n² must stay
    * inside Long → n ≤ √(2⁶³/2.56e8) ≈ 1.9e5 (the raw-grid-only
    * bound would be 2× laxer; one guard serves both callers — a
    * review pass caught the laxer bound silently wrapping exactly on
    * the residual path it was meant to protect). Past it, shard the
    * corpus per quantizer (the ScaleUp federation shape). */
  val MaxSubCellMembers: Long = 190000L

  /** floor(dist × 10⁶) — the one scale every engine applies to a
    * subdistance before the exact-integer ADC sum. */
  val DistScale = 1000000L

  /** Probe-set cap for the gated ADC queries (the q71 pattern): with
    * probes = `vec_id % 50 = 0` alone, the conformance query's
    * broadcast side grows with the corpus and the q77 serve join
    * grows ~100× per decade BY CONSTRUCTION (measured 20× sf1→sf10).
    * `vec_id < ProbeCap` bounds it at ≤1,024 probes at any SF —
    * vacuous at the oracle SF, so conformance is unchanged — making
    * the measured growth reflect the per-probe serve cost a fixed
    * query stream actually pays. */
  val ProbeCap = 51200L

  /** The capped probe set (q_id, qv) of the gated ANN queries:
    * `vec_id % queryMod = 0` under [[ProbeCap]]. */
  private[ops] def cappedProbes(vecs: DataFrame, queryMod: Int): DataFrame =
    vecs.filter(col("vec_id") % queryMod === 0 && col("vec_id") < ProbeCap)
      .select(col("vec_id").as("q_id"), col("qv"))

  private def subSlice(v: Column, m: Int): Column =
    slice(v, m * SubDim + 1, SubDim)

  /** The per-subspace [[graft.functions.CellTable]] reference object:
    * sub-centroids in code order (seed-j-sorted, the order `cents`
    * arrives in) with cellJ = the 0-based CODE — so the fused argmin's
    * first-minimum tie-break IS "ties to the smallest code", and the
    * strictly-increasing flat-layout invariant holds by construction.
    * [[MaxSubCellMembers]] wrap guard applied per sub-cell exactly as
    * the literal forms did. */
  private def subTable(cents: Seq[Centroid]): graft.functions.CellTable = {
    cents.foreach { c =>
      require(c.n <= MaxSubCellMembers,
        s"sub-cell ${c.j} has ${c.n} members — past the 16-dim exact-integer bound")
      require(c.s.length == SubDim, s"sub-centroid ${c.j} is not $SubDim-dim")
    }
    new graft.functions.CellTable(SubDim,
      cents.indices.map(_.toLong).toArray, cents.map(_.n).toArray,
      cents.flatMap(_.s).toArray,
      cents.map(c => c.s.map(v => v * v).sum).toArray,
      Array.emptyLongArray, Array.emptyLongArray, Array.emptyIntArray)
  }

  /** Nearest sub-centroid CODE (0-based position in `cents`, which
    * arrive sorted by j) for the row's subspace slice; ties to the
    * smallest code. Since round 10 a [[graft.functions.NearestCells]]
    * reference-data expression over the per-subspace table rather
    * than K literal distance subtrees: at the production K = 256 the
    * literal form is M·K = 1,024 plan subtrees — the exact pathology
    * NearestCells killed for IVF in round 9 (~25-36 s of
    * analysis/codegen at 625 cells) — while this is O(1) plan size at
    * any K. Bit-identical arithmetic (PqSpec pins equality against
    * [[nearestSubCodeLiteral]]; the q77/q79/q80 oracles replay the
    * same trajectories). */
  private def nearestSubCode(cents: Seq[Centroid]): Column =
    nearestCells(col("__pq_sl"), col("__pq_nrm"), subTable(cents)).cast("int")

  /** The per-(query, subspace) ADC table: the K-element array of
    * floor(dist×10⁶) Longs — exact in both engines (integer
    * numerator, one IEEE division, one double multiply, floor).
    * Fused ([[graft.functions.AdcSubDists]]) for the same O(1)
    * plan-size reason as [[nearestSubCode]]. */
  private def quantizedSubDist(cents: Seq[Centroid]): Column =
    adcSubDists(col("__pq_sl"), col("__pq_nrm"), subTable(cents), DistScale)

  /** The r9 K-literal-subtree form of [[nearestSubCode]] — retained
    * (test-only) as the independent formulation PqSpec pins the fused
    * expression against bit-for-bit. */
  private[graft] def nearestSubCodeLiteral(cents: Seq[Centroid]): Column = {
    val distArr = array(cents.map { c =>
      require(c.n <= MaxSubCellMembers,
        s"sub-cell ${c.j} has ${c.n} members — past the 16-dim exact-integer bound")
      require(c.s.length == SubDim, s"sub-centroid ${c.j} is not $SubDim-dim")
      val sumS2 = c.s.map(v => v * v).sum
      (lit(c.n) * lit(c.n) * col("__pq_nrm")
        - lit(2L * c.n) * vecDot(col("__pq_sl"), array(c.s.map(lit(_)): _*))
        + lit(sumS2)).cast("double") / lit(c.n.toDouble * c.n.toDouble)
    }: _*)
    array_position(distArr, array_min(distArr)).cast("int") - 1
  }

  /** The r9 K-literal-subtree form of [[quantizedSubDist]] —
    * retained (test-only) for the same PqSpec bit-identity pin. */
  private[graft] def quantizedSubDistLiteral(cents: Seq[Centroid]): Column =
    array(cents.map { c =>
      require(c.n <= MaxSubCellMembers,
        s"sub-cell ${c.j} has ${c.n} members — past the 16-dim exact-integer bound")
      val sumS2 = c.s.map(v => v * v).sum
      floor(((lit(c.n) * lit(c.n) * col("__pq_nrm")
        - lit(2L * c.n) * vecDot(col("__pq_sl"), array(c.s.map(lit(_)): _*))
        + lit(sumS2)).cast("double") / lit(c.n.toDouble * c.n.toDouble))
        * lit(DistScale.toDouble)).cast("long")
    }: _*)

  /** Adds `__pq_sl` (the m-th slice) and `__pq_nrm` (its exact norm)
    * to `df`, evaluates `f`, drops the helpers. */
  private def withSlice(df: DataFrame, m: Int)(f: DataFrame => DataFrame): DataFrame =
    f(df.withColumn("__pq_sl", subSlice(col("qv"), m))
        .withColumn("__pq_nrm", vecDot(col("__pq_sl"), col("__pq_sl"))))
      .drop("__pq_sl", "__pq_nrm")

  /** Train all M codebooks on the quantized corpus `vecs`: Forgy seed
    * (each subspace seeds from the K smallest vec_ids' slices — ONE
    * collect), then per Lloyd's round ONE distributed job — the M
    * assignments ride the scan as codegen projections, `posexplode`
    * unrolls qv ONCE (pos encodes subspace m = pos/16 and dim
    * d = pos%16), and a single (pos, code)-keyed aggregation emits
    * every subspace's exact component sums and member counts
    * (M·K·SubDim = 1,024 groups, map-side partials — the shuffle
    * carries the codebook-sized aggregate, never the corpus). Codes
    * are 0-based POSITIONS in the seed-id order; empty codes keep
    * their previous centroid — PQ codes index a fixed-K list, so a
    * dead code must not shift its neighbors (unlike the IVF trainer,
    * where dead cells drop). Exact-integer (s, n) never-divide
    * representation throughout, same as [[Embeddings]]. */
  private[graft] def trainCodebooks(vecs: DataFrame,
                                    iters: Int = Embeddings.OracleIters,
                                    nCodes: Int = K): Seq[Seq[Centroid]] = {
    val seedRows = vecs.orderBy(col("vec_id")).limit(nCodes)
      .select(col("vec_id"), col("qv")).collect()
    val seeds: Seq[Seq[Centroid]] = (0 until M).map(m =>
      seedRows.map(r => Centroid(r.getLong(0),
          r.getSeq[Long](1).slice(m * SubDim, (m + 1) * SubDim).toIndexedSeq, 1L))
        .toSeq.sortBy(_.j))
    (1 to iters).foldLeft(seeds) { (books, _) =>
      val withCodes = (0 until M).foldLeft(vecs) { (df, m) =>
        withSlice(df, m)(d => d.withColumn(s"c$m", nearestSubCode(books(m))))
      }
      val agg = withCodes
        .select((0 until M).map(m => col(s"c$m")) :+
          posexplode(col("qv")).as(Seq("pos", "x")): _*)
        .withColumn("code", element_at(
          array((0 until M).map(m => col(s"c$m")): _*),
          (col("pos") / lit(SubDim)).cast("int") + 1))
        .groupBy(col("pos"), col("code"))
        .agg(sum(col("x")).as("sv"), count(lit(1)).as("n"))
        .collect()
      // (m, code) -> dim-ordered sums + member count
      val byMC = agg.groupBy(r => (r.getInt(0) / SubDim, r.getInt(1)))
      (0 until M).map { m =>
        books(m).indices.map { code =>
          byMC.get((m, code)) match {
            case None => books(m)(code) // empty code: keep previous
            case Some(rows) =>
              require(rows.length == SubDim,
                s"subspace $m code $code aggregated ${rows.length} dims (want $SubDim)")
              val ns = rows.map(_.getLong(3)).distinct
              require(ns.length == 1,
                s"subspace $m code $code has inconsistent member counts: $ns")
              val s = rows.sortBy(_.getInt(0)).map(_.getLong(2)).toIndexedSeq
              Centroid(books(m)(code).j, s, ns.head)
          }
        }
      }
    }
  }

  /** The PQ CODES relation (vec_id, c0..c3): the 64×-compressed
    * corpus representation. A scan-riding projection — M fused
    * argmin loops per row, O(1) plan size, all codegen, zero
    * shuffle. */
  private[graft] def encode(vecs: DataFrame, books: Seq[Seq[Centroid]],
                            keep: Seq[String] = Nil): DataFrame =
    (0 until M).foldLeft(vecs) { (df, m) =>
      withSlice(df, m)(d => d.withColumn(s"c$m", nearestSubCode(books(m))))
    }.select(col("vec_id") +: ((0 until M).map(m => col(s"c$m")) ++ keep.map(col)): _*)

  /** The ONE ranking tail of both ADC serves: `joined` carries
    * (q_id, vec_id, c0..c3, t0..t3) candidate rows from whatever
    * candidate generation ran upstream (q77's full-codes cross join,
    * q79's probed-cell equi-join); this applies the optional
    * self-filter, the exact-integer estimate sum of M lookups, and
    * the per-probe (est ASC, neighbor_id ASC) top-k. One definition —
    * the tie-break is a bit-exact contract with the q77/q79 oracles
    * and must never diverge between variants. */
  private def adcTail(joined: DataFrame, k: Int, excludeSelf: Boolean): DataFrame = {
    val est = (0 until M).map(m =>
      element_at(col(s"t$m"), col(s"c$m") + 1)).reduce(_ + _)
    val w = Window.partitionBy(col("q_id")).orderBy(col("est"), col("neighbor_id"))
    (if (excludeSelf) joined.filter(col("vec_id") =!= col("q_id")) else joined)
      .select((col("q_id") +: col("vec_id").as("neighbor_id") +:
        (0 until M).map(m => col(s"c$m"))) ++
        (0 until M).map(m => col(s"t$m")): _*)
      .withColumn("est", est)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("est"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The ADC serve: `codes` (vec_id, c0..c3 — the compressed corpus)
    * × broadcast probe batch (`probes` carries q_id + exact qv),
    * est = exact-integer sum of [[M]] table lookups, per-probe top-k
    * (est ASC, ties to the smaller neighbor_id). ONE definition shared
    * by q77 and the streaming serving seam ([[graft.stream.ServeLoop]],
    * StreamingPqServeSpec) so batch/stream agreement is an identity,
    * the q31 serveQueryBatch pattern.
    *
    * `excludeSelf`: pass true only when probe q_ids ARE corpus
    * vec_ids (the q77 situation) — an external query whose id happens
    * to collide with a corpus id must still see that vector. */
  def adcServe(codes: DataFrame, books: Seq[Seq[Centroid]], probes: DataFrame,
               k: Int = 5, excludeSelf: Boolean = false): DataFrame = {
    // probe side: exact query vectors -> M lookup arrays of K
    // quantized subdistances each (the ADC table, one row per probe)
    val pt = (0 until M).foldLeft(probes) { (df, m) =>
        withSlice(df, m)(d => d.withColumn(s"t$m", quantizedSubDist(books(m))))
      }
      .select(col("q_id") +: (0 until M).map(m => col(s"t$m")): _*)
    adcTail(codes.crossJoin(broadcast(pt)), k, excludeSelf)
  }

  /** q77 — PQ ADC top-k: for every probe (vec_id % queryMod = 0), the
    * k nearest corpus vectors BY THE PQ DISTANCE ESTIMATE (est ASC —
    * smaller is nearer; ties to the smaller neighbor_id; the probe
    * itself excluded). `est` is the exact-integer sum of 4 quantized
    * table lookups, so the ranking is bit-stable across engines and
    * partitionings. Recall vs the exact ranking is measured in
    * PqSpec against q45's brute-force baseline. */
  def pqTopK(spark: SparkSession, dir: String,
             k: Int = 5, queryMod: Int = 50,
             iters: Int = Embeddings.OracleIters,
             nCodes: Int = K): DataFrame =
    pqTopKOn(Caches.persist(Embeddings.quantized(spark, dir)),
      k, queryMod, iters, nCodes)

  /** [[pqTopK]] over an EXPLICIT (vec_id, qv) relation — the seam
    * that lets q91 run the identical train→encode→ADC-serve pipeline
    * over the PERMUTED corpus: train, encode, probe (`vec_id %
    * queryMod` under the cap), serve, all against `vecs`. */
  private[graft] def pqTopKOn(vecs: DataFrame,
                              k: Int = 5, queryMod: Int = 50,
                              iters: Int = Embeddings.OracleIters,
                              nCodes: Int = K): DataFrame = {
    val books = trainCodebooks(vecs, iters, nCodes)
    // Production-K encode fan-out (round 16, guide §2.5): the serve's
    // encode rides the codes scan, and per-row cost is M fused argmin
    // loops ∝ nCodes — at the kFor-derived K = 128-256 (q80) that
    // stage measured 1.2 s on ONE task over the single-split layout
    // (Probe's stage table, st2142). Fan the encode input out only past the
    // pinned K (q77/q83/q91 stay byte-identical — their encode is
    // 8-16× cheaper and the extra exchange was the measured r15 loss
    // on small serves); size-aware width, no-op on ≥ cores splits.
    val codes = encode(if (nCodes > K) Tables.fanOut(vecs) else vecs, books)
    adcServe(codes, books, cappedProbes(vecs, queryMod), k, excludeSelf = true)
  }

  /** q91 — VARIANCE-BALANCED SUBSPACE ASSIGNMENT (the OPQ idea in
    * its exact-integer form): plain PQ splits dims CONTIGUOUSLY into
    * M subspaces, so when variance concentrates in a few dims one
    * codebook models most of the signal and the others model noise —
    * the imbalance OPQ (Ge et al. 2013, "Optimized Product
    * Quantization") fixes with a learned rotation. A full rotation
    * is a dense float matrix (not exactly replayable); the
    * exact-integer transform that captures the dominant effect is a
    * data-learned PERMUTATION — an orthogonal transform too — that
    * BALANCES per-dim variance across subspaces: rank dims by
    * corpus variance (exact integer: n·Σx² − (Σx)², no division) and
    * DEAL them round-robin, rank r → subspace r mod M, position
    * r div M — each subspace receives an equal share of the
    * high-variance dims (the eigenvalue-allocation intuition of OPQ
    * §4, applied to coordinates instead of eigenvectors).
    *
    * A permutation is an isometry, so EXACT distances are untouched
    * (PqSpec property-pins it) — only the ADC estimate changes,
    * through the subspace composition the codebooks train on. The
    * recall effect is measured on both corpus geometries in PqSpec /
    * GeometryRecall: near-zero on the near-isotropic synthetic table
    * (per-dim variances are ~equal — nothing to balance), positive
    * where variance concentrates (the clustered fixture).
    *
    * Everything downstream is [[pqTopKOn]] verbatim — training,
    * encoding, the ADC serve all run over the permuted relation, and
    * the q91 oracle replays ranking + permutation + the q77 chain
    * over the permuted source CTE.
    *
    * Plan shape at 100 TB: the statistics pass is ONE 64-group
    * aggregate (posexplode → groupBy pos, map-side partials — the
    * gridBounds shape; the shuffle carries 64 rows); the permutation
    * itself is a scan-riding projection of 64 `element_at`s (fixed
    * by Dim, not by corpus); everything else is exactly q77's plan. */
  def pqTopKBalanced(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Caches.persist(Embeddings.quantized(spark, dir))
    val perm = balancedPerm(vecs)
    pqTopKOn(Caches.persist(vecs.select(col("vec_id"), permuteCol(perm).as("qv"))))
  }

  /** The learned permutation: slot → source dim (0-based). Per-dim
    * moments come off ONE distributed 64-group aggregate; the
    * variance comparison n·Σx² − (Σx)² is done driver-side in BigInt
    * (overflow-free at any corpus size — the Long sums themselves
    * are safe to ~10¹² rows on the ×1000 grid). Ties rank by the
    * smaller dim, so the permutation is deterministic and the q91
    * oracle replays it with the same (variance DESC, d ASC) window. */
  private[graft] def balancedPerm(vecs: DataFrame): IndexedSeq[Int] = {
    val rows = vecs
      .select(posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"))
      .collect()
    require(rows.length == Embeddings.Dim,
      s"variance pass aggregated ${rows.length} dims (want ${Embeddings.Dim})")
    val ranked = rows
      .map(r => (r.getAs[Int]("pos"),
        BigInt(r.getAs[Long]("n")) * BigInt(r.getAs[Long]("s2")) -
          BigInt(r.getAs[Long]("s1")).pow(2)))
      .sortWith { case ((d1, v1), (d2, v2)) => v1 > v2 || (v1 == v2 && d1 < d2) }
    val perm = new Array[Int](Embeddings.Dim)
    ranked.zipWithIndex.foreach { case ((d, _), r) =>
      perm((r % M) * SubDim + r / M) = d
    }
    perm.toIndexedSeq
  }

  /** The permutation as a scan-riding projection: 64 `element_at`s
    * over the qv array — fixed plan size, codegen, zero shuffle. */
  private[graft] def permuteCol(perm: Seq[Int]): Column = {
    require(perm.sorted == perm.indices, "not a permutation of the dims")
    expr(perm.map(d => s"element_at(qv, ${d + 1})")
      .mkString("array(", ",", ")"))
  }

  /** q80 — [[pqTopK]] with the CODEBOOK SIZE derived from the corpus
    * ([[kFor]]) — the production sizing rule of the PQ family,
    * oracle-gated the way q70 gates `cellsFor` and q34 gates
    * `planesFor` (non-vacuous at the oracle SF: 500 vectors derive
    * K = 32 ≠ the pinned 16). Practical only because the codebook
    * expressions are fused reference-data forms — at the K = 256 this
    * rule reaches by sf1, the r9 literal form would be 1,024 plan
    * subtrees. */
  def pqTopKScaled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    pqTopK(spark, dir, nCodes = kFor(n))
  }

  /** Refine-candidates-per-k floor for [[rFor]]: the budget doubles
    * with the corpus while ≥ this many corpus vectors back each
    * candidate slot — small enough that the rule is NON-VACUOUS at
    * the oracle SF (500 vectors derive r = 64 ≠ the pinned
    * [[RefineR]] = 20, the kFor/cellsFor pattern), large enough that
    * r stays ≪ n (the refine join must remain candidate-sized). */
  val RefinePerCand = 4

  /** Refine-budget ceiling: r = 128 — the r ≥ 100 regime the
    * clustered-geometry campaign (bench/SCALING_r11.md) measured as
    * the recall remedy for PQ-class compression on realistic corpora;
    * any corpus past RefinePerCand·128 = 512 vectors serves there. */
  val RMax = 128

  /** Refine-budget-vs-N rule — [[kFor]]'s counterpart for the
    * two-stage serves (VERDICT r11 #1): r = max{2^p : p ∈ [5, 7],
    * RefinePerCand·2^p ≤ n}, FLOORED at [[RefineR]] — exact-integer
    * (shift-compares only, no log2 doubles), replayed verbatim by the
    * q98 oracle's scalar subquery. Doubles with the corpus until the
    * [[RMax]] production ceiling: at the oracle SF (n = 500) it
    * derives 64; any production corpus (n ≥ 512) derives 128, the
    * measured clustered-geometry remedy regime. The floor keeps the
    * sizing-rule dominance honest on tiny corpora too: below
    * RefinePerCand·32 = 128 vectors the rule yields exactly the
    * pinned q83 budget, never LESS (review r12 — the raw 2^4 = 16
    * fallback undercut the q98 ≥ q83 invariant on n < 128). */
  def rFor(n: Long): Int = {
    require(n > 0, "need a positive corpus size")
    var p = 4
    while (p < 7 && (RefinePerCand.toLong << (p + 1)) <= n) p += 1
    math.max(RefineR, 1 << p)
  }

  /** q98 — [[pqRefineTopK]] at PRODUCTION SIZING: codebooks sized by
    * [[kFor]] AND the refine budget sized by [[rFor]] — the gated
    * composition of the clustered-geometry campaign's remedy
    * (SCALING_r11.md: PQ-class serves collapse on clustered corpora
    * at the pinned K = 16 / r = 20; kFor-K codebooks + refine at
    * r ≥ 100 restore recall). Oracle-parametric on BOTH dials (the
    * q70/q34/q80 pattern): the DuckDB twin derives the same K and the
    * same r from `count(*)` with the same integer rules, so the gate
    * is non-vacuous at the oracle SF (K = 32 ≠ 16, r = 64 ≠ 20).
    * The clustered-recall consequence at this sizing is measured by
    * [[graft.tools.GeometryRecall]] (refine_scaled_q98). */
  def pqRefineScaled(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    pqRefineTopK(spark, dir, r = rFor(n), nCodes = kFor(n))
  }

  /** q83 — ADC + EXACT RE-RANK (the standard two-stage production
    * serve, FAISS's refine/`IndexRefineFlat` shape): PQ's 64×
    * compression costs recall (the measured q77 recall@5 floor), and
    * the way a deployment buys it back WITHOUT giving up the
    * compressed scan is a refine stage — stage 1 generates `r` ≫ k
    * candidates per probe by the ADC estimate (the q77 serve,
    * touching only the 64×-compressed codes), stage 2 re-scores ONLY
    * those candidates against the raw vectors with the exact integer
    * distance and re-ranks to the top-k. Both stages are
    * exact-integer, so the composition replays in DuckDB (the q83
    * oracle) and the recall-vs-r trade is measured in PqSpec against
    * the q45 exact ranking.
    *
    * Plan shape at 100 TB: stage 1 is the q77 shape (probe batch
    * broadcasts onto the codes scan — the scan is the 64×-compressed
    * relation, the only full pass); stage 2 is CANDIDATE-SIZED — the
    * nProbes·r candidate ids broadcast into an equi-join against the
    * raw-vector scan (PlanAuditSpec pins that no second all-pairs
    * join appears), so its cost is one pruned pass over raw vectors +
    * nProbes·r exact distances, independent of corpus × probe
    * cross size. */
  def pqRefineTopK(spark: SparkSession, dir: String,
                   k: Int = 5, r: Int = RefineR, nCodes: Int = K): DataFrame = {
    val vecs = Caches.persist(Embeddings.quantized(spark, dir))
    val books = trainCodebooks(vecs, nCodes = nCodes)
    // same production-K encode fan-out as pqTopKOn (q98's stage-1 ADC
    // serve at kFor-K measured 1.25 s single-task — Probe's stage table,
    // st2329); the pinned-K q83 path is untouched
    val codes = encode(if (nCodes > K) Tables.fanOut(vecs) else vecs, books)
    refineServe(codes, books, vecs, cappedProbes(vecs, 50), k, r, excludeSelf = true)
  }

  /** Default refine candidate budget (stage-1 r): 4·k at the pinned
    * k = 5 — small enough that the refine join is obviously
    * candidate-sized, large enough to lift recall measurably (the
    * PqSpec table measures r ∈ {20, 50, 100}). */
  val RefineR = 20

  /** The two-stage serve behind [[pqRefineTopK]]: `raw` carries the
    * exact (vec_id, qv) relation the candidates re-score against —
    * the SAME relation the codes were encoded from. ONE definition so
    * a streaming deployment serves bit-identically to the batch q83.
    *
    * Refine-stage semantics: est = Σ(q_d − v_d)² over the exact
    * integer grid (q45's distance), ties (est ASC, neighbor_id ASC).
    * A candidate list shorter than k (tiny corpus) yields fewer than
    * k rows — the refine never invents candidates stage 1 didn't
    * produce. */
  def refineServe(codes: DataFrame, books: Seq[Seq[Centroid]], raw: DataFrame,
                  probes: DataFrame, k: Int = 5, r: Int = RefineR,
                  excludeSelf: Boolean = false): DataFrame = {
    require(r >= k, s"refine candidate budget r=$r must cover k=$k")
    val cands = adcServe(codes, books, probes, r, excludeSelf)
      .select(col("q_id"), col("neighbor_id"))
    val qs = probes
      .select(col("q_id"), col("qv").as("q_v"))
      .withColumn("q_n", vecDot(col("q_v"), col("q_v")))
    val nb = raw.select(col("vec_id").as("neighbor_id"), col("qv").as("n_v"),
      vecDot(col("qv"), col("qv")).as("n_n"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("est"), col("neighbor_id"))
    // candidate ids broadcast INTO the raw scan (candidate-sized
    // equi-join — the full corpus is never crossed with the probes
    // again), then the probe batch broadcasts onto the result
    nb.join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(qs), Seq("q_id"))
      .withColumn("est", col("q_n") - lit(2L) * vecDot(col("q_v"), col("n_v")) + col("n_n"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("est"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Persist the trained codebooks as a parquet artifact — rows
    * (m, j, s, n); the PQ counterpart of
    * [[Embeddings.saveQuantizer]]: a deployment trains once
    * ([[trainCodebooks]]) and every serving job loads the
    * exact-integer artifact instead of re-paying the training scans.
    * M·K rows — broadcast-sized by construction. */
  def saveCodebooks(spark: SparkSession, books: Seq[Seq[Centroid]], path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex
      .flatMap { case (b, m) => b.map(c => (m, c.j, c.s, c.n)) }
      .toDF("m", "j", "s", "n")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveCodebooks]] artifact: M books, each sorted by seed
    * id j — the CODE ORDER serving depends on. */
  def loadCodebooks(spark: SparkSession, path: String): Seq[Seq[Centroid]] = {
    val rows = spark.read.parquet(path).collect()
      .map(r => (r.getAs[Int]("m"),
        Centroid(r.getAs[Long]("j"), r.getAs[collection.Seq[Long]]("s").toSeq,
          r.getAs[Long]("n"))))
    require(rows.map(_._1).toSet == (0 until M).toSet,
      s"codebook artifact at $path does not cover subspaces 0 until $M")
    (0 until M).map(m => rows.collect { case (`m`, c) => c }.sortBy(_.j).toSeq)
  }

  /** Quantize an external query batch (q_id, embedding: array<float>)
    * onto the corpus grid — same floor(x·10³) contract as
    * [[Embeddings.quantized]], so an external query and a corpus
    * vector with equal embeddings get equal ADC tables. */
  def quantizeQueries(queries: DataFrame): DataFrame =
    queries.select(col("q_id"),
      transform(col("embedding"), x => floor(x.cast("double") * 1000)).as("qv"))

  /** The serving-path codes relation for a corpus dir (built from a
    * loaded artifact; persisted by the caller if reused). */
  def buildCodes(spark: SparkSession, dir: String, books: Seq[Seq[Centroid]]): DataFrame =
    encode(Embeddings.quantized(spark, dir), books)

  /** q79 — IVFADC: the production composition of the ANN family
    * (IVF routing + PQ residual codes — the FAISS `IVFx,PQy` shape).
    * Plain PQ (q77) must scan every code per probe; IVFADC first
    * routes the corpus into the trained IVF cells, PQ-encodes each
    * vector's RESIDUAL from its cell's integer mean grid, and serves
    * by probing only each query's `nprobe` nearest cells — the
    * candidate join becomes a cell EQUI-join (the q31 serving shape),
    * touching nprobe/nCells of the codes instead of all of them,
    * while the codes stay 64×-compressed.
    *
    * Exact-replayable construction (the q79 oracle replays it all):
    *  - coarse quantizer: [[Embeddings.trainQuantizer]]'s pinned
    *    trajectory (Forgy seed, 2 exact-integer Lloyd's rounds);
    *  - residual: qv − meanGrid(cell) — the [[Embeddings.meanGrid]]
    *    pinned single-division rounding, so residuals are exact
    *    integers;
    *  - ONE shared PQ codebook set trained on the residual relation
    *    (FAISS's default: codebooks shared across cells, trained on
    *    residuals) via the same [[trainCodebooks]] trajectory;
    *  - serve: probe cells ranked by the fused
    *    [[graft.ops.Embeddings.probeCellsCol]] (dist ASC, id ASC);
    *    per (probe, probed cell) one ADC table over the probe's
    *    residual AGAINST THAT CELL; estimate = exact-integer sum of M
    *    lookups; ties (est ASC, neighbor_id ASC); self excluded.
    *
    * Plan shape at 100 TB: the probe side (nprobe rows per query,
    * each carrying M lookup arrays) broadcasts into a cell equi-join
    * against the codes scan — no BNLJ, no corpus shuffle; per-row
    * serve work is M lookups + adds. Build cost is the q31 training
    * passes + one residual projection + the q77 one-job-per-round
    * codebook training. */
  def ivfPqTopK(spark: SparkSession, dir: String,
                k: Int = 5, queryMod: Int = 50, nprobe: Int = 2): DataFrame = {
    val vecs = Caches.persist(Embeddings.quantized(spark, dir))
    val cents = Embeddings.trainQuantizer(spark, dir).sortBy(_.j)
    // ONE cached residual relation feeds both codebook training and
    // encoding (review r9: trainIvfPq + ivfPqCodes each persisted
    // their own copy, re-running the full-corpus assignment pass)
    val residuals = Caches.persist(residualsOf(spark, dir, cents))
    val books = trainCodebooks(residuals)
    val codes = encode(residuals, books, keep = Seq("cell"))
    ivfPqServe(codes, cents, books, cappedProbes(vecs, queryMod), k, nprobe, excludeSelf = true)
  }

  /** The q79 BUILD stage alone: the coarse quantizer's pinned
    * trajectory plus the shared residual codebooks — the pair a
    * deployment persists ([[Embeddings.saveQuantizer]] +
    * [[saveCodebooks]]) so serving jobs never re-pay the training
    * scans (a [[graft.stream.ServeLoop]] over [[ivfPqServe]] loads the
    * pair). */
  def trainIvfPq(spark: SparkSession, dir: String): (Seq[Centroid], Seq[Seq[Centroid]]) = {
    val cents = Embeddings.trainQuantizer(spark, dir).sortBy(_.j)
    val books = trainCodebooks(Caches.persist(residualsOf(spark, dir, cents)))
    (cents, books)
  }

  /** Each cell's integer mean grid as a broadcastable relation. */
  private[graft] def gridDfOf(spark: SparkSession, cents: Seq[Centroid]): DataFrame = {
    import spark.implicits._
    cents.map(c => (c.j, Embeddings.meanGrid(c.s, c.n))).toDF("cell", "grid")
  }

  /** (vec_id, cell, qv = exact integer residual from the home cell's
    * mean grid) — the relation the shared codebooks train and encode
    * over. Home cell via the ONE index definition
    * ([[Embeddings.serveIndex]]). */
  private[ops] def residualsOf(spark: SparkSession, dir: String,
                          cents: Seq[Centroid]): DataFrame =
    residualsOfIndex(Embeddings.serveIndex(spark, dir, cents), cents)

  /** [[residualsOf]] over an already-assigned index relation
    * ([[Embeddings.serveIndex]] / [[Embeddings.indexBatch]] output) —
    * the batch-level core the rolling-ingest encoder rides, so a
    * delta batch's residuals derive through the SAME mean-grid join
    * as the full corpus's. */
  private[ops] def residualsOfIndex(index: DataFrame, cents: Seq[Centroid]): DataFrame =
    index
      .select(col("neighbor_id").as("vec_id"), col("c_v").as("qv"), col("cell"))
      .join(broadcast(gridDfOf(index.sparkSession, cents)), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("qv"), col("grid"), (a, b) => a - b).as("qv"))

  /** The IVFADC index relation (vec_id, cell, c0..c3): home cell +
    * residual PQ codes — the 64×-compressed, routable corpus
    * representation a serving deployment persists (partitioned by
    * cell at scale, so probed cells prune at listing time). The
    * residual relation is NOT cached here: this builder scans it
    * exactly once — callers cache the CODES they build (review r11);
    * the training paths own their residual cache where codebook
    * training really makes multiple passes. */
  def ivfPqCodes(spark: SparkSession, dir: String,
                 cents: Seq[Centroid], books: Seq[Seq[Centroid]]): DataFrame =
    encode(residualsOf(spark, dir, cents), books, keep = Seq("cell"))

  /** The distributed per-probe probed-cell relation (q_id, qv, nrm,
    * cell — one row per probed cell): the reference form of the
    * driver-side [[Sq.probeRows]] ranking every routed serve uses
    * (SqProbeProperties pins the two equal), and what StorageSpec
    * derives the to-be-pruned set from. */
  private[graft] def probeCellsRelation(queries: DataFrame, cents: Seq[Centroid],
                                        nprobe: Int): DataFrame = {
    queries
      .withColumn("nrm", vecDot(col("qv"), col("qv")))
      .select(col("q_id"), col("qv"), col("nrm"),
        explode(Embeddings.probeCellsCol(cents.sortBy(_.j), nprobe)).as("cell"))
  }

  /** The q79 SERVE stage: probe each query's `nprobe` nearest cells
    * (the [[graft.functions.ProbeCells]] ranking, on the driver
    * through [[Sq.probeRows]], which also yields the probe's residual
    * AGAINST THAT CELL), build one ADC table per (probe, probed cell)
    * over that residual, and resolve the estimate sum through the
    * cell EQUI-join against `codes`. `queries` carries (q_id, qv) on
    * the corpus integer grid (external embeddings go through
    * [[quantizeQueries]] first). ONE definition shared by the batch
    * q79 and the streaming seam, so their agreement is an identity. */
  def ivfPqServe(codes: DataFrame, cents: Seq[Centroid], books: Seq[Seq[Centroid]],
                 queries: DataFrame, k: Int = 5, nprobe: Int = 2,
                 excludeSelf: Boolean = false): DataFrame =
    ivfPqServeFrom(codes, books, Sq.probeRows(queries, cents.sortBy(_.j), nprobe), k, excludeSelf)

  /** [[ivfPqServe]] from already-ranked [[Sq.probeRows]]: the q85
    * refine composition runs the routed ADC stage AND a probe-residual
    * refine stage off the same probe ranking, so it pays the ranking
    * once. */
  private[graft] def ivfPqServeFrom(codes: DataFrame, books: Seq[Seq[Centroid]],
                                    probeRows: Array[org.apache.spark.sql.Row],
                                    k: Int, excludeSelf: Boolean): DataFrame = {
    // The probed-cell set rides the codes scan as a STATIC filter: on
    // the partitioned-by-cell production layout the probed cells
    // prune at LISTING time through the serve path itself
    // (StorageSpec proves it end-to-end), not only when DPP happens
    // to fire — VERDICT r9 #2. Semantically a no-op: the cell
    // equi-join below keeps exactly these cells' rows anyway.
    val probedCells = probeRows.map(_.getAs[Long]("cell")).distinct.toSeq
    val ptabs = (0 until M).foldLeft(
      Sq.probeSide(codes.sparkSession, probeRows)
        .select(col("q_id"), col("cell"), col("q_v").as("qv"))) { (df, m) =>
        withSlice(df, m)(d => d.withColumn(s"t$m", quantizedSubDist(books(m))))
      }
      .select(col("q_id") +: col("cell") +: (0 until M).map(m => col(s"t$m")): _*)
    adcTail(codes.filter(col("cell").isin(probedCells: _*))
      .join(broadcast(ptabs), Seq("cell")), k, excludeSelf)
  }

  /** q78 — kNN label classification over the PQ index: each probe
    * votes its k PQ-nearest neighbors' labels (majority; ties to the
    * smallest label), and the per-TRUE-label confusion rolls up to
    * (label, n_queries, n_correct) — "similarity search put to work",
    * the standard embedding-quality probe a curation pipeline runs
    * after every re-embedding. Plan: q77's serve + two label joins
    * against the (tiny, broadcast) probe/neighbor id→label map + a
    * labels-sized aggregation. */
  def knnClassify(spark: SparkSession, dir: String,
                  k: Int = 5, queryMod: Int = 50): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val topk = pqTopK(spark, dir, k, queryMod)
    val votes = topk
      .join(labels.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "n_label"), "neighbor_id")
      .groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("n_label"))
    val pred = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("n_label").as("pred"))
    pred
      .join(labels.withColumnRenamed("vec_id", "q_id"), "q_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .orderBy(col("label"))
  }
}
