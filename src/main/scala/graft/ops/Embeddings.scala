package graft.ops

import scala.collection.immutable.HashSet

import org.apache.spark.sql.{Column, DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{nearestCells, probeCells, vecDot}

/** Similarity search over the `embeddings` table (north-star extension;
  * the reference has no vector surface — BASELINE.json lists this as a
  * required LLM-pipeline capability).
  *
  * Design for 100 TB:
  *  - NO all-pairs anywhere: candidate generation is an equi-join on a
  *    random-hyperplane LSH bucket, so cost is collision-proportional
  *    (sum over buckets of |queries_b| × |candidates_b|), exactly the
  *    q20/q21 shape. More planes → smaller buckets as N grows.
  *  - the query side is broadcast (top-k retrieval serves a small query
  *    set against a huge corpus); the corpus side never shuffles — the
  *    scan streams through the broadcast hash join.
  *  - exact arithmetic for the oracle gate: embeddings are quantized to
  *    integers (`floor(x·1000)`), so dot products and norms are exact
  *    BIGINTs in both engines and the final cosine is one identical
  *    IEEE double expression on each side. At production scale you'd
  *    drop the quantization and take float dot products (same plan).
  *  - hyperplanes are Rademacher ±1 vectors derived from pinned md5
  *    seeds (same trick as [[LlmOps]] MinHash): component (s,d) is the
  *    low bit of md5("s:d"), so DuckDB reproduces the planes bit-for-
  *    bit without sharing code. They are inlined as plan literals —
  *    constant-folded, no join against a plane table on the Spark side.
  */
object Embeddings {

  val Dim = 64

  /** Default hyperplane count — pinned at 4 (16 buckets) because the
    * q27/q29 DuckDB oracles enumerate seeds 0..3; production callers
    * size it with [[planesFor]] instead. */
  val Planes = 4

  /** Oracle-pinned configuration of the vector-dedup/quantizer family:
    * the q29/q33/q68 cosine threshold and the q31/q68 IVF
    * training shape. These are the DEFAULT parameter values below AND
    * the values interpolated into the DuckDB replay SQL
    * ([[graft.SparkEntry]] `VecCosineGE`/`IvfCtes`) — one definition,
    * so an edit here fails the oracle rather than silently diverging.
    * Library callers may pass non-defaults; only the registry entries
    * (which take the defaults) are oracle-certified. `OracleIters` is
    * structurally unrolled in the replay SQL (two Lloyd's rounds) and
    * pinned by a require at the SQL definition site. */
  val OracleThreshold: Double = 0.35
  val OracleCells: Int = 10
  val OracleIters: Int = 2

  /** q70's pinned target cell population: small enough that the
    * [[cellsFor]] derivation is NON-VACUOUS at the oracle SF (500
    * vectors → 16 cells ≠ the pinned 10), so the sizing rule itself is
    * oracle-gated the way q34 gates [[planesFor]]. Production uses
    * [[cellsFor]]'s 2048 default. */
  val OracleTargetCell: Int = 32

  /** Planes-vs-N rule: with `p` planes the corpus splits into 2^p
    * buckets, so the bucketed self-join costs Σ_b |b|² ≈ N²/2^p for
    * near-uniform buckets. Holding the EXPECTED BUCKET POPULATION
    * N/2^p at `targetBucket` keeps that cost ≈ N·targetBucket — linear
    * in the corpus — so the operator survives any scale-up by growing
    * planes logarithmically: p = ceil(log2(N / targetBucket)).
    * (Recall per bucket drops as planes grow; production near-dup
    * compensates with multiple bands of such sketches, the q21
    * banding pattern.) */
  def planesFor(n: Long, targetBucket: Int = 1024): Int = {
    require(n > 0 && targetBucket > 0, "need positive corpus and bucket sizes")
    // exact-integer form of ceil(log2(n / targetBucket)): the smallest p
    // with targetBucket·2^p ≥ n. The ratio-of-logs double form is off by
    // one at exact power-of-2 boundaries (1-ulp rounding), which would
    // silently diverge from the q34 oracle's integer computation.
    var p = 0
    while (p < 62 && (targetBucket.toLong << p) < n) p += 1
    math.max(1, p)
  }

  /** Cells-vs-N rule for the IVF family ([[ivfTopK]]/[[semanticDedup]])
    * — [[planesFor]]'s counterpart for LEARNED partitions: holding the
    * expected CELL POPULATION n/nCells at `targetCell` keeps
    * [[semanticDedup]]'s within-cell pairing cost ≈ n·targetCell —
    * linear in the corpus — and every cell far under the
    * [[MaxCellMembers]] exact-arithmetic bound. This is SemDeDup's own
    * scaling argument (cluster count grows with the corpus) as an
    * exact-integer rule: ceil(n / targetCell), floored at
    * [[OracleCells]] so small corpora keep the oracle shape. Measured
    * (bench/SCALING_r07.md): at sf10 (200k vectors) the pinned
    * 10-cell config costs 90.4 s and `cellsFor`-scale cells (100)
    * cost 20.0 s — the dial that restores the linear trend.
    *
    * Design bound: assignment is the zero-shuffle
    * [[nearestCell]] form over a REFERENCE-DATA centroid table
    * ([[graft.functions.NearestCells]] — O(1) plan size at any cell
    * count; the earlier per-centroid plan literals paid ~30 s of
    * plan/codegen overhead at 625 cells and capped the form at
    * O(10²-10³) cells). The remaining per-row cost is nCells fused
    * distance loops; past O(10³) cells route through
    * [[nearestCellTwoLevel]] / [[assignCells]] — the coarse-over-
    * coarse two-level IVF: ~2·√nCells distance evals per row — or
    * shard the corpus per quantizer (the ScaleUp federation shape). */
  def cellsFor(n: Long, targetCell: Int = 2048): Int = {
    require(n > 0 && targetCell > 0, "need positive corpus and cell sizes")
    math.max(OracleCells.toLong, (n + targetCell - 1) / targetCell).toInt
  }

  /** Rademacher component r(s, d) ∈ {+1, -1}: low bit of the 60-bit
    * prefix of md5("s:d") — the Scala twin of the oracle's
    * `CAST(('0x' || substr(md5(s || ':' || d), 1, 15)) AS BIGINT) & 1`. */
  private[graft] def rademacher(s: Int, d: Int): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$s:$d".getBytes("UTF-8"))
    val hex = digest.map("%02x".format(_)).mkString.take(15)
    if ((java.lang.Long.parseLong(hex, 16) & 1L) == 1L) 1L else -1L
  }

  /** Integer-quantized view of the embeddings: qv = floor(x·1000) per
    * component (exact in both engines: float→double widen, one double
    * multiply, floor), plus the exact squared norm. Keeps `label` as
    * a sanity surface (the IVF quantizer is trained, not label-read).
    * `private[graft]`: [[Pq]] (and the graft-package specs) start
    * from the same quantized view so the PQ codes and the IVF cells
    * share one integer-grid contract. */
  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => floor(x.cast("double") * 1000)).as("qv"))
      .withColumn("nrm", vecDot(col("qv"), col("qv")))

  /** LSH bucket from `planes` hyperplanes starting at seed
    * `seedOffset`: bit s of the code = sign of the projection onto
    * hyperplane seedOffset+s. Plan literal arrays keep this in
    * codegen; distinct offsets give INDEPENDENT sketches (the
    * multi-band trick). */
  private def bucketColSeeded(planes: Int, seedOffset: Int): Column =
    (0 until planes).map { s =>
      val plane = array((0 until Dim).map(d => lit(rademacher(seedOffset + s, d))): _*)
      val proj = vecDot(col("qv"), plane)
      when(proj >= 0, lit(1L << s)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def bucketCol(planes: Int): Column = bucketColSeeded(planes, 0)

  /** Bucket assignment surface (vec_id, bucket) — the candidate-
    * generation key of [[annTopK]]/[[cosineNearDupPairs]], exposed so
    * callers (and EmbeddingsSpec) can audit bucket populations when
    * sizing `planes` with [[planesFor]]. */
  def lshBuckets(spark: SparkSession, dir: String, planes: Int = Planes): DataFrame =
    quantized(spark, dir).select(col("vec_id"), bucketCol(planes).as("bucket"))

  /** q29 — embedding-cosine near-dup pairs (the vector member of the
    * dedup family): all pairs sharing an LSH bucket whose exact
    * quantized cosine clears `threshold`. Same collision-proportional
    * self-join shape as q20/q21 — true near-dups have cosine ≈ 1, so
    * all four sketch bits agree with high probability and land them in
    * one bucket; the threshold then keeps only real duplicates.
    * (Production near-dup uses ~0.9; the default is calibrated to the
    * driver's random-vector testdata, where the strongest same-bucket
    * pairs sit near 0.48 — the operator is threshold-parametric.)
    * Size `planes` with [[planesFor]] at scale, and raise `bands` to
    * buy recall back: each band is an INDEPENDENT `planes`-bit sketch
    * (disjoint hyperplane seeds, the q21 banding pattern) — a true
    * near-dup pair only needs to collide in ONE of them, so missing
    * probability decays exponentially in `bands` while cost grows
    * linearly. The default (4, 1) is the oracle-pinned test
    * configuration, not the 100 TB one. */
  def cosineNearDupPairs(spark: SparkSession, dir: String,
                         threshold: Double = OracleThreshold,
                         planes: Int = Planes, bands: Int = 1): DataFrame =
    cosineNearDupPairsRaw(spark, dir, threshold, planes, bands)
      .orderBy(col("d1"), col("d2"))

  /** [[cosineNearDupPairs]] without the presentation sort — the edge
    * stream for [[nearDupClusters]]. */
  private def cosineNearDupPairsRaw(spark: SparkSession, dir: String,
                                    threshold: Double, planes: Int,
                                    bands: Int): DataFrame = {
    require(bands >= 1, "need at least one band")
    if (bands == 1) {
      // single band: score inside the bucket join, one pass
      val vecs = Caches.persist(quantized(spark, dir).withColumn("bucket", bucketCol(planes)))
      // probe-side fan-out: the within-bucket pair
      // expansion + scoring otherwise runs on the single cached
      // partition — the q20-family finding applied to the vector
      // modality; cache layout untouched, no-op on ≥ cores splits
      val a = Tables.fanOutBy(vecs, col("vec_id"))
        .select(col("vec_id").as("d1"), col("qv").as("v1"),
          col("nrm").as("n1"), col("bucket"))
      val b = vecs.select(col("vec_id").as("d2"), col("qv").as("v2"),
        col("nrm").as("n2"), col("bucket"))
      scorePairs(a.join(b, Seq("bucket")).filter(col("d1") < col("d2")), threshold)
    } else {
      // q21 shape: per-band candidate generation, distinct pair set,
      // ONE exact scoring pass over the union
      val vecs = Caches.persist(quantized(spark, dir))
      val cand = (0 until bands).map { band =>
        val bv = vecs.withColumn("bucket", bucketColSeeded(planes, band * planes))
        bv.select(col("vec_id").as("d1"), col("bucket"))
          .join(bv.select(col("vec_id").as("d2"), col("bucket")), Seq("bucket"))
          .filter(col("d1") < col("d2"))
          .select(col("d1"), col("d2"))
      }.reduce(_ union _).distinct()
      scorePairs(cand
        .join(vecs.select(col("vec_id").as("d1"), col("qv").as("v1"), col("nrm").as("n1")), Seq("d1"))
        .join(vecs.select(col("vec_id").as("d2"), col("qv").as("v2"), col("nrm").as("n2")), Seq("d2")),
        threshold)
    }
  }

  /** Exact quantized scoring of a candidate pair stream carrying
    * (d1, v1, n1, d2, v2, n2): dot, cosine, threshold. */
  private def scorePairs(cand: DataFrame, threshold: Double): DataFrame =
    cand
      .withColumn("dot", vecDot(col("v1"), col("v2")))
      .withColumn("cosine",
        col("dot").cast("double") / sqrt(col("n1").cast("double") * col("n2").cast("double")))
      .filter(col("cosine") >= threshold)
      .select(col("d1"), col("d2"), col("dot"), col("cosine"))

  /** q33 — group resolution for the VECTOR modality: q29's cosine
    * near-dup pairs → connected components ([[LlmOps
    * .connectedComponents]], min-label propagation) → min-vec_id
    * survivor per cluster, emitted as a full-table drop-list
    * (vec_id, cluster_id, keep) — literally the same last step as the
    * text-side q32 ([[LlmOps.dropList]]), so a pipeline resolves text
    * and embedding duplicates with one code path; the embeddings side
    * reads only vec_id. `checkpointDir` = the cluster-durable fixpoint
    * knob ([[LlmOps.connectedComponents]]). */
  def nearDupClusters(spark: SparkSession, dir: String,
                      checkpointDir: Option[String] = None): DataFrame =
    LlmOps.dropList(
      Tables.embeddings(spark, dir).select(col("vec_id")),
      LlmOps.connectedComponents(
        cosineNearDupPairsRaw(spark, dir, OracleThreshold, Planes, 1).select(col("d1"), col("d2")),
        checkpointDir = checkpointDir),
      "vec_id")

  /** One trained centroid: id (seed vec_id), exact component SUMS, and
    * member count — the (s, n) pair represents the mean s/n without
    * ever dividing, so every engine reproduces it bit-for-bit.
    * Public: the persisted-quantizer artifact ([[saveQuantizer]] /
    * [[loadQuantizer]]) hands these to serving jobs. */
  case class Centroid(j: Long, s: Seq[Long], n: Long)

  /** Per-cell member bound for the exact-integer distance of
    * [[cellTable]]: the distance sum ≤ Dim·(2n·10³)² = 2.56e8·n²
    * overflows Long once n exceeds ~1.9·10⁵. */
  val MaxCellMembers: Long = 190000L

  /** Build the [[graft.functions.CellTable]] reference object for a
    * [[graft.functions.NearestCells]] expression: member cells in
    * evaluation/tie-break order (the caller's order — j-sorted for
    * the exact form, group-concatenated for the two-level form).
    *
    * The distance every cell assignment uses: the scaled distance² to
    * a centroid, Σ_d (n·q_d − s_d)², is exact integer arithmetic
    * (distance² × n²); ONE double division by n² then makes centroids
    * with different member counts comparable. It is evaluated in the
    * EXPANDED form n²·‖q‖² − 2n·(q·s) + ‖s‖² (‖q‖² is the precomputed
    * `nrm` column, ‖s‖² folds here per cell), which equals the direct
    * form exactly. Every term stays inside Long for n ≤
    * [[MaxCellMembers]], enforced here per cell: a silent wrap would
    * corrupt every assignment; past the bound, shard cells or switch
    * to double means. The final IEEE division is identical to the
    * oracle's direct-form expression. */
  private[ops] def cellTable(ordered: Seq[Centroid],
                        supers: Seq[Centroid] = Nil,
                        groups: Seq[Seq[Centroid]] = Nil): graft.functions.CellTable = {
    ordered.foreach(c => require(c.n <= MaxCellMembers,
      s"cell ${c.j} has ${c.n} members — past the exact-integer bound " +
        s"($MaxCellMembers); raise nCells or switch the quantizer to double means"))
    new graft.functions.CellTable(Dim,
      ordered.map(_.j).toArray, ordered.map(_.n).toArray,
      ordered.flatMap(_.s).toArray,
      ordered.map(c => c.s.map(v => v * v).sum).toArray,
      supers.flatMap(_.s).toArray,
      supers.map(c => c.s.map(v => v * v).sum).toArray,
      if (groups.isEmpty) Array.emptyIntArray
      else groups.scanLeft(0)(_ + _.size).toArray)
  }

  /** Nearest-centroid id: argmin of the scaled distances; ties break
    * to the smallest centroid id (centroids arrive sorted by id and
    * the fused loop keeps the FIRST minimum). This is
    * the [[graft.functions.NearestCells]] reference-data expression
    * rather than an nCells-subtree literal plan: bit-identical
    * arithmetic (NearestCellsProperties + the q31/q68/q70 oracles),
    * O(1) plan size — the 625-literal-cell plans that dominated
    * q70/q76 at sf1 (~25-36 s of analysis/codegen/interpretation)
    * collapse to one compiled loop. */
  private def nearestCell(cents: Seq[Centroid]): Column =
    nearestCells(col("qv"), col("nrm"), cellTable(cents))

  /** Grouping rounds of the two-level router's driver-side centroid
    * clustering — structurally unrolled in the q76 replay SQL, so
    * pinned here and require-guarded at the SQL definition site. */
  val SuperIters: Int = 3

  /** nSuper-vs-nCells rule for [[nearestCellTwoLevel]]: ⌈√nCells⌉
    * balances the two per-row cost terms (nSuper super distances +
    * ~nCells/nSuper member distances), the standard two-level IVF
    * sizing. One IEEE sqrt + ceil on an integer — the q76 oracle
    * replays it with the same two double ops. */
  def superFor(nCells: Int): Int = {
    require(nCells > 0, "need a positive cell count")
    math.ceil(math.sqrt(nCells.toDouble)).toInt
  }

  /** Integer mean grid of a component-sum vector: ⌊s_d/n + 0.5⌋ per
    * dimension — ONE IEEE division and add per component, so every
    * engine reproduces the grid bit-for-bit from the exact (s, n)
    * pair. The shared rounding rule of the two-level router (centroid
    * mean grid, group-mean updates, super-centroids). */
  private[ops] def meanGrid(s: Seq[Long], n: Long): IndexedSeq[Long] =
    s.map(v => math.floor(v.toDouble / n.toDouble + 0.5).toLong).toIndexedSeq

  /** Deterministic exact-replayable grouping of `cents` (sorted by j)
    * into ≤ nSuper groups — the driver-side clustering behind
    * [[nearestCellTwoLevel]], designed so a SQL engine replays it
    * bit-for-bit (the q76 gate):
    *  - each centroid is represented by its [[meanGrid]] integer mean;
    *  - seeds are STRIDED over the (grid(0), j) ordering — nSuper
    *    evenly-spaced ranks including both endpoints — so near-
    *    duplicate seeds can't collapse the grouping the way a
    *    take-first seed could;
    *  - [[SuperIters]] assignment passes over the nCells grids
    *    (exact-integer L², ties to the smallest group), group means
    *    re-derived from exact member sums via [[meanGrid]] between
    *    passes, empty groups keeping their previous mean;
    *  - returns (group id, members) with members in j order; empty
    *    groups drop out.
    * Everything is integer arithmetic plus [[meanGrid]]'s pinned
    * single-division rounding — no accumulation-order-sensitive
    * floating point anywhere, which is what makes the replay exact. */
  private[ops] def superGroups(cents: Seq[Centroid],
                               nSuper: Int): Seq[(Int, Seq[Centroid])] = {
    val nc = cents.size
    require(nSuper >= 2 && nSuper < nc,
      "superGroups needs 2 <= nSuper < nCells (degenerate forms route through nearestCell)")
    val mm = cents.map(c => meanGrid(c.s, c.n))
    val order = cents.indices.sortBy(i => (mm(i)(0), cents(i).j))
    var gm: IndexedSeq[IndexedSeq[Long]] = (0 until nSuper)
      .map(g => mm(order(((g.toLong * (nc - 1)) / (nSuper - 1)).toInt)))
    def d2(a: IndexedSeq[Long], b: IndexedSeq[Long]): Long = {
      var i = 0; var acc = 0L
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    var asg: Seq[Int] = Seq.empty
    for (t <- 0 until SuperIters) {
      asg = cents.indices.map(i => (0 until nSuper).minBy(g => (d2(mm(i), gm(g)), g)))
      if (t < SuperIters - 1)
        gm = (0 until nSuper).map { g =>
          val member = cents.indices.filter(asg(_) == g)
          if (member.isEmpty) gm(g)
          else meanGrid(
            (0 until Dim).map(d => member.map(i => cents(i).s(d)).sum),
            member.map(i => cents(i).n).sum)
        }
    }
    (0 until nSuper).map(g => g -> cents.indices.filter(asg(_) == g).map(cents(_)))
      .filter(_._2.nonEmpty)
  }

  /** Two-level nearest-cell routing — the production path past
    * [[nearestCell]]'s per-row nCells distance evaluations (the
    * [[cellsFor]] scaladoc's "coarse-over-coarse" note made real):
    * with cells growing ∝ corpus, literal assignment is N·nCells =
    * N²/targetCell; grouping the centroids into `nSuper` ≈ √nCells
    * super-centroids DRIVER-side ([[superGroups]] — deterministic
    * exact-integer clustering over ≤ nCells mean grids) cuts the
    * per-row cost to nSuper + |chosen group| ≈ 2·√nCells evaluations
    * — the standard two-level IVF.
    *
    * Each super-centroid is the member-count-weighted mean of its
    * group, ROUNDED to the integer grid ([[meanGrid]]) and carried as
    * a 1-member [[Centroid]], so the routing distance is the same
    * exact-integer [[cellTable]] distance (no new arithmetic, no
    * overflow exposure — n = 1 is always under [[MaxCellMembers]]).
    * The row evaluates `nSuper` super distances, then ONLY the chosen
    * group's members (CASE branches are lazy in codegen). Super ties
    * break to the smallest group id, member ties to the smallest
    * cell id — both first-minimum semantics the q76 oracle replays.
    *
    * Routing is APPROXIMATE at super-group boundaries — a point may
    * land in a neighboring group whose best member beats the chosen
    * group's (the recall trade every coarse-probe IVF makes).
    * `nSuper = 1` and `nSuper ≥ nCells` degenerate to the exact
    * [[nearestCell]] bit-for-bit (spec-pinned). ON the graded
    * surface: q76 gates the full two-level trajectory
    * (training + final assignment) at [[superFor]] sizing, while
    * q68/q70 keep replaying EXACT assignment — the q27-LSH-vs-q45-
    * brute relationship, for assignment. */
  private[ops] def nearestCellTwoLevel(rawCents: Seq[Centroid], nSuper: Int): Column = {
    require(rawCents.nonEmpty, "quantizer has no centroids")
    require(nSuper >= 1, "nSuper must be positive")
    val cents = rawCents.sortBy(_.j)
    if (nSuper == 1 || nSuper >= cents.size) nearestCell(cents)
    else
      // one fused expression: super routing (exact-Long n=1 distances,
      // first-min ties = smallest live group) then only the chosen
      // group's members — same trajectory the q76 oracle replays,
      // O(1) plan size (see nearestCell)
      nearestCells(col("qv"), col("nrm"), twoLevelTable(cents, nSuper))
  }

  /** The grouped [[graft.functions.CellTable]] behind BOTH two-level
    * forms — assignment ([[nearestCellTwoLevel]]) and serving
    * ([[probeCellsColTwoLevel]]): [[superGroups]]' driver-side
    * clustering, each super-centroid the member-count-weighted
    * [[meanGrid]] mean carried as a 1-member centroid (same
    * exact-integer kernel, no overflow exposure). One construction so
    * the two paths cannot drift. Needs 2 ≤ nSuper < cents.size
    * (degenerate forms route through the exact expressions). */
  private def twoLevelTable(cents: Seq[Centroid], nSuper: Int): graft.functions.CellTable = {
    val groups = superGroups(cents, nSuper)
    val supers = groups.map { case (g, ms) =>
      Centroid(g, meanGrid((0 until Dim).map(d => ms.map(_.s(d)).sum),
        ms.map(_.n).sum), 1L)
    }
    cellTable(groups.flatMap(_._2), supers, groups.map(_._2))
  }

  /** (vec_id, cell) assignment surface over the embeddings table —
    * exact at `nSuper = 1` (the default; identical to what q68's
    * pipeline persists), two-level-routed past it. The spec pins the
    * degenerate identities and measures the routing agreement. */
  def assignCells(spark: SparkSession, dir: String, rawCents: Seq[Centroid],
                  nSuper: Int = 1): DataFrame =
    quantized(spark, dir)
      .select(col("vec_id"), nearestCellTwoLevel(rawCents, nSuper).as("cell"))

  /** q31 — IVF ANN top-k with a TRAINED coarse quantizer: Forgy
    * seeding (the [[OracleCells]] smallest vec_ids), [[OracleIters]]
    * Lloyd's rounds, then each query (vec_id % 50 = 0) probes its
    * `nprobe` nearest cells and re-ranks them by exact quantized cosine
    * to the top 5.
    *
    * Scale shape: each Lloyd's round is one distributed pass — assign
    * every vector to its nearest centroid (centroids are plan
    * literals, i.e. a broadcast of a 10-row table) and aggregate the
    * new per-cell component sums map-side; only `nCells` rows ever
    * reach the driver, which is exactly how production k-means trains
    * on a cluster. Serving is ONE equi-join on cell id; raising
    * `nprobe` multiplies candidates linearly (recall/cost dial).
    * All arithmetic is exact-integer + one pinned double division
    * ([[cellTable]]), so the DuckDB oracle replays the same training
    * trajectory bit-for-bit; ties break to the smallest cell id on
    * both sides. Empty cells (possible after a reassignment round)
    * drop out identically in both engines. */
  def ivfTopK(spark: SparkSession, dir: String, nprobe: Int = 1): DataFrame = {
    // ONE persisted quantized table threads through both stages — the
    // public train/serve pair each persist their own (correct for the
    // train-once/serve-many deployment, where they run in different
    // jobs), but the one-shot query must not register the subtree twice
    val vecs = Caches.persist(quantized(spark, dir))
    ivfTopKServeOn(vecs, trainQuantizerOn(vecs, OracleCells, OracleIters), 5, 50, nprobe)
  }

  /** The q31 training stage alone: Forgy seeding + `iters` Lloyd's
    * rounds, returning the trained centroids. Factored out so a
    * production deployment trains ONCE, persists the artifact
    * ([[saveQuantizer]]), and every serving job loads it
    * ([[loadQuantizer]] → [[ivfTopKServe]]) instead of re-running the
    * training passes per query — at 100 TB the training scans are the
    * dominant cost and re-paying them on the serving path is wrong. */
  def trainQuantizer(spark: SparkSession, dir: String,
                     nCells: Int = OracleCells, iters: Int = OracleIters): Seq[Centroid] =
    trainQuantizerOn(Caches.persist(quantized(spark, dir)), nCells, iters)

  /** `nSuper = 1` (the oracle-replayed default) assigns each Lloyd's
    * round with the exact [[nearestCell]]; `nSuper > 1` routes every
    * round through [[nearestCellTwoLevel]] — the SAME N·nCells term
    * that dominates final assignment lives in each training pass, so
    * a production-sized training run must route both (q76 gates the
    * routed trajectory end-to-end).
    *
    * PUBLIC because a rolling-ingest deployment trains on a TRANCHE
    * (the corpus as of the last rebuild), freezes the artifact, and
    * encodes later deltas against it (q87's contract): `vecs` carries
    * (vec_id, qv) rows — [[quantized]] output, filtered to the
    * training tranche. Callers persist `vecs` (this runs `iters + 1`
    * passes over it). */
  def trainQuantizerOn(vecs: DataFrame,
                       nCells: Int, iters: Int,
                       nSuper: Int = 1): Seq[Centroid] = {
    // Forgy seeding, pinned: the nCells smallest vec_ids, each a
    // 1-member centroid (its own exact component vector).
    var cents: Seq[Centroid] = vecs.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id"), col("qv")).collect().toSeq
      .map(r => Centroid(r.getAs[Long]("vec_id"),
        r.getAs[collection.Seq[Long]]("qv").toSeq, 1L))
    // Lloyd's rounds: one distributed assign+sum pass per round,
    // nCells rows collected (the broadcast-centroid training loop).
    val sumCols = (0 until Dim).map(d => sum(element_at(col("qv"), d + 1)).as(s"s$d"))
    for (_ <- 0 until iters) {
      // same fail-loud guard as semanticDedup: the q76 replay assumes
      // every routed round is non-degenerate
      require(nSuper == 1 || cents.size > nSuper,
        s"two-level training round needs more live cells (${cents.size}) than nSuper ($nSuper)")
      val rows = vecs.withColumn("cell", nearestCellTwoLevel(cents, nSuper))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect()
      cents = rows.map(r => Centroid(r.getAs[Long]("cell"),
        (0 until Dim).map(d => r.getAs[Long](s"s$d")),
        r.getAs[Long]("n"))).sortBy(_.j).toSeq
    }
    cents
  }

  /** Persist a trained quantizer as a parquet artifact (j, s, n) —
    * exact integers, so a load reproduces the training result
    * bit-for-bit on any engine that can read parquet. */
  def saveQuantizer(spark: SparkSession, cents: Seq[Centroid], path: String): Unit = {
    import spark.implicits._
    cents.toDF("j", "s", "n").coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveQuantizer]] artifact, sorted by centroid id (the
    * tie-break order serving depends on). */
  def loadQuantizer(spark: SparkSession, path: String): Seq[Centroid] =
    // driver-side collect is the artifact's contract: nCells rows
    // (the quantizer IS a broadcast-sized table by construction)
    spark.read.parquet(path).collect().toSeq
      .map(r => Centroid(r.getAs[Long]("j"),
        r.getAs[collection.Seq[Long]]("s").toSeq, r.getAs[Long]("n")))

  /** The q31 serving stage alone, against a given (possibly loaded)
    * quantizer: one equi-join on cell id, exact re-rank inside the
    * probed cells. */
  def ivfTopKServe(spark: SparkSession, dir: String, cents: Seq[Centroid],
                   k: Int = 5, queryMod: Int = 50, nprobe: Int = 1): DataFrame =
    ivfTopKServeOn(Caches.persist(quantized(spark, dir)), cents, k, queryMod, nprobe)

  /** [[ivfTopKServe]] with the PROBING routed two-level
    * ([[probeCellsColTwoLevel]]): identical candidate index and
    * scoring tail, only the probe-cell ranking is approximate. The
    * serve-side member of the q70-vs-q76 exact-vs-routed pair;
    * recall consequence measured by [[graft.tools.RecallReport]]'s
    * serve mode. */
  def ivfTopKServeRouted(spark: SparkSession, dir: String, cents: Seq[Centroid],
                         nprobe: Int = 1, nSuper: Int = 0, nSuperProbe: Int = 1): DataFrame = {
    val vecs = Caches.persist(quantized(spark, dir))
    val sorted = cents.sortBy(_.j)
    val ns = if (nSuper > 0) nSuper else superFor(sorted.size)
    ivfTopKServeWith(vecs, sorted, 5, 50,
      probeCellsColTwoLevel(sorted, nprobe, ns, nSuperProbe))
  }

  private def ivfTopKServeOn(vecs: DataFrame, rawCents: Seq[Centroid],
                             k: Int, queryMod: Int, nprobe: Int): DataFrame = {
    // the consumer owns its invariants: ties in nearestCell break to
    // the FIRST array element, so centroids must arrive sorted by id,
    // and an empty quantizer would return silently empty results
    require(rawCents.nonEmpty, "quantizer has no centroids")
    val cents = rawCents.sortBy(_.j)
    ivfTopKServeWith(vecs, cents, k, queryMod,
      probeCellsCol(cents, nprobe))
  }

  /** Shared body of the exact and routed serves: every vector's home
    * cell (the ONE index definition) equi-joined with each query's
    * probed cells under WHATEVER probe ranking `probeCol` encodes. */
  private def ivfTopKServeWith(vecs: DataFrame, cents: Seq[Centroid],
                               k: Int, queryMod: Int, probeCol: Column): DataFrame = {
    val cands = indexOf(vecs, cents)
    val qs = vecs.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("q_v"),
        col("nrm").as("q_n"),
        explode(probeCol).as("cell"))
    // queries ARE corpus vectors here → exclude the self-match
    scoreTopK(cands.join(broadcast(qs), Seq("cell")), k, excludeSelf = true)
  }

  /** ONE definition of the cell-assigned candidate relation (the
    * serving index) over a quantized-vector table — shared by the
    * batch path ([[ivfTopKServeOn]]) and the streaming path
    * ([[serveIndex]]) so the two cannot drift. */
  private def indexOf(vecs: DataFrame, cents: Seq[Centroid]): DataFrame =
    vecs.select(col("vec_id").as("neighbor_id"), col("qv").as("c_v"),
      col("nrm").as("c_n"), nearestCell(cents).as("cell"))

  /** ONE definition of the nprobe-nearest-cells expression over a row
    * carrying (qv, nrm): sort struct(dist, id) — lexicographic, so
    * ties break to the smallest cell id — and keep the first nprobe
    * ids. Shared by both serving paths. */
  private[ops] def probeCellsCol(cents: Seq[Centroid], nprobe: Int): Column =
    probeCells(col("qv"), col("nrm"), cellTable(cents), nprobe)

  /** The static probed-cell filter every routed serve puts on its
    * index scan: `cell INSET cells`, so on a partitioned-by-cell
    * layout the unprobed cells prune at listing time. It is an
    * `InSet` over a `HashSet` rather than `isin`, because generated
    * code inlines an `isin` list as literals and reads an `InSet` of
    * longs as a reference object cast to the set's class: every batch
    * of a serve loop, whatever cells it probes and in whatever order,
    * reuses the classes the first batch compiled. An `InSet` skips
    * type coercion, so the cast meets a cell column read back as int
    * from partition discovery; on a bigint column it folds away. */
  private[ops] def probedCellFilter(cells: Iterable[Long]): Column =
    GraftColumns.column(
      InSet(GraftColumns.expression(col("cell").cast("long")), probedCellSet(cells)))

  /** The set a [[probedCellFilter]] reads: always a `HashSet`, because
    * Scala's immutable sets of up to four elements are four other
    * classes, and the generated code casts to the set's class. */
  private[ops] def probedCellSet(cells: Iterable[Long]): Set[Any] = HashSet.from[Any](cells)

  /** Two-level [[probeCellsCol]] — the SERVING counterpart of
    * [[nearestCellTwoLevel]]: exact probing costs
    * nCells distance evals PER PROBE, so past O(10³) cells a serving
    * query stream pays per batch what assignment used to pay per
    * corpus row. This routes each probe to its `nSuperProbe` nearest
    * super-groups and ranks only their members (~nSuper +
    * nSuperProbe·√nCells evals). Approximate at group boundaries like
    * the assignment form — the serve-side recall consequence is
    * measured by [[graft.tools.RecallReport]]'s serve mode (rows in
    * bench/SCALING_r10.md); degenerate forms (nSuper ≤ 1 or ≥ nCells,
    * or nSuperProbe ≥ live groups) reproduce the exact probe
    * bit-for-bit (EmbeddingsSpec + NearestCellsProperties pin it). */
  private[ops] def probeCellsColTwoLevel(rawCents: Seq[Centroid], nprobe: Int, nSuper: Int,
                                         nSuperProbe: Int): Column = {
    require(rawCents.nonEmpty, "quantizer has no centroids")
    require(nSuperProbe >= 1, "nSuperProbe must be positive")
    val cents = rawCents.sortBy(_.j)
    if (nSuper <= 1 || nSuper >= cents.size) probeCellsCol(cents, nprobe)
    else probeCells(col("qv"), col("nrm"), twoLevelTable(cents, nSuper), nprobe, nSuperProbe)
  }

  /** The serving-side INDEX for [[serveQueryBatch]]: every corpus
    * vector with its home cell under `cents` — built (and typically
    * persisted) ONCE per quantizer artifact, then joined against every
    * incoming query batch. This is the static side of the stream-
    * static serving deployment ([[graft.stream.ServeLoop]] over
    * [[serveQueryBatch]], StreamingAnnServeSpec): at 100 TB the index
    * is the big relation and never moves — each batch's probe rows
    * broadcast to it. */
  def serveIndex(spark: SparkSession, dir: String, rawCents: Seq[Centroid]): DataFrame =
    indexBatch(quantized(spark, dir), rawCents)

  /** [[serveIndex]] over an arbitrary ALREADY-QUANTIZED vector batch —
    * (vec_id, qv, nrm) rows on the corpus integer grid. The
    * rolling-ingest assignment entry: a delta batch lands in its
    * nearest cell of a FROZEN quantizer it never trained (the
    * streaming ingest loop, StreamingVectorIngestSpec), exactly the
    * q87 contract. */
  def indexBatch(vecs: DataFrame, rawCents: Seq[Centroid]): DataFrame = {
    require(rawCents.nonEmpty, "quantizer has no centroids")
    indexOf(vecs, rawCents.sortBy(_.j))
  }

  /** Score an ARBITRARY query batch — (q_id: long, embedding:
    * array<float>) rows that need not exist in the corpus — against a
    * prebuilt [[serveIndex]]: quantize exactly like the corpus side
    * (floor(x·10³) + exact norm), probe each query's `nprobe` nearest
    * cells ([[probeCellsCol]], the batch path's own expression),
    * equi-join on cell with the query side broadcast, and the shared
    * [[scoreTopK]] tail.
    *
    * `excludeSelf`: q_ids live in the CALLER's namespace, which need
    * not relate to corpus vec_ids — by default no neighbor is dropped,
    * because an external query whose id happens to collide with a
    * corpus id must still see that vector in its top-k. Pass true
    * only when the batch's q_ids ARE corpus vec_ids (the
    * [[ivfTopKServe]] situation) — with the corpus's own `vec_id %
    * queryMod = 0` vectors and excludeSelf = true this is
    * bit-identical to [[ivfTopKServe]] (spec-pinned).
    *
    * `nSuperProbe ≥ 1` routes the PROBING two-level
    * ([[probeCellsColTwoLevel]], `nSuper` groups — 0 derives
    * [[superFor]](nCells)): the scale path for a query stream against
    * an O(10³+)-cell quantizer, where exact probing pays nCells
    * distance evals per probe. Approximate (recall table in
    * bench/SCALING_r10.md); a saturating `nSuperProbe` reproduces the
    * exact serve bit-for-bit (spec-pinned).
    *
    * The batch's probed-cell set is injected as a STATIC filter on the
    * index scan (the [[graft.ops.Pq.ivfPqServe]] pattern — bounded by
    * nCells, one extra pass over the query batch): on a
    * partitioned-by-cell index layout the probed cells prune at
    * LISTING time through the serve path itself. */
  def serveQueryBatch(index: DataFrame, rawCents: Seq[Centroid], queries: DataFrame,
                      k: Int = 5, nprobe: Int = 1,
                      excludeSelf: Boolean = false,
                      nSuper: Int = 0, nSuperProbe: Int = 0): DataFrame = {
    require(rawCents.nonEmpty, "quantizer has no centroids")
    val cents = rawCents.sortBy(_.j)
    val q = queries
      .select(col("q_id"),
        transform(col("embedding"), x => floor(x.cast("double") * 1000)).as("qv"))
      .withColumn("nrm", vecDot(col("qv"), col("qv")))
    val probeCol =
      if (nSuperProbe >= 1)
        probeCellsColTwoLevel(cents, nprobe,
          if (nSuper > 0) nSuper else superFor(cents.size), nSuperProbe)
      else probeCellsCol(cents, nprobe)
    val qsPlan = q.select(col("q_id"), col("qv").as("q_v"),
      col("nrm").as("q_n"),
      explode(probeCol).as("cell"))
    // ONE evaluation of the batch's probe ranking: the
    // probe relation is broadcast-sized by contract, so collect it
    // once and serve from a local relation — deriving the probed-cell
    // filter from a separate action would re-run the O(nCells)-per-row
    // ranking a second time for the join, per micro-batch
    val qsRows = qsPlan.collect()
    val qs = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(qsRows: _*), qsPlan.schema)
    scoreTopK(index.filter(probedCellFilter(qsRows.map(_.getAs[Long]("cell"))))
      .join(broadcast(qs), Seq("cell")), k, excludeSelf)
  }

  /** Shared scoring tail of every top-k retrieval (q27 LSH, q31 IVF,
    * q45 brute force): `joined` carries (q_id, q_v, q_n) × (neighbor_id,
    * c_v, c_n) candidate rows from WHATEVER candidate generation ran
    * upstream; this applies the self-filter (only when the query ids
    * ARE corpus ids — see [[serveQueryBatch]]), the codegen
    * dot/cosine, a bounded per-partition top-k prune, and the
    * per-query window top-k. ONE definition — the cosine expression
    * and the (cosine DESC, neighbor_id) tie-break are a bit-exact
    * contract with three DuckDB oracles and must never diverge
    * between variants.
    *
    * The prune: the final window must
    * exchange by q_id and SORT each query's full candidate list —
    * for q45's definitional all-pairs stream that sort buffers
    * |corpus|·|queries|/parts rows per task (~25M rows/task at the
    * sf10 federation, where this WindowGroupLimit stage ran out of
    * memory in one decade run of three). [[partitionTopK]] streams each
    * scan partition through a bounded per-query heap FIRST, so the
    * window's input collapses to ≤ parts·|queries|·k rows and its
    * sort state is trivially bounded at ANY corpus size. Keeping a
    * partition's per-query top-k is exact (any global top-k row is
    * top-k within its own partition), and the UNCHANGED final window
    * re-ranks the survivors, so the oracle contract is untouched by
    * construction. */
  private def scoreTopK(joined: DataFrame, k: Int,
                        excludeSelf: Boolean = true): DataFrame = {
    val scored = (if (excludeSelf) joined.filter(col("neighbor_id") =!= col("q_id"))
                  else joined)
      .withColumn("dot", vecDot(col("q_v"), col("c_v")))
      .withColumn("cosine",
        col("dot").cast("double") / sqrt(col("q_n").cast("double") * col("c_n").cast("double")))
      .select(col("q_id"), col("neighbor_id"), col("dot"), col("cosine"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    partitionTopK(scored, k).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dot"), col("cosine"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Per-partition bounded top-k pre-prune for [[scoreTopK]]: within
    * each input partition keep, for every q_id, the k best candidates
    * by (cosine DESC, neighbor_id ASC) — a hash of per-query
    * insertion-sorted arrays, O(|queries in partition|·k) state, ONE
    * streaming pass, NO sort. Emits a SUPERSET of the global top-k
    * (per-partition winners), so the caller's window re-rank is
    * bit-identical to ranking the unpruned stream.
    *
    * mapPartitions is the documented Dataset seam for bounded
    * imperative per-partition state (the [[Mmr]] flatMapGroups /
    * Multimodal decode judgment call): no built-in aggregate keeps a
    * bounded k-heap — collect_list+slice buffers whole groups, a
    * typed UDAF falls back to a full sort past 128 hash keys
    * (ObjectHashAggregate's fallback), and the raw window is the
    * unbounded sort this exists to remove. The double comparison
    * replicates Spark's SQLOrderingUtil semantics (`x == y → 0`,
    * else `Double.compare`) so the prune can never disagree with the
    * window's ORDER BY on -0.0/NaN edge values. */
  private def partitionTopK(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.as[(Long, Long, Long, Double)].mapPartitions { it =>
      // per q_id: parallel arrays insertion-sorted by (cosine DESC,
      // neighbor_id ASC); most rows reject on one compare vs the
      // current worst entry
      final class Top {
        val cos = new Array[Double](k)
        val nb = new Array[Long](k)
        val dt = new Array[Long](k)
        var n = 0
        def beats(c: Double, id: Long, i: Int): Boolean = {
          val cc = if (c == cos(i)) 0 else java.lang.Double.compare(c, cos(i))
          cc > 0 || (cc == 0 && id < nb(i))
        }
        def offer(id: Long, d: Long, c: Double): Unit = {
          if (n == k && !beats(c, id, n - 1)) return
          var pos = if (n == k) n - 1 else n
          if (n < k) n += 1
          while (pos > 0 && beats(c, id, pos - 1)) {
            cos(pos) = cos(pos - 1); nb(pos) = nb(pos - 1); dt(pos) = dt(pos - 1)
            pos -= 1
          }
          cos(pos) = c; nb(pos) = id; dt(pos) = d
        }
      }
      val tops = new java.util.HashMap[Long, Top]()
      it.foreach { case (q, id, d, c) =>
        var t = tops.get(q)
        if (t == null) { t = new Top; tops.put(q, t) }
        t.offer(id, d, c)
      }
      import scala.jdk.CollectionConverters._
      tops.entrySet().iterator().asScala.flatMap { e =>
        val q = e.getKey; val t = e.getValue
        (0 until t.n).iterator.map(i => (q, t.nb(i), t.dt(i), t.cos(i)))
      }
    }.toDF("q_id", "neighbor_id", "dot", "cosine")
  }

  /** q45 — brute-force exact cosine top-k: the BASELINE the ANN
    * variants are measured against (q27's LSH buckets and q31's IVF
    * cells trade recall for cost; this is recall 1.0 at full-scan
    * cost — EmbeddingsSpec's recall numbers are relative to exactly
    * this ranking).
    *
    * Plan: corpus scan × broadcast(query set) — brute force is
    * DEFINITIONALLY all-pairs on the query side, so this is the one
    * embedding query where a BroadcastNestedLoopJoin is the correct
    * plan (build side = the query set, small by contract; the corpus
    * side streams through the scan and never shuffles — per-query
    * cost is one linear scan, the honest baseline price). Top-k
    * prunes per-partition before the final per-query window. */
  def bruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val vecs = Caches.persist(quantized(spark, dir))
    val qs = vecs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("q_v"), col("nrm").as("q_n"))
    scoreTopK(vecs
      .select(col("vec_id").as("neighbor_id"), col("qv").as("c_v"), col("nrm").as("c_n"))
      .crossJoin(broadcast(qs)), 5)
  }

  /** q27 — LSH-bucketed cosine top-k: for every query vector (vec_id
    * divisible by 50), the 5 nearest same-bucket neighbors by
    * exact quantized cosine. Candidates come from the bucket equi-join
    * only — ANN semantics (recall < 1 by design, measured against the
    * brute-force oracle in EmbeddingsSpec).
    *
    * `multiProbe = 1` additionally probes every bucket within sketch
    * Hamming distance 1 (flip each of the [[Planes]] bits) — the
    * standard multi-probe LSH recall/cost dial: as [[planesFor]] grows
    * planes with the corpus, per-bucket recall drops, and probing the
    * adjacent buckets buys most of it back for a (planes+1)× candidate
    * multiplier on the (small) query side only; the corpus side's
    * bucketing and the join shape are unchanged. */
  def annTopK(spark: SparkSession, dir: String, multiProbe: Int = 0): DataFrame = {
    require(multiProbe == 0 || multiProbe == 1, "multiProbe supports 0 (off) or 1 (flip-1 buckets)")
    // persisted: feeds both the query side and the candidate side —
    // without it the scan + quantize + 4 projections run twice.
    val vecs = Caches.persist(quantized(spark, dir).withColumn("bucket", bucketCol(Planes)))
    val qs0 = vecs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("qv").as("q_v"),
        col("nrm").as("q_n"), col("bucket"))
    val qs =
      if (multiProbe == 0) qs0
      else qs0.withColumn("bucket", explode(array(
        col("bucket") +: (0 until Planes).map(s =>
          col("bucket").bitwiseXOR(lit(1L << s))): _*)))
    val cands = vecs.select(col("vec_id").as("neighbor_id"), col("qv").as("c_v"),
      col("nrm").as("c_n"), col("bucket"))
    scoreTopK(cands.join(broadcast(qs), Seq("bucket")), 5)
  }

  /** q62 — per-label embedding centroids (dim-wise): the aggregation
    * kernel of embedding-space work — k-means' M-step (q31's trainer
    * runs exactly this over assigned cells), class prototypes for
    * nearest-centroid classification, per-source embedding drift
    * monitors. Emits (label, dim, n, sum_q, mean_q) with components
    * quantized to exact integers (`round(x·10⁶)` as BIGINT), so the
    * dim-wise sums are order-independent — float sums would hash-
    * diverge under Spark's partial-agg reordering — and the mean is
    * one identical IEEE division on both engines.
    *
    * Plan shape at 100 TB: posexplode is a codegen generator (no
    * interpreted lambda), dim-wise partial sums fold map-side, and the
    * ONE shuffle carries #labels × dim rows — the aggregate table,
    * never the corpus. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("x").cast("double") * lit(1000000)).cast("long")).as("sum_q"))
      .select(col("label"), col("dim"), col("n"), col("sum_q"),
        (col("sum_q").cast("double") / col("n")).as("mean_q"))
      .orderBy(col("label"), col("dim"))

  /** q68 — SEMANTIC dedup (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space with the trained IVF quantizer, then resolve
    * near-duplicates WITHIN each cell — exact quantized cosine pairs
    * over the cell block, connected components, min-id survivor —
    * emitted as the same full-table drop-list contract as q32/q33.
    * This is the third member of the embedding-dedup family and the
    * form the paper argues scales: the quadratic step runs per CELL
    * (k-means blocks, corpus/nCells-sized), never per corpus, and the
    * cell count grows with the corpus.
    *
    * vs q33: same resolution tail, different candidate generator —
    * LSH buckets are locality hashes (recall dialed by planes/bands);
    * IVF cells are LEARNED partitions, so semantically dense regions
    * get their own blocks and the within-block scan is the semantic
    * neighborhood the paper deduplicates. All arithmetic is the
    * exact-integer quantizer/cosine machinery q31/q29 certify, so the
    * DuckDB oracle replays training, assignment, pairing, and
    * clustering bit-for-bit. */
  def semanticDedup(spark: SparkSession, dir: String,
                    nCells: Int = OracleCells,
                    checkpointDir: Option[String] = None,
                    nSuper: Int = 1, trainNSuper: Int = 1): DataFrame = {
    val vecs = Caches.persist(quantized(spark, dir))
    val cents = trainQuantizerOn(vecs, nCells, OracleIters, trainNSuper)
    // the q76 oracle replays nearestCellTwoLevel's NON-degenerate
    // routing; if training shrank the live cell set to ≤ nSuper the
    // degenerate branch would silently diverge from the replay — fail
    // loudly instead (never observed on real corpora: cells die only
    // when no vector is nearest them). Scoped to the replay-gated
    // two-level-trained path (trainNSuper > 1, i.e. q76): plain
    // semanticDedup callers keep the DOCUMENTED degenerate identity
    // (nSuper ≥ nCells ⇒ exact assignment, spec-pinned).
    require(trainNSuper == 1 || cents.size > nSuper,
      s"two-level routing needs more live cells (${cents.size}) than nSuper ($nSuper) " +
        "— training collapsed the quantizer; lower nSuper or retrain with more cells")
    // persisted: the cell assignment (nCells codegen distance evals
    // per row at the default nSuper = 1, which is the oracle-replayed
    // exact form; nSuper > 1 routes through the two-level
    // [[nearestCellTwoLevel]] — ~2·√nCells evals per row, the scale
    // knob for quantizers past O(10²-10³) literal cells) feeds BOTH
    // sides of the within-cell self-join
    val cells = Caches.persist(
      vecs.withColumn("cell", nearestCellTwoLevel(cents, nSuper)))
    // probe-side fan-out: the within-cell pair expansion
    // — the q20-family single-task finding, same rationale as
    // cosineNearDupPairsRaw; cache layout untouched
    val a = Tables.fanOutBy(cells, col("vec_id"))
      .select(col("vec_id").as("d1"), col("qv").as("v1"),
        col("nrm").as("n1"), col("cell"))
    val b = cells.select(col("vec_id").as("d2"), col("qv").as("v2"),
      col("nrm").as("n2"), col("cell"))
    val pairs = scorePairs(a.join(b, Seq("cell")).filter(col("d1") < col("d2")), OracleThreshold)
      .select(col("d1"), col("d2"))
    LlmOps.dropList(vecs.select(col("vec_id")),
      LlmOps.connectedComponents(pairs, checkpointDir = checkpointDir), "vec_id")
  }

  /** q70 — [[semanticDedup]] at the PRODUCTION cell sizing: nCells =
    * [[cellsFor]](corpus count, targetCell) instead of the pinned
    * [[OracleCells]]. This is to q68 what q34 is to q29: the sf10
    * decade measured the pinned config going quadratic (90.4 s) and
    * the scaled config back on the linear trend (20.0 s —
    * bench/SCALING_r07.md), so the SIZING RULE is the part that must
    * be oracle-gated — the DuckDB twin derives the same integer cell
    * count from the same corpus count, so a drifted rule fails the
    * gate, not just a benchmark. */
  def semanticDedupScaled(spark: SparkSession, dir: String,
                          targetCell: Int = OracleTargetCell,
                          checkpointDir: Option[String] = None): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    semanticDedup(spark, dir, cellsFor(n, targetCell), checkpointDir)
  }

  /** q76 — [[semanticDedupScaled]] with BOTH the training rounds and
    * the final assignment routed through [[nearestCellTwoLevel]] at
    * the [[superFor]] sizing (nSuper = ⌈√nCells⌉): the EXECUTED
    * production scale path. q70 measured the remaining super-linear
    * term of the semantic-dedup family — literal-centroid assignment
    * is N·nCells = N²/targetCell, paid once per Lloyd's round and
    * once at final assignment (7.44× for the sf0.1→sf1 decade,
    * bench/SCALING_r08.md); this variant pays nSuper + ~√nCells evals
    * per row instead, restoring ~N·√(N/targetCell) growth, and is
    * oracle-gated end-to-end because every step of [[superGroups]] /
    * [[meanGrid]] is exact-integer plus pinned single-division
    * rounding — the DuckDB twin replays seeding, grouping rounds,
    * super-routing, training, pairing, and resolution bit-for-bit.
    * q70 (exact assignment, same sizing rule) stays on the surface as
    * the recall baseline this trades against — the q45-brute-vs-q27
    * relationship, for assignment. */
  def semanticDedupTwoLevel(spark: SparkSession, dir: String,
                            targetCell: Int = OracleTargetCell,
                            checkpointDir: Option[String] = None): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    val nCells = cellsFor(n, targetCell)
    val ns = superFor(nCells)
    semanticDedup(spark, dir, nCells, checkpointDir, nSuper = ns, trainNSuper = ns)
  }
}
