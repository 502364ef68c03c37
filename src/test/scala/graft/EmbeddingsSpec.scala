package graft

import graft.ops.Embeddings
import org.apache.spark.sql.Row

/** q27 conformance: the LSH-bucketed top-k must agree exactly with an
  * independently-coded brute-force (computed here in plain Scala over
  * the collected sf0.001 table). The only production all-pairs plan is
  * q45's intentional brute-force baseline BNLJ — every other
  * embedding query keeps an equi-key (PlanAuditSpec's allow-list). */
class EmbeddingsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("vec_dot codegen expression matches the interpreted HOF formulation") {
    import org.apache.spark.sql.functions.{aggregate, lit, zip_with, col}
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val df = (0 until 100)
      .map(_ => (Seq.fill(64)(rnd.nextLong() % 1000), Seq.fill(64)(rnd.nextLong() % 1000)))
      .toDF("a", "b")
    val got = df.select(
      graft.functions.vecDot(col("a"), col("b")).as("d"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("h")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("rademacher components are the pinned md5 low bits") {
    // expected values pinned from md5 hex prefixes computed externally:
    // md5("0:0")=3eac1f3c2ef5215… (odd), md5("1:2")=def474a313bffa0… (even),
    // md5("3:63")=f6f280a379b61c8… (even)
    assert(Embeddings.rademacher(0, 0) == 1L)
    assert(Embeddings.rademacher(1, 2) == -1L)
    assert(Embeddings.rademacher(3, 63) == -1L)
  }

  /** Plain-Scala model: quantize, bucket, exact within-bucket top-k. */
  private def model(k: Int, queryMod: Int): Seq[(Long, Long, Long, Long)] = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
    val vecs = rows.map { r =>
      val id = r.getLong(0)
      val q = r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray
      (id, q)
    }
    val planes = Array.tabulate(Embeddings.Planes, Embeddings.Dim)(Embeddings.rademacher)
    def bucket(q: Array[Long]): Long =
      (0 until Embeddings.Planes).map { s =>
        val proj = (0 until Embeddings.Dim).map(d => planes(s)(d) * q(d)).sum
        if (proj >= 0) 1L << s else 0L
      }.sum
    val withB = vecs.map { case (id, q) => (id, q, q.map(x => x * x).sum, bucket(q)) }
    withB.filter(_._1 % queryMod == 0).flatMap { case (qid, qv, qn, qb) =>
      withB.filter(c => c._4 == qb && c._1 != qid)
        .map { case (cid, cv, cn, _) =>
          val dot = (0 until Embeddings.Dim).map(d => qv(d) * cv(d)).sum
          val cos = dot.toDouble / math.sqrt(qn.toDouble * cn.toDouble)
          (cid, dot, cos)
        }
        .sortBy { case (cid, _, cos) => (-cos, cid) }
        .take(k).zipWithIndex
        .map { case ((cid, dot, _), i) => (qid, (i + 1).toLong, cid, dot) }
    }.toSeq.sortBy(t => (t._1, t._2))
  }

  test("annTopK matches the brute-force within-bucket model exactly") {
    val got = Embeddings.annTopK(spark, dir).collect().toSeq
      .map { case Row(q: Long, r: Long, n: Long, d: Long, _) => (q, r, n, d) }
    val want = model(5, 50)
    assert(got == want)
  }

  test("cosineNearDupPairs: within-bucket pairs over threshold, symmetric-free (d1<d2)") {
    val got = Embeddings.cosineNearDupPairs(spark, dir, threshold = 0.35).collect()
    assert(got.forall(r => r.getLong(0) < r.getLong(1)))
    assert(got.forall(_.getDouble(3) >= 0.35))
    // cross-check each reported pair against the plain-Scala model's
    // cosine (exact integer dot/norms → identical double)
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray)
      .toMap
    got.foreach { r =>
      val (v1, v2) = (rows(r.getLong(0)), rows(r.getLong(1)))
      val dot = (0 until Embeddings.Dim).map(d => v1(d) * v2(d)).sum
      val cos = dot.toDouble /
        math.sqrt(v1.map(x => x * x).sum.toDouble * v2.map(x => x * x).sum.toDouble)
      assert(r.getLong(2) == dot && r.getDouble(3) == cos)
    }
  }

  test("measured recall vs unrestricted brute-force top-5 (honest ANN accounting)") {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray)
    val byId = rows.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = (0 until Embeddings.Dim).map(d => a(d) * b(d)).sum
      dot.toDouble / math.sqrt(a.map(x => x * x).sum.toDouble * b.map(x => x * x).sum.toDouble)
    }
    val truth = rows.filter(_._1 % 50 == 0).map { case (qid, qv) =>
      qid -> rows.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(5).map(_._1).toSet
    }.toMap
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      val hits = truth.map { case (q, t) => (got.getOrElse(q, Set.empty) & t).size }.sum
      hits.toDouble / truth.values.map(_.size).sum
    }
    // q45 IS the ground truth: the brute-force query must reproduce
    // this test's independently-coded exact ranking with recall 1.0
    val brute = recall(Embeddings.bruteTopK(spark, dir))
    assert(brute == 1.0, f"brute-force recall $brute%.2f != 1.0 — q45 is not exact")
    val lsh = recall(Embeddings.annTopK(spark, dir))
    val lshMp = recall(Embeddings.annTopK(spark, dir, multiProbe = 1))
    val ivf1 = recall(Embeddings.ivfTopK(spark, dir))
    val ivf2 = recall(Embeddings.ivfTopK(spark, dir, nprobe = 2))
    info(f"recall@5 on sf0.001: LSH=$lsh%.2f LSH(multiProbe=1)=$lshMp%.2f " +
      f"IVF(nprobe=1)=$ivf1%.2f IVF(nprobe=2)=$ivf2%.2f")
    // multi-probe candidates are a superset of the probe-0 candidates,
    // so recall can only rise
    assert(lshMp >= lsh)
    // random vectors are a worst case for locality sketches; the gate
    // here is "meaningfully better than nothing", the exact-agreement
    // tests above pin correctness of what each variant returns
    assert(lsh > 0.05 && ivf1 > 0.05)
    // nprobe is the recall/cost dial: probing a second cell must never
    // lose neighbors found in the first (candidate set is a superset)
    assert(ivf2 >= ivf1)
    assert(byId.nonEmpty)
  }

  test("bruteTopK full tuples match an independently-coded exact ranking (prune parity)") {
    // round 15: scoreTopK pre-prunes per-partition top-k before the
    // window (the q45 sf10 OOM fix). This pins the FULL output tuples
    // — rank order, tie-break, dot, cosine — against a plain-Scala
    // ranking, so a comparator divergence in the prune (not just a
    // recall miss) fails here.
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000).toLong).toArray)
    val expected = rows.filter(_._1 % 50 == 0).sortBy(_._1).flatMap { case (qid, qv) =>
      rows.filter(_._1 != qid).map { case (cid, cv) =>
        val dot = (0 until Embeddings.Dim).map(d => qv(d) * cv(d)).sum
        val cos = dot.toDouble /
          math.sqrt(qv.map(x => x * x).sum.toDouble * cv.map(x => x * x).sum.toDouble)
        (cid, dot, cos)
      }.sortBy { case (cid, _, c) => (-c, cid) }.take(5).zipWithIndex
        .map { case ((cid, dot, cos), i) => (qid, (i + 1).toLong, cid, dot, cos) }
    }
    val got = Embeddings.bruteTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    graft.ops.Caches.releaseAll(spark)
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"got $g expected $e") }
  }

  test("planesFor sizing keeps bucket populations bounded on a 10x corpus") {
    // 10× fixture: 5000 deterministic pseudo-random vectors in the
    // embeddings schema (sf0.001 has 500)
    val n = 5000
    val rnd = new scala.util.Random(42)
    val s = spark
    import s.implicits._
    val fixture = (0 until n).map { id =>
      (id.toLong, Array.fill(Embeddings.Dim)(rnd.nextFloat() * 2f - 1f).toSeq, id % 10)
    }.toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("emb10x").toString
    fixture.coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    // the rule: expected population n / 2^p ≤ target
    val target = 64
    val p = Embeddings.planesFor(n, target)
    // pinned literal, not the formula re-derived (that would be a
    // tautology): ceil(log2(5000/64)) = ceil(6.29) = 7
    assert(p == 7)
    // exact power-of-2 boundaries — where the old ratio-of-logs double
    // form could round to one plane too many and silently diverge from
    // the q34 oracle's integer computation
    assert(Embeddings.planesFor(2048, 64) == 5) // 64·2^5 = 2048 exactly
    assert(Embeddings.planesFor(2049, 64) == 6)
    assert(Embeddings.planesFor(64, 64) == 1)   // p=0 floors at 1
    assert(Embeddings.planesFor(1, 64) == 1)

    def populations(planes: Int): Seq[Long] =
      Embeddings.lshBuckets(spark, tmp, planes)
        .groupBy("bucket").count().collect().map(_.getAs[Long]("count")).toSeq

    val sized = populations(p)
    val fixed4 = populations(4)
    // bucket-population bound: no bucket grows past a small multiple of
    // the target (Rademacher projections of random vectors are near-
    // uniform; 4× absorbs the tail)
    assert(sized.max <= 4L * target,
      s"max bucket ${sized.max} exceeds ${4 * target} with $p planes")
    // and the self-join cost Σ|b|² is provably collision-proportional:
    // sizing planes with N beats the fixed-4 configuration by ~2^(p-4)
    val cost = sized.map(c => c * c).sum
    val cost4 = fixed4.map(c => c * c).sum
    assert(cost * 4 < cost4,
      s"scaled planes should cut pair-generation cost ≥4x: $cost vs $cost4")
  }

  test("cellsFor sizing: exact-integer ceil with the oracle floor and arithmetic-bound room") {
    // pinned literals (not the formula re-derived): ceil(n/targetCell)
    assert(Embeddings.cellsFor(200000, 2048) == 98)
    assert(Embeddings.cellsFor(2048, 2048) == Embeddings.OracleCells)   // floor at oracle shape
    assert(Embeddings.cellsFor(1, 2048) == Embeddings.OracleCells)
    assert(Embeddings.cellsFor(20481, 2048) == 11)  // ceil, not round
    assert(Embeddings.cellsFor(20480, 2048) == Embeddings.OracleCells)  // exact boundary
    // the rule keeps expected cell population far under the
    // MaxCellMembers exact-arithmetic bound at any corpus size
    val n = 100000000000L // 100 B vectors
    assert(n / Embeddings.cellsFor(n) <= 2048L)
    assert(2048L * 4 < Embeddings.MaxCellMembers) // 4x skew head-room
  }

  test("multi-band near-dup pairs: superset of single-band, identical scoring") {
    val one = Embeddings.cosineNearDupPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val two = Embeddings.cosineNearDupPairs(spark, dir, bands = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // band 0 of the 2-band run IS the single-band sketch, so every
    // single-band pair must reappear with the same exact dot/cosine
    assert(one.keySet.subsetOf(two.keySet))
    one.foreach { case (k, v) => assert(two(k) == v, s"pair $k scored differently") }
    info(s"pairs on sf0.001: bands=1 → ${one.size}, bands=2 → ${two.size}")
  }

  test("nearDupClusters: pair endpoints share a cluster, min vec_id survives") {
    val pairs = Embeddings.cosineNearDupPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = Embeddings.nearDupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val cluster = got.map(t => t._1 -> t._2).toMap
    // full-table drop-list: one row per embedding
    assert(got.length == spark.read.parquet(s"$dir/embeddings.parquet").count())
    // both endpoints of every near-dup pair resolve to one cluster
    pairs.foreach { case (a, b) => assert(cluster(a) == cluster(b), s"pair ($a,$b)") }
    // survivor rule: keep ⇔ the row IS its cluster's min id
    got.foreach { case (id, c, keep) => assert(keep == (id == c) && c <= id) }
    // the drop count equals rows minus clusters
    val nDropped = got.count(!_._3)
    assert(nDropped == got.length - cluster.values.toSet.union(
      got.filter(t => t._1 == t._2).map(_._1).toSet).size)
  }

  test("semanticDedup: drop-list contract holds and within-cell pairs resolve") {
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val got = Embeddings.semanticDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // full-table drop-list: one row per embedding
    assert(got.length == spark.read.parquet(s"$dir/embeddings.parquet").count())
    // survivor rule: keep ⇔ the row IS its cluster's min id
    got.foreach { case (id, c, keep) => assert(keep == (id == c) && c <= id) }
    // non-vacuous: the learned cells contain real near-dup pairs at
    // the calibrated threshold, so something is actually dropped
    assert(got.exists(!_._3), "semantic dedup found no within-cell near-dups")
    // cluster ids are cluster members (every cluster's min labels it)
    val members = got.groupBy(_._2)
    members.foreach { case (c, ms) => assert(ms.map(_._1).min == c) }
  }

  test("quantizer persists: train → save → load → serve equals the one-shot q31") {
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val oneShot = Embeddings.ivfTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    graft.ops.Caches.releaseAll(spark)
    val trained = Embeddings.trainQuantizer(spark, dir)
    val art = java.nio.file.Files.createTempDirectory("quant").toString + "/quantizer"
    Embeddings.saveQuantizer(spark, trained, art)
    val loaded = Embeddings.loadQuantizer(spark, art)
    // the parquet round-trip is exact: same ids, SUMS, and counts
    assert(loaded == trained)
    val served = Embeddings.ivfTopKServe(spark, dir, loaded).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served == oneShot)
    graft.ops.Caches.releaseAll(spark)
  }

  test("assignCells: two-level routing — degenerate forms exact, deterministic, high agreement") {
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val cents = Embeddings.trainQuantizer(spark, dir)
    def asMap(nSuper: Int) = Embeddings.assignCells(spark, dir, cents, nSuper)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = asMap(1)
    // nSuper = 1 and nSuper ≥ nCells are the EXACT assignment
    // bit-for-bit (the degenerate-identity contract)
    assert(asMap(cents.size) == exact)
    assert(asMap(100) == exact)
    // real two-level routing: total coverage, only known cells,
    // deterministic replay
    val routed = asMap(3)
    assert(routed.keySet == exact.keySet)
    val cellIds = cents.map(_.j).toSet
    routed.values.foreach(c => assert(cellIds.contains(c)))
    assert(asMap(3) == routed)
    // routing agreement with exact assignment: coarse probes misroute
    // only near super-group boundaries — on this fixture the
    // agreement is high; the floor here is deliberately loose (the
    // property that matters for blocking is "mostly the same cells",
    // not bit-equality — that is what the degenerate contract pins)
    val agree = routed.count { case (k, v) => exact(k) == v }.toDouble / exact.size
    assert(agree >= 0.6, f"two-level routing agreement $agree%.3f < 0.6")
    // guards
    intercept[IllegalArgumentException](Embeddings.assignCells(spark, dir, cents, 0))
    intercept[IllegalArgumentException](Embeddings.assignCells(spark, dir, Seq.empty, 1))
    graft.ops.Caches.releaseAll(spark)
    // the pipeline knob: semanticDedup at a degenerate nSuper equals
    // the exact default bit-for-bit (the end-to-end identity)
    val dflt = Embeddings.semanticDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ops.Caches.releaseAll(spark)
    val degen = Embeddings.semanticDedup(spark, dir, nSuper = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(degen == dflt)
    graft.ops.Caches.releaseAll(spark)
  }

  test("ivfTopKServeRouted: degenerate routing equals the exact serve; real routing stays sane") {
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val cents = Embeddings.trainQuantizer(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    val exact = rows(Embeddings.ivfTopKServe(spark, dir, cents, nprobe = 2))
    graft.ops.Caches.releaseAll(spark)
    // degenerate routing forms reproduce the exact serve bit-for-bit:
    // nSuper ≥ nCells routes through the exact probe; a grouped table
    // probed at nSuperProbe ≥ live groups ranks every member (the
    // NearestCellsProperties identity, here end-to-end)
    assert(rows(Embeddings.ivfTopKServeRouted(spark, dir, cents, nprobe = 2,
      nSuper = 1000, nSuperProbe = 1)) == exact)
    graft.ops.Caches.releaseAll(spark)
    assert(rows(Embeddings.ivfTopKServeRouted(spark, dir, cents, nprobe = 2,
      nSuper = 3, nSuperProbe = 10)) == exact)
    graft.ops.Caches.releaseAll(spark)
    // real routing (3 groups, probe 1): same probe set, k rows each,
    // deterministic replay; recall consequence is measured by
    // RecallReport's serve mode, not asserted here
    val routed = rows(Embeddings.ivfTopKServeRouted(spark, dir, cents, nprobe = 2,
      nSuper = 3, nSuperProbe = 1))
    assert(routed.map(_.head).toSet == exact.map(_.head).toSet)
    assert(routed.groupBy(_.head).values.forall(_.size == 5))
    graft.ops.Caches.releaseAll(spark)
    assert(rows(Embeddings.ivfTopKServeRouted(spark, dir, cents, nprobe = 2,
      nSuper = 3, nSuperProbe = 1)) == routed)
    graft.ops.Caches.releaseAll(spark)
  }

  test("q84 carries the ROUTED probe expression in its analyzed plan (never the exact kernel)") {
    // the graded q84 entry's whole point is exercising the grouped
    // probe kernel through the driver's oracle — if a refactor made
    // probeCellsColTwoLevel silently fall back to the exact expression
    // (nSuper degenerating to <= 1 or >= nCells), q84 would still pass
    // its oracle and certify nothing. Walk the analyzed plan and
    // require a ProbeCells with nSuperProbe >= 1 (the grouped kernel).
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val df = SparkEntry.queries("q84_ivf_routed_serve")(spark, dir)
    val probes = df.queryExecution.analyzed.collect {
      case p => p.expressions.flatMap(_.collect {
        case pc: graft.functions.ProbeCells => pc
      })
    }.flatten
    assert(probes.nonEmpty, "q84's plan carries no ProbeCells expression at all")
    assert(probes.exists(_.nSuperProbe >= 1),
      s"q84 degenerated to the exact probe kernel: ${probes.map(p => (p.nprobe, p.nSuperProbe))}")
    // and the grouped table really has groups to route through
    assert(probes.filter(_.nSuperProbe >= 1).forall(_.table.groupStart.nonEmpty))
    graft.ops.Caches.releaseAll(spark)
  }

  test("buckets are non-degenerate and candidates never include self") {
    val out = Embeddings.annTopK(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(2) != r.getLong(0)))
    // every query doc with any same-bucket peer appears (sf0.001 has 500
    // vectors in 16 buckets — no bucket can be a singleton in practice)
    assert(out.map(_.getLong(0)).distinct.length >= 5)
  }
}
