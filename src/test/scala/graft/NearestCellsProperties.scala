package graft

import graft.functions.{CellTable, nearestCells, probeCells, vecDot}
import org.apache.spark.sql.functions.{col, expr}

/** The fused [[NearestCells]] assignment must reproduce the literal
  * expression formulation it replaced bit-for-bit: exact-integer
  * numerator, one IEEE division per member distance (num as double ÷
  * n·n as double·double), exact-Long super distances, first-minimum
  * ties in evaluation order. Pinned here against an independent
  * plain-Scala model over seeded-random corpora INCLUDING engineered
  * exact ties; the q31/q68/q70/q76 oracles gate the same arithmetic
  * end-to-end at sf0.01. */
class NearestCellsProperties extends SparkSpec {

  private val Dim = 64
  private val rnd = new scala.util.Random(20260814)

  private def randVec(bound: Int): IndexedSeq[Long] =
    IndexedSeq.fill(Dim)((rnd.nextInt(2 * bound + 1) - bound).toLong)

  private case class C(j: Long, s: IndexedSeq[Long], n: Long)

  private def modelDist(qv: IndexedSeq[Long], nrm: Long, c: C): Double = {
    var dot = 0L
    var d = 0
    while (d < Dim) { dot += qv(d) * c.s(d); d += 1 }
    val num = c.n * c.n * nrm - 2L * c.n * dot + c.s.map(v => v * v).sum
    num.toDouble / (c.n.toDouble * c.n.toDouble)
  }

  private def modelAssign(qv: IndexedSeq[Long], cents: Seq[C],
                          supers: Seq[C], groups: Seq[Seq[C]]): Long = {
    val nrm = qv.map(v => v * v).sum
    def first(cs: Seq[C]): Long = {
      var best = Double.PositiveInfinity; var bj = cs.head.j
      cs.foreach { c =>
        val d = modelDist(qv, nrm, c)
        if (d < best) { best = d; bj = c.j }
      }
      bj
    }
    if (supers.isEmpty) first(cents)
    else {
      var best = Long.MaxValue; var bg = 0
      supers.zipWithIndex.foreach { case (g, i) =>
        var dot = 0L
        var d = 0
        while (d < Dim) { dot += qv(d) * g.s(d); d += 1 }
        val dist = nrm - 2L * dot + g.s.map(v => v * v).sum
        if (dist < best) { best = dist; bg = i }
      }
      first(groups(bg))
    }
  }

  private def tableOf(cents: Seq[C], supers: Seq[C], groups: Seq[Seq[C]]): CellTable = {
    val ordered = if (groups.isEmpty) cents else groups.flatten
    new CellTable(Dim,
      ordered.map(_.j).toArray, ordered.map(_.n).toArray,
      ordered.flatMap(_.s).toArray,
      ordered.map(c => c.s.map(v => v * v).sum).toArray,
      supers.flatMap(_.s).toArray,
      supers.map(c => c.s.map(v => v * v).sum).toArray,
      if (groups.isEmpty) Array.emptyIntArray
      else groups.scanLeft(0)(_ + _.size).toArray)
  }

  private def run(vecs: Seq[IndexedSeq[Long]], table: CellTable): Seq[Long] = {
    val s = spark
    import s.implicits._
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "qv")
      .withColumn("nrm", vecDot(col("qv"), col("qv")))
      .select(col("id"), nearestCells(col("qv"), col("nrm"), table).as("cell"))
      .collect().sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
  }

  test("exact form matches the model on random corpora (varying n, 200 rounds of rows)") {
    val cents = (0 until 40).map(i =>
      C(i * 7L, randVec(1000), 1L + rnd.nextInt(100))).sortBy(_.j)
    val vecs = Seq.fill(200)(randVec(1000))
    val got = run(vecs, tableOf(cents, Nil, Nil))
    val want = vecs.map(v => modelAssign(v, cents, Nil, Nil))
    assert(got == want)
  }

  test("exact ties break to the first (smallest-id) centroid") {
    // duplicated centroid vectors => exactly equal distances
    val shared = randVec(50)
    val cents = Seq(C(3L, shared, 5L), C(9L, shared, 5L), C(11L, randVec(50), 2L))
    val vecs = Seq.fill(50)(randVec(50))
    val got = run(vecs, tableOf(cents, Nil, Nil))
    val want = vecs.map(v => modelAssign(v, cents, Nil, Nil))
    assert(got == want)
    assert(!got.contains(9L), "a tie resolved away from the first minimum")
  }

  test("ProbeCells returns the nprobe (dist, id)-lexicographic head, incl. ties") {
    val s = spark
    import s.implicits._
    val shared = randVec(200)
    // duplicate centroid vectors with different n so several DISTINCT
    // cells produce exactly equal distances
    val cents = (Seq(C(5L, shared, 3L), C(12L, shared, 3L), C(20L, shared, 3L)) ++
      (0 until 20).map(i => C(30L + i, randVec(200), 1L + rnd.nextInt(40)))).sortBy(_.j)
    val vecs = Seq.fill(120)(randVec(200))
    for (nprobe <- Seq(1, 2, 4, 30)) {
      val table = tableOf(cents, Nil, Nil)
      val got = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "qv")
        .withColumn("nrm", vecDot(col("qv"), col("qv")))
        .select(col("id"), probeCells(col("qv"), col("nrm"), table, nprobe).as("cells"))
        .collect().sortBy(_.getLong(0))
        .map(_.getSeq[Long](1).toList)
      val want = vecs.map { v =>
        val nrm = v.map(x => x * x).sum
        cents.map(c => (modelDist(v, nrm, c), c.j)).sorted.take(nprobe).map(_._2).toList
      }
      assert(got.toSeq == want, s"probe head diverged at nprobe=$nprobe")
    }
  }

  test("two-level form matches the model (supers route, members resolve, ties first)") {
    val groups = (0 until 5).map { g =>
      val base = randVec(800)
      (0 until 8).map(i => C(g * 100L + i, base.map(_ + rnd.nextInt(21) - 10), 1L + rnd.nextInt(50)))
    }
    // super centroid = any representative grid; the CONTRACT under test
    // is routing arithmetic, not how supers were derived
    val supers = groups.zipWithIndex.map { case (ms, g) => C(g.toLong, ms.head.s, 1L) }
    val cents = groups.flatten
    val vecs = Seq.fill(200)(randVec(800))
    val got = run(vecs, tableOf(cents, supers, groups))
    val want = vecs.map(v => modelAssign(v, cents, supers, groups))
    assert(got == want)
  }

  test("adcRow matches the literal floor(dist·scale) per code, in code order") {
    // the PQ family's fused ADC table vs an independent model of the
    // literal column form: one IEEE division, one double multiply,
    // Math.floor — per code, ordered as the cells arrive
    val dim = 16
    def rv(): IndexedSeq[Long] = IndexedSeq.fill(dim)((rnd.nextInt(4001) - 2000).toLong)
    val cents = (0 until 32).map(i => C(i.toLong, rv(), 1L + rnd.nextInt(100)))
    val t = new CellTable(dim,
      cents.map(_.j).toArray, cents.map(_.n).toArray,
      cents.flatMap(_.s).toArray, cents.map(c => c.s.map(v => v * v).sum).toArray,
      Array.emptyLongArray, Array.emptyLongArray, Array.emptyIntArray)
    val scale = graft.ops.Pq.DistScale
    Seq.fill(100)(rv()).foreach { v =>
      val nrm = v.map(x => x * x).sum
      val got = t.adcRow(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray),
        nrm, scale).toLongArray().toSeq
      val want = cents.map { c =>
        var dot = 0L
        var d = 0
        while (d < dim) { dot += v(d) * c.s(d); d += 1 }
        val num = c.n * c.n * nrm - 2L * c.n * dot + c.s.map(x => x * x).sum
        math.floor((num.toDouble / (c.n.toDouble * c.n.toDouble)) * scale.toDouble).toLong
      }
      assert(got == want)
    }
  }

  test("probeGrouped: nSuperProbe >= nGroups reproduces the exact probe bit-for-bit") {
    // the degenerate-form identity the serving router's correctness
    // hangs on: with every group probed, (dist, id)-lexicographic
    // ranking over the group-CONCATENATED layout (ids NOT globally
    // sorted) must equal the exact probe over the id-sorted layout —
    // engineered exact ties included
    val shared = randVec(300)
    val groups = (0 until 4).map { g =>
      (0 until 7).map { i =>
        // scatter ids so group-concatenation order ≠ id order, and
        // plant the shared vector in several groups for cross-group ties
        val id = (i * 4 + g).toLong * 3L
        C(id, if (i == 2) shared else randVec(300), 1L + rnd.nextInt(30))
      }
    }
    val supers = groups.zipWithIndex.map { case (ms, g) => C(g.toLong, ms.head.s, 1L) }
    val grouped = tableOf(groups.flatten, supers, groups)
    val flat = tableOf(groups.flatten.sortBy(_.j), Nil, Nil)
    val vecs = Seq.fill(150)(randVec(300))
    for (nprobe <- Seq(1, 3, 28)) {
      vecs.foreach { v =>
        val qv = new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray)
        val nrm = v.map(x => x * x).sum
        val exact = flat.probe(qv, nrm, nprobe).toLongArray().toSeq
        val routedAll = grouped.probeGrouped(qv, nrm, nprobe, groups.size).toLongArray().toSeq
        assert(routedAll == exact, s"degenerate grouped probe diverged at nprobe=$nprobe")
      }
    }
  }

  test("probeGrouped matches the route-then-rank model at partial nSuperProbe") {
    val groups = (0 until 6).map { g =>
      val base = randVec(600)
      (0 until 5).map(i => C((g * 50 + i * 7).toLong, base.map(_ + rnd.nextInt(11) - 5), 1L + rnd.nextInt(40)))
    }
    val supers = groups.zipWithIndex.map { case (ms, g) => C(g.toLong, ms.head.s, 1L) }
    val grouped = tableOf(groups.flatten, supers, groups)
    val vecs = Seq.fill(150)(randVec(600))
    for (nSuperProbe <- Seq(1, 2, 4); nprobe <- Seq(1, 2, 8)) {
      vecs.foreach { v =>
        val qv = new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray)
        val nrm = v.map(x => x * x).sum
        // model: rank supers by (exact Long dist, group idx), take the
        // head groups, rank their members by (dist, id)
        val gRank = supers.zipWithIndex.map { case (g, i) =>
          var dot = 0L
          var d = 0
          while (d < Dim) { dot += v(d) * g.s(d); d += 1 }
          (nrm - 2L * dot + g.s.map(x => x * x).sum, i)
        }.sorted.take(nSuperProbe).map(_._2)
        val want = gRank.flatMap(groups(_))
          .map(c => (modelDist(v, nrm, c), c.j)).sorted.take(nprobe).map(_._2)
        val got = grouped.probeGrouped(qv, nrm, nprobe, nSuperProbe).toLongArray().toSeq
        assert(got == want, s"routed probe diverged at nSuperProbe=$nSuperProbe nprobe=$nprobe")
      }
    }
  }

  test("flat layouts must arrive strictly id-sorted (the tie-break seam guard)") {
    val cents = Seq(C(9L, randVec(10), 1L), C(3L, randVec(10), 1L))
    intercept[IllegalArgumentException] { tableOf(cents, Nil, Nil) }
    // and equal ids are rejected too (strictly increasing)
    val dup = Seq(C(3L, randVec(10), 1L), C(3L, randVec(10), 1L))
    intercept[IllegalArgumentException] { tableOf(dup, Nil, Nil) }
  }

  test("same-table ProbeCells columns with different nprobe never collide") {
    // two columns over the same table whose expressions differ only in
    // a closed-over parameter: one frame carries both, and each must
    // evaluate under its own parameter.
    val s = spark
    import s.implicits._
    val cents = (0L until 6L).map(j => C(j, randVec(10), 1L))
    val t = tableOf(cents, Nil, Nil)
    val rows = (0 until 20).map(i => (i.toLong, randVec(10)))
    val df = rows.toDF("id", "qv")
      .withColumn("nrm", expr("aggregate(qv, 0L, (a, x) -> a + x * x)"))
    val c1 = probeCells(col("qv"), col("nrm"), t, 1)
    val c3 = probeCells(col("qv"), col("nrm"), t, 3)
    val got = df.select(col("id"), c1.as("p1"), c3.as("p3")).collect()
    rows.foreach { case (id, v) =>
      val nrm = v.map(x => x * x).sum
      val ranked = cents.map(c => (modelDist(v, nrm, c), c.j)).sorted.map(_._2)
      val r = got.find(_.getLong(0) == id).get
      assert(r.getSeq[Long](1) == ranked.take(1), s"nprobe=1 column wrong for id=$id")
      assert(r.getSeq[Long](2) == ranked.take(3), s"nprobe=3 column wrong for id=$id")
    }
  }
}
