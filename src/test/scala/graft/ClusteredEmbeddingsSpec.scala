package graft

import graft.tools.GeometryRecall

/** The clustered-geometry fixture (VERDICT r10 #3): deterministic
  * like the rest of ScaleUp, schema-compatible with the driver's
  * embeddings table, and actually CLUSTERED — points sit nearer their
  * own center than any other. Plus the GeometryRecall report contract
  * over it (parseable, recall ∈ [0,1], refine ≥ plain PQ). */
class ClusteredEmbeddingsSpec extends SparkSpec {

  test("generator is deterministic and schema-compatible; clusters are well-separated") {
    val t1 = java.nio.file.Files.createTempDirectory("clust1").toString
    val t2 = java.nio.file.Files.createTempDirectory("clust2").toString
    ClusteredEmbeddings.run(spark, t1, n = 400, nClusters = 8)
    ClusteredEmbeddings.run(spark, t2, n = 400, nClusters = 8)
    def rows(d: String) = spark.read.parquet(s"$d/embeddings.parquet")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toIndexedSeq, r.getInt(2)))
      .sortBy(_._1)
    val (a, b) = (rows(t1), rows(t2))
    assert(a.length == 400 && a.toSeq == b.toSeq, "two runs diverged — generator is not deterministic")

    // schema matches the driver testdata byte-for-byte in names/types
    val want = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").schema
    val got = spark.read.parquet(s"$t1/embeddings.parquet").schema
    assert(got.map(f => (f.name, f.dataType)) == want.map(f => (f.name, f.dataType)),
      s"schema drifted: $got vs $want")

    // label IS the generating cluster, and ≥ 95% of points sit
    // strictly nearer their own center than any other (well-separated
    // at the defaults, yet not exactly 100% by construction — sigma
    // noise can straddle)
    val cs = ClusteredEmbeddings.centers(8, sep = 0.3, seed = 20260814L)
    def d2(v: IndexedSeq[Float], c: IndexedSeq[Double]): Double =
      v.indices.map { i => val t = v(i) - c(i); t * t }.sum
    val nearOwn = a.count { case (id, v, label) =>
      assert(label == (id % 8).toInt)
      val own = d2(v, cs(label))
      cs.indices.filter(_ != label).forall(k => own < d2(v, cs(k)))
    }
    assert(nearOwn >= (a.length * 0.95).toInt,
      s"only $nearOwn/400 points nearest their own center — geometry is not clustered")
  }

  test("GeometryRecall over the clustered fixture: parseable line, sane recalls, refine >= plain PQ") {
    val t = java.nio.file.Files.createTempDirectory("clustrec").toString
    // 500 vectors → same scale as sf0.001, so every family's pinned
    // training defaults apply
    ClusteredEmbeddings.run(spark, t, n = 500, nClusters = 10)
    val line = GeometryRecall.report(spark, t)
    val vals = """"([a-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val keys = Seq("lsh_q27", "ivf_q31", "pq_q77", "pq_balanced_q91",
      "pq_scaled_q80",
      "ivfpq_q79", "sq8_q81", "ivfsq8_q82", "refine_q83", "refine_scaled_q98",
      "ivfpqsq8refine_q85")
    keys.foreach { k =>
      assert(vals.contains(k), s"$k missing from $line")
      assert(vals(k) >= 0.0 && vals(k) <= 1.0, s"$k recall out of range in $line")
    }
    assert(vals("refine_q83") >= vals("pq_q77"),
      s"refine must not lose to the plain ADC ranking it refines: $line")
    // the q98 production sizing (kFor-K codebooks + rFor-r budget) is
    // the clustered-geometry REMEDY row (VERDICT r11 #1): on this
    // geometry it must beat the pinned-dial refine DECISIVELY, not
    // merely tie it — the whole campaign finding is that K=16/r=20
    // collapses here while the sized dials recover. The fixture is
    // seed-pinned (deterministic), measured q83 = 0.56 / q98 = 0.82;
    // the +0.1 margin keeps the assert meaningful (an exact tie would
    // mean the sizing degenerated — review r12) with 2.6× headroom.
    assert(vals("refine_scaled_q98") >= vals("refine_q83") + 0.1,
      s"production sizing no longer decisively beats the pinned dials on clustered geometry: $line")
    // q83's EXACT re-rank provably never loses; the q85 SQ8 re-score
    // is approximate (reconstruction error ~range/255 per dim), so
    // allow one-neighbor slack (10 probes × k=5 → 0.02/neighbor)
    // rather than asserting an unprovable hard ordering
    assert(vals("ivfpqsq8refine_q85") >= vals("ivfpq_q79") - 0.05,
      s"SQ8 refine lost to the routed ADC ranking it refines by more than reconstruction-error slack: $line")
    // SQ8 spends 16x PQ's bytes — its recall floor must hold on this
    // geometry too
    assert(vals("sq8_q81") >= vals("pq_q77"), line)
  }

  test("DiversityReport dial tables are deterministic; triplet yield is monotone in the margin") {
    // VERDICT r11 #7: the q92/q96 dial guidance carries measured
    // tables — this pins (a) both tables are bit-stable across runs
    // (every serve in the chain is exact-integer) and (b) the
    // semi-hard band law: widening the margin can only ADD triplets
    // and anchors (the band [d_pos, d_pos+margin) is inclusion-
    // monotone), so the yield table reads as a budget curve.
    import graft.tools.DiversityReport
    val t = java.nio.file.Files.createTempDirectory("divrep").toString
    ClusteredEmbeddings.run(spark, t, n = 500, nClusters = 10)

    val cov1 = DiversityReport.coverageVsR(spark, t, rs = Seq(10, 20))
    val cov2 = DiversityReport.coverageVsR(spark, t, rs = Seq(10, 20))
    assert(cov1 == cov2, s"coverage-vs-r diverged across runs:\n$cov1\n$cov2")

    val margins = Seq(100000L, 200000L, 400000L)
    val y1 = DiversityReport.tripletYieldVsMargin(spark, t, margins)
    val y2 = DiversityReport.tripletYieldVsMargin(spark, t, margins)
    assert(y1 == y2, s"triplet yield diverged across runs:\n$y1\n$y2")
    val parsed = """"(\d+)":\{"triplets":(\d+),"anchors":(\d+)\}""".r
      .findAllMatchIn(y1).map(m => (m.group(1).toLong, m.group(2).toInt, m.group(3).toInt))
      .toSeq.sortBy(_._1)
    assert(parsed.map(_._1) == margins, s"margins missing from $y1")
    parsed.sliding(2).foreach { case Seq((m1, t1c, a1), (m2, t2c, a2)) =>
      assert(t2c >= t1c, s"triplets fell from $t1c (margin $m1) to $t2c (margin $m2)")
      assert(a2 >= a1, s"anchors fell from $a1 (margin $m1) to $a2 (margin $m2)")
    }
    graft.ops.Caches.releaseAll(spark)
  }
}
