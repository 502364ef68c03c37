package graft

import graft.ops.Storage
import org.apache.spark.sql.functions._

/** The serve paths must DELIVER their pruning promise over a
  * `partitionBy` layout, not just write files: the probed-cell filter
  * visible as `PartitionFilters` and non-matching directories never
  * read. The versioned snapshot protocol must publish atomically and
  * survive racing writers. */
class StorageSpec extends SparkSpec {

  /** Shared corruption step of the pruning proofs: make `dirName`
    * under `root` unreadable (garbage parquet), so any scan that
    * OPENS it fails while a pruned scan that never lists it
    * succeeds. */
  private def corruptPartition(root: String, dirName: String): Unit = {
    val d = new java.io.File(s"${root.stripPrefix("file:")}/$dirName")
    d.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    java.nio.file.Files.write(
      new java.io.File(d, "part-corrupt.snappy.parquet").toPath,
      "not a parquet file".getBytes)
    ()
  }

  test("IVFADC codes persisted partitionBy(cell): probed-cell reads prune at listing time") {
    // the q79 100 TB claim made concrete: the routed codes relation
    // persists partitioned by cell, so a serve touching nprobe cells
    // never LISTS (let alone reads) the other cells' directories —
    // and the q79 serve over the storage round-trip is bit-identical
    // to the serve over the in-memory relation
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val (cents, books) = graft.ops.Pq.trainIvfPq(spark, dir)
    val codes = graft.ops.Pq.ivfPqCodes(spark, dir, cents, books)
    val root = java.nio.file.Files.createTempDirectory("ivfpqcodes").toString + "/codes"
    codes.write.mode("overwrite").partitionBy("cell").parquet(root)

    val probed = cents.map(_.j).take(2)
    val full = spark.read.parquet(root)
    val pruned = full.filter(col("cell").isin(probed: _*))
    // the cell predicate must land INSIDE the PartitionFilters
    // brackets (a bare "PartitionFilters:" prints on every
    // partitioned scan, even empty — review r9 caught the vacuous
    // form of this assert)
    val scan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).isDefined, scan)

    val wantRows = codes.filter(col("cell").isin(probed: _*))
      .collect().map(_.toString).sorted.toSeq
    assert(pruned.collect().map(_.toString).sorted.toSeq == wantRows)

    // the SERVE over the storage round-trip is bit-identical to the
    // serve over the in-memory relation (catches e.g. the partition
    // column's long -> int discovery-on-read type change biting the
    // cell equi-join)
    val qvecs = graft.ops.Embeddings.quantized(spark, dir)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("qv"))
    val servedMem = graft.ops.Pq.ivfPqServe(codes, cents, books, qvecs,
        k = 5, nprobe = 2, excludeSelf = true)
      .collect().map(_.toString).sorted.toSeq
    val servedDisk = graft.ops.Pq.ivfPqServe(full, cents, books, qvecs,
        k = 5, nprobe = 2, excludeSelf = true)
      .collect().map(_.toString).sorted.toSeq
    assert(servedMem == servedDisk,
      "q79 serve diverged across the partitioned-storage round-trip")

    // behavioral proof: corrupt an UNPROBED cell's data file — the
    // pruned read still succeeds, the full scan fails
    val other = cents.map(_.j).filterNot(probed.contains).head
    corruptPartition(root, s"cell=$other")
    assert(spark.read.parquet(root)
      .filter(col("cell").isin(probed: _*))
      .collect().map(_.toString).sorted.toSeq == wantRows)
    intercept[Exception] {
      spark.read.parquet(root).agg(sum(col("c0"))).collect()
    }
    graft.ops.Caches.releaseAll(spark)
  }

  test("IVFADC SERVE PATH prunes partitioned codes at listing time (no hand-written isin)") {
    // VERDICT r9 #2: the previous test proves the LAYOUT prunes under
    // a hand-written filter; this proves the serve itself injects the
    // probed-cell set as a static filter, so the production
    // partitioned-by-cell deployment reads nprobe/nCells of the FILES
    // through Pq.ivfPqServe — plan assert AND behavioral proof
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val (cents, books) = graft.ops.Pq.trainIvfPq(spark, dir)
    val codes = graft.ops.Pq.ivfPqCodes(spark, dir, cents, books)
    val root = java.nio.file.Files.createTempDirectory("ivfpqserve").toString + "/codes"
    codes.write.mode("overwrite").partitionBy("cell").parquet(root)
    val full = spark.read.parquet(root)

    // ONE external query → nprobe=2 of the 10 cells probed, 8 not
    val one = graft.ops.Embeddings.quantized(spark, dir)
      .filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("qv"))
    val served = graft.ops.Pq.ivfPqServe(full, cents, books, one, k = 5, nprobe = 2)
    // the cell predicate lands INSIDE PartitionFilters on the codes
    // scan — through the serve path, no test-side filter
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)
    val want = served.collect().map(_.toString).toSeq
    assert(want.size == 5)

    // behavioral: corrupt a cell the serve's own probed set excludes —
    // derived through Sq.probeRows, the probe ranking ivfPqServe itself
    // runs — so the serve never lists it and still returns identical
    // rows, while an unpruned full scan fails on the bad footer
    val probed = graft.ops.Sq.probeRows(one, cents.sortBy(_.j), 2)
      .map(_.getAs[Long]("cell")).toSet
    assert(probed.size == 2)
    val unprobed = cents.map(_.j).filterNot(probed.contains).head
    corruptPartition(root, s"cell=$unprobed")
    val again = graft.ops.Pq.ivfPqServe(spark.read.parquet(root),
      cents, books, one, k = 5, nprobe = 2)
    assert(again.collect().map(_.toString).toSeq == want,
      "serve result changed across the corruption — it must never read unprobed cells")
    intercept[Exception] {
      spark.read.parquet(root).agg(sum(col("c0"))).collect()
    }
    graft.ops.Caches.releaseAll(spark)
  }

  test("IVF+SQ8 SERVE PATH prunes partitioned codes at listing time (no hand-written isin)") {
    // the q82 twin of the IVFADC serve-path proof: ivfSq8Serve injects
    // its probed-cell set as a static filter on the codes scan, so the
    // production partitioned-by-cell deployment reads nprobe/nCells of
    // the FILES through the serve path — plan assert AND behavioral
    // corruption proof. The probed set is derived through Sq.probeRows,
    // the probe ranking both routed serves (q79 and q82) run, so the
    // spec and the serves cannot drift on what "probed" means.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val (cents, mins, maxs) = graft.ops.Sq.trainIvfSq8(spark, dir)
    val codes = graft.ops.Sq.ivfSq8Codes(spark, dir, cents, mins, maxs)
    val root = java.nio.file.Files.createTempDirectory("ivfsqserve").toString + "/codes"
    codes.write.mode("overwrite").partitionBy("cell").parquet(root)
    val full = spark.read.parquet(root)

    val one = graft.ops.Embeddings.quantized(spark, dir)
      .filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("qv"))
    val served = graft.ops.Sq.ivfSq8Serve(full, cents, mins, maxs, one, k = 5, nprobe = 2)
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)
    val want = served.collect().map(_.toString).toSeq
    assert(want.size == 5)

    val probed = graft.ops.Sq.probeRows(one, cents.sortBy(_.j), 2)
      .map(_.getAs[Long]("cell")).toSet
    assert(probed.size == 2)
    val unprobed = cents.map(_.j).filterNot(probed.contains).head
    corruptPartition(root, s"cell=$unprobed")
    val again = graft.ops.Sq.ivfSq8Serve(spark.read.parquet(root),
      cents, mins, maxs, one, k = 5, nprobe = 2)
    assert(again.collect().map(_.toString).toSeq == want,
      "serve result changed across the corruption — it must never read unprobed cells")
    intercept[Exception] {
      spark.read.parquet(root).agg(sum(size(col("codes")))).collect()
    }
    graft.ops.Caches.releaseAll(spark)
  }

  test("REFINE SERVE PATH prunes BOTH partitioned tiers at listing time (q85)") {
    // the composed twin of the q79/q82 serve-path proofs: q85 reads
    // TWO compressed tiers (routed ADC codes for candidates, SQ8
    // codes for refinement) and its serve must inject the probed-cell
    // static filter into BOTH — corrupting an unprobed cell in EITHER
    // tier must leave the served result bit-identical.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val (cents, books) = graft.ops.Pq.trainIvfPq(spark, dir)
    val (cents2, mins, maxs) = graft.ops.Sq.trainIvfSq8(spark, dir)
    assert(cents.map(c => (c.j, c.n, c.s)) == cents2.map(c => (c.j, c.n, c.s)),
      "the pinned coarse trajectory must be deterministic across the two train entries")
    val pqRoot = java.nio.file.Files.createTempDirectory("refsrvA").toString + "/pq"
    val sqRoot = java.nio.file.Files.createTempDirectory("refsrvB").toString + "/sq"
    graft.ops.Pq.ivfPqCodes(spark, dir, cents, books)
      .write.mode("overwrite").partitionBy("cell").parquet(pqRoot)
    graft.ops.Sq.ivfSq8Codes(spark, dir, cents, mins, maxs)
      .write.mode("overwrite").partitionBy("cell").parquet(sqRoot)

    val one = graft.ops.Embeddings.quantized(spark, dir)
      .filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("qv"))
    def serve() = graft.ops.Sq.ivfPqSq8RefineServe(
      spark.read.parquet(pqRoot), spark.read.parquet(sqRoot),
      cents, books, mins, maxs, one, k = 5, nprobe = 2)
    val served = serve()
    // BOTH scans carry the probed-cell predicate in PartitionFilters
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findAllIn(plan).size >= 2, plan)
    val want = served.collect().map(_.toString).toSeq
    assert(want.size == 5)

    val probed = graft.ops.Sq.probeRows(one, cents.sortBy(_.j), 2)
      .map(_.getAs[Long]("cell")).toSet
    assert(probed.size == 2)
    val unprobed = cents.map(_.j).filterNot(probed.contains).head
    corruptPartition(pqRoot, s"cell=$unprobed")
    corruptPartition(sqRoot, s"cell=$unprobed")
    assert(serve().collect().map(_.toString).toSeq == want,
      "refine serve changed across the corruption — it must never read unprobed cells in either tier")
    intercept[Exception] {
      spark.read.parquet(pqRoot).agg(sum(col("c0"))).collect()
    }
    intercept[Exception] {
      spark.read.parquet(sqRoot).agg(sum(size(col("codes")))).collect()
    }
    graft.ops.Caches.releaseAll(spark)
  }

  test("FROZEN INGEST through the snapshot protocol: base publish + delta upsert serve bit-identically to q87's one-pass encode") {
    // the q87 production loop made real: the base tranche's codes are
    // PUBLISHED as snapshot v1, the delta tranche's codes (encoded
    // against the SAME frozen artifacts — including clamp saturation
    // where delta residuals drifted past the frozen bounds, SqSpec
    // proves the fixture drifts) are UPSERTED as v2, and serving off
    // the newest-committed resolution must return exactly the rows of
    // the graded q87 query, which encodes everything in one pass.
    // Because Sq.encode is row-local, any divergence here is a
    // protocol defect (lost rows, duplicate keys, partial snapshot),
    // not a quantization one.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val (cents, mins, maxs) = graft.ops.Sq.trainFrozenIvfSq8(spark, dir)
    val full = graft.ops.Sq.ivfSq8Codes(spark, dir, cents, mins, maxs)
    val isBase = col("vec_id") % 5 =!= 4
    val root = java.nio.file.Files.createTempDirectory("frozeningest").toString + "/codes"
    val v1 = Storage.upsertSnapshot(spark, root, full.filter(isBase), "vec_id")
    val v2 = Storage.upsertSnapshot(spark, root, full.filter(!isBase), "vec_id")
    assert(v1 != v2)
    graft.ops.Caches.releaseAll(spark)

    val probes = graft.ops.Embeddings.quantized(spark, dir)
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < graft.ops.Pq.ProbeCap)
      .select(col("vec_id").as("q_id"), col("qv"))
    val served = graft.ops.Sq.ivfSq8Serve(
        Storage.readSnapshot(spark, root), cents, mins, maxs,
        probes, k = 5, nprobe = 2, excludeSelf = true)
      .collect().map(_.toString).sorted.toSeq
    graft.ops.Caches.releaseAll(spark)
    val direct = graft.ops.Sq.ivfSq8FrozenIngestTopK(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    graft.ops.Caches.releaseAll(spark)
    assert(served == direct,
      "snapshot-refreshed serve diverged from the one-pass frozen-ingest encode")
  }

  test("ANN serveQueryBatch prunes a partitioned index at listing time through the serve path") {
    // the q31-family twin of the IVFADC serve-path proof: the
    // cell-assigned serving index persists partitioned by cell, and
    // serveQueryBatch's static probed-cell filter (round 10) must land
    // in PartitionFilters and never list unprobed cells. The probed
    // set is derived here INDEPENDENTLY (plain-Scala scaledDist + the
    // (dist, id) ranking), so the test cannot inherit a serve-side bug.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, "testdata not present")
    val cents = graft.ops.Embeddings.trainQuantizer(spark, dir).sortBy(_.j)
    val index = graft.ops.Embeddings.serveIndex(spark, dir, cents)
    val root = java.nio.file.Files.createTempDirectory("annindex").toString + "/index"
    index.write.mode("overwrite").partitionBy("cell").parquet(root)
    val full = spark.read.parquet(root)

    val one = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val served = graft.ops.Embeddings.serveQueryBatch(full, cents, one, k = 5, nprobe = 2)
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined, plan)
    val want = served.collect().map(_.toString).toSeq
    assert(want.size == 5)

    // independent probed-set derivation: exact scaled distance to each
    // centroid, (dist, id)-lexicographic, take nprobe
    val qv = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0L).select("embedding").collect()(0)
      .getSeq[Float](0).map(x => math.floor(x.toDouble * 1000).toLong).toIndexedSeq
    val nrm = qv.map(x => x * x).sum
    def cellDist(c: graft.ops.Embeddings.Centroid): Double = {
      var dot = 0L
      var d = 0
      while (d < qv.length) { dot += qv(d) * c.s(d); d += 1 }
      (c.n * c.n * nrm - 2L * c.n * dot + c.s.map(x => x * x).sum).toDouble /
        (c.n.toDouble * c.n.toDouble)
    }
    val probed = cents.map(c => (cellDist(c), c.j)).sorted.take(2).map(_._2).toSet
    val unprobed = cents.map(_.j).filterNot(probed.contains).head
    corruptPartition(root, s"cell=$unprobed")
    val again = graft.ops.Embeddings.serveQueryBatch(
      spark.read.parquet(root), cents, one, k = 5, nprobe = 2)
    assert(again.collect().map(_.toString).toSeq == want,
      "serve result changed across the corruption — it must never read unprobed cells")
    intercept[Exception] {
      spark.read.parquet(root).agg(sum(col("c_n"))).collect()
    }
    graft.ops.Caches.releaseAll(spark)
  }

  test("upsertSnapshot: versioned copy-on-write merge with atomic publish") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftsnap").toString + "/corpus"
    def rel(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap

    // v1: initial load into an empty root
    val v1 = Storage.upsertSnapshot(spark, root,
      Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text"), "doc_id")
    assert(v1.endsWith("/v1"))
    assert(rel(Storage.readSnapshot(spark, root)) ==
      Map(1L -> "one", 2L -> "two", 3L -> "three"))

    // v2: update key 2, tombstone key 3, insert key 4 — and key 1
    // with a NULL delete flag (an outer-join-built update set): null
    // means "not a delete", so key 1 is an update, never a tombstone
    val updates = Seq(
      (1L, "ONE", None: Option[Boolean]),
      (2L, "TWO", Some(false)), (3L, "", Some(true)), (4L, "four", Some(false))
    ).toDF("doc_id", "text", "deleted")
    val v2 = Storage.upsertSnapshot(spark, root, updates, "doc_id", Some("deleted"))
    assert(v2.endsWith("/v2"))
    assert(rel(Storage.readSnapshot(spark, root)) ==
      Map(1L -> "ONE", 2L -> "TWO", 4L -> "four"))
    // the superseded snapshot is untouched (a concurrent v1 scan
    // would have finished cleanly)
    assert(rel(spark.read.parquet(v1)) == Map(1L -> "one", 2L -> "two", 3L -> "three"))

    // a crashed writer's marker-less directory is invisible to readers
    val partial = new java.io.File(s"$root/v3")
    assert(partial.mkdirs())
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/v3/part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(rel(Storage.readSnapshot(spark, root)) ==
      Map(1L -> "ONE", 2L -> "TWO", 4L -> "four"))
    // and the next successful upsert publishes past it
    val v4 = Storage.upsertSnapshot(spark, root,
      Seq((5L, "five")).toDF("doc_id", "text"), "doc_id")
    assert(v4.endsWith("/v4"))
    assert(rel(Storage.readSnapshot(spark, root))(5L) == "five")

    // a FAILED upsert must not leave its .staging work directory
    // behind: invisible to readers, but it would accumulate across
    // every failed nightly refresh. Force a write-time failure with
    // an update batch whose evaluation throws mid-job.
    def stagingDirs(): Seq[String] =
      Option(new java.io.File(root).list()).toSeq.flatten.filter(_.startsWith(".staging"))
    val poison = org.apache.spark.sql.functions.udf { (id: Long) =>
      if (id == 6L) throw new IllegalStateException("poison row") else id
    }
    val bad = Seq((6L, "boom")).toDF("doc_id", "text")
      .withColumn("doc_id", poison(col("doc_id")))
    intercept[Exception] {
      Storage.upsertSnapshot(spark, root, bad, "doc_id")
    }
    assert(stagingDirs().isEmpty,
      s"failed upsert leaked staging dirs: ${stagingDirs()}")
    // the snapshot chain is undisturbed and the next upsert still works
    assert(rel(Storage.readSnapshot(spark, root))(5L) == "five")
    val v5 = Storage.upsertSnapshot(spark, root,
      Seq((6L, "six")).toDF("doc_id", "text"), "doc_id")
    assert(v5.endsWith("/v5"))
  }

  test("compactSnapshot: small files merge, data identical, idle compaction is a no-op, chain continues") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftcompact").toString + "/corpus"
    def dataFiles(dir: String): Seq[java.io.File] =
      new java.io.File(dir.stripPrefix("file:")).listFiles().toSeq
        .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
    def rel(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap

    // v1: a fragmented snapshot (20 part files for 200 rows — the
    // post-ingest shape compaction exists for)
    val rows = (1L to 200L).map(i => (i, s"text $i"))
    Storage.upsertSnapshot(spark, root, rows.toDF("doc_id", "text").repartition(20), "doc_id")
    val v1 = graft.stream.StreamingNearDedup.resolveSnapshot(spark, root)
    assert(dataFiles(v1).size == 20)

    // compact with a large target → ONE file, same data, next version
    val v2 = Storage.compactSnapshot(spark, root, targetFileBytes = 1L << 30)
    assert(v2.endsWith("/v2"))
    assert(dataFiles(v2).size == 1)
    assert(rel(Storage.readSnapshot(spark, root)) == rows.toMap)
    // the superseded fragmented snapshot is untouched (concurrent
    // readers of v1 finish cleanly)
    assert(dataFiles(v1).size == 20)

    // idle compaction is a NO-OP: same version back, no chain growth
    assert(Storage.compactSnapshot(spark, root, targetFileBytes = 1L << 30) == v2)
    assert(!new java.io.File(root.stripPrefix("file:") + "/v3").exists())

    // splitting is NOT compaction: a 1-file snapshot under a small
    // target stays a no-op (count already ≤ ceil(bytes/target) is
    // impossible here — count 1 is always ≤ want ≥ 1)
    val bytes = dataFiles(v2).map(_.length()).sum
    assert(Storage.compactSnapshot(spark, root, targetFileBytes = (bytes + 2) / 3) == v2)

    // re-fragment via the upsert chain (a 20-partition batch of new
    // keys — the nightly-drop shape), then a SIZE-derived multi-file
    // target: ceil(bytes/target) files
    val more = (201L to 400L).map(i => (i, s"text $i"))
    val v3 = Storage.upsertSnapshot(spark, root,
      more.toDF("doc_id", "text").repartition(20), "doc_id")
    assert(v3.endsWith("/v3") && dataFiles(v3).size > 3)
    val allRows = rows.toMap ++ more.toMap
    val v3bytes = dataFiles(v3).map(_.length()).sum
    val v4 = Storage.compactSnapshot(spark, root, targetFileBytes = (v3bytes + 2) / 3)
    assert(v4.endsWith("/v4"))
    assert(dataFiles(v4).size == 3)
    assert(rel(Storage.readSnapshot(spark, root)) == allRows)

    // the upsert chain continues past a compaction version
    val v5 = Storage.upsertSnapshot(spark, root,
      Seq((401L, "newer")).toDF("doc_id", "text"), "doc_id")
    assert(v5.endsWith("/v5"))
    assert(rel(Storage.readSnapshot(spark, root)) == allRows + (401L -> "newer"))

    // no committed snapshot → loud failure, not a silent empty publish
    intercept[IllegalArgumentException] {
      Storage.compactSnapshot(spark, java.nio.file.Files
        .createTempDirectory("graftempty").toString + "/none")
    }
  }

  test("compaction racing an upsert ABORTS instead of shadowing the upsert's version") {
    // review r10 finding: a compaction that loses the rename race and
    // blindly retries would republish its (pre-upsert) rewrite as a
    // NEWER version, silently dropping the upsert's rows for every
    // reader. Exercised deterministically through the compactFrom
    // seam: the source version is superseded before publish → the
    // compaction must abort, return the newer version, and add NO
    // version to the chain.
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftrace").toString + "/corpus"
    Storage.upsertSnapshot(spark, root,
      (1L to 100L).map(i => (i, s"text $i")).toDF("doc_id", "text").repartition(10), "doc_id")
    val v1 = graft.stream.StreamingNearDedup.resolveSnapshot(spark, root)
    assert(v1.endsWith("/v1"))
    // the competitor lands first (as if mid-rewrite)
    val v2 = Storage.upsertSnapshot(spark, root,
      Seq((101L, "from the upsert")).toDF("doc_id", "text"), "doc_id")
    assert(v2.endsWith("/v2"))
    // compaction still sourced from v1 must ABORT and surface v2
    val got = Storage.compactFrom(spark, root, v1, targetFileBytes = 1L << 30)
    assert(got == v2, s"compaction returned $got — it must yield to the newer version")
    assert(!new java.io.File(root.stripPrefix("file:") + "/v3").exists(),
      "aborted compaction must not grow the version chain")
    // the upsert's row is intact for readers
    val rows = Storage.readSnapshot(spark, root).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(rows(101L) == "from the upsert" && rows.size == 101)
    // and no staging residue
    assert(Option(new java.io.File(root.stripPrefix("file:")).list()).toSeq.flatten
      .forall(!_.startsWith(".staging")))
  }

  test("compaction publish target is PINNED to source+1: an occupied slot aborts, never skips ahead") {
    // ADVICE r10 (high): the old guard re-checked supersession before
    // renaming to the NEXT FREE slot — a competitor landing in the
    // check→rename window made nextFree() skip past it and the stale
    // rewrite shadowed the upsert. The fix pins the rewrite's target
    // to exactly v(source+1): ANY occupant of that slot (committed
    // competitor or marker-less leftover) collides on the rename and
    // the compaction aborts. Deterministic proof: occupy v2 with a
    // marker-less directory — under the old nextFree() behavior the
    // compaction would publish v3; pinned, it must abort and leave
    // the chain untouched.
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftpin").toString + "/corpus"
    Storage.upsertSnapshot(spark, root,
      (1L to 100L).map(i => (i, s"text $i")).toDF("doc_id", "text").repartition(10), "doc_id")
    val v1 = graft.stream.StreamingNearDedup.resolveSnapshot(spark, root)
    assert(v1.endsWith("/v1"))
    // occupy the pinned slot with a crashed writer's marker-less dir:
    // resolveSnapshot still says v1, so the old pre-rename check alone
    // would NOT abort — only the pinned-target occupancy check catches
    // this. (And rename alone would NOT have saved us: Hadoop local /
    // posix rename REPLACES an empty target dir, returning true.)
    assert(new java.io.File(root.stripPrefix("file:") + "/v2").mkdirs())
    val got = Storage.compactFrom(spark, root, v1, targetFileBytes = 1L << 30)
    assert(got == v1, s"compaction returned $got — occupied pinned slot must abort to the source")
    assert(!new java.io.File(root.stripPrefix("file:") + "/v3").exists(),
      "compaction skipped past the occupied slot — the rewrite published off its source")
    assert(new java.io.File(root.stripPrefix("file:") + "/v2").list().isEmpty,
      "the occupied slot must be untouched by the aborted publish")
    // no staging residue from the aborted publish
    assert(Option(new java.io.File(root.stripPrefix("file:")).list()).toSeq.flatten
      .forall(!_.startsWith(".staging")))
    // data undisturbed
    assert(Storage.readSnapshot(spark, root).count() == 100L)

    // NON-EMPTY occupant (the other rename hazard: posix/HDFS rename
    // moves the source INTO a non-empty target as a child, returning
    // true): still an abort, and the occupant keeps exactly its own
    // content — no swallowed staging child
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root.stripPrefix("file:") + "/v2/part-junk.parquet"),
      Array[Byte](1, 2, 3))
    val got2 = Storage.compactFrom(spark, root, v1, targetFileBytes = 1L << 30)
    assert(got2 == v1, s"compaction returned $got2 — occupied pinned slot must abort to the source")
    assert(new java.io.File(root.stripPrefix("file:") + "/v2").list().toSeq == Seq("part-junk.parquet"),
      "the aborted publish leaked content into the occupied slot")
    assert(Option(new java.io.File(root.stripPrefix("file:")).list()).toSeq.flatten
      .forall(!_.startsWith(".staging")))
  }

  test("vacuumSnapshots: grace window kept, debris removed, pinned kept readers unaffected, idempotent") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftvac").toString + "/corpus"
    def ver(n: Long): String = root.stripPrefix("file:") + s"/v$n"
    def exists(n: Long): Boolean = new java.io.File(ver(n)).exists()
    // build a 5-version chain (the nightly-loop shape)
    (1 to 5).foreach { i =>
      Storage.upsertSnapshot(spark, root,
        Seq((i.toLong, s"text $i")).toDF("doc_id", "text"), "doc_id")
    }
    // crash debris: an old version without its marker — simulate by
    // stripping v1's (non-version-named dirs are out of scope of the
    // protocol entirely)
    val marker = new java.io.File(ver(1), "_SUCCESS")
    assert(marker.delete(), "fixture: strip v1's marker to make crash debris")

    // a reader PINNED to a kept version before the vacuum
    val pinned = spark.read.parquet(ver(4))

    val deleted = Storage.vacuumSnapshots(spark, root, keepLast = 2)
    // kept: v5 (newest committed) + v4 (grace); deleted: v1 (debris),
    // v2, v3
    assert(deleted.map(p => p.substring(p.lastIndexOf('/') + 1)).sorted == Seq("v1", "v2", "v3"),
      s"vacuum deleted $deleted")
    assert(!exists(1) && !exists(2) && !exists(3) && exists(4) && exists(5))
    // newest-complete resolution is undisturbed
    assert(graft.stream.StreamingNearDedup.resolveSnapshot(spark, root).endsWith("/v5"))
    assert(Storage.readSnapshot(spark, root).count() == 5)
    // the pinned kept reader still scans cleanly
    assert(pinned.count() == 4)

    // idempotent retry: nothing left to delete, chain unchanged
    assert(Storage.vacuumSnapshots(spark, root, keepLast = 2).isEmpty)
    assert(exists(4) && exists(5))

    // a crashed vacuum (some victims already gone) retries cleanly:
    // recreate an old version dir to play the "not yet deleted" victim
    assert(new java.io.File(ver(2)).mkdirs())
    assert(Storage.vacuumSnapshots(spark, root, keepLast = 2)
      .map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("v2"))

    // a marker-less v-dir NEWER than the newest committed version is
    // DEBRIS too (protocol publishes appear atomically WITH their
    // marker — there is no in-flight marker-less state) and removing
    // it un-wedges a compaction pinned to that slot (review r11)
    assert(new java.io.File(ver(6)).mkdirs())
    assert(Storage.vacuumSnapshots(spark, root, keepLast = 1)
      .map(p => p.substring(p.lastIndexOf('/') + 1)).sorted == Seq("v4", "v6"))
    assert(exists(5) && !exists(6))
    // the v6 slot is free again — a compaction pinned to v(5+1) can
    // claim it on its next schedule — and resolution is undisturbed
    assert(graft.stream.StreamingNearDedup.resolveSnapshot(spark, root).endsWith("/v5"))

    // keepLast must keep at least the newest
    intercept[IllegalArgumentException] {
      Storage.vacuumSnapshots(spark, root, keepLast = 0)
    }
    // a flat (no versions) root is a no-op
    val flat = java.nio.file.Files.createTempDirectory("graftvacflat").toString
    assert(Storage.vacuumSnapshots(spark, flat, keepLast = 2).isEmpty)

    // a FOREIGN committed directory that out-sorts the v-scheme makes
    // the newest snapshot non-protocol-named: vacuum must refuse to
    // reason about ordering (no-op, no crash, nothing deleted) while
    // readSnapshot keeps working on the same root
    assert(new java.io.File(root.stripPrefix("file:") + "/x_backup").mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root.stripPrefix("file:") + "/x_backup/_SUCCESS"),
      Array.empty[Byte])
    assert(graft.stream.StreamingNearDedup.resolveSnapshot(spark, root).endsWith("/x_backup"))
    assert(Storage.vacuumSnapshots(spark, root, keepLast = 1).isEmpty,
      "vacuum must no-op when the newest committed dir is not v-named")
    assert(exists(5), "vacuum deleted under a foreign newest dir")
  }

  test("rename-semantics probe: Hadoop local rename does NOT fail on existing dir targets") {
    // The documentation proof behind the token-verified publish: on
    // the local filesystem (and HDFS), rename(srcDir, existingDir)
    // returns TRUE — replacing an EMPTY target, and moving src INTO a
    // non-empty target as a child. If either behavior ever changes to
    // plain failure, the token dance becomes redundant (not wrong);
    // if it changes to something else again, this fails loudly.
    val conf = spark.sparkContext.hadoopConfiguration
    val root = java.nio.file.Files.createTempDirectory("renameprobe").toString
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    def mkdirWith(p: String, files: String*): Unit = {
      val d = new java.io.File(root, p); d.mkdirs()
      files.foreach(f => java.nio.file.Files.write(new java.io.File(d, f).toPath, "x".getBytes))
    }
    mkdirWith("src1", "a.txt"); mkdirWith("dst1")
    assert(fs.rename(new org.apache.hadoop.fs.Path(root, "src1"),
      new org.apache.hadoop.fs.Path(root, "dst1")),
      "empty-dir target no longer replaced — revisit the publish token dance")
    assert(new java.io.File(root, "dst1").list().toSeq == Seq("a.txt"))
    mkdirWith("src2", "b.txt"); mkdirWith("dst2", "existing.txt")
    assert(fs.rename(new org.apache.hadoop.fs.Path(root, "src2"),
      new org.apache.hadoop.fs.Path(root, "dst2")),
      "non-empty-dir target no longer swallows the source — revisit the publish token dance")
    assert(new java.io.File(root, "dst2").list().toSet == Set("src2", "existing.txt"))
  }

  test("upsertSnapshot under a live refreshing stream: no micro-batch sees a partial or mixed snapshot") {
    // Storage.upsertSnapshot and StreamingNearDedup share one
    // snapshot protocol (versioned subdirs + _SUCCESS, staging dirs
    // hidden, atomic rename publish). This runs the nightly-rebuild
    // upsert UNDER a live refreshing stream and asserts the
    // composition: every micro-batch's matches correspond to exactly
    // ONE committed version — never a half-written directory (missing
    // part files ⇒ subset) and never files from two versions (⇒
    // superset/mixed ids).
    import graft.stream.StreamingNearDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graftsnaprace").toString + "/index"
    val alpha = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def versionIds(v: Int): Set[Long] = (1 to 3).map(k => v * 1000L + k).toSet
    def indexRows(v: Int) = StreamingNearDedup.simhashIndex(
      versionIds(v).toSeq.sorted.map(id => (id, alpha)).toDF("doc_id", "text"))

    Storage.upsertSnapshot(spark, root, indexRows(1), "idx_doc_id")
    val lastVersion = 6

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = StreamingNearDedup.nearDupMatchesRefreshing(
      input.toDF().toDF("ts", "doc_id", "text"), root,
      java.nio.file.Files.createTempDirectory("graftsnaprace-ckpt").toString) { m =>
      batches.add(m.collect().map(_.getAs[Long]("match_id")).toSet)
    }
    try {
      def probe(i: Int): Unit = {
        input.addData((java.sql.Timestamp.valueOf(f"2026-01-01 11:${i}%02d:00"),
          500L + i, alpha))
        q.processAllAvailable()
      }
      probe(1) // before any rebuild: must see v1 exactly
      // nightly rebuilds v2..v6 racing the stream: each upsert
      // tombstones the previous version's docs and inserts its own,
      // so each COMMITTED snapshot's alpha-match set is exactly one
      // version's ids
      val writer = new Thread(() => {
        for (v <- 2 to lastVersion) {
          Storage.upsertSnapshot(spark, root,
            indexRows(v).withColumn("deleted", lit(false))
              .unionByName(indexRows(v - 1).withColumn("deleted", lit(true))),
            "idx_doc_id", Some("deleted"))
          Thread.sleep(30)
        }
      })
      writer.start()
      var i = 2
      while (writer.isAlive && i < 40) { probe(i); i += 1 }
      writer.join()
      probe(i) // after the last rebuild: must see the final version
      val seen = batches.toArray(Array.empty[Set[Long]]).toSeq
      val committed = (1 to lastVersion).map(versionIds)
      seen.foreach(b => assert(committed.contains(b),
        s"micro-batch saw id-set $b — not any committed snapshot " +
          "(partial directory or mixed versions)"))
      assert(seen.head == versionIds(1))
      assert(seen.last == versionIds(lastVersion))
      assert(seen.distinct.size >= 2, "the race window was never exercised")
    } finally q.stop()
  }

  test("artifact lifecycle: publish, retrain-swap, pinned reader, vacuum — on a real quantizer") {
    // the index-rebuild story the frozen-ingest operators (q87/q95)
    // defer: a retrain publishes the NEXT artifact version atomically,
    // new serving jobs resolve it, in-flight jobs keep their pinned
    // version until the vacuum grace expires
    import graft.ops.Embeddings
    import graft.ops.Embeddings.Centroid
    val root = java.nio.file.Files.createTempDirectory("graftart").toString + "/quantizer"
    def cents(seed: Long): Seq[Centroid] =
      (0L until 4L).map(j => Centroid(j, Seq.tabulate(64)(d => seed + j * 64 + d), j + 1))
    val v1Cents = cents(1000)
    val v2Cents = cents(9000)

    // nothing committed yet: a serving job must fail loudly, not serve garbage
    intercept[IllegalArgumentException] {
      Storage.resolveArtifact(spark, root)
    }

    val v1 = Storage.publishArtifact(spark, root)(dir =>
      Embeddings.saveQuantizer(spark, v1Cents, dir))
    assert(Storage.resolveArtifact(spark, root) == v1)
    assert(Embeddings.loadQuantizer(spark, v1).map(c => (c.j, c.s, c.n)) ==
      v1Cents.map(c => (c.j, c.s, c.n)))

    // retrain-swap: the new version becomes newest atomically...
    val v2 = Storage.publishArtifact(spark, root)(dir =>
      Embeddings.saveQuantizer(spark, v2Cents, dir))
    assert(v2 != v1 && Storage.resolveArtifact(spark, root) == v2)
    assert(Embeddings.loadQuantizer(spark, Storage.resolveArtifact(spark, root))
      .map(_.s) == v2Cents.map(_.s))
    // ...while a consumer pinned to v1 is untouched
    assert(Embeddings.loadQuantizer(spark, v1).map(_.s) == v1Cents.map(_.s))

    // vacuum with keepLast=1 retires v1; the newest survives and loads
    val deleted = Storage.vacuumSnapshots(spark, root, keepLast = 1)
    // vacuum reports fs-qualified URIs (file:/...); compare on the path
    assert(deleted.map(_.stripPrefix("file:")) == Seq(v1),
      s"vacuum removed $deleted, expected exactly $v1")
    assert(Storage.resolveArtifact(spark, root) == v2)
    assert(Embeddings.loadQuantizer(spark, v2).map(_.s) == v2Cents.map(_.s))
  }

  test("publishArtifactSuperseding: racing retrains cannot invert ordering; marker always stamped") {
    // ADVICE r11: two concurrent retrains through the merging
    // publishArtifact would commit in rename order, not training
    // order — the superseding variant pins the publish onto the
    // version it trained against and ABORTS when anything landed in
    // between, so stale training can never shadow fresher training.
    import graft.ops.Embeddings
    import graft.ops.Embeddings.Centroid
    val root = java.nio.file.Files.createTempDirectory("graftart2").toString + "/quantizer"
    def cents(seed: Long): Seq[Centroid] =
      (0L until 4L).map(j => Centroid(j, Seq.tabulate(64)(d => seed + j * 64 + d), j + 1))

    val v1 = Storage.publishArtifact(spark, root)(dir =>
      Embeddings.saveQuantizer(spark, cents(1), dir))

    // retrain A resolves v1 and trains; retrain B resolves v1 too but
    // PUBLISHES FIRST — A must then abort, not land as a newer version
    val source = Storage.resolveArtifact(spark, root)
    assert(source == v1)
    val winB = Storage.publishArtifactSuperseding(spark, root, source)(dir =>
      Embeddings.saveQuantizer(spark, cents(2000), dir))
    assert(winB.nonEmpty, "the first superseding publish must land")
    val loseA = Storage.publishArtifactSuperseding(spark, root, source)(dir =>
      Embeddings.saveQuantizer(spark, cents(9999), dir))
    assert(loseA.isEmpty,
      "a retrain publishing over a superseded source must abort")
    // the winner's training is what serves; the loser's staging is gone
    assert(Storage.resolveArtifact(spark, root) == winB.get)
    assert(Embeddings.loadQuantizer(spark, winB.get).map(_.s) == cents(2000).map(_.s))
    val leftover = new java.io.File(root.stripPrefix("file:")).listFiles()
      .map(_.getName).filter(_.startsWith("."))
    assert(leftover.isEmpty, s"aborted publish leaked staging dirs: ${leftover.toSeq}")

    // a writer with NO top-level marker of its own (plain files, no
    // parquet _SUCCESS) still commits — publishArtifact stamps it
    val v3 = Storage.publishArtifact(spark, root) { dir =>
      val p = new org.apache.hadoop.fs.Path(dir, "model.bin")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p); out.write(42); out.close()
    }
    assert(Storage.resolveArtifact(spark, root) == v3,
      "a marker-less artifact write must still resolve after publish")
  }

  test("publishArtifactSuperseding under a REAL race: two live retrains, exactly one lands per round") {
    // VERDICT r12 #4: the sequential test above proves the abort
    // SEMANTICS; this one proves them under genuine concurrency — two
    // retrains against the SAME resolved source, held in-flight
    // together by a barrier INSIDE their write callbacks (both staged,
    // neither renamed), then racing the pinned v(source+1) slot. Per
    // round: exactly one publishes, the loser aborts with its staging
    // removed, the version chain grows by exactly one, and
    // resolveArtifact serves the winner's bytes — stale training is
    // never observed over fresher (the loser re-resolves next round,
    // which is the documented retry protocol).
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graftartrace").toString + "/quantizer"
    def model(dir: String, trainer: String): Unit =
      Seq(trainer).toDF("trainer").coalesce(1).write.parquet(dir + "/model.parquet")
    Storage.publishArtifact(spark, root)(model(_, "base"))

    def versionDirs(): Seq[String] = new java.io.File(root.stripPrefix("file:"))
      .listFiles().map(_.getName).filter(_.matches("v[0-9]+")).sorted.toSeq

    for (round <- 1 to 3) {
      val source = Storage.resolveArtifact(spark, root)
      assert(source.endsWith(s"/v$round"))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val results = Array.fill[Option[String]](2)(None)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 2).map { i =>
        new Thread(() => {
          try {
            results(i) = Storage.publishArtifactSuperseding(spark, root, source) { dir =>
              // both retrains are verifiably mid-write together before
              // either can attempt the rename
              barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
              model(dir, s"trainer$i")
            }
          } catch { case t: Throwable => errs.add(t); () }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(errs.isEmpty, s"round $round: a racer threw ${errs.peek()}")
      val winners = results.zipWithIndex.collect { case (Some(v), i) => (v, i) }
      assert(winners.length == 1,
        s"round $round: ${results.toSeq} — exactly one racer must publish")
      val (winDir, winIdx) = winners.head
      // the chain grew by exactly one and the winner is what resolves
      assert(versionDirs() == (1 to round + 1).map(v => s"v$v"),
        s"round $round: version chain ${versionDirs()}")
      assert(Storage.resolveArtifact(spark, root) == winDir)
      assert(spark.read.parquet(winDir + "/model.parquet")
        .collect().map(_.getString(0)).toSeq == Seq(s"trainer$winIdx"),
        s"round $round: resolved artifact does not carry the winner's training")
      // the loser's staging is gone
      val leftover = new java.io.File(root.stripPrefix("file:")).listFiles()
        .map(_.getName).filter(_.startsWith("."))
      assert(leftover.isEmpty, s"round $round: staging residue ${leftover.toSeq}")
    }
  }
}
