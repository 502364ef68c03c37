package graft

import graft.ops.Skew
import graft.stream.{StreamingDedup, StreamingNearDedup}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

class SkewAndStreamDedupSpec extends SparkSpec {

  test("saltedEquiJoin result is identical to the unsalted join on a skewed key") {
    val s = spark
    import s.implicits._
    // 10k facts, 90% on one hot key
    val facts = (1 to 10000).map(i => (if (i % 10 == 0) i.toLong % 7 else 42L, i.toLong))
      .toDF("k", "v")
    val dims = Seq((42L, "hot"), (0L, "a"), (1L, "b"), (3L, "c"), (99L, "unmatched"))
      .toDF("k", "name")
    val plain = facts.join(dims, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val salted = Skew.saltedEquiJoin(facts, dims, "k", salts = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(salted == plain)
    assert(salted.count(_._1 == 42L) == 9000)
    // the scatter actually spreads the hot key across sub-keys
    val spread = facts.withColumn("__salt",
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(facts.columns.map(org.apache.spark.sql.functions.col).toSeq: _*),
        org.apache.spark.sql.functions.lit(8)))
      .filter($"k" === 42L).select("__salt").distinct().count()
    assert(spread > 1)
  }

  test("dedupStream: first occurrence per content hash wins within the horizon") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ts(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")

    val input = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingDedup.dedupStream(
      input.toDF().toDF("ts", "doc_id", "text"), horizon = "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData((ts(0), 1L, "Same   Text"), (ts(1), 2L, "same text"),
        (ts(2), 3L, "other text"))
      q.processAllAvailable()
      input.addData((ts(3), 4L, "SAME TEXT"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(1)).sorted.toSeq
      // doc 1 survives (first arrival of its hash); 2 and 4 are dups
      // (whitespace/case-normalized); 3 is distinct content
      assert(ids == Seq(1L, 3L))
    } finally q.stop()
  }

  test("nearDupMatches: stream docs sketch-match the broadcast corpus index") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ts(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")

    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (20L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val index = StreamingNearDedup.simhashIndex(corpus).persist()

    val input = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingNearDedup.nearDupMatches(
      input.toDF().toDF("ts", "doc_id", "text"), index, horizon = "10 minutes")
    val q = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      input.addData(
        // exact copy of corpus doc 10 → identical sketch, hamming 0
        (ts(0), 100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        // doubled text: every token occurrence count ×2 → bit sums scale,
        // signs unchanged → SAME simhash (count-weighting invariance)
        (ts(1), 101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
          "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        // unrelated vocabulary → no band agreement expected
        (ts(2), 102L, "zirconium praseodymium molybdenum ruthenium technetium"))
      q.processAllAvailable()
      val got = spark.table("neardup_out").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).sorted.toSeq
      // exactly ONE row per (doc, match) even though an identical sketch
      // agrees on all 4 bands (band multiplicity collapsed)
      assert(got == Seq((100L, 10L, 0), (101L, 10L, 0)))
    } finally {
      q.stop()
      index.unpersist()
      ()
    }
  }

  test("index refresh: swapping the file-backed index changes matches, no stream restart") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ts(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 11:$m%02d:00")
    val alpha = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val numbers = "one two three four five six seven eight nine ten eleven twelve"

    val dir = java.nio.file.Files.createTempDirectory("shidx").toString + "/index"
    def rebuild(corpus: org.apache.spark.sql.DataFrame): Unit =
      StreamingNearDedup.simhashIndex(corpus).write.mode("overwrite").parquet(dir)
    rebuild(Seq((10L, alpha)).toDF("doc_id", "text"))

    val seen = scala.collection.concurrent.TrieMap.empty[(Long, Long), Int]
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingNearDedup.nearDupMatchesRefreshing(
      input.toDF().toDF("ts", "doc_id", "text"), dir,
      java.nio.file.Files.createTempDirectory("shidx-ckpt").toString) { matches =>
      matches.collect().foreach(r => seen.put((r.getLong(1), r.getLong(2)), r.getInt(3)))
    }
    try {
      // batch 1 against index v1: the alpha copy matches corpus doc 10
      input.addData((ts(0), 100L, alpha))
      q.processAllAvailable()
      assert(seen.keySet == Set((100L, 10L)))

      // nightly rebuild between micro-batches: v2 drops doc 10, adds 30
      rebuild(Seq((30L, numbers)).toDF("doc_id", "text"))

      // batch 2, SAME stream: alpha no longer matches, numbers does
      input.addData((ts(1), 101L, alpha), (ts(2), 102L, numbers))
      q.processAllAvailable()
      assert(seen.keySet == Set((100L, 10L), (102L, 30L)))
    } finally q.stop()
  }

  test("dedupStream: checkpointed restart carries dedup state across the stop") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckptdedup")
    val srcDir = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    new java.io.File(srcDir).mkdirs()
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts_ms", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def base = 1700000000000L
    def writeFile(name: String, rows: Seq[(Long, Long, String)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, name),
        rows.map { case (ms, id, t) =>
          s"""{"ts_ms":$ms,"doc_id":$id,"text":"$t"}""" }.mkString("\n").getBytes)
    // foreachBatch sink: the memory sink refuses checkpoint recovery;
    // a per-run collector also shows exactly what each RUN emitted
    def start(sink: scala.collection.concurrent.TrieMap[Long, Int]) =
      StreamingDedup.dedupStream(
          spark.readStream.schema(sch).json(srcDir)
            .withColumn("ts",
              org.apache.spark.sql.functions.timestamp_millis(
                org.apache.spark.sql.functions.col("ts_ms")))
            .select("ts", "doc_id", "text"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => sink.put(r.getAs[Long]("doc_id"), 1))
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()

    // run 1: two distinct documents pass
    writeFile("f1.json", Seq((base, 1L, "alpha beta gamma"), (base + 60000, 2L, "one two three")))
    val run1 = scala.collection.concurrent.TrieMap.empty[Long, Int]
    val q1 = start(run1)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(run1.keySet == Set(1L, 2L))

    // run 2, SAME checkpoint: a re-arrival of doc 1's content (within
    // the watermark horizon) must be dropped by the RESTORED state —
    // the state store, not the sink, carries the dedup across the
    // restart; the fresh document still passes
    writeFile("f2.json", Seq((base + 120000, 3L, "alpha  BETA gamma"), (base + 180000, 4L, "four five six")))
    val run2 = scala.collection.concurrent.TrieMap.empty[Long, Int]
    val q2 = start(run2)
    try {
      q2.processAllAvailable()
      assert(run2.keySet == Set(4L), s"restart re-emitted or missed docs: ${run2.keySet}")
    } finally q2.stop()
  }

  test("index refresh: versioned snapshots — newest complete subdir wins, partial ones invisible") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ts(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 12:$m%02d:00")
    val alpha = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val numbers = "one two three four five six seven eight nine ten eleven twelve"

    val root = java.nio.file.Files.createTempDirectory("shidxv").toString + "/index"
    def publish(version: String, corpus: org.apache.spark.sql.DataFrame): Unit =
      StreamingNearDedup.simhashIndex(corpus).write.parquet(s"$root/$version")
    publish("v0001", Seq((10L, alpha)).toDF("doc_id", "text"))

    // a newer but INCOMPLETE snapshot (no _SUCCESS) must stay invisible
    publish("v0002", Seq((30L, numbers)).toDF("doc_id", "text"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/v0002/_SUCCESS"), false)
    assert(StreamingNearDedup.resolveSnapshot(spark, root).endsWith("v0001"))

    val seen = scala.collection.concurrent.TrieMap.empty[(Long, Long), Int]
    val input = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingNearDedup.nearDupMatchesRefreshing(
      input.toDF().toDF("ts", "doc_id", "text"), root,
      java.nio.file.Files.createTempDirectory("shidxv-ckpt").toString) { matches =>
      matches.collect().foreach(r => seen.put((r.getLong(1), r.getLong(2)), r.getInt(3)))
    }
    try {
      // batch 1 resolves v0001 (v0002 has no marker): alpha matches doc 10
      input.addData((ts(0), 100L, alpha), (ts(1), 101L, numbers))
      q.processAllAvailable()
      assert(seen.keySet == Set((100L, 10L)))

      // the rebuild COMPLETES (marker lands) → atomically visible;
      // v0001 is untouched on disk, so no in-flight scan could break
      fs.create(new org.apache.hadoop.fs.Path(s"$root/v0002/_SUCCESS"), true).close()
      assert(StreamingNearDedup.resolveSnapshot(spark, root).endsWith("v0002"))
      input.addData((ts(2), 102L, alpha), (ts(3), 103L, numbers))
      q.processAllAvailable()
      assert(seen.keySet == Set((100L, 10L), (103L, 30L)))
    } finally q.stop()
  }

  test("resolveSnapshot orders snapshot names naturally: v10 beats v9") {
    import graft.stream.StreamingNearDedup.naturalLt
    // the lexicographic trap an unpadded rebuild writer springs:
    // "v10" < "v9" as strings would pin every batch to stale v9
    assert(naturalLt("v9", "v10") && !naturalLt("v10", "v9"))
    assert(naturalLt("v0009", "v10") && naturalLt("v2", "v0010"))
    assert(naturalLt("20260101-000000", "20260102-000000")) // timestamps unchanged
    assert(!naturalLt("v10", "v10"))
    assert(naturalLt("v1", "v1a")) // prefix sorts first
    // end-to-end: an unpadded v10 snapshot with a marker resolves as
    // newest over v9
    val spark2 = spark
    import spark2.implicits._
    val root = java.nio.file.Files.createTempDirectory("shidxnat").toString + "/index"
    graft.stream.StreamingNearDedup.simhashIndex(
      Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")).write.parquet(s"$root/v9")
    graft.stream.StreamingNearDedup.simhashIndex(
      Seq((2L, "p q r s t u v w")).toDF("doc_id", "text")).write.parquet(s"$root/v10")
    assert(graft.stream.StreamingNearDedup.resolveSnapshot(spark, root).endsWith("v10"))
  }
}
