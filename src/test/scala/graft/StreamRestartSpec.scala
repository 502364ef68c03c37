package graft

import graft.stream.{EventWindows, ReviewEvent, ReviewStateMachine, StreamingNearDedup}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.{col, timestamp_millis}

/** Restart-from-checkpoint identity for the three STATE-carrying
  * streaming operators (VERDICT r12 #3 — the serving seams all had
  * restart specs; these are the ops whose state store is the product):
  *
  *  - [[ReviewStateMachine]]: per-PR latest-review maps
  *    (flatMapGroupsWithState) must survive a stop — an approval from
  *    BEFORE the stop must still count toward a gate that only
  *    completes after the restart — and committed batches must not
  *    replay their label side-effects.
  *  - [[EventWindows]]: a watermarked window OPEN at the stop must
  *    finalize exactly once after restart, with a count that combines
  *    pre- and post-restart events.
  *  - [[StreamingNearDedup.nearDupMatchesRefreshing]]: committed
  *    intake batches must not re-report matches, and the first
  *    post-restart batch must resolve the NEWEST index snapshot —
  *    including one published while the intake was down.
  *
  * All three use file sources + real checkpoint dirs (MemoryStream
  * offsets don't survive a restart; StreamingVectorIngestSpec is the
  * template), and per-RUN collectors so each assertion reads exactly
  * what one run emitted. */
class StreamRestartSpec extends SparkSpec {

  private def tmp(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix)

  private def writeJson(dir: String, name: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

  test("ReviewStateMachine restart: per-PR state survives, committed batches don't replay labels") {
    val s = spark
    import s.implicits._
    val root = tmp("rsm-restart")
    val srcDir = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    new java.io.File(srcDir).mkdirs()

    // PR1 needs BOTH team_a (alice) and team_d (diana); PR3 needs only
    // team_c (carol). team_f never approves, so the facilitator/tech
    // stages stay red and the label surface is codeowners-only.
    val reqCode = Seq((1L, "team_a"), (1L, "team_d"), (3L, "team_c")).toDF("pr", "team")
    val reqFac = Seq((1L, "team_f"), (3L, "team_f")).toDF("pr", "team")
    val reqTech = Seq((1L, "team_f"), (3L, "team_f")).toDF("pr", "team")
    val membership = Seq(("team_a", "alice"), ("team_d", "diana"),
      ("team_c", "carol"), ("team_f", "frank")).toDF("team", "user")

    val sch = Encoders.product[ReviewEvent].schema
    def start(store: ReviewStateMachine.LabelStore,
              requests: ReviewStateMachine.LabelStore) =
      ReviewStateMachine.run(
        spark.readStream.schema(sch).json(srcDir).as[ReviewEvent],
        reqCode, reqFac, reqTech, membership, store, ckpt, requests)

    // ---- run 1: alice approves PR1 (half its codeowner teams — no
    // label), carol approves PR3 (green — label + K5 request land)
    writeJson(srcDir, "f1.json", Seq(
      """{"pr":1,"user":"alice","state":"APPROVED","seq":1}""",
      """{"pr":3,"user":"carol","state":"APPROVED","seq":2}"""))
    val store1 = new ReviewStateMachine.LabelStore
    val req1 = new ReviewStateMachine.LabelStore
    val q1 = start(store1, req1)
    try q1.processAllAvailable() finally q1.stop()
    assert(store1.current == Set((3L, "codeowners-approved")))
    assert(req1.current == Set((3L, "facilitators")))

    // ---- diana's approval lands while the machine is DOWN
    writeJson(srcDir, "f2.json", Seq(
      """{"pr":1,"user":"diana","state":"APPROVED","seq":3}"""))

    // ---- run 2, SAME checkpoint, FRESH stores: PR1 goes green ONLY
    // if alice's pre-stop approval was restored from the state store
    // (diana alone covers team_d, not team_a); PR3's batch is
    // committed, so nothing for PR3 may reach the fresh stores
    val store2 = new ReviewStateMachine.LabelStore
    val req2 = new ReviewStateMachine.LabelStore
    val q2 = start(store2, req2)
    try {
      q2.processAllAvailable()
      assert(store2.current == Set((1L, "codeowners-approved")),
        s"restart lost per-PR state or replayed batch 1: ${store2.current}")
      assert(req2.current == Set((1L, "facilitators")),
        s"reviewer requests after restart: ${req2.current}")
    } finally q2.stop()

    // ---- run 3, SAME checkpoint, SAME store (the label store is the
    // external system — GitHub — and persists across machine restarts):
    // alice ROLLS BACK. The restored state must still hold both
    // approvals for the shrink to mean anything; the rollback drops
    // team_a's coverage, so the label added in run 2 must be REMOVED —
    // the reference's documented "labels are not restored on review
    // rollback" gap, here exercised ACROSS two restarts.
    writeJson(srcDir, "f3.json", Seq(
      """{"pr":1,"user":"alice","state":"CHANGES_REQUESTED","seq":4}"""))
    val q3 = start(store2, req2)
    try {
      q3.processAllAvailable()
      assert(store2.current.isEmpty,
        s"rollback across restart failed to remove the stale label: ${store2.current}")
    } finally q3.stop()
  }

  test("EventWindows restart: an open window finalizes once, combining pre- and post-restart events") {
    val root = tmp("win-restart")
    val srcDir = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    new java.io.File(srcDir).mkdirs()
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts_ms", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
    val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
    def atMin(m: Int): Long = base + m * 60000L
    def row(m: Int, t: String) = s"""{"ts_ms":${atMin(m)},"event_type":"$t"}"""

    def start(sink: scala.collection.concurrent.TrieMap[(java.sql.Timestamp, String), Long]) =
      EventWindows.windowedTypeCounts(
          spark.readStream.schema(sch).json(srcDir)
            .withColumn("ts", timestamp_millis(col("ts_ms")))
            .select("ts", "event_type"))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(r =>
            sink.put((r.getTimestamp(0), r.getString(1)),
              sink.getOrElse((r.getTimestamp(0), r.getString(1)), 0L) + r.getLong(2)))
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()

    // ---- run 1: two clicks in the 10:00 window; watermark (11:10−2h)
    // is far before the window end, so NOTHING finalizes before the stop
    writeJson(srcDir, "f1.json",
      Seq(row(5, "click"), row(20, "click"), row(70, "click")))
    val run1 = scala.collection.concurrent.TrieMap.empty[(java.sql.Timestamp, String), Long]
    val q1 = start(run1)
    try q1.processAllAvailable() finally q1.stop()
    assert(run1.isEmpty, s"run 1 emitted before the watermark passed: $run1")

    // ---- run 2: a view that belongs to the still-open 10:00 window,
    // plus a far-future event that pushes the watermark past it
    writeJson(srcDir, "f2.json", Seq(row(40, "view"), row(300, "click")))
    val run2 = scala.collection.concurrent.TrieMap.empty[(java.sql.Timestamp, String), Long]
    val q2 = start(run2)
    try {
      q2.processAllAvailable()
      // append mode finalizes on the batch AFTER the watermark moved
      writeJson(srcDir, "f3.json", Seq(row(330, "view")))
      q2.processAllAvailable()
      val w10 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
      val w11 = java.sql.Timestamp.valueOf("2026-01-01 11:00:00")
      // count 2+0 from run 1 + count 0+1 from run 2 in ONE emission
      // each: restored window state combined across the restart
      assert(run2.get((w10, "click")).contains(2L),
        s"10:00 click window after restart: $run2")
      assert(run2.get((w10, "view")).contains(1L))
      assert(run2.get((w11, "click")).contains(1L))
      // no re-emission: one more watermark advance must not re-emit
      // the finalized windows (the sink SUMS, so a replay would read 4)
      writeJson(srcDir, "f4.json", Seq(row(360, "click")))
      q2.processAllAvailable()
      assert(run2((w10, "click")) == 2L,
        s"finalized window re-emitted after restart: $run2")
    } finally q2.stop()
  }

  test("EventWindows sessions restart: an open session extends across the stop and finalizes once") {
    // the MERGING window shape (session_window), stateful in a way
    // tumbling windows are not: the restored state must MERGE with a
    // post-restart event that falls within the inactivity gap, so the
    // finalized session spans the stop — count, sum and end-time all
    // prove the pre-stop events survived in the merged window.
    val root = tmp("sess-restart")
    val srcDir = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    new java.io.File(srcDir).mkdirs()
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_ms", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
    def row(m: Int, v: Double) = s"""{"user_id":1,"ts_ms":${base + m * 60000L},"value":$v}"""

    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]()
    def start() =
      EventWindows.sessionStatsStreaming(
          spark.readStream.schema(sch).json(srcDir)
            .withColumn("ts", timestamp_millis(col("ts_ms")))
            .select("user_id", "ts", "value"))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(r => emitted.add((r.getLong(0), r.getTimestamp(1),
            r.getTimestamp(2), r.getLong(3), r.getDouble(4))))
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()

    // ---- run 1: two events 10 minutes apart — one open session;
    // watermark (2 h lateness) is far behind, nothing finalizes
    writeJson(srcDir, "f1.json", Seq(row(0, 1.0), row(10, 2.0)))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(emitted.isEmpty, s"run 1 finalized an open session: $emitted")

    // ---- run 2: an event 20 min after the last (inside the 30-min
    // gap → must MERGE into the restored session), then watermark
    // advances past the session end and the next batch finalizes it
    writeJson(srcDir, "f2.json", Seq(row(30, 4.0), row(300, 100.0)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      writeJson(srcDir, "f3.json", Seq(row(330, 100.0)))
      q2.processAllAvailable()
      val sessions = emitted.toArray(Array.empty[
        (Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]).toSeq
        .filter(_._5 < 100.0) // the watermark-advancer events finalize later
      assert(sessions == Seq((1L,
        java.sql.Timestamp.valueOf("2026-01-01 10:00:00"),
        java.sql.Timestamp.valueOf("2026-01-01 11:00:00"), // 10:30 + 30 min gap
        3L, 7.0)),
        s"restored session did not merge across the restart: $sessions")
    } finally q2.stop()
  }

  test("IntervalJoin restart: a buffered click joins a post-restart view; no match re-emission") {
    // the stream-stream join's state is the BUFFERED SIDES: a click
    // waiting for its conversion window must survive the stop and
    // join a view that arrives only after the restart — and the match
    // already emitted before the stop must not re-emit.
    val root = tmp("ivj-restart")
    val clickDir = root.resolve("clicks").toString
    val viewDir = root.resolve("views").toString
    val ckpt = root.resolve("ckpt").toString
    new java.io.File(clickDir).mkdirs()
    new java.io.File(viewDir).mkdirs()
    import org.apache.spark.sql.types._
    val cSch = StructType(Seq(StructField("user_id", LongType),
      StructField("click_id", LongType), StructField("ts_ms", LongType)))
    val vSch = StructType(Seq(StructField("user_id", LongType),
      StructField("view_id", LongType), StructField("ts_ms", LongType)))
    val base = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
    def at(m: Int): Long = base + m * 60000L

    def start(seen: scala.collection.concurrent.TrieMap[(Long, Long), Int]) =
      graft.stream.IntervalJoin.clickViewConversions(
          spark.readStream.schema(cSch).json(clickDir)
            .withColumn("click_ts", timestamp_millis(col("ts_ms")))
            .select("user_id", "click_id", "click_ts"),
          spark.readStream.schema(vSch).json(viewDir)
            .withColumn("view_ts", timestamp_millis(col("ts_ms")))
            .select("user_id", "view_id", "view_ts"))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(r =>
            seen.put((r.getAs[Long]("click_id"), r.getAs[Long]("view_id")), 1))
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()

    // ---- run 1: click 1 at 10:00; view 10 at 10:05 matches it
    writeJson(clickDir, "f1.json", Seq(s"""{"user_id":1,"click_id":1,"ts_ms":${at(0)}}"""))
    writeJson(viewDir, "f1.json", Seq(s"""{"user_id":1,"view_id":10,"ts_ms":${at(5)}}"""))
    val run1 = scala.collection.concurrent.TrieMap.empty[(Long, Long), Int]
    val q1 = start(run1)
    try q1.processAllAvailable() finally q1.stop()
    assert(run1.keySet == Set((1L, 10L)), s"run 1 matches: ${run1.keySet}")

    // ---- run 2, SAME checkpoint, FRESH collector: a second view at
    // 10:08 — still inside click 1's 10-minute window — must join the
    // RESTORED buffered click; (1,10) must not re-emit
    writeJson(viewDir, "f2.json", Seq(s"""{"user_id":1,"view_id":11,"ts_ms":${at(8)}}"""))
    val run2 = scala.collection.concurrent.TrieMap.empty[(Long, Long), Int]
    val q2 = start(run2)
    try {
      q2.processAllAvailable()
      assert(run2.keySet == Set((1L, 11L)),
        s"restart lost the buffered click or re-emitted batch-1 matches: ${run2.keySet}")
    } finally q2.stop()
  }

  test("StreamingNearDedup refreshing intake restart: no match re-report; down-time rebuild resolves") {
    val s = spark
    import s.implicits._
    val alpha = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val numbers = "one two three four five six seven eight nine ten eleven twelve"
    val root = tmp("neardup-restart")
    val srcDir = root.resolve("in").toString
    val ckpt = root.resolve("ckpt").toString
    val idx = root.resolve("index").toString
    new java.io.File(srcDir).mkdirs()
    def publish(version: String, corpus: DataFrame): Unit =
      StreamingNearDedup.simhashIndex(corpus).write.parquet(s"$idx/$version")
    publish("v0001", Seq((10L, alpha)).toDF("doc_id", "text"))

    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts_ms", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val base = 1700000000000L
    def start(seen: scala.collection.concurrent.TrieMap[(Long, Long), Int]) =
      StreamingNearDedup.nearDupMatchesRefreshing(
        spark.readStream.schema(sch).json(srcDir)
          .withColumn("ts", timestamp_millis(col("ts_ms")))
          .select("ts", "doc_id", "text"),
        idx, checkpointDir = ckpt) { matches =>
        matches.collect().foreach(r => seen.put((r.getLong(1), r.getLong(2)), r.getInt(3)))
      }

    // ---- run 1 against v0001: the alpha copy matches corpus doc 10
    writeJson(srcDir, "f1.json",
      Seq(s"""{"ts_ms":$base,"doc_id":100,"text":"$alpha"}"""))
    val seen1 = scala.collection.concurrent.TrieMap.empty[(Long, Long), Int]
    val q1 = start(seen1)
    try q1.processAllAvailable() finally q1.stop()
    assert(seen1.keySet == Set((100L, 10L)))

    // ---- nightly rebuild lands while the intake is DOWN: v0002 drops
    // doc 10, adds doc 30
    publish("v0002", Seq((30L, numbers)).toDF("doc_id", "text"))
    writeJson(srcDir, "f2.json", Seq(
      s"""{"ts_ms":${base + 60000},"doc_id":101,"text":"$alpha"}""",
      s"""{"ts_ms":${base + 120000},"doc_id":102,"text":"$numbers"}"""))

    // ---- run 2, SAME checkpoint, FRESH collector: batch 1 is
    // committed (no (100,10) re-report), and the post-restart batch
    // resolves v0002 — alpha no longer matches, numbers does
    val seen2 = scala.collection.concurrent.TrieMap.empty[(Long, Long), Int]
    val q2 = start(seen2)
    try {
      q2.processAllAvailable()
      assert(seen2.keySet == Set((102L, 30L)),
        s"restart re-reported committed matches or kept the stale index: ${seen2.keySet}")
    } finally q2.stop()
  }
}
