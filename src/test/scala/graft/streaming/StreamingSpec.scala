package graft.streaming

import java.sql.Timestamp
import graft.SparkTestBase
import graft.connector.{MockSalesforceBulkApi, MockSfmcApi}
import graft.model.SalesforceConfig
import graft.push.PushMaterializer
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)

  test("windowedCounts: watermarked tumbling window aggregates by type") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, Double)]
    val agg = EventStreams.windowedCounts(
      in.toDF().toDF("ts", "user_id", "event_type", "value"),
      watermark = "5 minutes", window_ = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    try {
      in.addData((ts(1), 1L, "click", 1.0), (ts(2), 2L, "click", 2.0), (ts(3), 1L, "view", 5.0))
      q.processAllAvailable()
      // advance event time far past watermark so the first window closes
      in.addData((ts(60), 3L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("event_type", "n", "sum_value").orderBy("event_type")
        .as[(String, Long, Double)].collect().toSeq
      assert(rows === Seq(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("attributionJoin: clicks pair with in-window views, state is evictable") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val joined = EventStreams.attributionJoin(
      views.toDF().toDF("view_ts", "view_user", "view_id"),
      clicks.toDF().toDF("click_ts", "user_id", "click_id"),
      watermark = "5 minutes", window_ = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      views.addData((ts(1), 1L, 100L), (ts(2), 2L, 101L), (ts(30), 1L, 102L))
      clicks.addData(
        (ts(5), 1L, 500L),  // matches view 100 (4 min earlier)
        (ts(6), 2L, 501L),  // matches view 101
        (ts(20), 1L, 502L), // view 100 is 19 min earlier — outside window
        (ts(31), 1L, 503L)) // matches view 102
      q.processAllAvailable()
      // push watermark forward so all pending matches emit
      views.addData((ts(120), 9L, 999L))
      clicks.addData((ts(120), 9L, 998L))
      q.processAllAvailable()
      val got = spark.table("attrib")
        .select("click_id", "view_id").as[(Long, Long)].collect().toSeq.sorted
      assert(got === Seq((500L, 100L), (501L, 101L), (503L, 102L), (998L, 999L)))
    } finally q.stop()
  }

  test("attributionJoinOuter: unmatched views emit null-extended EXACTLY ONCE, after the watermark closes their window") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val joined = EventStreams.attributionJoinOuter(
      views.toDF().toDF("view_ts", "view_user", "view_id"),
      clicks.toDF().toDF("click_ts", "user_id", "click_id"),
      watermark = "5 minutes", window_ = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()
    def rows() = spark.table("attrib_outer")
      .select(col("view_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq.sorted
    try {
      // view 100 gets a click; view 101 (user 2) never does
      views.addData((ts(1), 1L, 100L), (ts(2), 2L, 101L))
      clicks.addData((ts(5), 1L, 500L))
      q.processAllAvailable()
      // watermark still at the start: the unmatched view must NOT emit yet
      assert(rows() === Seq((100L, 500L)), s"got ${rows()}")
      // advance BOTH sides' event time far past view 101's match window
      // (distinct users so the advancement events cannot match each other)
      views.addData((ts(120), 9L, 999L))
      clicks.addData((ts(120), 10L, 998L))
      q.processAllAvailable()
      // 101 emits null-extended exactly once; 100 is not re-emitted
      assert(rows() === Seq((100L, 500L), (101L, -1L)), s"got ${rows()}")
      // further advancement closes 999's window too — and must NOT
      // duplicate 101; view 997 stays open in state, absent from output
      views.addData((ts(240), 8L, 997L))
      clicks.addData((ts(240), 7L, 996L))
      q.processAllAvailable()
      assert(rows() === Seq((100L, 500L), (101L, -1L), (999L, -1L)),
        s"exactly-once violated: ${rows()}")
    } finally q.stop()
  }

  test("attributionJoin agrees with the equivalent batch range join on random data") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(31)
    val viewRows = Seq.tabulate(120)(i =>
      (ts(rnd.nextInt(200)), rnd.nextInt(6).toLong, (100 + i).toLong))
    val clickRows = Seq.tabulate(120)(i =>
      (ts(rnd.nextInt(200)), rnd.nextInt(6).toLong, (500 + i).toLong))
    val expected = (for {
      (vt, vu, vid) <- viewRows
      (ct, cu, cid) <- clickRows
      if vu == cu && vt.getTime <= ct.getTime &&
        vt.getTime >= ct.getTime - 10 * 60 * 1000L
    } yield (cid, vid)).sorted
    val views = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val joined = EventStreams.attributionJoin(
      views.toDF().toDF("view_ts", "view_user", "view_id"),
      clicks.toDF().toDF("click_ts", "user_id", "click_id"),
      watermark = "5 minutes", window_ = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib_rand")
      .outputMode("append").start()
    try {
      views.addData(viewRows: _*)
      clicks.addData(clickRows: _*)
      q.processAllAvailable()
      views.addData((ts(1000), 99L, 1L)) // advance watermark, flush state
      clicks.addData((ts(1000), 98L, 2L))
      q.processAllAvailable()
      val got = spark.table("attrib_rand")
        .select("click_id", "view_id").as[(Long, Long)].collect().toSeq.sorted
      assert(got === expected)
    } finally q.stop()
  }

  test("sessionize: gap-based sessions close via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventStreams.Event]
    val sessions = EventStreams.sessionize(in.toDS(), gapMs = 10 * 60_000L)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then 30 min gap -> new session
      in.addData(
        EventStreams.Event(ts(0), 1L, "click", 1.0),
        EventStreams.Event(ts(5), 1L, "click", 1.0),
        EventStreams.Event(ts(35), 1L, "click", 1.0))
      q.processAllAvailable()
      // push the watermark way forward so the open session times out
      in.addData(EventStreams.Event(ts(600), 2L, "click", 1.0))
      q.processAllAvailable()
      in.addData(EventStreams.Event(ts(1200), 2L, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("sessions").as[EventStreams.Session].collect()
        .filter(_.userId == 1L).sortBy(_.start.getTime)
      assert(out.length === 2)
      assert(out(0).nEvents === 2 && out(0).start === ts(0) && out(0).end === ts(5))
      assert(out(1).nEvents === 1 && out(1).start === ts(35))
    } finally q.stop()
  }

  test("streaming windowedCounts agrees with batch g10TimeWindow on random events") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val types = Seq("click", "view", "signup")
    val events = (1 to 400).map { i =>
      (i.toLong, new Timestamp(3600_000L + rnd.nextInt(6 * 3600) * 1000L),
        rnd.nextInt(10).toLong, types(rnd.nextInt(3)), rnd.nextInt(100) / 10.0)
    }
    val dir = tmpDir("win-consistency")
    events.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val batch = graft.ops.Relational.queries("g10_time_window")(spark, dir)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    val in = MemoryStream[(Timestamp, Long, String, Double)]
    val q = EventStreams.windowedCounts(
        in.toDF().toDF("ts", "user_id", "event_type", "value"),
        watermark = "10 minutes", window_ = "1 hour")
      .writeStream.format("memory").queryName("win_xcheck").outputMode("append").start()
    try {
      in.addData(events.map(e => (e._2, e._3, e._4, e._5)): _*)
      q.processAllAvailable()
      val maxTs = events.map(_._2.getTime).max
      in.addData((new Timestamp(maxTs + 24 * 3600_000L), 99L, "sentinel", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("win_xcheck")
        .filter(col("event_type") =!= "sentinel")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed === batch,
        s"batch-only: ${batch.diff(streamed).take(3)}; stream-only: ${streamed.diff(batch).take(3)}")
    } finally q.stop()
  }

  test("streaming sessionize agrees with batch w4Sessionize on random events") {
    implicit val sqlCtx = spark.sqlContext
    // seeded random corpus: 6 users, mixed gaps strictly below/above 30 min
    val rnd = new scala.util.Random(7)
    val events = (1L to 6L).flatMap { u =>
      var t = 3600_000L + rnd.nextInt(1000) * 1000L
      (1 to 60).map { i =>
        t += (if (rnd.nextBoolean()) 1 + rnd.nextInt(29) else 31 + rnd.nextInt(90)) * 60_000L
        (u * 1000 + i, new Timestamp(t), u, "click")
      }
    }
    // batch twin reads an `events` parquet table
    val dir = tmpDir("sess-consistency")
    events.toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$dir/events.parquet")
    val batch = graft.ops.Relational.w4Sessionize(spark, dir)
      .collect().map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet

    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(in.toDS()) // 30-min gap, same as batch
      .writeStream.format("memory").queryName("sess_xcheck").outputMode("append").start()
    try {
      in.addData(events.map(e => EventStreams.Event(e._2, e._3, e._4, 1.0)): _*)
      q.processAllAvailable()
      // sentinel far past every session gap + watermark closes all state
      val maxTs = events.map(_._2.getTime).max
      in.addData(EventStreams.Event(new Timestamp(maxTs + 10 * 3600_000L), 99L, "x", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sess_xcheck").as[EventStreams.Session].collect()
        .filter(s => s.closed && s.userId != 99L)
        .map(s => (s.userId, s.start, s.end, s.nEvents)).toSet
      assert(streamed === batch,
        s"batch-only: ${batch.diff(streamed).take(3)}; stream-only: ${streamed.diff(batch).take(3)}")
    } finally q.stop()
  }

  test("streaming dedupByFingerprint agrees with batch Dedup.exact per fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    // seeded corpus with planted duplicates across distinct doc_ids
    val rnd = new scala.util.Random(13)
    val words = Seq("spark", "scan", "join", "agg", "row", "batch", "hash")
    val texts = (1 to 120).map { _ =>
      (1 to 5).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    }
    val dir = tmpDir("dedup-consistency")
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // batch: one group per distinct fingerprint
    val batchFps = graft.ops.Dedup.exact(spark, dir)
      .select("fp").as[String].collect().toSet

    val in = MemoryStream[(Timestamp, String)]
    val q = EventStreams.dedupByFingerprint(
        in.toDF().toDF("ts", "text"), watermark = "5 minutes")
      .writeStream.format("memory").queryName("dedup_xcheck")
      .outputMode("append").start()
    try {
      in.addData(texts.zipWithIndex.map { case (t, i) => (ts(i % 4), t) }: _*)
      q.processAllAvailable()
      val streamedFps = spark.table("dedup_xcheck").select("fp").as[String].collect()
      assert(streamedFps.length === streamedFps.toSet.size, "stream emitted a duplicate fp")
      assert(streamedFps.toSet === batchFps,
        s"batch-only: ${batchFps.diff(streamedFps.toSet).take(3)}; " +
          s"stream-only: ${streamedFps.toSet.diff(batchFps).take(3)}")
    } finally q.stop()
  }

  test("StreamingSnapshot: CDC micro-batches build the SCD2 interval history") {
    implicit val sqlCtx = spark.sqlContext
    val snap = new graft.tracking.SnapshotTable(spark, tmpDir("ssnap"), "id", Seq("seg"))
    val ss = new graft.streaming.StreamingSnapshot(snap, "ts")
    val t1 = ts(1); val t2 = ts(2); val t3 = ts(3)
    // batch 1: two keys; key 2 has an in-batch correction (later ts wins)
    ss.snapshotBatch(Seq(
      (t1, 1L, "A"), (t1, 2L, "B0"), (ts(1), 2L, "B0"),
      (t2, 2L, "B")).toDF("ts", "id", "seg"), 0L)
    // batch 2: key 1 changes, key 2 unchanged, key 3 arrives
    ss.snapshotBatch(Seq(
      (t3, 1L, "A2"), (t3, 2L, "B"), (t3, 3L, "C")).toDF("ts", "id", "seg"), 1L)
    val rows = snap.read().orderBy("id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), Option(r.getTimestamp(3))))
    assert(rows === Array(
      (1L, "A", t2, Some(t3)), (1L, "A2", t3, None),
      (2L, "B", t2, None),
      (3L, "C", t3, None)))
    // foreachBatch replay of batch 2 must not duplicate or reopen anything
    ss.snapshotBatch(Seq(
      (t3, 1L, "A2"), (t3, 2L, "B"), (t3, 3L, "C")).toDF("ts", "id", "seg"), 1L)
    assert(snap.read().count() === 4)

    // end-to-end through a real streaming query (AvailableNow)
    val snap2 = new graft.tracking.SnapshotTable(spark, tmpDir("ssnap2"), "id", Seq("seg"))
    val in = MemoryStream[(Timestamp, Long, String)]
    in.addData((t1, 10L, "X"), (t2, 10L, "Y"), (t1, 11L, "Z"))
    val q = new graft.streaming.StreamingSnapshot(snap2, "ts")
      .start(in.toDF().toDF("ts", "id", "seg"), tmpDir("ssnap-ckpt"))
    q.awaitTermination(30000)
    val got = snap2.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getTimestamp(3))))
    assert(got === Array((10L, "Y", None), (11L, "Z", None)),
      "latest change per key wins; all intervals open after one batch")
  }

  test("dedupByFingerprint drops within-watermark duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val deduped = EventStreams.dedupByFingerprint(
      in.toDF().toDF("ts", "text"), watermark = "5 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      in.addData(
        (ts(1), "the quick brown fox"),
        (ts(2), "THE  QUICK   brown fox"), // same normalized fingerprint
        (ts(3), "a different document"))
      q.processAllAvailable()
      val texts = spark.table("dedup_stream").select("text").as[String].collect()
      assert(texts.length === 2, s"got ${texts.toSeq}")
      assert(texts.count(_.toLowerCase.contains("quick")) === 1)
    } finally q.stop()
  }

  test("StreamingPush from a parquet file source (real ingest path)") {
    val srcDir = tmpDir("filesrc")
    (1 to 40).map(i => s"""{"Name":"acct$i"}""").toDF("record")
      .write.mode("append").parquet(srcDir)
    val base = tmpDir("stream-push-file")
    val sfdc = new MockSalesforceBulkApi()
    val mat = new PushMaterializer(spark, base, sfdc, new MockSfmcApi())
    val sp = new StreamingPush(spark, mat,
      SalesforceConfig("Account", "insert"), "file_accounts")
    val stream = spark.readStream
      .schema("record STRING")
      .parquet(srcDir)
    val q = sp.start(stream, tmpDir("ckpt-file"))
    q.awaitTermination()
    assert(mat.sfdcLogs.read().count() === 40)
    assert(sfdc.loadBatchCalls.get() === 40)
  }

  test("FileStreams.runOnce: checkpointed file ETL processes new files exactly once") {
    val srcDir = tmpDir("fs-src")
    val sinkDir = s"${tmpDir("fs-sink")}/out"
    val ckpt = tmpDir("fs-ckpt")
    def run(): Unit = FileStreams.runOnce(spark, srcDir,
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"),
      df => df.filter(length(col("text")) > 0)
        .select(col("doc_id"), length(col("text")).as("n_chars")),
      sinkDir, ckpt, maxFilesPerTrigger = Some(1))

    (1L to 50L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    run()
    assert(spark.read.parquet(sinkDir).count() === 50)

    // no new files -> rerun appends nothing (the checkpoint is the watermark)
    run()
    assert(spark.read.parquet(sinkDir).count() === 50)

    // late-arriving files -> only they are processed
    (51L to 70L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
      .write.mode("append").parquet(srcDir)
    run()
    val out = spark.read.parquet(sinkDir)
    assert(out.count() === 70)
    assert(out.select("doc_id").distinct().count() === 70, "no doc may be ingested twice")
  }

  test("StreamingPush replay guard: a re-delivered batchId pushes nothing") {
    val base = tmpDir("stream-replay")
    val sfdc = new MockSalesforceBulkApi()
    val mat = new PushMaterializer(spark, base, sfdc, new MockSfmcApi())
    val sp = new StreamingPush(spark, mat,
      SalesforceConfig("Account", "insert"), "replay_accounts")
    val batch = (1 to 20).map(i => s"""{"Name":"acct$i"}""").toDF("record")

    val first = sp.pushBatch(batch, batchId = 7L)
    assert(first.recordsPushed === 20)
    assert(sfdc.loadBatchCalls.get() === 20)
    // foreachBatch redelivers batch 7 after a simulated crash-before-commit
    val replay = sp.pushBatch(batch, batchId = 7L)
    assert(replay.skippedEmpty && replay.recordsPushed === 0)
    assert(sfdc.loadBatchCalls.get() === 20, "no duplicate external calls")
    assert(mat.sfdcLogs.read().count() === 20)
    // a NEW batch id still pushes
    assert(sp.pushBatch(batch, batchId = 8L).recordsPushed === 20)
  }

  test("StreamingPush: a batch whose push failed after its task row landed is pushed again on redelivery") {
    class FailingLoads extends MockSalesforceBulkApi {
      @volatile var failing = true
      val closed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      override def loadBatch(jobId: String, recordJson: String, wait: Boolean): String = {
        if (failing && recordJson.contains("\"acct13\""))
          throw new RuntimeException("connector timeout")
        super.loadBatch(jobId, recordJson, wait)
      }
      override def closeJob(jobId: String, wait: Boolean): String = {
        closed.add(jobId)
        super.closeJob(jobId, wait)
      }
    }
    val sfdc = new FailingLoads
    val mat = new PushMaterializer(spark, tmpDir("stream-failed-push"), sfdc, new MockSfmcApi())
    val sp = new StreamingPush(spark, mat,
      SalesforceConfig("Account", "insert"), "retry_accounts")
    val batch = (1 to 20).map(i => s"""{"Name":"acct$i"}""").toDF("record")

    val e = intercept[Exception](sp.pushBatch(batch, batchId = 7L))
    assert(graft.push.Probes.messages(e).exists(_.contains("connector timeout")),
      "the failure must carry the connector's message")
    // the failed push left its task row (written before the loads),
    // unstamped, and no logs; its remote job was closed exactly once
    val failedTask = mat.sfdcTasks.read()
      .filter(col("load_task_name") === "retry_accounts#7").collect()
    assert(failedTask.length === 1)
    assert(failedTask.head.getAs[String]("close_metadata") === null)
    val failedJob = failedTask.head.getAs[String]("job_id")
    assert(sfdc.closed.toArray.count(_ == failedJob) === 1)
    assert(mat.sfdcLogs.read().count() === 0)
    // foreachBatch redelivers batch 7: it must push, not be skipped
    sfdc.failing = false
    val calls0 = sfdc.loadBatchCalls.get()
    val retry = sp.pushBatch(batch, batchId = 7L)
    assert(!retry.skippedEmpty && retry.recordsPushed === 20)
    assert(sfdc.loadBatchCalls.get() - calls0 === 20)
    assert(mat.sfdcLogs.read()
      .filter(col("load_task_name") === "retry_accounts#7").count() === 20)
  }

  test("StreamingPush drives the Marketing Cloud pipeline too (config dispatch)") {
    implicit val sqlCtx = spark.sqlContext
    val sfmc = new MockSfmcApi()
    val mat = new PushMaterializer(spark, tmpDir("stream-mc"),
      new MockSalesforceBulkApi(), sfmc)
    val sp = new StreamingPush(spark, mat,
      graft.model.MarketingCloudConfig("StreamDE"), "stream_contacts")
    val in = MemoryStream[String]
    in.addData((1 to 30).map(i => s"""{"ContactID":$i}""") : _*)
    val q = sp.start(in.toDF().toDF("record"), tmpDir("ckpt-mc"))
    q.awaitTermination()
    assert(mat.sfmcLogs.read().count() === 30)
    assert(sfmc.stagedBatchCount === 1) // 30 records, batch size 100
    // replay of the same batchId is guarded by the SFMC task table
    val batch = (1 to 30).map(i => s"""{"ContactID":$i}""").toDF("record")
    assert(sp.pushBatch(batch, batchId = 0L).skippedEmpty)
    assert(mat.sfmcLogs.read().count() === 30)
  }

  test("StreamingPush: each micro-batch runs the batch push pipeline") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmpDir("stream-push")
    val sfdc = new MockSalesforceBulkApi()
    val mat = new PushMaterializer(spark, base, sfdc, new MockSfmcApi())
    val sp = new StreamingPush(spark, mat,
      SalesforceConfig("Account", "insert"), "stream_accounts")

    val in = MemoryStream[String]
    in.addData((1 to 25).map(i => s"""{"Name":"acct$i"}""") : _*)
    val q = sp.start(in.toDF().toDF("record"), tmpDir("ckpt"))
    q.awaitTermination()

    assert(sfdc.loadBatchCalls.get() === 25)
    assert(mat.sfdcLogs.read().count() === 25)
    assert(mat.sfdcTasks.read().count() === 1)
    assert(sp.pushReports.map(_.recordsPushed).sum === 25)
  }

  test("userProfiles (transformWithState): ValueState accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // set + start INSIDE the try: a failure anywhere must still restore
    // the shared session's provider and stop the query
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val in = MemoryStream[(Timestamp, Long, String, Double)]
      val profiles = EventStreams.userProfiles(
        in.toDF().toDF("ts", "userId", "eventType", "value")
          .as[EventStreams.Event])
      q = profiles.toDF().writeStream.format("memory").queryName("profiles")
        .outputMode("append").start()
      in.addData((ts(1), 1L, "click", 1.5), (ts(2), 1L, "view", 2.5), (ts(3), 2L, "click", 4.0))
      q.processAllAvailable()
      in.addData((ts(4), 1L, "click", 10.0))
      q.processAllAvailable()
      val rows = spark.table("profiles")
        .as[EventStreams.UserProfile].collect().toSeq
      // batch 1 emits running profiles for users 1 and 2; batch 2
      // re-emits user 1 with state carried over (3 events, 14.0 total)
      assert(rows.toSet === Set(
        EventStreams.UserProfile(1L, 2L, 4.0),
        EventStreams.UserProfile(2L, 1L, 4.0),
        EventStreams.UserProfile(1L, 3L, 14.0)))
    } finally {
      if (q != null) q.stop()
      prev.fold(spark.conf.unset("spark.sql.streaming.stateStore.providerClass"))(
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    }
  }
  test("streaming blocklist screen equals the batch screen restricted to hits") {
    val streamed = graft.streaming.StreamingQueries.streamBlocklist(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
    val batch = graft.ops.Blocklist.screen(spark, sf)
      .filter(org.apache.spark.sql.functions.col("n_hit") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3)))
    assert(streamed.toSeq === batch.toSeq)
  }
  test("streaming IVF screen equals the batch incremental screen") {
    val streamed = graft.streaming.StreamingQueries.streamIvfScreen(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val batch = graft.ops.Ivf.ivfIncremental(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq === batch.toSeq)
    assert(streamed.nonEmpty)
  }

  test("streaming CDC ingest: op-tagged batches apply atomically and equal the composed mutations; a full replay no-ops — including its deletes after a re-insert") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") < 320).localCheckpoint()
    val tmp = tmpDir("cdc_ingest")
    val index0 = graft.ops.Ivf.buildIndex(base, s"$tmp/index", kCells = 8, iters = 2)
    // b0: PURE-DELETE batch (the zero-row-segment case), b1: inserts of
    // new ids, b2: upserts re-embedding ids 20..22 — all real table rows
    val batches = Seq(
      base.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id"), col("embedding"), lit("delete").as("op")),
      emb.filter(col("vec_id") >= 320 && col("vec_id") < 325)
        .select((col("vec_id") + 680L).as("vec_id"), col("embedding"),
          lit("insert").as("op")),
      emb.filter(col("vec_id") >= 330 && col("vec_id") < 333)
        .select((col("vec_id") - 310L).as("vec_id"), col("embedding"),
          lit("upsert").as("op")))
    val srcDir = s"$tmp/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = s"$tmp/stage$i"
      rows.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(srcDir, f"batch$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val reports = graft.streaming.Ingest.drain(
      spark, srcDir, index0, graft.ops.Ivf.cdcIngest, checkEvery = 2)
    assert(reports.length === 3 && reports.forall(!_.replayed))
    assert(reports.map(r => (r.inserted, r.upserted, r.deleted)) ===
      Seq((0L, 0L, 10L), (5L, 0L, 0L), (0L, 3L, 0L)))
    // the drift cadence counts DURABLE cdc: tokens: only the 2nd fires
    assert(reports.map(_.checked) === Seq(false, true, false))
    // final state == the composed batch mutations on an identical build
    val cmp = graft.ops.Ivf.buildIndex(base, s"$tmp/cmp", kCells = 8, iters = 2)
    graft.ops.Ivf.deleteIds(cmp, (10L until 20L))
    assert(graft.ops.Ivf.appendBatchIdempotent(cmp, batches(1).drop("op"), "x:1"))
    assert(graft.ops.Ivf.upsertBatchIdempotent(cmp, batches(2).drop("op"), "x:2"))
    val queries = emb.filter(col("vec_id") < 5).localCheckpoint()
    def page(ix: graft.ops.Ivf.IvfIndex): Seq[String] =
      graft.ops.Ivf.screenBatch(spark, ix, queries, k = 10, nprobe = 8)
        .collect().map(_.toString).sorted.toSeq
    assert(page(graft.ops.Ivf.loadIndex(s"$tmp/index")) === page(cmp),
      "CDC drain must equal deleteIds + append + upsert composed")
    // a deleted id comes back through a later legitimate append …
    assert(graft.ops.Ivf.appendBatchIdempotent(
      graft.ops.Ivf.loadIndex(s"$tmp/index"),
      emb.filter(col("vec_id") === 340L)
        .select(lit(10L).as("vec_id"), col("embedding")), "readd:10"))
    assert(graft.ops.Ivf.indexData(spark, s"$tmp/index")
      .filter(col("vec_id") === 10L).count() === 1)
    // … and a FULL stream replay (fresh checkpoint, same files — the
    // at-least-once worst case) no-ops on every token: the replayed
    // delete must NOT re-hide the re-inserted id
    val replay = graft.streaming.Ingest.drain(spark, srcDir,
      graft.ops.Ivf.loadIndex(s"$tmp/index"), graft.ops.Ivf.cdcIngest,
      checkEvery = 2, checkpointDir = s"$tmp/ckpt2")
    assert(replay.length === 3 && replay.forall(_.replayed))
    val data = graft.ops.Ivf.indexData(spark, s"$tmp/index")
    assert(data.filter(col("vec_id") === 10L).count() === 1,
      "a replayed delete must not resurrect the tombstone over a later insert")
    assert(data.filter(col("vec_id") >= 11 && col("vec_id") < 20).count() === 0)
    assert(data.filter(col("vec_id").isin(20L, 21L, 22L)).count() === 3)
    assert(data.count() === 320 - 10 + 5 + 1)
  }

  test("streaming doc ingest: lexical CDC batches apply atomically with compaction on cadence; a full replay no-ops after a re-insert") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = tmpDir("doc_ingest")
    val path = s"$tmp/index"
    graft.ops.LexIndex.buildIndex(
      (0 until 80).map(i => (i.toLong, s"alpha word$i")).toDF("doc_id", "text"), path)
    // b0: pure delete, b1: inserts, b2: upserts (re-crawl 20 and 21)
    val batches = Seq(
      (0 until 10).map(i => (i.toLong, "", "delete")),
      (200 until 205).map(i => (i.toLong, s"alpha extra$i tail", "insert")),
      Seq((20L, "gamma delta", "upsert"), (21L, "gamma epsilon", "upsert")))
    val srcDir = s"$tmp/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = s"$tmp/stage$i"
      rows.toDF("doc_id", "text", "op").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(srcDir, f"batch$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val reports = graft.streaming.Ingest.drain(
      spark, srcDir, path, graft.ops.LexIndex.docIngest, compactEvery = 3)
    assert(reports.map(r => (r.inserted, r.upserted, r.deleted)) ===
      Seq((0L, 0L, 10L), (5L, 0L, 0L), (0L, 2L, 0L)))
    // the 3rd applied batch compacted: one segment, tombstones reclaimed
    assert(reports.map(_.compacted) === Seq(false, false, true))
    val gen = graft.util.IndexMaint.liveGen(path)
    assert(graft.util.IndexMaint.segmentValues(gen) === Seq("base"))
    assert(graft.util.IndexMaint.readTombstones(gen).isEmpty)
    // stats track the effective corpus: n = 80 - 10 + 5 (upserts hold
    // n), sum_dl = 160 - 20 + 15 - 4 + 4
    assert(graft.ops.LexIndex.liveStats(path) ===
      graft.ops.LexIndex.LexStats(75L, 155L))
    // a deleted doc comes back through a later legitimate append …
    assert(graft.ops.LexIndex.appendBatchIdempotent(path,
      Seq((3L, "alpha resurrected")).toDF("doc_id", "text"), "readd:3"))
    // … and a FULL stream replay (fresh checkpoint) no-ops every token:
    // tokens survive compaction, so even the compacted delete cannot
    // re-hide the re-inserted doc
    val replay = graft.streaming.Ingest.drain(
      spark, srcDir, path, graft.ops.LexIndex.docIngest, compactEvery = 3,
      checkpointDir = s"$tmp/ckpt2")
    assert(replay.length === 3 && replay.forall(_.replayed))
    val alpha = graft.ops.LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 200)
    assert(alpha.filter(col("doc_id") === 3L).count() === 1L,
      "a replayed delete must not resurrect over the re-insert")
    assert(alpha.filter(col("doc_id") < 10 && col("doc_id") =!= 3L).count() === 0L)
    assert(graft.ops.LexIndex.liveStats(path) ===
      graft.ops.LexIndex.LexStats(76L, 157L))
  }

  test("streaming IVF ingest maintains itself: drift fires on the shifted batch, rebalance repairs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val dim = 32
    val cBase = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat * 5f))
    def around(c: Array[Float], noise: Float) =
      c.map(x => x + rnd.nextGaussian().toFloat * noise)
    val tmp = tmpDir("ivf_ingest")
    // base index: 320 vectors over the 8 clusters
    (0 until 320).map(i => (i.toLong, around(cBase(i % 8), 0.3f)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index0 = graft.ops.Ivf.buildIndex(
      spark.read.parquet(s"$tmp/base"), s"$tmp/index", kCells = 8, iters = 3)
    // staged stream: two batches FROM the base distribution, then two
    // from bisector-rotated shifted clusters (the IvfSpec drift corpus)
    val cShift = (0 until 4).map { j =>
      val a = cBase(2 * j); val b = cBase(2 * j + 1)
      val an = math.sqrt(a.map(x => x.toDouble * x).sum)
      val bn = math.sqrt(b.map(x => x.toDouble * x).sum)
      val mid = Array.tabulate(dim)(i => a(i) / an + b(i) / bn)
      val u = Array.fill(dim)(rnd.nextGaussian())
      Seq(a, b).foreach { w =>
        val d = (0 until dim).map(i => u(i) * w(i)).sum
        val n2 = w.map(x => x.toDouble * x).sum
        (0 until dim).foreach(i => u(i) -= d / n2 * w(i))
      }
      val un = math.sqrt(u.map(x => x * x).sum)
      val mn = math.sqrt(mid.map(x => x * x).sum)
      Array.tabulate(dim)(i =>
        ((mid(i) / mn + u(i) / un) / math.sqrt(2.0) * (an + bn) / 2.0).toFloat)
    }
    val srcDir = s"$tmp/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val batches = Seq(
      (1000 until 1100).map(i => (i.toLong, around(cBase(i % 8), 0.3f))),
      (1100 until 1200).map(i => (i.toLong, around(cBase(i % 8), 0.3f))),
      (2000 until 2400).map(i => (i.toLong, around(cShift(i % 4), 0.8f))),
      (2400 until 2800).map(i => (i.toLong, around(cShift(i % 4), 0.8f))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = s"$tmp/stage$i"
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(srcDir, f"batch$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val scans0 = graft.ops.Ivf.driftScans.get()
    val reports = graft.streaming.Ingest.drain(
      spark, srcDir, index0, graft.ops.Ivf.appendIngest, Some(graft.streaming.Ingest.Screen(
        (i, b) => graft.ops.Ivf.screenBatch(spark, i, b, k = 10, nprobe = 1),
        s"$tmp/sink")))
    // the O(index) drift check is AMORTIZED (default checkEvery=4):
    // four applied batches cost ONE index scan, not four — and the
    // shifted wave still gets caught and repaired below
    val driftScanCount = graft.ops.Ivf.driftScans.get() - scans0
    assert(driftScanCount === 1L,
      s"4 batches at checkEvery=4 must run exactly 1 drift scan, ran $driftScanCount")
    assert(reports.count(_.checked) === 1 && reports.last.checked,
      s"only the 4th applied batch is checked: $reports")
    assert(reports.length === 4, s"one report per micro-batch: $reports")
    // base-distribution batches must NOT fire the dial; the shifted
    // wave must fire it at least once; the LAST batch leaves the index
    // healthy (either its own rebalance or the prior one repaired it)
    assert(!reports(0).rebalanced && !reports(1).rebalanced,
      s"base batches must not trigger maintenance: $reports")
    assert(reports.drop(2).exists(_.rebalanced),
      s"the shifted wave must trigger a rebalance: $reports")
    val healed = graft.ops.Ivf.driftStats(spark, graft.ops.Ivf.loadIndex(s"$tmp/index"))
    assert(!healed.drifted(), s"the stream must leave a healthy index: $healed")
    // the repaired quantizer serves the shifted distribution: nprobe=1
    // screening of fresh shifted queries finds planted near-copies
    val repaired = graft.ops.Ivf.loadIndex(s"$tmp/index")
    val queries = (0 until 20).map { q =>
      ((9000 + q).toLong, around(cShift(q % 4), 0.8f))
    }.toDF("vec_id", "embedding").localCheckpoint()
    val hits = graft.ops.Ivf.screenBatch(spark, repaired, queries, k = 10, nprobe = 1)
      .filter(col("score") >= 0.9).select("query_id").distinct().count()
    assert(hits >= 18, s"post-repair nprobe=1 screening must find shifted neighbors: $hits/20")
    // every batch's screening output landed
    assert(spark.read.parquet(s"$tmp/sink").count() > 0)
  }

  test("streaming PQ ingest maintains itself: shifted wave fires the codebook dial, rebalance repairs, scans amortized") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    val dim = 32
    val cBase = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat * 5f))
    def around(c: Array[Float], noise: Float) =
      c.map(x => x + rnd.nextGaussian().toFloat * noise)
    val tmp = tmpDir("pq_ingest")
    (0 until 400).map(i => (i.toLong, around(cBase(i % 8), 0.3f)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index0 = graft.ops.Pq.buildIndex(
      spark.read.parquet(s"$tmp/base"), s"$tmp/index", m = 4, kSub = 16, iters = 2)
    // shifted wave: a COMPACT ball far from the base region (the
    // geometry where stale codebooks genuinely rot — see ScaleProbe)
    val tOff = Array.fill(dim)(6f)
    val cShift = Array.fill(8)(Array.tabulate(dim)(j =>
      tOff(j) + rnd.nextGaussian().toFloat * 1.2f))
    val srcDir = s"$tmp/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val batches = Seq(
      (1000 until 1100).map(i => (i.toLong, around(cBase(i % 8), 0.3f))),
      (1100 until 1200).map(i => (i.toLong, around(cBase(i % 8), 0.3f))),
      (2000 until 2200).map(i => (i.toLong, around(cShift(i % 8), 0.3f))),
      (2200 until 2400).map(i => (i.toLong, around(cShift(i % 8), 0.3f))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = s"$tmp/stage$i"
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(srcDir, f"batch$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val scans0 = graft.ops.Pq.driftScans.get()
    val reports = graft.streaming.Ingest.drain(spark, srcDir, index0,
      graft.ops.Pq.appendIngest, Some(graft.streaming.Ingest.Screen(
        (ix, b) => graft.ops.Pq.screenBatchAdc(spark, ix, b, k = 10), s"$tmp/sink")))
    // amortization: 4 applied batches at checkEvery=4 -> ONE drift scan
    assert(graft.ops.Pq.driftScans.get() - scans0 === 1L)
    assert(reports.length === 4 && reports.count(_.checked) === 1)
    assert(!reports(0).rebalanced && !reports(1).rebalanced,
      s"base batches must not trigger maintenance: $reports")
    assert(reports.last.rebalanced,
      s"the checked shifted batch must fire the codebook dial: $reports")
    // the stream leaves a healthy index whose codes serve the shifted
    // distribution: recall@50 of fresh shifted queries is restored
    val repaired = graft.ops.Pq.loadIndex(s"$tmp/index")
    assert(!graft.ops.Pq.pqDriftStats(spark, repaired).drifted())
    val queries = (0 until 10).map { q =>
      ((9000 + q).toLong, around(cShift(q % 8), 0.3f).map(_.toDouble))
    }
    val rec = graft.ops.Pq.recallAtK(spark, repaired, queries, 50)
    assert(rec >= 0.8, s"post-repair ADC recall@50 on shifted queries: $rec")
    // every batch's screening output landed under its own partition
    assert(spark.read.parquet(s"$tmp/sink").select("batch_id").distinct().count() === 4)
  }

  test("ingest replay: an already-applied batch is skipped whole — no self-match screen, no re-append") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val tmp = tmpDir("ivf_replay")
    (0 until 200).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index0 = graft.ops.Ivf.buildIndex(
      spark.read.parquet(s"$tmp/base"), s"$tmp/index", kCells = 4, iters = 1)
    val srcDir = s"$tmp/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val batches = Seq(
      (1000 until 1020).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))),
      (1100 until 1120).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = s"$tmp/stage$i"
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, f"batch$i%02d.parquet"))
    }
    // simulate the at-least-once replay of batch 0: its vectors are
    // ALREADY in the index with the token recorded (crash happened after
    // append+token, before the streaming checkpoint committed)
    val pre = batches.head.toDF("vec_id", "embedding").localCheckpoint()
    assert(graft.ops.Ivf.appendBatchIdempotent(index0, pre, token = "ingest:0"))
    val n0 = graft.ops.Ivf.indexData(spark, s"$tmp/index").count()
    val reports = graft.streaming.Ingest.drain(
      spark, srcDir, index0, graft.ops.Ivf.appendIngest, Some(graft.streaming.Ingest.Screen(
        (i, b) => graft.ops.Ivf.screenBatch(spark, i, b, k = 5, nprobe = 2),
        s"$tmp/sink")), checkEvery = 1)
    assert(reports.length === 2)
    // batch 0 replays: skipped whole — no append (row count moves only
    // by batch 1), no drift check, and NO sink partition for it (its
    // original output would already be on disk in a real replay; a
    // re-screen here would self-match every vector at rank 1)
    assert(reports(0).replayed && !reports(0).checked,
      s"replayed batch must be skipped whole: ${reports(0)}")
    assert(reports(0).inserted === -1L && reports(0).screenedPairs === -1L,
      s"a replayed batch's counts are UNKNOWN, not zero: ${reports(0)}")
    assert(!reports(1).replayed && reports(1).inserted === 20L)
    assert(graft.ops.Ivf.indexData(spark, s"$tmp/index").count() === n0 + 20L)
    val sinkBatches = spark.read.parquet(s"$tmp/sink")
      .select("batch_id").distinct().collect().map(_.getInt(0)).toSet
    assert(sinkBatches === Set(1), s"only the fresh batch writes its partition: $sinkBatches")
    // and the fresh batch's screen results contain no self-matches
    assert(spark.read.parquet(s"$tmp/sink")
      .filter(col("query_id") === col("vec_id")).count() === 0L)
  }

  test("streaming residual ingest maintains itself: shifted wave fires the residual dial, composed rebalance repairs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(89)
    val dim = 32
    val cBase = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat * 5f))
    def around(c: Array[Float], noise: Float) =
      c.map(x => x + rnd.nextGaussian().toFloat * noise)
    val tmp = tmpDir("ivfpq_ingest")
    (0 until 400).map(i => (i.toLong, around(cBase(i % 8), 0.3f)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index0 = graft.ops.Pq.buildIndex(
      spark.read.parquet(s"$tmp/base"), s"$tmp/index",
      m = 4, kSub = 16, iters = 2, kCells = Some(8))
    val tOff = Array.fill(dim)(6f)
    val cShift = Array.fill(8)(Array.tabulate(dim)(j =>
      tOff(j) + rnd.nextGaussian().toFloat * 1.2f))
    val srcDir = s"$tmp/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val batches = Seq(
      (1000 until 1100).map(i => (i.toLong, around(cBase(i % 8), 0.3f))),
      (1100 until 1200).map(i => (i.toLong, around(cBase(i % 8), 0.3f))),
      (2000 until 2200).map(i => (i.toLong, around(cShift(i % 8), 0.3f))),
      (2200 until 2400).map(i => (i.toLong, around(cShift(i % 8), 0.3f))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = s"$tmp/stage$i"
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(srcDir, f"batch$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val scans0 = graft.ops.Pq.driftScans.get()
    val reports = graft.streaming.Ingest.drain(spark, srcDir, index0,
      graft.ops.Pq.appendIngest, Some(graft.streaming.Ingest.Screen(
        (ix, b) => graft.ops.Pq.screenBatchResidual(spark, ix, b, k = 10, nprobe = 4),
        s"$tmp/sink")))
    // amortization holds on the residual loop: 4 applied batches at
    // checkEvery=4 -> ONE residual drift scan
    assert(graft.ops.Pq.driftScans.get() - scans0 === 1L)
    assert(reports.length === 4 && reports.count(_.checked) === 1)
    assert(!reports(0).rebalanced && !reports(1).rebalanced,
      s"base batches must not trigger maintenance: $reports")
    assert(reports.last.rebalanced,
      s"the checked shifted batch must fire the residual-fit dial: $reports")
    // the composed repair leaves a healthy index serving the shifted
    // distribution from residual codes
    val repaired = graft.ops.Pq.loadIndex(s"$tmp/index")
    assert(!graft.ops.Pq.pqDriftStats(spark, repaired).drifted())
    val queries = (0 until 10).map { q =>
      ((9000 + q).toLong, around(cShift(q % 8), 0.3f).map(_.toDouble))
    }
    val rec = graft.ops.Pq.recallAtKResidual(spark, repaired, queries, 50, nprobe = 8)
    assert(rec >= 0.8, s"post-repair residual recall@50 on shifted queries: $rec")
    assert(spark.read.parquet(s"$tmp/sink").select("batch_id").distinct().count() === 4)
    // no self-matches anywhere in the screen output
    assert(spark.read.parquet(s"$tmp/sink")
      .filter(col("query_id") === col("vec_id")).count() === 0L)
  }

  test("compactEvery keeps streamed segment counts bounded without disturbing tokens or contents") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(101)
    val tmp = tmpDir("ivf_autocompact")
    (0 until 200).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index0 = graft.ops.Ivf.buildIndex(
      spark.read.parquet(s"$tmp/base"), s"$tmp/index", kCells = 4, iters = 1)
    val srcDir = s"$tmp/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val batches = (0 until 4).map { b =>
      (1000 + b * 100 until 1020 + b * 100)
        .map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    }
    batches.zipWithIndex.foreach { case (rows, i) =>
      val stage = s"$tmp/stage$i"
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(srcDir, f"batch$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val reports = graft.streaming.Ingest.drain(
      spark, srcDir, index0, graft.ops.Ivf.appendIngest, Some(graft.streaming.Ingest.Screen(
        (i, b) => graft.ops.Ivf.screenBatch(spark, i, b, k = 5, nprobe = 2),
        s"$tmp/sink")), checkEvery = 100, compactEvery = 2)
    assert(reports.length === 4 && reports.forall(!_.replayed))
    // after the 4th batch the cadence compacted at batches 2 and 4:
    // the live generation holds ONE re-landed segment, not base + 4
    val segs = new java.io.File(graft.util.IndexMaint.liveGen(s"$tmp/index"))
      .listFiles.filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .map(_.getName).toSeq
    assert(segs === Seq("seg=base"),
      s"compaction must re-land streamed segments into one, got $segs")
    // contents and tokens intact: all 80 appended rows present exactly
    // once, every applied token still no-ops
    assert(graft.ops.Ivf.indexData(spark, s"$tmp/index").count() === 280L)
    val live = graft.ops.Ivf.loadIndex(s"$tmp/index")
    batches.zipWithIndex.foreach { case (rows, i) =>
      assert(!graft.ops.Ivf.appendBatchIdempotent(live,
        rows.toDF("vec_id", "embedding"), token = s"ingest:$i"),
        s"token ingest:$i must survive auto-compaction")
    }
  }

  test("mergePolicy in the ingest loop: self-pacing tiered merges bound segment counts, never touch base, keep tokens and contents") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(107)
    val tmp = tmpDir("ivf_automerge")
    (0 until 400).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index0 = graft.ops.Ivf.buildIndex(
      spark.read.parquet(s"$tmp/base"), s"$tmp/index", kCells = 4, iters = 1)
    val batches = (0 until 9).map { b =>
      (1000 + b * 100 until 1020 + b * 100)
        .map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    }
    val srcDir = graft.util.Fs.stageBatchFiles(tmp, "src", batches)
    val reports = graft.streaming.Ingest.drain(
      spark, srcDir, index0, graft.ops.Ivf.appendIngest, Some(graft.streaming.Ingest.Screen(
        (i, b) => graft.ops.Ivf.screenBatch(spark, i, b, k = 5, nprobe = 2),
        s"$tmp/sink")), checkEvery = 100,
      mergePolicy = Some(graft.ops.MergePolicy(factor = 4, minMerge = 4, maxMerge = 8)))
    assert(reports.length === 9 && reports.forall(!_.replayed))
    // tiers filled at batches 4 and 8 (at this toy scale parquet
    // overhead keeps a merged segment in the singles' tier, so the
    // second merge may consume the first): base + merged + ≤2 singles
    val gen = graft.util.IndexMaint.liveGen(s"$tmp/index")
    val segs = graft.util.IndexMaint.segmentValues(gen)
    assert(segs.contains("base"), "the big base segment is never merged at this scale")
    assert(segs.size <= 4, s"tiered merging must bound the segment count: $segs")
    assert(segs.exists(_.startsWith("m")), s"merges must have fired: $segs")
    // contents exact, every token durable (merged ones via the
    // consolidated sidecar), structure fsck-green
    assert(graft.ops.Ivf.indexData(spark, s"$tmp/index").count() === 580L)
    val live = graft.ops.Ivf.loadIndex(s"$tmp/index")
    batches.zipWithIndex.foreach { case (rows, i) =>
      assert(!graft.ops.Ivf.appendBatchIdempotent(live, rows, token = s"ingest:$i"),
        s"token ingest:$i must survive tiered merging")
    }
    assert(graft.ops.Ivf.fsckIndex(spark, s"$tmp/index")._1.isEmpty)
  }

  test("CDC stream with a tiered merge policy: per-segment tombstone scope and replay tokens survive a mid-stream merge; page equals a merge-free twin") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def vecs(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    def tagged(df: org.apache.spark.sql.DataFrame, op: String) =
      df.select(col("vec_id"), col("embedding"), lit(op).as("op"))
    val tmp = tmpDir("cdc_merge")
    val base = vecs(0 until 60).localCheckpoint()
    val index0 = graft.ops.Ivf.buildIndex(base, s"$tmp/index", kCells = 2, iters = 1)
    // the MergeSpec scope fixture, driven THROUGH the stream: insert 900
    // (b0), delete it (b1 — a pure-delete zero-row batch), re-insert it
    // with a distinctive embedding (b2), then enough same-size batches
    // that the tier fills MID-STREAM and the merge coalesces b0's stale
    // copy + its tombstone pair together with b2's live copy
    val reinsert = Seq((900L, Array.fill(8)(0.42f))).toDF("vec_id", "embedding")
      .unionByName(vecs(905 until 909))
    val batches = Seq(
      tagged(vecs(900 until 905), "insert"),
      tagged(Seq((900L, Array.fill(8)(0f))).toDF("vec_id", "embedding"), "delete"),
      tagged(reinsert, "insert"),
      tagged(vecs(910 until 915), "insert"),
      tagged(vecs(920 until 925), "insert"),
      tagged(vecs(930 until 935), "insert"))
    val srcDir = graft.util.Fs.stageBatchFiles(tmp, "src", batches)
    val mp = Some(graft.ops.MergePolicy(factor = 4, minMerge = 4, maxMerge = 8))
    val reports = graft.streaming.Ingest.drain(spark, srcDir, index0,
      graft.ops.Ivf.cdcIngest, checkEvery = 100, mergePolicy = mp)
    assert(reports.length === 6 && reports.forall(!_.replayed))
    assert(reports.count(_.maintBytes > 0) >= 1,
      s"a tiered merge must have fired mid-stream: ${reports.map(_.maintBytes)}")
    // per-segment scope across the merge: exactly the re-inserted copy
    val live900 = graft.ops.Ivf.indexData(spark, s"$tmp/index")
      .filter(col("vec_id") === 900L)
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    assert(live900.length === 1 && live900.head.forall(_ == 0.42f),
      "the merge must keep the later copy, not resurrect or kill it")
    assert(graft.ops.Ivf.indexData(spark, s"$tmp/index").count() === 84L)
    // the merged segments' pairs left the sidecar; only the pair against
    // the untouched base segment remains
    val tombs = graft.util.IndexMaint.readTombstones(
      graft.util.IndexMaint.liveGen(s"$tmp/index"))
    assert(tombs.toSeq === Seq(("base", 900L)),
      s"merged segments' pairs must be reclaimed: ${tombs.toSeq}")
    // a FULL stream replay (fresh checkpoint) no-ops on every token —
    // including the merged batches', now in the consolidated sidecar —
    // and charges zero maintenance IO
    val replay = graft.streaming.Ingest.drain(spark, srcDir,
      graft.ops.Ivf.loadIndex(s"$tmp/index"), graft.ops.Ivf.cdcIngest,
      checkEvery = 100, checkpointDir = s"$tmp/ckpt2", mergePolicy = mp)
    assert(replay.length === 6 && replay.forall(_.replayed))
    assert(replay.forall(_.maintBytes === 0L))
    assert(graft.ops.Ivf.indexData(spark, s"$tmp/index").count() === 84L)
    // serving equals a merge-free twin of the same drain, page for page
    val cmp0 = graft.ops.Ivf.buildIndex(base, s"$tmp/cmp", kCells = 2, iters = 1)
    graft.streaming.Ingest.drain(spark, srcDir, cmp0, graft.ops.Ivf.cdcIngest,
      checkEvery = 100, checkpointDir = s"$tmp/ckpt3")
    val queries = vecs(500 until 503).localCheckpoint()
    def page(p: String): Seq[String] =
      graft.ops.Ivf.screenBatch(spark, graft.ops.Ivf.loadIndex(p), queries,
        k = 5, nprobe = 2).collect().map(_.toString).sorted.toSeq
    assert(page(s"$tmp/index") === page(s"$tmp/cmp"),
      "mid-stream merges must be invisible to serving")
    assert(graft.ops.Ivf.fsckIndex(spark, s"$tmp/index")._1.isEmpty)
  }

  test("CDC loop charges no maintenance IO to a concurrently-applied batch: compactEvery skips when the token lands between the cadence read and the apply") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val rnd = new scala.util.Random(53)
    val tmp = tmpDir("cdc_fresh_guard")
    val base = (0 until 40)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val index0 = graft.ops.Ivf.buildIndex(base, s"$tmp/index", kCells = 2, iters = 1)
    val batch = (100 until 105)
      .map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val srcDir = graft.util.Fs.stageBatchFiles(tmp, "src",
      Seq(batch.select(col("vec_id"), col("embedding"), lit("insert").as("op"))))
    // Deterministic interleaving for the race the fresh-guard exists
    // for: hold the index's mutation monitor so the stream blocks at
    // its apply AFTER reading applied0 (token absent there), apply the
    // token ourselves (reentrant), release — the stream's apply then
    // finds the token (fresh = false) with compactEvery = 1 pointing
    // straight at the maintenance branch, which must NOT fire.
    val monitor = graft.util.IndexMaint.lockFor(s"$tmp/index")
    val myHash = System.identityHashCode(monitor)
    var gen0 = ""
    val fut = monitor.synchronized {
      val f = Future(graft.streaming.Ingest.drain(spark, srcDir, index0,
        graft.ops.Ivf.cdcIngest, checkEvery = 100, compactEvery = 1))
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      def streamBlocked: Boolean = mx.dumpAllThreads(false, false).exists(ti =>
        ti.getThreadState == Thread.State.BLOCKED &&
          ti.getLockInfo != null && ti.getLockInfo.getIdentityHashCode == myHash)
      while (!streamBlocked && System.nanoTime() < deadline) Thread.sleep(25)
      assert(streamBlocked, "the stream never reached its apply — cannot stage the race")
      // the concurrent drain: same token, applied first (reentrant lock)
      assert(graft.ops.Ivf.applyCdcIdempotent(
        graft.ops.Ivf.loadIndex(s"$tmp/index"),
        batch.select(col("vec_id"), col("embedding"), lit("insert").as("op")),
        "cdc:0"), "the staged concurrent apply must land fresh")
      gen0 = graft.util.IndexMaint.liveGen(s"$tmp/index")
      f
    }
    val reports = Await.result(fut, 5.minutes)
    assert(reports.length === 1 && !reports.head.replayed)
    // the guarded branch: no compaction fired for the no-op batch —
    // the generation is untouched and zero maintenance bytes charged
    assert(reports.head.maintBytes === 0L,
      "a concurrently-applied batch must not be charged maintenance IO")
    assert(graft.util.IndexMaint.liveGen(s"$tmp/index") === gen0,
      "compactEvery must not rewrite the generation for a batch that changed nothing")
    assert(graft.ops.Ivf.indexData(spark, s"$tmp/index").count() === 45L)
  }

  test("lexical CDC stream with a tiered merge policy: per-segment tombstone scope and replay tokens survive a mid-stream merge; page equals a merge-free twin") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = tmpDir("doc_cdc_merge")
    val base = (0 until 60).map(i => (i.toLong, s"alpha w$i beta"))
      .toDF("doc_id", "text")
    graft.ops.LexIndex.buildIndex(base, s"$tmp/index")
    def tagged(rows: Seq[(Long, String)], op: String) =
      rows.toDF("doc_id", "text").withColumn("op", lit(op))
    // the MergeSpec scope fixture through the DOC stream: insert 900
    // (b0), delete it (b1 — pure-delete batch), re-insert it with a
    // distinctive term (b2), then enough same-size batches that the
    // tier fills MID-STREAM and the merge coalesces b0's stale copy +
    // its tombstone pair together with b2's live copy
    val batches = Seq(
      tagged((900 until 905).map(i => (i.toLong, s"alpha doomed d$i")), "insert"),
      tagged(Seq((900L, "")), "delete"),
      tagged(Seq((900L, "alpha zeta reborn")) ++
        (905 until 909).map(i => (i.toLong, s"alpha fresh f$i")), "insert"),
      tagged((910 until 915).map(i => (i.toLong, s"alpha more m$i")), "insert"),
      tagged((920 until 925).map(i => (i.toLong, s"alpha more n$i")), "insert"),
      tagged((930 until 935).map(i => (i.toLong, s"alpha more o$i")), "insert"))
    val srcDir = graft.util.Fs.stageBatchFiles(tmp, "src", batches)
    val mp = Some(graft.ops.MergePolicy(factor = 4, minMerge = 4, maxMerge = 8))
    val reports = graft.streaming.Ingest.drain(
      spark, srcDir, s"$tmp/index", graft.ops.LexIndex.docIngest, mergePolicy = mp)
    assert(reports.length === 6 && reports.forall(!_.replayed))
    assert(reports.count(_.maintBytes > 0) >= 1,
      s"a tiered merge must have fired mid-stream: ${reports.map(_.maintBytes)}")
    // per-segment scope across the merge: exactly the re-inserted copy
    // serves — by its NEW text, never the merged-away doomed copy
    val zeta = graft.ops.LexIndex.bm25TopK(spark, s"$tmp/index",
      Seq("q" -> "zeta"), 200)
    assert(zeta.filter(col("doc_id") === 900L).count() === 1L,
      "the merge must keep the later copy")
    assert(graft.ops.LexIndex.bm25TopK(spark, s"$tmp/index",
      Seq("q" -> "doomed"), 200).filter(col("doc_id") === 900L).count() === 0L,
      "the merge must not resurrect the deleted copy's postings")
    assert(graft.ops.LexIndex.indexData(spark, s"$tmp/index")
      .select(col("doc_id")).distinct().count() === 84L)
    // the merged segments' pairs left the sidecar; any survivor names
    // only a segment that still exists (the untouched base)
    val gen = graft.util.IndexMaint.liveGen(s"$tmp/index")
    val segs = graft.util.IndexMaint.segmentValues(gen).toSet
    val tombs = graft.util.IndexMaint.readTombstones(gen)
    assert(tombs.forall { case (s, _) => segs(s) },
      s"merged segments' pairs must be reclaimed: ${tombs.toSeq}")
    // a FULL stream replay (fresh checkpoint) no-ops on every token —
    // including the merged batches', now in the consolidated sidecar —
    // and charges zero maintenance IO
    val replay = graft.streaming.Ingest.drain(spark, srcDir, s"$tmp/index",
      graft.ops.LexIndex.docIngest, checkpointDir = s"$tmp/ckpt2", mergePolicy = mp)
    assert(replay.length === 6 && replay.forall(_.replayed))
    assert(replay.forall(_.maintBytes === 0L))
    // serving equals a merge-free twin of the same drain, page for page,
    // and the scoring constants agree exactly
    graft.ops.LexIndex.buildIndex(base, s"$tmp/cmp")
    graft.streaming.Ingest.drain(spark, srcDir, s"$tmp/cmp", graft.ops.LexIndex.docIngest,
      checkpointDir = s"$tmp/ckpt3")
    def page(p: String): Seq[String] =
      graft.ops.LexIndex.bm25TopK(spark, p,
        Seq("q1" -> "alpha", "q2" -> "zeta", "q3" -> "beta"), 5)
        .collect().map(_.toString).sorted.toSeq
    assert(page(s"$tmp/index") === page(s"$tmp/cmp"),
      "mid-stream merges must be invisible to serving")
    assert(graft.ops.LexIndex.liveStats(s"$tmp/index") ===
      graft.ops.LexIndex.liveStats(s"$tmp/cmp"))
    val (bad, _) = graft.ops.LexIndex.fsckIndex(spark, s"$tmp/index")
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("streaming datacard equals a one-shot batch build — batching is invisible") {
    // the stream folds FOUR micro-batches into state; the one-shot path
    // inits state from the whole corpus at once. Canonical-set state
    // components make the two renders identical row for row.
    val streamed = graft.streaming.StreamingQueries.streamDatacard(spark, sf)
      .collect().map(_.toString)
    val stateDir = tmpDir("stream_dc_batch")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.ops.Datacard.datacardFold(spark, docs, stateDir)
    val oneShot = graft.ops.Datacard.datacardRender(spark, stateDir)
      .collect().map(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === oneShot.toSeq)
  }
}
