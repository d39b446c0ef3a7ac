package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.LongType

/** Oracle-checked streaming queries: each runs a REAL Structured
  * Streaming query (readStream → watermarked transform → writeStream,
  * `Trigger.AvailableNow`) to a parquet sink and returns the sink
  * contents, so the CORRECTNESS row hash-checks an actual streaming
  * execution — state store, watermark advancement, append-mode window
  * finalization — against a DuckDB batch twin, not a batch re-phrasing.
  *
  * Append-mode semantics make the twin precise: a window is emitted iff
  * `window.end <= final watermark` (= max event time − delay), so the
  * batch SQL filters on exactly that predicate. Windows still open when
  * the stream drains are correctly ABSENT from both sides — that
  * boundary is the thing worth pinning, and a bug in watermark handling
  * (emitting open windows, dropping closed ones) flips the row red.
  */
object StreamingQueries {

  /** Stage `table`.parquet behind a fresh temp dir (the file stream
    * source requires a DIRECTORY; the testdata ships single files —
    * a symlink costs nothing), run `build` on the watermark-ready
    * stream, drain it AvailableNow into a parquet sink, and return the
    * sink pinned with `localCheckpoint` so the temp dir can be removed
    * immediately. `sortCols` makes the returned frame deterministic for
    * the driver's hash compare.
    */
  private def runAvailableNow(spark: SparkSession, dir: String, table: String,
      name: String, sortCols: Seq[String])(
      build: DataFrame => DataFrame): DataFrame = {
    // events.ts is TIMESTAMP(NANOS) parquet (read as long — same
    // handling as catalog.Catalog)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$table.parquet"
    val schema = spark.read.parquet(path).schema
    val tmp = java.nio.file.Files.createTempDirectory(name).toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$tmp/src"))
    // toAbsolutePath: a symlink target resolves relative to the LINK's
    // directory, so a relative sfDir (fine for every batch query) would
    // otherwise produce a dangling link under /tmp
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$tmp/src/$table.parquet"),
      java.nio.file.Paths.get(path).toAbsolutePath)
    val src = spark.readStream.schema(schema).parquet(s"$tmp/src")
    val withTs =
      if (schema.fieldNames.contains("ts") && schema("ts").dataType == LongType)
        src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else if (schema.fieldNames.contains("ts"))
        src.withColumn("ts", col("ts").cast("timestamp"))
      else src
    // Stateful streaming cost is dominated by state-store instances:
    // a stream-stream join keeps FOUR stores per shuffle partition per
    // side, each with its own checkpoint commit per micro-batch. Size
    // the state partitioning to the data like a cluster deployment
    // would (spark.sql.streaming.statefulOperator partitioning follows
    // shuffle.partitions at FIRST run and is then pinned in the
    // checkpoint) — scoped and restored, batch queries never see it.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val out = build(withTs)
      val q = out
        .writeStream.format("parquet")
        .option("path", s"$tmp/sink")
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // localCheckpoint pins the result, so the temp dir (source symlink,
      // sink, checkpoint) is removable in the finally even on success —
      // and a failed run cannot strand an 8x-corpus-sized directory.
      // Explicit schema: a zero-row run leaves only _spark_metadata in
      // the sink, where inference would throw instead of returning empty.
      spark.read.schema(out.schema).parquet(s"$tmp/sink")
        .orderBy(sortCols.map(col): _*).localCheckpoint()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      graft.util.Fs.deleteRecursively(tmp)
    }
  }

  /** Streaming twin of g10_time_window: watermarked 1-hour tumbling
    * windows over `events`, run as a genuine AvailableNow stream.
    */
  def streamWindowedCounts(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir, "events", "stream_wc",
      Seq("window_start", "event_type")) { events =>
      EventStreams.windowedCounts(events, watermark = "10 minutes",
        window_ = "1 hour")
    }

  /** Streaming exact dedup through the state store:
    * [[EventStreams.dedupByFingerprint]] over `documents` (event time
    * synthesized deterministically from doc_id), run AvailableNow. Only
    * the fingerprint column is emitted: WHICH duplicate the state store
    * sees first depends on partition processing order, but the SET of
    * distinct fingerprints does not — that is the deterministic contract
    * a streaming dedup can make, and exactly what the DuckDB twin
    * (SELECT DISTINCT md5(...)) checks. One source file = one
    * micro-batch, so no state is evicted mid-stream and the set is
    * complete.
    */
  def streamDedupFingerprint(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir, "documents", "stream_dd", Seq("fp")) { docs =>
      val stamped = docs.withColumn("ts",
        timestamp_seconds(lit(1704067200L) + col("doc_id")))
      EventStreams.dedupByFingerprint(stamped, watermark = "10 minutes")
        .select("fp")
    }

  /** Stream-stream interval join ([[EventStreams.attributionJoin]]):
    * clicks attribute to same-user views at most 60 minutes earlier.
    * Both sides are independent file streams over the same staged
    * events table; the inner interval join's output is exactly the
    * batch join (single micro-batch per side — no state eviction before
    * the slower side arrives), so the DuckDB twin is the plain SQL
    * join. All output columns come from the data, so the row is fully
    * hash-checked, not rows-only.
    */
  def streamAttributionJoin(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir, "events", "stream_attr",
      Seq("click_id", "view_id")) { events =>
      val views = events.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
          col("user_id").as("view_user"))
      val clicks = events.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
          col("user_id"))
      EventStreams.attributionJoin(views, clicks,
          watermark = "10 minutes", window_ = "60 minutes")
        .select(col("user_id"), col("click_id"), col("click_ts"),
          col("view_id"), col("view_ts"))
    }

  /** LEFT OUTER attribution ([[EventStreams.attributionJoinOuter]]):
    * every view emits — matched views once per qualifying click, and
    * views with NO qualifying click emit with null click columns when
    * the terminal watermark closes their match window
    * (view_ts + 60 min < min-of-both-sides' max event time − 10 min).
    * Views whose window is still open at stream end are held in state
    * and absent from both engines. The no-data batch after the file
    * drains is what advances the watermark and flushes the unmatched
    * rows — the hard case the inner row never exercises.
    */
  def streamAttributionOuter(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir, "events", "stream_attro",
      Seq("view_id", "click_id")) { events =>
      val views = events.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
          col("user_id").as("view_user"))
      val clicks = events.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
          col("user_id"))
      EventStreams.attributionJoinOuter(views, clicks,
        watermark = "10 minutes", window_ = "60 minutes")
    }

  /** Stateful sessionization through the state store
    * ([[EventStreams.sessionize]], `flatMapGroupsWithState` with
    * event-time timeout) run AvailableNow: gap-closed sessions emit
    * inside the data micro-batch; the post-data no-data batch advances
    * the watermark to max(ts) − 10 min and fires the timeout for every
    * session idle ≥ 30 min at that point. Sessions still open at the
    * terminal watermark are held in state and never emitted — the twin
    * reproduces exactly that emission rule. All session arithmetic is
    * in MILLISECONDS (the `GroupState` timeout domain — `Timestamp
    * .getTime` floors the stored microseconds), so the twin sessionizes
    * over `epoch_ms`, while emitted bounds keep full µs precision.
    */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir, "events", "stream_sess",
      Seq("user_id", "session_start")) { events =>
      import spark.implicits._
      val ds = events.select(col("ts"), col("user_id").as("userId"),
        col("event_type").as("eventType"), col("value"))
        .as[EventStreams.Event]
      EventStreams.sessionize(ds, gapMs = 30 * 60 * 1000L).toDF()
        .select(col("userId").as("user_id"), col("start").as("session_start"),
          col("end").as("session_end"), col("nEvents").as("n_events"))
    }

  /** Running user profiles on the Spark 4 `transformWithState` API
    * ([[EventStreams.UserProfileProcessor]]): one AvailableNow batch →
    * every user's running (n_events, total_value) — which for a single
    * batch is the plain per-user aggregate, with the value total summed
    * as the processor's sorted fold. The RocksDB state store the API
    * requires is scoped to this query and restored after.
    */
  def streamUserProfile(spark: SparkSession, dir: String): DataFrame = {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    try {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      runAvailableNow(spark, dir, "events", "stream_prof", Seq("user_id")) { events =>
        import spark.implicits._
        val ds = events.select(col("ts"), col("user_id").as("userId"),
          col("event_type").as("eventType"), col("value"))
          .as[EventStreams.Event]
        EventStreams.userProfiles(ds).toDF()
          .select(col("userId").as("user_id"), col("nEvents").as("n_events"),
            col("totalValue").as("total_value"))
      }
    } finally {
      prev.fold(spark.conf.unset("spark.sql.streaming.stateStore.providerClass"))(
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", _))
    }
  }

  /** DuckDB twin of streamUserProfile: the plain per-user rollup with
    * the identical sorted-fold value total.
    */
  val streamUserProfileSql: String =
    """SELECT user_id, count(*) AS n_events,
      |       list_reduce(list_sort(list(value)), (p, q) -> p + q) AS total_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** DuckDB batch twin: same rollup as g10_time_window, restricted to
    * windows finalized by the terminal watermark max(ts) − 10 min.
    */
  val streamWindowedCountsSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |HAVING date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
      |       <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 10 MINUTE FROM events)
      |ORDER BY 1, 2""".stripMargin

  /** DuckDB twin of streamDedupFingerprint: the distinct set of
    * normalized-text fingerprints (same normalization as dedup_exact).
    */
  val streamDedupFingerprintSql: String =
    """SELECT DISTINCT md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fp
      |FROM documents ORDER BY fp""".stripMargin

  /** DuckDB twin of streamAttributionJoin: the plain interval join —
    * the streaming run must emit exactly the batch matches.
    */
  val streamAttributionJoinSql: String =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
      |v AS (SELECT event_id AS view_id, ts AS view_ts, user_id AS view_user FROM e WHERE event_type = 'view'),
      |c AS (SELECT event_id AS click_id, ts AS click_ts, user_id FROM e WHERE event_type = 'click')
      |SELECT c.user_id, c.click_id, c.click_ts, v.view_id, v.view_ts
      |FROM c JOIN v ON v.view_user = c.user_id
      |  AND v.view_ts <= c.click_ts
      |  AND v.view_ts >= c.click_ts - INTERVAL 60 MINUTE
      |ORDER BY c.click_id, v.view_id""".stripMargin

  /** DuckDB twin of streamAttributionOuter: the plain left interval
    * join, with unmatched views KEPT only when their match window
    * closed at the terminal watermark — min of the two sides' max event
    * times minus the 10-minute delay, exactly the global watermark an
    * AvailableNow run ends on (multipleWatermarkPolicy = min). The
    * watermark is NULL (flushing nothing) when EITHER side has no rows:
    * DuckDB's least() would skip a NULL operand, but Spark's min policy
    * pins the global watermark at epoch while an input is empty, so no
    * unmatched row is ever emitted there. NULLS FIRST mirrors Spark's
    * ascending null ordering for the row-order compare.
    */
  val streamAttributionOuterSql: String =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events),
      |v AS (SELECT event_id AS view_id, ts AS view_ts, user_id AS view_user FROM e WHERE event_type = 'view'),
      |c AS (SELECT event_id AS click_id, ts AS click_ts, user_id FROM e WHERE event_type = 'click'),
      |wm AS (SELECT CASE WHEN (SELECT max(view_ts) FROM v) IS NULL
      |                      OR (SELECT max(click_ts) FROM c) IS NULL THEN NULL
      |              ELSE least((SELECT max(view_ts) FROM v), (SELECT max(click_ts) FROM c))
      |                   - INTERVAL 10 MINUTE END AS w),
      |j AS (
      |  SELECT v.view_user AS user_id, v.view_id, v.view_ts, c.click_id, c.click_ts
      |  FROM v LEFT JOIN c ON v.view_user = c.user_id
      |    AND v.view_ts <= c.click_ts
      |    AND v.view_ts >= c.click_ts - INTERVAL 60 MINUTE)
      |SELECT user_id, view_id, view_ts, click_id, click_ts
      |FROM j, wm
      |WHERE click_id IS NOT NULL OR view_ts + INTERVAL 60 MINUTE < wm.w
      |ORDER BY view_id, click_id NULLS FIRST""".stripMargin

  /** DuckDB twin of streamSessionize: ms-domain gap sessionization; a
    * session surfaces iff a later same-user session exists (gap-closed
    * in-batch) or its end is ≥ 30 min idle at the terminal watermark
    * (timeout-closed in the no-data batch).
    */
  val streamSessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
      |  FROM events),
      |wm AS (SELECT max(ms) - 600000 AS w FROM e),
      |flagged AS (
      |  SELECT user_id, ts, ms,
      |         lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS prev_ms
      |  FROM e),
      |sess AS (
      |  SELECT user_id, ts, ms,
      |         CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
      |                       THEN 1 ELSE 0 END)
      |              OVER (PARTITION BY user_id ORDER BY ms
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS seq
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, seq, min(ts) AS session_start, max(ts) AS session_end,
      |         max(ms) AS end_ms, count(*) AS n_events
      |  FROM sess GROUP BY 1, 2),
      |marked AS (
      |  SELECT agg.*, (seq < max(seq) OVER (PARTITION BY user_id)) AS has_later
      |  FROM agg)
      |SELECT user_id, session_start, session_end, n_events
      |FROM marked, wm
      |WHERE has_later OR end_ms + 1800000 < wm.w
      |ORDER BY user_id, session_start""".stripMargin

  /** Streaming blocklist screen: [[graft.functions.MultiMatch]] is
    * stateless scan work, so it drops into a file stream unchanged —
    * the shape of an ingest-time contamination/phrase filter running
    * ahead of the batch curation pipeline. Stateless map ⇒ streaming
    * output ≡ batch output, so the DuckDB twin is the batch screen
    * restricted to hits.
    */
  def streamBlocklist(spark: SparkSession, dir: String): DataFrame =
    runAvailableNow(spark, dir, "documents", "stream_bl", Seq("doc_id")) { docs =>
      docs.select(col("doc_id"),
        graft.functions.MultiMatch.multiMatch(
          col("text"), graft.ops.Blocklist.DemoPatterns).as("mm"))
        .filter(col("mm.n_hit") > 0)
        .select(col("doc_id"), col("mm.n_hit").as("n_hit"),
          col("mm.first_pos").as("first_pos"), col("mm.first_pat").as("first_pat"))
    }

  val streamBlocklistSql: String = {
    val pats = graft.ops.Blocklist.DemoPatterns.zipWithIndex
      .map { case (p, i) => s"($i, '${p.replace("'", "''")}')" }
      .mkString(", ")
    s"""WITH pats(pid, pat) AS (VALUES $pats),
       |hits AS (
       |  SELECT d.doc_id, p.pid, p.pat, strpos(d.text, p.pat) AS pos
       |  FROM documents d CROSS JOIN pats p
       |  WHERE strpos(d.text, p.pat) > 0),
       |firsts AS (
       |  SELECT doc_id, pat, pos,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY pos, pid) AS rk,
       |         count(*) OVER (PARTITION BY doc_id) AS n_hit
       |  FROM hits)
       |SELECT doc_id, n_hit, pos AS first_pos, pat AS first_pat
       |FROM firsts WHERE rk = 1 ORDER BY doc_id""".stripMargin
  }

  /** Streaming ANN ingest screen: new vectors land as a file stream and
    * each micro-batch is screened against the PERSISTED IVF index via
    * `foreachBatch` ([[graft.ops.Ivf.screenBatch]] — probed-cell static
    * partition pruning, O(batch) work). The shape of "every incoming
    * crawl shard gets its near-duplicate / retrieval check at ingest,
    * against an index the nightly batch job maintains". Each query
    * vector lives in exactly one micro-batch and screening touches only
    * the frozen index, so the drained stream equals the batch
    * [[graft.ops.Ivf.ivfIncremental]] run — the oracle reuses its SQL.
    */
  /** Shared drain harness for the "screen a staged delta as a stream"
    * rows: stage `srcDf` as a file-stream directory, screen every
    * micro-batch into a parquet sink via `foreachBatch`, drain with
    * AvailableNow, read the sink back under the screen's
    * (query_id, rank, vec_id, `scoreCol`) schema. ONE copy of the
    * checkpoint/sink/schema plumbing for both index families — the
    * [[graft.util.IndexMaint]] lesson applied to the stream scaffolding.
    */
  private def drainScreenStream(spark: SparkSession, srcDf: DataFrame,
      scoreCol: String,
      screen: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row] => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("stream_screen").toString
    try {
      srcDf.write.parquet(s"$tmp/src")
      val schema = spark.read.parquet(s"$tmp/src").schema
      val src = spark.readStream.schema(schema).parquet(s"$tmp/src")
      val q = src.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          screen(batch).write.mode("append").parquet(s"$tmp/sink")
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id", LongType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("vec_id", LongType),
        org.apache.spark.sql.types.StructField(scoreCol,
          org.apache.spark.sql.types.DoubleType)))
      spark.read.schema(outSchema).parquet(s"$tmp/sink")
        .orderBy("query_id", "rank").localCheckpoint()
    } finally graft.util.Fs.deleteRecursively(tmp)
  }

  def streamIvfScreen(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Ivf
    val emb = graft.catalog.Catalog(spark, dir).ref("embeddings")
      .select(col("vec_id"), col("embedding"))
    val index = Ivf.buildIndexCached(emb.filter(col("vec_id") % 10 =!= 0),
      s"$dir/embeddings.parquet",
      graft.util.Fs.sessionTempDir("stream_ivf_index", dir), kCells = 16, iters = 0)
    drainScreenStream(spark, emb.filter(col("vec_id") % 10 === 0), "score",
      batch => Ivf.screenBatch(spark, index, batch, k = 5, nprobe = 4))
  }

  /** Streaming PQ screen: the delta batch arrives as a STREAM and every
    * micro-batch ADC-screens against the persisted PQ codes via the
    * fully distributed [[graft.ops.Pq.screenBatchAdc]] (codebook rides
    * the plan, no driver LUTs) — the byte-prune mirror of
    * [[streamIvfScreen]]. The drained sink equals the batch
    * [[graft.ops.Pq.pqIncremental]] row for row, so the oracle is the
    * same closed-form SQL: streaming is invisible to the result.
    */
  def streamPqScreen(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Pq
    val emb = graft.catalog.Catalog(spark, dir).ref("embeddings")
      .select(col("vec_id"), col("embedding"))
    val index = Pq.buildIndexCached(emb.filter(col("vec_id") % 10 =!= 0),
      s"$dir/embeddings.parquet",
      graft.util.Fs.sessionTempDir("stream_pq_index", dir), m = 4, kSub = 16, iters = 0)
    drainScreenStream(spark,
      emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 500), "d2",
      batch => Pq.screenBatchAdc(spark, index, batch, k = 5))
  }

  /** Streaming residual IVF-PQ screen: the delta arrives as a stream
    * and every micro-batch runs the fully distributed probed-cell
    * residual ADC ([[graft.ops.Pq.screenBatchResidual]] — read pruning
    * × byte pruning, no driver LUTs) against the persisted residual
    * index. Oracle = the batch `sim_ivfpq_residual_incremental` closed
    * form: how the delta happened to batch is invisible to the result.
    */
  def streamIvfPqScreen(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Pq
    val emb = graft.catalog.Catalog(spark, dir).ref("embeddings")
      .select(col("vec_id"), col("embedding"))
    val index = Pq.buildIndexCached(emb.filter(col("vec_id") % 10 =!= 0),
      s"$dir/embeddings.parquet",
      graft.util.Fs.sessionTempDir("ivfpq_index", dir),
      m = 4, kSub = 16, iters = 0, kCells = Some(16))
    drainScreenStream(spark,
      emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 500), "d2",
      batch => Pq.screenBatchResidual(spark, index, batch, k = 5, nprobe = 4))
  }

  /** Registered `stream_ivf_cdc`: the index tracks a MUTATING upstream
    * corpus as a live CDC stream — three op-tagged micro-batches
    * (inserts: +1000000-keyed copies of the query stratum; deletes: the
    * %7==2 non-upsert stratum; upserts: %9==4 ids re-embedded with
    * their successor's vector — all real table values, id-disjoint by
    * construction) drain through [[graft.streaming.Ingest]] against
    * the persisted IVF index, each applied as one atomic token-guarded
    * mutation. The final screen must equal the closed form over the
    * EFFECTIVE corpus with the frozen build-time quantizer: hash
    * equality proves deleted vectors left every rank, upserted ids
    * landed in their new cells, inserts serve at score 1.0 for their
    * donors — and that none of it depends on how the stream batched.
    * Bench replays no-op on the durable `cdc:` tokens.
    */
  def streamIvfCdc(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Ivf
    val emb = graft.catalog.Catalog(spark, dir).ref("embeddings")
      .select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val index = Ivf.buildIndexCached(base, s"$dir/embeddings.parquet",
      graft.util.Fs.sessionTempDir("ivf_index_cdc", dir), kCells = 16, iters = 0)
    val donor = emb.select(col("vec_id").as("did"), col("embedding").as("demb"))
    val batches = Seq(
      emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
          lit("insert").as("op")),
      base.filter(col("vec_id") % 7 === 2 && col("vec_id") % 9 =!= 4)
        .select(col("vec_id"), col("embedding"), lit("delete").as("op")),
      base.filter(col("vec_id") % 9 === 4)
        .join(donor, col("did") === col("vec_id") + 1)
        .select(col("vec_id"), col("demb").as("embedding"),
          lit("upsert").as("op")))
    // one-shot drain with a DURABLE watermark (drainOnce — the
    // LexIndex.bm25StreamCdc rationale): every micro-batch mutation is
    // token-guarded, so a replayed drain applies nothing; the skip
    // decision is proven by the index root's applied-drains sidecar
    // (committed after the drain completes), so a fresh JVM honors a
    // completed drain and a crash mid-drain re-runs it.
    graft.util.IndexMaint.drainOnce(index.path,
      Seq(s"$dir/embeddings.parquet"), "drain|cdcq") {
      val tmp = java.nio.file.Files.createTempDirectory("stream_cdc").toString
      // checkEvery past the stream length: the maintenance cadence is
      // exercised in specs; here a drift-triggered rebalance would
      // retrain the quantizer the oracle froze at build time
      try Ingest.drain(spark,
        graft.util.Fs.stageBatchFiles(tmp, "src", batches),
        Ivf.loadIndex(index.path), Ivf.cdcIngest, checkEvery = 100)
      finally graft.util.Fs.deleteRecursively(tmp)
      ()
    }
    Ivf.screenBatch(spark, Ivf.loadIndex(index.path),
      emb.filter(col("vec_id") % 10 === 0), k = 5, nprobe = 4)
      .localCheckpoint()
  }

  /** Streaming incremental datacard: the corpus lands as TWO separate
    * micro-batches (file stream, one file per trigger) and every batch
    * folds into the persisted sketch state via `foreachBatch` +
    * [[graft.ops.Datacard.datacardFold]]; the drained stream renders
    * the card from state alone. Because every state component is a
    * canonical SET function (sums, register max, hash-level KLL), the
    * result is HASH-IDENTICAL to a one-shot batch build regardless of
    * how the stream happened to batch — the oracle is the same
    * full-corpus closed form as `text_datacard_incremental`. This is
    * the release audit as a live pipeline: state is always current,
    * rendering is O(state), and no batch ever rescans the corpus.
    */
  def streamDatacard(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Datacard
    val docs = graft.catalog.Catalog(spark, dir).ref("documents")
    val tmp = java.nio.file.Files.createTempDirectory("stream_datacard").toString
    try {
      val srcDir = graft.util.Fs.stageBatchFiles(tmp, "src",
        (0 until 2).map(i => docs.filter(col("doc_id") % 2 === i)))
      val stateDir = s"$tmp/state"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
      val schema = spark.read.parquet(srcDir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = src.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          Datacard.datacardFold(spark, batch, stateDir)
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Datacard.renderPinned(spark, stateDir)
    } finally graft.util.Fs.deleteRecursively(tmp)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_datacard" -> (streamDatacard _),
    "stream_ivf_screen" -> (streamIvfScreen _),
    "stream_ivf_cdc" -> (streamIvfCdc _),
    "stream_pq_screen" -> (streamPqScreen _),
    "stream_ivfpq_screen" -> (streamIvfPqScreen _),
    "stream_blocklist" -> (streamBlocklist _),
    "stream_windowed_counts" -> (streamWindowedCounts _),
    "stream_dedup_fingerprint" -> (streamDedupFingerprint _),
    "stream_attribution_join" -> (streamAttributionJoin _),
    "stream_attribution_outer" -> (streamAttributionOuter _),
    "stream_sessionize" -> (streamSessionize _),
    "stream_user_profile" -> (streamUserProfile _))

  val oracles: Map[String, String] = Map(
    "stream_datacard" -> graft.ops.Datacard.datacardIncrementalSql,
    "stream_ivf_screen" -> graft.ops.Ivf.ivfIncrementalSql,
    "stream_ivf_cdc" -> graft.ops.Ivf.ivfCdcSql,
    "stream_pq_screen" -> graft.ops.Pq.pqIncrementalSql,
    "stream_ivfpq_screen" -> graft.ops.Pq.ivfPqResidualIncrementalSql,
    "stream_blocklist" -> streamBlocklistSql,
    "stream_windowed_counts" -> streamWindowedCountsSql,
    "stream_dedup_fingerprint" -> streamDedupFingerprintSql,
    "stream_attribution_join" -> streamAttributionJoinSql,
    "stream_attribution_outer" -> streamAttributionOuterSql,
    "stream_sessionize" -> streamSessionizeSql,
    "stream_user_profile" -> streamUserProfileSql)
}
