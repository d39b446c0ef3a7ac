package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.connector.SalesforceBulkApi
import graft.model.{PushModel, SalesforceConfig}
import graft.push.{PushMaterializer, PushReport}

/** Structured Streaming surface of the engine.
  *
  * The reference is strictly batch (SURVEY §1: "streams — none"); this
  * module is the forward-looking streaming path the same semantics map
  * onto: a stream of records is micro-batched, and every micro-batch runs
  * the SAME push pipeline the batch engine uses (probe → job → per-row
  * push → task/log append). Plus the standard streaming analytics pieces
  * a training-data pipeline needs: watermarked windowed aggregation and
  * stateful sessionization.
  *
  * Scale: watermarks bound state; windowed aggregates shuffle by
  * (window, key) exactly like a batch groupBy; sessionization state lives
  * in the state store partitioned by user — all standard Spark scaling
  * paths, nothing custom.
  */
object EventStreams {

  /** Watermarked tumbling-window rollup of the `events` shape
    * (ts, user_id, event_type, value) — the streaming twin of G1/G2.
    * Late events beyond `watermark` are dropped (state is bounded).
    */
  def windowedCounts(events: DataFrame, watermark: String = "10 minutes",
      window_ : String = "1 hour"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Streaming exact dedup — the streaming twin of ops.Dedup.exact:
    * drop records whose fingerprint was already seen, with state bounded
    * by the watermark (a duplicate arriving later than `watermark` after
    * the original is NOT caught — the bounded-state tradeoff every
    * streaming dedup makes).
    */
  def dedupByFingerprint(records: DataFrame, watermark: String = "10 minutes"): DataFrame =
    records
      .withColumn("fp", md5(concat_ws(" ",
        split(trim(lower(col("text"))), "\\s+"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Stream-stream interval join (click attribution): every click pairs
    * with each view by the same user that happened at-or-before it,
    * no more than `window_` earlier. Both sides are watermarked and the
    * join condition bounds event time in BOTH directions, so Spark can
    * evict join state — the unbounded-state trap of an unconstrained
    * stream-stream join is structurally avoided. State is keyed by
    * user_id (the equi-part of the condition), scaling like any keyed
    * shuffle.
    */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
      watermark: String = "10 minutes", window_ : String = "10 minutes"): DataFrame = {
    val v = views.withWatermark("view_ts", watermark)
    val c = clicks.withWatermark("click_ts", watermark)
    c.join(v, expr(
      s"""view_user = user_id AND
         |view_ts <= click_ts AND
         |view_ts >= click_ts - interval $window_""".stripMargin))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("view_id"), col("view_ts"))
  }

  /** LEFT OUTER [[attributionJoin]] — the rows a real attribution
    * pipeline bills on: every view (impression) is emitted, matched
    * views paired with each qualifying click as they arrive, UNMATCHED
    * views with null click columns once the watermark proves no
    * qualifying click can still arrive (click_ts ≤ view_ts + window, so
    * a view's state is complete when the watermark passes that bound —
    * Spark's watermarked outer stream-stream join evicts-and-emits at
    * exactly that point, each unmatched view exactly once). Views whose
    * match window is still open when the stream pauses stay in state
    * and are NOT emitted — the streaming-correct behavior the batch
    * twin must (and does) reproduce with its terminal-watermark filter.
    */
  def attributionJoinOuter(views: DataFrame, clicks: DataFrame,
      watermark: String = "10 minutes", window_ : String = "10 minutes"): DataFrame = {
    val v = views.withWatermark("view_ts", watermark)
    val c = clicks.withWatermark("click_ts", watermark)
    v.join(c, expr(
      s"""view_user = user_id AND
         |view_ts <= click_ts AND
         |view_ts >= click_ts - interval $window_""".stripMargin), "left_outer")
      .select(col("view_user").as("user_id"), col("view_id"), col("view_ts"),
        col("click_id"), col("click_ts"))
  }

  final case class Event(ts: Timestamp, userId: Long, eventType: String, value: Double)
  final case class SessionState(start: Timestamp, last: Timestamp, n: Long)
  final case class Session(userId: Long, start: Timestamp, end: Timestamp,
      nEvents: Long, closed: Boolean)
  final case class UserProfile(userId: Long, nEvents: Long, totalValue: Double)

  /** Running per-user activity profile on the NEW Spark 4 arbitrary-state
    * API (`transformWithState` + `ValueState`, RocksDB state store —
    * the HDFS-backed provider lacks the column families the API needs).
    * Each micro-batch re-emits the updated running (event count, value
    * total) for every user active in the batch; state persists across
    * batches (spec-proven over two MemoryStream batches). The per-batch
    * value fold is SORTED, so a single-batch run is bit-reproducible and
    * oracle-checkable.
    */
  class UserProfileProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserProfile] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[UserProfile] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserProfile]("profile",
        org.apache.spark.sql.Encoders.product[UserProfile], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserProfile] = {
      val vs = rows.map(_.value).toArray.sorted
      val base = if (state.exists()) state.get() else UserProfile(key, 0L, 0.0)
      val updated = UserProfile(key, base.nEvents + vs.length,
        vs.foldLeft(base.totalValue)(_ + _))
      state.update(updated)
      Iterator.single(updated)
    }
  }

  def userProfiles(events: Dataset[Event]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new UserProfileProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Gap-based sessionization with explicit state
    * (`KeyValueGroupedDataset.flatMapGroupsWithState`): a session closes
    * after `gapMs` of inactivity (event-time, driven by the watermark).
    * Emits closed sessions; open state is bounded by the timeout.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.start, s.last, s.n, closed = true))
          } else {
            // order by (ms, nanos), not ms alone: iterator order after the
            // shuffle is arbitrary, and with an ms-only key two events in
            // the same millisecond would make the recorded session bounds
            // run-dependent (the oracle twin takes min/max over full µs)
            val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos))
            var out = List.empty[Session]
            var cur = state.getOption
            evs.foreach { e =>
              cur match {
                case Some(s) if e.ts.getTime - s.last.getTime <= gapMs =>
                  cur = Some(s.copy(last = e.ts, n = s.n + 1))
                case Some(s) =>
                  out ::= Session(userId, s.start, s.last, s.n, closed = true)
                  cur = Some(SessionState(e.ts, e.ts, 1))
                case None =>
                  cur = Some(SessionState(e.ts, e.ts, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last.getTime + gapMs)
            }
            out.reverseIterator
          }
      }
  }
}

/** File-driven incremental ingestion — the production shape of the M4
  * `incremental` materialization (`transactions_daily.sql:16-21`) at
  * scale: instead of a `max(watermark)` scalar subquery re-scanned per
  * run, the streaming checkpoint records exactly which source files have
  * been processed. Each `runOnce` picks up only files that arrived since
  * the last run (`Trigger.AvailableNow`), applies the transform, and
  * appends to a parquet sink exactly once — rerunning after a crash or
  * with no new files appends nothing.
  *
  * Scale: file listing is driver-side metadata work; data-plane cost is
  * O(new files). `maxFilesPerTrigger` bounds micro-batch size so a
  * backlog of history replays in bounded-memory chunks.
  */
object FileStreams {
  import org.apache.spark.sql.types.StructType

  def runOnce(spark: SparkSession, srcDir: String, schema: StructType,
      transform: DataFrame => DataFrame, sinkDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = spark.readStream.schema(schema)
    val in = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n)).parquet(srcDir)
    val q = transform(in).writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}

/** Micro-batch push: every streaming micro-batch of RECORDs runs the
  * batch Salesforce pipeline (same tracking tables, same connector, same
  * anti-join idempotency story — a batch-of-one-stream unification).
  *
  * Exactly-once across restarts: `foreachBatch` is at-least-once — after
  * a crash between the push and the checkpoint commit, the SAME batchId
  * is replayed. The task table doubles as the transaction log: a batch
  * whose task name (`model#batchId`) has a FINISHED task row was pushed
  * by a previous incarnation and is skipped, so external side effects
  * fire once per batch id. Finished, not merely present: Salesforce
  * writes its task row before the loads, so a push that failed midway
  * leaves a row with a null `close_metadata` (stamped only after the log
  * append) and its redelivery pushes again; Marketing Cloud writes its
  * task row after the log append, so any row means the logs landed.
  * Both checks read only the small task table, never the log.
  */
final class StreamingPush(
    spark: SparkSession,
    materializer: PushMaterializer,
    config: graft.model.PushConfig,
    modelName: String) {

  @volatile private var reports: List[PushReport] = Nil
  def pushReports: Seq[PushReport] = reports.reverse

  // the transaction log matching the configured app's pipeline
  private def taskTable = config match {
    case _: graft.model.MarketingCloudConfig => materializer.sfmcTasks
    case _ => materializer.sfdcTasks
  }

  /** Push one micro-batch unless its batchId was already pushed (the
    * foreachBatch replay guard — public so the semantics are testable
    * without forcing a mid-commit crash).
    */
  def pushBatch(batch: DataFrame, batchId: Long): PushReport = {
    val taskName = s"$modelName#$batchId"
    val finished = config match {
      case _: graft.model.MarketingCloudConfig => lit(true)
      case _ => col("close_metadata").isNotNull
    }
    val already = !taskTable.read()
      .filter(col("load_task_name") === taskName && finished)
      .isEmpty
    val report =
      if (already) PushReport(taskName, skippedEmpty = true, None, 0)
      else materializer.run(PushModel(taskName, config, _ => batch))
    reports ::= report
    report
  }

  /** Start pushing a stream of records (single string `record` column).
    * Each micro-batch becomes one push job — mirroring how the reference
    * would be scheduled per dbt invocation, but driven by arrival.
    */
  def start(records: DataFrame, checkpoint: String): StreamingQuery = {
    records.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        pushBatch(batch, batchId)
        ()
      }
      .start()
  }
}

/** CDC stream → SCD2 history: every micro-batch snapshots into a
  * `tracking.SnapshotTable`, so a change-event stream materializes the
  * same validity-interval table a sequence of `dbt snapshot` runs would
  * build. `asOf` per batch = the batch's max event time (falling back to
  * the previous watermark + 1ms for keep-alive empties), which makes the
  * interval boundaries data-determined and replay-stable rather than
  * wall-clock-dependent.
  *
  * Replay note: SnapshotTable.snapshot is idempotent for an identical
  * batch (unchanged rows never reopen), so foreachBatch's at-least-once
  * delivery cannot duplicate intervals — a replayed batch either
  * re-closes rows it already closed at the SAME asOf (no-op) or changes
  * nothing.
  */
final class StreamingSnapshot(
    snap: graft.tracking.SnapshotTable,
    tsCol: String) {

  def snapshotBatch(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val asOf = batch.agg(org.apache.spark.sql.functions.max(tsCol))
      .head().getTimestamp(0)
    // latest change per key wins within the batch (CDC upsert semantics)
    val keyed = batch.withColumn("__rn",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(snap.keyCol)
          .orderBy(org.apache.spark.sql.functions.col(tsCol).desc)))
      .filter(org.apache.spark.sql.functions.col("__rn") === 1)
      .drop("__rn", tsCol)
    snap.snapshot(keyed, asOf)
  }

  def start(changes: DataFrame, checkpoint: String): StreamingQuery = {
    changes.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        snapshotBatch(batch, batchId)
      }
      .start()
  }
}
