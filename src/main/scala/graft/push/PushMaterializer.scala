package graft.push

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.connector.{SalesforceBulkApi, SfmcApi}
import graft.model._
import graft.tracking.{TrackingStore, TrackingTable}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Outcome of one push run (the reference returns `{'relations': []}` —
  * no relation is produced; `omnata_push_materialization.sql:19`).
  */
final case class PushReport(
    model: String,
    skippedEmpty: Boolean,
    jobId: Option[String],
    recordsPushed: Long,
    batches: Long = 0)

/** The `omnata_push` materialization (M1) — dispatch on `app`, run the
  * app pipeline, never produce a relation
  * (`macros/omnata_push_materialization.sql:1-20`).
  */
final class PushMaterializer(
    spark: SparkSession,
    trackingBase: String,
    sfdc: SalesforceBulkApi,
    sfmc: SfmcApi) {

  val sfdcTasks: TrackingTable = TrackingTable.sfdcLoadTasks(spark, trackingBase)
  val sfmcTasks: TrackingTable = TrackingTable.sfmcLoadTasks(spark, trackingBase)
  val sfdcLogs: TrackingStore = TrackingTable.sfdcLoadTaskLogs(spark, trackingBase)
  val sfmcLogs: TrackingStore = TrackingTable.sfmcLoadTaskLogs(spark, trackingBase)

  /** The reference's incremental-model pattern (`contacts_load.sql:32-37`:
    * `RECORD not in (select logs.RECORD ... where success)`) as an engine
    * helper: records of `source` not yet successfully pushed under
    * `taskName`. `logs` is any [[TrackingStore]], so a caller may pass a
    * wrapped log table.
    */
  def unsyncedRecords(source: DataFrame, logs: TrackingStore, taskName: String): DataFrame = {
    val pushed = logs.read()
      .filter(col("load_task_name") === taskName &&
        get_json_object(col("result"), "$.success") === "true")
      .select(col("record"))
    source.join(pushed, Seq("record"), "left_anti")
  }

  /** The `drop-omnata-task-tables` var (README.md:35-39 /
    * `tracking_table_materialization.sql:19-27` rebuild branch): tracking
    * tables are immune to normal full-refresh and only rebuilt on this
    * explicit request.
    */
  def dropTaskTables(): Unit =
    Seq(sfdcTasks, sfdcLogs, sfmcTasks, sfmcLogs).foreach(_.fullRefresh())

  def run(model: PushModel): PushReport = model.config match {
    case c: SalesforceConfig => new SalesforcePush(spark, sfdc, sfdcTasks, sfdcLogs).run(model, c)
    case c: MarketingCloudConfig => new MarketingCloudPush(spark, sfmc, sfmcTasks, sfmcLogs).run(model, c)
    case UnknownAppConfig(app) =>
      // Ref: `omnata_push_materialization.sql:14` compile-error branch.
      throw new IllegalArgumentException(
        s"The app '$app' is not supported by the Omnata push materialization")
  }

  /** The legacy `load_task` materialization (M3,
    * `macros/load_task_materialization.sql`): the Salesforce path with
    * pre-dispatch defaults.
    */
  def runLegacy(model: PushModel): PushReport = model.config match {
    case _: SalesforceConfig => run(model)
    case other => throw new IllegalArgumentException(
      s"load_task materialization is Salesforce-only, got '${other.app}'")
  }
}

private[push] object Json {
  /** Extract a top-level string field from connector JSON (driver-side). */
  def strField(json: String, field: String): String =
    (JsonMethods.parse(json) \ field) match {
      case JString(s) => s
      case JNothing | JNull => null
      case other => other.values.toString
    }
}

private[push] object Record {
  /** The model's single `record` string column. Model contract: exactly
    * one RECORD column (README.md:73), either a struct (the
    * OBJECT_CONSTRUCT form, rendered with `to_json`) or a ready JSON
    * string.
    */
  def of(model: PushModel, df: DataFrame): DataFrame = {
    val record = df.schema.fields.find(_.name.equalsIgnoreCase("record"))
      .getOrElse(throw new IllegalArgumentException(
        s"model ${model.name} must produce a RECORD column"))
    record.dataType match {
      case _: StructType => df.select(to_json(col(record.name)).as("record"))
      case _ => df.select(col(record.name).cast("string").as("record"))
    }
  }
}

/** EP1: the Salesforce bulk-load pipeline
  * (`macros/apps/salesforce.sql` + `operations/salesforce_bulk_load.sql`).
  *
  * Statement-by-statement mapping (SURVEY §3 EP1):
  *  - probe count → `isEmpty` on the cached single evaluation (the
  *    reference evaluates the model SQL twice — probe + load — a hazard we
  *    close per SURVEY §4);
  *  - `create temp table` job metadata → one driver-side connector call,
  *    stamped onto rows as literals (a degenerate broadcast — J2);
  *  - per-row `SFDC_BULK_API_LOAD_BATCH(...)` → one connector call per
  *    record in `mapPartitions`, up to [[InFlight.Window]] calls in
  *    flight per task (rows stay distributed; no collect);
  *  - task `insert into` → TrackingTable.upsert of one driver-local
  *    row, committed as one small file with no Spark job;
  *  - log `insert into` → TrackingTable.append;
  *  - `update ... from` close stamp (A6) → a second local upsert of the
  *    same row with `close_metadata` set, which replaces the open row.
  *    A failure between job create and close closes the remote job and
  *    leaves the stamp unset.
  *
  * Scale: the only materialization is the log append; records never pass
  * through the driver. `serial_load=true` forces one partition and one
  * call at a time (the API's Serial mode); otherwise each partition keeps
  * up to [[InFlight.Window]] calls in flight, which is what the Bulk
  * API's Parallel concurrencyMode means.
  */
final class SalesforcePush(
    spark: SparkSession,
    api: SalesforceBulkApi,
    tasks: TrackingTable,
    logs: TrackingStore) {

  def run(model: PushModel, cfg: SalesforceConfig): PushReport = {
    val source = Record.of(model, model.build(spark)).persist(StorageLevel.MEMORY_AND_DISK)

    try {
      // Zero-row short-circuit probe (salesforce.sql:7-17). count() (not
      // isEmpty) deliberately: it materializes EVERY partition into the
      // persisted cache. isEmpty only computes the first partition, so
      // the rest would be re-evaluated after the log append — and a model
      // that anti-joins its own log table (the reference's incremental
      // pattern) would see the rows this very run just wrote. This is the
      // reference's double-evaluation hazard (SURVEY §4); the full
      // materialization closes it.
      val total = source.count()
      if (total == 0) return PushReport(model.name, skippedEmpty = true, None, 0)

      // Job create — driver-side, once (salesforce_bulk_load.sql:13-18).
      val meta = api.createJob(cfg.loadType, cfg.objectName, cfg.serialLoad, cfg.externalIdField)
      val jobId = Json.strField(meta, "id")
      import spark.implicits._
      // The task row, open or stamped: one driver-local row, so each
      // upsert commits it without a Spark job; creation_time is taken
      // once, so the stamped row keeps the open row's.
      val createdAt = java.time.Instant.now()
      def taskRow(closeMeta: String): DataFrame =
        Seq((jobId, model.name, cfg.objectName, cfg.loadType,
          cfg.externalIdField.orNull, createdAt, meta, closeMeta))
          .toDF("job_id", "load_task_name", "object_name", "operation",
            "external_id_field", "creation_time", "creation_metadata", "close_metadata")
      try {
        // Task insert (salesforce_bulk_load.sql:21-31).
        tasks.upsert(taskRow(null))

        // Per-record load + log insert (salesforce_bulk_load.sql:34-48).
        val apiRef = api
        val window = if (cfg.serialLoad) 1 else InFlight.Window
        val pushed = (if (cfg.serialLoad) source.coalesce(1) else source)
          .as[String]
          .mapPartitions(recs => InFlight.map(recs, window)(rec =>
            (rec, apiRef.loadBatch(jobId, rec, true))))
          .toDF("record", "result")
          .select(
            lit(jobId).as("job_id"),
            expr("uuid()").as("job_log_entry_id"), // ref: UUID_STRING() at :40
            lit(model.name).as("load_task_name"),
            lit(cfg.objectName).as("object_name"),
            lit(cfg.loadType).as("operation"),
            lit(cfg.externalIdField.orNull).as("external_id_field"),
            col("record"), col("result"))
        logs.append(pushed)
      } catch {
        case e: Throwable =>
          // Close the remote job, but leave the task row unstamped: the
          // push did not finish, so StreamingPush's replay guard pushes
          // a redelivered batch again.
          try api.closeJob(jobId, true)
          catch { case c: Throwable => e.addSuppressed(c) }
          throw e
      }

      // Close + stamp (salesforce_bulk_load.sql:51-56): the same row
      // with close_metadata set replaces the open one.
      tasks.upsert(taskRow(api.closeJob(jobId, true)))

      // One log row per source record (the source is fully cached above).
      PushReport(model.name, skippedEmpty = false, Some(jobId), total)
    } finally source.unpersist()
  }
}
