package graft.push

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.connector.SfmcApi
import graft.model.{MarketingCloudConfig, PushModel}
import graft.tracking.{TrackingStore, TrackingTable}
import org.json4s._
import org.json4s.jackson.JsonMethods.compact

/** EP-SFMC: the Marketing Cloud data-extension upload
  * (`macros/apps/marketing_cloud.sql` +
  * `operations/marketing_cloud_data_extension_upload.sql`).
  *
  * Pipeline (unencrypted path, ref lines in comments):
  *  1. probe zero rows (`marketing_cloud.sql:7-17`) → skip;
  *  2. `SFMC_DATA_EXTENSION_MANAGE(ensure_exists config)` (`:21-31`) —
  *     driver-side DDL-ish call;
  *  3. global row_number (`:56`, `order by null` = order unspecified) —
  *     implemented with zipWithIndex: deterministic per partition layout,
  *     no single-partition window, conformant because the reference
  *     declares no order;
  *  4. 100-row batches (`(row_number/100)::int`, `:57`) →
  *     `array_agg(array_construct(rn, record))` per batch (`:60-63`) →
  *     one `SFMC_STAGE_DATA` call per batch (executor-side, parallel
  *     across batches);
  *  5. `any_value(stage_id)` (`:64-66`) — all batches return the same id;
  *  6. `SFMC_DE_IMPORT` + `SFMC_AWAIT_RESULTS_POLL` (`:68`) — driver-side,
  *     the poll blocks (the reference never mocks it; SURVEY §5);
  *  7. per-row `SFMC_FETCH_RESULTS(stage_id, rn)` (`:81,116`) — UDF;
  *  8. `insert all when row_number=1 then into tasks into logs else into
  *     logs` (`:37-42`) → one cached result plan, two appends.
  *
  * Scale: batches are the unit of external-call parallelism; a 100 TB
  * push is bounded by the remote API, not the engine — the engine's job
  * is to keep batch staging embarrassingly parallel (it is: groupBy
  * batch_number partitions by batch, ~1 shuffle of the record payload).
  */
final class MarketingCloudPush(
    spark: SparkSession,
    api: SfmcApi,
    tasks: TrackingTable,
    logs: TrackingStore) {

  def run(model: PushModel, cfg: MarketingCloudConfig): PushReport = {
    val recs = Record.of(model, model.build(spark))

    // 3. Global numbering without a global sort: zipWithIndex (0-based → 1-based).
    val numbered = {
      val rdd = recs.rdd.zipWithIndex().map { case (r, i) => Row(i + 1, r.getString(0)) }
      spark.createDataFrame(rdd, StructType(Seq(
        StructField("rn", LongType, nullable = false),
        StructField("record", StringType))))
    }.persist(StorageLevel.MEMORY_AND_DISK)

    try {
      // Full materialization as the probe (not isEmpty) — see
      // SalesforcePush: partial caching would re-evaluate the model after
      // the log append (double-evaluation hazard, SURVEY §4).
      val total = numbered.count()
      if (total == 0) return PushReport(model.name, skippedEmpty = true, None, 0)

      // 2. Ensure the data extension exists (ref :21-31; config per README.md:77-88).
      def obj(m: Map[String, String]): JObject =
        JObject(m.map { case (k, v) => k -> JString(v) }.toList)
      api.manageDataExtension(compact(JObject(
        "operation" -> JString("ensure_exists"),
        "data_extension_name" -> JString(cfg.dataExtensionName),
        "data_extension_path" -> JString(cfg.dataExtensionPath.getOrElse("")),
        "data_extension_properties" -> obj(cfg.dataExtensionProperties),
        "data_extension_fields" -> JArray(cfg.dataExtensionFields.map(obj).toList),
        "force_check" -> JBool(cfg.forceCheck))))

      // 4. Batch + stage (ref :56-63 unencrypted; :86-104 encrypted).
      // Encrypted path: records → CSV (U-G2) → ordered GPG chain
      // (U-G3..G5, stub crypto) → the *message rows* are what gets
      // staged, renumbered densely so batching stays uniform.
      val apiRef = api
      val batchSize = cfg.batchSize
      val toStage =
        if (!cfg.encrypted) numbered
        else {
          val params = GpgPipeline.gpgParams(cfg.gpgPublicKey.get)
          val msg = GpgPipeline.fileWrapEncryptPackage(spark,
            GpgPipeline.jsonToCsv(spark, numbered), params)
          graft.ops.Windows.globalRowNumber(
              msg.select(col("rn").as("orig_rn"), col("message_part").as("record")),
              "rn", col("orig_rn"))
            .select(col("rn"), col("record"))
        }
      val staged = toStage
        .withColumn("batch_number", floor(col("rn") / batchSize).cast("int"))
        .groupBy(col("batch_number"))
        .agg(sort_array(collect_list(struct(col("rn"), col("record")))).as("batch"))
        .select(col("batch_number"),
          udf((b: Seq[Row]) => apiRef.stageData(
            b.map { r =>
              val v = r.getString(1)
              // JSON objects embed raw (ARRAY_CONSTRUCT(rn, record));
              // encrypted message parts are plain strings → JSON-quoted
              val payload = if (v.startsWith("{")) v
                else "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
              s"""[${r.getLong(0)},$payload]"""
            }.mkString("[", ",", "]")))
            .apply(col("batch")).as("stage_id"))
      // 5. any_value across batches (ref :64-66) — identical by contract.
      val stageId = staged.agg(any_value(col("stage_id"))).head().getString(0)
      // Derived, not counted: a count() over `staged` would only avoid
      // re-firing the staging UDF if Catalyst prunes it — don't depend on
      // that for a side-effecting call. rn is 1-based and batch =
      // floor(rn/batchSize): ids are 0..stagedRows/batchSize for
      // batchSize > 1 (floor(1/bs) = 0), but 1..stagedRows for
      // batchSize == 1 — no batch 0, so no +1 then.
      // Encrypted staging carries csv header + armor begin/end: +3 rows.
      val stagedRows = if (cfg.encrypted) total + 3 else total
      val nBatches = stagedRows / batchSize + (if (batchSize > 1) 1 else 0)

      // 6. Import + blocking poll (ref :68).
      val importConfig = compact(JObject(
        "data_extension_name" -> JString(cfg.dataExtensionName),
        "import_type" -> JString(cfg.importType),
        "file_location_external_key" -> JString(cfg.fileLocationExternalKey)))
      val importId = api.deImport(importConfig, stageId)
      require(api.awaitResultsPoll(importId), s"SFMC import $importId did not complete")

      // 7-8. Fetch per-row results; single pass feeds tasks AND logs
      // (`insert all`, ref :37-42) — cache, then two appends.
      val jobId = stageId + "-" + importId
      val fetchUdf = udf((rn: Long) => apiRef.fetchResults(stageId, rn))
      val result = numbered
        .withColumn("result", fetchUdf(col("rn")))
        .select(
          lit(jobId).as("job_id"),
          expr("uuid()").as("job_log_entry_id"),
          lit(model.name).as("load_task_name"),
          lit(cfg.dataExtensionName).as("object_name"),
          lit("data_extension_upload").as("operation"),
          col("rn"), col("record"), col("result"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val taskRow = result.filter(col("rn") === 1)
          .select(col("job_id"), col("load_task_name"), col("object_name"),
            col("operation"), current_timestamp().as("creation_time"),
            col("result").as("creation_metadata"))
        tasks.upsert(taskRow)
        logs.append(result.drop("rn"))
        val n = result.count()
        PushReport(model.name, skippedEmpty = false, Some(jobId), n, nBatches)
      } finally result.unpersist()
    } finally numbered.unpersist()
  }
}
