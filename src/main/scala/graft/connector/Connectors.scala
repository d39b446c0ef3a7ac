package graft.connector

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The external-API boundary (SURVEY §2.8). In the reference these are
  * Snowflake External Functions crossing to the Omnata gateway; here they
  * are plain traits so the engine can run against mocks (the reference's
  * own integration tests do exactly this —
  * `integration_tests/dbt_project.yml:29-92`) or a real HTTP client.
  *
  * Connectors are invoked from executors inside UDF closures, so
  * implementations must be Serializable. Spark may retry a task; a retry
  * re-calls the connector for every record of the partition, and no
  * idempotency key is passed, so a retried record reaches the remote
  * twice. The mocks return canned payloads but count calls and staged
  * batches in `MockState`, so a retry shows up in their counters.
  * Keyed, exactly-once delivery is ROADMAP item 2.
  */
trait SalesforceBulkApi extends Serializable {
  /** Ref U-SF1 (`salesforce_bulk_load.sql:15`) → job metadata JSON. */
  def createJob(operation: String, objectName: String, useSerial: Boolean,
      externalIdField: Option[String]): String
  /** Ref U-SF2 (`salesforce_bulk_load.sql:46`) → per-record result JSON. */
  def loadBatch(jobId: String, recordJson: String, waitForCompletion: Boolean): String
  /** Ref U-SF3 (`salesforce_bulk_load.sql:53`) → closed-job metadata JSON. */
  def closeJob(jobId: String, waitForCompletion: Boolean): String
}

trait SfmcApi extends Serializable {
  /** Ref U-MC1 → `{success, data_extension_existed, ...}`. */
  def manageDataExtension(configurationJson: String): String
  /** Ref U-MC2 — one staged batch (array of [rn, record]) → staging id. */
  def stageData(batchJson: String): String
  /** Ref U-MC3 → import id. */
  def deImport(configurationJson: String, stageDataQueryId: String): String
  /** Ref U-MC4 — blocking poll; unmocked in the reference (SURVEY §5
    * caveat), our mock returns true.
    */
  def awaitResultsPoll(importId: String): Boolean
  /** Ref U-MC5 → per-row result JSON keyed by (stage id, row index). */
  def fetchResults(stageDataQueryId: String, rowIndex: Long): String
}

/** Transient-failure retry wrapper for the Salesforce connector — remote
  * HTTP calls fail transiently, and a failed UDF call otherwise fails the
  * task, which makes Spark retry the WHOLE partition (re-pushing every
  * record in it). Retrying per call keeps the blast radius to one record.
  * A retried call whose first attempt did reach the remote is delivered
  * twice (no idempotency key; see the traits' scaladoc).
  */
class RetryingSalesforceApi(
    delegate: SalesforceBulkApi,
    attempts: Int = 3,
    backoffMs: Long = 0) extends SalesforceBulkApi {

  private def retry[T](what: String)(f: => T): T = {
    var left = attempts
    var lastErr: Throwable = null
    while (left > 0) {
      try return f
      catch {
        case e: Throwable =>
          lastErr = e
          left -= 1
          if (left > 0 && backoffMs > 0) Thread.sleep(backoffMs)
      }
    }
    throw new RuntimeException(s"$what failed after $attempts attempts", lastErr)
  }

  override def createJob(operation: String, objectName: String, useSerial: Boolean,
      externalIdField: Option[String]): String =
    retry("createJob")(delegate.createJob(operation, objectName, useSerial, externalIdField))
  override def loadBatch(jobId: String, recordJson: String, wait: Boolean): String =
    retry("loadBatch")(delegate.loadBatch(jobId, recordJson, wait))
  override def closeJob(jobId: String, wait: Boolean): String =
    retry("closeJob")(delegate.closeJob(jobId, wait))
}

/** JVM-wide mock telemetry, keyed per mock instance id.
  *
  * Spark serializes task closures even in local mode, so a UDF that
  * captures a mock connector mutates a deserialized COPY — instance
  * fields on the driver's mock never move. Routing the mutable state
  * through a static registry keyed by the instance's id makes
  * driver and executor copies share state in the same JVM (exactly the
  * local-mode test scenario; real connectors are stateless HTTP clients
  * and don't need this).
  */
private object MockState {
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
  private val queues = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[String]]()
  def counter(id: String): AtomicInteger =
    counters.computeIfAbsent(id, _ => new AtomicInteger(0))
  def queue(id: String): ConcurrentLinkedQueue[String] =
    queues.computeIfAbsent(id, _ => new ConcurrentLinkedQueue[String]())
}

/** Canned payloads copied semantically from the reference's JS mock UDFs
  * (`integration_tests/dbt_project.yml:29-92`). Job ids are made
  * deterministic-unique per createJob call (the reference returns a
  * constant id; we keep the constant as a prefix so golden assertions on
  * content still hold while two jobs stay distinguishable).
  */
class MockSalesforceBulkApi(deterministic: Boolean = true) extends SalesforceBulkApi {
  private val id = java.util.UUID.randomUUID().toString
  private def counter = MockState.counter(id + "/jobs")
  def loadBatchCalls: AtomicInteger = MockState.counter(id + "/loads")

  private def jobMeta(id: String, state: String, operation: String,
      objectName: String, nBatches: Int, nRecords: Int): String =
    s"""{"apexProcessingTime":1,"apiActiveProcessingTime":2280,"apiVersion":42,""" +
      s""""assignmentRuleId":null,"concurrencyMode":"Parallel","contentType":"JSON",""" +
      s""""createdById":"0051D000005w6I5QAI","createdDate":"2021-02-03T22:23:17.000+0000",""" +
      s""""externalIdFieldName":"AccountID__c","fastPathEnabled":false,"id":"$id",""" +
      s""""numberBatchesCompleted":$nBatches,"numberBatchesFailed":0,"numberBatchesInProgress":0,""" +
      s""""numberBatchesQueued":0,"numberBatchesTotal":$nBatches,"numberRecordsFailed":0,""" +
      s""""numberRecordsProcessed":$nRecords,"numberRetries":0,"object":"$objectName",""" +
      s""""operation":"$operation","state":"$state","systemModstamp":"2021-02-03T22:23:17.000+0000",""" +
      s""""totalProcessingTime":2411}"""

  override def createJob(operation: String, objectName: String, useSerial: Boolean,
      externalIdField: Option[String]): String = {
    val id = s"7501D000003kWMhQAM-${counter.incrementAndGet()}"
    jobMeta(id, "Queued", operation, objectName, nBatches = 1, nRecords = 99)
  }

  override def loadBatch(jobId: String, recordJson: String, wait: Boolean): String = {
    loadBatchCalls.incrementAndGet()
    // Ref mock: {"created":true,"errors":[],"id":"a001D000003ri4gQAA","success":true}
    """{"created":true,"errors":[],"id":"a001D000003ri4gQAA","success":true}"""
  }

  override def closeJob(jobId: String, wait: Boolean): String =
    jobMeta(jobId, "Closed", "upsert", "Account", nBatches = 5, nRecords = 1000)
}

class MockSfmcApi extends SfmcApi {
  private val id = java.util.UUID.randomUUID().toString
  def stagedBatches: ConcurrentLinkedQueue[String] = MockState.queue(id)
  def stagedBatchCount: Int = stagedBatches.size

  override def manageDataExtension(configurationJson: String): String =
    """{"data_extension_all_fields_existed":true,"data_extension_existed":true,"success":true}"""

  override def stageData(batchJson: String): String = {
    stagedBatches.add(batchJson)
    "abcd" // ref mock returns the constant 'abcd'
  }

  override def deImport(configurationJson: String, stageId: String): String = "abcd"

  override def awaitResultsPoll(importId: String): Boolean = true

  override def fetchResults(stageId: String, rowIndex: Long): String =
    """{"success":true}"""
}
