package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.connector.{SalesforceBulkApi, SfmcApi}

/** Injected remote-API cost: a fixed wait per call plus a wait per record
  * the call carries. Waits park the thread (a remote call waits on the
  * network, it does not burn a core).
  */
final case class Latency(callUs: Long, recordUs: Long) {
  def await(records: Int): Unit = {
    val ns = (callUs + recordUs * records) * 1000L
    val end = System.nanoTime() + ns
    var left = ns
    while (left > 0) {
      LockSupport.parkNanos(left)
      left = end - System.nanoTime()
    }
  }
}

/** One connector call. `stage` is the Spark stage of the calling task, or
  * -1 for a driver-side call.
  */
final case class Call(kind: String, stage: Int, start: Long, end: Long,
    records: Int, failed: Boolean)

/** JVM-wide ledger of connector traffic. Task closures are serialized, so
  * wrapper instances are copies; their state lives here, in one static
  * place the driver reads after each operation (local mode: one JVM).
  * Deliveries are counted per (job, record), which exposes a record sent
  * twice to the same remote job — e.g. by a retried Spark task.
  */
object Ledger {
  private val calls = new ConcurrentLinkedQueue[Call]()
  private val deliveries = new ConcurrentHashMap[(String, String), AtomicInteger]()

  def call[A](kind: String, lat: Latency, job: String, records: Seq[String])(body: => A): A = {
    val ctx = TaskContext.get()
    def timed(): A = {
      val t0 = System.nanoTime()
      var failed = true
      try {
        lat.await(records.size)
        val out = body
        failed = false
        out
      } finally {
        calls.add(Call(kind, if (ctx == null) -1 else ctx.stageId(), t0, System.nanoTime(),
          records.size, failed))
        if (!failed) records.foreach(r =>
          deliveries.computeIfAbsent((job, r), _ => new AtomicInteger()).incrementAndGet())
      }
    }
    if (ctx == null) Trace.span("connector", kind)(timed()) else timed()
  }

  /** Calls and deliveries since the last drain; resets the ledger. */
  def drain(): (Seq[Call], Map[(String, String), Int]) = {
    val cs = Iterator.continually(calls.poll()).takeWhile(_ != null).toVector
    val ds = deliveries.asScala.map { case (k, v) => k -> v.get }.toMap
    deliveries.clear()
    (cs, ds)
  }
}

/** Salesforce Bulk API wrapper: injects latency and counts every call. */
final class LedgerSalesforceApi(delegate: SalesforceBulkApi, lat: Latency)
    extends SalesforceBulkApi {
  override def createJob(operation: String, objectName: String, useSerial: Boolean,
      externalIdField: Option[String]): String =
    Ledger.call("sf.createJob", lat, "", Nil)(
      delegate.createJob(operation, objectName, useSerial, externalIdField))
  override def loadBatch(jobId: String, recordJson: String, wait: Boolean): String =
    Ledger.call("sf.loadBatch", lat, jobId, Seq(recordJson))(
      delegate.loadBatch(jobId, recordJson, wait))
  override def closeJob(jobId: String, wait: Boolean): String =
    Ledger.call("sf.closeJob", lat, "", Nil)(delegate.closeJob(jobId, wait))
}

/** Marketing Cloud wrapper. The mock's staging id is a constant, so
  * deliveries are keyed by `job`, a tag unique to one push run.
  */
final class LedgerSfmcApi(delegate: SfmcApi, lat: Latency, job: String) extends SfmcApi {
  override def manageDataExtension(configurationJson: String): String =
    Ledger.call("mc.manageDataExtension", lat, "", Nil)(
      delegate.manageDataExtension(configurationJson))
  override def stageData(batchJson: String): String = {
    // A batch is [[rn, record], ...]; the record is what gets delivered.
    val records = JsonMethods.parse(batchJson) match {
      case JArray(rows) => rows.map {
        case JArray(_ :: rec :: Nil) => JsonMethods.compact(JsonMethods.render(rec))
        case other => JsonMethods.compact(JsonMethods.render(other))
      }
      case _ => Nil
    }
    Ledger.call("mc.stageData", lat, job, records)(delegate.stageData(batchJson))
  }
  override def deImport(configurationJson: String, stageDataQueryId: String): String =
    Ledger.call("mc.deImport", lat, "", Nil)(delegate.deImport(configurationJson, stageDataQueryId))
  override def awaitResultsPoll(importId: String): Boolean =
    Ledger.call("mc.awaitResultsPoll", lat, "", Nil)(delegate.awaitResultsPoll(importId))
  override def fetchResults(stageDataQueryId: String, rowIndex: Long): String =
    Ledger.call("mc.fetchResults", lat, "", Nil)(delegate.fetchResults(stageDataQueryId, rowIndex))
}
