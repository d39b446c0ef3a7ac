package graft.push

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.connector.{MockSalesforceBulkApi, MockSfmcApi}
import org.apache.spark.TaskContext
import org.apache.spark.graft.listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Connector mocks that watch how the push engine calls them: how many
  * calls overlap, and which task each call sees. Task closures carry
  * copies of a mock; the statistics live in one static map keyed by the
  * mock's id, so every copy in this JVM (local mode) shares them.
  */
object Probes {
  final class Stats {
    val calls = new AtomicInteger
    val active = new AtomicInteger
    val peak = new AtomicInteger
    val noContext = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val partitions = ConcurrentHashMap.newKeySet[Int]()
  }
  private val all = new ConcurrentHashMap[String, Stats]()

  /** A per-record call that sleeps a record-dependent 0-2 ms, so calls
    * finish out of input order, and throws on the record keyed `failKey`.
    */
  trait Probed extends Serializable {
    private val probeId = java.util.UUID.randomUUID().toString
    def stats: Stats = all.computeIfAbsent(probeId, _ => new Stats)
    def failKey: Long

    protected def probed[A](key: Long)(body: => A): A = {
      val s = stats
      s.calls.incrementAndGet()
      val ctx = TaskContext.get()
      if (ctx == null) s.noContext.incrementAndGet()
      else { s.stages.add(ctx.stageId()); s.partitions.add(ctx.partitionId()) }
      val now = s.active.incrementAndGet()
      s.peak.accumulateAndGet(now, (a, b) => math.max(a, b))
      try {
        Thread.sleep(key % 3)
        if (key == failKey) throw new RuntimeException(s"probe failure on record $key")
        body
      } finally s.active.decrementAndGet()
    }
  }

  /** Answers each record with its own `AccountID__c` as the result id. */
  class SalesforceProbe(val failKey: Long = -1) extends MockSalesforceBulkApi with Probed {
    override def loadBatch(jobId: String, rec: String, wait: Boolean): String = {
      val id = rec.replaceAll(""".*"AccountID__c":"(\d+)".*""", "$1").toLong
      probed(id) {
        super.loadBatch(jobId, rec, wait)
        s"""{"created":true,"errors":[],"id":"$id","success":true}"""
      }
    }
  }

  /** Answers row `rn` with the `ContactNumber` of the record staged as
    * row `rn`.
    */
  class SfmcProbe(val failKey: Long = -1) extends MockSfmcApi with Probed {
    @transient private lazy val staged: Map[Long, String] =
      stagedBatches.asScala.toSeq.flatMap { batch =>
        val JArray(rows) = parse(batch)
        rows.collect { case JArray(JInt(rn) :: rec :: Nil) =>
          rn.toLong -> compact(render(rec \ "ContactNumber"))
        }
      }.toMap

    override def fetchResults(stageId: String, rn: Long): String =
      probed(rn)(s"""{"success":true,"ContactNumber":${staged(rn)}}""")
  }

  /** Runs `body` and returns, per stage completed meanwhile, the rows
    * its tasks wrote.
    */
  def rowsWrittenByStage(spark: SparkSession)(body: => Unit): Map[Int, Long] = {
    val written = new ConcurrentHashMap[Int, Long]()
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach(m =>
          written.put(e.stageInfo.stageId, m.outputMetrics.recordsWritten))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      listeners.waitForListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    written.asScala.toMap
  }

  /** The messages of `e` and all its causes. */
  def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
}
