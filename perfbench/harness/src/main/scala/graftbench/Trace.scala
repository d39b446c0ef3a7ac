package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary (System.nanoTime clock). */
final case class Span(id: Long, parent: Long, layer: String, name: String, start: Long, end: Long)

/** Spans recorded around the benchmark's calls into each module's public
  * API. Kept in memory and written out when the run ends. With tracing off
  * a boundary costs one volatile read.
  *
  * The open span's id travels to Spark as a local property, so every job a
  * span submits (including jobs of streaming threads it starts, which
  * inherit local properties) is attributed to it.
  */
object Trace {
  val SpanProp = "graftbench.span"
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var sc: SparkContext = _

  def install(ctx: SparkContext): Unit = {
    sc = ctx
    ctx.addSparkListener(Jobs)
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        sc.setLocalProperty(SpanProp, prevProp)
        spans.add(Span(id, outer.headOption.getOrElse(0L), layer, name, t0, t1))
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}

/** A Spark job as the listener saw it, on the span clock. */
final case class JobRec(id: Int, span: Long, query: String, start: Long, end: Long,
    stages: Int, tasks: Int, inputBytes: Long, shuffleBytes: Long, spillBytes: Long)

/** SparkListener keeping every job's interval, its submitting span and its
  * stages' task metrics. Streaming jobs are keyed by their query's name
  * (the first line of the micro-batch description), never by run id.
  */
object Jobs extends SparkListener {
  private final class Open(val id: Int, val span: Long, val query: String, val start: Long,
      val stageIds: Seq[Int]) {
    var end = 0L
    var stages, tasks = 0
    var input, shuffle, spill = 0L
  }
  private val lock = new Object
  private val open = mutable.LinkedHashMap.empty[Int, Open]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // Listener event times are epoch milliseconds; map them onto nanoTime.
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def toNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanProp))).map(_.toLong).getOrElse(0L)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
    val isStream = props.exists(p => p.getProperty("sql.streaming.queryId") != null)
    val query = if (isStream) desc.map(_.linesIterator.next().trim).filter(_.nonEmpty)
      .getOrElse("unnamed") else ""
    val j = new Open(e.jobId, span, query, toNs(e.time), e.stageIds)
    open(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    open.get(e.jobId).foreach(_.end = toNs(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val info = e.stageInfo
    for (jobId <- stageJob.get(info.stageId); j <- open.get(jobId)) {
      j.stages += 1
      j.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        j.input += m.inputMetrics.bytesRead
        j.shuffle += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  def jobOfStage(stageId: Int): Option[Int] = lock.synchronized(stageJob.get(stageId))

  /** Finished jobs; waits briefly for the asynchronous listener bus. */
  def finished(until: Long): Seq[JobRec] = {
    val deadline = System.nanoTime() + 10000000000L
    def pending = lock.synchronized(open.values.exists(j => j.end == 0L && j.start <= until))
    while (pending && System.nanoTime() < deadline) Thread.sleep(5)
    lock.synchronized(open.values.filter(_.end > 0L).map(j =>
      JobRec(j.id, j.span, j.query, j.start, j.end, j.stages, j.tasks,
        j.input, j.shuffle, j.spill)).toSeq)
  }
}
