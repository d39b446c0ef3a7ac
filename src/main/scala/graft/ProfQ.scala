package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev harness: attribute a query's wall time to the Spark JOBS it runs
  * (callsite, duration, stage/task counts, shuffle bytes) — the
  * optimization guide's "measure first" loop without the UI. Warm run
  * first, then one instrumented run per query:
  * `runMain graft.ProfQ <sfDir> <query>...`. Local iteration only;
  * Bench.scala stays the driver's contract.
  */
object ProfQ {

  private final class Rec(val jobId: Int, val site: String, val t0: Long) {
    var tEnd: Long = 0L
    var stages = 0
    var tasks = 0
    var shuffleRead = 0L
    var shuffleWrite = 0L
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args(0)
    val names = args.drop(1)

    val recs = mutable.LinkedHashMap.empty[Int, Rec]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    @volatile var capturing = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (capturing) {
        // prefer a graft job label (`graft:<name>`, guide §1.5) over the
        // call site; any other description — e.g. Structured Streaming's
        // per-run `id = … runId = …` — would split one call site into
        // many keys
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))
            .filter(_.startsWith("graft:"))
            .orElse(Option(p.getProperty("callSite.short")))).getOrElse("?")
        recs.synchronized {
          recs(e.jobId) = new Rec(e.jobId, site, e.time)
          e.stageIds.foreach(s => stageToJob(s) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (capturing)
        recs.synchronized { recs.get(e.jobId).foreach(_.tEnd = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (capturing) recs.synchronized {
          stageToJob.get(e.stageInfo.stageId).flatMap(recs.get).foreach { r =>
            r.stages += 1
            r.tasks += e.stageInfo.numTasks
            r.shuffleRead += e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
            r.shuffleWrite += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n => // warm pass (JIT, memoized builds, file caches)
      SparkEntry.queries(n)(spark, dir).count()
      graft.util.Blocks.releaseAll(spark)
    }
    names.foreach { n =>
      recs.synchronized { recs.clear(); stageToJob.clear() }
      capturing = true
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).count()
      val total = (System.nanoTime() - t0) / 1e9
      capturing = false
      Thread.sleep(300) // let straggling listener events drain
      val rows = recs.synchronized { recs.values.toSeq }
      val jobSum = rows.map(r => math.max(0L, r.tEnd - r.t0)).sum / 1e3
      println(f"PROF $n total=$total%.3f nJobs=${rows.size} jobMs=${jobSum}%.3f gap=${total - jobSum}%.3f")
      val bySite = rows.groupBy(_.site).map { case (s, rs) =>
        (s, rs.map(r => math.max(0L, r.tEnd - r.t0)).sum, rs.size,
          rs.map(_.stages).sum, rs.map(_.tasks).sum,
          rs.map(_.shuffleRead).sum + rs.map(_.shuffleWrite).sum)
      }.toSeq.sortBy(-_._2)
      bySite.foreach { case (s, ms, nj, nst, nt, shb) =>
        println(f"  ${ms / 1e3}%7.3f s  jobs=$nj%-3d stages=$nst%-4d tasks=$nt%-5d shuffleB=$shb%-9d $s")
      }
      graft.util.Blocks.releaseAll(spark)
    }
    spark.stop()
  }
}
