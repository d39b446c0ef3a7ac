package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  /** The shared session, pinned ACTIVE for this suite's thread.
    *
    * `SparkPlan` captures `SparkSession.getActiveSession.orNull` at
    * construction, and a plan node constructed on a thread with no
    * active session NPEs later in `resetMetrics`
    * (`WholeStageCodegenExec.metrics` → `SparkPlan.sparkContext` →
    * `session()` null) — the intermittent `[INTERNAL_ERROR] The
    * "localCheckpoint" action failed` recorded against PqSpec in
    * VERIFY_r20. Only the session-CREATING thread gets the active
    * ThreadLocal from `getOrCreate`; any other thread a suite (or the
    * test runner under load) happens to run on sees None unless it
    * inherited the value at thread-creation time. Setting it here makes
    * every suite's first touch of `spark` pin the session active on the
    * suite's own thread, so no spec-driven plan construction can
    * capture a null session — and Spark-internal pools (AQE stage
    * creators, broadcast exchange) spawned from these threads inherit a
    * non-null value.
    */
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    SparkSession.setActiveSession(s)
    s
  }
  /** Smallest driver testdata scale — specs must stay fast. */
  val sf = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The number of Spark jobs started while `body` runs. */
  def jobsDuring(body: => Any): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    listeners.waitForListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      listeners.waitForListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }
}
