package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One op's time. The host's co-tenants take CPU time from this virtual
  * machine (the steal column of /proc/stat); in a busy period up to a third
  * of the CPU time it wanted, which moved identical runs by up to 1.5x.
  * `stolen` is the share of the CPU time the machine wanted during the op
  * that its hypervisor took, and `secs` the wall time the op would have
  * taken had every runnable thread kept that share: `rawSecs * (1 - stolen)`.
  * With no steal the two are equal; the result file keeps both.
  */
final case class Timed(rawSecs: Double, stolen: Double, err: Option[String]) {
  def secs: Double = rawSecs * (1 - stolen)
}

final case class OpRec(name: String, t: Timed, records: Long, traced: Boolean, cold: Boolean,
    errors: Seq[String], connectorS: Double) {
  def secs: Double = t.secs
  def steady: Boolean = !cold
}

/** One steady unit: the sum of its ops' times, as in `Timed`. */
final case class Pass(secs: Double, rawSecs: Double, traced: Boolean)

/** CPU time the hypervisor takes from this virtual machine. Steal accrues
  * only on CPUs that have work, so the share is taken of the CPU time the
  * machine wanted (busy + stolen, over all CPUs), not of wall time: it does
  * not depend on how many cores the program keeps busy.
  */
object Steal {
  final case class Sample(stolen: Long, wanted: Long)

  def sample(): Sample =
    try {
      // cpu user nice system idle iowait irq softirq steal ...
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      Sample(f(7), f(0) + f(1) + f(2) + f(5) + f(6) + f(7))
    } catch { case _: Exception => Sample(0L, 0L) }

  def share(from: Sample, to: Sample): Double =
    if (to.wanted <= from.wanted) 0.0
    else (to.stolen - from.stolen).toDouble / (to.wanted - from.wanted)
}

/** Everything one run measures; serialized to the result file run.py reads. */
final class Recorder {
  var setup: Seq[Double] = Nil
  var coldS = 0.0
  var storageBytesPerRecord = 0.0
  var storageBytes = 0L
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val passes = mutable.ArrayBuffer.empty[Pass]
  // connector and tracking traffic of the steady (non-cold) ops
  val callMs = mutable.ArrayBuffer.empty[Double]
  var calls, delivered, failedCalls, duplicates, skippedRuns = 0L
  var busyNs = 0L
  var trackingBytes, logFiles, taskRows = 0L
  val tracedCalls = mutable.ArrayBuffer.empty[Call]

  /** Times one op; an exception fails the op instead of the run. */
  def timeOp(name: String, traced: Boolean)(body: => Unit): Timed = {
    Trace.on = traced
    val s0 = Steal.sample()
    val t0 = System.nanoTime()
    val err =
      try { Trace.span("bench", name)(body); None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      finally Trace.on = false
    Timed((System.nanoTime() - t0) / 1e9, Steal.share(s0, Steal.sample()), err)
  }

  def addOp(name: String, t: Timed, records: Long, traced: Boolean, cold: Boolean,
      errors: Seq[String], cs: Seq[Call] = Nil, deliveries: Map[(String, String), Int] = Map.empty,
      skipped: Int = 0, bytes: Long = 0, files: Long = 0, tasks: Long = 0): Unit = {
    val op = OpRec(name, t, records, traced, cold, errors,
      cs.map(c => c.end - c.start).sum / 1e9)
    ops += op
    if (traced) tracedCalls ++= cs.filter(_.stage >= 0)
    if (op.steady) {
      calls += cs.size
      delivered += cs.map(_.records.toLong).sum
      failedCalls += cs.count(_.failed)
      busyNs += cs.map(c => c.end - c.start).sum
      callMs ++= cs.map(c => (c.end - c.start) / 1e6)
      duplicates += deliveries.values.map(n => math.max(0, n - 1).toLong).sum
      skippedRuns += skipped
      trackingBytes = bytes
      logFiles = files
      taskRows = tasks
    }
  }

  var steadyGcS = 0.0

  /** The steady phase: whole units of work (`unit` returns its timed
    * seconds) until they have timed `seconds`, at least one unit. A traced
    * run measures at least four units, untraced/traced/traced/untraced (an
    * order that cancels a linear drift), so the tracing overhead is
    * measured in the same session.
    */
  def steadyUnits(seconds: Double, traced: Boolean)(unit: Boolean => Double): Unit = {
    val gc0 = graft.util.Blocks.gcSec()
    var n = 0
    var timed = 0.0
    while (n == 0 || (traced && n < 4) || timed < seconds) {
      val tracedUnit = traced && (n % 4 == 1 || n % 4 == 2)
      val first = ops.size
      val secs = unit(tracedUnit)
      passes += Pass(secs, ops.drop(first).map(_.t.rawSecs).sum, tracedUnit)
      timed += secs
      n += 1
    }
    steadyGcS = graft.util.Blocks.gcSec() - gc0
  }
}

/** The benchmark's JVM entry point; see perfbench/run.py for the contract.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --cores C
  *       --sf-dir DIR --run-dir DIR --result FILE [--rows FILE]
  */
object Main {
  /** Least share of a traced op's wall time its layer spans must claim. */
  val MinAttributed = 0.9

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val sfDir = args("sf-dir")
    val runDir = new File(args("run-dir"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    if (traced) Trace.install(spark.sparkContext)

    val rec = new Recorder
    val gc0 = graft.util.Blocks.gcSec()
    var suite: Seq[OperatorSuite.Row] = Nil
    workload match {
      case "push_bulk" =>
        PushWorkloads.bulk(spark, sfDir, new File(runDir, "bulk"), seconds, traced, rec)
      case "operator_suite" =>
        val order = Files.readAllLines(Paths.get(args("rows"))).asScala.map(_.trim)
          .filter(_.nonEmpty).toSeq
        suite = OperatorSuite.run(spark, sfDir, order, new File(runDir, "out"), seconds, traced, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gcS = graft.util.Blocks.gcSec() - gc0
    val pushCold = rec.ops.filter(_.cold)
    if (workload != "operator_suite") rec.coldS = pushCold.map(_.secs).sum

    val layers = if (traced) perLayer(workload, rec) else Map.empty[String, Any]
    val out = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_s" -> sessionS, "setup_s" -> rec.setup, "cold_s" -> rec.coldS,
      "ops" -> rec.ops.map(o => Map("name" -> o.name, "s" -> o.secs, "raw_s" -> o.t.rawSecs,
        "stolen" -> o.t.stolen, "records" -> o.records, "traced" -> o.traced,
        "cold" -> o.cold, "errors" -> o.errors,
        "connector_s" -> o.connectorS)),
      "passes_s" -> rec.passes.map(p => Map("s" -> p.secs, "raw_s" -> p.rawSecs,
        "traced" -> p.traced)),
      "storage_bytes_per_record" -> rec.storageBytesPerRecord,
      "storage_bytes" -> rec.storageBytes,
      "rss_mb_peak" -> vmHwmMb(), "gc_s" -> gcS,
      "trace" -> layers,
      "suite" -> suite.map(r => Map("name" -> r.name, "layer" -> r.layer, "cold_s" -> r.coldS,
        "warm_s" -> r.warmS, "counts" -> r.counts, "errors" -> r.errors,
        "oracle_sql" -> graft.SparkEntry.oracleSql.get(r.name))))
    Files.writeString(Paths.get(args("result")), Serialization.write(out)(DefaultFormats))
    if (traced)
      Files.writeString(Paths.get(args("result") + ".spans"), Serialization.write(Map(
        "spans" -> Trace.allSpans, "jobs" -> Jobs.finished(Long.MinValue)))(DefaultFormats))
    spark.stop()
  }

  /** Per-layer metrics of the traced ops, per dbt run (push workloads) or
    * per pass over the rows (operator_suite).
    */
  private def perLayer(workload: String, rec: Recorder): Map[String, Any] = {
    val spans = Trace.allSpans
    val roots = spans.filter(s => s.parent == 0L && s.layer == "bench")
    val jobs = Jobs.finished(roots.map(_.end).maxOption.getOrElse(0L))
    val traces = Attribution.ops(roots, spans, jobs, rec.tracedCalls.toSeq)
    val opNames = rec.ops.filter(_.traced).map(o => o.name -> o.cold)
    val isSuite = workload == "operator_suite"
    // the cold pass (suite) or cold run (push) is traced too; keep it apart
    val coldTraces = traces.zip(opNames).filter(_._2._2).map(_._1)
    val warm = traces.zip(opNames).filterNot(_._2._2).map(_._1)
    val units = if (isSuite) math.max(1, rec.passes.count(_.traced)).toDouble
      else math.max(1, warm.size).toDouble
    def tot(f: Attribution.OpTrace => Double): Double = warm.map(f).sum / units
    def jobsTot(f: JobRec => Double): Double = warm.flatMap(_.jobs).map(f).sum / units
    val layersSeen = (traces.flatMap(_.selfNs.keys) ++ traces.flatMap(_.layerNs.keys)).distinct
    val self = layersSeen.map(l => l -> tot(_.selfNs.getOrElse(l, 0L) / 1e9)).toMap
    val inclusive = layersSeen.map(l => l -> tot(_.layerNs.getOrElse(l, 0L) / 1e9)).toMap
    val layerJobs = layersSeen.map(l => l -> tot(_.layerJobs.getOrElse(l, 0).toDouble)).toMap
    val coldIncl = layersSeen.map(l =>
      l -> coldTraces.map(_.layerNs.getOrElse(l, 0L) / 1e9).sum).toMap
    // Share of each traced op's wall time that named layer spans claim. An
    // op below MinAttributed fails: its per-layer figures would not add up.
    val attributed = traces.map(t => 1.0 - t.selfNs.getOrElse("bench", 0L).toDouble / t.wallNs)
    val tracedIdx = rec.ops.indices.filter(rec.ops(_).traced)
    tracedIdx.zip(attributed).foreach { case (i, a) =>
      if (a < MinAttributed) rec.ops(i) = rec.ops(i).copy(errors = rec.ops(i).errors :+
        f"trace attributes ${a * 100}%.1f%% of the op's time, below ${MinAttributed * 100}%.0f%%")
    }
    // Self time of the span that wraps the op (DagRunner.run, or the row),
    // as a share of the op: the time no layer under it claims.
    val wrapperShare = traces.map(t => t.wrapperSelfNs.toDouble / t.wallNs)
    val (tracedPasses, plainPasses) = rec.passes.toSeq.map(p => p.traced -> p.secs)
      .partition(_._1)
    // streaming jobs by query name; an unnamed query by the row that ran it
    val spanName = spans.map(s => s.id -> s.name).toMap
    val streamingJobs = warm.flatMap(_.jobs).filter(_.query.nonEmpty)
      .groupBy(j => if (j.query == "unnamed") spanName.getOrElse(j.span, j.query) else j.query)
      .map { case (q, js) => q -> js.size / units }
    val delivered = math.max(1L, rec.delivered)
    val metrics = mutable.LinkedHashMap[String, Double](
      "connector.calls" -> rec.calls / math.max(1, rec.ops.count(_.steady)).toDouble,
      "connector.calls_per_record" -> (if (rec.delivered == 0) 0.0 else rec.calls.toDouble / delivered),
      "connector.records_per_call" -> (if (rec.calls == 0) 0.0 else rec.delivered.toDouble / rec.calls),
      "connector.busy_s" -> rec.busyNs / 1e9 / math.max(1, rec.ops.count(_.steady)),
      "connector.call_ms_p50" -> median(rec.callMs.toSeq),
      "connector.failed" -> rec.failedCalls.toDouble,
      "connector.duplicates" -> rec.duplicates.toDouble,
      "tracking.scan_s" -> tot(_.spanNs.collect {
        case (("tracking", n), ns) if n.startsWith("read:") => ns / 1e9 }.sum),
      "tracking.log_files" -> rec.logFiles.toDouble,
      "tracking.task_rows" -> rec.taskRows.toDouble,
      "tracking.bytes" -> rec.trackingBytes.toDouble,
      "model.dag_s" -> inclusive.getOrElse("model", 0.0),
      "push.records" -> (if (isSuite) 0.0 else rec.ops.filter(_.steady).map(_.records).sum.toDouble /
        math.max(1, rec.ops.count(_.steady))),
      "push.skipped_runs" -> rec.skippedRuns.toDouble / math.max(1, rec.ops.count(_.steady)),
      "spark.jobs" -> jobsTot(_ => 1.0),
      "spark.stages" -> jobsTot(_.stages.toDouble),
      "spark.tasks" -> jobsTot(_.tasks.toDouble),
      "spark.job_s" -> tot(_.jobUnionNs / 1e9),
      "spark.driver_gap_s" -> tot(t => (t.wallNs - t.jobUnionNs) / 1e9),
      "spark.input_bytes" -> jobsTot(_.inputBytes.toDouble),
      "spark.shuffle_bytes" -> jobsTot(_.shuffleBytes.toDouble),
      "spark.spill_bytes" -> jobsTot(_.spillBytes.toDouble),
      "jvm.gc_s" -> rec.steadyGcS / math.max(1, if (isSuite) rec.passes.size
        else rec.ops.count(_.steady)),
      "trace.attributed_min" -> attributed.minOption.getOrElse(0.0),
      "trace.wrapper_self_share_max" -> wrapperShare.maxOption.getOrElse(0.0),
      "trace.overhead" -> (median(tracedPasses.map(_._2)) / median(plainPasses.map(_._2)) - 1.0))
    Map("metrics" -> metrics, "self_s" -> self, "inclusive_s" -> inclusive,
      "layer_jobs" -> layerJobs, "cold_inclusive_s" -> coldIncl,
      "streaming_queries" -> streamingJobs,
      "per_op" -> traces.indices.map { k =>
        Map("name" -> rec.ops(tracedIdx(k)).name, "cold" -> rec.ops(tracedIdx(k)).cold,
          "attributed" -> attributed(k), "wrapper_self_share" -> wrapperShare(k),
          "self_share" -> traces(k).selfNs.map { case (l, ns) => l -> ns.toDouble / traces(k).wallNs })
      },
      "traced_units" -> units, "spans" -> spans.size, "jobs" -> jobs.size)
  }
}
