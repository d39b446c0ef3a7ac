package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** What one bench run recorded besides its per-row times. */
  private[graft] final case class Run(sfDir: String, load: Double,
      gcSec: Seq[Double], rssMb: Seq[Long], failed: Seq[String])

  // Locale.ROOT: f"" uses the JVM default locale, and a comma-decimal
  // locale (de_DE) would emit invalid JSON the driver can't parse.
  private def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def str(v: Option[String]): String = v.fold("null")(x => "\"" + x + "\"")

  /** The result line over the `shown` rows, the other `omitted` rows
    * summed into `omitted_sec`; `extra` is appended verbatim.
    */
  private def line(run: Run, shown: Seq[(String, Double)], omitted: Int,
      omittedSec: Double, extra: String = ""): String = {
    val total = shown.map(_._2).sum + omittedSec
    val qjson = shown.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val om = if (omitted > 0) s""","omitted":$omitted,"omitted_sec":${fmt(omittedSec)}""" else ""
    // q_failed names the failing queries (additive, like q_errors and
    // absent on green runs) so downstream speedup math can EXCLUDE
    // them — a failed query's recorded time is elapsed-until-crash,
    // which would otherwise read as a speedup.
    val qe = if (run.failed.nonEmpty)
      s""","q_errors":${run.failed.size},"q_failed":[${
        run.failed.map("\"" + _ + "\"").mkString(",")}]"""
    else ""
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qjson$om$qe,"sf":"${run.sfDir}","passes":2,"agg":"min","load":${fmt(run.load)},"gc_sec":[${run.gcSec.map(fmt).mkString(",")}],"rss_mb":[${run.rssMb.mkString(",")}]$extra}"""
  }

  /** A time wider than any row or total this bench produces. */
  private val WorstSec = 99999.999

  /** The stdout line. The driver captures only the last ~2000 bytes of
    * output and parses this JSON line out of that tail; sbt appends a
    * ~75-char "[success]" line after us, and the full per-row map
    * overflows the window (rounds 1 and 3 lost the whole line). So the
    * line shows the longest name-ordered prefix of rows that fits 1600
    * chars with every number at its worst-case width, and sums
    * the rest into `omitted_sec`. The shown rows depend on the row
    * names (and on failures, whose names take room) — never on timings,
    * so every run reports the same rows.
    */
  private[graft] def stdoutLine(run: Run, results: Seq[(String, Double)]): String = {
    val byName = results.sortBy(_._1)
    val worstRun = run.copy(load = WorstSec, gcSec = run.gcSec.map(_ => WorstSec),
      rssMb = run.rssMb.map(_ => 9999999L))
    def fits(k: Int): Boolean = line(worstRun, byName.take(k).map(_._1 -> WorstSec),
      byName.length - k, WorstSec).length <= 1600
    val keep = (byName.length to 1 by -1).find(fits).getOrElse(1)
    line(run, byName.take(keep), byName.length - keep, byName.drop(keep).map(_._2).sum)
  }

  /** Where a BENCH_FULL.json map came from: host, cores and the commit
    * (null when it cannot be read, as in an exported source tree).
    */
  private def provenance: String = {
    import scala.sys.process._
    val host = scala.util.Try(java.net.InetAddress.getLocalHost.getHostName).toOption
    val commit = scala.util.Try(Seq("git", "rev-parse", "HEAD")
      .!!(ProcessLogger(_ => ())).trim).toOption.filter(_.matches("[0-9a-f]{40}"))
    s""","host":${str(host)},"cores":${Runtime.getRuntime.availableProcessors},"commit":${str(commit)}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: releaseAll's unpersist of truncated-lineage
    // checkpoint blocks logs one WARN per block, and an async WARN
    // landing after the JSON line would push it out of the ~2000-byte
    // stdout tail the driver parses
    spark.sparkContext.setLogLevel("ERROR")
    // Warm measurement: run the whole suite once (JIT, codegen caches,
    // file index, broadcast paths), then time TWO passes and report the
    // per-query minimum. Otherwise whichever query sorts first absorbs
    // several seconds of one-time session cost, and co-tenant load on
    // the machine (observed: identical code, 24.8s vs 32.5s an hour
    // apart) pollutes single-pass numbers. Min-of-2 is recorded in the
    // JSON ("passes"/"agg") so the methodology is explicit.
    // Optional args = query-name filter (local iteration only; the driver
    // invokes with no args and gets the full suite).
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val ordered = if (args.nonEmpty) all.filter(q => args.contains(q._1)) else all
    ordered.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      // a query's checkpoint pins are per-invocation: release them once
      // the result is consumed instead of letting dead blocks wait for
      // a driver GC — session RSS stays flat across the 185x2 passes
      graft.util.Blocks.releaseAll(spark)
    }
    // Failed queries are still caught (one broken query must not kill
    // the whole JSON line), but they are now COUNTED and named on
    // stderr instead of silently recording elapsed-until-crash as a
    // legitimate time — a query that starts failing mid-round would
    // otherwise read as a speedup (measurement bug found in the r20
    // optimization round: a crash at sf0.1 hid behind this catch while
    // the small-SF correctness checks stayed green).
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def pass(): Seq[(String, Double)] = ordered.map { case (name, fn) =>
      // label every job with the registered row it serves (guide §1.5)
      // so listener-based attribution (ProfQ) and any UI/event-log
      // reading names the operator instead of a call site — additive:
      // no timing or output change
      spark.sparkContext.setJobDescription(s"graft:$name")
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        -1L
      }
      val t = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      graft.util.Blocks.releaseAll(spark) // outside the timed region
      name -> t
    }
    // per-pass session telemetry (next to loadavg): cumulative GC time
    // and RSS after each pass separate session drag from machine noise
    val gc0 = graft.util.Blocks.gcSec()
    val p1 = pass()
    val (gc1, rss1) = (graft.util.Blocks.gcSec(), graft.util.Blocks.rssMb())
    val p2 = pass()
    val (gc2, rss2) = (graft.util.Blocks.gcSec(), graft.util.Blocks.rssMb())
    val results = p1.zip(p2).map { case ((n, a), (_, b)) => n -> math.min(a, b) }
    // Machine-load context: co-tenant load moved identical-code totals
    // ±40% across rounds and cost a judging cycle to disprove a fake
    // regression — record the 1-min loadavg so cross-round comparisons
    // can separate code from contention.
    val load =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
      catch { case _: Throwable => -1.0 }
    val run = Run(sfDir, load, Seq(gc1 - gc0, gc2 - gc1), Seq(rss1, rss2),
      failed.toSeq)
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      (line(run, results, 0, 0.0, provenance) + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(stdoutLine(run, results))
    spark.stop()
  }
}
