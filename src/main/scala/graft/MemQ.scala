package graft
import org.apache.spark.sql.SparkSession

/** Dev harness: attribute DRIVER HEAP RETENTION to queries — the
  * round-21 hunt for the session RSS/GC blowup the driver's round-20
  * bench recorded (RSS 4.7 → 18 GB, GC 1 → 17 s/pass on a ~90 GB heap;
  * reproduced locally at SPARK_DRIVER_MEM=64g: RSS 4.6 → 13.2 GB,
  * pass-2 GC 14 s). RSS alone cannot name a retainer on a big heap (G1
  * floats garbage); the LIVE SET after a forced full GC can. For each
  * query: run to completion, release pins, System.gc(), record
  * heap-used. Print the per-query live-set DELTAS sorted, per pass.
  * `runMain graft.MemQ <sfDir> [passes]`. Local iteration only;
  * Bench.scala stays the driver's contract.
  */
object MemQ {
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
    val passes = if (args.length > 1) args(1).toInt else 2
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    def liveMb(): Long = {
      System.gc()
      Thread.sleep(50)
      val m = java.lang.management.ManagementFactory.getMemoryMXBean
      m.getHeapMemoryUsage.getUsed / (1024 * 1024)
    }
    (1 to passes).foreach { p =>
      var prev = liveMb()
      val deltas = ordered.map { case (name, fn) =>
        try fn(spark, dir).count() catch { case e: Throwable =>
          System.err.println(s"[memq] $name FAILED: ${e.getMessage}") }
        graft.util.Blocks.releaseAll(spark)
        val now = liveMb()
        val d = now - prev
        prev = now
        name -> d
      }
      println(f"MEMQ pass=$p end_live_mb=$prev rss_mb=${graft.util.Blocks.rssMb()}")
      deltas.sortBy(-_._2).take(25).foreach { case (n, d) =>
        println(f"  $d%6d MB  $n")
      }
    }
    spark.stop()
  }
}
