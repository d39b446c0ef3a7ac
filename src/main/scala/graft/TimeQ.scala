package graft
import org.apache.spark.sql.SparkSession

/** Dev harness: time individual SparkEntry queries in isolation
  * (warm JVM, min-of-3) without paying for a full Bench sweep —
  * `runMain graft.TimeQ <sfDir> <query>...`. Bench.scala stays the
  * driver's contract; this is for local plan iteration only.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args(0)
    val names = args.drop(1)
    names.foreach { n => SparkEntry.queries(n)(spark, dir).count() } // warm
    names.foreach { n =>
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"TIME $n min=${ts.min}%.3f runs=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
