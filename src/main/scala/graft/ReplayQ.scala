package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: run each named query TWICE in one JVM and compare the
  * collected results row-for-row — proves a session-memoized mutation
  * wave (sweepOnce / token replay) serves the identical page on the
  * steady-state path. `runMain graft.ReplayQ <sfDir> <query>...`
  */
object ReplayQ {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args(0)
    var bad = 0
    args.drop(1).foreach { n =>
      def page(): Seq[String] = {
        val r = SparkEntry.queries(n)(spark, dir).collect().map(_.toString).toSeq
        graft.util.Blocks.releaseAll(spark)
        r
      }
      val a = page()
      val b = page()
      if (a == b) println(s"REPLAY OK   $n (${a.size} rows)")
      else {
        bad += 1
        println(s"REPLAY DIFF $n: first=${a.size} rows, second=${b.size} rows")
        a.diff(b).take(3).foreach(r => println(s"  only-first: $r"))
        b.diff(a).take(3).foreach(r => println(s"  only-second: $r"))
      }
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
