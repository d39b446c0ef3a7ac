package graft.tracking

import graft.SparkTestBase
import graft.util.IndexMaint
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class TrackingTableSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("v", IntegerType),
    StructField("note", StringType)))

  private def table() = new TrackingTable(spark, tmpDir("tt"), schema, "k")

  /** The table's live generation directory. */
  private def liveDir(t: TrackingTable) = new java.io.File(IndexMaint.liveGen(t.path))

  test("createIfMissing yields an empty relation with the declared schema") {
    val t = table()
    val df = t.read()
    assert(df.count() === 0)
    assert(df.schema.fieldNames.toSeq === Seq("k", "v", "note"))
  }

  test("upsert inserts new keys and replaces matching keys (ref :28-34)") {
    val t = table()
    t.upsert(Seq(("a", 1, "x"), ("b", 2, "y")).toDF("k", "v", "note"))
    t.upsert(Seq(("b", 20, "y2"), ("c", 3, "z")).toDF("k", "v", "note"))
    val out = t.read().orderBy("k").as[(String, Int, String)].collect().toSeq
    assert(out === Seq(("a", 1, "x"), ("b", 20, "y2"), ("c", 3, "z")))
  }

  test("append keeps duplicates and never rewrites existing files (the log-table insert path)") {
    val t = table()
    t.append(Seq(("a", 1, "x")).toDF("k", "v", "note"))
    val dataDir = liveDir(t)
    val before = dataDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    Thread.sleep(20)
    t.append(Seq(("a", 2, "x2")).toDF("k", "v", "note"))
    assert(t.read().count() === 2)
    val after = dataDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    // fast path: old files byte-identical, new files added
    assert(before.forall { case (name, m) => after.get(name).contains(m) },
      "append must not rewrite existing log files")
    assert(after.size > before.size)
  }

  test("append falls back to rewrite when the incoming batch widens a column") {
    val t = table()
    t.append(Seq(("a", 1, "x")).toDF("k", "v", "note"))
    t.append(Seq(("b", 5000000000L, "y")).toDF("k", "v", "note"))
    val out = t.read()
    assert(out.schema("v").dataType === LongType)
    assert(out.count() === 2)
  }

  test("upsert widens int -> long like expand_target_column_types (ref :31-33)") {
    val t = table()
    t.upsert(Seq(("a", 1, "x")).toDF("k", "v", "note"))
    val wide = Seq(("b", 5000000000L, "big")).toDF("k", "v", "note")
    t.upsert(wide)
    val out = t.read()
    assert(out.schema("v").dataType === LongType)
    assert(out.filter(col("k") === "b").head().getLong(1) === 5000000000L)
    assert(out.filter(col("k") === "a").head().getLong(1) === 1L)
  }

  test("a widening decimal upsert keeps the integer digits of both sides") {
    val t = new TrackingTable(spark, tmpDir("tt"), StructType(Seq(
      StructField("k", StringType), StructField("d", DecimalType(10, 2)))), "k")
    t.upsert(Seq(("a", BigDecimal("12345678.90"))).toDF("k", "d").select(col("k"), col("d").cast("decimal(10,2)")))
    t.upsert(Seq(("b", BigDecimal("1.2345"))).toDF("k", "d").select(col("k"), col("d").cast("decimal(5,4)")))
    val out = t.read()
    assert(out.schema("d").dataType === DecimalType(12, 4))
    assert(out.orderBy("k").collect().map(_.getDecimal(1)).toSeq ===
      Seq(new java.math.BigDecimal("12345678.9000"), new java.math.BigDecimal("1.2345")))
  }

  test("fullRefresh drops all rows (drop-omnata-task-tables var, ref :19-27)") {
    val t = table()
    t.upsert(Seq(("a", 1, "x")).toDF("k", "v", "note"))
    val before = t.read()
    t.fullRefresh()
    assert(t.read().count() === 0)
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "v", "note"))
    // an empty generation is committed over the live one: a reader that
    // resolved the table before the refresh still reads its rows
    assert(before.count() === 1)
  }

  test("compact merges accumulated append files, data identical") {
    val t = table()
    (1 to 5).foreach(i => t.append(Seq((s"k$i", i, "x")).toDF("k", "v", "note")))
    def nFiles = liveDir(t).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 5)
    t.compact()
    assert(nFiles === 1, "small table must compact to one file")
    assert(t.read().orderBy("k").as[(String, Int, String)].collect().toSeq ===
      (1 to 5).map(i => (s"k$i", i, "x")))
  }

  test("createIfMissing and read() run no Spark job on a fresh, an appended and a widened table") {
    val t = table()
    def touch(): DataType = { t.createIfMissing(); t.read().schema("v").dataType }
    assert(jobsDuring(assert(touch() === IntegerType)) === 0, "fresh table")
    // a plain reader infers the declared schema of the empty table too
    assert(spark.read.parquet(liveDir(t).getPath).schema.fieldNames.toSeq === Seq("k", "v", "note"))
    t.append(Seq(("a", 1, "x")).toDF("k", "v", "note"))
    assert(jobsDuring(assert(touch() === IntegerType)) === 0, "appended table")
    t.append(Seq(("b", 5000000000L, "y")).toDF("k", "v", "note"))
    assert(jobsDuring(assert(touch() === LongType)) === 0, "widened table")
    assert(t.read().count() === 2)
  }

  test("a table written without a schema sidecar reads back the same rows and schema") {
    val t = table()
    val data = s"${t.path}/data"
    // the earlier layout: an empty part file from the create, then appends
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema).write.parquet(data)
    Seq(("a", 1, "x"), ("b", 2, null: String)).toDF("k", "v", "note")
      .write.mode("append").parquet(data)
    val before = spark.read.parquet(data)
    val (wantSchema, wantRows) = (before.schema, before.orderBy("k").collect().toSeq)
    t.createIfMissing()
    assert(t.read().schema === wantSchema)
    assert(t.read().orderBy("k").collect().toSeq === wantRows)
    assert(jobsDuring(t.read()) === 0, "createIfMissing must leave a sidecar behind")
    assert(!new java.io.File(data).exists, "the adopted data dir must be gone")
  }

  test("a task table in the data-dir layout is adopted with its sidecar and commit files") {
    val t = table()
    val data = new Path(t.path, "data")
    // the earlier layout: plain part files, the sidecar, and a commit
    // file that supersedes key b
    Seq(("a", 1, "x"), ("b", 2, "y")).toDF("k", "v", "note").write.parquet(data.toString)
    SchemaSidecar.write(spark, data, schema)
    val commit = tmpDir("commit")
    Seq(("b", 20, "y2")).toDF("k", "v", "note").coalesce(1).write.mode("overwrite").parquet(commit)
    val part = new java.io.File(commit).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, new java.io.File(data.toString, TrackingTable.CommitFile.name(1)).toPath)
    assert(rows(t) === Seq(("a", 1, "x"), ("b", 20, "y2")))
    t.upsert(Seq(("c", 3, "z")).toDF("k", "v", "note"))
    assert(rows(t) === Seq(("a", 1, "x"), ("b", 20, "y2"), ("c", 3, "z")))
    assert(commitFiles(t).size === 2, "the adopted commit file keeps its number")
  }

  test("a create staged but never renamed in does not block the next createIfMissing") {
    val t = table()
    // the crash: a stage holds a partial create, its commit never ran
    val staged = new java.io.File(IndexMaint.newStageDir(t.path, "write"))
    java.nio.file.Files.createFile(new java.io.File(staged, "_common_metadata").toPath)
    assert(!t.exists)
    t.createIfMissing()
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "v", "note"))
    assert(t.read().count() === 0)
    assert(!staged.exists, "the staging dir must not outlive the create")
  }

  /** The table's data files (not the sidecar, not staged commits), with
    * their modification times.
    */
  private def dataFiles(t: TrackingTable): Map[String, Long] =
    liveDir(t).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.lastModified()).toMap

  private def commitFiles(t: TrackingTable) =
    dataFiles(t).keys.filter(_.startsWith("commit-"))

  private def rows(t: TrackingTable) =
    t.read().orderBy("k", "v").as[(String, Int, String)].collect().toSeq

  test("a one-row local upsert runs no Spark job and leaves every existing data file in place") {
    val t = table()
    t.append(Seq(("a", 1, "x")).toDF("k", "v", "note"))
    t.upsert(Seq(("b", 2, "y")).toDF("k", "v", "note"))
    val before = dataFiles(t)
    Thread.sleep(20)
    assert(jobsDuring(t.upsert(Seq(("c", 3, "z")).toDF("k", "v", "note"))) === 0)
    val after = dataFiles(t)
    assert(before.forall { case (name, m) => after.get(name).contains(m) },
      "a local upsert must not rewrite or remove existing files")
    assert(after.size === before.size + 1)
    assert(rows(t) === Seq(("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")))
  }

  test("a local upsert replaces an existing key") {
    val t = table()
    t.append(Seq(("a", 1, "x"), ("b", 2, "y")).toDF("k", "v", "note"))
    t.upsert(Seq(("b", 20, "y2")).toDF("k", "v", "note"))
    assert(rows(t) === Seq(("a", 1, "x"), ("b", 20, "y2")))
    t.upsert(Seq(("b", 200, "y3")).toDF("k", "v", "note"))
    assert(rows(t) === Seq(("a", 1, "x"), ("b", 200, "y3")))
  }

  test("a DataFrame upsert after local upserts rewrites into a plain table") {
    val t = table()
    t.upsert(Seq(("a", 1, "x")).toDF("k", "v", "note"))
    t.upsert(Seq(("b", 2, "y")).toDF("k", "v", "note"))
    t.upsert(Seq(("b", 20, "y2"), ("c", 3, "z")).toDF("k", "v", "note").repartition(2))
    assert(rows(t) === Seq(("a", 1, "x"), ("b", 20, "y2"), ("c", 3, "z")))
    assert(commitFiles(t).isEmpty, "a rewrite leaves no commit files")
  }

  test("an append after local upserts keeps its duplicates and the upserted row") {
    val t = table()
    t.upsert(Seq(("a", 1, "x")).toDF("k", "v", "note"))
    t.upsert(Seq(("a", 2, "x2")).toDF("k", "v", "note"))
    t.append(Seq(("a", 3, "x3"), ("b", 4, "y"), ("b", 4, "y")).toDF("k", "v", "note"))
    assert(rows(t) === Seq(("a", 2, "x2"), ("a", 3, "x3"), ("b", 4, "y"), ("b", 4, "y")))
  }

  test("null keys never shadow each other, as with the anti-join") {
    val t = table()
    t.append(Seq((null: String, 1, "plain")).toDF("k", "v", "note"))
    t.upsert(Seq((null: String, 2, "local")).toDF("k", "v", "note"))
    t.upsert(Seq((null: String, 3, "local2"), ("a", 4, "x")).toDF("k", "v", "note"))
    assert(rows(t) === Seq((null, 1, "plain"), (null, 2, "local"), (null, 3, "local2"), ("a", 4, "x")))
    t.upsert(Seq((null: String, 5, "df")).toDF("k", "v", "note").repartition(2))
    assert(t.read().filter(col("k").isNull).count() === 4)
  }

  test("a widening local upsert takes the rewrite") {
    val t = table()
    t.upsert(Seq(("a", 1, "x")).toDF("k", "v", "note"))
    t.upsert(Seq(("b", 5000000000L, "big")).toDF("k", "v", "note"))
    val out = t.read()
    assert(out.schema("v").dataType === LongType)
    assert(out.orderBy("k").as[(String, Long, String)].collect().toSeq ===
      Seq(("a", 1L, "x"), ("b", 5000000000L, "big")))
    assert(commitFiles(t).isEmpty, "a widening upsert rewrites into a plain table")
  }

  test("compact folds numbered files into one plain file with identical rows") {
    val t = table()
    t.append(Seq(("a", 1, "x"), ("b", 2, "y")).toDF("k", "v", "note"))
    (1 to 4).foreach(i => t.upsert(Seq((if (i % 2 == 0) "a" else "c", i, s"n$i")).toDF("k", "v", "note")))
    val want = rows(t)
    assert(commitFiles(t).size === 4)
    t.compact()
    assert(dataFiles(t).size === 1)
    assert(commitFiles(t).isEmpty)
    assert(rows(t) === want)
    assert(want === Seq(("a", 4, "n4"), ("b", 2, "y"), ("c", 3, "n3")))
  }

  test(s"after 40 local upserts the data dir holds at most ${TrackingTable.FoldAt + 1} part files") {
    val t = table()
    (1 to 40).foreach(i => t.upsert(Seq((s"k${i % 7}", i, s"n$i")).toDF("k", "v", "note")))
    assert(dataFiles(t).size <= TrackingTable.FoldAt + 1, dataFiles(t).keys.toSeq.sorted.mkString(", "))
    val want = (1 to 40).groupBy(_ % 7).values.map(_.max).map(i => (s"k${i % 7}", i, s"n$i"))
    assert(rows(t) === want.toSeq.sortBy(_._1))
  }

  test("a commit left staged is invisible to read() and does not block the next commit") {
    val t = table()
    t.upsert(Seq(("a", 1, "x")).toDF("k", "v", "note"))
    val data = new Path(liveDir(t).getPath)
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the crash: the next commit's file was written in part, never renamed in
    val staged = new Path(data, s".${TrackingTable.CommitFile.name(2)}.tmp")
    val out = fs.create(staged)
    out.write("PAR1 torn".getBytes("UTF-8"))
    out.close()
    assert(rows(t) === Seq(("a", 1, "x")))
    t.upsert(Seq(("a", 2, "x2")).toDF("k", "v", "note"))
    t.upsert(Seq(("b", 3, "y")).toDF("k", "v", "note"))
    assert(rows(t) === Seq(("a", 2, "x2"), ("b", 3, "y")))
    assert(!fs.exists(staged), "the next commit must replace the staged file")
  }

  test("concurrent local upserts of distinct keys into one table all land") {
    val t = table()
    t.createIfMissing()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val done = (0 until 8).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until 3).foreach(i =>
            t.upsert(Seq((s"w$w-$i", w * 10 + i, "x")).toDF("k", "v", "note")))
        })
      }
      done.foreach(_.get())
    } finally pool.shutdown()
    assert(rows(t) === (for (w <- 0 until 8; i <- 0 until 3) yield (s"w$w-$i", w * 10 + i, "x")).sortBy(_._1))
  }
}
