package graft.tracking

import java.nio.file.{Files, Paths}
import scala.util.Using
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.OutputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import graft.util.{Fs, IndexMaint}

/** Storage-agnostic tracking-table contract: the seam a caller wraps
  * around a [[TrackingTable]] (timing, fault injection, a future
  * Delta/Iceberg MERGE) and hands to the push pipelines or to
  * `PushMaterializer.unsyncedRecords`.
  */
trait TrackingStore {
  def read(): DataFrame
  def upsert(incoming: DataFrame): Unit
  def append(incoming: DataFrame): Unit
  def fullRefresh(): Unit

  /** Small-file compaction. Append-heavy stores accumulate one file set
    * per run forever; periodic compaction keeps scan/list cost bounded.
    * Data-identical rewrite.
    */
  def compact(): Unit
}

/** The reference's `tracking_table` materialization (M2,
  * `macros/tracking_table_materialization.sql:1-53`): an incremental
  * upsert table keyed by `uniqueKey`, immune to normal full-refresh,
  * rebuilt only on explicit request (`drop-omnata-task-tables` var), with
  * column-type widening before each upsert
  * (`adapter.expand_target_column_types`, `:31-33`).
  *
  * Storage layout: `path` is a [[TableRoot]], a root of
  * [[graft.util.IndexMaint]] generations plus the live pointer and the
  * lease file. The live generation holds the rows as Parquet files, plus
  * the schema sidecar `_common_metadata` ([[SchemaSidecar]]): a
  * footer-only Parquet summary file carrying the table's schema, the way
  * the reference declares each tracking table's columns up front
  * (`sfdc_load_tasks.sql:7-17`). `read()` takes the schema from it, so
  * neither create nor read runs a Spark job; a plain `spark.read.parquet`
  * of the live generation infers the schema from it too, even while the
  * table has no rows. The data files are plain part files (written by
  * Spark) and numbered commit files `commit-<n>.parquet` (written by the
  * driver, see below). A commit file is staged as `.commit-<n>.parquet.tmp`
  * and renamed in, so a crash before the rename leaves only a dot-file
  * that no reader lists and the next commit overwrites.
  *
  * Resolution: `read()` keeps, for each non-null key, only the rows of
  * the highest-numbered file that holds that key; a plain file counts as
  * commit 0, and rows with a null key are all kept (they never match, as
  * in the reference's delete-then-insert). It resolves only while
  * numbered files exist, so a table that never took a driver commit (the
  * log tables) reads as a plain scan. A plain scan of the live generation
  * does not resolve: on a task table it also shows the rows that later
  * commits superseded.
  *
  * Every write runs under the root's lease, so concurrent writers
  * serialize. Which writes do what:
  *  - An `upsert` whose incoming frame is local to the driver (its
  *    optimized plan is a `LocalRelation`, as for the one task row a
  *    push creates or stamps) and needs no widening commits its rows as
  *    one new numbered file in the live generation, from the driver: no
  *    Spark job, no join, and no existing file is touched. This is the
  *    reference's one-row `insert into` / `update … from` on a task
  *    table (`salesforce_bulk_load.sql:21-31,51-56`).
  *  - A non-widening `append` to a table without numbered files only
  *    adds part files to the live generation; the schema, hence the
  *    sidecar, stays.
  *  - Everything else writes the whole table through the resolving read
  *    into a new generation, sidecar included, and commits it by the
  *    pointer flip (the analogue of the reference's backup-rename dance,
  *    `:19-27`), leaving a plain table: a non-local or widening `upsert`,
  *    `compact`, a widening `append` or one to a table that holds
  *    numbered files, and an upsert that finds [[TrackingTable.FoldAt]]
  *    numbered files already present, which folds them so the file count
  *    stays bounded.
  *  - `createIfMissing` commits a generation holding only the sidecar;
  *    `fullRefresh` commits such an empty generation over the live one.
  * On a real deployment this class is the seam where Delta/Iceberg MERGE
  * slots in; the public API (`createIfMissing / upsert / append /
  * fullRefresh`) is storage-agnostic.
  *
  * Scale: a rewriting upsert is `existing LEFT ANTI incoming UNION
  * incoming` — one shuffle on the key and a full rewrite, which suits
  * the task tables (one row per job). The log tables (one row per pushed
  * record) only take `append`, which writes new files unless the
  * incoming batch widens a column.
  */
final class TrackingTable(
    spark: SparkSession,
    val path: String,
    val schema: StructType,
    val uniqueKey: String) extends TrackingStore {
  import TrackingTable.{CommitFile, FoldAt}

  private val root = new TableRoot(spark, path)
  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = root.current.isDefined

  /** Runs `f` on the live generation under the lease, creating it first. */
  private def mutate[A](op: String)(f: String => A): A =
    root.mutate(op)(gen => f(gen.getOrElse(root.commitEmpty(schema))))

  /** Ref `:17-18`: first run creates the (empty-schema) table. */
  def createIfMissing(): Unit = if (root.live.isEmpty) mutate("create")(_ => ())

  def read(): DataFrame = {
    val gen = root.live.getOrElse(mutate("create")(identity))
    resolved(gen, root.schema(gen), commits(gen))
  }

  /** The rows of generation `gen` under `live`, resolved while `numbered`
    * commits exist (see the class doc).
    */
  private def resolved(gen: String, live: StructType, numbered: Seq[Long]): DataFrame = {
    val df = spark.read.schema(live).parquet(gen)
    if (numbered.isEmpty) df
    else {
      val n = regexp_extract(col("_metadata.file_name"), CommitFile.regex, 1)
      df.withColumn("__commit", when(n === "", 0L).otherwise(n.cast(LongType)))
        .withColumn("__newest", max(col("__commit")).over(Window.partitionBy(col(uniqueKey))))
        .where(col(uniqueKey).isNull || col("__commit") === col("__newest"))
        .drop("__commit", "__newest")
    }
  }

  /** The numbers of the commit files in `gen`; one driver-side listing. */
  private def commits(gen: String): Seq[Long] =
    fs.listStatus(new Path(gen)).toSeq.map(_.getPath.getName).collect { case CommitFile(n) => n }

  /** Ref `:19-27`: explicit rebuild (the `drop-omnata-task-tables` branch). */
  def fullRefresh(): Unit = root.mutate("fullRefresh")(_ => root.commitEmpty(schema))

  /** Widen target types so incoming data fits — ref `:31-33`
    * (`expand_target_column_types`). String stays string (Spark strings
    * are unbounded); numeric widenings follow the standard lattice. Two
    * decimals widen to the larger integer-digit count plus the larger
    * scale, capped at 38 digits, as Spark's own wider-decimal rule does.
    */
  private[tracking] def widen(existing: StructType, incoming: StructType): StructType = {
    def wider(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (d1: DecimalType, d2: DecimalType) =>
        val scale = math.max(d1.scale, d2.scale)
        val digits = math.max(d1.precision - d1.scale, d2.precision - d2.scale)
        DecimalType(math.min(digits + scale, DecimalType.MAX_PRECISION), scale)
      case (IntegerType, LongType) | (LongType, IntegerType) => LongType
      case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
      case (i, DoubleType) if Seq(IntegerType, LongType, FloatType).contains(i) => DoubleType
      case (DoubleType, i) if Seq(IntegerType, LongType, FloatType).contains(i) => DoubleType
      case _ => a // incompatible: keep target type, cast on write (ref keeps target too)
    }
    StructType(existing.map { f =>
      incoming.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(in) => f.copy(dataType = wider(f.dataType, in.dataType))
        case None => f
      }
    })
  }

  /** Incremental upsert — ref `incremental_upsert` call at `:34`
    * (delete-matching-keys + insert): rows in `incoming` replace existing
    * rows with the same `uniqueKey`; everything else is preserved. A
    * driver-local, non-widening `incoming` commits as one numbered file
    * while fewer than [[TrackingTable.FoldAt]] exist; otherwise the table
    * is rewritten (see the class doc).
    */
  def upsert(incoming: DataFrame): Unit = mutate("upsert") { gen =>
    val live = root.schema(gen)
    val numbered = commits(gen)
    val widened = widen(live, incoming.schema)
    val in = conform(incoming, widened)
    val local = if (widened != live || numbered.size >= FoldAt) None
      else in.queryExecution.optimizedPlan match {
        case r: LocalRelation => Some(r.data)
        case _ => None
      }
    local match {
      case Some(rows) =>
        if (rows.nonEmpty)
          SchemaSidecar.writeFile(spark, new Path(gen), CommitFile.name(numbered.maxOption.getOrElse(0L) + 1),
            live, rows)
      case None =>
        val kept = conform(resolved(gen, live, numbered), widened)
          .join(in.select(col(uniqueKey)), Seq(uniqueKey), "left_anti")
        root.commitRows(kept.unionByName(in))
    }
  }

  /** Plain append (the reference's `insert into` S4 path — used for log
    * tables inside a single run where keys are fresh by construction).
    *
    * Fast path: when the existing schema already accommodates the
    * incoming rows, append new parquet files — O(incoming), the table is
    * never rewritten (the log table grows one row per pushed record
    * forever; rewriting it per run would be O(history) and fatal at
    * scale). A widening schema change falls back to the rewrite, and so
    * does an append to a table holding numbered commits: a plain file
    * counts as commit 0, so its rows would hide behind theirs.
    */
  def append(incoming: DataFrame): Unit = mutate("append") { gen =>
    val live = root.schema(gen)
    val numbered = commits(gen)
    val widened = widen(live, incoming.schema)
    if (widened == live && numbered.isEmpty)
      conform(incoming, widened).write.mode("append").parquet(gen)
    else
      root.commitRows(conform(resolved(gen, live, numbered), widened).unionByName(conform(incoming, widened)))
  }

  /** Project `df` onto `target`: matching columns (case-insensitive) are
    * cast to the target type, missing ones become typed NULLs.
    */
  private def conform(df: DataFrame, target: StructType): DataFrame =
    df.select(target.map(f =>
      (if (df.columns.exists(_.equalsIgnoreCase(f.name))) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType)).as(f.name)): _*)

  /** Data-identical rewrite into max(1, bytes/128MB) files. */
  def compact(): Unit = if (exists) mutate("compact") { gen =>
    val nFiles = math.max(1L, fs.getContentSummary(new Path(gen)).getLength / (128L << 20)).toInt
    root.commitRows(resolved(gen, root.schema(gen), commits(gen)).repartition(nFiles))
  }
}

/** The storage of [[TrackingTable]] and [[SnapshotTable]]: `path` is a
  * root of [[graft.util.IndexMaint]] generations, each a plain Parquet
  * directory with its schema sidecar. Writes run under the root's lease
  * ([[mutate]]); a whole-table write commits a new generation
  * ([[commitRows]]), so a crash leaves the previous one live. Reads take no
  * lease. A table in the earlier `<path>/data` layout is adopted on first
  * touch: copied into a generation, committed, and only then deleted.
  */
private[tracking] final class TableRoot(spark: SparkSession, path: String) {
  private val legacy = Paths.get(path, "data")

  /** The live generation; None while the table never committed one. */
  def live: Option[String] = IndexMaint.liveGenOpt(path)

  /** [[live]], adopting a table still in the `data/` layout first. */
  def current: Option[String] =
    if (live.isDefined || !Files.isDirectory(legacy)) live else mutate("adopt")(identity)

  /** Runs `f` on the live generation (None: no table yet) under the
    * root's lease, adopting a `data/` table first. `f` must not call
    * `mutate` again: leases never nest.
    */
  def mutate[A](op: String)(f: Option[String] => A): A = IndexMaint.withMutation(path, op) {
    val gen = live.orElse(if (Files.isDirectory(legacy)) Some(commit(adopt)) else None)
    Fs.deleteRecursively(legacy.toString) // adopted, now or before a crash
    f(gen)
  }

  private def adopt(stage: Path): Unit = {
    Fs.copyRecursively(legacy.toString, stage.toString)
    if (SchemaSidecar.read(spark, stage).isEmpty)
      SchemaSidecar.write(spark, stage, spark.read.parquet(stage.toString).schema)
  }

  def schema(gen: String): StructType = SchemaSidecar.read(spark, new Path(gen))
    .getOrElse(throw new IllegalStateException(s"$gen has no schema sidecar"))

  def read(gen: String): DataFrame = spark.read.schema(schema(gen)).parquet(gen)

  /** Commits what `write` stages as the live generation; returns its
    * path. Callers hold the lease ([[mutate]]).
    */
  private def commit(write: Path => Unit): String = {
    val stage = IndexMaint.newStageDir(path, "write")
    write(new Path(stage))
    IndexMaint.commitGeneration(path, stage)
  }

  /** `df` committed as the new live generation. */
  def commitRows(df: DataFrame): String = commit(SchemaSidecar.writeTable(df, _))

  /** A generation with no rows, holding only `schema`'s sidecar. */
  def commitEmpty(schema: StructType): String = commit(SchemaSidecar.write(spark, _, schema))
}

/** The schema sidecar of a tracking-layer table directory: a Parquet
  * summary file (`_common_metadata`) with a footer and no row groups,
  * whose key-value metadata holds the Spark schema the way Spark's own
  * part files do. Spark's scans skip `_`-prefixed files, and its schema
  * inference reads a summary file in preference to the part files, so a
  * plain `spark.read.parquet(dir)` still works on a table with no rows.
  * Reading it is one small driver-side file read: no Spark job. Its
  * writer, [[writeFile]], also writes a task table's commit files.
  */
private[tracking] object SchemaSidecar {
  private val Name = "_common_metadata"
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Writes `schema` as `dir`'s sidecar: a file with no rows. */
  def write(spark: SparkSession, dir: Path, schema: StructType): Unit =
    writeFile(spark, dir, Name, schema, Nil)

  /** Writes `rows` (laid out as `schema`) as the Parquet file `dir/name`
    * from the driver, with Spark's own row writer: no Spark job. The
    * file is staged as `dir/.name.tmp` (overwriting one a crash left)
    * and renamed in, so a crash never leaves a torn one under `name`.
    */
  def writeFile(spark: SparkSession, dir: Path, name: String, schema: StructType,
      rows: Iterable[InternalRow]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val staged = new Path(dir, s".$name.tmp")
    // the write support reads the schema and the session's Parquet
    // layout settings from its conf (an empty conf skips loading
    // Hadoop's default resources); the codec is the session's, as for
    // Spark's own writes
    val writeConf = new Configuration(false)
    val sql = SQLConf.get
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT, SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
        SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED, SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
      .foreach(e => writeConf.set(e.key, sql.getConfString(e.key, e.defaultValueString)))
    ParquetWriteSupport.setSchema(schema, writeConf)
    val codec = new ParquetOptions(Map.empty[String, String], sql).compressionCodecClassName
    Using.resource(new RowWriter(HadoopOutputFile.fromPath(staged, conf))
        .withConf(writeConf).withCompressionCodec(CompressionCodecName.fromConf(codec))
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()) { w =>
      rows.foreach(w.write)
    }
    require(dir.getFileSystem(conf).rename(staged, new Path(dir, name)),
      s"SchemaSidecar.writeFile: rename of $staged failed")
  }

  private final class RowWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override protected def self(): RowWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** `dir`'s schema, or None when it has no sidecar. */
  def read(spark: SparkSession, dir: Path): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir, Name)
    if (!p.getFileSystem(conf).exists(p)) None
    else {
      // options over the session's conf: the default ones load a fresh
      // Hadoop Configuration, which costs more than the read itself
      val meta = Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
        HadoopReadOptions.builder(conf).build()))(_.getFooter.getFileMetaData.getKeyValueMetaData)
      Some(DataType.fromJson(meta.get(SparkSchemaKey)).asInstanceOf[StructType])
    }
  }

  /** `df` as Parquet part files in `dir`, plus their sidecar. */
  def writeTable(df: DataFrame, dir: Path): Unit = {
    df.write.mode("overwrite").parquet(dir.toString)
    write(df.sparkSession, dir, df.schema)
  }
}

object TrackingTable {
  import graft.push.Schemas

  /** The number of commit files an upsert finds before it folds them
    * into a rewrite; a task table holds at most this many plus the
    * plain files of its last rewrite.
    */
  val FoldAt = 32

  /** The name of a driver commit file: `commit-<n>.parquet`. */
  private[tracking] object CommitFile {
    val regex = """^commit-(\d+)\.parquet$"""
    private val Pattern = regex.r
    def name(n: Long): String = f"commit-$n%010d.parquet"
    def unapply(fileName: String): Option[Long] = Pattern.findFirstMatchIn(fileName).map(_.group(1).toLong)
  }

  /** The four engine-owned tracking tables (FIXTURES.md §2). */
  def sfdcLoadTasks(spark: SparkSession, base: String) =
    new TrackingTable(spark, s"$base/sfdc_load_tasks", Schemas.sfdcLoadTasks, "job_id")
  def sfdcLoadTaskLogs(spark: SparkSession, base: String) =
    new TrackingTable(spark, s"$base/sfdc_load_task_logs", Schemas.sfdcLoadTaskLogs, "job_log_entry_id")
  def sfmcLoadTasks(spark: SparkSession, base: String) =
    new TrackingTable(spark, s"$base/sfmc_load_tasks", Schemas.sfmcLoadTasks, "job_id")
  def sfmcLoadTaskLogs(spark: SparkSession, base: String) =
    new TrackingTable(spark, s"$base/sfmc_load_task_logs", Schemas.sfmcLoadTaskLogs, "job_log_entry_id")
}
