package graft.tracking

import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import graft.util.AtomicSwap

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
  * Storage layout, all under `path`:
  *  - `data/` holds the rows as plain Parquet part files, plus the schema
  *    sidecar `data/_common_metadata` ([[SchemaSidecar]]): a footer-only
  *    Parquet summary file carrying the table's schema, the way the
  *    reference declares each tracking table's columns up front
  *    (`sfdc_load_tasks.sql:7-17`). `read()` takes the schema from it, so
  *    neither create nor read runs a Spark job; a plain
  *    `spark.read.parquet` of `data/` infers the schema from it too, even
  *    while the table has no rows.
  *  - `.data.swap_tmp` / `.data.swap_old` are the staging and backup
  *    siblings of [[graft.util.AtomicSwap]], present only mid-write.
  *
  * Which paths rewrite: `upsert`, `updateJoin`, `compact` and a widening
  * `append` rewrite the whole table into the staging dir, sidecar
  * included, and swap it in with renames — the Spark/Parquet analogue of
  * the reference's backup-rename dance (`:19-27`), since Parquet has no
  * in-place update. So the sidecar always moves with the files it
  * describes. `createIfMissing` stages an empty dir holding only the
  * sidecar the same way. A non-widening `append` only adds part files;
  * the schema, hence the sidecar, stays. `fullRefresh` deletes the table
  * and creates it afresh. On a real deployment this class is the seam
  * where Delta/Iceberg MERGE slots in; the public API (`createIfMissing /
  * upsert / updateJoin / fullRefresh`) is storage-agnostic.
  *
  * Scale: upsert = `existing LEFT ANTI incoming UNION incoming` — one
  * shuffle on the key and a full rewrite, which suits the task tables
  * (one row per job). The log tables (one row per pushed record) only
  * take `append`, which writes new files unless the incoming batch
  * widens a column.
  */
final class TrackingTable(
    spark: SparkSession,
    val path: String,
    val schema: StructType,
    val uniqueKey: String) extends TrackingStore {

  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dataPath = new Path(path, "data")

  def exists: Boolean = fs.exists(dataPath)

  /** Ref `:17-18`: first run creates the (empty-schema) table. */
  def createIfMissing(): Unit = liveSchema()

  def read(): DataFrame = spark.read.schema(liveSchema()).parquet(dataPath.toString)

  /** The table's current schema, creating the table first if missing.
    * A crash between a previous swap's two renames leaves the live dir
    * absent but the backup present — restore it FIRST, or `exists` would
    * be false and a fresh empty table would shadow (and permanently
    * strand) the backup. Creating stages an empty dir plus the sidecar
    * and renames it in (a create that crashed before its rename leaves
    * only staging, which the next swap clears). A table written before
    * sidecars existed gets one, from its footers, on first touch.
    */
  private def liveSchema(): StructType = {
    AtomicSwap.recover(fs, dataPath)
    if (!exists) AtomicSwap.swapIn(fs, dataPath)(tmp => SchemaSidecar.write(spark, tmp, schema))
    SchemaSidecar.read(spark, dataPath).getOrElse {
      val inferred = spark.read.parquet(dataPath.toString).schema
      SchemaSidecar.write(spark, dataPath, inferred)
      inferred
    }
  }

  /** Ref `:19-27`: explicit rebuild (the `drop-omnata-task-tables` branch). */
  def fullRefresh(): Unit = {
    if (fs.exists(new Path(path))) fs.delete(new Path(path), true)
    createIfMissing()
  }

  /** Widen target types so incoming data fits — ref `:31-33`
    * (`expand_target_column_types`). String stays string (Spark strings
    * are unbounded); numeric widenings follow the standard lattice.
    */
  private[tracking] def widen(existing: StructType, incoming: StructType): StructType = {
    def wider(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (d1: DecimalType, d2: DecimalType) =>
        DecimalType(math.max(d1.precision, d2.precision), math.max(d1.scale, d2.scale))
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
    * rows with the same `uniqueKey`; everything else is preserved.
    */
  def upsert(incoming: DataFrame): Unit = {
    val existing = read()
    val widened = widen(existing.schema, incoming.schema)
    val in = conform(incoming, widened)
    val kept = conform(existing, widened)
      .join(in.select(col(uniqueKey)), Seq(uniqueKey), "left_anti")
    atomicWrite(kept.unionByName(in))
  }

  /** Plain append (the reference's `insert into` S4 path — used for log
    * tables inside a single run where keys are fresh by construction).
    *
    * Fast path: when the existing schema already accommodates the
    * incoming rows, append new parquet files — O(incoming), the table is
    * never rewritten (the log table grows one row per pushed record
    * forever; rewriting it per run would be O(history) and fatal at
    * scale). Only a widening schema change falls back to the rewrite.
    */
  def append(incoming: DataFrame): Unit = {
    val existing = read()
    val widened = widen(existing.schema, incoming.schema)
    if (widened == existing.schema)
      conform(incoming, widened).write.mode("append").parquet(dataPath.toString)
    else
      atomicWrite(conform(existing, widened).unionByName(conform(incoming, widened)))
  }

  /** Project `df` onto `target`: matching columns (case-insensitive) are
    * cast to the target type, missing ones become typed NULLs.
    */
  private def conform(df: DataFrame, target: StructType): DataFrame =
    df.select(target.map(f =>
      (if (df.columns.exists(_.equalsIgnoreCase(f.name))) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType)).as(f.name)): _*)

  /** Update-with-join (A6) — ref `salesforce_bulk_load.sql:52-56`:
    * `update t set col = f(u.*) from u where t.key = u.key`. `updates`
    * must carry `uniqueKey` plus the columns to stamp; unmatched target
    * rows keep their values.
    */
  def updateJoin(updates: DataFrame, setCols: Seq[String]): Unit = {
    val existing = read()
    val u = updates.select((uniqueKey +: setCols).map(col): _*)
      .withColumnsRenamed(setCols.map(c => c -> s"__new_$c").toMap)
    val updated = existing.join(u, Seq(uniqueKey), "left")
      .select(existing.columns.map { c =>
        if (setCols.contains(c)) coalesce(col(s"__new_$c"), col(c)).as(c) else col(c)
      }.toSeq: _*)
    atomicWrite(updated)
  }

  /** Data-identical rewrite into max(1, bytes/128MB) files. */
  def compact(): Unit = {
    if (!exists) return
    val bytes = fs.getContentSummary(dataPath).getLength
    val nFiles = math.max(1L, bytes / (128L << 20)).toInt
    atomicWrite(read().repartition(nFiles))
  }

  /** Rewrite via the shared scratch-dir + rename swap
    * ([[graft.util.AtomicSwap]]; the Parquet analogue of the reference's
    * backup-rename at `:19-27`). The plan is materialized to the scratch
    * dir BEFORE the old data is touched, so a failed write never
    * corrupts the table, and a crash between the swap's renames is
    * repaired on the next read/write cycle.
    */
  private def atomicWrite(df: DataFrame): Unit =
    AtomicSwap.swapIn(fs, dataPath)(SchemaSidecar.writeTable(df, _))
}

/** The schema sidecar of a tracking-layer table directory: a Parquet
  * summary file (`_common_metadata`) with a footer and no row groups,
  * whose key-value metadata holds the Spark schema the way Spark's own
  * part files do. Spark's scans skip `_`-prefixed files, and its schema
  * inference reads a summary file in preference to the part files, so a
  * plain `spark.read.parquet(dir)` still works on a table with no rows.
  * Reading it is one small driver-side file read: no Spark job.
  */
private[tracking] object SchemaSidecar {
  private val Name = "_common_metadata"
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Writes `schema` as `dir`'s sidecar, through a rename so a crash
    * never leaves a torn one.
    */
  def write(spark: SparkSession, dir: Path, schema: StructType): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val staged = new Path(dir, s".$Name.tmp")
    val w = new ParquetFileWriter(HadoopOutputFile.fromPath(staged, conf),
      new SparkToParquetSchemaConverter(SQLConf.get).convert(schema),
      ParquetFileWriter.Mode.OVERWRITE, ParquetWriter.DEFAULT_BLOCK_SIZE, 0, null,
      ParquetProperties.builder().build())
    w.start()
    w.end(Map(SparkSchemaKey -> schema.json).asJava)
    val fs = dir.getFileSystem(conf)
    require(fs.rename(staged, new Path(dir, Name)), s"SchemaSidecar.write: rename into $dir failed")
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
