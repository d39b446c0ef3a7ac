package graft.tracking

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * Storage is plain Parquet under `path`. Updates rewrite via a temp dir +
  * atomic rename — the Spark/Parquet analogue of the reference's
  * backup-rename dance (`:19-27`), since Parquet has no in-place update.
  * On a real deployment this class is the seam where Delta/Iceberg MERGE
  * slots in; the public API (`createIfMissing / upsert / updateJoin /
  * fullRefresh`) is storage-agnostic.
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

  /** Ref `:17-18`: first run creates the (empty-schema) table. A crash
    * between a previous swap's two renames leaves the live dir absent but
    * the backup present — restore it FIRST, or `exists` would be false and
    * a fresh empty table would shadow (and permanently strand) the backup.
    */
  def createIfMissing(): Unit = {
    graft.util.AtomicSwap.recover(fs, dataPath)
    if (!exists) {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      empty.write.mode("overwrite").parquet(dataPath.toString)
    }
  }

  def read(): DataFrame = {
    createIfMissing()
    spark.read.schema(currentSchema).parquet(dataPath.toString)
  }

  private def currentSchema: StructType =
    if (exists) spark.read.parquet(dataPath.toString).schema else schema

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
    graft.util.AtomicSwap.swapIn(fs, dataPath) { tmp =>
      df.write.mode("overwrite").parquet(tmp.toString)
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
