package graft.tracking

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.AtomicSwap

/** dbt-snapshot materialization (SCD type 2, `check` strategy) — the
  * remaining dbt table-with-history surface next to the reference's
  * tracking tables (M2): each `snapshot(incoming, asOf)` run records row
  * history as validity intervals instead of overwriting.
  *
  * Semantics (dbt's check strategy):
  *  - a key never seen before opens an interval [asOf, null);
  *  - a key whose check columns differ from its current (open) row
  *    closes that row at asOf and opens a new interval;
  *  - an unchanged key is untouched;
  *  - a key absent from `incoming` keeps its open row (snapshots never
  *    delete — dbt's default without invalidate_hard_deletes).
  *
  * Plan shape: one full-outer join keyed on `keyCol` between the current
  * (open) rows and the incoming batch; closed history unions back
  * untouched. One shuffle per side of the join; history never
  * re-shuffles. Every run rewrites the whole table; at 100 TB it would be
  * partitioned so only key-ranges present in `incoming` rewrite, with
  * identical join/interval semantics.
  *
  * Change detection is null-safe equality (`<=>`) over `checkCols`, so a
  * NULL→value or value→NULL transition counts as a change, like dbt's
  * column-comparison predicate.
  */
final class SnapshotTable(
    spark: SparkSession,
    val path: String,
    val keyCol: String,
    val checkCols: Seq[String]) {

  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dataPath = new Path(path, "data")

  /** Restores the data left as backup by a swap that crashed between its
    * two renames, so a crash never reads as "no table yet".
    */
  def exists: Boolean = {
    AtomicSwap.recover(fs, dataPath)
    fs.exists(dataPath)
  }

  /** Schema from the sidecar [[SchemaSidecar]] writes with every
    * snapshot, so a read runs no Spark job; a table written before
    * sidecars existed is inferred from its footers.
    */
  def read(): DataFrame = {
    AtomicSwap.recover(fs, dataPath)
    SchemaSidecar.read(spark, dataPath).fold(spark.read)(s => spark.read.schema(s))
      .parquet(dataPath.toString)
  }

  /** Time travel — the point of keeping SCD2 history: the table exactly
    * as it stood at `ts` (rows whose interval covers it). A pure filter,
    * so at scale it rides the parquet scan; with the table partitioned
    * by valid_from ranges it becomes partition pruning.
    */
  def asOf(ts: Timestamp): DataFrame =
    read().filter(col("valid_from") <= lit(ts) &&
        (col("valid_to").isNull || col("valid_to") > lit(ts)))
      .drop("valid_from", "valid_to")

  /** Retention: drop CLOSED intervals that ended before `horizon`. Open
    * rows are never touched, so the current state is always intact —
    * only the depth of recoverable history shrinks (the SCD2 analogue
    * of VACUUM retention).
    */
  def pruneHistory(horizon: Timestamp): Unit = {
    if (!exists) return
    val kept = read().localCheckpoint()
      .filter(col("valid_to").isNull || col("valid_to") >= lit(horizon))
    atomicWrite(kept)
  }

  private def withValidity(df: DataFrame, from: Timestamp): DataFrame =
    df.withColumn("valid_from", lit(from).cast(TimestampType))
      .withColumn("valid_to", lit(null).cast(TimestampType))

  def snapshot(incoming0: DataFrame, asOf: Timestamp): Unit = {
    val incoming = incoming0.select((keyCol +: checkCols).map(col): _*)
    if (!exists) {
      atomicWrite(withValidity(incoming, asOf))
      return
    }
    val existing = read().localCheckpoint() // the plan below overwrites its own input
    val history = existing.filter(col("valid_to").isNotNull)
    val current = existing.filter(col("valid_to").isNull)

    val in = incoming.select(
      col(keyCol).as("__k") +: checkCols.map(c => col(c).as(s"__in_$c")): _*)
    val joined = current.join(in, col(keyCol) === col("__k"), "full_outer")
    val changed = checkCols
      .map(c => !(col(c) <=> col(s"__in_$c")))
      .reduce(_ || _)

    // current rows: keep as-is unless the incoming batch changed them
    val keptOrClosed = joined.filter(col(keyCol).isNotNull)
      .select(
        (col(keyCol) +: checkCols.map(col)) :+
          col("valid_from") :+
          when(col("__k").isNotNull && changed, lit(asOf).cast(TimestampType))
            .otherwise(col("valid_to")).as("valid_to"): _*)
    // incoming rows that open a new interval: brand-new keys, or keys
    // whose current row was just closed
    val opened = joined.filter(col("__k").isNotNull &&
        (col(keyCol).isNull || changed))
      .select(col("__k").as(keyCol) +: checkCols.map(c => col(s"__in_$c").as(c)): _*)

    atomicWrite(history
      .unionByName(keptOrClosed)
      .unionByName(withValidity(opened, asOf)))
  }

  /** The swap TrackingTable uses ([[AtomicSwap]]): the full result, with
    * its schema sidecar, lands before the live data is touched.
    */
  private def atomicWrite(df: DataFrame): Unit =
    AtomicSwap.swapIn(fs, dataPath)(SchemaSidecar.writeTable(df, _))
}
