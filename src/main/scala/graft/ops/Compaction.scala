package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import graft.util.AtomicSwap

/** Small-file compaction — the lake-maintenance sink every 100 TB
  * deployment runs on a schedule. Streaming ingests, incremental pushes
  * and per-batch appends (this repo's own TrackingTable/FileStreams
  * outputs included) accumulate thousands of KB-sized parquet files per
  * partition; at scale that murders scan planning (one task per tiny
  * file, listing/NameNode pressure, per-file row-group overhead).
  * Compaction rewrites a directory into ~`targetBytes` files and swaps
  * the result in with [[graft.util.AtomicSwap]], so the directory stays
  * a plain Parquet (or Hive-layout) directory any reader can scan.
  *
  * Design:
  *  - file PLANNING is driver-side metadata work: the input listing
  *    (path, bytes) fixes the output file count — `ceil(total /
  *    targetBytes)` — without reading a data byte;
  *  - the rewrite is one `repartition(n)` pass (row-group-preserving
  *    file concat would be cheaper but parquet offers no safe one; one
  *    read+write per maintenance window is the accepted industry cost);
  *  - scratch/backup dirs are dot-prefixed siblings, invisible to
  *    Spark's listings, so concurrent readers of the parent table never
  *    see in-flight rewrite state as data or as a phantom partition;
  *  - a crash between the swap's two renames is repaired by
  *    `AtomicSwap.recover` on the next run — the stranded backup is
  *    restored, not silently skipped;
  *  - content is preserved exactly — compaction only repacks rows into
  *    fewer files (spec-checked by full multiset equality).
  *
  * Hadoop FS throughout (not NIO): the same code runs against HDFS/S3A
  * in a real deployment, where the rename-based swap is exactly the
  * contract object-store committers emulate.
  */
object Compaction {

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isData(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  private def dataFiles(fs: FileSystem, dir: Path): Seq[(Path, Long)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && isData(s.getPath.getName))
      .map(s => (s.getPath, s.getLen))

  /** Rewrite `dir`'s parquet files into `ceil(totalBytes/targetBytes)`
    * files (if it currently has ≥ `minFiles`; also repairs a
    * crash-stranded swap first). Returns (files_before, files_after,
    * bytes_total); a skipped dir returns files_after == files_before.
    *
    * `zorderBy` (OPTIMIZE ZORDER): when set, the rewrite
    * range-partitions and sorts the output by the generalized z-value
    * over the named columns ([[Layout.withZValue]]), so the repack
    * RESTORES multi-dimensional file pruning instead of hash-scattering
    * it — streaming-ingest fragments arrive unclustered, and a plain
    * repack would freeze that scatter into the compacted files. Still
    * one full-width read+write pass: the z dimensions add a
    * column-pruned stats scan (1-row aggregate + per-string-dim rank
    * dictionaries — catalog metadata at 100 TB) and a range exchange of
    * the rows being rewritten anyway; CompactionSpec asserts the pre/
    * post `input_file_name()` footprints physically.
    */
  def compactDir(spark: SparkSession, dir: String, targetBytes: Long,
      minFiles: Int = 2, zorderBy: Seq[String] = Nil): (Int, Int, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    // Hadoop Path normalizes trailing slashes, so the scratch siblings
    // are true siblings, never children of the dir being swapped
    val p = new Path(dir)
    val fs = fsFor(spark, p)
    AtomicSwap.recover(fs, p)
    val files = dataFiles(fs, p)
    val bytes = files.map(_._2).sum
    if (files.size < minFiles) return (files.size, files.size, bytes)
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    AtomicSwap.swapIn(fs, p) { tmp =>
      val df = spark.read.parquet(p.toString)
      val out =
        if (zorderBy.isEmpty) df.repartition(nOut)
        else Layout.withZValue(df, zorderBy)
          .repartitionByRange(nOut, org.apache.spark.sql.functions.col("__z"))
          .sortWithinPartitions("__z")
          // restore the input column ORDER too (the dictionary join
          // moved string dims to the front): a maintenance rewrite must
          // not change the table's schema in any way
          .select(df.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      out.write.mode("overwrite").parquet(tmp.toString)
    }
    (files.size, dataFiles(fs, p).size, bytes)
  }

  /** Compact every leaf `k=v` partition directory of a Hive-layout
    * table independently (multi-level layouts descend to the leaves);
    * returns (relative partition path, files_before, files_after) per
    * visited leaf. Dot/underscore-prefixed siblings (metadata, in-flight
    * swap scratch) are never treated as partitions.
    */
  def compactTable(spark: SparkSession, dir: String, targetBytes: Long,
      minFiles: Int = 2, zorderBy: Seq[String] = Nil): Seq[(String, Int, Int)] = {
    val root = new Path(dir)
    val fs = fsFor(spark, root)
    def partitionDirs(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
          !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_"))
        .map(_.getPath).sortBy(_.getName)
    def leaves(p: Path): Seq[Path] = {
      val subs = partitionDirs(p)
      if (subs.isEmpty) Seq(p) else subs.flatMap(leaves)
    }
    val rootUri = root.toUri.getPath
    partitionDirs(root).flatMap(leaves).map { leaf =>
      val (before, after, _) = compactDir(spark, leaf.toString, targetBytes, minFiles, zorderBy)
      val rel = leaf.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      (rel, before, after)
    }
  }
}
