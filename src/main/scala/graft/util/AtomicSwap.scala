package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Rewrite-and-swap discipline for plain directory-shaped tables (used
  * by `ops.Compaction`, whose directories must stay plain): materialize
  * the new contents to a scratch sibling FIRST, then rename the live
  * directory aside and the scratch in. A failed write never touches the
  * live data; the only non-atomic exposure is the instant between the
  * two renames, which [[recover]] closes for crashed processes.
  *
  * Scratch and backup siblings are DOT-prefixed: Spark's file listing
  * and partition discovery ignore `.`/`_`-prefixed paths, so concurrent
  * readers of a PARENT directory never ingest in-flight rewrite state,
  * and a Hive-layout `k=v` partition being swapped cannot masquerade as
  * a second partition.
  */
object AtomicSwap {

  def tmpFor(dir: Path): Path = new Path(dir.getParent, s".${dir.getName}.swap_tmp")
  def backupFor(dir: Path): Path = new Path(dir.getParent, s".${dir.getName}.swap_old")

  /** If a previous swap crashed between its two renames (live dir gone,
    * backup present), restore the backup. Returns true if it restored.
    */
  def recover(fs: FileSystem, dir: Path): Boolean = {
    val backup = backupFor(dir)
    if (!fs.exists(dir) && fs.exists(backup)) {
      require(fs.rename(backup, dir), s"AtomicSwap.recover: rename($backup, $dir) failed")
      true
    } else false
  }

  /** Replace `dir` with whatever `write` materializes into the scratch
    * path. `dir` may not exist yet (first write).
    */
  def swapIn(fs: FileSystem, dir: Path)(write: Path => Unit): Unit = {
    val tmp = tmpFor(dir)
    val backup = backupFor(dir)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(backup)) fs.delete(backup, true)
    write(tmp)
    // Hadoop FileSystem.rename reports failure by returning false (it only
    // throws for some error classes); an unchecked false here would leave the
    // live dir in place and then nest tmp INSIDE it on the second rename.
    if (fs.exists(dir))
      require(fs.rename(dir, backup), s"AtomicSwap.swapIn: rename($dir, $backup) failed")
    require(fs.rename(tmp, dir), s"AtomicSwap.swapIn: rename($tmp, $dir) failed")
    fs.delete(backup, true)
  }
}
