package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import graft.ops.{MergePolicy, MergeReport}
import graft.util.{Fs, IndexMaint}

/** Streaming ingest WITH index maintenance — the one loop that keeps a
  * persisted index (IVF, PQ or BM25 postings) current from a staged
  * file stream, one file per trigger, without rebuilds and without ever
  * serving a half-applied batch. Each micro-batch runs the protocol once:
  *
  *  1. ONE durable applied-token read: replay detection and the
  *     maintenance cadence share it (`appliedTokens` lists segment
  *     directories — reading it thrice per trigger tripled that IO).
  *  1. Replay detection FIRST. foreachBatch under a streaming checkpoint
  *     is at-least-once: after a crash the last uncommitted batch
  *     re-runs. Once its token is applied the batch is inside the index,
  *     so a re-screen would let every vector match ITSELF at rank 1 and
  *     overwrite the original (correct) sink partition, and a replayed
  *     delete would re-tombstone ids a later batch legitimately
  *     re-inserted. The batch is skipped whole; its output is on disk.
  *  1. The `localCheckpoint` pin: the screen, the row counts and the
  *     apply share one computation of the batch.
  *  1. The optional [[Screen]] against the CURRENT index, written INTO
  *     the batch's own `batch_id=<id>` partition in overwrite mode (a
  *     replay overwrites its own output, never duplicates it).
  *  1. The family's token-guarded apply: data + token commit in ONE
  *     atomic segment rename, so a crash either leaves a never-committed
  *     stage (the replay applies once) or the committed token (the
  *     replay no-ops). A pure-delete CDC batch still commits a zero-row
  *     segment, so its token is durable.
  *  1. The durable cadence: applied tokens with THIS stream's prefix,
  *     counted in the index, not in memory — after a crash the (N+1)-th
  *     applied batch is still the (N+1)-th, and batch appends or other
  *     producers landing tokens on the same index cannot skip or
  *     double-fire the schedule.
  *  1. Maintenance, only on a FRESH batch: a replayed or concurrently
  *     applied token landed no rows here, so a compaction (a full
  *     rewrite) or even a merge's lease and segment-size walk would
  *     charge real IO to a batch that changed nothing. Every
  *     `checkEvery`-th applied batch runs the family's drift check — the
  *     one O(index) step, so it is AMORTIZED: O(Δ + index/checkEvery)
  *     per batch — and rebalances in place when it fires (later batches
  *     screen against the repaired quantizer; tombstones are reclaimed
  *     with it). Else every `compactEvery`-th applied batch re-lands the
  *     accrued segments, so per-cell file opens stay bounded however
  *     long the stream runs (a rebalance already re-lands everything).
  *     Else `mergePolicy` runs a size-tiered merge after every applied
  *     batch: it self-paces (no-op until a tier fills), so bytes
  *     rewritten stay O(N log B) over a B-batch stream instead of
  *     compactEvery's (B/c)·N — the plan a long-lived CDC stream runs —
  *     and each merged segment re-lands minus its own tombstone pairs.
  */
object Ingest {

  /** What differs by index family, one value per family and apply verb,
    * defined beside the verbs: [[graft.ops.Ivf.appendIngest]],
    * [[graft.ops.Ivf.cdcIngest]], [[graft.ops.Pq.appendIngest]],
    * [[graft.ops.LexIndex.docIngest]]. `prefix` names the stream's
    * tokens (`ingest`, `cdc`, `docs` — durable on disk, never renamed);
    * `path` locates the index root whose live generation holds them.
    * `drift` returns (drifted, fit statistic); it is None for a family
    * with no trained quantizer, whose `rebalance` is then never called.
    */
  final case class Family[I](
      prefix: String,
      path: I => String,
      apply: (I, DataFrame, String) => Boolean,
      drift: Option[(SparkSession, I) => (Boolean, Double)],
      rebalance: (SparkSession, I) => I,
      compact: (SparkSession, I) => I,
      merge: (SparkSession, I, MergePolicy) => Option[MergeReport])

  /** Screen-at-ingest: `rank(index, batch)` ranks one pinned micro-batch
    * against the index's current contents (near-dup / retrieval check);
    * its rows land under `sinkDir/batch_id=<id>/`.
    */
  final case class Screen[I](rank: (I, DataFrame) => DataFrame, sinkDir: String)

  /** One row of telemetry per micro-batch. `screenedPairs` counts the
    * rows the screen wrote (0 without a screen); `inserted`/`upserted`/
    * `deleted` count the batch's rows per `op` (a batch without an `op`
    * column is all inserts). On a `replayed` batch every count is
    * UNKNOWN and reported as -1, not 0: the original run's counts are
    * not recoverable from the committed segment, though its sink
    * partition holds the real rows. `drift` is the family's fit
    * statistic (IVF: mean cosine to the own centroid; PQ: mean squared
    * quantization error), NaN unless the drift check ran (`checked`).
    * `maintBytes` is what this batch's maintenance physically rewrote
    * (the full generation for a rebalance or compaction, the merged
    * group's input bytes for a tiered merge, 0 when none fired) — the
    * dial that shows whether the stream's write amplification is bounded.
    */
  final case class BatchReport(batchId: Long, screenedPairs: Long,
      inserted: Long, upserted: Long, deleted: Long, drift: Double,
      checked: Boolean, rebalanced: Boolean, compacted: Boolean,
      replayed: Boolean, maintBytes: Long)

  /** Drain `srcDir` through the loop against the index `index0` and
    * return the per-batch telemetry. The streaming checkpoint is
    * `checkpointDir` when set, else `<sinkDir>.ckpt` with a screen, else
    * `<srcDir>.ckpt`.
    */
  def drain[I](spark: SparkSession, srcDir: String, index0: I,
      family: Family[I], screen: Option[Screen[I]] = None,
      checkpointDir: String = "", checkEvery: Int = 4, compactEvery: Int = 0,
      mergePolicy: Option[MergePolicy] = None): Seq[BatchReport] = {
    require(checkEvery >= 1, s"checkEvery must be >= 1, got $checkEvery")
    require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
    val ckpt =
      if (checkpointDir.nonEmpty) checkpointDir
      else screen.fold(s"$srcDir.ckpt")(s => s"${s.sinkDir}.ckpt")
    val prefix = s"${family.prefix}:"
    val schema = spark.read.parquet(srcDir).schema
    // foreachBatch closes over the MUTABLE handle: a rebalance or
    // compaction commits a new generation, and later batches pick it up
    // through this reference
    var index = index0
    def genBytes: Long = Fs.treeBytes(IndexMaint.liveGen(family.path(index)))
    val reports = scala.collection.mutable.ArrayBuffer.empty[BatchReport]
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val token = prefix + id
        val applied0 = IndexMaint.appliedTokens(IndexMaint.liveGen(family.path(index)))
        if (applied0.contains(token)) {
          reports += BatchReport(id, -1L, -1L, -1L, -1L, Double.NaN,
            checked = false, rebalanced = false, compacted = false,
            replayed = true, maintBytes = 0L)
        } else {
          val pinned = batch.localCheckpoint()
          val screenedPairs = screen.fold(0L) { s =>
            val screened = s.rank(index, pinned).localCheckpoint()
            screened.write.mode("overwrite").parquet(s"${s.sinkDir}/batch_id=$id")
            screened.count()
          }
          val byOp =
            if (pinned.columns.contains("op"))
              pinned.groupBy(col("op")).count()
                .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            else Map("insert" -> pinned.count())
          val fresh = family.apply(index, pinned, token)
          val streamApplied = applied0.count(_.startsWith(prefix)) +
            (if (fresh) 1 else 0)
          val dr = family.drift.filter(_ => fresh && streamApplied % checkEvery == 0)
            .map(_(spark, index))
          val drifted = dr.exists(_._1)
          val compact = fresh && !drifted && compactEvery > 0 &&
            streamApplied % compactEvery == 0
          var maintBytes = 0L
          if (drifted) {
            index = family.rebalance(spark, index)
            maintBytes = genBytes
          } else if (compact) {
            index = family.compact(spark, index)
            maintBytes = genBytes
          } else if (fresh)
            mergePolicy.foreach(p => family.merge(spark, index, p)
              .foreach(r => maintBytes = r.bytesIn))
          reports += BatchReport(id, screenedPairs,
            byOp.getOrElse("insert", 0L), byOp.getOrElse("upsert", 0L),
            byOp.getOrElse("delete", 0L), dr.fold(Double.NaN)(_._2),
            checked = dr.isDefined,
            rebalanced = drifted, compacted = compact, replayed = false,
            maintBytes = maintBytes)
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    reports.toSeq
  }
}
