package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.ops.Pq

/** Streaming PQ ingest WITH codebook maintenance — [[IvfIngest]]'s
  * contract on the byte-prune index, in either encoding: every arriving
  * micro-batch is (1) screened against the CURRENT codes by the
  * caller's `screen` — [[Pq.screenBatchAdc]] on a flat index,
  * [[Pq.screenBatchResidual]] (read pruning × byte pruning) on a
  * residual one, both fully distributed with no driver LUTs — (2)
  * encoded against the frozen quantizer and appended O(Δ), and — every
  * `checkEvery`-th applied batch — (3) the m-row quantization-error
  * drift check runs; when [[Pq.PqDriftReport.drifted]] fires,
  * [[Pq.rebalance]] retrains the quantizer (on a residual index: coarse
  * cells, then residual codebooks) from a bounded sample of current
  * contents and re-encodes every vector in one scan behind an atomic
  * generation commit, so later batches screen against codes that
  * actually fit the drifted distribution.
  *
  * Replay safety and amortization follow [[IvfIngest]] exactly: the
  * screen result lands in a `batch_id=<id>` partition in overwrite
  * mode, the append goes through [[Pq.appendBatchIdempotent]] (data +
  * token commit in ONE atomic segment rename — no replay window), the
  * drift cadence counts DURABLE applied tokens (restart-proof), and
  * the O(index) drift scan is amortized behind `checkEvery`.
  */
object PqIngest {

  /** Per-micro-batch maintenance telemetry ([[IvfIngest.BatchReport]]
    * shape; `meanD2` is NaN on unchecked batches; a replayed batch's
    * `screenedPairs`/`appended` are UNKNOWN and reported as -1).
    */
  final case class BatchReport(batchId: Long, screenedPairs: Long,
      appended: Long, meanD2: Double, checked: Boolean, drifted: Boolean,
      rebalanced: Boolean, replayed: Boolean)

  /** `screen(index, batch)` ranks one pinned micro-batch against the
    * index's current codes — the only encoding-specific step.
    */
  def ingestStream(spark: SparkSession, srcDir: String, index0: Pq.PqIndex,
      screen: (Pq.PqIndex, DataFrame) => DataFrame, sinkDir: String,
      checkEvery: Int = 4, compactEvery: Int = 0,
      mergePolicy: Option[graft.ops.MergePolicy] = None): Seq[BatchReport] = {
    require(checkEvery >= 1, s"checkEvery must be >= 1, got $checkEvery")
    require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
    val schema = spark.read.parquet(srcDir).schema
    var index = index0
    val reports = scala.collection.mutable.ArrayBuffer.empty[BatchReport]
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val token = s"ingest:$id"
        // ONE durable token read per batch ([[IvfIngest]] contract).
        val applied0 = Pq.appliedTokens(index)
        // Replay detection FIRST (the [[IvfIngest]] contract): once the
        // token is applied the batch is inside the index, so a re-screen
        // would self-match every vector at d2≈0 and overwrite the
        // original sink partition with polluted rows — skip everything,
        // the original output is already on disk.
        if (applied0.contains(token)) {
          reports += BatchReport(id, -1L, -1L, Double.NaN,
            checked = false, drifted = false, rebalanced = false,
            replayed = true)
        } else {
          val pinned = batch.localCheckpoint()
          val screened = screen(index, pinned).localCheckpoint()
          screened.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$id")
          val fresh = Pq.appendBatchIdempotent(index, pinned, token = token)
          // durable cadence over THIS STREAM's tokens only (`ingest:`
          // prefix) — other producers on the same index must not skew
          // the maintenance schedule; one token read serves all uses
          val streamApplied = applied0.count(_.startsWith("ingest:")) +
            (if (fresh) 1 else 0)
          val check = fresh && streamApplied % checkEvery == 0
          val dr = if (check) Some(Pq.pqDriftStats(spark, index)) else None
          val fire = dr.exists(_.drifted())
          if (fire) index = Pq.rebalance(spark, index)
          // segment hygiene ([[IvfIngest]] contract): bounded file
          // counts however long the stream runs; a rebalance already
          // re-lands everything, so its batch skips compaction
          // maintenance only on a FRESH batch ([[IvfIngest]] rationale)
          else if (fresh && compactEvery > 0 && streamApplied % compactEvery == 0)
            index = Pq.compactIndex(spark, index)
          // size-tiered alternative ([[IvfIngest]] rationale)
          else if (fresh)
            mergePolicy.foreach(p => Pq.mergeSegments(spark, index, p))
          reports += BatchReport(id, screened.count(), pinned.count(),
            dr.map(_.meanD2Now).getOrElse(Double.NaN),
            checked = check, drifted = fire, rebalanced = fire,
            replayed = false)
        }
        ()
      }
      .option("checkpointLocation", s"$sinkDir.ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    reports.toSeq
  }
}
