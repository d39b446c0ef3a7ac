package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.Ingest
import graft.util.{Fs, IndexMaint}

/** Size-tiered merge policy (the Lucene TieredMergePolicy / Cassandra
  * STCS shape): a segment's tier is `floor(log_factor(bytes))`, and a
  * merge fires only when one tier accumulates `minMerge` segments —
  * merging coalesces SAME-SIZED small segments and leaves big ones
  * untouched, so over a stream of B appended batches the total bytes
  * rewritten are O(N · log_factor B) instead of the (B/c)·N a
  * full-rewrite-every-c-batches cadence pays. With `minMerge >= factor`
  * (the default) a merge's output always lands in a HIGHER tier than
  * its inputs, so no byte is rewritten twice within one tier — the
  * amortization guarantee; a smaller `minMerge` trades write
  * amplification for lower file counts. `maxMerge` bounds one merge's
  * IO (the smallest `maxMerge` of an over-full tier go first).
  */
final case class MergePolicy(factor: Long = 8, minMerge: Int = 8,
    maxMerge: Int = 32) {
  require(factor >= 2, s"factor must be >= 2, got $factor")
  require(minMerge >= 2, s"minMerge must be >= 2, got $minMerge")
  require(maxMerge >= minMerge,
    s"maxMerge ($maxMerge) must be >= minMerge ($minMerge)")
  /** log_factor size tier; 0 for empty/1-byte segments. */
  def tierOf(bytes: Long): Int =
    (math.log(math.max(bytes, 1L).toDouble) / math.log(factor.toDouble)).toInt
}

/** What one tiered merge did: the tier that fired, the segment names it
  * coalesced, the segment they re-landed as (None when every merged row
  * was tombstoned — the group was pure reclamation), the input bytes
  * (= the bytes this merge rewrote), and the tombstone pairs physically
  * reclaimed with it.
  */
final case class MergeReport(tier: Int, merged: Seq[String],
    newSeg: Option[String], bytesIn: Long, pairsReclaimed: Int)

/** The lifecycle verb surface of a persisted index family, typed by the
  * family's [[Handle]] ([[Ivf.IvfIndex]], [[Pq.PqIndex]], or the index
  * path itself for [[LexIndex]]) — ONE implementation of every verb
  * (append / upsert / CDC / deleteIds / compact / deleteWhere / merge /
  * pin / export / fsck) that [[Ivf]], [[Pq]] and [[LexIndex]] each used
  * to carry as near-parallel copies. Each verb applies the reference's
  * tracking-table contract (delete the matching keys, then insert —
  * `tracking_table_materialization.sql:34`) to one family. The protocol
  * invariants live HERE, once, so a fix cannot reach one family and
  * miss the others (the drift that motivated [[graft.util.IndexMaint]]
  * for the commit layer, lifted to the verb layer):
  *
  *  - token check FIRST ([[IndexMaint.tokenGuardedSegment]]): a replay
  *    is a structural no-op — in particular a replayed delete cannot
  *    re-tombstone ids a later batch legitimately re-inserted;
  *  - batch validation BEFORE any durable write: a refused batch
  *    leaves the index untouched, never half-applied;
  *  - tombstones land BEFORE the segment commit: the only torn crash
  *    state (old rows hidden, new not yet visible) is healed by the
  *    at-least-once retry, because the token only becomes visible with
  *    the segment commit;
  *  - compaction/deleteWhere: NULL-safe survivor predicate
  *    (`not(coalesce(p, false))` — a NULL metadata cell must not
  *    destroy a row), emptiness refused before any staging, the
  *    duplicate-id invariant checked on the fresh stage, applied
  *    tokens carried verbatim, one atomic generation commit.
  *
  * A family provides only what genuinely differs: the path a handle
  * names and the handle of a committed generation, how a batch encodes
  * into a staged segment, what validation its encode needs, which
  * sidecars a delete must adjust, a compaction must rewrite, a pin must
  * record and an export must re-land.
  */
trait IndexFamily {

  /** What a caller holds to name one index of this family. A type
    * member, not a type parameter: the handle class is declared inside
    * the family object, and `object Ivf extends IndexFamily[Ivf.IvfIndex]`
    * is an illegal cyclic reference.
    */
  type Handle

  /** The index root `index` names. */
  protected def pathOf(index: Handle): String

  /** The handle of generation `gen` of the index at `path` — what a
    * verb that commits a new generation returns (the vector families
    * re-read their quantizer sidecars from it).
    */
  protected def indexAt(path: String, gen: String): Handle

  /** The id column the tombstone/upsert machinery keys on. */
  protected def idCol: String = "vec_id"

  /** Human label for CDC verb errors (kept per-family so existing
    * diagnostics and specs are unchanged).
    */
  protected def cdcContext(token: String): String

  /** Re-encode `batch` against the LIVE generation's sidecars (frozen
    * quantizer/codebooks — a stale handle must not commit codes from a
    * superseded generation) and write it into `stage` as one staged
    * segment, including any per-segment sidecars that must commit
    * atomically WITH the data.
    */
  protected def encodeToStage(gen: String, batch: DataFrame, stage: String): Unit

  /** The columns a mutation actually encodes, or None for all — applied
    * BEFORE the mutation pins the batch, so a wide producer frame
    * (raw HTML, metadata blobs next to the encoded columns) does not
    * materialize its extra columns into the checkpoint.
    */
  protected def mutationColumns: Option[Seq[String]] = None

  private def projected(batch: DataFrame, extra: Seq[String]): DataFrame =
    mutationColumns.map(cs => batch.select((cs ++ extra).map(col): _*))
      .getOrElse(batch)

  /** Validate an incoming add-batch BEFORE any durable write and
    * return the frame the encode should read (pinned if validation
    * already paid an action over it). Default: no validation, no pin.
    */
  protected def validateAndPin(batch: DataFrame, verb: String,
      token: String): DataFrame = batch

  /** Family hook after tombstones land under the lease (e.g. the
    * lexical corpus-stats adjustment). Default: nothing.
    */
  protected def afterTombstones(spark: SparkSession, gen: String): Unit = ()

  /** Extra manifest entries a pin of generation `gen` records (the
    * lexical removed-stats adjustment). Default: none.
    */
  protected def pinExtra(gen: String): Map[String, String] = Map.empty

  /** Re-land into an export's staged generation the root sidecars whose
    * live value advances past pin time. Default: nothing — every root
    * sidecar is immutable within a generation.
    */
  protected def exportFixup: (IndexMaint.Snapshot, String) => Unit = (_, _) => ()

  // ---- appends, upserts, CDC, deletes ----------------------------------------

  /** Tokenless O(Δ) append: encode `batch` against the LIVE
    * generation's sidecars and commit it as an anonymous segment by one
    * atomic rename — existing data files are never rewritten. Callers
    * that can be replayed use [[appendBatchIdempotent]].
    */
  final def appendBatch(index: Handle, batch: DataFrame): Unit = {
    val path = pathOf(index)
    IndexMaint.withMutation(path, op = "append") {
      val gen = IndexMaint.liveGen(path)
      val stage = IndexMaint.newStageDir(path, "append")
      encodeToStage(gen, batch, stage)
      IndexMaint.commitSegmentAnon(gen, stage)
    }
  }

  /** [[appendBatch]] guarded by a per-batch token, so an at-least-once
    * replay (a streaming checkpoint replays its last uncommitted batch)
    * does not re-append: an applied `token` makes the call a no-op that
    * returns false. The encoded batch and its token commit by ONE atomic
    * segment rename ([[IndexMaint.commitSegment]]), so there is no
    * applied-but-unrecorded state; rebalances and compactions carry
    * applied tokens into the new generation. Disjoint-ids contract: an
    * existing id belongs on [[upsertBatchIdempotent]].
    */
  final def appendBatchIdempotent(index: Handle, batch: DataFrame, token: String): Boolean =
    IndexMaint.tokenGuardedSegment(pathOf(index), token, "append") { (gen, stage) =>
      encodeToStage(gen, validateAndPin(projected(batch, Nil), "append", token),
        stage)
    }

  /** Delete-then-insert in ONE leased, token-guarded mutation (the
    * reference's `incremental_upsert` contract): the batch's ids are
    * tombstoned across the segments present NOW, then the batch commits
    * as a new segment that postdates the delete, so the new rows win
    * structurally. A replay no-ops entirely. The id list is driver
    * metadata (one batch's keys — the tombstone contract).
    */
  final def upsertBatchIdempotent(index: Handle, batch: DataFrame, token: String): Boolean =
    IndexMaint.tokenGuardedSegment(pathOf(index), token, "upsert") { (gen, stage) =>
      val pinned = validateAndPin(projected(batch, Nil).localCheckpoint(),
        "upsert", token)
      val ids = pinned.select(col(idCol)).distinct()
        .collect().map(_.getLong(0)).toIndexedSeq
      IndexMaint.addTombstones(gen, ids)
      afterTombstones(pinned.sparkSession, gen)
      encodeToStage(gen, pinned, stage)
    }

  /** Apply one CDC micro-batch — rows tagged by an `op` column with an
    * [[IndexMaint.CdcOps]] verb — as ONE leased, token-guarded
    * mutation: verbs and adds validated BEFORE the tombstone write,
    * delete+upsert ids tombstoned, insert+upsert rows committed as one
    * token-carrying segment. `insert` rows skip the tombstone write (the
    * producer asserts the id is new; an insert for an existing id is a
    * duplicate [[compactIndex]] refuses loudly). A PURE-DELETE batch
    * still commits a zero-row segment, so its token is durable and a
    * replayed delete cannot re-hide a later batch's re-insert. Unknown
    * verbs fail before any mutation.
    */
  final def applyCdcIdempotent(index: Handle, batch: DataFrame, token: String): Boolean =
    IndexMaint.tokenGuardedSegment(pathOf(index), token, "cdc") { (gen, stage) =>
      val pinned = projected(batch, Seq("op")).localCheckpoint()
      val doomed = IndexMaint.cdcDoomedIds(pinned, idCol, cdcContext(token))
      val adds = validateAndPin(IndexMaint.cdcAdds(pinned), "cdc", token)
      if (doomed.nonEmpty) {
        IndexMaint.addTombstones(gen, doomed)
        afterTombstones(pinned.sparkSession, gen)
      }
      encodeToStage(gen, adds, stage)
    }

  /** Logical takedown — the tracking-table delete-matching-keys analog:
    * tombstone `ids` across the segments present now (bounded metadata,
    * capped), honored immediately by every read through the family's
    * `indexData`; physical reclamation at the next compact/rebalance.
    * Replays are set-union no-ops; appending a deleted id afterwards
    * re-inserts it. Returns the distinct tombstoned-id count.
    */
  final def deleteIds(index: Handle, ids: Seq[Long]): Int = {
    val path = pathOf(index)
    IndexMaint.withMutation(path, op = "delete") {
      val gen = IndexMaint.liveGen(path)
      val n = IndexMaint.addTombstones(gen, ids)
      afterTombstones(SparkSession.active, gen)
      n
    }
  }

  /** Tokens of batches already folded into the index (bounded: one
    * committed segment or consolidated line per applied batch).
    */
  final def appliedTokens(index: Handle): Set[String] =
    IndexMaint.appliedTokens(IndexMaint.liveGen(pathOf(index)))

  // ---- compaction / retention rewrite ---------------------------------------

  /** Diagnostic label for compaction refusals/invariants (kept
    * per-family so existing messages and specs are unchanged).
    */
  protected def compactLabel(path: String): String

  /** What a survivor row represents in refusal text ("vector" /
    * "document").
    */
  protected def rowNoun: String = "vector"

  /** The live survivors relation WITH its `seg` column (tombstones
    * already subtracted through the family's one shared read).
    */
  protected def compactSurvivors(spark: SparkSession, path: String): DataFrame

  /** Write the survivor rows (seg dropped) of live generation `gen` as
    * the new `seg=base`, including any per-segment sidecars derived from
    * them.
    */
  protected def writeSurvivorStage(spark: SparkSession, survivors: DataFrame,
      segBase: String, gen: String): Unit

  /** Enforce the duplicate-id invariant over the fresh survivors —
    * default: row-per-id families count the just-written stage (never
    * a second old-generation scan). Posting-shaped families override
    * with a (id, seg)-level check on the pre-stage relation and flip
    * [[uniqueCheckReadsStage]] so the refusal fires BEFORE the survivor
    * rewrite is paid.
    */
  protected def requireUniqueSurvivors(spark: SparkSession,
      withSeg: DataFrame, segBase: String, path: String): Unit =
    IndexMaint.requireUniqueIds(
      spark.read.parquet(segBase).select(col(idCol)), idCol, compactLabel(path))

  /** Whether [[requireUniqueSurvivors]] reads the written stage (must
    * run after the write) or the pre-stage relation (runs before it,
    * failing fast without paying the rewrite).
    */
  protected def uniqueCheckReadsStage: Boolean = true

  /** Write the generation-level sidecars (quantizer/codebooks, drift
    * baselines — carried verbatim unless rows were dropped, the delete
    * exception that must recompute over survivors).
    */
  protected def writeGenSidecars(spark: SparkSession, stage: String,
      gen: String, hadDeletes: Boolean): Unit

  /** Family hook after a generation commit (cache eviction). */
  protected def afterCommit(path: String): Unit = ()

  /** Pin the survivor relation before staging — for families whose
    * survivor write pays several actions over it (postings + doc dir +
    * stats + the multi-row unique check). Row-per-id families pay ONE
    * action (the stage write) and read everything else from the fresh
    * stage, so they skip the materialization.
    */
  protected def pinSurvivors: Boolean = false

  /** Compact the live generation WITHOUT retraining: the accrued
    * per-batch segments re-land as ONE segment with tombstoned rows
    * physically dropped, the same encoding and sidecars, every applied
    * token carried verbatim, committed atomically — replay detection,
    * drift baselines and screen results are identical before and after,
    * with fewer files to open. `sweepKey` records a keyed rewrite in the
    * carried sweep set (the `*Cached` memos' proof it already ran).
    * Returns the handle of the committed generation.
    */
  final def compactIndex(spark: SparkSession, index: Handle,
      sweepKey: Option[String] = None): Handle =
    compactGeneration(spark, pathOf(index), None, sweepKey)

  /** Bulk delete by predicate — the retention/TTL path. A corpus-scale
    * removal would blow the bounded-metadata tombstone contract, so it
    * is ONE filtered compaction: survivors (a NULL predicate result
    * keeps the row) rewritten as a fresh generation, generation
    * baselines recomputed over them, prior tombstones subsumed, tokens
    * carried. The complement of [[deleteIds]]: tombstones for bounded
    * takedown lists, a rewrite for corpus-scale strata — readers never
    * see a half-applied delete either way.
    */
  final def deleteWhere(spark: SparkSession, index: Handle, doomed: Column,
      sweepKey: Option[String] = None): Handle =
    compactGeneration(spark, pathOf(index), Some(doomed), sweepKey)

  /** Re-land the live generation as ONE segment with tombstoned rows
    * (and `doomed` matches, if given) physically dropped — compaction
    * and the corpus-scale `deleteWhere` retention rewrite are the SAME
    * protocol with and without the predicate. Returns the committed
    * generation's handle.
    */
  private def compactGeneration(spark: SparkSession, path: String,
      doomed: Option[Column], sweepKey: Option[String]): Handle =
    IndexMaint.withMutation(path,
      op = if (doomed.isDefined) "deleteWhere" else "compact") {
      val gen = IndexMaint.liveGen(path)
      val hadDeletes = IndexMaint.readTombstones(gen).nonEmpty || doomed.isDefined
      // NULL predicate results keep the row: only a definite match is a
      // delete — a NULL metadata cell must not destroy a row
      val withSeg = {
        val d0 = compactSurvivors(spark, path)
        val d = doomed.map(p => d0.filter(not(coalesce(p, lit(false))))).getOrElse(d0)
        if (pinSurvivors) d.localCheckpoint() else d
      }
      // a fully-deleted index has no schema to re-land — refuse loudly
      // (drop the index instead), on BOTH paths, before any staging
      require(!withSeg.isEmpty,
        s"${compactLabel(path)}: no $rowNoun survives (all tombstoned or " +
          "matching the deleteWhere predicate); drop the index instead")
      val stage = IndexMaint.newStageDir(path, "compact")
      val segBase = s"$stage/seg=base"
      if (!uniqueCheckReadsStage) requireUniqueSurvivors(spark, withSeg, segBase, path)
      writeSurvivorStage(spark, withSeg.drop("seg"), segBase, gen)
      if (uniqueCheckReadsStage) requireUniqueSurvivors(spark, withSeg, segBase, path)
      writeGenSidecars(spark, stage, gen, hadDeletes)
      IndexMaint.writeConsolidatedTokens(stage, IndexMaint.appliedTokens(gen))
      // the successor derives from the same (source, shape) build with
      // the same applied sweeps — a later cached-build or cached-sweep
      // miss must reopen it, not rebuild or re-rewrite; a keyed
      // deleteWhere also RECORDS itself in the carried set, so its own
      // memo miss can prove the rewrite already happened
      IndexMaint.carryBuildKey(gen, stage)
      val sweeps = IndexMaint.readSweepKeys(gen) ++ sweepKey
      if (sweeps.nonEmpty) IndexMaint.writeSweepKeys(stage, sweeps)
      val committed = IndexMaint.commitGeneration(path, stage)
      afterCommit(path)
      indexAt(path, committed)
    }

  // ---- tiered segment merge ---------------------------------------------------

  /** Family hook after a merge stage is fully assembled (e.g. the
    * lexical takedown-adjustment recompute over the staged successor).
    * Default: nothing.
    */
  protected def afterMergeStage(spark: SparkSession, stage: String): Unit = ()

  /** One size-tiered merge step ([[MergePolicy]]): coalesce the lowest
    * over-full tier's smallest segments into ONE segment and commit the
    * result as a new generation in which every UNTOUCHED segment is
    * carried by hard link — zero data bytes moved for them; only the
    * merged group is rewritten. Returns None (no commit at all) when no
    * tier has accumulated `minMerge` segments, so an ingest loop can
    * call this after every batch and pay only a metadata listing. The
    * handle stays valid: generation sidecars carry verbatim.
    *
    * Live content is IDENTICAL before and after — the one observable
    * change besides file counts is physical reclamation scoped to the
    * merged group: each merged segment's rows are re-landed MINUS its
    * own tombstone pairs (per-segment scope, so an id deleted in one
    * merged segment and legitimately re-inserted in another keeps
    * exactly the later copy), those pairs leave the sidecar, and the
    * merged segments' replay tokens fold into the consolidated sidecar.
    * Pairs against untouched segments, every generation-root sidecar
    * (quantizer, codebooks, stats baselines, derivation keys) and the
    * untouched segments' own token files carry verbatim — content
    * unchanged means every baseline still describes the same corpus.
    *
    * The full-generation [[compactIndex]] rewrite remains the right
    * verb for takedown reclamation across ALL segments, as
    * [[deleteWhere]] is for retention; this is the
    * bounded-write-amplification maintenance step a long-lived ingest
    * stream runs instead of it.
    */
  final def mergeSegments(spark: SparkSession, index: Handle,
      policy: MergePolicy = MergePolicy()): Option[MergeReport] = {
    val path = pathOf(index)
    IndexMaint.withMutation(path, op = "merge") {
      val gen = IndexMaint.liveGen(path)
      val sizes = IndexMaint.segmentValues(gen)
        .map(s => s -> Fs.treeBytes(s"$gen/seg=$s"))
      val byTier = sizes.groupBy { case (_, b) => policy.tierOf(b) }
      byTier.filter(_._2.size >= policy.minMerge).keys.minOption.map { tier =>
        val group = byTier(tier).sortBy { case (n, b) => (b, n) }
          .take(policy.maxMerge)
        val merged = group.map(_._1)
        val mergedSet = merged.toSet
        val kept = sizes.map(_._1).filterNot(mergedSet)
        val (inTombs, keptTombs) = IndexMaint.readTombstones(gen)
          .partition(p => mergedSet(p._1))
        // per-segment tombstone scope: each merged segment's rows minus
        // ITS pairs — never a remap to the new name, which would let an
        // old pair kill a later re-insert that lived in a sibling
        val survivors = IndexMaint.minusTombstonePairs(
          spark.read.parquet(gen).filter(col("seg").isin(merged: _*)),
          inTombs, idCol).localCheckpoint()
        val stage = IndexMaint.newStageDir(path, "merge")
        kept.foreach(s => Fs.linkTree(s"$gen/seg=$s", s"$stage/seg=$s"))
        IndexMaint.carryGenRootFiles(gen, stage)
        val newSeg =
          if (survivors.isEmpty) {
            // the whole group was tombstoned — pure reclamation; an
            // index cannot end up segmentless (readers need a schema)
            require(kept.nonEmpty,
              s"${compactLabel(path)}: merge would leave the index " +
                "segmentless (every row tombstoned); compact or drop it instead")
            None
          } else {
            val m = IndexMaint.mergedSegmentName(merged)
            val target = s"$stage/seg=$m"
            // same duplicate-id invariant as compaction, scoped to the
            // merged group (a legit corpus has at most one live copy of
            // an id — its older copies are tombstoned, hence dropped)
            if (!uniqueCheckReadsStage)
              requireUniqueSurvivors(spark, survivors, target, path)
            writeSurvivorStage(spark, survivors.drop("seg"), target, gen)
            if (uniqueCheckReadsStage)
              requireUniqueSurvivors(spark, survivors, target, path)
            Some(m)
          }
        IndexMaint.writeConsolidatedTokens(stage,
          IndexMaint.consolidatedTokensOf(gen) ++
            merged.flatMap(IndexMaint.segmentTokenOf(gen, _)))
        if (keptTombs.nonEmpty) IndexMaint.stageTombstonePairs(stage, keptTombs)
        afterMergeStage(spark, stage)
        IndexMaint.commitGeneration(path, stage)
        afterCommit(path)
        MergeReport(tier, merged, newSeg, group.map(_._2).sum, inTombs.length)
      }
    }
  }

  // ---- pins and exports ---------------------------------------------------------

  /** Pin the live state under `label` ([[IndexMaint.pinLive]]):
    * generation + segment set + tombstone pairs + the family's
    * [[pinExtra]] entries. Quantizers need no entry — they are
    * generation sidecars, and nothing retrains in place (a rebalance
    * commits a NEW generation the pin protects the old one from reaping
    * through). An existing label refuses loudly; [[pinIndexIfAbsent]] is
    * the replay-safe first-pin-wins form.
    */
  final def pinIndex(path: String, label: String): Unit = {
    IndexMaint.pinLive(path, label, pinExtra)
    ()
  }

  /** First-pin-wins [[pinIndex]] — replayed pipelines keep their first
    * snapshot ([[IndexMaint.pinLiveIfAbsent]]).
    */
  final def pinIndexIfAbsent(path: String, label: String): Unit = {
    IndexMaint.pinLiveIfAbsent(path, label, pinExtra)
    ()
  }

  /** Materialize the snapshot pinned as `label` into `destRoot` as a
    * STANDALONE index ([[IndexMaint.exportSnapshot]]): live reads of the
    * export ≡ the family's as-of readers against the pin, and stay so
    * after the source unpins or mutates. Root sidecars carry verbatim;
    * the family's [[exportFixup]] re-lands any whose live value advanced
    * past pin time.
    */
  final def exportIndexSnapshot(path: String, label: String, destRoot: String): String =
    IndexMaint.exportSnapshot(path, label, destRoot, exportFixup)

  // ---- fsck (operator health check) ------------------------------------------

  /** Family data-level invariants over the LIVE contents of the GIVEN
    * generation (tombstones already subtracted) — default: the
    * duplicate-id check every row-per-id screen's top-k page relies on.
    * Posting-shaped families override with their multiplicity and
    * sidecar-arithmetic checks. Returns (violations, notes). O(one
    * index scan): a maintenance op, never a serving-path cost. Reads
    * MUST come from `gen`, not a fresh resolve — the whole fsck audits
    * one snapshot.
    */
  protected def fsckData(spark: SparkSession, path: String,
      gen: String): (Seq[String], Seq[String]) = {
    val r = IndexMaint.minusTombstones(spark.read.parquet(gen), gen, idCol)
      .agg(count(lit(1)).as("n"), countDistinct(col(idCol)).as("d")).head()
    if (r.getLong(0) == r.getLong(1)) (Nil, Nil)
    else (Seq(s"${r.getLong(0) - r.getLong(1)} duplicate $idCol rows in the " +
      "live contents — a producer re-added existing ids without tombstoning " +
      "(CDC `insert` for an existing id, or overlapping append batches); " +
      "remedy: upsert, then compact"), Nil)
  }

  /** Read-only structural + data fsck of a persisted index — what an
    * operator runs after an incident (crashed writer, restored backup,
    * suspected foreign interference) before trusting the index again.
    * Returns (violations, notes): violations mean the commit protocol
    * was BYPASSED (hand-edited directory, partial restore) or a
    * producer contract broke; notes are crash states the protocol
    * already self-heals. Takes no lease — the generation is resolved
    * ONCE and every layer audits that snapshot, which (the reader
    * contract) survives one concurrent commit; a sidecar the audit
    * cannot parse is itself a finding, never an fsck crash.
    */
  final def fsckIndex(spark: SparkSession, path: String): (Seq[String], Seq[String]) = {
    val ((bad, note), genOpt) = IndexMaint.fsckRootResolved(path)
    genOpt match {
      case Some(gen) if bad.isEmpty =>
        val (dBad, dNote) = fsckData(spark, path, gen)
        (dBad, note ++ dNote)
      case _ => (bad, note)
    }
  }

  // ---- streaming ingest ----------------------------------------------------------

  /** The [[Ingest]] loop's verbs for a stream of `prefix:`-tokened
    * batches applied by `apply`: the handle's path, and the maintenance
    * verbs [[compactIndex]] and [[mergeSegments]] come from this family;
    * the drift check and its repair are the family's own.
    */
  protected final def ingestFamily(prefix: String,
      apply: (Handle, DataFrame, String) => Boolean,
      drift: Option[(SparkSession, Handle) => (Boolean, Double)],
      rebalance: (SparkSession, Handle) => Handle): Ingest.Family[Handle] =
    Ingest.Family(prefix, pathOf, apply, drift, rebalance,
      compact = (spark, index) => compactIndex(spark, index),
      merge = (spark, index, p) => mergeSegments(spark, index, p))
}
