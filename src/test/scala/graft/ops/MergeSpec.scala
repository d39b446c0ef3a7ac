package graft.ops

import graft.SparkTestBase
import graft.util.IndexMaint
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Size-tiered segment merging ([[IndexFamily.mergeSegments]]):
  * the bounded-write-amplification maintenance step for streamed
  * appends. Pins, per family: serving is byte-identical across a
  * partial merge, replay tokens stay durable, per-segment tombstone
  * scope survives (a delete + later re-insert merged together keeps
  * exactly the later copy), untouched segments are hard-linked (zero
  * bytes rewritten), and fsck stays green — plus the policy math and
  * the amortization property itself.
  */
class MergeSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(ids: Range): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(11)
    ids.map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  // tiny-corpus policy: every append segment is tier-0-ish, so 4 fill a
  // tier; factor 4 keeps the promotion property meaningful
  private val P = MergePolicy(factor = 4, minMerge = 4, maxMerge = 8)

  test("policy math: log tiers, promotion under minMerge >= factor, lowest over-full tier fires first") {
    val p = MergePolicy(factor = 4, minMerge = 4, maxMerge = 8)
    assert(p.tierOf(1L) === 0 && p.tierOf(3L) === 0)
    assert(p.tierOf(4L) === 1 && p.tierOf(15L) === 1 && p.tierOf(16L) === 2)
    // promotion: minMerge same-tier segments sum past the tier's top
    for (t <- 0 to 6) {
      val lo = math.pow(4, t).toLong
      assert(p.tierOf(lo * p.minMerge) > t,
        s"merging ${p.minMerge} tier-$t segments must land in a higher tier")
    }
    intercept[IllegalArgumentException](MergePolicy(factor = 1))
    intercept[IllegalArgumentException](MergePolicy(minMerge = 1))
    intercept[IllegalArgumentException](MergePolicy(minMerge = 8, maxMerge = 4))
  }

  test("IVF: merge fires only when a tier fills; serving page, tokens and fsck are unchanged; untouched segments are hard-linked") {
    val path = tmpDir("merge_ivf") + "/index"
    val index = Ivf.buildIndex(vecs(0 until 120), path, kCells = 4, iters = 1)
    // three small appends: below minMerge (base sits in a far higher
    // tier), so the policy must not fire
    (0 until 3).foreach { b =>
      Ivf.appendBatchIdempotent(index,
        vecs(200 + b * 10 until 200 + b * 10 + 5), s"m:$b")
    }
    assert(Ivf.mergeSegments(spark, index, P).isEmpty,
      "no tier has minMerge segments yet — the call must be a no-op")
    Ivf.appendBatchIdempotent(index, vecs(230 until 235), "m:3")
    val genBefore = IndexMaint.liveGen(path)
    val page = Ivf.screenBatch(spark, index, vecs(500 until 503), k = 5,
      nprobe = 4).collect().map(_.toString).sorted.toSeq
    val tokensBefore = IndexMaint.appliedTokens(genBefore)
    val baseFile = {
      val s = Files.walk(Paths.get(genBefore, "seg=base"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      } finally s.close()
    }
    val r = Ivf.mergeSegments(spark, index, P).get
    assert(r.merged.size === 4 && r.newSeg.isDefined && r.newSeg.get.startsWith("m"))
    assert(!r.merged.contains("base"), "base is tiers above the appends")
    val gen = IndexMaint.liveGen(path)
    assert(gen !== genBefore, "a merge commits a new generation")
    assert(IndexMaint.segmentValues(gen).sorted ===
      Seq("base", r.newSeg.get).sorted)
    // serving byte-identical through the SAME handle (sidecars carried)
    assert(Ivf.screenBatch(spark, index, vecs(500 until 503), k = 5, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq === page)
    // replay tokens durable: same applied set, and a replayed append
    // after the merge is a structural no-op
    assert(IndexMaint.appliedTokens(gen) === tokensBefore)
    assert(!Ivf.appendBatchIdempotent(Ivf.loadIndex(path),
      vecs(230 until 235), "m:3"), "replay after merge must no-op")
    // the untouched base segment was hard-linked, not copied: same inode
    val linked = Paths.get(gen, "seg=base").resolve(
      Paths.get(genBefore, "seg=base").relativize(baseFile))
    assert(Files.getAttribute(linked, "unix:ino") ===
      Files.getAttribute(baseFile, "unix:ino"),
      "untouched segments must carry by hard link (zero bytes rewritten)")
    assert(Ivf.fsckIndex(spark, path)._1.isEmpty)
  }

  test("per-segment tombstone scope survives a merge: delete + later re-insert merged together keeps exactly the later copy") {
    val path = tmpDir("merge_scope") + "/index"
    val index = Ivf.buildIndex(vecs(0 until 60), path, kCells = 2, iters = 1)
    // seg A inserts 900; delete 900 (tombstoned in base + A); seg B
    // re-inserts 900 (later insert wins, structurally); two more small
    // segs to fill the tier
    Ivf.appendBatchIdempotent(index, vecs(900 until 903), "s:a")
    Ivf.deleteIds(index, Seq(900L))
    Ivf.appendBatchIdempotent(index,
      Seq((900L, Array.fill(8)(0.42f))).toDF("vec_id", "embedding"), "s:b")
    Ivf.appendBatchIdempotent(index, vecs(950 until 953), "s:c")
    Ivf.appendBatchIdempotent(index, vecs(960 until 963), "s:d")
    val before = Ivf.indexData(spark, path).filter(col("vec_id") === 900L)
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    assert(before.length === 1 && before.head.forall(_ == 0.42f),
      "fixture: exactly the re-inserted copy is live")
    val r = Ivf.mergeSegments(spark, index, P).get
    assert(r.merged.size === 4, s"all four small segments merge: $r")
    assert(r.pairsReclaimed > 0, "the merged segments' pairs are reclaimed")
    val after = Ivf.indexData(spark, path).filter(col("vec_id") === 900L)
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    assert(after.length === 1 && after.head.forall(_ == 0.42f),
      "the merged segment must keep the later copy, not resurrect or kill it")
    // pairs against the merged segments left the sidecar; base's pair
    // (900 was deleted while only base + A existed → base pair stays)
    val tombs = IndexMaint.readTombstones(IndexMaint.liveGen(path))
    assert(tombs.forall(_._1 == "base"), s"only untouched-segment pairs remain: ${tombs.toSeq}")
    assert(Ivf.fsckIndex(spark, path)._1.isEmpty)
  }

  test("lexical: page and scoring constants identical across a merge that physically reclaims deleted docs; sidecar audits stay green") {
    val path = tmpDir("merge_lex") + "/index"
    val docs = (0 until 80).map(i => (i.toLong, s"alpha w$i ${if (i % 2 == 0) "beta" else "gamma"}"))
      .toDF("doc_id", "text")
    LexIndex.buildIndex(docs, path)
    LexIndex.appendBatchIdempotent(path,
      (100 until 105).map(i => (i.toLong, s"alpha beta extra$i")).toDF("doc_id", "text"), "lm:a")
    LexIndex.appendBatchIdempotent(path,
      (110 until 115).map(i => (i.toLong, s"alpha gamma extra$i")).toDF("doc_id", "text"), "lm:b")
    // delete docs that live in the first append — the merge must
    // reclaim them physically AND keep the scoring constants exact
    LexIndex.deleteIds(path, Seq(101L, 102L))
    LexIndex.appendBatchIdempotent(path,
      (120 until 125).map(i => (i.toLong, s"alpha beta extra$i")).toDF("doc_id", "text"), "lm:c")
    LexIndex.appendBatchIdempotent(path,
      (130 until 135).map(i => (i.toLong, s"alpha gamma extra$i")).toDF("doc_id", "text"), "lm:d")
    val qs = Seq("q1" -> "alpha", "q1" -> "beta", "q2" -> "gamma")
    val statsBefore = LexIndex.liveStats(path)
    val pageBefore = LexIndex.bm25TopK(spark, path, qs, 5)
      .collect().map(_.toString).sorted.toSeq
    val r = LexIndex.mergeSegments(spark, path, P).get
    assert(r.merged.size === 4 && r.pairsReclaimed > 0)
    assert(LexIndex.liveStats(path) === statsBefore,
      "n_docs/Σdl must be exact across the reclamation (removed-stats recompute)")
    assert(LexIndex.bm25TopK(spark, path, qs, 5)
      .collect().map(_.toString).sorted.toSeq === pageBefore)
    // the merged segment's doc-dir, stats, and term-dictionary sidecars
    // are all derived from its survivors — the fsck arithmetic proves it
    val (bad, _) = LexIndex.fsckIndex(spark, path)
    assert(bad.isEmpty, bad.mkString("; "))
    // deleted docs are physically gone from the postings (not just hidden)
    val raw = spark.read.parquet(IndexMaint.liveGen(path))
    assert(raw.filter(col("doc_id").isin(101L, 102L)).count() === 0L,
      "merged segments' tombstoned docs must be reclaimed, not carried")
  }

  test("PQ flat and residual: ADC pages identical across a merge, fsck green, tokens durable") {
    val base = vecs(0 until 100)
    val qv = vecs(700 until 703)
    // flat
    val fp = tmpDir("merge_pq") + "/flat"
    val fidx = Pq.buildIndex(base, fp, m = 4, kSub = 16, iters = 1)
    (0 until 4).foreach { b =>
      Pq.appendBatchIdempotent(fidx, vecs(300 + b * 10 until 300 + b * 10 + 4), s"pm:$b")
    }
    val fpage = Pq.screenBatchAdc(spark, fidx, qv, k = 5)
      .collect().map(_.toString).sorted.toSeq
    // at toy scale the flat-PQ base (codes only) is as small as the
    // appends, so it legitimately shares their tier and may join the
    // merge — the policy tiers by BYTES, not by name
    val fr = Pq.mergeSegments(spark, fidx, P).get
    assert(fr.merged.size >= 4 && fr.newSeg.isDefined)
    assert(Pq.screenBatchAdc(spark, Pq.loadIndex(fp), qv, k = 5)
      .collect().map(_.toString).sorted.toSeq === fpage)
    assert(!Pq.appendBatchIdempotent(Pq.loadIndex(fp),
      vecs(300 until 304), "pm:0"), "replay after merge must no-op")
    assert(Pq.fsckIndex(spark, fp)._1.isEmpty)
    // residual
    val rp = tmpDir("merge_pq") + "/res"
    val ridx = Pq.buildIndex(base, rp, m = 4, kSub = 16, iters = 1, kCells = Some(4))
    (0 until 4).foreach { b =>
      Pq.appendBatchIdempotent(ridx,
        vecs(400 + b * 10 until 400 + b * 10 + 4), s"rm:$b")
    }
    val rpage = Pq.screenBatchResidual(spark, ridx, qv, k = 5, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    val rr = Pq.mergeSegments(spark, ridx, P).get
    assert(rr.merged.size === 4 && rr.newSeg.isDefined)
    assert(Pq.screenBatchResidual(spark, Pq.loadIndex(rp), qv, k = 5, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq === rpage)
    assert(Pq.fsckIndex(spark, rp)._1.isEmpty)
  }

  test("pinned snapshots survive a merge: the as-of page is bit-identical and the pinned generation is retained") {
    val path = tmpDir("merge_pin") + "/index"
    val index = Ivf.buildIndex(vecs(0 until 80), path, kCells = 2, iters = 1)
    (0 until 4).foreach { b =>
      Ivf.appendBatchIdempotent(index, vecs(600 + b * 10 until 600 + b * 10 + 4), s"pn:$b")
    }
    Ivf.pinIndex(path, "pre")
    val atPin = Ivf.screenBatchAsOf(spark, path, "pre", vecs(800 until 802),
      k = 5, nprobe = 2).collect().map(_.toString).sorted.toSeq
    val genPinned = IndexMaint.readSnapshot(path, "pre").get.gen
    assert(Ivf.mergeSegments(spark, index, P).isDefined)
    assert(Files.isDirectory(Paths.get(path, genPinned)),
      "the pinned generation must survive the merge commit's reap")
    assert(Ivf.screenBatchAsOf(spark, path, "pre", vecs(800 until 802),
      k = 5, nprobe = 2).collect().map(_.toString).sorted.toSeq === atPin)
  }

  test("amortization: per-batch rewritten bytes stay bounded under the tiered policy while full compaction grows linearly") {
    val path = tmpDir("merge_amort") + "/index"
    // base big enough that the full-rewrite cadence's linear term
    // dominates parquet per-file overhead
    val index = Ivf.buildIndex(vecs(0 until 2000), path, kCells = 2, iters = 1)
    val baseBytes = graft.util.Fs.treeBytes(
      s"${IndexMaint.liveGen(path)}/seg=base")
    var mergedBytes = 0L
    var touchedBase = false
    (0 until 16).foreach { b =>
      Ivf.appendBatchIdempotent(index, vecs(10000 + b * 10 until 10000 + b * 10 + 4), s"am:$b")
      Ivf.mergeSegments(spark, index, P).foreach { r =>
        mergedBytes += r.bytesIn
        touchedBase ||= r.merged.contains("base")
      }
    }
    // a compact-every-4 cadence would have rewritten the FULL index
    // (>= base) 4 times over these 16 batches; the tiered policy never
    // touched base at all
    assert(!touchedBase, "the big segment must never be rewritten")
    assert(mergedBytes < 4L * baseBytes,
      s"tiered merge rewrote $mergedBytes bytes; full-rewrite cadence would exceed ${4L * baseBytes}")
    // and the file count stays bounded: segments collapse as tiers fill
    val segs = IndexMaint.segmentValues(IndexMaint.liveGen(path))
    assert(segs.size < 8, s"segments must collapse under the policy: $segs")
    assert(Ivf.fsckIndex(spark, path)._1.isEmpty)
  }
}
