package graft.ops

import graft.SparkTestBase
import graft.util.IndexMaint
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Pin lifecycle semantics (round-19 hardening): a label is immutable
  * until unpinned — re-pinning refuses loudly instead of silently
  * keeping yesterday's snapshot; `repin` is the explicit move verb;
  * `pinLiveIfAbsent` is the replay contract; `pinPair` pins two roots
  * under one barrier so no mutation wave can land between them; and
  * `pinStats` is the hard-link-aware retention accounting an
  * unpin-or-TTL policy reads.
  */
class PinSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(ids: Range): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(13)
    ids.map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("pinLive refuses an existing label naming the shadowed generation; repin moves it; pinLiveIfAbsent keeps the first") {
    val path = tmpDir("pin_sem") + "/index"
    val index = Ivf.buildIndex(vecs(0 until 60), path, kCells = 2, iters = 1)
    val first = IndexMaint.pinLive(path, "nightly")
    assert(first.createdMs > 0L, "a fresh manifest records its creation time")
    // mutate so live != pinned
    Ivf.appendBatchIdempotent(index, vecs(100 until 105), "pin:a")
    Ivf.compactIndex(spark, Ivf.loadIndex(path))
    // a second pinLive must NOT silently return yesterday's snapshot
    val e = intercept[IllegalStateException](IndexMaint.pinLive(path, "nightly"))
    assert(e.getMessage.contains(first.gen) && e.getMessage.contains("repin"),
      e.getMessage)
    // the replay contract, spelled out: first-pin-wins
    assert(IndexMaint.pinLiveIfAbsent(path, "nightly").gen === first.gen)
    // the explicit move verb: one lease, label now at the live state
    val moved = IndexMaint.repin(path, "nightly")
    val liveName = Paths.get(IndexMaint.liveGen(path)).getFileName.toString
    assert(moved.gen === liveName)
    assert(moved.gen !== first.gen)
    assert(IndexMaint.readSnapshot(path, "nightly").get.gen === liveName)
  }

  test("pinPair: both leases held before either manifest resolves — an injected mutation wave cannot land between the two pins") {
    val base = tmpDir("pin_pair")
    val lexPath = s"$base/lex"
    val vecPath = s"$base/vec"
    LexIndex.buildIndex(
      (0 until 50).map(i => (i.toLong, s"alpha w$i")).toDF("doc_id", "text"),
      lexPath)
    val vecIdx = Ivf.buildIndex(vecs(0 until 50), vecPath, kCells = 2, iters = 1)
    val vecSegsBefore = IndexMaint.segmentValues(IndexMaint.liveGen(vecPath))
    val start = new java.util.concurrent.CountDownLatch(1)
    @volatile var waveDone = false
    val wave = new Thread(() => {
      start.await()
      Ivf.upsertBatchIdempotent(vecIdx, vecs(5 until 8), "race:u")
      waveDone = true
    })
    wave.start()
    // the extra hook runs AFTER both leases are held: release the wave
    // there and give it real time to attempt its mutation
    IndexMaint.pinPair(lexPath, vecPath, "pair", extraA = { _ =>
      start.countDown()
      Thread.sleep(800)
      Map.empty
    })
    assert(!waveDone,
      "the wave must be blocked while the pair pin holds both leases")
    wave.join(60000)
    assert(waveDone, "the wave must proceed once the pins release")
    // both manifests predate the wave: the vec pin's segment set is the
    // pre-wave one, and an as-of read serves the pre-wave vector state
    val vSnap = IndexMaint.readSnapshot(vecPath, "pair").get
    assert(vSnap.segs.sorted === vecSegsBefore.sorted,
      "the pinned segment set must not include the wave's segment")
    assert(vSnap.tombs.isEmpty, "the wave's tombstones must not be pinned")
    // replay: both exist -> the original pair comes back
    val (a2, b2) = IndexMaint.pinPair(lexPath, vecPath, "pair")
    assert(b2.segs.sorted === vecSegsBefore.sorted && a2.gen.nonEmpty)
  }

  test("pinPair refuses a torn pair (label on one root only) instead of completing it at a later state") {
    val base = tmpDir("pin_torn")
    val aPath = s"$base/a"
    val bPath = s"$base/b"
    Ivf.buildIndex(vecs(0 until 30), aPath, kCells = 2, iters = 1)
    Ivf.buildIndex(vecs(0 until 30), bPath, kCells = 2, iters = 1)
    IndexMaint.pinLive(aPath, "ep")
    val e = intercept[IllegalStateException](IndexMaint.pinPair(aPath, bPath, "ep"))
    assert(e.getMessage.contains("torn") && e.getMessage.contains("unpin"),
      e.getMessage)
    // resolving the torn half lets the pair land
    assert(IndexMaint.unpin(aPath, "ep"))
    val (a, b) = IndexMaint.pinPair(aPath, bPath, "ep")
    assert(a.gen.nonEmpty && b.gen.nonEmpty)
  }

  test("pinStats: per-pin age and retained bytes, hard-link-aware across a tiered merge") {
    val path = tmpDir("pin_stats") + "/index"
    val index = Ivf.buildIndex(vecs(0 until 2000), path, kCells = 2, iters = 1)
    // a pin on the live generation retains nothing yet
    IndexMaint.pinLive(path, "now")
    val s0 = IndexMaint.pinStats(path)
    assert(s0.map(_.label) === Seq("now") && s0.head.retainedBytes === 0L)
    assert(s0.head.ageMs >= 0L)
    IndexMaint.unpin(path, "now")
    // fill a tier, pin, then merge: the successor hard-links base, so
    // the pinned generation's RETAINED bytes are only the merged-away
    // small segments — not the shared base
    (0 until 4).foreach { b =>
      Ivf.appendBatchIdempotent(index, vecs(10000 + b * 10 until 10000 + b * 10 + 4), s"ps:$b")
    }
    IndexMaint.pinLive(path, "premerge")
    val pinnedGen = IndexMaint.readSnapshot(path, "premerge").get.gen
    val pinnedGenBytes = graft.util.Fs.treeBytes(s"$path/$pinnedGen")
    val baseBytes = graft.util.Fs.treeBytes(s"$path/$pinnedGen/seg=base")
    assert(Ivf.mergeSegments(spark, index,
      MergePolicy(factor = 4, minMerge = 4, maxMerge = 8)).isDefined)
    val s1 = IndexMaint.pinStats(path).find(_.label == "premerge").get
    assert(s1.gen === pinnedGen)
    assert(s1.retainedBytes > 0L, "the merged-away segments are retention")
    assert(s1.retainedBytes < pinnedGenBytes - baseBytes + 1024,
      s"retained (${s1.retainedBytes}) must exclude the base bytes shared " +
        s"by hard link with the live generation (gen=$pinnedGenBytes base=$baseBytes)")
    // a full compaction rewrites everything: nothing shared anymore,
    // the pin now retains its whole generation
    Ivf.compactIndex(spark, Ivf.loadIndex(path))
    val s2 = IndexMaint.pinStats(path).find(_.label == "premerge").get
    assert(s2.retainedBytes >= pinnedGenBytes,
      s"after a rewrite the pin retains its full generation: $s2 vs $pinnedGenBytes")
    // an unparseable manifest degrades to a named row, never a crash
    Files.write(Paths.get(path, "_pins", "bad.txt"), "junk".getBytes("UTF-8"))
    val s3 = IndexMaint.pinStats(path).find(_.label == "bad").get
    assert(s3.gen === "<unparseable>" && s3.retainedBytes === -1L)
  }

  test("unpinExpired: reaps only provably-expired pins; unknown-age and unparseable manifests are reported, never reaped") {
    val path = tmpDir("pin_ttl") + "/index"
    Ivf.buildIndex(vecs(0 until 40), path, kCells = 2, iters = 1)
    IndexMaint.pinLive(path, "old")
    IndexMaint.pinLive(path, "fresh")
    // a pre-`created` manifest (age unknown): strip the created line
    IndexMaint.pinLive(path, "ancient")
    val ap = Paths.get(path, "_pins", "ancient.txt")
    val stripped = new String(Files.readAllBytes(ap), "UTF-8")
      .split("\n").filterNot(_.startsWith("created=")).mkString("\n")
    Files.write(ap, stripped.getBytes("UTF-8"))
    Files.write(Paths.get(path, "_pins", "bad.txt"), "junk".getBytes("UTF-8"))
    Thread.sleep(5) // every provable age is now strictly positive
    // nothing is old enough under a huge TTL — and the unprovable two
    // are reported as skipped, not silently ignored
    val (u1, k1, s1) = IndexMaint.unpinExpired(path, ttlMs = 1L << 40)
    assert(u1.isEmpty, u1)
    assert(k1.toSet === Set("old", "fresh"))
    assert(s1.toSet === Set("ancient", "bad"))
    // TTL 0: both provable pins expire; the unprovable two survive —
    // an age that cannot be proven must never reap a pin
    val (u2, k2, s2) = IndexMaint.unpinExpired(path, ttlMs = 0L)
    assert(u2.toSet === Set("old", "fresh"))
    assert(k2.isEmpty && s2.toSet === Set("ancient", "bad"))
    assert(IndexMaint.listSnapshotLabels(path).toSet === Set("ancient", "bad"))
    intercept[IllegalArgumentException](IndexMaint.unpinExpired(path, -1L))
  }

  test("a pinPair's manifests share ONE created stamp, so a TTL sweep of both roots expires both sides or neither") {
    val base = tmpDir("pin_pair_ttl")
    val lexPath = s"$base/lex"
    val vecPath = s"$base/vec"
    LexIndex.buildIndex(
      (0 until 30).map(i => (i.toLong, s"alpha w$i")).toDF("doc_id", "text"),
      lexPath)
    Ivf.buildIndex(vecs(0 until 30), vecPath, kCells = 2, iters = 1)
    val (a, b) = IndexMaint.pinPair(lexPath, vecPath, "pair")
    assert(a.createdMs === b.createdMs,
      "two clock reads would open an age window where a TTL sweep reaps one half")
    Thread.sleep(5)
    // the multi-root sweep decides every expiry against ONE clock read:
    // with the shared created stamp, the pair reaps together or not at
    // all — never the torn pair pinPair refuses on retry
    val (u, _, _) = IndexMaint.unpinExpired(Seq(lexPath, vecPath), ttlMs = 0L)
    assert(u === Seq("pair", "pair"))
    assert(IndexMaint.readSnapshot(lexPath, "pair").isEmpty)
    assert(IndexMaint.readSnapshot(vecPath, "pair").isEmpty)
  }

  test("unpinByBudget: oldest-first reaping under a byte budget; pairs expire together; zero-retention and unknown-age pins are never reaped") {
    val base = tmpDir("pin_budget")
    val pA = s"$base/a"
    val ixA = Ivf.buildIndex(vecs(0 until 400), pA, kCells = 2, iters = 1)
    IndexMaint.pinLive(pA, "g0")
    Thread.sleep(5)
    Ivf.appendBatchIdempotent(ixA, vecs(1000 until 1050), "bu:1")
    Ivf.compactIndex(spark, ixA) // g0's generation is now pure retention
    IndexMaint.pinLive(pA, "g1")
    Thread.sleep(5)
    Ivf.appendBatchIdempotent(Ivf.loadIndex(pA), vecs(1100 until 1150), "bu:2")
    Ivf.compactIndex(spark, Ivf.loadIndex(pA)) // g1 retained too
    // a hybrid pair on two more roots, pinned under ONE barrier, then
    // both rewritten so the pair costs retention on each side
    val pB = s"$base/b"; val pC = s"$base/c"
    Ivf.buildIndex(vecs(0 until 300), pB, kCells = 2, iters = 1)
    Ivf.buildIndex(vecs(0 until 300), pC, kCells = 2, iters = 1)
    Thread.sleep(5)
    IndexMaint.pinPair(pB, pC, "pair")
    Ivf.appendBatchIdempotent(Ivf.loadIndex(pB), vecs(2000 until 2050), "bu:3")
    Ivf.compactIndex(spark, Ivf.loadIndex(pB))
    Ivf.appendBatchIdempotent(Ivf.loadIndex(pC), vecs(2000 until 2050), "bu:4")
    Ivf.compactIndex(spark, Ivf.loadIndex(pC))
    // a pin of the LIVE generation (zero retention) and a pre-`created`
    // manifest (unknown age) — both must survive every budget
    IndexMaint.pinLive(pA, "live")
    Files.write(Paths.get(pA, "_pins", "legacy.txt"),
      "gen=gen-000000000\n".getBytes("UTF-8"))
    val roots = Seq(pA, pB, pC)
    val stats = roots.flatMap(r => IndexMaint.pinStats(r))
    def bytesOf(label: String): Long =
      stats.filter(_.label == label).map(_.retainedBytes).sum
    assert(bytesOf("g0") > 0 && bytesOf("g1") > 0 && bytesOf("pair") > 0)
    assert(bytesOf("live") === 0L)
    val total = bytesOf("g0") + bytesOf("g1") + bytesOf("pair")
    // budget misses by exactly the oldest group: only g0 goes
    val r1 = IndexMaint.unpinByBudget(roots, total - bytesOf("g0"))
    assert(r1._1 === Seq((pA, "g0")), s"oldest-first: $r1")
    assert(r1._3 === Seq((pA, "legacy")))
    assert(IndexMaint.readSnapshot(pA, "g1").isDefined)
    // budget 0: every byte-retaining group goes — the pair on BOTH
    // roots together — while the zero-retention live pin survives
    // (reaping it frees nothing and the live generation must never be
    // made reclaimable by a budget sweep)
    val r2 = IndexMaint.unpinByBudget(roots, 0L)
    assert(r2._1.toSet === Set((pA, "g1"), (pB, "pair"), (pC, "pair")))
    assert(r2._2 === Seq((pA, "live")))
    assert(r2._3 === Seq((pA, "legacy")))
    assert(IndexMaint.readSnapshot(pB, "pair").isEmpty &&
      IndexMaint.readSnapshot(pC, "pair").isEmpty,
      "a pair expires as one unit")
    assert(IndexMaint.readSnapshot(pA, "live").isDefined)
    assert(IndexMaint.readSnapshot(pA, "legacy").isDefined,
      "an unprovable age must never be reaped")
    // a satisfied budget reaps nothing
    val r3 = IndexMaint.unpinByBudget(roots, Long.MaxValue)
    assert(r3._1.isEmpty)
    intercept[IllegalArgumentException](IndexMaint.unpinByBudget(roots, -1L))
  }

  test("unpinByBudget: bytes shared between pins count once, and a budget the true union already satisfies reaps nothing") {
    val base = tmpDir("pin_budget_links")
    val p = s"$base/a"
    val ix = Ivf.buildIndex(vecs(0 until 400), p, kCells = 2, iters = 1)
    // two labels pinning the SAME generation — the common sharing case,
    // since in-place appends keep the generation name: every retained
    // inode is held by BOTH pins
    IndexMaint.pinLive(p, "g0")
    Thread.sleep(5)
    Ivf.appendBatchIdempotent(ix, vecs(1000 until 1050), "bl:1")
    IndexMaint.pinLive(p, "g1")
    Thread.sleep(5)
    Ivf.appendBatchIdempotent(Ivf.loadIndex(p), vecs(1100 until 1150), "bl:2")
    Ivf.compactIndex(spark, Ivf.loadIndex(p)) // live gen: all-new inodes
    val stats = IndexMaint.pinStats(p)
    val g0b = stats.find(_.label == "g0").get.retainedBytes
    val g1b = stats.find(_.label == "g1").get.retainedBytes
    assert(g0b > 0 && g0b === g1b,
      "fixture: both pins must retain the identical generation")
    // true retention is the UNION = one generation's bytes, not the
    // per-pin sum (2x). A budget of exactly the union is SATISFIED:
    // the sum-based accounting saw 2x > budget and reaped the oldest
    // label for zero freed bytes
    val r = IndexMaint.unpinByBudget(Seq(p), g0b)
    assert(r._1.isEmpty, s"a satisfied budget must reap nothing: $r")
    assert(IndexMaint.readSnapshot(p, "g0").isDefined &&
      IndexMaint.readSnapshot(p, "g1").isDefined)
    // under the union, neither pin frees ALONE (the other still links
    // every inode) — the sweep must still make progress and reap both,
    // crediting the bytes when the last holder goes
    val r2 = IndexMaint.unpinByBudget(Seq(p), g0b - 1)
    assert(r2._1.toSet === Set((p, "g0"), (p, "g1")),
      s"both holders must go when the budget demands the bytes: $r2")
  }

  test("a pair with an unreadable side is skipped WHOLE by both sweeps — never torn") {
    val base = tmpDir("pin_taint")
    val pB = s"$base/b"; val pC = s"$base/c"
    Ivf.buildIndex(vecs(0 until 300), pB, kCells = 2, iters = 1)
    Ivf.buildIndex(vecs(0 until 300), pC, kCells = 2, iters = 1)
    IndexMaint.pinPair(pB, pC, "pair")
    // both sides rewritten so the pair costs retention and would
    // otherwise be reaped by either sweep
    Ivf.appendBatchIdempotent(Ivf.loadIndex(pB), vecs(2000 until 2050), "pt:1")
    Ivf.compactIndex(spark, Ivf.loadIndex(pB))
    Ivf.appendBatchIdempotent(Ivf.loadIndex(pC), vecs(2000 until 2050), "pt:2")
    Ivf.compactIndex(spark, Ivf.loadIndex(pC))
    // corrupt ONE side's manifest out-of-protocol
    Files.write(Paths.get(pC, "_pins", "pair.txt"), "garbage".getBytes("UTF-8"))
    val roots = Seq(pB, pC)
    val rb = IndexMaint.unpinByBudget(roots, 0L)
    assert(rb._1.isEmpty, s"no half-reap: $rb")
    assert(rb._3.toSet === Set((pB, "pair"), (pC, "pair")),
      "the readable side is skipped because its twin is unreadable")
    val re = IndexMaint.unpinExpired(roots, 0L)
    assert(re._1.isEmpty, s"no half-expiry: $re")
    assert(re._3.toSet === Set("pair"))
    assert(IndexMaint.readSnapshot(pB, "pair").isDefined,
      "the readable side must survive both sweeps")
  }

  test("family wrappers: pinIndex refuses an existing label; pinIndexIfAbsent replays; pinHybrid pins the pair") {
    val base = tmpDir("pin_fam")
    val lexPath = s"$base/lex"
    val vecPath = s"$base/vec"
    LexIndex.buildIndex(
      (0 until 40).map(i => (i.toLong, s"alpha w$i")).toDF("doc_id", "text"),
      lexPath)
    Ivf.buildIndex(vecs(0 until 40), vecPath, kCells = 2, iters = 1)
    LexIndex.pinHybrid(lexPath, vecPath, "rel")
    assert(IndexMaint.readSnapshot(lexPath, "rel").get.extra.contains("x-removed"),
      "the lexical half carries its removed-stats extra through pinPair")
    assert(IndexMaint.readSnapshot(vecPath, "rel").isDefined)
    intercept[IllegalStateException](Ivf.pinIndex(vecPath, "rel"))
    Ivf.pinIndexIfAbsent(vecPath, "rel") // replay: no throw
    intercept[IllegalStateException](LexIndex.pinIndex(lexPath, "rel"))
    LexIndex.pinIndexIfAbsent(lexPath, "rel")
  }
}
