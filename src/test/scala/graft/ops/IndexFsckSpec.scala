package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

/** The operator fsck: healthy indexes report clean, every planted
  * protocol bypass or producer-contract breach is named, and the crash
  * states the protocol self-heals surface as NOTES, not violations.
  */
class IndexFsckSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(n: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(7)
    (0 until n).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("healthy vector index: no violations; crash states (stage dirs, sidecar tmp, predecessor gen) are notes") {
    val path = tmpDir("fsck_ivf") + "/index"
    val index = Ivf.buildIndex(vecs(100), path, kCells = 4, iters = 1)
    assert(Ivf.fsckIndex(spark, path)._1.isEmpty)
    // crash debris: an uncommitted stage, a torn sidecar tmp, and the
    // predecessor generation a compaction legitimately keeps
    Ivf.compactIndex(spark, index)
    val gen = graft.util.IndexMaint.liveGen(path)
    Files.createDirectories(Paths.get(path, ".stage-crashed-xyz"))
    Files.write(Paths.get(gen, "_tombstones.txt.tmp"), "junk".getBytes(UTF_8))
    val (bad, notes) = Ivf.fsckIndex(spark, path)
    assert(bad.isEmpty, s"self-healing crash states must not be violations: $bad")
    assert(notes.exists(_.contains("staging")), notes.mkString("; "))
    assert(notes.exists(_.contains("tmp")), notes.mkString("; "))
    assert(notes.exists(_.contains("predecessor")), notes.mkString("; "))
  }

  test("fsck repair reclaims exactly the reapable debris, keeps live + predecessor, leaves data byte-identical") {
    val path = tmpDir("fsck_repair") + "/index"
    val index = Ivf.buildIndex(vecs(120), path, kCells = 4, iters = 1)
    // compaction leaves the legitimate predecessor; then plant every
    // reapable debris class: a crashed stage, a torn sidecar tmp, an
    // orphan generation NEWER than live (crash between move and
    // pointer flip), and an over-retained ancient generation
    Ivf.compactIndex(spark, index)
    // advance past gen-0 so "gen-000000000" below is a FREE number —
    // an over-retained ancient, not the legitimate predecessor
    Ivf.compactIndex(spark, Ivf.loadIndex(path))
    val gen = graft.util.IndexMaint.liveGen(path)
    assume(!gen.endsWith("gen-000000000") && !gen.endsWith("gen-000000001"))
    val before = Ivf.screenBatch(spark, Ivf.loadIndex(path),
      vecs(3), k = 5, nprobe = 4).collect().map(_.toString).sorted.toSeq
    Files.createDirectories(Paths.get(path, ".stage-crashed-abc"))
    Files.write(Paths.get(gen, "_tombstones.txt.tmp"), "junk".getBytes(UTF_8))
    Files.createDirectories(Paths.get(path, "gen-000000099"))
    Files.createDirectories(Paths.get(path, "gen-000000000/seg=ancient"))
    val reclaimed = graft.util.IndexMaint.fsckRepair(path)
    assert(reclaimed.exists(_.startsWith("stage:.stage-crashed-abc")), reclaimed.mkString("; "))
    assert(reclaimed.contains("gen:gen-000000099"),
      s"the never-pointed-to orphan must be reaped: $reclaimed")
    assert(reclaimed.contains("gen:gen-000000000"),
      s"generations past the grace window must be reaped: $reclaimed")
    assert(reclaimed.exists(_.startsWith("tmp:_tombstones.txt.tmp")), reclaimed.mkString("; "))
    // live and the single predecessor survive; fsck reports no stage /
    // orphan-generation findings; serving is unchanged
    assert(!reclaimed.exists(_.contains(Paths.get(gen).getFileName.toString)))
    val (bad, notes) = Ivf.fsckIndex(spark, path)
    assert(bad.isEmpty, bad.mkString("; "))
    assert(!notes.exists(_.contains("staging")) && !notes.exists(_.contains("tmp")),
      s"repair must clear the reapable notes: $notes")
    assert(notes.exists(_.contains("predecessor")),
      "the reader-grace predecessor is kept, not reaped")
    val after = Ivf.screenBatch(spark, Ivf.loadIndex(path),
      vecs(3), k = 5, nprobe = 4).collect().map(_.toString).sorted.toSeq
    assert(after === before, "repair must not touch live data")
    // the kept predecessor is the RECORDED one, not a number guess
    val liveNow = Paths.get(graft.util.IndexMaint.liveGen(path))
      .getFileName.toString
    val prevRec = graft.util.IndexMaint.prevGenName(path, liveNow)
    assert(prevRec.exists(_.nonEmpty), "commit must record its predecessor")
    // a repaired root repairs to nothing
    assert(graft.util.IndexMaint.fsckRepair(path).isEmpty)
    // a STALE record (crash around the pointer flip left a pair whose
    // live half mismatches) must be ignored like a pre-sidecar root:
    // older gens kept, never-pointed-to newer orphans still reaped
    Files.write(Paths.get(path, "_prev.txt"),
      "gen-000000042,gen-000000000".getBytes(UTF_8))
    assert(graft.util.IndexMaint.prevGenName(path, liveNow).isEmpty)
    Files.createDirectories(Paths.get(path, "gen-000000000/seg=old"))
    Files.createDirectories(Paths.get(path, "gen-000000098"))
    val rs = graft.util.IndexMaint.fsckRepair(path)
    assert(rs.contains("gen:gen-000000098"), rs.mkString("; "))
    assert(!rs.contains("gen:gen-000000000"),
      s"a stale predecessor record must not license older-gen reaping: $rs")
    // a PRE-SIDECAR root (no _prev.txt) behaves the same
    Files.delete(Paths.get(path, "_prev.txt"))
    Files.createDirectories(Paths.get(path, "gen-000000098"))
    val r2 = graft.util.IndexMaint.fsckRepair(path)
    assert(r2.contains("gen:gen-000000098"), r2.mkString("; "))
    assert(!r2.contains("gen:gen-000000000"),
      s"without the recorded predecessor, older generations must be KEPT: $r2")
    assert(Files.isDirectory(Paths.get(path, "gen-000000000")))
  }

  test("pin manifests are audited: a missing pinned generation is a violation; a corrupt manifest freezes reaping, never unpins") {
    val path = tmpDir("fsck_pin") + "/index"
    Ivf.buildIndex(vecs(60), path, kCells = 4, iters = 1)
    Ivf.pinIndex(path, "keep")
    Ivf.compactIndex(spark, Ivf.loadIndex(path))
    // clean state: the pin is a note, not a violation
    val (b0, n0) = graft.util.IndexMaint.fsckRoot(path)
    assert(b0.isEmpty, b0.mkString("; "))
    assert(n0.exists(_.contains("pinned")), n0.mkString("; "))
    // a reap path that ignored the pin set: hand-delete the pinned gen
    val snap = graft.util.IndexMaint.readSnapshot(path, "keep").get
    graft.util.Fs.deleteRecursively(s"$path/${snap.gen}")
    val (b1, _) = graft.util.IndexMaint.fsckRoot(path)
    assert(b1.exists(b => b.contains("keep") && b.contains(snap.gen)),
      s"the lost pinned generation must be named: $b1")
    // a CORRUPT manifest: fsck names it, and repair freezes generation
    // reaping (the damaged pin's gen is unknowable) while still
    // reclaiming stages
    Files.write(Paths.get(path, "_pins", "keep.txt"),
      "not a manifest".getBytes(UTF_8))
    val (b2, _) = graft.util.IndexMaint.fsckRoot(path)
    assert(b2.exists(_.contains("unparseable")), b2.mkString("; "))
    Files.createDirectories(Paths.get(path, ".stage-crashed-pin"))
    Files.createDirectories(Paths.get(path, "gen-000000097"))
    Files.write(Paths.get(graft.util.IndexMaint.liveGen(path),
      "_tombstones.txt.tmp"), "junk".getBytes(UTF_8))
    val r = graft.util.IndexMaint.fsckRepair(path)
    assert(r.exists(_.startsWith("stage:")), r.mkString("; "))
    assert(r.exists(_.startsWith("tmp:")),
      s"torn-write tmp debris is never pinnable — it reclaims under the freeze: $r")
    assert(!r.exists(_.startsWith("gen:")),
      s"generation reaping must freeze under a corrupt pin manifest: $r")
    assert(Files.isDirectory(Paths.get(path, "gen-000000097")))
    // unpin resolves the damage; reaping resumes
    assert(graft.util.IndexMaint.unpin(path, "keep"))
    val r2 = graft.util.IndexMaint.fsckRepair(path)
    assert(r2.contains("gen:gen-000000097"), r2.mkString("; "))
  }

  test("protocol bypasses are named: missing token file, orphan tombstone segment, deleted live pointer") {
    val path = tmpDir("fsck_bypass") + "/index"
    val index = Ivf.buildIndex(vecs(80), path, kCells = 4, iters = 1)
    Ivf.appendBatchIdempotent(index,
      Seq((200L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding"), "fsck:a")
    val gen = graft.util.IndexMaint.liveGen(path)
    val segDir = Files.list(Paths.get(gen))
      .filter(p => p.getFileName.toString.matches("seg=b[0-9a-f]{16}"))
      .findFirst().get()
    // bypass 1: someone deleted a committed segment's token file
    Files.delete(segDir.resolve("_token.txt"))
    val bad1 = Ivf.fsckIndex(spark, path)._1
    assert(bad1.exists(_.contains("_token.txt")), bad1.mkString("; "))
    Files.write(segDir.resolve("_token.txt"), "fsck:a\n".getBytes(UTF_8))
    // bypass 2: a hand-edited tombstone file referencing a segment that
    // does not exist (a partial restore)
    Files.write(Paths.get(gen, "_tombstones.txt"), "nosuchseg,7\n".getBytes(UTF_8))
    val bad2 = Ivf.fsckIndex(spark, path)._1
    assert(bad2.exists(_.contains("missing segment")), bad2.mkString("; "))
    // bypass 2b: a tombstone file the audit cannot parse is a named
    // finding, not an fsck crash
    Files.write(Paths.get(gen, "_tombstones.txt"), "garbage-no-comma\n".getBytes(UTF_8))
    val bad2b = Ivf.fsckIndex(spark, path)._1
    assert(bad2b.exists(_.contains("unparseable")), bad2b.mkString("; "))
    Files.delete(Paths.get(gen, "_tombstones.txt"))
    // bypass 3: the live pointer is gone
    Files.delete(Paths.get(path, "_live.txt"))
    val bad3 = Ivf.fsckIndex(spark, path)._1
    assert(bad3.exists(_.contains("live pointer")) || bad3.exists(_.contains("never committed")),
      bad3.mkString("; "))
  }

  test("producer-contract breach: a CDC insert of an existing id surfaces as a live duplicate") {
    val path = tmpDir("fsck_dup") + "/index"
    val index = Ivf.buildIndex(vecs(60), path, kCells = 4, iters = 1)
    assert(Ivf.fsckIndex(spark, path)._1.isEmpty)
    // `insert` skips the tombstone write by design — re-adding id 3
    // violates the contract and leaves two live copies
    Ivf.applyCdcIdempotent(index,
      Seq((3L, Array.fill(8)(0.1f), "insert")).toDF("vec_id", "embedding", "op"),
      "fsck:dup")
    val bad = Ivf.fsckIndex(spark, path)._1
    assert(bad.exists(b => b.contains("duplicate") && b.contains("upsert")),
      bad.mkString("; "))
  }

  test("lexical fsck: sidecar arithmetic audited — tampered stats, lost takedown adjustment, missing doc dir all named") {
    val docs = (0 until 60).map(i => (i.toLong, s"alpha w$i beta")).toDF("doc_id", "text")
    val path = tmpDir("fsck_lex") + "/index"
    LexIndex.buildIndex(docs, path)
    assert(LexIndex.fsckIndex(spark, path)._1.isEmpty)
    val gen = graft.util.IndexMaint.liveGen(path)
    // tamper 1: stats sidecar no longer matches the doc dir
    val st = Paths.get(gen, "seg=base", "_lex_stats.txt")
    val orig = new String(Files.readAllBytes(st), UTF_8)
    Files.write(st, "999,9999".getBytes(UTF_8))
    val bad1 = LexIndex.fsckIndex(spark, path)._1
    assert(bad1.exists(_.contains("stats sidecar")), bad1.mkString("; "))
    Files.write(st, orig.getBytes(UTF_8))
    // tamper 1b: a stats sidecar fsck itself cannot parse IS the
    // finding — never an fsck crash
    Files.write(st, "total garbage".getBytes(UTF_8))
    val bad1b = LexIndex.fsckIndex(spark, path)._1
    assert(bad1b.exists(_.contains("unparseable")), bad1b.mkString("; "))
    Files.write(st, orig.getBytes(UTF_8))
    // crash window 2: the takedown adjustment is lost after a delete —
    // that is the torn state the protocol itself can produce, so it is
    // a NOTE naming the heal, not a violation
    LexIndex.deleteIds(path, Seq(1L, 2L))
    Files.delete(Paths.get(gen, "_lex_removed.txt"))
    val (bad2, notes2) = LexIndex.fsckIndex(spark, path)
    assert(bad2.isEmpty, s"a protocol-producible crash state must not be a violation: $bad2")
    assert(notes2.exists(n => n.contains("takedown adjustment") && n.contains("heals")),
      notes2.mkString("; "))
    LexIndex.deleteIds(path, Seq(1L)) // retry heals
    assert(LexIndex.fsckIndex(spark, path)._2
      .forall(!_.contains("takedown adjustment")))
    assert(LexIndex.fsckIndex(spark, path)._1.isEmpty)
    // tamper 3: doc dir removed
    graft.util.Fs.deleteRecursively(
      Paths.get(gen, "seg=base", "_docdir").toString)
    val bad3 = LexIndex.fsckIndex(spark, path)._1
    assert(bad3.exists(_.contains("doc-dir")), bad3.mkString("; "))
  }

  test("lexical fsck: term-dictionary sidecar audited — tampered bounds are a violation, a missing dictionary is a note") {
    val docs = (0 until 40).map(i => (i.toLong, s"alpha w$i beta")).toDF("doc_id", "text")
    val path = tmpDir("fsck_tm") + "/index"
    LexIndex.buildIndex(docs, path)
    assert(LexIndex.fsckIndex(spark, path)._1.isEmpty)
    val gen = graft.util.IndexMaint.liveGen(path)
    val tm = Paths.get(gen, "seg=base", "_term_meta")
    // tamper: inflate max_tf — bounds stay "valid" numerically but no
    // longer match the postings aggregate; a pruned page would use them
    val orig = spark.read.parquet(tm.toString).localCheckpoint()
    orig.withColumn("max_tf", col("max_tf") + lit(100L))
      .coalesce(1).write.mode("overwrite").parquet(tm.toString)
    val bad = LexIndex.fsckIndex(spark, path)._1
    assert(bad.exists(_.contains("term-dictionary")), bad.mkString("; "))
    // restore, then remove entirely: a pre-dictionary index degrades to
    // unpruned serving — a note, never a violation
    orig.coalesce(1).write.mode("overwrite").parquet(tm.toString)
    assert(LexIndex.fsckIndex(spark, path)._1.isEmpty)
    graft.util.Fs.deleteRecursively(tm.toString)
    val (bad2, notes2) = LexIndex.fsckIndex(spark, path)
    assert(bad2.isEmpty, bad2.mkString("; "))
    assert(notes2.exists(n => n.contains("term-dictionary") && n.contains("missing")),
      notes2.mkString("; "))
  }

  test("a crashed pinLive's torn manifest tmp is invisible to readers, noted by fsck, reclaimed by repair") {
    val path = tmpDir("fsck_pintmp") + "/index"
    Ivf.buildIndex(vecs(40), path, kCells = 4, iters = 1)
    Files.createDirectories(Paths.get(path, "_pins"))
    Files.write(Paths.get(path, "_pins", "nightly.txt.tmp"),
      "gen=gen-000000000\n".getBytes(UTF_8))
    assert(graft.util.IndexMaint.listSnapshotLabels(path).isEmpty,
      "a .txt.tmp is never a valid manifest")
    val (bad, notes) = graft.util.IndexMaint.fsckRoot(path)
    assert(bad.isEmpty, bad.mkString("; "))
    assert(notes.exists(_.contains("pin-manifest tmp")), notes.mkString("; "))
    val r = graft.util.IndexMaint.fsckRepair(path)
    assert(r.contains("pintmp:nightly.txt.tmp"), r.mkString("; "))
    assert(!Files.exists(Paths.get(path, "_pins", "nightly.txt.tmp")))
  }

  test("readSnapshot names the unparseable manifest instead of surfacing a raw index error") {
    val path = tmpDir("fsck_pinline") + "/index"
    Ivf.buildIndex(vecs(40), path, kCells = 4, iters = 1)
    Ivf.pinIndex(path, "keep")
    val p = Paths.get(path, "_pins", "keep.txt")
    Files.write(p, (new String(Files.readAllBytes(p), UTF_8) +
      "garbage-without-separator\n").getBytes(UTF_8))
    val e = intercept[IllegalStateException](
      graft.util.IndexMaint.readSnapshot(path, "keep"))
    assert(e.getMessage.contains("keep.txt") && e.getMessage.contains("="),
      e.getMessage)
  }

  test("fsck is clean across the full mutation lifecycle on all four families' shared protocol") {
    // lexical: build -> append -> upsert -> delete -> CDC -> compact
    val docs = (0 until 50).map(i => (i.toLong, s"alpha w$i")).toDF("doc_id", "text")
    val lexPath = tmpDir("fsck_life") + "/lex"
    LexIndex.buildIndex(docs, lexPath)
    LexIndex.appendBatchIdempotent(lexPath,
      Seq((100L, "alpha new")).toDF("doc_id", "text"), "l:a")
    LexIndex.upsertBatchIdempotent(lexPath,
      Seq((5L, "beta recrawl")).toDF("doc_id", "text"), "l:u")
    LexIndex.deleteIds(lexPath, Seq(7L))
    LexIndex.applyCdcIdempotent(lexPath,
      Seq((200L, "gamma", "insert"), (9L, "x", "delete")).toDF("doc_id", "text", "op"),
      "l:c")
    assert(LexIndex.fsckIndex(spark, lexPath)._1.isEmpty)
    LexIndex.compactIndex(spark, lexPath)
    assert(LexIndex.fsckIndex(spark, lexPath)._1.isEmpty)
    // vector: the same verbs through the same shared choreography
    val vecPath = tmpDir("fsck_life") + "/ivf"
    val idx = Ivf.buildIndex(vecs(50), vecPath, kCells = 4, iters = 1)
    Ivf.appendBatchIdempotent(idx,
      Seq((300L, Array.fill(8)(0.2f))).toDF("vec_id", "embedding"), "v:a")
    Ivf.upsertBatchIdempotent(idx,
      Seq((5L, Array.fill(8)(0.3f))).toDF("vec_id", "embedding"), "v:u")
    Ivf.deleteIds(idx, Seq(7L))
    assert(Ivf.fsckIndex(spark, vecPath)._1.isEmpty)
    Ivf.compactIndex(spark, Ivf.loadIndex(vecPath))
    assert(Ivf.fsckIndex(spark, vecPath)._1.isEmpty)
  }
}
