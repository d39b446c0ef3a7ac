package graft.ops

import graft.SparkTestBase
import graft.util.IndexMaint
import java.nio.file.{Files, Paths}

/** Snapshot export (round 19): [[graft.util.IndexMaint.exportSnapshot]]
  * materializes a pinned manifest view as a brand-new STANDALONE index
  * root — the "ship the frozen eval corpus" verb. Live reads of the
  * export must be bit-identical to the as-of readers against the pin,
  * survive later source mutations and the source unpinning, stay
  * fsck-green, keep the pin-time replay-token set (an included batch
  * still no-ops, a post-pin batch applies), and move data by hard link.
  */
class ExportSpec extends SparkTestBase {
  import spark.implicits._

  private def vecs(ids: Range): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(29)
    ids.map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("lexical: exported root serves the pin-time page through LIVE reads, after source mutations + unpin + reap; tokens and hard links carry") {
    val base = tmpDir("exp_lex")
    val path = s"$base/src"
    val docs = (0 until 80)
      .map(i => (i.toLong, s"alpha beta w$i" + (if (i % 7 == 0) " gamma" else "")))
      .toDF("doc_id", "text")
    LexIndex.buildIndex(docs, path)
    // a pre-pin append (its token must carry into the export) and a
    // pre-pin takedown (the removed-stats adjustment must be non-zero,
    // so the fixup has something real to re-land)
    LexIndex.appendBatchIdempotent(path,
      (100 until 120).map(i => (i.toLong, s"alpha epsilon w$i"))
        .toDF("doc_id", "text"), "exp:pre")
    LexIndex.deleteIds(path, Seq(3L, 10L, 101L))
    val qs = Seq("q1" -> "gamma", "q1" -> "beta", "q2" -> "epsilon")
    LexIndex.pinIndex(path, "rel")
    val want = LexIndex.bm25TopK(spark, path, qs, 5)
      .collect().map(_.toString).sorted.toSeq
    // the source moves on: post-pin append + takedown
    LexIndex.appendBatchIdempotent(path,
      (200 until 230).map(i => (i.toLong, s"alpha delta w$i"))
        .toDF("doc_id", "text"), "exp:post")
    LexIndex.deleteIds(path, Seq(5L, 6L))
    val dest = s"$base/export"
    LexIndex.exportIndexSnapshot(path, "rel", dest)
    val got = LexIndex.bm25TopK(spark, dest, qs, 5)
      .collect().map(_.toString).sorted.toSeq
    assert(got === want, "live reads of the export must equal the pinned page")
    assert(LexIndex.bm25TopKAsOf(spark, path, "rel", qs, 5)
      .collect().map(_.toString).sorted.toSeq === want)
    // data moved by hard link: a parquet file in the export shares its
    // inode with the same file in the source's pinned generation
    locally {
      val srcGen = Paths.get(IndexMaint.snapshotGenDir(path,
        IndexMaint.readSnapshot(path, "rel").get))
      val expGen = Paths.get(IndexMaint.liveGen(dest))
      val w = Files.walk(expGen)
      val rel =
        try {
          import scala.jdk.CollectionConverters._
          w.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .map(expGen.relativize).get
        } finally w.close()
      assert(Files.getAttribute(expGen.resolve(rel), "unix:ino") ===
        Files.getAttribute(srcGen.resolve(rel), "unix:ino"),
        s"$rel should be a hard link into the pinned generation")
    }
    // the export is its own lineage: it outlives the source's pin and
    // the reap that follows
    IndexMaint.unpin(path, "rel")
    LexIndex.compactIndex(spark, path)
    assert(LexIndex.bm25TopK(spark, dest, qs, 5)
      .collect().map(_.toString).sorted.toSeq === want)
    val (bad, _) = LexIndex.fsckIndex(spark, dest)
    assert(bad.isEmpty, bad.mkString("; "))
    // token semantics: a batch INSIDE the pinned view still no-ops; the
    // post-pin batch was never in the manifest, so it applies
    assert(!LexIndex.appendBatchIdempotent(dest,
      Seq((100L, "alpha epsilon w100")).toDF("doc_id", "text"), "exp:pre"),
      "a batch already inside the pinned view must replay as a no-op")
    assert(LexIndex.appendBatchIdempotent(dest,
      (200 until 230).map(i => (i.toLong, s"alpha delta w$i"))
        .toDF("doc_id", "text"), "exp:post"),
      "a post-pin batch is NOT in the export and must apply")
  }

  test("IVF: exported root's live screen equals screenBatchAsOf; refusals: unknown label, occupied destination") {
    val base = tmpDir("exp_ivf")
    val path = s"$base/src"
    val index = Ivf.buildIndex(vecs(0 until 120), path, kCells = 4, iters = 2)
    Ivf.appendBatchIdempotent(index, vecs(200 until 220), "exp:pre")
    Ivf.pinIndex(path, "rel")
    val delta = vecs(500 until 505)
    val want = Ivf.screenBatchAsOf(spark, path, "rel", delta, k = 3, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    Ivf.upsertBatchIdempotent(index, vecs(5 until 9), "exp:u")
    Ivf.deleteIds(index, Seq(20L, 21L))
    val dest = s"$base/export"
    Ivf.exportIndexSnapshot(path, "rel", dest)
    val got = Ivf.screenBatch(spark, Ivf.loadIndex(dest), delta, 3, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(got === want,
      "the export's LIVE screen must equal the as-of screen against the pin")
    assert(Ivf.fsckIndex(spark, dest)._1.isEmpty)
    // refusals, both loud: a label that does not exist, and a
    // destination that is already an index root
    intercept[IllegalArgumentException](
      Ivf.exportIndexSnapshot(path, "nope", s"$base/x"))
    intercept[IllegalArgumentException](
      Ivf.exportIndexSnapshot(path, "rel", dest))
    // and a destination that exists with foreign content
    val foreign = s"$base/foreign"
    Files.createDirectories(Paths.get(foreign))
    Files.write(Paths.get(foreign, "data.txt"), "x".getBytes("UTF-8"))
    intercept[IllegalArgumentException](
      Ivf.exportIndexSnapshot(path, "rel", foreign))
    // a crashed earlier export — generation dir moved but the live
    // pointer never flipped — is unreadable debris by construction:
    // the retry reclaims it and succeeds
    val crashed = s"$base/crashed"
    Files.createDirectories(Paths.get(crashed, "gen-000000000"))
    Files.write(Paths.get(crashed, "gen-000000000", "part-junk.parquet"),
      Array[Byte](1, 2, 3))
    Ivf.exportIndexSnapshot(path, "rel", crashed)
    assert(Ivf.screenBatch(spark, Ivf.loadIndex(crashed), delta, 3, nprobe = 4)
      .collect().map(_.toString).sorted.toSeq === want)
  }

  test("PQ flat: exported codes + codebooks serve the pin-time ADC page live") {
    val base = tmpDir("exp_pq")
    val path = s"$base/src"
    val emb = vecs(0 until 160)
    val index = Pq.buildIndex(emb, path, m = 4, kSub = 8, iters = 2)
    Pq.pinIndex(path, "rel")
    val queries = (0 until 3).map { i =>
      (i.toLong, Array.fill(8)(new scala.util.Random(100 + i).nextGaussian()))
    }
    val want = Pq.adcTopKAsOf(spark, path, "rel", queries, k = 4)
      .collect().map(_.toString).sorted.toSeq
    Pq.deleteIds(index, Seq(7L, 9L))
    val dest = s"$base/export"
    Pq.exportIndexSnapshot(path, "rel", dest)
    val got = Pq.adcTopK(spark, Pq.loadIndex(dest), queries, k = 4)
      .collect().map(_.toString).sorted.toSeq
    assert(got === want)
  }

  test("exportPair: the exported hybrid pair serves the fused as-of page; a crash between the two exports heals on retry; torn sources, foreign stamps and occupied destinations refuse") {
    val base = tmpDir("exp_pair")
    val lexPath = s"$base/lex"; val vecPath = s"$base/vec"
    val docs = (0 until 80)
      .map(i => (i.toLong, s"alpha w$i ${if (i % 3 == 0) "beta" else "gamma"}"))
      .toDF("doc_id", "text")
    LexIndex.buildIndex(docs, lexPath)
    Ivf.buildIndex(vecs(0 until 80), vecPath, kCells = 4, iters = 1)
    LexIndex.pinHybrid(lexPath, vecPath, "rel")
    val qs = Seq("q1" -> "beta", "q2" -> "gamma")
    val want = LexIndex.hybridPageAsOf(spark, lexPath, "rel", vecPath, "rel",
      qs, nprobe = 4).collect().map(_.toString).sorted.toSeq
    // both sides move on after the pin — the export must see none of it
    LexIndex.appendBatchIdempotent(lexPath,
      (200 until 220).map(i => (i.toLong, s"alpha beta w$i")).toDF("doc_id", "text"),
      "ep:post")
    LexIndex.deleteIds(lexPath, Seq(3L))
    Ivf.appendBatchIdempotent(Ivf.loadIndex(vecPath), vecs(300 until 320), "ep:post")
    Ivf.deleteIds(Ivf.loadIndex(vecPath), Seq(9L))
    val (dLex, dVec) = (s"$base/dlex", s"$base/dvec")
    LexIndex.exportHybridSnapshot(lexPath, vecPath, "rel", dLex, dVec)
    def fused(dl: String, dv: String): Seq[String] =
      LexIndex.hybridPage(spark, dl, Ivf.loadIndex(dv), qs, nprobe = 4)
        .collect().map(_.toString).sorted.toSeq
    assert(fused(dLex, dVec) === want,
      "the exported pair must serve the fused page as of the pin")
    // full retry: both sides recognized structurally, nothing re-staged
    val (g1, g2) = LexIndex.exportHybridSnapshot(lexPath, vecPath, "rel", dLex, dVec)
    assert(g1 === IndexMaint.liveGen(dLex) && g2 === IndexMaint.liveGen(dVec))
    assert(fused(dLex, dVec) === want)
    // crash BETWEEN the two exports: the lexical half committed, the
    // vector half never started — the retry skips the committed half
    // and completes the pair
    val (cLex, cVec) = (s"$base/clex", s"$base/cvec")
    LexIndex.exportIndexSnapshot(lexPath, "rel", cLex)
    LexIndex.exportHybridSnapshot(lexPath, vecPath, "rel", cLex, cVec)
    assert(fused(cLex, cVec) === want, "the healed pair must serve the pinned wave")
    // occupied destination that is NOT this pair's export
    val foreign = s"$base/foreign"
    Ivf.buildIndex(vecs(0 until 30), foreign, kCells = 2, iters = 1)
    val eOcc = intercept[IllegalStateException](
      LexIndex.exportHybridSnapshot(lexPath, vecPath, "rel", s"$base/x1", foreign))
    assert(eOcc.getMessage.contains("NOT this pair's own export"))
    assert(IndexMaint.liveGenOpt(s"$base/x1").isEmpty,
      "a refusal on one side must not have committed the other (occupancy " +
        "is decided for both destinations before either export stages)")
    // a foreign NON-root directory (no live pointer, but files no
    // crashed export leaves) must refuse in the same pre-flight: the
    // first side must not commit before the second side's debris
    // validation runs
    val junk = s"$base/junk"
    Files.createDirectories(Paths.get(junk))
    Files.write(Paths.get(junk, "data.txt"), "someone's files".getBytes("UTF-8"))
    val eJunk = intercept[IllegalArgumentException](
      LexIndex.exportHybridSnapshot(lexPath, vecPath, "rel", s"$base/x1b", junk))
    assert(eJunk.getMessage.contains("not an empty directory"))
    assert(IndexMaint.liveGenOpt(s"$base/x1b").isEmpty,
      "the lexical side must not have committed when the vector side's " +
        "destination fails debris validation")
    assert(Files.exists(Paths.get(junk, "data.txt")),
      "the foreign directory's contents are untouched by the refusal")
    // two independent pins carry different created stamps — no pinPair
    // barrier, no wave-consistency promise
    LexIndex.pinIndex(lexPath, "solo")
    Thread.sleep(5)
    Ivf.pinIndex(vecPath, "solo")
    val eStamp = intercept[IllegalArgumentException](
      LexIndex.exportHybridSnapshot(lexPath, vecPath, "solo", s"$base/x2", s"$base/x3"))
    assert(eStamp.getMessage.contains("pinPair barrier"))
    // torn source pair: the label survives on one root only
    IndexMaint.unpin(vecPath, "rel")
    val eTorn = intercept[IllegalStateException](
      LexIndex.exportHybridSnapshot(lexPath, vecPath, "rel", s"$base/x4", s"$base/x5"))
    assert(eTorn.getMessage.contains("torn pair"))
  }

  test("an exported root is a first-class index root: append, CDC, tiered merge, fsck and pin all work on the clone — every family") {
    val P = MergePolicy(factor = 4, minMerge = 2, maxMerge = 8)
    // ---- lexical ----
    locally {
      val base = tmpDir("lc_lex")
      val docs = (0 until 60).map(i => (i.toLong, s"alpha beta w$i"))
        .toDF("doc_id", "text")
      LexIndex.buildIndex(docs, s"$base/src")
      LexIndex.pinIndex(s"$base/src", "rel")
      val d = s"$base/exp"
      LexIndex.exportIndexSnapshot(s"$base/src", "rel", d)
      assert(LexIndex.appendBatchIdempotent(d,
        Seq((100L, "alpha gamma fresh")).toDF("doc_id", "text"), "lc:a"))
      assert(LexIndex.applyCdcIdempotent(d,
        Seq((101L, "alpha gamma fresh2", "insert"), (5L, "", "delete"),
          (7L, "alpha delta recrawled", "upsert")).toDF("doc_id", "text", "op"),
        "lc:c"))
      assert(LexIndex.appendBatchIdempotent(d,
        Seq((102L, "alpha gamma fresh3")).toDF("doc_id", "text"), "lc:b"))
      assert(LexIndex.mergeSegments(spark, d, P).isDefined,
        "a tiered merge must fire on the exported clone")
      val qs = Seq("q1" -> "gamma", "q2" -> "delta")
      val page = LexIndex.bm25TopK(spark, d, qs, 5)
        .collect().map(_.toString).sorted.toSeq
      assert(page.nonEmpty)
      LexIndex.pinIndex(d, "post")
      LexIndex.deleteIds(d, Seq(101L))
      assert(LexIndex.bm25TopKAsOf(spark, d, "post", qs, 5)
        .collect().map(_.toString).sorted.toSeq === page,
        "the clone's own pin serves as-of across its own later mutations")
      val (bad, _) = LexIndex.fsckIndex(spark, d)
      assert(bad.isEmpty, bad.mkString("; "))
    }
    // ---- IVF ----
    locally {
      val base = tmpDir("lc_ivf")
      Ivf.buildIndex(vecs(0 until 60), s"$base/src", kCells = 2, iters = 1)
      Ivf.pinIndex(s"$base/src", "rel")
      val d = s"$base/exp"
      Ivf.exportIndexSnapshot(s"$base/src", "rel", d)
      assert(Ivf.appendBatchIdempotent(Ivf.loadIndex(d), vecs(100 until 104), "lc:a"))
      assert(Ivf.applyCdcIdempotent(Ivf.loadIndex(d),
        vecs(110 until 113).withColumn("op", org.apache.spark.sql.functions.lit("insert"))
          .unionByName(vecs(5 until 6).withColumn("op",
            org.apache.spark.sql.functions.lit("delete"))), "lc:c"))
      assert(Ivf.appendBatchIdempotent(Ivf.loadIndex(d), vecs(120 until 124), "lc:b"))
      assert(Ivf.mergeSegments(spark, Ivf.loadIndex(d), P).isDefined)
      val q = vecs(500 until 502)
      val page = Ivf.screenBatch(spark, Ivf.loadIndex(d), q, k = 4, nprobe = 2)
        .collect().map(_.toString).sorted.toSeq
      Ivf.pinIndex(d, "post")
      Ivf.deleteIds(Ivf.loadIndex(d), Seq(110L))
      assert(Ivf.screenBatchAsOf(spark, d, "post", q, k = 4, nprobe = 2)
        .collect().map(_.toString).sorted.toSeq === page)
      assert(Ivf.fsckIndex(spark, d)._1.isEmpty)
    }
    // ---- PQ flat ----
    locally {
      val base = tmpDir("lc_pq")
      Pq.buildIndex(vecs(0 until 80), s"$base/src", m = 4, kSub = 8, iters = 1)
      Pq.pinIndex(s"$base/src", "rel")
      val d = s"$base/exp"
      Pq.exportIndexSnapshot(s"$base/src", "rel", d)
      assert(Pq.appendBatchIdempotent(Pq.loadIndex(d), vecs(100 until 104), "lc:a"))
      assert(Pq.applyCdcIdempotent(Pq.loadIndex(d),
        vecs(110 until 113).withColumn("op", org.apache.spark.sql.functions.lit("insert"))
          .unionByName(vecs(5 until 6).withColumn("op",
            org.apache.spark.sql.functions.lit("delete"))), "lc:c"))
      assert(Pq.appendBatchIdempotent(Pq.loadIndex(d), vecs(120 until 124), "lc:b"))
      assert(Pq.mergeSegments(spark, Pq.loadIndex(d), P).isDefined)
      val queries = (0 until 2).map { i =>
        (i.toLong, Array.fill(8)(new scala.util.Random(300 + i).nextGaussian()))
      }
      val page = Pq.adcTopK(spark, Pq.loadIndex(d), queries, k = 4)
        .collect().map(_.toString).sorted.toSeq
      Pq.pinIndex(d, "post")
      Pq.deleteIds(Pq.loadIndex(d), Seq(110L))
      assert(Pq.adcTopKAsOf(spark, d, "post", queries, k = 4)
        .collect().map(_.toString).sorted.toSeq === page)
      assert(Pq.fsckIndex(spark, d)._1.isEmpty)
    }
    // ---- residual IVF-PQ ----
    locally {
      val base = tmpDir("lc_rpq")
      Pq.buildIndex(vecs(0 until 80), s"$base/src",
        m = 4, kSub = 8, iters = 1, kCells = Some(2))
      Pq.pinIndex(s"$base/src", "rel")
      val d = s"$base/exp"
      Pq.exportIndexSnapshot(s"$base/src", "rel", d)
      assert(Pq.appendBatchIdempotent(Pq.loadIndex(d),
        vecs(100 until 104), "lc:a"))
      assert(Pq.applyCdcIdempotent(Pq.loadIndex(d),
        vecs(110 until 113).withColumn("op", org.apache.spark.sql.functions.lit("insert"))
          .unionByName(vecs(5 until 6).withColumn("op",
            org.apache.spark.sql.functions.lit("delete"))), "lc:c"))
      assert(Pq.appendBatchIdempotent(Pq.loadIndex(d),
        vecs(120 until 124), "lc:b"))
      assert(Pq.mergeSegments(spark, Pq.loadIndex(d), P).isDefined)
      val queries = (0 until 2).map { i =>
        (i.toLong, Array.fill(8)(new scala.util.Random(400 + i).nextGaussian()))
      }
      val page = Pq.screenTopKResidual(spark, Pq.loadIndex(d),
        queries, k = 4, nprobe = 2).collect().map(_.toString).sorted.toSeq
      Pq.pinIndex(d, "post")
      Pq.deleteIds(Pq.loadIndex(d), Seq(110L))
      assert(Pq.screenTopKResidualAsOf(spark, d, "post", queries, k = 4,
        nprobe = 2).collect().map(_.toString).sorted.toSeq === page)
      assert(Pq.fsckIndex(spark, d)._1.isEmpty)
    }
  }

  test("export refusals: a root that lost only its live pointer is never reclaimed as debris; an unpinned/moved label is caught before the commit") {
    val base = tmpDir("exp_guard")
    // a REAL two-generation index root whose live pointer is lost
    // out-of-protocol: _prev.txt still names existing generations, so
    // the export must refuse instead of destroying the data
    val lost = s"$base/lost"
    val ix = Ivf.buildIndex(vecs(0 until 40), lost, kCells = 2, iters = 1)
    Ivf.appendBatchIdempotent(ix, vecs(100 until 104), "g:a")
    Ivf.compactIndex(spark, ix)
    Files.delete(Paths.get(lost, "_live.txt"))
    val src = s"$base/src"
    Ivf.buildIndex(vecs(0 until 40), src, kCells = 2, iters = 1)
    Ivf.pinIndex(src, "rel")
    val gensBefore = Files.list(Paths.get(lost)).filter(
      _.getFileName.toString.startsWith("gen-")).count()
    assert(gensBefore >= 1)
    val e = intercept[IllegalArgumentException](
      Ivf.exportIndexSnapshot(src, "rel", lost))
    assert(e.getMessage.contains("lost its live pointer"))
    assert(Files.list(Paths.get(lost)).filter(
      _.getFileName.toString.startsWith("gen-")).count() === gensBefore,
      "the refusal must not have reclaimed any generation")
    // the label must stay pinned for the duration of the export: an
    // unpin while the stage assembles is caught BEFORE the commit
    // (injected through the fixup hook, which runs exactly there)
    val eUnpin = intercept[IllegalArgumentException](
      IndexMaint.exportSnapshot(src, "rel", s"$base/d1",
        fixup = (_, _) => { IndexMaint.unpin(src, "rel"); () }))
    assert(eUnpin.getMessage.contains("was unpinned"))
    // a repin (label moved to a different state) is equally refused
    Ivf.pinIndex(src, "rel")
    val eMoved = intercept[IllegalArgumentException](
      IndexMaint.exportSnapshot(src, "rel", s"$base/d2",
        fixup = (_, _) => { IndexMaint.repin(src, "rel"); () }))
    assert(eMoved.getMessage.contains("moved to a different state"))
    // after the failed attempts the destination is reclaimable debris:
    // a clean retry succeeds
    IndexMaint.exportSnapshot(src, "rel", s"$base/d1")
    assert(Ivf.fsckIndex(spark, s"$base/d1")._1.isEmpty)
  }

  test("residual IVF-PQ: exported coarse quantizer + codebooks + codes serve the pin-time screen live") {
    val base = tmpDir("exp_rpq")
    val path = s"$base/src"
    val index = Pq.buildIndex(vecs(0 until 160), path,
      m = 4, kSub = 8, iters = 2, kCells = Some(4))
    Pq.appendBatchIdempotent(index, vecs(300 until 320), "exp:pre")
    Pq.pinIndex(path, "rel")
    val queries = (0 until 3).map { i =>
      (i.toLong, Array.fill(8)(new scala.util.Random(200 + i).nextGaussian()))
    }
    val want = Pq.screenTopKResidualAsOf(spark, path, "rel", queries,
      k = 4, nprobe = 3).collect().map(_.toString).sorted.toSeq
    Pq.deleteIds(index, Seq(11L, 12L))
    Pq.upsertBatchIdempotent(index, vecs(30 until 34), "exp:u")
    val dest = s"$base/export"
    Pq.exportIndexSnapshot(path, "rel", dest)
    val got = Pq.screenTopKResidual(spark, Pq.loadIndex(dest),
      queries, k = 4, nprobe = 3).collect().map(_.toString).sorted.toSeq
    assert(got === want)
  }
}
