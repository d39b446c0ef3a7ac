package graft.ops

import graft.SparkTestBase
import graft.util.IndexMaint
import org.apache.spark.sql.functions.col

/** Pins the reopen-not-rebuild contract for every persisted index
  * family: a `buildIndexCached` MISS (LRU eviction, session restart)
  * whose persisted build key matches the live generation's must REOPEN
  * the committed index read-only — byte-identical generation directory,
  * no pointer flip — and never retrain-and-rewrite a durable index from
  * inside a read path. Rebuild happens only on true staleness (source
  * rewritten, different shape) or a keyless pre-sidecar generation that
  * cannot prove reuse.
  */
class ReopenSpec extends SparkTestBase {
  import spark.implicits._

  /** Recursive (relative path -> md5) snapshot of an index root. The
    * advisory cross-process lease file is excluded: reads take no lease
    * and its bytes are mutation bookkeeping, not index state.
    */
  private def snapshot(root: String): Map[String, String] = {
    val base = java.nio.file.Paths.get(root)
    val out = scala.collection.mutable.Map[String, String]()
    val stream = java.nio.file.Files.walk(base)
    try stream.forEach { p =>
      if (java.nio.file.Files.isRegularFile(p)) {
        val rel = base.relativize(p).toString
        if (!rel.endsWith(".lock"))
          out(rel) = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString
      }
    } finally stream.close()
    out.toMap
  }

  private def writeEmb(n: Int, dim: Int, seed: Int): String = {
    val d = tmpDir("reopen_src")
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong)
      .map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    s"$d/embeddings.parquet"
  }

  test("ivf: cached-build miss with matching on-disk key reopens — byte-identical, no pointer flip") {
    val src = writeEmb(80, 8, 11)
    val emb = spark.read.parquet(src)
    val path = tmpDir("reopen_ivf")
    val built = Ivf.buildIndexCached(emb, src, path, kCells = 4, iters = 1)
    val gen0 = IndexMaint.liveGenOpt(path).get
    val before = snapshot(path)
    Ivf.dropBuildMemo(path) // what LRU pressure or a session restart does
    val reopened = Ivf.buildIndexCached(emb, src, path, kCells = 4, iters = 1)
    assert(!(reopened eq built), "memo was dropped — this must be a real miss")
    assert(IndexMaint.liveGenOpt(path).contains(gen0), "no pointer flip")
    assert(snapshot(path) === before,
      "a miss with a matching key must leave the generation byte-identical")
    assert(reopened.centroids.size === 4)
    val hits = Ivf.screenBatch(spark, reopened,
      emb.filter(col("vec_id") < 3), k = 2, nprobe = 4)
    assert(hits.count() > 0, "the reopened handle must serve queries")
  }

  test("ivf: reopen serves the MUTATED index — key carried through append and compaction") {
    val src = writeEmb(60, 8, 12)
    val emb = spark.read.parquet(src)
    val path = tmpDir("reopen_ivf_mut")
    val idx = Ivf.buildIndexCached(emb, src, path, kCells = 2, iters = 1)
    // owner mutations on top of the cached build: append then compact
    val extra = Seq((1000L, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    assert(Ivf.appendBatchIdempotent(idx, extra, token = "reopen:a"))
    Ivf.compactIndex(spark, idx)
    val genM = IndexMaint.liveGenOpt(path).get
    val before = snapshot(path)
    Ivf.dropBuildMemo(path)
    val reopened = Ivf.buildIndexCached(emb, src, path, kCells = 2, iters = 1)
    assert(IndexMaint.liveGenOpt(path).contains(genM),
      "the compacted generation must survive the miss (key carried, not reset)")
    assert(snapshot(path) === before,
      "reopen after mutations must not rewrite anything")
    // the appended vector is served — a from-source rebuild would drop it
    val q = Seq((9L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val top = Ivf.screenBatch(spark, reopened, q, k = 1, nprobe = 2)
      .select("vec_id").as[Long].collect()
    assert(top.contains(1000L),
      s"reopened index must contain the appended vector, got ${top.toSeq}")
  }

  test("ivf: key carried through a tiered merge — a cached miss reopens the merged generation byte-identical") {
    val src = writeEmb(60, 8, 19)
    val emb = spark.read.parquet(src)
    val path = tmpDir("reopen_ivf_merge")
    val idx = Ivf.buildIndexCached(emb, src, path, kCells = 2, iters = 1)
    (0 until 4).foreach { b =>
      assert(Ivf.appendBatchIdempotent(idx,
        Seq((2000L + b, Array.fill(8)(0.3f + b * 0.1f))).toDF("vec_id", "embedding"),
        token = s"reopen:m$b"))
    }
    assert(Ivf.mergeSegments(spark, idx,
      MergePolicy(factor = 4, minMerge = 4, maxMerge = 8)).isDefined)
    val genM = IndexMaint.liveGenOpt(path).get
    val before = snapshot(path)
    Ivf.dropBuildMemo(path)
    val reopened = Ivf.buildIndexCached(emb, src, path, kCells = 2, iters = 1)
    assert(IndexMaint.liveGenOpt(path).contains(genM),
      "the merged generation must survive the miss (key carried by the merge)")
    assert(snapshot(path) === before,
      "reopen after a merge must not rewrite anything")
    val q = Seq((9L, Array.fill(8)(0.35f))).toDF("vec_id", "embedding")
    assert(Ivf.screenBatch(spark, reopened, q, k = 4, nprobe = 2)
      .select("vec_id").as[Long].collect().exists(_ >= 2000L),
      "the reopened index must serve the merged appends")
  }

  test("ivf: rewritten source is true staleness — the miss rebuilds and flips the pointer") {
    val src = writeEmb(60, 8, 13)
    val emb = spark.read.parquet(src)
    val path = tmpDir("reopen_ivf_stale")
    Ivf.buildIndexCached(emb, src, path, kCells = 2, iters = 1)
    val gen0 = IndexMaint.liveGenOpt(path).get
    Thread.sleep(10)
    val rnd = new scala.util.Random(14)
    (100L until 110L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.mode("append").parquet(src)
    val emb2 = spark.read.parquet(src)
    Ivf.dropBuildMemo(path)
    Ivf.buildIndexCached(emb2, src, path, kCells = 2, iters = 1)
    assert(!IndexMaint.liveGenOpt(path).contains(gen0),
      "a fingerprint mismatch must rebuild, not reopen stale data")
  }

  test("ivf: keyless pre-sidecar generation cannot prove reuse — one rebuild stamps the key") {
    val src = writeEmb(60, 8, 15)
    val emb = spark.read.parquet(src)
    val path = tmpDir("reopen_ivf_keyless")
    // a direct buildIndex call records no key (pre-sidecar layout)
    Ivf.buildIndex(emb, path, kCells = 2, iters = 1)
    val gen0 = IndexMaint.liveGenOpt(path).get
    assert(IndexMaint.readBuildKey(gen0).isEmpty)
    Ivf.buildIndexCached(emb, src, path, kCells = 2, iters = 1)
    val gen1 = IndexMaint.liveGenOpt(path).get
    assert(gen1 !== gen0, "keyless generation must be rebuilt once")
    assert(IndexMaint.readBuildKey(gen1).nonEmpty, "…and the rebuild stamps the key")
    val before = snapshot(path)
    Ivf.dropBuildMemo(path)
    Ivf.buildIndexCached(emb, src, path, kCells = 2, iters = 1)
    assert(snapshot(path) === before, "from then on every miss reopens")
  }

  test("pq: cached-build miss with matching on-disk key reopens — byte-identical, no pointer flip") {
    val src = writeEmb(80, 8, 16)
    val emb = spark.read.parquet(src)
    val path = tmpDir("reopen_pq")
    Pq.buildIndexCached(emb, src, path, m = 2, kSub = 4, iters = 1)
    val gen0 = IndexMaint.liveGenOpt(path).get
    val before = snapshot(path)
    Pq.dropBuildMemo(path)
    val reopened = Pq.buildIndexCached(emb, src, path, m = 2, kSub = 4, iters = 1)
    assert(IndexMaint.liveGenOpt(path).contains(gen0), "no pointer flip")
    assert(snapshot(path) === before,
      "a miss with a matching key must leave the generation byte-identical")
    val hits = Pq.adcTopK(spark, reopened,
      Seq((1L, Array.fill(8)(0.1d))), k = 3)
    assert(hits.count() === 3, "the reopened handle must serve ADC queries")
  }

  test("ivfpq residual: cached-build miss with matching on-disk key reopens — byte-identical") {
    val src = writeEmb(80, 8, 17)
    val emb = spark.read.parquet(src)
    val path = tmpDir("reopen_ivfpq")
    Pq.buildIndexCached(emb, src, path,
      m = 2, kSub = 4, iters = 1, kCells = Some(2))
    val gen0 = IndexMaint.liveGenOpt(path).get
    val before = snapshot(path)
    Pq.dropBuildMemo(path)
    val reopened = Pq.buildIndexCached(emb, src, path,
      m = 2, kSub = 4, iters = 1, kCells = Some(2))
    assert(IndexMaint.liveGenOpt(path).contains(gen0), "no pointer flip")
    assert(snapshot(path) === before,
      "a miss with a matching key must leave the generation byte-identical")
    val hits = Pq.screenTopKResidual(spark, reopened,
      Seq((1L, Array.fill(8)(0.1d))), k = 3, nprobe = 2)
    assert(hits.count() === 3, "the reopened handle must serve residual queries")
  }

  test("lex: cached-build miss with matching on-disk key reopens — byte-identical, no pointer flip") {
    val d = tmpDir("reopen_lex_src")
    (0L until 50L).map(i => (i, s"alpha beta gamma doc$i"))
      .toDF("doc_id", "text").write.parquet(s"$d/docs.parquet")
    val docs = spark.read.parquet(s"$d/docs.parquet")
    val path = tmpDir("reopen_lex")
    LexIndex.buildIndexCached(docs, s"$d/docs.parquet", path)
    val gen0 = IndexMaint.liveGenOpt(path).get
    val before = snapshot(path)
    LexIndex.dropBuildMemo(path)
    LexIndex.buildIndexCached(docs, s"$d/docs.parquet", path)
    assert(IndexMaint.liveGenOpt(path).contains(gen0), "no pointer flip")
    assert(snapshot(path) === before,
      "a miss with a matching key must not re-tokenize and rewrite postings")
    val res = LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 5)
    assert(res.count() === 5, "the reopened postings must serve BM25")
  }

  test("ivf: deleteWhereCached miss with recorded sweep reopens — no re-rewrite of the retention result") {
    import org.apache.spark.sql.functions.udf
    val src = writeEmb(60, 8, 18)
    val emb = spark.read.parquet(src)
    val path = tmpDir("reopen_ivf_ret")
    val oddUdf = udf((id: Long) => id % 2 == 1)
    def sweep() = Ivf.deleteWhereCached(emb, src, path,
      kCells = 2, iters = 0, oddUdf(col("vec_id")), Some("odd-ids"))
    sweep()
    val gen0 = IndexMaint.liveGenOpt(path).get
    assert(IndexMaint.readSweepKeys(gen0).contains("deleteWhere|odd-ids"),
      "the keyed deleteWhere must record itself on the generation")
    val before = snapshot(path)
    // what LRU pressure or a session restart does to BOTH memo layers
    Ivf.dropRetentionMemo(path); Ivf.dropBuildMemo(path)
    val reopened = sweep()
    assert(IndexMaint.liveGenOpt(path).contains(gen0),
      "a provable composition must reopen, not re-run the rewrite")
    assert(snapshot(path) === before,
      "the retention generation must be byte-identical after the miss")
    val survivors = Ivf.indexData(spark, reopened.path).select("vec_id")
      .as[Long].collect().toSet
    assert(survivors.nonEmpty && survivors.forall(_ % 2 == 0))
  }

  test("lex: a keyed sweep is recorded and carried through compaction") {
    val d = tmpDir("reopen_lex_sweep")
    (0L until 40L).map(i => (i, s"alpha beta doc$i"))
      .toDF("doc_id", "text").write.parquet(s"$d/docs.parquet")
    val docs = spark.read.parquet(s"$d/docs.parquet")
    val path = tmpDir("reopen_lex_ret")
    LexIndex.buildIndex(docs, path)
    LexIndex.deleteWhere(spark, path, col("doc_id") % 4 === 1,
      Some("deleteWhere|quarter"))
    val g1 = IndexMaint.liveGenOpt(path).get
    assert(IndexMaint.readSweepKeys(g1) === Set("deleteWhere|quarter"))
    // a later content-preserving commit must not lose the record
    LexIndex.deleteIds(path, Seq(0L, 4L))
    LexIndex.compactIndex(spark, path)
    val g2 = IndexMaint.liveGenOpt(path).get
    assert(g2 !== g1)
    assert(IndexMaint.readSweepKeys(g2) === Set("deleteWhere|quarter"),
      "compaction must carry the applied-sweep record")
    // and independent sweeps compose as a set
    LexIndex.deleteWhere(spark, path, col("doc_id") % 4 === 2,
      Some("deleteWhere|half"))
    assert(IndexMaint.readSweepKeys(IndexMaint.liveGenOpt(path).get) ===
      Set("deleteWhere|quarter", "deleteWhere|half"))
  }

  test("lex: sweep keys are one-shot — a fresh key re-enforces the predicate on post-sweep appends") {
    val d = tmpDir("reopen_lex_epoch")
    (0L until 40L).map(i => (i, s"alpha beta doc$i"))
      .toDF("doc_id", "text").write.parquet(s"$d/docs.parquet")
    val docs = spark.read.parquet(s"$d/docs.parquet")
    val path = tmpDir("reopen_lex_epoch_idx")
    LexIndex.buildIndex(docs, path)
    LexIndex.deleteWhere(spark, path, col("doc_id") % 4 === 1,
      Some("deleteWhere|epoch1"))
    // a doc appended AFTER the sweep, matching the predicate: the
    // recorded key is a one-shot receipt, not a standing policy — the
    // doc is served until a new enforcement epoch runs
    assert(LexIndex.appendBatchIdempotent(path,
      Seq((101L, "alpha beta late")).toDF("doc_id", "text"), "epoch:a"))
    def served(): Set[Long] = LexIndex.indexData(spark, path)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(served().contains(101L), "post-sweep append is outside the epoch")
    // the escape hatch: the same predicate under a fresh per-epoch key
    LexIndex.deleteWhere(spark, path, col("doc_id") % 4 === 1,
      Some("deleteWhere|epoch2"))
    assert(!served().contains(101L), "a fresh key re-enforces the predicate")
    assert(IndexMaint.readSweepKeys(IndexMaint.liveGenOpt(path).get) ===
      Set("deleteWhere|epoch1", "deleteWhere|epoch2"))
  }

  test("build-key sidecar: single-line contract enforced, torn key reads as absent") {
    val stage = tmpDir("reopen_key")
    intercept[IllegalArgumentException] {
      IndexMaint.writeBuildKey(stage, "two\nlines")
    }
    intercept[IllegalArgumentException] { IndexMaint.writeBuildKey(stage, "") }
    IndexMaint.writeBuildKey(stage, "ivf|src=42|kCells=4|iters=1")
    assert(IndexMaint.readBuildKey(stage).contains("ivf|src=42|kCells=4|iters=1"))
    // an empty/torn sidecar means "cannot prove reuse", never a crash
    java.nio.file.Files.write(
      java.nio.file.Paths.get(stage, "_build_key.txt"), Array.empty[Byte])
    assert(IndexMaint.readBuildKey(stage).isEmpty)
    assert(IndexMaint.readBuildKey(tmpDir("reopen_nokey")).isEmpty)
  }
}
