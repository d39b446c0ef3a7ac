package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PqSpec extends SparkTestBase {
  import spark.implicits._

  /** Clustered synthetic embeddings (the IvfSpec fixture shape): 8
    * well-separated Gaussian centers, 40 members each, plus a planted
    * near-copy of each query vector — the regime a quantizer exists for.
    */
  private lazy val dir: String = {
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(8)(Array.fill(32)(rnd.nextGaussian().toFloat * 5f))
    val base = (0 until 320).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + rnd.nextGaussian().toFloat * 0.5f))
    }
    val planted = (0 until 5).map { i =>
      ((320 + i).toLong, base(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val d = tmpDir("pq")
    (base ++ planted).toDF("vec_id", "embedding")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("encode matches a driver-side recompute (scan expression == reference argmin)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cbs = Pq.trainCodebooks(emb, m = 4, kSub = 8, iters = 2)
    val sparkCodes = Pq.encode(emb, cbs).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getInt).toSeq).toMap
    val raw = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    val subDim = cbs.head.head.length
    raw.foreach { case (id, v) =>
      val expect = (0 until 4).map { s =>
        val slice = java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim)
        cbs(s).zipWithIndex.map { case (c, j) =>
          (c.zip(slice).map { case (ci, vi) => (vi - ci) * (vi - ci) }.sum, j)
        }.min._2
      }
      assert(sparkCodes(id) === expect, s"codes diverge for vec $id")
    }
  }

  test("ADC recall: planted near-copies surface in the PQ top-10 on the clustered corpus") {
    // Two bars: the 5 PLANTED near-identical copies (cosine >= 0.999,
    // ADC distance ~0 — a quantizer that misses these is broken) must
    // all surface; the broader >= 0.95-cosine neighbor set only needs a
    // floor, because ADC ranks by L2 over quantized codes and the
    // in-cluster tail ordering legitimately differs from exact cosine.
    val exact = Similarity.bruteForceTopKAt(spark, dir, nQueries = 5, k = 10)
    val planted = exact.filter(col("score") >= 0.999)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.size >= 5, s"expected planted near-copies, got ${planted.size}")
    val close = exact.filter(col("score") >= 0.95)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Pq.pqAdcAt(spark, dir, nQueries = 5, k = 10, m = 4, kSub = 32, iters = 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.forall(approx.contains),
      s"every planted near-copy must be in the PQ top-10: missing ${planted.filterNot(approx.contains)}")
    val recall = close.count(approx.contains).toDouble / close.size
    assert(recall >= 0.5, s"PQ/ADC floor on the broad close set: $recall over ${close.size}")
  }

  test("finer codebooks do not hurt top-10 agreement with the exact ranking") {
    val exact = Similarity.bruteForceTopKAt(spark, dir, nQueries = 5, k = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = Seq(4, 16, 64).map { kSub =>
      val approx = Pq.pqAdcAt(spark, dir, nQueries = 5, k = 10, m = 4, kSub = kSub, iters = 3)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(approx.contains).toDouble / exact.size
    }
    // not asserting monotonicity pointwise (quantization noise), but the
    // finest codebook must beat the coarsest and clear a floor
    assert(overlap.last >= overlap.head,
      s"kSub=64 should beat kSub=4 on top-10 overlap: $overlap")
    assert(overlap.last >= 0.5, s"kSub=64 overlap floor: $overlap")
  }

  test("registered query: 5 queries x 10 ranked rows, distances ascending") {
    val out = Pq.pqAdc(spark, sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size === 5)
    byQ.values.foreach { rows =>
      assert(rows.length === 10)
      val d2 = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(d2.zip(d2.tail).forall { case (a, b) => a <= b })
      assert(d2.forall(_ >= 0.0))
    }
  }

  test("IVF-PQ: planted near-copies survive both prunes; wider probes never lose them") {
    val exact = Similarity.bruteForceTopKAt(spark, dir, nQueries = 5, k = 10)
    val planted = exact.filter(col("score") >= 0.999)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.size >= 5)
    // nprobe=2 of 8 cells AND 32-entry codebooks: the read prune and the
    // byte prune stack, and the ~identical copies still surface
    val got = Pq.ivfPqAnnAt(spark, dir, nQueries = 5, k = 10, kCells = 8,
      nprobe = 2, m = 4, kSub = 32, iters = 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.forall(got.contains),
      s"planted copies lost by IVF-PQ: ${planted.filterNot(got.contains)}")
    // candidate volume grows with nprobe (the read dial is real)
    val counts = Seq(1, 4, 8).map { np =>
      Pq.ivfPqAnnAt(spark, dir, nQueries = 5, k = 1000, kCells = 8,
        nprobe = np, m = 4, kSub = 32, iters = 3).count()
    }
    assert(counts.zip(counts.tail).forall { case (a, b) => a <= b }, s"$counts")
    assert(counts.last > counts.head, s"wider probes must rank more candidates: $counts")
  }

  test("residual IVF-PQ: planted copies survive; residual encoding is no worse than raw at identical bytes") {
    val exact = Similarity.bruteForceTopKAt(spark, dir, nQueries = 5, k = 10)
    val planted = exact.filter(col("score") >= 0.999)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.size >= 5)
    // trained setting (iters=3, kSub=32, 2-of-8 probes — the raw
    // variant's planted test settings): the near-identical copies must
    // survive the residual encoding too
    val resid = Pq.ivfPqResidualAt(spark, dir, nQueries = 5, k = 10,
        kCells = 8, nprobe = 2, m = 4, kSub = 32, iters = 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.forall(resid.contains),
      s"planted copies lost by residual IVF-PQ: ${planted.filterNot(resid.contains)}")
    // full probe (nprobe = kCells) isolates ENCODING quality from read
    // pruning: both variants rank the whole corpus at identical bytes,
    // differing only in what the m x kSub entries quantize
    val exactSet = exact.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val residFull = Pq.ivfPqResidualAt(spark, dir, nQueries = 5, k = 10,
        kCells = 8, nprobe = 8, m = 4, kSub = 16, iters = 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val raw = Pq.ivfPqAnnAt(spark, dir, nQueries = 5, k = 10,
        kCells = 8, nprobe = 8, m = 4, kSub = 16, iters = 3)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ovResid = exactSet.count(residFull.contains).toDouble / exactSet.size
    val ovRaw = exactSet.count(raw.contains).toDouble / exactSet.size
    assert(ovResid >= ovRaw,
      s"residual encoding must not lose to raw at identical bytes: $ovResid vs $ovRaw")
    assert(ovResid >= 0.5, s"residual top-10 overlap floor: $ovResid")
  }

  test("residual IVF-PQ registered query: 5 x 10 ranked rows, ascending distances, deterministic") {
    val df = Pq.ivfPqResidual(spark, sf)
    val out = df.collect()
    assert(out.groupBy(_.getLong(0)).size === 5)
    assert(out.length === 50)
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      val d2 = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(d2.zip(d2.tail).forall { case (a, b) => a <= b })
      assert(d2.forall(_ >= 0.0))
    }
    val again = Pq.ivfPqResidual(spark, sf).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("IVF-PQ registered query: 5 x 10 ranked rows, broadcast cid join in the plan") {
    val df = Pq.ivfPqAnn(spark, sf)
    val out = df.collect()
    assert(out.groupBy(_.getLong(0)).size === 5)
    assert(out.length === 50)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"probe side must broadcast on cid:\n$plan")
  }

  test("oracle iters=0 codebooks are sample slices verbatim; dimension must divide") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cbs = Pq.trainCodebooks(emb, m = 4, kSub = 8, iters = 0)
    assert(cbs.size === 4)
    assert(cbs.forall(_.size === 8))
    assert(cbs.forall(_.forall(_.length === 8))) // 32 / 4
    val e = intercept[IllegalArgumentException] {
      Pq.trainCodebooks(emb, m = 5, kSub = 8, iters = 0)
    }
    assert(e.getMessage.contains("not divisible"))
  }

  test("ADC scan plan: no shuffle before the top-k rank; query side broadcast") {
    val df = Pq.pqAdc(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"LUT side must broadcast:\n$plan")
    // exactly one real exchange: the (query_id) window rank — codes and
    // lookups are scan-side
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))
    assert(exchanges <= 2, s"ADC should shuffle only the rank + output sort:\n$plan")
  }
  test("zero vectors encode deterministically and never corrupt ADC ranking") {
    import spark.implicits._
    val d = tmpDir("pq_zero")
    val rnd = new scala.util.Random(71)
    val rows = (0L until 40L).map { i =>
      if (i % 10 == 3) (i, Array.fill(32)(0.0f))
      else (i, Array.fill(32)(rnd.nextGaussian().toFloat))
    }
    rows.toDF("vec_id", "embedding").write.parquet(s"$d/embeddings.parquet")
    val out = Pq.pqAdcAt(spark, d, nQueries = 3, k = 5, m = 4, kSub = 8, iters = 2)
      .collect()
    assert(out.groupBy(_.getLong(0)).size === 3)
    out.foreach(r => assert(!r.getDouble(3).isNaN && r.getDouble(3) >= 0.0))
    // determinism across plans with the degenerate vectors present
    val again = Pq.pqAdcAt(spark, d, nQueries = 3, k = 5, m = 4, kSub = 8, iters = 2)
      .collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("codebook drift: shifted appends fire the dial and drop ADC recall@50; rebalance restores both") {
    val rnd = new scala.util.Random(67)
    val dim = 64
    val cBase = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat * 5f))
    def around(c: Array[Float], noise: Float) =
      c.map(x => x + rnd.nextGaussian().toFloat * noise)
    val tmp = tmpDir("pq_drift")
    (0 until 400).map(i => (i.toLong, around(cBase(i % 8), 0.3f)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index0 = Pq.buildIndex(spark.read.parquet(s"$tmp/base"), s"$tmp/index",
      m = 4, kSub = 16, iters = 2)
    // fresh index: fit-stat sidecar matches current contents, dial silent
    val dr0 = Pq.pqDriftStats(spark, index0)
    assert(!dr0.drifted(), s"fresh index must not read as drifted: ${dr0.meanD2Build} -> ${dr0.meanD2Now}")
    // the stored-code drift path (assigned-entry distance resolved from
    // c0..c(m-1)) must reproduce the encode-time kSub-way argmin's
    // distances — same folds, so equal up to avg's partition-combine
    // reorder of the identical addends
    assert(math.abs(dr0.meanD2Now - dr0.meanD2Build)
        <= 1e-9 * math.max(1.0, dr0.meanD2Build),
      s"stored-code stats must match encode-time stats: ${dr0.meanD2Build} vs ${dr0.meanD2Now}")
    // a SAME-distribution append keeps the dial silent
    Pq.appendBatch(index0, (500 until 600)
      .map(i => (i.toLong, around(cBase(i % 8), 0.3f)))
      .toDF("vec_id", "embedding"))
    assert(!Pq.pqDriftStats(spark, index0).drifted(),
      "same-distribution appends must not fire the dial")
    // shifted wave: new clusters in a region the codebooks never saw
    val cShift = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat * 5f))
    Pq.appendBatch(index0, (1000 until 1500)
      .map(i => (i.toLong, around(cShift(i % 8), 0.3f)))
      .toDF("vec_id", "embedding"))
    val dr1 = Pq.pqDriftStats(spark, index0)
    assert(dr1.drifted(),
      s"shifted appends must fire the dial: ${dr1.meanD2Build} -> ${dr1.meanD2Now}")
    // ADC recall@50 on shifted queries rots under the stale codebooks...
    val queries = (0 until 10).map { q =>
      ((9000 + q).toLong, around(cShift(q % 8), 0.3f).map(_.toDouble))
    }
    val before = Pq.recallAtK(spark, index0, queries, 50)
    // ...and the retrain + one-scan re-encode + atomic swap restores it
    val rebuilt = Pq.rebalance(spark, index0, iters = 2)
    val after = Pq.recallAtK(spark, rebuilt, queries, 50)
    assert(after > before,
      s"rebalance must improve shifted-query recall: $before -> $after")
    assert(after >= 0.8, s"post-rebalance recall@50 too low: $after")
    assert(!Pq.pqDriftStats(spark, rebuilt).drifted(),
      "rebalance must leave a healthy index")
    // the swap preserved every vector and the sidecars reopened cleanly
    val reopened = Pq.loadIndex(s"$tmp/index")
    assert(reopened.codebooks.size === 4)
    assert(Pq.indexData(spark, s"$tmp/index").count() === 1000L)
  }

  test("appendBatchIdempotent: a replayed batch no-ops, even across a rebalance swap") {
    val rnd = new scala.util.Random(53)
    val tmp = tmpDir("pq_idem")
    (0 until 300).map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index = Pq.buildIndex(spark.read.parquet(s"$tmp/base"), s"$tmp/index",
      m = 4, kSub = 8, iters = 1)
    val batch = (1000 until 1010).map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    assert(Pq.appendBatchIdempotent(index, batch, token = "ingest:3"))
    assert(Pq.indexData(spark, s"$tmp/index").count() === 310L)
    assert(!Pq.appendBatchIdempotent(index, batch, token = "ingest:3"))
    assert(Pq.indexData(spark, s"$tmp/index").count() === 310L)
    val rebuilt = Pq.rebalance(spark, index, iters = 1)
    assert(!Pq.appendBatchIdempotent(rebuilt, batch, token = "ingest:3"),
      "the applied-token sidecar must survive the rebalance swap")
    assert(Pq.indexData(spark, s"$tmp/index").count() === 310L)
  }

  test("screenBatchAdc (distributed, no driver LUTs) ranks exactly like adcTopK") {
    val rnd = new scala.util.Random(59)
    val tmp = tmpDir("pq_screen")
    (0 until 300).map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index = Pq.buildIndex(spark.read.parquet(s"$tmp/base"), s"$tmp/index",
      m = 4, kSub = 8, iters = 2)
    // float source vectors so both paths widen the SAME values to double
    val qf = (0 until 5).map(q => ((900 + q).toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val qvecs = qf.map { case (id, v) => (id, v.map(_.toDouble)) }
    val delta = qf.toDF("vec_id", "embedding")
    val viaLut = Pq.adcTopK(spark, index, qvecs, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val distributed = Pq.screenBatchAdc(spark, index, delta, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(distributed === viaLut,
      "the distributed ADC screen must rank identically to the LUT path")
  }

  test("screenBatchResidual (distributed, no driver LUTs) ranks exactly like screenTopKResidual") {
    val rnd = new scala.util.Random(61)
    val tmp = tmpDir("pq_res_screen")
    (0 until 300).map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index = Pq.buildIndex(spark.read.parquet(s"$tmp/base"),
      s"$tmp/index", m = 4, kSub = 8, iters = 2, kCells = Some(8))
    // float source vectors so both paths widen the SAME values to double
    val qf = (0 until 5).map(q => ((900 + q).toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val qvecs = qf.map { case (id, v) => (id, v.map(_.toDouble)) }
    val delta = qf.toDF("vec_id", "embedding")
    val viaLut = Pq.screenTopKResidual(spark, index, qvecs, k = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      .sortBy(t => (t._1, t._2))
    val distributed = Pq.screenBatchResidual(spark, index, delta, k = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      .sortBy(t => (t._1, t._2))
    assert(distributed === viaLut,
      "the distributed residual screen must rank (and score) identically to the driver-LUT path")
  }

  test("residual index: drift dial + composed rebalance (coarse retrain, codebook retrain, re-encode) restore shifted recall") {
    val rnd = new scala.util.Random(73)
    val dim = 64
    val cBase = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat * 5f))
    def around(c: Array[Float], noise: Float) =
      c.map(x => x + rnd.nextGaussian().toFloat * noise)
    val tmp = tmpDir("ivfpq_drift")
    (0 until 400).map(i => (i.toLong, around(cBase(i % 8), 0.3f)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index0 = Pq.buildIndex(spark.read.parquet(s"$tmp/base"),
      s"$tmp/index", m = 4, kSub = 16, iters = 2, kCells = Some(8))
    // fresh index: the stored-code residual drift path reproduces the
    // encode-time stats (same folds, avg partition-reorder tolerance)
    val dr0 = Pq.pqDriftStats(spark, index0)
    assert(!dr0.drifted(), s"fresh residual index must not drift: ${dr0.meanD2Build} -> ${dr0.meanD2Now}")
    assert(math.abs(dr0.meanD2Now - dr0.meanD2Build)
        <= 1e-9 * math.max(1.0, dr0.meanD2Build),
      s"stored-code residual stats must match encode-time: ${dr0.meanD2Build} vs ${dr0.meanD2Now}")
    // shifted wave through the TOKENED append: fires the residual dial
    val cShift = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat * 5f))
    val wave = (1000 until 1500).map(i => (i.toLong, around(cShift(i % 8), 0.3f)))
      .toDF("vec_id", "embedding").localCheckpoint()
    assert(Pq.appendBatchIdempotent(index0, wave, token = "ingest:w"))
    val dr1 = Pq.pqDriftStats(spark, index0)
    assert(dr1.drifted(),
      s"shifted appends must fire the residual dial: ${dr1.meanD2Build} -> ${dr1.meanD2Now}")
    // probed-cell recall@50 on shifted queries rots, the COMPOSED
    // rebalance (coarse + codebooks + re-encode) restores it
    val queries = (0 until 10).map { q =>
      ((9000 + q).toLong, around(cShift(q % 8), 0.3f).map(_.toDouble))
    }
    val before = Pq.recallAtKResidual(spark, index0, queries, 50, nprobe = 2)
    val rebuilt = Pq.rebalance(spark, index0, iters = 2)
    val after = Pq.recallAtKResidual(spark, rebuilt, queries, 50, nprobe = 2)
    assert(after > before,
      s"composed rebalance must improve shifted recall: $before -> $after")
    assert(after >= 0.8, s"post-rebalance residual recall@50 too low: $after")
    assert(!Pq.pqDriftStats(spark, rebuilt).drifted(),
      "composed rebalance must leave a healthy index")
    // replay of the pre-rebalance token still no-ops (tokens carried)
    assert(!Pq.appendBatchIdempotent(rebuilt, wave, token = "ingest:w"),
      "applied tokens must survive the composed rebalance")
    val reopened = Pq.loadIndex(s"$tmp/index")
    assert(reopened.coarse.map(_.length) === Some(8) && reopened.codebooks.size === 4)
    assert(Pq.indexData(spark, s"$tmp/index").count() === 900L)
  }

  test("residual screen prunes the index scan to probed-cell partitions") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def expand(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => pl +: expand(a.executedPlan)
      case q: QueryStageExec => pl +: expand(q.plan)
      case _ => pl +: pl.children.flatMap(expand)
    }
    val rnd = new scala.util.Random(79)
    val tmp = tmpDir("ivfpq_prune")
    val cBase = Array.fill(8)(Array.fill(32)(rnd.nextGaussian().toFloat * 5f))
    (0 until 400).map(i => (i.toLong,
      cBase(i % 8).map(x => x + rnd.nextGaussian().toFloat * 0.3f)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index = Pq.buildIndex(spark.read.parquet(s"$tmp/base"),
      s"$tmp/index", m = 4, kSub = 8, iters = 2, kCells = Some(8))
    val q = Seq((9000L,
      cBase(3).map(x => (x + rnd.nextGaussian().toFloat * 0.3f).toDouble).toArray))
    val res = Pq.screenTopKResidual(spark, index, q, k = 5, nprobe = 2)
    assert(res.collect().nonEmpty)
    val scans = expand(res.queryExecution.executedPlan).collect {
      case sc: FileSourceScanExec
          if sc.relation.location.rootPaths.exists(_.toString.contains("ivfpq_prune")) => sc
    }
    assert(scans.nonEmpty, "index scan missing from plan")
    assert(scans.head.partitionFilters.nonEmpty,
      "probed cids must prune as partition filters")
    assert(scans.head.metrics("numPartitions").value <= 2L,
      s"1 query x 2 probes must read at most 2 cell partitions, read ${scans.head.metrics("numPartitions").value}")
  }

  test("crash injection: a crashed rebalance stage never becomes visible; loadIndex serves the committed generation") {
    import graft.util.IndexMaint
    val rnd = new scala.util.Random(31)
    val tmp = tmpDir("pq_crash")
    (0 until 200).map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index = Pq.buildIndex(spark.read.parquet(s"$tmp/base"), s"$tmp/index",
      m = 4, kSub = 8, iters = 1)
    // simulate a rebalance crash: a fully-written stage that never got
    // its generation commit (pointer flip)
    val stage = IndexMaint.newStageDir(s"$tmp/index", "rebalance")
    (0 until 7).map(i => (i.toLong, Array.fill(32)(0.0f)))
      .toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$stage/seg=base")
    val recovered = Pq.loadIndex(s"$tmp/index")
    assert(recovered.codebooks.size === index.codebooks.size)
    assert(Pq.indexData(spark, s"$tmp/index").count() === 200L,
      "the live generation must be the last COMMITTED one, not the crashed stage")
    // the next mutation reaps the crashed stage
    val batch = (500 until 505).map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    assert(Pq.appendBatchIdempotent(recovered, batch, token = "ingest:r"))
    assert(Pq.indexData(spark, s"$tmp/index").count() === 205L)
    val stale = new java.io.File(s"$tmp/index").listFiles()
      .filter(_.getName.startsWith(".stage-"))
    assert(stale.isEmpty, s"crashed stages must be reaped: ${stale.mkString(",")}")
  }

  test("two writers: concurrent append and rebalance on the same index serialize; screens agree with a batch rebuild") {
    val rnd = new scala.util.Random(37)
    val tmp = tmpDir("pq_two_writer")
    (0 until 400).map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$tmp/base")
    val index = Pq.buildIndex(spark.read.parquet(s"$tmp/base"), s"$tmp/index",
      m = 4, kSub = 8, iters = 1)
    val batches = (0 until 4).map { b =>
      ((1000 + 10 * b) until (1010 + 10 * b))
        .map(i => (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding").localCheckpoint()
    }
    // writer A: four tokened appends; writer B: two rebalances — racing
    // on the same root, serialized by the per-path monitor + lease
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val a = new Thread(() => try {
      batches.zipWithIndex.foreach { case (b, i) =>
        Pq.appendBatchIdempotent(Pq.loadIndex(s"$tmp/index"), b, token = s"ingest:$i")
      }
    } catch { case t: Throwable => errs.add(t) })
    val b = new Thread(() => try {
      (0 until 2).foreach { _ =>
        Pq.rebalance(spark, Pq.loadIndex(s"$tmp/index"), iters = 1)
      }
    } catch { case t: Throwable => errs.add(t) })
    a.start(); b.start(); a.join(); b.join()
    assert(errs.isEmpty, s"two-writer race must serialize, got ${errs.toArray.mkString(";")}")
    // nothing lost, nothing duplicated: 400 base + 40 appended
    assert(Pq.indexData(spark, s"$tmp/index").count() === 440L)
    assert(Pq.indexData(spark, s"$tmp/index").select("vec_id").distinct().count() === 440L)
    // replays of every token still no-op after the rebalances
    batches.zipWithIndex.foreach { case (bt, i) =>
      assert(!Pq.appendBatchIdempotent(Pq.loadIndex(s"$tmp/index"), bt, token = s"ingest:$i"))
    }
  }

  test("compactIndex: files collapse; ADC screens, tokens and the fit baseline are identical") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxPath = tmpDir("pq_cmp")
    val index = Pq.buildIndex(emb.filter(col("vec_id") < 280), idxPath,
      m = 4, kSub = 8, iters = 2)
    (0 until 4).foreach { b =>
      assert(Pq.appendBatchIdempotent(index,
        emb.filter(col("vec_id") >= 280 + b * 10 && col("vec_id") < 290 + b * 10),
        s"seg:$b"))
    }
    val queryVecs = emb.filter(col("vec_id") >= 320).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble))).toSeq
    def dataFiles(): Seq[String] = {
      val live = java.nio.file.Paths.get(graft.util.IndexMaint.liveGen(idxPath))
      val walk = java.nio.file.Files.walk(live)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq
      } finally walk.close()
    }
    def screen(): Seq[String] =
      Pq.adcTopK(spark, Pq.loadIndex(idxPath), queryVecs, k = 10)
        .collect().map(_.toString).sorted.toSeq
    val filesBefore = dataFiles().size
    val screenBefore = screen()
    val driftBefore = Pq.pqDriftStats(spark, Pq.loadIndex(idxPath))
    val compacted = Pq.compactIndex(spark, Pq.loadIndex(idxPath))
    assert(dataFiles().size === 1,
      s"numFiles=1 compaction must leave one data file, got ${dataFiles().size}")
    assert(dataFiles().size < filesBefore)
    assert(Pq.indexData(spark, idxPath).count() === 320)
    assert(screen() === screenBefore, "ADC screens must be identical across compaction")
    assert(!Pq.appendBatchIdempotent(compacted,
      emb.filter(col("vec_id") >= 280 && col("vec_id") < 290), "seg:0"),
      "applied tokens must survive compaction")
    val driftAfter = Pq.pqDriftStats(spark, compacted)
    assert(driftAfter.build === driftBefore.build, "compaction must not reset the fit baseline")
    assert(driftAfter.now.map(_.n) === driftBefore.now.map(_.n))
    // a fresh batch still lands on the compacted generation
    assert(Pq.appendBatchIdempotent(compacted,
      emb.filter(col("vec_id") >= 320), "seg:new"))
    assert(Pq.indexData(spark, idxPath).count() === 325)
  }

  test("rerankTopK serves from the persisted index alone: exact stored-vector distances, copies right behind self") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxPath = tmpDir("pq_rr")
    val index = Pq.buildIndex(emb, idxPath, m = 4, kSub = 8, iters = 2)
    val queryVecs = emb.filter(col("vec_id") < 5).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble))).toSeq
    val got = Pq.rerankTopK(spark, index, queryVecs, k = 10, rr = 80).collect()
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    got.foreach { r =>
      val (a, b) = (vecs(r.getLong(0)), vecs(r.getLong(2)))
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      assert(r.getDouble(3) === s, "rerankTopK must report exact stored-vector L2")
    }
    // the query is an index member: exact rerank puts it at distance 0,
    // its planted ~0.01-radius copy immediately after — an ordering the
    // quantized codes cannot express (both collapse to the same codes)
    (0L until 5L).foreach { q =>
      val mine = got.filter(_.getLong(0) == q).sortBy(_.getInt(1))
      assert(mine.head.getLong(2) === q && mine.head.getDouble(3) === 0.0)
      assert(mine(1).getLong(2) === 320L + q,
        s"query $q: the planted copy must follow the query itself")
    }
  }

  test("rerank buys back screen misses: exact distances, planted copies at rank 1") {
    // rr = 80 > cluster size: mates can share the query's exact codes
    // (coarse kSub=8 codebooks), and an ADC tie breaks by vec_id — the
    // high-id planted copy must not be cut by a screen the size of its
    // own tie group
    val got = Pq.pqRerankAt(spark, dir, nQueries = 5, k = 10, rr = 80,
      m = 4, kSub = 8, iters = 2).collect()
    assert(got.length === 50)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def exactD2(q: Long, v: Long): Double = {
      val (a, b) = (vecs(q), vecs(v)); var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      s
    }
    // every reported distance is the TRUE L2 — the defining property of
    // the rerank stage (ADC distances are approximations)
    got.foreach { r =>
      assert(r.getDouble(3) === exactD2(r.getLong(0), r.getLong(2)),
        s"rerank must report exact distances (query ${r.getLong(0)}, vec ${r.getLong(2)})")
    }
    // per query: ranks 1..10, distances ascending, planted copy first —
    // the copy shares the query's codes so it survives any screen, and
    // exact rerank puts it where ADC cannot (quantization collapses the
    // ~0.01-radius gap between the copy and cluster mates)
    (0L until 5L).foreach { q =>
      val mine = got.filter(_.getLong(0) == q).sortBy(_.getInt(1))
      assert(mine.map(_.getInt(1)).toSeq === (1 to 10))
      val d2s = mine.map(_.getDouble(3))
      assert(d2s.zip(d2s.tail).forall { case (a, b) => a <= b })
      assert(mine.head.getLong(2) === 320L + q,
        s"query $q: exact rerank must surface the planted copy at rank 1")
    }
  }

  test("residual rerank: exact stored-vector distances where residual ADC tie-collapses; self at 0, copy right behind") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxPath = tmpDir("ivfpq_rr")
    val index = Pq.buildIndex(emb, idxPath, m = 4,
      kSub = 8, iters = 2, kCells = Some(8))
    val queryVecs = emb.filter(col("vec_id") < 5).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble))).toSeq
    val got = Pq.rerankTopKResidual(spark, index, queryVecs, k = 10, rr = 80,
      nprobe = 2).collect()
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    got.foreach { r =>
      val (a, b) = (vecs(r.getLong(0)), vecs(r.getLong(2)))
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      assert(r.getDouble(3) === s, "residual rerank must report exact stored-vector L2")
    }
    // pure residual ADC collapses the query, its ~0.01-radius planted
    // copy and close cluster mates onto few code tuples; the exact
    // rerank restores the true order: self at distance 0, copy second
    (0L until 5L).foreach { q =>
      val mine = got.filter(_.getLong(0) == q).sortBy(_.getInt(1))
      assert(mine.map(_.getInt(1)).toSeq === (1 to 10))
      assert(mine.head.getLong(2) === q && mine.head.getDouble(3) === 0.0)
      assert(mine(1).getLong(2) === 320L + q,
        s"query $q: the planted copy must follow the query itself")
      val d2s = mine.map(_.getDouble(3))
      assert(d2s.zip(d2s.tail).forall { case (a, b) => a <= b })
    }
  }

  test("deletes: honored by ADC screen and rerank on the flat index; physically reclaimed with a recomputed fit baseline at compaction") {
    import graft.util.IndexMaint
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxPath = tmpDir("pq_del")
    val index = Pq.buildIndex(emb, idxPath, m = 4, kSub = 8, iters = 2)
    val queryVecs = emb.filter(col("vec_id") < 5).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble))).toSeq
    val doomed = Seq(320L, 321L, 322L, 323L, 324L)
    // precondition via the exact rerank (ADC tie groups at kSub=8 can
    // legitimately push high-id copies off a k=10 page): the copy sits
    // right behind self before deletion
    assert(Pq.rerankTopK(spark, index, queryVecs, k = 10, rr = 80).collect()
      .exists(r => r.getLong(0) == 0L && r.getLong(2) == 320L),
      "precondition: copy 320 ranks before deletion")
    assert(Pq.deleteIds(index, doomed) === 5)
    assert(Pq.indexData(spark, idxPath).count() === 320)
    assert(!Pq.adcTopK(spark, index, queryVecs, k = 10).collect()
      .exists(r => doomed.contains(r.getLong(2))), "ADC screen must not serve deleted ids")
    val rr = Pq.rerankTopK(spark, index, queryVecs, k = 10, rr = 80).collect()
    assert(!rr.exists(r => doomed.contains(r.getLong(2))), "rerank must not serve deleted ids")
    assert(rr.groupBy(_.getLong(0)).values.forall(_.length == 10),
      "deletion must not shrink the page below k (no post-rank filtering)")
    // drift sees live contents only
    assert(Pq.pqDriftStats(spark, index).now.map(_.n).sum === 320L * 4)
    // compaction: rows dropped from the files, sidecar cleared, fit
    // baseline recomputed over survivors (NOT carried)
    val screenBefore = Pq.adcTopK(spark, index, queryVecs, k = 10)
      .collect().map(_.toString).sorted.toSeq
    val compacted = Pq.compactIndex(spark, index)
    val liveGen = IndexMaint.liveGen(idxPath)
    assert(IndexMaint.readTombstones(liveGen).isEmpty)
    assert(spark.read.parquet(liveGen).count() === 320)
    assert(Pq.pqDriftStats(spark, compacted).build.map(_.n).sum === 320L * 4,
      "post-delete compaction must recompute the fit baseline over survivors")
    assert(Pq.adcTopK(spark, compacted, queryVecs, k = 10)
      .collect().map(_.toString).sorted.toSeq === screenBefore,
      "screens identical across physical reclamation")
  }

  test("deletes on the residual index: screen + rerank honor them; a new append re-inserts; replay cannot resurrect") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxPath = tmpDir("ivfpq_del")
    val index = Pq.buildIndex(emb.filter(col("vec_id") < 320), idxPath,
      m = 4, kSub = 8, iters = 2, kCells = Some(8))
    val batch = emb.filter(col("vec_id") >= 320).localCheckpoint()
    assert(Pq.appendBatchIdempotent(index, batch, token = "ingest:c"))
    val queryVecs = emb.filter(col("vec_id") < 5).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble))).toSeq
    val doomed = Seq(320L, 321L)
    Pq.deleteIds(index, doomed)
    val scr = Pq.screenTopKResidual(spark, index, queryVecs, k = 10, nprobe = 8).collect()
    assert(!scr.exists(r => doomed.contains(r.getLong(2))))
    val rr = Pq.rerankTopKResidual(spark, index, queryVecs, k = 10, rr = 40, nprobe = 8).collect()
    assert(!rr.exists(r => doomed.contains(r.getLong(2))))
    // the REPLAY of the applied batch no-ops: deletes survive it
    assert(!Pq.appendBatchIdempotent(index, batch, token = "ingest:c"))
    assert(Pq.indexData(spark, idxPath).filter(col("vec_id") === 320L).count() === 0)
    // a genuinely NEW append re-inserts 320 (later insert wins); 321 stays gone
    assert(Pq.appendBatchIdempotent(index,
      emb.filter(col("vec_id") === 320L), token = "readd:1"))
    assert(Pq.indexData(spark, idxPath).filter(col("vec_id") === 320L).count() === 1)
    assert(Pq.indexData(spark, idxPath).filter(col("vec_id") === 321L).count() === 0)
    // residual compaction reclaims the remaining tombstone physically
    val compacted = Pq.compactIndex(spark, index)
    val liveGen = graft.util.IndexMaint.liveGen(idxPath)
    assert(graft.util.IndexMaint.readTombstones(liveGen).isEmpty)
    assert(spark.read.parquet(liveGen).filter(col("vec_id") === 321L).count() === 0)
    assert(Pq.indexData(spark, idxPath).count() === 324)
    assert(Pq.pqDriftStats(spark, compacted).build.map(_.n).sum === 324L * 4)
  }

  test("upsert == delete-then-insert composed, on the flat and residual indexes; replay no-ops; the rerank serves the new vector") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.filter(col("vec_id") < 320).localCheckpoint()
    val batch = emb.filter(col("vec_id").isin(320L, 321L, 322L))
      .select((col("vec_id") - 310L).as("vec_id"), col("embedding"))
      .localCheckpoint()
    val queryVecs = emb.filter(col("vec_id") < 5).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble))).toSeq
    // flat PQ: identical deterministic builds, upsert vs the composition
    val a = Pq.buildIndex(base, tmpDir("pq_ups_a"), m = 4, kSub = 8, iters = 2)
    val b = Pq.buildIndex(base, tmpDir("pq_ups_b"), m = 4, kSub = 8, iters = 2)
    assert(Pq.upsertBatchIdempotent(a, batch, "ups:1"))
    Pq.deleteIds(b, Seq(10L, 11L, 12L))
    assert(Pq.appendBatchIdempotent(b, batch, "ups:1"))
    assert(Pq.adcTopK(spark, a, queryVecs, k = 10).collect().map(_.toString).sorted.toSeq
      === Pq.adcTopK(spark, b, queryVecs, k = 10).collect().map(_.toString).sorted.toSeq,
      "PQ upsert must equal deleteIds + append composed")
    assert(!Pq.upsertBatchIdempotent(a, batch, "ups:1"))
    assert(Pq.indexData(spark, a.path).count() === 320)
    // residual IVF-PQ: same claim, plus the exact rerank serving the
    // re-embedded vector at the head of its donor's query
    val ra = Pq.buildIndex(base, tmpDir("ivfpq_ups_a"),
      m = 4, kSub = 8, iters = 2, kCells = Some(8))
    val rb = Pq.buildIndex(base, tmpDir("ivfpq_ups_b"),
      m = 4, kSub = 8, iters = 2, kCells = Some(8))
    assert(Pq.upsertBatchIdempotent(ra, batch, "ups:1"))
    Pq.deleteIds(rb, Seq(10L, 11L, 12L))
    assert(Pq.appendBatchIdempotent(rb, batch, "ups:1"))
    assert(Pq.screenTopKResidual(spark, ra, queryVecs, k = 10, nprobe = 8)
      .collect().map(_.toString).sorted.toSeq
      === Pq.screenTopKResidual(spark, rb, queryVecs, k = 10, nprobe = 8)
        .collect().map(_.toString).sorted.toSeq,
      "residual upsert must equal deleteIds + append composed")
    val rr = Pq.rerankTopKResidual(spark, ra, queryVecs, k = 10, rr = 40, nprobe = 8)
      .collect()
    assert(rr.exists(r => r.getLong(0) == 0L && r.getLong(2) == 10L && r.getInt(1) <= 2),
      "the exact rerank must serve the re-embedded vector at the head")
    assert(!Pq.upsertBatchIdempotent(ra, batch, "ups:1"))
    assert(Pq.indexData(spark, ra.path).count() === 320)
  }

  test("applyCdcIdempotent: one mixed CDC batch == delete+append+upsert composed, on the flat and residual indexes; replays no-op") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.filter(col("vec_id") < 320).localCheckpoint()
    // one batch: delete ids 0..2, insert new ids 900..901 (embeddings
    // of 320..321), upsert id 10 with 322's embedding
    val cdc = base.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"), lit("delete").as("op"))
      .unionByName(emb.filter(col("vec_id").isin(320L, 321L))
        .select((col("vec_id") + 580L).as("vec_id"), col("embedding"),
          lit("insert").as("op")))
      .unionByName(emb.filter(col("vec_id") === 322L)
        .select(lit(10L).as("vec_id"), col("embedding"), lit("upsert").as("op")))
      .localCheckpoint()
    val queryVecs = emb.filter(col("vec_id") < 5).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble))).toSeq
    // flat PQ
    val a = Pq.buildIndex(base, tmpDir("pq_cdc_a"), m = 4, kSub = 8, iters = 2)
    val b = Pq.buildIndex(base, tmpDir("pq_cdc_b"), m = 4, kSub = 8, iters = 2)
    assert(Pq.applyCdcIdempotent(a, cdc, "cdc:1"))
    Pq.deleteIds(b, Seq(0L, 1L, 2L))
    assert(Pq.appendBatchIdempotent(b, emb.filter(col("vec_id").isin(320L, 321L))
      .select((col("vec_id") + 580L).as("vec_id"), col("embedding")), "x:1"))
    assert(Pq.upsertBatchIdempotent(b, emb.filter(col("vec_id") === 322L)
      .select(lit(10L).as("vec_id"), col("embedding")), "x:2"))
    assert(Pq.adcTopK(spark, a, queryVecs, k = 10).collect().map(_.toString).sorted.toSeq
      === Pq.adcTopK(spark, b, queryVecs, k = 10).collect().map(_.toString).sorted.toSeq,
      "flat-PQ CDC must equal the composed mutations")
    assert(!Pq.applyCdcIdempotent(a, cdc, "cdc:1"))
    assert(Pq.indexData(spark, a.path).count() === 320 - 3 + 2)
    // residual IVF-PQ
    val ra = Pq.buildIndex(base, tmpDir("ivfpq_cdc_a"),
      m = 4, kSub = 8, iters = 2, kCells = Some(8))
    val rb = Pq.buildIndex(base, tmpDir("ivfpq_cdc_b"),
      m = 4, kSub = 8, iters = 2, kCells = Some(8))
    assert(Pq.applyCdcIdempotent(ra, cdc, "cdc:1"))
    Pq.deleteIds(rb, Seq(0L, 1L, 2L))
    assert(Pq.appendBatchIdempotent(rb,
      emb.filter(col("vec_id").isin(320L, 321L))
        .select((col("vec_id") + 580L).as("vec_id"), col("embedding")), "x:1"))
    assert(Pq.upsertBatchIdempotent(rb, emb.filter(col("vec_id") === 322L)
      .select(lit(10L).as("vec_id"), col("embedding")), "x:2"))
    assert(Pq.screenTopKResidual(spark, ra, queryVecs, k = 10, nprobe = 8)
      .collect().map(_.toString).sorted.toSeq
      === Pq.screenTopKResidual(spark, rb, queryVecs, k = 10, nprobe = 8)
        .collect().map(_.toString).sorted.toSeq,
      "residual CDC must equal the composed mutations")
    assert(!Pq.applyCdcIdempotent(ra, cdc, "cdc:1"))
    assert(Pq.indexData(spark, ra.path).count() === 320 - 3 + 2)
  }

  test("deleteWhere: the retention rewrite equals the tombstone path, flat and residual") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = emb.filter(col("vec_id") < 320).localCheckpoint()
    val doomedIds = (0L until 320L).filter(_ % 4 == 1)
    val queryVecs = emb.filter(col("vec_id") < 5).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble))).toSeq
    val a = Pq.buildIndex(base, tmpDir("pq_dw_a"), m = 4, kSub = 8, iters = 2)
    val b = Pq.buildIndex(base, tmpDir("pq_dw_b"), m = 4, kSub = 8, iters = 2)
    val a2 = Pq.deleteWhere(spark, a, col("vec_id") % 4 === 1)
    Pq.deleteIds(b, doomedIds)
    val b2 = Pq.compactIndex(spark, b)
    assert(Pq.adcTopK(spark, a2, queryVecs, k = 10).collect().map(_.toString).sorted.toSeq
      === Pq.adcTopK(spark, b2, queryVecs, k = 10).collect().map(_.toString).sorted.toSeq)
    assert(graft.util.IndexMaint.readTombstones(
      graft.util.IndexMaint.liveGen(a2.path)).isEmpty)
    val ra = Pq.buildIndex(base, tmpDir("ivfpq_dw_a"),
      m = 4, kSub = 8, iters = 2, kCells = Some(8))
    val rb = Pq.buildIndex(base, tmpDir("ivfpq_dw_b"),
      m = 4, kSub = 8, iters = 2, kCells = Some(8))
    val ra2 = Pq.deleteWhere(spark, ra, col("vec_id") % 4 === 1)
    Pq.deleteIds(rb, doomedIds)
    val rb2 = Pq.compactIndex(spark, rb)
    assert(Pq.screenTopKResidual(spark, ra2, queryVecs, k = 10, nprobe = 8)
      .collect().map(_.toString).sorted.toSeq
      === Pq.screenTopKResidual(spark, rb2, queryVecs, k = 10, nprobe = 8)
        .collect().map(_.toString).sorted.toSeq)
  }

  test("filtered residual screen: predicate binds under the cid partition filter; every hit satisfies it; full page at k") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def expand(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => pl +: expand(a.executedPlan)
      case q: QueryStageExec => pl +: expand(q.plan)
      case _ => pl +: pl.children.flatMap(expand)
    }
    val rnd = new scala.util.Random(41)
    val tmp = tmpDir("ivfpq_filter")
    val cBase = Array.fill(8)(Array.fill(32)(rnd.nextGaussian().toFloat * 5f))
    (0 until 400).map(i => (i.toLong,
      cBase(i % 8).map(x => x + rnd.nextGaussian().toFloat * 0.3f), i % 4))
      .toDF("vec_id", "embedding", "label").write.parquet(s"$tmp/base")
    // metadata pass-through: label lands in the index files
    val index = Pq.buildIndex(spark.read.parquet(s"$tmp/base"),
      s"$tmp/index", m = 4, kSub = 8, iters = 2, kCells = Some(8))
    val labels = spark.read.parquet(s"$tmp/base").collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    val q = Seq((9000L,
      cBase(3).map(x => (x + rnd.nextGaussian().toFloat * 0.3f).toDouble).toArray))
    val res = Pq.screenTopKResidual(spark, index, q, k = 5, nprobe = 4,
      candFilter = Some(col("label") === 2))
    val out = res.collect()
    assert(out.length === 5, "a ~25%-selective filter over 4 probed cells must still fill the page")
    out.foreach(r => assert(labels(r.getLong(2)) === 2,
      s"hit ${r.getLong(2)} violates the predicate"))
    // plan shape: cid partition filter AND a pushed label data filter on
    // the SAME scan — filter x partition prune x ADC in one plan
    val scans = expand(res.queryExecution.executedPlan).collect {
      case sc: FileSourceScanExec
          if sc.relation.location.rootPaths.exists(_.toString.contains("ivfpq_filter")) => sc
    }
    assert(scans.nonEmpty, "index scan missing from plan")
    assert(scans.head.partitionFilters.nonEmpty,
      "probed cids must prune as partition filters")
    assert(scans.head.metadata.get("PushedFilters").exists(_.contains("label")),
      s"label predicate must push to the scan: ${scans.head.metadata.get("PushedFilters")}")
    // filtered rerank inherits the predicate through the screened-id join
    val rr = Pq.rerankTopKResidual(spark, index, q, k = 5, rr = 20, nprobe = 4,
      candFilter = Some(col("label") === 2)).collect()
    assert(rr.length === 5)
    rr.foreach(r => assert(labels(r.getLong(2)) === 2))
  }

  test("pinned snapshot: as-of ADC is bit-identical through delete, upsert and a compaction rewrite") {
    val rnd = new scala.util.Random(31)
    def v(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, v())).toDF("vec_id", "embedding")
    val queryVecs = (0 until 4).map(i =>
      ((900 + i).toLong, Array.fill(16)(rnd.nextGaussian()))).toSeq
    val path = tmpDir("pq_pin") + "/index"
    val index = Pq.buildIndex(base, path, m = 4, kSub = 8, iters = 1)
    val atPin = Pq.adcTopK(spark, index, queryVecs, k = 5)
      .collect().map(_.toString).sorted.toSeq
    Pq.pinIndex(path, "pre")
    Pq.deleteIds(index, (0 until 200 by 6).map(_.toLong))
    assert(Pq.upsertBatchIdempotent(Pq.loadIndex(path),
      (1 until 200 by 9).map(i => (i.toLong, v())).toDF("vec_id", "embedding"),
      "pqpin:ups"))
    val live = Pq.adcTopK(spark, Pq.loadIndex(path), queryVecs, k = 5)
      .collect().map(_.toString).sorted.toSeq
    assert(live !== atPin, "the mutation wave must move the live screen")
    assert(Pq.adcTopKAsOf(spark, path, "pre", queryVecs, k = 5)
      .collect().map(_.toString).sorted.toSeq === atPin,
      "the snapshot must hide later tombstones and re-encodes")
    Pq.compactIndex(spark, Pq.loadIndex(path))
    assert(Pq.adcTopKAsOf(spark, path, "pre", queryVecs, k = 5)
      .collect().map(_.toString).sorted.toSeq === atPin,
      "the pinned generation must survive the rewrite's reap")
  }

  test("a handle held across another handle's rebalance scores with the live generation's quantizer") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val path = tmpDir("pq_stale") + "/index"
    val h0 = Pq.buildIndex(emb, path, m = 4, kSub = 8, iters = 0)
    Pq.rebalance(spark, Pq.loadIndex(path))
    val fresh = Pq.loadIndex(path)
    assert(fresh.codebooks.map(_.map(_.toSeq)) !== h0.codebooks.map(_.map(_.toSeq)),
      "the rebalance must have retrained the codebooks")
    val qf = emb.filter(col("vec_id") < 5).orderBy("vec_id")
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding")).localCheckpoint()
    val queryVecs = qf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble))).toSeq
    def page(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(page(Pq.adcTopK(spark, h0, queryVecs, k = 10))
      === page(Pq.adcTopK(spark, fresh, queryVecs, k = 10)),
      "the stale handle must score the new codes with the new codebooks")
    assert(page(Pq.screenBatchAdc(spark, h0, qf, k = 10))
      === page(Pq.screenBatchAdc(spark, fresh, qf, k = 10)))
    assert(Pq.pqDriftStats(spark, h0) === Pq.pqDriftStats(spark, fresh),
      "drift must be measured against the live generation's quantizer and baseline")
  }

  test("the encoding comes from disk: a reopened residual index appends into its cells; each screen refuses the other encoding") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val path = tmpDir("ivfpq_reopen") + "/index"
    Pq.buildIndex(emb.filter(col("vec_id") < 320), path, m = 4, kSub = 8,
      iters = 2, kCells = Some(8))
    assert(Pq.loadIndex(path).coarse.map(_.size) === Some(8))
    val appended = emb.filter(col("vec_id") >= 320).localCheckpoint()
    assert(Pq.appendBatchIdempotent(Pq.loadIndex(path), appended, "disk:a"))
    assert(Pq.indexData(spark, path).filter(col("cid").isNull).count() === 0L,
      "the appended segment must be cell-partitioned like the base")
    val queryVecs = appended.orderBy("vec_id").collect()
      .map(r => (r.getLong(0) + 9000L, r.getSeq[Float](1).toArray.map(_.toDouble))).toSeq
    // every cell probed, whole index ranked: each appended vector is
    // served, and scores its own query at the page minimum — its codes
    // are the per-subspace argmin of its residual
    val page = Pq.screenTopKResidual(spark, Pq.loadIndex(path), queryVecs,
      k = 325, nprobe = 8).collect()
    queryVecs.foreach { case (q, _) =>
      val rows = page.filter(_.getLong(0) == q)
      val own = rows.find(_.getLong(2) == q - 9000L)
      assert(own.isDefined, s"appended vector ${q - 9000L} not served")
      assert(own.get.getDouble(3) === rows.map(_.getDouble(3)).min)
    }
    assert(Pq.fsckIndex(spark, path)._1.isEmpty)
    intercept[IllegalArgumentException](
      Pq.adcTopK(spark, Pq.loadIndex(path), queryVecs, k = 5))
    val flat = Pq.buildIndex(emb, tmpDir("pq_flat_refuse") + "/index",
      m = 4, kSub = 8, iters = 0)
    assert(flat.coarse.isEmpty)
    intercept[IllegalArgumentException](
      Pq.screenTopKResidual(spark, flat, queryVecs, k = 5, nprobe = 2))
  }
}
