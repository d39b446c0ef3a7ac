package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.Catalog
import graft.functions.ArrayExprs

/** Product quantization (PQ) — the memory-scale path for similarity
  * search, next to the throughput-scale paths (LSH bucketing, IVF cell
  * pruning): split each D-dim vector into `m` contiguous subspaces,
  * quantize every subspace slice against its own `kSub`-entry codebook,
  * and keep only the `m` code bytes per vector (Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
  * public). A 64-dim float corpus costs 256 B/vector raw; PQ at
  * m=8/kSub=256 stores 8 B/vector — a 32× compression that is the
  * difference between an ANN index that fits executor memory at 10¹¹
  * vectors and one that does not.
  *
  * Query-time scoring is ADC (asymmetric distance computation): the
  * UNquantized query precomputes a m×kSub table of subspace distances
  * to every codebook entry, and each stored vector's approximate
  * distance is `m` table lookups summed — no float arrays are read at
  * scan time at all.
  *
  * Spark-first shape:
  *  - TRAINING is the IVF quantizer pattern ([[Ivf.kmeansCentroids]]):
  *    a bounded deterministic sample (md5-ordered draw, ≤ 64·kSub rows)
  *    trains all m sub-quantizers driver-side; the corpus is never
  *    scanned by Lloyd.
  *  - ENCODING is one scan, zero shuffles: each subspace code is
  *    [[graft.functions.ArrayExprs.NearestCentroidSq]] over
  *    `slice(embedding, …)`, the k×(D/m) codebook riding with the plan.
  *  - ADC SCAN is one scan over the (vec_id, codes) relation: the
  *    per-query lookup tables (nQueries × m × kSub doubles — driver
  *    metadata, like the k-means centroid collect) broadcast-cross-join
  *    onto the codes, and the score is `m` codegen'd `element_at` calls
  *    summed left-to-right. Only (query_id, vec_id, d2) crosses the
  *    top-k shuffle.
  *
  * Determinism/oracle contract (the `sim_pq_adc` row): the registered
  * query trains with `iters = 0`, so codebook entries are sample-slice
  * floats verbatim (exactly widened to double) and every distance is a
  * left-to-right fold DuckDB replays bit-identically; ties in both the
  * encode argmin and the top-k rank break to the lowest code / vec_id.
  * Lloyd refinement (`iters > 0`, the real-corpus setting) changes only
  * codebook quality and is covered by PqSpec's recall assertions.
  *
  * Reference scope: the reference package has no vector ops at all —
  * this extends the engine for LLM-training-data curation (embedding
  * dedup / retrieval at 100 TB), per the build brief.
  */
object Pq extends IndexFamily {

  // ---- IndexFamily hooks, for both encodings: every hook reads the
  // quantizer — and with it the encoding — from the generation it writes
  // against, so a stale handle can neither commit codes from a
  // superseded quantizer nor a segment in the wrong layout. The fit
  // baseline carries through a rewrite unless rows were dropped -------------
  type Handle = PqIndex
  override protected def pathOf(index: PqIndex): String = index.path
  override protected def cdcContext(token: String): String = s"applyCdc($token)"
  override protected def compactLabel(path: String): String = s"compactIndex($path)"

  private def genIndex(gen: String): PqIndex =
    indexAt(java.nio.file.Paths.get(gen).getParent.toString, gen)

  override protected def encodeToStage(gen: String, batch: DataFrame,
      stage: String): Unit = {
    val q = genIndex(gen)
    writeCodes(dropD2(codesWithD2(batch, q), q.codebooks.size), stage, q)
  }

  override protected def compactSurvivors(spark: SparkSession,
      path: String): DataFrame = indexData(spark, path)

  // flat codes are m bytes/vector, so one file holds millions of them;
  // residual codes re-land as one directory per cell
  override protected def writeSurvivorStage(spark: SparkSession,
      survivors: DataFrame, segBase: String, gen: String): Unit = {
    val q = genIndex(gen)
    writeCodes(if (q.coarse.isDefined) survivors.repartition(col("cid"))
      else survivors.repartition(1), segBase, q)
  }

  override protected def writeGenSidecars(spark: SparkSession, stage: String,
      gen: String, hadDeletes: Boolean): Unit = {
    val q = genIndex(gen)
    writeQuantizer(stage, q)
    // codes are unchanged, so the encode-time fit baseline is carried —
    // compaction must not reset the drift reference. Deletion is the
    // exception: recomputed from the just-written survivor stage, never
    // a second old-generation scan through the anti-join
    if (hadDeletes)
      writeSubStats(stage, storedSubStats(spark.read.parquet(s"$stage/seg=base"), q))
    else writeSubStats(stage, readSubStats(gen))
  }

  override protected def afterCommit(path: String): Unit = dropBuildMemo(path)

  /** Sub-quantizer codebooks: `m` sequences of `kSub` double centroids
    * of dimension D/m. Trained on the same bounded md5-ordered sample as
    * the IVF coarse quantizer; `iters = 0` keeps sample slices verbatim
    * (the oracle-replayable setting), `iters > 0` runs per-subspace
    * Lloyd with squared-L2 assignment, lowest-code tie-break, empty
    * codes keeping their previous centroid.
    */
  def trainCodebooks(emb: DataFrame, m: Int, kSub: Int, iters: Int): Seq[Seq[Array[Double]]] = {
    val sampleSize = math.max(64 * kSub, 1024)
    val sample: Array[Array[Double]] = emb
      .orderBy(ArrayExprs.md5Mod(col("vec_id").cast("string"), 1000003L), col("vec_id"))
      .limit(sampleSize)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(sample.nonEmpty, "PQ training: embeddings relation is empty")
    codebooksFromSample(sample, m, kSub, iters)
  }

  /** Per-subspace sub-quantizer training over an in-memory sample —
    * shared by the raw path ([[trainCodebooks]]) and the residual path
    * ([[ivfPqResidualAt]] trains on sample residuals).
    */
  private def codebooksFromSample(sample: Array[Array[Double]], m: Int,
      kSub: Int, iters: Int): Seq[Seq[Array[Double]]] = {
    val dim = sample.head.length
    require(dim % m == 0, s"PQ: dimension $dim not divisible by m=$m")
    val subDim = dim / m
    (0 until m).map { s =>
      val slices = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      // Array end to end: an accidental List here turns the Lloyd inner
      // loop's cb(j) into an O(j) walk — measured 30-70 s at kSub=256
      var cb: Array[Array[Double]] = slices.take(kSub)
      val kEff = cb.length
      for (_ <- 0 until iters) {
        val sums = Array.fill(kEff)(new Array[Double](subDim))
        val counts = new Array[Long](kEff)
        slices.foreach { v =>
          val code = nearestSq(v, cb)
          val acc = sums(code)
          var i = 0
          while (i < subDim) { acc(i) += v(i); i += 1 }
          counts(code) += 1
        }
        cb = Array.tabulate(kEff) { j =>
          if (counts(j) == 0) cb(j)
          else Array.tabulate(subDim)(i => sums(j)(i) / counts(j))
        }
      }
      cb.toIndexedSeq
    }
  }

  /** Residual sub-codebooks from the bounded md5-ordered sample draw:
    * each sample row's residual w.r.t. its assigned coarse cell is
    * computed driver-side with the SAME ranking the scan expression
    * applies ([[Ivf.nearestLocal]] ≡ NearestCentroid), then the shared
    * per-subspace trainer runs over the residuals. Shared by the
    * per-call query ([[ivfPqResidualAt]]) and the persisted index
    * ([[buildIndex]] / [[rebalance]] with a coarse quantizer).
    */
  private def residualCodebooksFromSample(emb: DataFrame,
      cents: Seq[Array[Float]], m: Int, kSub: Int, iters: Int): Seq[Seq[Array[Double]]] = {
    val sampleSize = math.max(64 * kSub, 1024)
    val centsA = cents.map(identity).toArray
    val sample = emb
      .orderBy(ArrayExprs.md5Mod(col("vec_id").cast("string"), 1000003L), col("vec_id"))
      .limit(sampleSize)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "residual PQ training: embeddings relation is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"residual PQ: dimension $dim not divisible by m=$m")
    val sampleResid: Array[Array[Double]] = sample.map { v =>
      val cid = Ivf.nearestLocal(v, centsA)
      val cvec = centsA(cid)
      Array.tabulate(dim)(i => v(i).toDouble - cvec(i).toDouble)
    }
    codebooksFromSample(sampleResid, m, kSub, iters)
  }

  /** Same ranking as NearestCentroidSq: strict < keeps the lowest code. */
  private def nearestSq(v: Array[Double], cb: Array[Array[Double]]): Int = {
    var best = 0
    var bestD2 = Double.PositiveInfinity
    var j = 0
    while (j < cb.length) {
      val c = cb(j)
      var acc = 0.0
      var i = 0
      while (i < c.length) { val d = v(i) - c(i); acc += d * d; i += 1 }
      if (acc < bestD2) { bestD2 = acc; best = j }
      j += 1
    }
    best
  }

  /** One-scan PQ encode: (vec_id, c0 … c(m-1)) int code columns. */
  def encode(emb: DataFrame, codebooks: Seq[Seq[Array[Double]]]): DataFrame = {
    val m = codebooks.size
    val subDim = codebooks.head.head.length
    val codeCols = (0 until m).map { s =>
      ArrayExprs.nearestCentroidSq(
        slice(col("embedding"), s * subDim + 1, subDim), codebooks(s))
        .getField("cid").as(s"c$s")
    }
    emb.select(col("vec_id") +: codeCols: _*)
  }

  /** ADC lookup table for one raw query vector: flattened m·kSub doubles,
    * entry s·kSub + j = left-to-right fold of (q_i − c_i)² over the
    * subspace — the same accumulation order as NearestCentroidSq and the
    * DuckDB twin.
    */
  private def adcLut(q: Array[Double], codebooks: Seq[Seq[Array[Double]]]): Array[Double] = {
    val m = codebooks.size
    val kSub = codebooks.head.size
    val subDim = codebooks.head.head.length
    val lut = new Array[Double](m * kSub)
    for (s <- 0 until m; j <- codebooks(s).indices) {
      val c = codebooks(s)(j)
      var acc = 0.0
      var i = 0
      while (i < subDim) { val d = q(s * subDim + i) - c(i); acc += d * d; i += 1 }
      lut(s * kSub + j) = acc
    }
    lut
  }

  /** The registered `sim_pq_adc` query: PQ-encode the corpus
    * (m=4 × 16-dim subspaces, 16 codes each, iters=0) and answer the
    * standard 5-query top-10 benchmark by ADC over codes only.
    */
  def pqAdc(spark: SparkSession, dir: String): DataFrame =
    pqAdcAt(spark, dir, nQueries = 5, k = 10, m = 4, kSub = 16, iters = 0)

  def pqAdcAt(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      m: Int, kSub: Int, iters: Int): DataFrame = {
    val c = Catalog(spark, dir)
    val emb = c.ref("embeddings").select(col("vec_id"), col("embedding"))
    val codebooks = trainCodebooks(emb, m, kSub, iters)
    val codes = encode(emb, codebooks)

    // Query vectors: nQueries rows — bounded driver metadata, same
    // contract as the quantizer sample collect.
    val qRows = emb.filter(col("vec_id") < nQueries)
      .orderBy(col("vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val lutSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("lut", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val lutDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        qRows.toIndexedSeq.map { case (id, q) => Row(id, adcLut(q, codebooks).toSeq) }, 1),
      lutSchema)

    // ADC: m codegen'd lookups summed in subspace order (left-to-right,
    // matching the oracle's ordered list fold).
    val kEff = codebooks.head.size
    val d2 = (0 until m).map { s =>
      element_at(col("lut"), col(s"c$s") + lit(s * kEff + 1))
    }.reduceLeft(_ + _)

    val scored = codes.crossJoin(broadcast(lutDf))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), d2.as("d2"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB twin of `pqAdc` — replays the md5-ordered sample draw, the
    * verbatim iters=0 codebooks, the per-subspace argmin encode, the ADC
    * tables and the subspace-ordered distance fold.
    */
  val pqAdcSql: String =
    """WITH ho AS (
      |  SELECT vec_id, embedding,
      |         md5_number_lower(CAST(vec_id AS VARCHAR)) % 1000003 AS hord
      |  FROM embeddings),
      |samp AS (
      |  SELECT vec_id, embedding, row_number() OVER (ORDER BY hord, vec_id) AS sr
      |  FROM ho ORDER BY hord, vec_id LIMIT 1024),
      |cb AS (
      |  SELECT sr - 1 AS code,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      |  FROM samp WHERE sr <= 16),
      |en AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |subs AS (SELECT unnest(range(4)) AS s),
      |subd AS (
      |  SELECT en.vec_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (vec[subs.s * 16 + i] - cvec[subs.s * 16 + i])
      |              * (vec[subs.s * 16 + i] - cvec[subs.s * 16 + i]))) AS d2
      |  FROM en CROSS JOIN subs CROSS JOIN cb),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
      |    FROM subd) WHERE rk = 1),
      |queries AS (
      |  SELECT vec_id AS query_id, vec AS qvec FROM en WHERE vec_id < 5),
      |lut AS (
      |  SELECT q.query_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (qvec[subs.s * 16 + i] - cvec[subs.s * 16 + i])
      |              * (qvec[subs.s * 16 + i] - cvec[subs.s * 16 + i]))) AS d2
      |  FROM queries q CROSS JOIN subs CROSS JOIN cb),
      |scored AS (
      |  SELECT l.query_id, c.vec_id,
      |         list_sum(list(l.d2 ORDER BY l.s)) AS d2
      |  FROM codes c
      |  JOIN lut l ON l.s = c.s AND l.code = c.code
      |  WHERE c.vec_id <> l.query_id
      |  GROUP BY l.query_id, c.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, d2,
      |         row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, d2 FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // ---- two-stage retrieval: ADC screen -> exact rerank ----------------------

  /** Two-stage retrieval — the production serving shape for compressed
    * indexes (FAISS `IndexRefineFlat`, every recall-critical PQ
    * deployment): the ADC screen ranks the WHOLE corpus at m bytes per
    * vector, then only the top-`rr` survivors per query are re-scored
    * against their raw embeddings and the exact top-k returned. The
    * expensive exact arithmetic touches `nQueries × rr` vectors instead
    * of the corpus — at 100 TB the screen is the distributed scan and
    * the rerank is a broadcast-semi-join fetch of ~rr rows per query,
    * so recall is bought back for a per-query constant, not a second
    * corpus pass. The recall lift is measured, not assumed: at the
    * registered dials (sf0.01, iters = 0 codebooks) recall@10 rises
    * 0.08 → 0.28, and ScaleProbe records the rr dial table on refined
    * codebooks.
    */
  def pqRerank(spark: SparkSession, dir: String): DataFrame =
    pqRerankAt(spark, dir, nQueries = 5, k = 10, rr = 40, m = 4,
      kSub = 16, iters = 0)

  def pqRerankAt(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      rr: Int, m: Int, kSub: Int, iters: Int): DataFrame = {
    // Stage 1 — the byte-pruned screen: ADC top-rr per query.
    val screened = pqAdcAt(spark, dir, nQueries, rr, m, kSub, iters)
      .select(col("query_id"), col("vec_id"))
    // Stage 2 — exact L2 on the survivors only: the candidate list is
    // nQueries × rr rows (driver-bounded, broadcast), so the raw-vector
    // fetch is a broadcast join pruning the embedding scan, never a
    // second full-corpus distance pass.
    val c = Catalog(spark, dir)
    val emb = c.ref("embeddings").select(col("vec_id"), col("embedding"))
    val qDf = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qvec"))
    val exact = emb.join(broadcast(screened), Seq("vec_id"))
      .join(broadcast(qDf), Seq("query_id"))
      .withColumn("d2", expr(
        """aggregate(zip_with(embedding, qvec, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
          |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
      .orderBy("query_id", "rank")
  }

  /** Twin of [[pqRerank]]: [[pqAdcSql]]'s screen capped at rr = 40,
    * then the exact double L2 on survivors — the rerank fold is the
    * same left-to-right list_sum the brute-force twin uses, so the
    * final distances and ranks replay bit-identically.
    */
  val pqRerankSql: String =
    """WITH ho AS (
      |  SELECT vec_id, embedding,
      |         md5_number_lower(CAST(vec_id AS VARCHAR)) % 1000003 AS hord
      |  FROM embeddings),
      |samp AS (
      |  SELECT vec_id, embedding, row_number() OVER (ORDER BY hord, vec_id) AS sr
      |  FROM ho ORDER BY hord, vec_id LIMIT 1024),
      |cb AS (
      |  SELECT sr - 1 AS code,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      |  FROM samp WHERE sr <= 16),
      |en AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |subs AS (SELECT unnest(range(4)) AS s),
      |subd AS (
      |  SELECT en.vec_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (vec[subs.s * 16 + i] - cvec[subs.s * 16 + i])
      |              * (vec[subs.s * 16 + i] - cvec[subs.s * 16 + i]))) AS d2
      |  FROM en CROSS JOIN subs CROSS JOIN cb),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
      |    FROM subd) WHERE rk = 1),
      |queries AS (
      |  SELECT vec_id AS query_id, vec AS qvec FROM en WHERE vec_id < 5),
      |lut AS (
      |  SELECT q.query_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (qvec[subs.s * 16 + i] - cvec[subs.s * 16 + i])
      |              * (qvec[subs.s * 16 + i] - cvec[subs.s * 16 + i]))) AS d2
      |  FROM queries q CROSS JOIN subs CROSS JOIN cb),
      |scored AS (
      |  SELECT l.query_id, c.vec_id,
      |         list_sum(list(l.d2 ORDER BY l.s)) AS d2
      |  FROM codes c
      |  JOIN lut l ON l.s = c.s AND l.code = c.code
      |  WHERE c.vec_id <> l.query_id
      |  GROUP BY l.query_id, c.vec_id),
      |screened AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |           row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
      |    FROM scored) WHERE rank <= 40),
      |rr AS (
      |  SELECT s.query_id, s.vec_id,
      |         list_sum(list_transform(range(1, len(en.vec) + 1),
      |           i -> (en.vec[i] - q.qvec[i]) * (en.vec[i] - q.qvec[i]))) AS d2
      |  FROM screened s
      |  JOIN en ON en.vec_id = s.vec_id
      |  JOIN queries q ON q.query_id = s.query_id),
      |rranked AS (
      |  SELECT query_id, vec_id, d2,
      |         row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
      |  FROM rr)
      |SELECT query_id, rank, vec_id, d2 FROM rranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // ---- IVF-PQ composition ---------------------------------------------------

  /** IVF-PQ — the production ANN shape at 10⁹⁺ vectors (FAISS's
    * IndexIVFPQ, Jégou et al. 2011): the coarse quantizer prunes READS
    * (a query scans ~nprobe/kCells of the index) and PQ prunes BYTES
    * (m per vector), so the two dials compose multiplicatively. One
    * scan assigns each vector its cell AND its codes; the query side
    * broadcasts (query, probed-cell, LUT) rows onto the code relation,
    * so candidate generation is a broadcast hash join on cid — at
    * 100 TB, cid is the table's physical partition key and the join
    * becomes static partition pruning, the [[Ivf.screenBatch]] shape.
    *
    * This variant encodes raw vectors per cell (not residuals): the
    * residual refinement changes recall, not the plan shape, and would
    * put a second subtraction between the oracle and the scan. The
    * registered query runs iters = 0 (verbatim-sample quantizer AND
    * codebooks — both read the same md5-ordered 1024-row draw), so the
    * DuckDB twin replays cell assignment, codes, probe ranking and ADC
    * bit-identically.
    */
  def ivfPqAnn(spark: SparkSession, dir: String): DataFrame =
    ivfPqAnnAt(spark, dir, nQueries = 5, k = 10, kCells = 16, nprobe = 4,
      m = 4, kSub = 16, iters = 0)

  def ivfPqAnnAt(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      kCells: Int, nprobe: Int, m: Int, kSub: Int, iters: Int): DataFrame = {
    val c = Catalog(spark, dir)
    val emb = c.ref("embeddings").select(col("vec_id"), col("embedding"))
    val cents = Ivf.kmeansCentroids(emb, kCells, iters)
    val codebooks = trainCodebooks(emb, m, kSub, iters)
    val subDim = codebooks.head.head.length

    // ONE scan: coarse cell + m PQ codes per vector.
    val codeCols = (0 until m).map { s =>
      ArrayExprs.nearestCentroidSq(
        slice(col("embedding"), s * subDim + 1, subDim), codebooks(s))
        .getField("cid").as(s"c$s")
    }
    val assigned = emb.select(
      (col("vec_id") +: ArrayExprs.nearestCentroid(col("embedding"), cents).as("cid") +:
        codeCols): _*)

    // Query side: bounded collect → (query_id, probed cid, LUT) rows.
    // Probe ranking replicates NearestCentroid: dot/|c| desc, cid asc.
    val qRows = emb.filter(col("vec_id") < nQueries)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val probeRows = qRows.flatMap { case (id, q) =>
      val lut = adcLut(q, codebooks).toSeq
      cents.zipWithIndex.map { case (cv, cid) =>
        var dot = 0.0; var nrm = 0.0
        var i = 0
        while (i < cv.length) {
          dot += q(i) * cv(i).toDouble; nrm += cv(i).toDouble * cv(i); i += 1
        }
        (if (nrm == 0) Double.NegativeInfinity else dot / math.sqrt(nrm), cid)
      }.sortBy { case (s, cid) => (-s, cid) }.take(nprobe)
        .map { case (_, cid) => Row(id, cid, lut) }
    }
    val probeSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("cid", IntegerType, nullable = false),
      StructField("lut", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val probeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows.toIndexedSeq, 1), probeSchema)

    val kEff = codebooks.head.size
    val d2 = (0 until m).map { s =>
      element_at(col("lut"), col(s"c$s") + lit(s * kEff + 1))
    }.reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id"))
    assigned.join(broadcast(probeDf), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), d2.as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB twin of `ivfPqAnn`: the coarse cells and the PQ codebooks
    * both read the first 16 rows of the SAME md5-ordered sample draw.
    */
  val ivfPqAnnSql: String =
    """WITH ho AS (
      |  SELECT vec_id, embedding,
      |         md5_number_lower(CAST(vec_id AS VARCHAR)) % 1000003 AS hord
      |  FROM embeddings),
      |samp AS (
      |  SELECT vec_id, embedding, row_number() OVER (ORDER BY hord, vec_id) AS sr
      |  FROM ho ORDER BY hord, vec_id LIMIT 1024),
      |cnorm AS (
      |  SELECT sr - 1 AS cid,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec,
      |         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS cn
      |  FROM samp WHERE sr <= 16),
      |cb AS (
      |  SELECT sr - 1 AS code,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      |  FROM samp WHERE sr <= 16),
      |en AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT en.vec_id, c.cid,
      |           row_number() OVER (PARTITION BY en.vec_id ORDER BY
      |             list_sum(list_transform(range(1, len(vec) + 1), i -> vec[i] * c.cvec[i])) / c.cn
      |             DESC, c.cid) AS r
      |    FROM en CROSS JOIN cnorm c) WHERE r = 1),
      |subs AS (SELECT unnest(range(4)) AS s),
      |subd AS (
      |  SELECT en.vec_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (vec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i])
      |              * (vec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i]))) AS d2
      |  FROM en CROSS JOIN subs CROSS JOIN cb),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
      |    FROM subd) WHERE rk = 1),
      |queries AS (
      |  SELECT vec_id AS query_id, vec AS qvec FROM en WHERE vec_id < 5),
      |probes AS (
      |  SELECT query_id, cid FROM (
      |    SELECT q.query_id, c.cid,
      |           row_number() OVER (PARTITION BY q.query_id ORDER BY
      |             list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * c.cvec[i])) / c.cn
      |             DESC, c.cid) AS prank
      |    FROM queries q CROSS JOIN cnorm c) WHERE prank <= 4),
      |lut AS (
      |  SELECT q.query_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (qvec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i])
      |              * (qvec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i]))) AS d2
      |  FROM queries q CROSS JOIN subs CROSS JOIN cb),
      |cand AS (
      |  SELECT p.query_id, a.vec_id
      |  FROM probes p JOIN assigned a ON a.cid = p.cid
      |  WHERE a.vec_id <> p.query_id),
      |scored AS (
      |  SELECT cd.query_id, cd.vec_id,
      |         list_sum(list(l.d2 ORDER BY l.s)) AS d2
      |  FROM cand cd
      |  JOIN codes c ON c.vec_id = cd.vec_id
      |  JOIN lut l ON l.query_id = cd.query_id AND l.s = c.s AND l.code = c.code
      |  GROUP BY cd.query_id, cd.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, d2,
      |         row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, d2 FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  // ---- persisted-index API + codebook drift maintenance ---------------------
  //
  // The PQ mirror of [[Ivf]]'s r13 maintenance loop: encoded codes keep
  // their codebooks forever, so under distribution shift the sub-
  // codebooks rot exactly like the coarse quantizer — ADC recall decays
  // silently while every query still "works". The index persists codes
  // NEXT TO the raw vectors (the stand-in for the source table an
  // object-store deployment would re-encode from), per-subspace fit
  // stats ride a build-time sidecar, and [[pqDriftStats]]/[[rebalance]]
  // close the detect→repair loop.
  //
  // One handle and one verb set serve both encodings — flat PQ and the
  // residual IVF-PQ layout (FAISS `IndexIVFPQ`): Jégou et al. 2011
  // present IVFADC as ADC plus an optional coarse quantizer, and the
  // quantizer is generation data like the codebooks. The encoding
  // changes exactly four things: the encode, the stored-code error, the
  // segment layout and the generation sidecars. Only the screens stay
  // two kernels, because they are two algorithms.

  /** Handle to a persisted PQ index: parquet of
    * (vec_id, embedding, …metadata, c0 … c(m-1)) plus the codebook
    * sidecar. `coarse` is the encoding: `None` is flat PQ (codes of the
    * raw vectors, plain parquet); `Some(centroids)` is residual IVF-PQ
    * (codes of each vector's residual `v − c(cell)`, a `cid`-partitioned
    * layout and a centroid sidecar). Every verb reads the quantizer from
    * the generation it touches, not from the handle, so a handle held
    * across another handle's [[rebalance]] still scores correctly.
    */
  final case class PqIndex(path: String, codebooks: Seq[Seq[Array[Double]]],
      coarse: Option[Seq[Array[Float]]])

  /** Per-subspace occupancy and mean squared quantization error — the
    * bounded (m rows) health summary. Quantization error is THE fit
    * metric for PQ: ADC distance error is bounded by it (Jégou et al.
    * 2011, §III), so when shifted appends push vectors far from every
    * codebook entry, meanD2 grows before recall visibly dies.
    */
  final case class SubStats(s: Int, n: Long, meanD2: Double)

  final case class PqDriftReport(build: Seq[SubStats], now: Seq[SubStats]) {
    private def meanOf(x: Seq[SubStats]): Double =
      if (x.isEmpty) Double.NaN
      else x.map(t => t.meanD2 * t.n).sum / math.max(1L, x.map(_.n).sum)
    def meanD2Build: Double = meanOf(build)
    def meanD2Now: Double = meanOf(now)
    /** Rebalance trigger: occupancy-weighted quantization error grew
      * past `growth`× its build-time level.
      */
    def drifted(growth: Double = 1.5): Boolean = meanD2Now > meanD2Build * growth
  }

  private val CodebookSidecar = "_pq_codebooks.txt"
  private val SubStatsSidecar = "_pq_substats.txt"

  private def writeCodebooks(path: String, cbs: Seq[Seq[Array[Double]]]): Unit = {
    val body = (for ((cb, s) <- cbs.zipWithIndex; (c, j) <- cb.zipWithIndex)
      yield s"$s,$j,${c.mkString(";")}").mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path, CodebookSidecar),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def readCodebooks(path: String): Seq[Seq[Array[Double]]] = {
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, CodebookSidecar)),
      java.nio.charset.StandardCharsets.UTF_8)
    body.split("\n").toSeq.filter(_.nonEmpty)
      .map { line =>
        val Array(s, j, vs) = line.split(",", 3)
        (s.toInt, j.toInt, vs.split(";").map(_.toDouble))
      }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }
  }

  private def writeSubStats(path: String, stats: Seq[SubStats]): Unit = {
    val body = stats.map(t => s"${t.s},${t.n},${t.meanD2}").mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path, SubStatsSidecar),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def readSubStats(path: String): Seq[SubStats] = {
    val p = java.nio.file.Paths.get(path, SubStatsSidecar)
    if (!java.nio.file.Files.exists(p)) return Nil
    new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val f = line.split(",")
        SubStats(f(0).toInt, f(1).toLong, f(2).toDouble)
      }
  }

  /** The quantizer generation `gen` of the index at `path` was encoded
    * with, as a handle — the centroid sidecar exists exactly for
    * residual generations, so it IS the encoding.
    */
  override protected def indexAt(path: String, gen: String): PqIndex =
    PqIndex(path, readCodebooks(gen), Ivf.readCentroidsOpt(gen))

  /** [[indexAt]] for a screen kernel, refused unless `gen` holds the
    * encoding the kernel scores.
    */
  private def quantizerFor(path: String, gen: String, residual: Boolean,
      kernel: String): PqIndex = {
    val q = indexAt(path, gen)
    val (want, have) =
      if (residual) ("residual IVF-PQ", "flat PQ") else ("flat PQ", "residual IVF-PQ")
    require(q.coarse.isDefined == residual,
      s"$kernel scores $want codes; $path holds $have codes")
    q
  }

  /** Write the quantizer sidecars of a generation being staged. */
  private def writeQuantizer(stage: String, q: PqIndex): Unit = {
    q.coarse.foreach(Ivf.writeCentroids(stage, _))
    writeCodebooks(stage, q.codebooks)
  }

  /** (vec_id, embedding, …metadata, c0 … c(m-1), d0 … d(m-1)) — codes
    * AND their quantization errors from ONE NearestCentroidSq per
    * subspace. Extra input columns pass through: the metadata a
    * filtered ADC screen predicates on lives next to the codes.
    */
  private def encodeWithD2(emb: DataFrame, cbs: Seq[Seq[Array[Double]]]): DataFrame = {
    val m = cbs.size
    val subDim = cbs.head.head.length
    val extras = emb.columns.toIndexedSeq
      .filter(c => c != "vec_id" && c != "embedding").map(col)
    val cols = (0 until m).flatMap { s =>
      val nc = ArrayExprs.nearestCentroidSq(
        slice(col("embedding"), s * subDim + 1, subDim), cbs(s))
      Seq(nc.getField("cid").as(s"c$s"), nc.getField("dist2").as(s"d$s"))
    }
    emb.select(col("vec_id") +: col("embedding") +: (extras ++ cols): _*)
  }

  /** One scan: coarse cell, double residual, m residual codes AND their
    * quantization errors (the encode-time fit stats).
    */
  private def residualEncodeWithD2(emb: DataFrame, cents: Seq[Array[Float]],
      cbs: Seq[Seq[Array[Double]]]): DataFrame = {
    val m = cbs.size
    val subDim = cbs.head.head.length
    val extras = emb.columns.toIndexedSeq
      .filter(c => c != "vec_id" && c != "embedding").map(col)
    val centLit = typedLit(cents.map(_.toSeq))
    val assigned0 = emb
      .withColumn("cid", ArrayExprs.nearestCentroid(col("embedding"), cents))
      .withColumn("cent", element_at(centLit, col("cid") + 1))
      .withColumn("resid",
        zip_with(col("embedding"), col("cent"),
          (x, cc) => x.cast("double") - cc.cast("double")))
    val cols = (0 until m).flatMap { s =>
      val nc = ArrayExprs.nearestCentroidSqD(
        slice(col("resid"), s * subDim + 1, subDim), cbs(s))
      Seq(nc.getField("cid").as(s"c$s"), nc.getField("dist2").as(s"d$s"))
    }
    assigned0.select(col("vec_id") +: col("embedding") +: col("cid") +:
      (extras ++ cols): _*)
  }

  /** Encode against `q`'s quantizer in its encoding. */
  private def codesWithD2(emb: DataFrame, q: PqIndex): DataFrame =
    q.coarse.fold(encodeWithD2(emb, q.codebooks))(
      residualEncodeWithD2(emb, _, q.codebooks))

  /** Drop the d0 … d(m-1) error columns after the fit-stat aggregate —
    * what a generation's data files store (everything else rides).
    */
  private def dropD2(encoded: DataFrame, m: Int): DataFrame =
    encoded.drop((0 until m).map(s => s"d$s"): _*)

  /** Land encoded rows as one segment directory in `q`'s layout: flat
    * codes are plain parquet, residual codes partition by cell so a
    * probed screen reads only its cells.
    */
  private def writeCodes(codes: DataFrame, dir: String, q: PqIndex): Unit = {
    val w = codes.write.mode("overwrite")
    if (q.coarse.isDefined) w.partitionBy("cid").parquet(dir) else w.parquet(dir)
  }

  private def subStatsOf(encoded: DataFrame, m: Int): Seq[SubStats] = {
    val aggs = (0 until m).flatMap(s =>
      Seq(count(col(s"d$s")).as(s"n$s"), avg(col(s"d$s")).as(s"m$s")))
    val r = encoded.agg(aggs.head, aggs.tail: _*).head()
    (0 until m).map(s => SubStats(s, r.getLong(2 * s),
      if (r.isNullAt(2 * s + 1)) Double.NaN else r.getDouble(2 * s + 1)))
  }

  /** Recompute each stored vector's quantization error from its stored
    * codes — codes are frozen-nearest, so the ASSIGNED entry's distance
    * IS the fit stat: resolve it from c0..c(m-1) via the plan-riding
    * codebook literal instead of re-running the kSub-way argmin —
    * O(N·dim) per check, kSub× cheaper on the amortized maintenance
    * path, identical values (PqSpec pins build == now on a fresh index
    * to the last bit). Shared by [[pqDriftStats]] and the post-delete
    * baseline recompute at [[compactIndex]].
    */
  private def withStoredCodeD2(data: DataFrame,
      cbs: Seq[Seq[Array[Double]]]): DataFrame = {
    val m = cbs.size
    val subDim = cbs.head.head.length
    val cbLit = typedLit(cbs.map(_.map(_.toSeq)))
    val dCols = (0 until m).map { s =>
      val entry = element_at(element_at(cbLit, s + 1), col(s"c$s") + 1)
      aggregate(
        zip_with(
          expr(s"transform(slice(embedding, ${s * subDim + 1}, $subDim), x -> CAST(x AS DOUBLE))"),
          entry, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v).as(s"d$s")
    }
    data.select((col("vec_id") +: dCols): _*)
  }

  /** [[withStoredCodeD2]] on the residual layout: the stored (cid,
    * c0..c(m-1)) resolve the residual and its assigned entries in-plan.
    */
  private def withStoredCodeD2Residual(data: DataFrame,
      cents: Seq[Array[Float]], cbs: Seq[Seq[Array[Double]]]): DataFrame = {
    val m = cbs.size
    val subDim = cbs.head.head.length
    val centLit = typedLit(cents.map(_.toSeq))
    val cbLit = typedLit(cbs.map(_.map(_.toSeq)))
    val resid = zip_with(col("embedding"), element_at(centLit, col("cid") + 1),
      (x, cc) => x.cast("double") - cc.cast("double"))
    val dCols = (0 until m).map { s =>
      val entry = element_at(element_at(cbLit, s + 1), col(s"c$s") + 1)
      aggregate(
        zip_with(slice(resid, s * subDim + 1, subDim), entry,
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v).as(s"d$s")
    }
    data.select((col("vec_id") +: dCols): _*)
  }

  /** Stored-code fit stats of `data` under `q`'s quantizer. */
  private def storedSubStats(data: DataFrame, q: PqIndex): Seq[SubStats] =
    subStatsOf(q.coarse.fold(withStoredCodeD2(data, q.codebooks))(
      withStoredCodeD2Residual(data, _, q.codebooks)), q.codebooks.size)

  /** The index's live data as a DataFrame — the [[Ivf.indexData]]
    * reader contract: the resolved generation survives one subsequent
    * rebalance (the commit keeps the predecessor), so in-flight queries
    * never observe a half-swapped directory. Tombstoned ids are
    * subtracted here, so every ADC/residual screen honors deletes
    * through the one shared read.
    */
  def indexData(spark: SparkSession, path: String): DataFrame =
    indexDataAt(spark, graft.util.IndexMaint.liveGen(path))

  /** [[indexData]] against an ALREADY-RESOLVED generation — what a
    * multi-read query (screen + rerank fetch) threads through so both
    * reads observe the SAME generation: two independent `liveGen`
    * resolves around a concurrent rebalance/compact/deleteWhere commit
    * would silently drop screened candidates from the rerank join
    * (fewer than k rows, or a wrong final order).
    */
  private def indexDataAt(spark: SparkSession, gen: String): DataFrame =
    graft.util.IndexMaint.minusTombstones(spark.read.parquet(gen), gen)

  /** Train a quantizer on `data` — the coarse cells first when `kCells`
    * is set, then the sub-codebooks on the SAME sample draw (raw slices,
    * or residuals to the new cells) — encode `data` in one scan and
    * stage it as `stage`'s base segment with the quantizer and
    * encode-time fit-stat sidecars. What [[buildIndex]] and
    * [[rebalance]] share.
    */
  private def stageTrained(data: DataFrame, path: String, stage: String,
      m: Int, kSub: Int, iters: Int, kCells: Option[Int]): PqIndex = {
    val coarse = kCells.map(Ivf.kmeansCentroids(data, _, iters))
    val cbs = coarse.fold(trainCodebooks(data, m, kSub, iters))(
      residualCodebooksFromSample(data, _, m, kSub, iters))
    val q = PqIndex(path, cbs, coarse)
    val encoded = codesWithD2(data, q).localCheckpoint()
    writeCodes(dropD2(encoded, m), s"$stage/seg=base", q)
    writeQuantizer(stage, q)
    writeSubStats(stage, subStatsOf(encoded, m))
    q
  }

  /** Build the persisted index: train the quantizer, encode in one
    * scan, stage codes + raw vectors + the quantizer and encode-time
    * fit-stats sidecars as a complete generation, commit with one
    * atomic pointer flip (the [[graft.util.IndexMaint]] protocol — a
    * rebuild supersedes prior generations and their tokens). `kCells`
    * picks the encoding: None builds flat PQ, Some(k) a residual
    * IVF-PQ index over k coarse cells.
    */
  def buildIndex(base: DataFrame, path: String, m: Int, kSub: Int,
      iters: Int, kCells: Option[Int] = None,
      buildKey: Option[String] = None): PqIndex =
    graft.util.IndexMaint.withMutation(path, op = "build") {
      val stage = graft.util.IndexMaint.newStageDir(path, "build")
      val index = stageTrained(base, path, stage, m, kSub, iters, kCells)
      buildKey.foreach(graft.util.IndexMaint.writeBuildKey(stage, _))
      graft.util.IndexMaint.commitGeneration(path, stage)
      index
    }

  /** [[buildIndex]] memoized per (path, source fingerprint, shape) for
    * the session — the [[Ivf.buildIndexCached]] pattern: the build is
    * deterministic, so one derivation serves every consumer in the JVM
    * while the filesystem fingerprint invalidates the memo if the
    * source is rewritten. Production holds the [[PqIndex]] handle. A
    * memo miss whose persisted build key matches the live generation's
    * REOPENS it (read-only — [[Ivf.buildIndexCached]]'s contract: a
    * miss must never retrain and rewrite a durable index); rebuild only
    * on true staleness.
    */
  def buildIndexCached(base: DataFrame, srcDir: String, path: String,
      m: Int, kSub: Int, iters: Int, kCells: Option[Int] = None): PqIndex = {
    val fp = graft.util.Fs.dirFingerprint(srcDir)
    val key = (path, fp, kCells, m, kSub, iters)
    // the on-disk key format of each encoding is what existing indexes
    // were stamped with — changing it turns every reopen into a rebuild
    val diskKey = kCells.fold(s"pq|src=$fp|m=$m|kSub=$kSub|iters=$iters")(kc =>
      s"ivfpq|src=$fp|kCells=$kc|m=$m|kSub=$kSub|iters=$iters")
    buildMemo.memoized(key, graft.util.IndexMaint.lockFor(path))(
      k => k._1 == path && k != key) {
      if (graft.util.IndexMaint.liveGenOpt(path)
        .exists(g => graft.util.IndexMaint.readBuildKey(g).contains(diskKey)))
        loadIndex(path)
      else buildIndex(base, path, m, kSub, iters, kCells, Some(diskKey))
    }
  }

  private[ops] def dropBuildMemo(path: String): Unit =
    buildMemo.evict(_._1 == path)

  private val buildMemo =
    new graft.util.BoundedCache[(String, Long, Option[Int], Int, Int, Int), PqIndex](
      Ivf.IndexCacheBound)

  /** Reopen an index in the encoding its live generation was built
    * with. No recovery dance ([[Ivf.loadIndex]] contract): generation
    * commits are atomic pointer flips, so the live generation is always
    * complete.
    */
  def loadIndex(path: String): PqIndex =
    graft.util.IndexMaint.lockFor(path).synchronized {
      indexAt(path, graft.util.IndexMaint.liveGen(path))
    }

  /** Current per-subspace fit vs the build-time sidecar: one index scan
    * into an m-row aggregate, scored with the live generation's own
    * quantizer and compared to that generation's baseline. Codes are
    * frozen-nearest, so the assigned entry's error IS the fit stat; on
    * the residual layout it is the residual's error. Shifted appends
    * push vectors (or residuals) away from every codebook entry and
    * meanD2 grows before recall visibly dies.
    */
  def pqDriftStats(spark: SparkSession, index: PqIndex): PqDriftReport = {
    driftScans.incrementAndGet()
    val gen = graft.util.IndexMaint.liveGen(index.path)
    // live contents only (tombstones subtracted): deleted rows are no
    // longer served, so they must not count toward fit either
    PqDriftReport(build = readSubStats(gen),
      now = storedSubStats(indexDataAt(spark, gen), indexAt(index.path, gen)))
  }

  /** Retrain the quantizer from a bounded sample of the index's
    * CURRENT contents — on the residual layout the COMPOSED repair:
    * coarse retrain, then the sub-codebooks on the new residuals — and
    * re-encode every vector in one scan into a STAGED new generation
    * (data + sidecars + carried applied tokens), committed with one
    * atomic pointer flip. The shape (m, kSub, kCells) is the live
    * generation's. The previous generation survives until the next
    * commit, so concurrent readers are safe. Same per-path monitor +
    * cross-process lease as the build.
    */
  def rebalance(spark: SparkSession, index: PqIndex, iters: Int = 2): PqIndex =
    graft.util.IndexMaint.withMutation(index.path, op = "rebalance") {
      val gen = graft.util.IndexMaint.liveGen(index.path)
      val old = indexAt(index.path, gen)
      val m = old.codebooks.size
      // survivors only (tombstones reclaimed here too); metadata rides,
      // stale cell and code columns dropped before the re-encode
      val stale = old.coarse.map(_ => "cid").toSeq ++ (0 until m).map(s => s"c$s")
      val data = indexDataAt(spark, gen).drop("seg").drop(stale: _*)
      val stage = graft.util.IndexMaint.newStageDir(index.path, "rebalance")
      val fresh = stageTrained(data, index.path, stage, m,
        old.codebooks.head.size, iters, old.coarse.map(_.size))
      graft.util.IndexMaint.writeConsolidatedTokens(stage,
        graft.util.IndexMaint.appliedTokens(gen))
      // carried ([[Ivf.rebalance]] rationale): a later cached-build
      // miss must reopen the repaired quantizer, not undo it
      graft.util.IndexMaint.carryDerivationKeys(gen, stage)
      graft.util.IndexMaint.commitGeneration(index.path, stage)
      dropBuildMemo(index.path)
      fresh
    }

  /** Fully DISTRIBUTED ADC screen of a `(vec_id, embedding)` delta
    * batch against the persisted flat codes — no driver-side LUTs: the
    * live generation's m×kSub codebook rides the plan as a literal
    * (m·kSub·subDim doubles — for m=4/kSub=256/sub=16 that is 131 kB,
    * broadcast-class metadata), the small delta side broadcasts, and
    * each (candidate, query) pair sums m subspace distances computed
    * from the code-resolved entry. This is the formulation a streaming
    * ingest loop needs: per-batch work is O(codes × Δ) with only code
    * BYTES read — PQ prunes bytes, not reads; the residual layout's
    * [[screenBatchResidual]] prunes both.
    */
  def screenBatchAdc(spark: SparkSession, index: PqIndex, delta: DataFrame,
      k: Int): DataFrame = {
    val gen = graft.util.IndexMaint.liveGen(index.path)
    val cbs = quantizerFor(index.path, gen, residual = false, "screenBatchAdc").codebooks
    val m = cbs.size
    val subDim = cbs.head.head.length
    val cbLit = typedLit(cbs.map(_.map(_.toSeq)))
    val q = broadcast(delta
      .select(col("vec_id").as("query_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qvec")))
    val d2 = (0 until m).map { s =>
      val entry = element_at(element_at(cbLit, s + 1), col(s"c$s") + 1)
      aggregate(
        zip_with(slice(col("qvec"), s * subDim + 1, subDim), entry,
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    }.reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id"))
    indexDataAt(spark, gen).crossJoin(q)
      .select(col("query_id"), col("vec_id"), d2.as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
      .orderBy("query_id", "rank")
  }

  // ---- streaming ingest + instrumentation -----------------------------------

  /** The [[graft.streaming.Ingest]] loop's verbs for a screened append
    * stream (`ingest:` tokens, [[appendBatchIdempotent]]), in either
    * encoding: the drift check is [[pqDriftStats]] (statistic:
    * `meanD2Now`), repaired by [[rebalance]].
    */
  val appendIngest: graft.streaming.Ingest.Family[PqIndex] =
    ingestFamily("ingest", appendBatchIdempotent,
      drift = Some { (spark, index) =>
        val d = pqDriftStats(spark, index)
        (d.drifted(), d.meanD2Now)
      },
      rebalance = (spark, index) => rebalance(spark, index))

  /** [[pqDriftStats]] invocation counter — the amortization evidence
    * counter for the streaming ingest spec.
    */
  private[graft] val driftScans = new java.util.concurrent.atomic.AtomicLong(0L)

  /** ADC top-k of raw query vectors against the persisted flat codes —
    * the recall probe PqSpec and ScaleProbe measure drift with.
    * `candFilter` (a predicate over the index's metadata columns)
    * lands on the index scan BEFORE ranking — filtered search prunes
    * bytes, never re-filters ranks.
    */
  def adcTopK(spark: SparkSession, index: PqIndex,
      queryVecs: Seq[(Long, Array[Double])], k: Int,
      candFilter: Option[Column] = None): DataFrame =
    adcTopKAt(spark, index.path, queryVecs, k, candFilter,
      graft.util.IndexMaint.liveGen(index.path))

  /** [[adcTopK]] against one resolved generation: LUTs from ITS
    * codebooks, codes from its tombstone-subtracted read.
    */
  private def adcTopKAt(spark: SparkSession, path: String,
      queryVecs: Seq[(Long, Array[Double])], k: Int,
      candFilter: Option[Column], gen: String): DataFrame =
    adcTopKOver(spark,
      quantizerFor(path, gen, residual = false, "adcTopK").codebooks,
      queryVecs, k, candFilter, indexDataAt(spark, gen))

  /** The ADC fold over an EXPLICIT (codebooks, codes) pair — the live
    * path passes the live generation's codebooks and tombstone-
    * subtracted read; a pinned snapshot passes the manifest's view
    * ([[adcTopKAsOf]]).
    */
  private def adcTopKOver(spark: SparkSession,
      codebooks: Seq[Seq[Array[Double]]],
      queryVecs: Seq[(Long, Array[Double])], k: Int,
      candFilter: Option[Column], indexed: DataFrame): DataFrame = {
    val m = codebooks.size
    val kEff = codebooks.head.size
    val lutSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("lut", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val lutDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        queryVecs.toIndexedSeq.map { case (id, q) =>
          Row(id, adcLut(q, codebooks).toSeq)
        }, 1), lutSchema)
    val d2 = (0 until m).map { s =>
      element_at(col("lut"), col(s"c$s") + lit(s * kEff + 1))
    }.reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id"))
    candFilter.map(indexed.filter).getOrElse(indexed).crossJoin(broadcast(lutDf))
      .select(col("query_id"), col("vec_id"), d2.as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
  }

  /** [[adcTopK]] against the snapshot pinned as `label` — bit-identical
    * to an ADC screen at pin time: LUTs build from the PINNED
    * codebooks, codes come from the manifest's segment set minus its
    * tombstone-pair copy.
    */
  def adcTopKAsOf(spark: SparkSession, path: String, label: String,
      queryVecs: Seq[(Long, Array[Double])], k: Int): DataFrame = {
    val snap = graft.util.IndexMaint.readSnapshot(path, label).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot pinned as '$label' under $path"))
    val genDir = graft.util.IndexMaint.snapshotGenDir(path, snap)
    adcTopKOver(spark,
      quantizerFor(path, genDir, residual = false, "adcTopKAsOf").codebooks,
      queryVecs, k, None,
      graft.util.IndexMaint.snapshotView(spark, genDir, snap,
        idCol = "vec_id"))
  }

  /** Registered `sim_pq_asof`: snapshot-isolated ADC serving — pin the
    * freshly-built code index, hit it with a takedown, a donor-vector
    * upsert wave and a compaction rewrite, then screen AS OF the pin.
    * The oracle is [[pqIncrementalSql]] — the closed form over the
    * ORIGINAL base — completing the pin story across the lexical, IVF
    * and PQ families on the one shared manifest mechanism. Replays
    * no-op on the tombstone union, the upsert token and the idempotent
    * pin.
    */
  def pqAsOf(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val emb = c.ref("embeddings").select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val path = graft.util.Fs.sessionTempDir("pq_index_asof", dir)
    val index = buildIndexCached(base, s"$dir/embeddings.parquet", path,
      m = 4, kSub = 16, iters = 0)
    pinIndexIfAbsent(path, "pre")
    // one-shot post-pin wave (sweepOnce — the ivfAsOf rationale): a
    // bench replay skips the doomed collect and the idempotent
    // compaction rewrite once the keyed compaction is durable
    graft.util.IndexMaint.sweepOnce(path, s"$dir/embeddings.parquet",
      "wave|pqasofq") {
      val doomed = base.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      deleteIds(index, doomed)
      val donor = emb.select(col("vec_id").as("did"), col("embedding").as("demb"))
      val wave = base.filter(col("vec_id") % 9 === 4)
        .join(donor, col("did") === col("vec_id") + 1)
        .select(col("vec_id"), col("demb").as("embedding"))
      upsertBatchIdempotent(loadIndex(path), wave, "pqasofq:ups")
      compactIndex(spark, loadIndex(path), sweepKey = Some("wave|pqasofq"))
      ()
    }
    val queryVecs = emb
      .filter(col("vec_id") % 10 === 0 && col("vec_id") < 500)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .toSeq
    adcTopKAsOf(spark, path, "pre", queryVecs, k = 5)
      .orderBy("query_id", "rank")
  }

  /** [[pqRerank]] on the PERSISTED index — the serving path: ADC ranks
    * the stored codes, the top-`rr` survivors per query are fetched
    * from the index's own stored embeddings (a broadcast candidate
    * join pruning the index scan) and exact-L2 reranked to top-k. The
    * index is read twice but the second read touches only candidate
    * rows; no external corpus access, so the query serves entirely
    * from the index directory.
    */
  def rerankTopK(spark: SparkSession, index: PqIndex,
      queryVecs: Seq[(Long, Array[Double])], k: Int, rr: Int,
      candFilter: Option[Column] = None): DataFrame = {
    // ONE generation resolve for screen AND rerank fetch: a generation
    // flip between two independent resolves would drop screened
    // candidates from the join (see indexDataAt)
    val gen = graft.util.IndexMaint.liveGen(index.path)
    // the filter applies at the SCREEN (bytes pruned before ranking);
    // the rerank fetch joins on screened ids, so it inherits the filter
    exactRerank(spark, gen,
      adcTopKAt(spark, index.path, queryVecs, rr, candFilter, gen), queryVecs, k)
  }

  /** The exact rerank both persisted reranks share: the screened
    * candidate ids fetch their stored embeddings from the SAME resolved
    * generation via a broadcast join — never a second corpus pass — and
    * exact double L2 restores the order quantized codes tie-collapse.
    */
  private def exactRerank(spark: SparkSession, gen: String, screened: DataFrame,
      queryVecs: Seq[(Long, Array[Double])], k: Int): DataFrame = {
    import spark.implicits._
    val qDf = queryVecs.map { case (id, q) => (id, q) }.toDF("query_id", "qvec")
    val exact = indexDataAt(spark, gen)
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(screened.select(col("query_id"), col("vec_id"))), Seq("vec_id"))
      .join(broadcast(qDf), Seq("query_id"))
      .withColumn("d2", expr(
        """aggregate(zip_with(embedding, qvec, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
          |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
  }

  /** Measured ADC recall@k against the exact L2 top-k over the index's
    * stored vectors — the dial a PQ user watches rot under shift.
    */
  def recallAtK(spark: SparkSession, index: PqIndex,
      queryVecs: Seq[(Long, Array[Double])], k: Int): Double =
    recallVsExact(spark, index, queryVecs, k, adcTopK(spark, index, queryVecs, k))

  /** The share of the exact L2 top-k over the index's stored vectors
    * that `approx` (a top-k page of the same queries) recovers — the
    * exact half both recall dials share.
    */
  private def recallVsExact(spark: SparkSession, index: PqIndex,
      queryVecs: Seq[(Long, Array[Double])], k: Int,
      approx: => DataFrame): Double = {
    import spark.implicits._
    val qDf = queryVecs.map { case (id, q) => (id, q) }.toDF("query_id", "qvec")
    val exact = indexData(spark, index.path)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(qDf))
      .withColumn("d2", expr(
        """aggregate(zip_with(embedding, qvec, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
          |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint()
    val hits = approx.select(col("query_id"), col("vec_id"))
    val denom = exact.count()
    if (denom == 0) 1.0
    else exact.join(hits, Seq("query_id", "vec_id")).count().toDouble / denom
  }

  // ---- residual IVF-PQ ------------------------------------------------------

  /** Residual IVF-PQ — the actual FAISS `IndexIVFPQ` encoding (Jégou et
    * al. 2011 §IV.B): PQ quantizes the RESIDUAL `r = v − c(cell)` of
    * each vector to its coarse centroid, not the raw vector. Residuals
    * concentrate around the origin regardless of which cell a vector
    * came from, so the same `kSub` codebook entries resolve much finer
    * structure than on raw vectors whose variance is dominated by the
    * between-cell offsets — the standard recall upgrade at identical
    * bytes/vector. The ADC table is computed per (query, probed cell),
    * because the query's residual differs per cell.
    *
    * Arithmetic contract for the oracle: residuals stay in DOUBLE end
    * to end (the zip_with subtraction casts both sides; the encode
    * kernel is [[graft.functions.ArrayExprs.NearestCentroidSqD]] — no
    * float round-trip for the twin to disagree with), the sub-codebook
    * entries are the md5-sample rows' residual slices verbatim
    * (iters = 0), and every fold is the established left-to-right
    * order.
    */
  def ivfPqResidual(spark: SparkSession, dir: String): DataFrame =
    ivfPqResidualAt(spark, dir, nQueries = 5, k = 10, kCells = 16, nprobe = 4,
      m = 4, kSub = 16, iters = 0)

  def ivfPqResidualAt(spark: SparkSession, dir: String, nQueries: Int, k: Int,
      kCells: Int, nprobe: Int, m: Int, kSub: Int, iters: Int): DataFrame = {
    val c = Catalog(spark, dir)
    val emb = c.ref("embeddings").select(col("vec_id"), col("embedding"))
    val cents = Ivf.kmeansCentroids(emb, kCells, iters)
    val centArr: Seq[Seq[Float]] = cents.map(_.toSeq)

    val dim = cents.head.length
    require(dim % m == 0, s"residual PQ: dimension $dim not divisible by m=$m")
    val subDim = dim / m
    val centsA = cents.map(identity).toArray
    // Sub-codebooks over the sample RESIDUALS: iters = 0 keeps the
    // slices verbatim (the oracle-replayable setting); iters > 0 runs
    // the shared per-subspace Lloyd on them (the real-corpus setting).
    val codebooks: Seq[Seq[Array[Double]]] =
      residualCodebooksFromSample(emb, cents, m, kSub, iters)

    // ONE scan: coarse cell, double residual, m residual codes.
    val centLit = typedLit(centArr)
    val assigned0 = emb
      .withColumn("cid", ArrayExprs.nearestCentroid(col("embedding"), cents))
      .withColumn("cent", element_at(centLit, col("cid") + 1))
      .withColumn("resid",
        zip_with(col("embedding"), col("cent"),
          (x, cc) => x.cast("double") - cc.cast("double")))
    val codeCols = (0 until m).map { s =>
      ArrayExprs.nearestCentroidSqD(
        slice(col("resid"), s * subDim + 1, subDim), codebooks(s))
        .getField("cid").as(s"c$s")
    }
    val assigned = assigned0.select(
      (col("vec_id") +: col("cid") +: codeCols): _*)

    // Query side: per (query, probed cell) LUT over the query's
    // PER-CELL residual — bounded driver metadata (nQueries × nprobe
    // rows of m·kSub doubles).
    val qRows = emb.filter(col("vec_id") < nQueries)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val probeRows = qRows.flatMap { case (id, q) =>
      cents.zipWithIndex.map { case (cv, cid) =>
        var dot = 0.0; var nrm = 0.0
        var i = 0
        while (i < cv.length) {
          dot += q(i) * cv(i).toDouble; nrm += cv(i).toDouble * cv(i); i += 1
        }
        (if (nrm == 0) Double.NegativeInfinity else dot / math.sqrt(nrm), cid)
      }.sortBy { case (s, cid) => (-s, cid) }.take(nprobe)
        .map { case (_, cid) =>
          val cvec = centsA(cid)
          val qresid = Array.tabulate(dim)(i => q(i) - cvec(i).toDouble)
          Row(id, cid, adcLut(qresid, codebooks).toSeq)
        }
    }
    val probeSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("cid", IntegerType, nullable = false),
      StructField("lut", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val probeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows.toIndexedSeq, 1), probeSchema)

    val d2 = (0 until m).map { s =>
      element_at(col("lut"), col(s"c$s") + lit(s * kSub + 1))
    }.reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id"))
    assigned.join(broadcast(probeDf), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), d2.as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
      .orderBy("query_id", "rank")
  }

  /** DuckDB twin of [[ivfPqResidual]]: the shared sample draw feeds the
    * coarse cells AND the residual sub-codebooks; `resid` replays the
    * double subtraction, `cb` takes the first 16 sample residuals
    * verbatim, and the per-(query, probed-cell) LUT subtracts the
    * cell's centroid from the query before the ADC fold.
    */
  val ivfPqResidualSql: String =
    """WITH ho AS (
      |  SELECT vec_id, embedding,
      |         md5_number_lower(CAST(vec_id AS VARCHAR)) % 1000003 AS hord
      |  FROM embeddings),
      |samp AS (
      |  SELECT vec_id, embedding, row_number() OVER (ORDER BY hord, vec_id) AS sr
      |  FROM ho ORDER BY hord, vec_id LIMIT 1024),
      |cnorm AS (
      |  SELECT sr - 1 AS cid,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec,
      |         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS cn
      |  FROM samp WHERE sr <= 16),
      |en AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT en.vec_id, c.cid,
      |           row_number() OVER (PARTITION BY en.vec_id ORDER BY
      |             list_sum(list_transform(range(1, len(vec) + 1), i -> vec[i] * c.cvec[i])) / c.cn
      |             DESC, c.cid) AS r
      |    FROM en CROSS JOIN cnorm c) WHERE r = 1),
      |resid AS (
      |  SELECT en.vec_id, a.cid,
      |         list_transform(range(1, len(vec) + 1), i -> vec[i] - c.cvec[i]) AS rvec
      |  FROM en JOIN assigned a ON a.vec_id = en.vec_id
      |  JOIN cnorm c ON c.cid = a.cid),
      |cb AS (
      |  SELECT s.sr - 1 AS code, r.rvec AS cvec
      |  FROM samp s JOIN resid r ON r.vec_id = s.vec_id
      |  WHERE s.sr <= 16),
      |subs AS (SELECT unnest(range(4)) AS s),
      |subd AS (
      |  SELECT r.vec_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (r.rvec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i])
      |              * (r.rvec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i]))) AS d2
      |  FROM resid r CROSS JOIN subs CROSS JOIN cb),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
      |    FROM subd) WHERE rk = 1),
      |queries AS (
      |  SELECT vec_id AS query_id, vec AS qvec FROM en WHERE vec_id < 5),
      |probes AS (
      |  SELECT query_id, cid FROM (
      |    SELECT q.query_id, c.cid,
      |           row_number() OVER (PARTITION BY q.query_id ORDER BY
      |             list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * c.cvec[i])) / c.cn
      |             DESC, c.cid) AS prank
      |    FROM queries q CROSS JOIN cnorm c) WHERE prank <= 4),
      |lut AS (
      |  SELECT p.query_id, p.cid, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> ((qvec[subs.s * 16 + i] - cc.cvec[subs.s * 16 + i]) - cb.cvec[subs.s * 16 + i])
      |              * ((qvec[subs.s * 16 + i] - cc.cvec[subs.s * 16 + i]) - cb.cvec[subs.s * 16 + i]))) AS d2
      |  FROM probes p
      |  JOIN queries q ON q.query_id = p.query_id
      |  JOIN cnorm cc ON cc.cid = p.cid
      |  CROSS JOIN subs CROSS JOIN cb),
      |cand AS (
      |  SELECT p.query_id, a.vec_id, a.cid
      |  FROM probes p JOIN assigned a ON a.cid = p.cid
      |  WHERE a.vec_id <> p.query_id),
      |scored AS (
      |  SELECT cd.query_id, cd.vec_id,
      |         list_sum(list(l.d2 ORDER BY l.s)) AS d2
      |  FROM cand cd
      |  JOIN codes c ON c.vec_id = cd.vec_id
      |  JOIN lut l ON l.query_id = cd.query_id AND l.cid = cd.cid
      |             AND l.s = c.s AND l.code = c.code
      |  GROUP BY cd.query_id, cd.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, d2,
      |         row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, d2 FROM ranked WHERE rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  /** Registered `sim_pq_incremental`: the PERSISTED-index production
    * shape under the oracle — the base corpus (vec_id % 10 ≠ 0) builds
    * the index ONCE (codes + codebook/fit-stat sidecars on disk), and a
    * delta batch screens against the stored CODES via ADC without
    * touching base embeddings at query time. The [[Ivf.ivfIncremental]]
    * contract applied to the byte-prune dial: rebuild-per-invocation
    * keeps the row hash-closed; production holds the [[PqIndex]] handle
    * (or [[loadIndex]]s it) and calls [[appendBatch]]/[[adcTopK]] per
    * landing batch, with [[pqDriftStats]]/[[rebalance]] as the
    * maintenance loop.
    */
  def pqIncremental(spark: SparkSession, dir: String): DataFrame =
    pqIncrementalAt(spark, dir, k = 5, m = 4, kSub = 16)

  def pqIncrementalAt(spark: SparkSession, dir: String, k: Int,
      m: Int, kSub: Int): DataFrame = {
    val c = Catalog(spark, dir)
    val emb = c.ref("embeddings").select(col("vec_id"), col("embedding"))
    val index = buildIndexCached(emb.filter(col("vec_id") % 10 =!= 0),
      s"$dir/embeddings.parquet",
      graft.util.Fs.sessionTempDir("pq_index", dir), m, kSub, iters = 0)
    val queryVecs = emb
      .filter(col("vec_id") % 10 === 0 && col("vec_id") < 500)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .toSeq
    adcTopK(spark, index, queryVecs, k).orderBy("query_id", "rank")
  }

  /** Twin of [[pqIncremental]]: the base-only md5 sample draw trains
    * the verbatim iters=0 codebooks, codes cover base vectors only, and
    * the delta queries replay the ADC fold — persistence is an
    * engine-side layout detail invisible to the result.
    */
  val pqIncrementalSql: String =
    """WITH ho AS (
      |  SELECT vec_id, embedding,
      |         md5_number_lower(CAST(vec_id AS VARCHAR)) % 1000003 AS hord
      |  FROM embeddings WHERE vec_id % 10 <> 0),
      |samp AS (
      |  SELECT vec_id, embedding, row_number() OVER (ORDER BY hord, vec_id) AS sr
      |  FROM ho ORDER BY hord, vec_id LIMIT 1024),
      |cb AS (
      |  SELECT sr - 1 AS code,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      |  FROM samp WHERE sr <= 16),
      |en AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |subs AS (SELECT unnest(range(4)) AS s),
      |subd AS (
      |  SELECT en.vec_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (vec[subs.s * 16 + i] - cvec[subs.s * 16 + i])
      |              * (vec[subs.s * 16 + i] - cvec[subs.s * 16 + i]))) AS d2
      |  FROM en CROSS JOIN subs CROSS JOIN cb
      |  WHERE en.vec_id % 10 <> 0),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
      |    FROM subd) WHERE rk = 1),
      |queries AS (
      |  SELECT vec_id AS query_id, vec AS qvec FROM en
      |  WHERE vec_id % 10 = 0 AND vec_id < 500),
      |lut AS (
      |  SELECT q.query_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (qvec[subs.s * 16 + i] - cvec[subs.s * 16 + i])
      |              * (qvec[subs.s * 16 + i] - cvec[subs.s * 16 + i]))) AS d2
      |  FROM queries q CROSS JOIN subs CROSS JOIN cb),
      |scored AS (
      |  SELECT l.query_id, c.vec_id,
      |         list_sum(list(l.d2 ORDER BY l.s)) AS d2
      |  FROM codes c
      |  JOIN lut l ON l.s = c.s AND l.code = c.code
      |  GROUP BY l.query_id, c.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, d2,
      |         row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, d2 FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // ---- persisted residual IVF-PQ screens -------------------------------------
  //
  // The production form of [[ivfPqResidual]]: a [[PqIndex]] built with
  // `kCells` — the FAISS IndexIVFPQ layout as a real table. Its screens
  // compose BOTH scale dials durably: a screen reads ~nprobe/kCells of
  // the cell partitions (read pruning) and scores code BYTES via
  // per-cell residual LUTs (byte pruning). Every other verb is the
  // shared one above: appends erode fit, [[pqDriftStats]] sees it and
  // [[rebalance]] runs the composed repair.

  /** Probed-cell ADC screen of raw query vectors against the persisted
    * residual codes: per (query, probed cell) the query's RESIDUAL LUT
    * is bounded driver metadata (nQueries × nprobe rows of m·kSub
    * doubles), the probed cid list prunes the index scan to
    * ~nprobe/kCells of its partitions, and each candidate costs m
    * lookups summed — both dials, one plan.
    */
  def screenTopKResidual(spark: SparkSession, index: PqIndex,
      queryVecs: Seq[(Long, Array[Double])], k: Int, nprobe: Int,
      candFilter: Option[Column] = None): DataFrame =
    screenTopKResidualAt(spark, index.path, queryVecs, k, nprobe, candFilter,
      graft.util.IndexMaint.liveGen(index.path))

  /** [[screenTopKResidual]] against one resolved generation: probes and
    * LUTs from ITS quantizer, codes from its tombstone-subtracted read.
    */
  private def screenTopKResidualAt(spark: SparkSession, path: String,
      queryVecs: Seq[(Long, Array[Double])], k: Int, nprobe: Int,
      candFilter: Option[Column], gen: String): DataFrame = {
    val q = quantizerFor(path, gen, residual = true, "screenTopKResidual")
    screenTopKResidualOver(spark, q.coarse.get, q.codebooks,
      queryVecs, k, nprobe, candFilter,
      cids => indexDataAt(spark, gen).filter(col("cid").isin(cids: _*)))
  }

  /** The residual screen over an EXPLICIT (coarse quantizer, codebooks,
    * candidate provider) triple — the live path passes the live
    * generation's sidecars and tombstone-subtracted read; a pinned
    * snapshot passes the manifest's view ([[screenTopKResidualAsOf]]).
    */
  private def screenTopKResidualOver(spark: SparkSession,
      centroids: Seq[Array[Float]], codebooks: Seq[Seq[Array[Double]]],
      queryVecs: Seq[(Long, Array[Double])], k: Int, nprobe: Int,
      candFilter: Option[Column],
      prunedData: Seq[Int] => DataFrame): DataFrame = {
    val m = codebooks.size
    val kSub = codebooks.head.size
    val dim = centroids.head.length
    val centsA = centroids.map(identity).toArray
    val probeRows = queryVecs.flatMap { case (id, q) =>
      centsA.zipWithIndex.map { case (cv, cid) =>
        var dot = 0.0; var nrm = 0.0
        var i = 0
        while (i < cv.length) {
          dot += q(i) * cv(i).toDouble; nrm += cv(i).toDouble * cv(i); i += 1
        }
        (if (nrm == 0) Double.NegativeInfinity else dot / math.sqrt(nrm), cid)
      }.sortBy { case (s, cid) => (-s, cid) }.take(nprobe)
        .map { case (_, cid) =>
          val cvec = centsA(cid)
          val qresid = Array.tabulate(dim)(i => q(i) - cvec(i).toDouble)
          Row(id, cid, adcLut(qresid, codebooks).toSeq)
        }
    }
    val probeSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("cid", IntegerType, nullable = false),
      StructField("lut", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val probeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows.toIndexedSeq, 1), probeSchema)
    val probedCids = probeRows.map(_.getInt(1)).distinct.sorted
    val d2 = (0 until m).map { s =>
      element_at(col("lut"), col(s"c$s") + lit(s * kSub + 1))
    }.reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id"))
    val pruned = prunedData(probedCids)
    // metadata predicate UNDER the cid partition filter: filter ×
    // partition prune × byte prune, all three dials in one plan
    candFilter.map(pruned.filter).getOrElse(pruned)
      .join(broadcast(probeDf), Seq("cid"))
      .select(col("query_id"), col("vec_id"), d2.as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
  }

  /** [[screenTopKResidual]] against the snapshot pinned as `label` —
    * completing as-of serving across ALL FOUR index families on the one
    * manifest mechanism: probes rank against the PINNED coarse
    * quantizer, LUTs build from the PINNED codebooks, codes come from
    * the manifest's segment set minus its tombstone-pair copy, and the
    * probed-cid partition pruning applies unchanged.
    */
  def screenTopKResidualAsOf(spark: SparkSession, path: String,
      label: String, queryVecs: Seq[(Long, Array[Double])], k: Int,
      nprobe: Int): DataFrame = {
    val snap = graft.util.IndexMaint.readSnapshot(path, label).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot pinned as '$label' under $path"))
    val genDir = graft.util.IndexMaint.snapshotGenDir(path, snap)
    val q = quantizerFor(path, genDir, residual = true, "screenTopKResidualAsOf")
    screenTopKResidualOver(spark, q.coarse.get, q.codebooks,
      queryVecs, k, nprobe, candFilter = None,
      cids => graft.util.IndexMaint.snapshotView(spark, genDir, snap,
        idCol = "vec_id").filter(col("cid").isin(cids: _*)))
  }

  /** Registered `sim_ivfpq_asof`: snapshot-isolated residual serving —
    * pin the freshly-built residual index, hit it with a takedown, a
    * donor-vector upsert wave and a compaction rewrite, then screen AS
    * OF the pin. The oracle is [[ivfPqResidualIncrementalSql]] — the
    * closed form over the ORIGINAL base. The fourth and last family on
    * the shared pin mechanism. Replays no-op on the tombstone union,
    * the upsert token and the idempotent pin.
    */
  def ivfPqAsOf(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val emb = c.ref("embeddings").select(col("vec_id"), col("embedding"))
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val path = graft.util.Fs.sessionTempDir("ivfpq_index_asof", dir)
    val index = buildIndexCached(base, s"$dir/embeddings.parquet",
      path, m = 4, kSub = 16, iters = 0, kCells = Some(16))
    graft.util.IndexMaint.pinLiveIfAbsent(path, "pre")
    // one-shot post-pin wave (sweepOnce — the ivfAsOf rationale)
    graft.util.IndexMaint.sweepOnce(path, s"$dir/embeddings.parquet",
      "wave|rqasofq") {
      val doomed = base.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      deleteIds(index, doomed)
      val donor = emb.select(col("vec_id").as("did"), col("embedding").as("demb"))
      val wave = base.filter(col("vec_id") % 9 === 4)
        .join(donor, col("did") === col("vec_id") + 1)
        .select(col("vec_id"), col("demb").as("embedding"))
      upsertBatchIdempotent(loadIndex(path), wave, "rqasofq:ups")
      compactIndex(spark, loadIndex(path), Some("wave|rqasofq"))
      ()
    }
    val queryVecs = emb
      .filter(col("vec_id") % 10 === 0 && col("vec_id") < 500)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .toSeq
    screenTopKResidualAsOf(spark, path, "pre", queryVecs, k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  /** [[rerankTopK]] on the PERSISTED RESIDUAL index — FAISS's
    * `IndexRefineFlat`-over-IVFPQ, the production serving default: the
    * probed-cell residual ADC screen ranks ~nprobe/kCells of the codes
    * at m bytes/vector, the top-`rr` survivors per query are fetched
    * from the index's own stored embeddings (broadcast candidate join —
    * never a second corpus pass) and exact-L2 reranked to top-k. Where
    * pure residual ADC tie-collapses quantized near-neighbors, the
    * rerank restores exact order for a per-query constant. Composes
    * with `candFilter`: the filter prunes the screen's bytes, and the
    * rerank inherits it through the screened-id join.
    */
  def rerankTopKResidual(spark: SparkSession, index: PqIndex,
      queryVecs: Seq[(Long, Array[Double])], k: Int, rr: Int, nprobe: Int,
      candFilter: Option[Column] = None): DataFrame = {
    // ONE generation resolve for screen AND rerank fetch (indexDataAt)
    val gen = graft.util.IndexMaint.liveGen(index.path)
    exactRerank(spark, gen,
      screenTopKResidualAt(spark, index.path, queryVecs, rr, nprobe, candFilter, gen),
      queryVecs, k)
  }

  /** [[screenTopKResidual]] for a DELTA DataFrame — fully distributed
    * (the [[screenBatchAdc]] contract on the residual layout): probe
    * ranking, per-(query, cell) residuals and per-candidate ADC
    * distances all ride the plan as expressions over the broadcast
    * probe relation and the live generation's centroid/codebook
    * literals; no driver LUT is ever materialized, so a streaming
    * micro-batch of any width screens without driver round-trips. The
    * only driver-side value is the probed-cid list (≤ kCells ints) that
    * statically prunes the index scan — the same bounded collect every
    * probed screen makes. Distances are bit-identical to
    * [[screenTopKResidual]] (PqSpec pins it): the per-subspace fold
    * replays `adcLut`'s accumulation order.
    */
  def screenBatchResidual(spark: SparkSession, index: PqIndex,
      delta: DataFrame, k: Int, nprobe: Int): DataFrame = {
    import spark.implicits._
    val gen = graft.util.IndexMaint.liveGen(index.path)
    val q = quantizerFor(index.path, gen, residual = true, "screenBatchResidual")
    val cents = q.coarse.get
    val m = q.codebooks.size
    val subDim = q.codebooks.head.head.length
    val centDf = cents.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cid", "cent")
    // Probe list per batch vector — the Ivf.screenBatchProbed ranking
    // (dot / |centroid| over float-widened doubles, ties on low cid).
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("cscore").desc, col("cid"))
    val probes = delta
      .select(col("vec_id").as("query_id"), col("embedding"))
      .crossJoin(broadcast(centDf))
      .withColumn("cscore",
        graft.ops.Similarity.dot(col("embedding"), col("cent"))
          / graft.ops.Similarity.l2norm(col("cent")))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select(col("query_id"), col("embedding"), col("cid"))
      .localCheckpoint() // pinned: probed-cid collect + candidate join
    val probedCids = probes.select("cid").distinct()
      .collect().map(_.getInt(0)).sorted
    // Per-(query, probed cell) residual, computed in-plan.
    val centLit = typedLit(cents.map(_.toSeq))
    val qr = zip_with(
      expr("transform(embedding, x -> CAST(x AS DOUBLE))"),
      element_at(centLit, col("cid") + 1),
      (x, c) => x - c.cast("double"))
    val probeRel = probes.select(col("query_id"), col("cid"), qr.as("qr"))
    val cbLit = typedLit(q.codebooks.map(_.map(_.toSeq)))
    val d2 = (0 until m).map { s =>
      val entry = element_at(element_at(cbLit, s + 1), col(s"c$s") + 1)
      aggregate(
        zip_with(slice(col("qr"), s * subDim + 1, subDim), entry,
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    }.reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2").asc, col("vec_id"))
    indexDataAt(spark, gen)
      .filter(col("cid").isin(probedCids.toIndexedSeq: _*))
      .join(broadcast(probeRel), Seq("cid"))
      .select(col("query_id"), col("vec_id"), d2.as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
      .orderBy("query_id", "rank")
  }

  /** Measured ADC recall@k of the persisted residual screen against the
    * exact L2 top-k over the index's stored vectors — the ScaleProbe
    * dial comparing residual vs raw codes at equal bytes/vector.
    */
  def recallAtKResidual(spark: SparkSession, index: PqIndex,
      queryVecs: Seq[(Long, Array[Double])], k: Int, nprobe: Int): Double =
    recallVsExact(spark, index, queryVecs, k,
      screenTopKResidual(spark, index, queryVecs, k, nprobe))

  /** Registered `sim_ivfpq_residual_incremental`: the persisted
    * residual index under the oracle — the base corpus
    * (vec_id % 10 ≠ 0) builds the index ONCE (cid-partitioned residual
    * codes + all three sidecars on disk), and the delta queries screen
    * against the stored codes via probed-cell residual ADC. Twin of
    * [[pqIncremental]]'s contract for the composed index: persistence
    * is a layout detail invisible to the result, so the row hash-proves
    * the persisted screen ≡ the closed-form residual IVF-PQ SQL.
    */
  def ivfPqResidualIncremental(spark: SparkSession, dir: String): DataFrame =
    ivfPqResidualIncrementalAt(spark, dir, k = 5, kCells = 16, nprobe = 4,
      m = 4, kSub = 16)

  def ivfPqResidualIncrementalAt(spark: SparkSession, dir: String, k: Int,
      kCells: Int, nprobe: Int, m: Int, kSub: Int): DataFrame = {
    val c = Catalog(spark, dir)
    val emb = c.ref("embeddings").select(col("vec_id"), col("embedding"))
    val index = buildIndexCached(emb.filter(col("vec_id") % 10 =!= 0),
      s"$dir/embeddings.parquet", graft.util.Fs.sessionTempDir("ivfpq_index", dir),
      m, kSub, iters = 0, kCells = Some(kCells))
    val queryVecs = emb
      .filter(col("vec_id") % 10 === 0 && col("vec_id") < 500)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .toSeq
    screenTopKResidual(spark, index, queryVecs, k, nprobe)
      .orderBy("query_id", "rank")
  }

  /** Registered `sim_ivfpq_filtered`: FILTERED search on the persisted
    * residual index — the full production vector-store query: metadata
    * (`label`) rides the index files ([[buildIndex]]
    * pass-through), the predicate lands on the scan UNDER the probed-cid
    * partition filter ([[screenTopKResidual]]'s `candFilter`), residual
    * ADC prunes the bytes, and the probe list widens 4 → 8 for the
    * ~10%-selective predicate. Filter × partition prune × ADC — all
    * three dials in one durable plan (VERDICT r15's missing #2).
    */
  def ivfPqFiltered(spark: SparkSession, dir: String): DataFrame =
    ivfPqFilteredAt(spark, dir, k = 5, kCells = 16, nprobe = 8,
      m = 4, kSub = 16, label = 3)

  def ivfPqFilteredAt(spark: SparkSession, dir: String, k: Int, kCells: Int,
      nprobe: Int, m: Int, kSub: Int, label: Int): DataFrame = {
    val c = Catalog(spark, dir)
    val emb = c.ref("embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    val index = buildIndexCached(emb.filter(col("vec_id") % 10 =!= 0),
      s"$dir/embeddings.parquet", graft.util.Fs.sessionTempDir("ivfpq_index_lbl", dir),
      m, kSub, iters = 0, kCells = Some(kCells))
    val queryVecs = emb
      .filter(col("vec_id") % 10 === 0 && col("vec_id") < 500)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .toSeq
    screenTopKResidual(spark, index, queryVecs, k, nprobe,
      candFilter = Some(col("label") === label))
      .orderBy("query_id", "rank")
  }

  /** Registered `sim_ivfpq_rerank`: [[rerankTopKResidual]] under the
    * oracle — the persisted residual index screens the delta queries to
    * top-rr by probed-cell ADC, then exact-L2 reranks the survivors
    * from the stored embeddings. The twin computes TRUE distances for
    * the rerank stage, so hash equality proves the exact arithmetic,
    * not just the ordering.
    */
  def ivfPqRerank(spark: SparkSession, dir: String): DataFrame =
    ivfPqRerankAt(spark, dir, k = 5, rr = 40, kCells = 16, nprobe = 4,
      m = 4, kSub = 16)

  def ivfPqRerankAt(spark: SparkSession, dir: String, k: Int, rr: Int,
      kCells: Int, nprobe: Int, m: Int, kSub: Int): DataFrame = {
    val c = Catalog(spark, dir)
    val emb = c.ref("embeddings").select(col("vec_id"), col("embedding"))
    val index = buildIndexCached(emb.filter(col("vec_id") % 10 =!= 0),
      s"$dir/embeddings.parquet", graft.util.Fs.sessionTempDir("ivfpq_index", dir),
      m, kSub, iters = 0, kCells = Some(kCells))
    val queryVecs = emb
      .filter(col("vec_id") % 10 === 0 && col("vec_id") < 500)
      .orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
      .toSeq
    rerankTopKResidual(spark, index, queryVecs, k, rr, nprobe)
      .orderBy("query_id", "rank")
  }

  /** Twin of [[ivfPqResidualIncremental]]: [[ivfPqResidualSql]]'s
    * arithmetic with the base/delta split — the sample draw, cells,
    * residuals and codes read the BASE corpus only; the delta queries
    * replay the per-(query, probed-cell) residual LUT fold.
    */
  val ivfPqResidualIncrementalSql: String =
    """WITH ho AS (
      |  SELECT vec_id, embedding,
      |         md5_number_lower(CAST(vec_id AS VARCHAR)) % 1000003 AS hord
      |  FROM embeddings WHERE vec_id % 10 <> 0),
      |samp AS (
      |  SELECT vec_id, embedding, row_number() OVER (ORDER BY hord, vec_id) AS sr
      |  FROM ho ORDER BY hord, vec_id LIMIT 1024),
      |cnorm AS (
      |  SELECT sr - 1 AS cid,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec,
      |         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS cn
      |  FROM samp WHERE sr <= 16),
      |en AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT en.vec_id, c.cid,
      |           row_number() OVER (PARTITION BY en.vec_id ORDER BY
      |             list_sum(list_transform(range(1, len(vec) + 1), i -> vec[i] * c.cvec[i])) / c.cn
      |             DESC, c.cid) AS r
      |    FROM en CROSS JOIN cnorm c WHERE en.vec_id % 10 <> 0) WHERE r = 1),
      |resid AS (
      |  SELECT en.vec_id, a.cid,
      |         list_transform(range(1, len(vec) + 1), i -> vec[i] - c.cvec[i]) AS rvec
      |  FROM en JOIN assigned a ON a.vec_id = en.vec_id
      |  JOIN cnorm c ON c.cid = a.cid),
      |cb AS (
      |  SELECT s.sr - 1 AS code, r.rvec AS cvec
      |  FROM samp s JOIN resid r ON r.vec_id = s.vec_id
      |  WHERE s.sr <= 16),
      |subs AS (SELECT unnest(range(4)) AS s),
      |subd AS (
      |  SELECT r.vec_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (r.rvec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i])
      |              * (r.rvec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i]))) AS d2
      |  FROM resid r CROSS JOIN subs CROSS JOIN cb),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
      |    FROM subd) WHERE rk = 1),
      |queries AS (
      |  SELECT vec_id AS query_id, vec AS qvec FROM en
      |  WHERE vec_id % 10 = 0 AND vec_id < 500),
      |probes AS (
      |  SELECT query_id, cid FROM (
      |    SELECT q.query_id, c.cid,
      |           row_number() OVER (PARTITION BY q.query_id ORDER BY
      |             list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * c.cvec[i])) / c.cn
      |             DESC, c.cid) AS prank
      |    FROM queries q CROSS JOIN cnorm c) WHERE prank <= 4),
      |lut AS (
      |  SELECT p.query_id, p.cid, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> ((qvec[subs.s * 16 + i] - cc.cvec[subs.s * 16 + i]) - cb.cvec[subs.s * 16 + i])
      |              * ((qvec[subs.s * 16 + i] - cc.cvec[subs.s * 16 + i]) - cb.cvec[subs.s * 16 + i]))) AS d2
      |  FROM probes p
      |  JOIN queries q ON q.query_id = p.query_id
      |  JOIN cnorm cc ON cc.cid = p.cid
      |  CROSS JOIN subs CROSS JOIN cb),
      |cand AS (
      |  SELECT p.query_id, a.vec_id, a.cid
      |  FROM probes p JOIN assigned a ON a.cid = p.cid),
      |scored AS (
      |  SELECT cd.query_id, cd.vec_id,
      |         list_sum(list(l.d2 ORDER BY l.s)) AS d2
      |  FROM cand cd
      |  JOIN codes c ON c.vec_id = cd.vec_id
      |  JOIN lut l ON l.query_id = cd.query_id AND l.cid = cd.cid
      |             AND l.s = c.s AND l.code = c.code
      |  GROUP BY cd.query_id, cd.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, d2,
      |         row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, d2 FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Twin of [[ivfPqFiltered]]: [[ivfPqResidualIncrementalSql]] with
    * the label carried through `assigned`, the widened prank ≤ 8 probe
    * list, and the predicate on the candidate relation — the scan-side
    * filter placement has no SQL shadow, which is exactly the claim.
    */
  val ivfPqFilteredSql: String =
    """WITH ho AS (
      |  SELECT vec_id, embedding,
      |         md5_number_lower(CAST(vec_id AS VARCHAR)) % 1000003 AS hord
      |  FROM embeddings WHERE vec_id % 10 <> 0),
      |samp AS (
      |  SELECT vec_id, embedding, row_number() OVER (ORDER BY hord, vec_id) AS sr
      |  FROM ho ORDER BY hord, vec_id LIMIT 1024),
      |cnorm AS (
      |  SELECT sr - 1 AS cid,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec,
      |         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS cn
      |  FROM samp WHERE sr <= 16),
      |en AS (
      |  SELECT vec_id, label AS lbl,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |assigned AS (
      |  SELECT vec_id, cid, lbl FROM (
      |    SELECT en.vec_id, c.cid, en.lbl,
      |           row_number() OVER (PARTITION BY en.vec_id ORDER BY
      |             list_sum(list_transform(range(1, len(vec) + 1), i -> vec[i] * c.cvec[i])) / c.cn
      |             DESC, c.cid) AS r
      |    FROM en CROSS JOIN cnorm c WHERE en.vec_id % 10 <> 0) WHERE r = 1),
      |resid AS (
      |  SELECT en.vec_id, a.cid,
      |         list_transform(range(1, len(vec) + 1), i -> vec[i] - c.cvec[i]) AS rvec
      |  FROM en JOIN assigned a ON a.vec_id = en.vec_id
      |  JOIN cnorm c ON c.cid = a.cid),
      |cb AS (
      |  SELECT s.sr - 1 AS code, r.rvec AS cvec
      |  FROM samp s JOIN resid r ON r.vec_id = s.vec_id
      |  WHERE s.sr <= 16),
      |subs AS (SELECT unnest(range(4)) AS s),
      |subd AS (
      |  SELECT r.vec_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (r.rvec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i])
      |              * (r.rvec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i]))) AS d2
      |  FROM resid r CROSS JOIN subs CROSS JOIN cb),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
      |    FROM subd) WHERE rk = 1),
      |queries AS (
      |  SELECT vec_id AS query_id, vec AS qvec FROM en
      |  WHERE vec_id % 10 = 0 AND vec_id < 500),
      |probes AS (
      |  SELECT query_id, cid FROM (
      |    SELECT q.query_id, c.cid,
      |           row_number() OVER (PARTITION BY q.query_id ORDER BY
      |             list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * c.cvec[i])) / c.cn
      |             DESC, c.cid) AS prank
      |    FROM queries q CROSS JOIN cnorm c) WHERE prank <= 8),
      |lut AS (
      |  SELECT p.query_id, p.cid, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> ((qvec[subs.s * 16 + i] - cc.cvec[subs.s * 16 + i]) - cb.cvec[subs.s * 16 + i])
      |              * ((qvec[subs.s * 16 + i] - cc.cvec[subs.s * 16 + i]) - cb.cvec[subs.s * 16 + i]))) AS d2
      |  FROM probes p
      |  JOIN queries q ON q.query_id = p.query_id
      |  JOIN cnorm cc ON cc.cid = p.cid
      |  CROSS JOIN subs CROSS JOIN cb),
      |cand AS (
      |  SELECT p.query_id, a.vec_id, a.cid
      |  FROM probes p JOIN assigned a ON a.cid = p.cid
      |  WHERE a.lbl = 3),
      |scored AS (
      |  SELECT cd.query_id, cd.vec_id,
      |         list_sum(list(l.d2 ORDER BY l.s)) AS d2
      |  FROM cand cd
      |  JOIN codes c ON c.vec_id = cd.vec_id
      |  JOIN lut l ON l.query_id = cd.query_id AND l.cid = cd.cid
      |             AND l.s = c.s AND l.code = c.code
      |  GROUP BY cd.query_id, cd.vec_id),
      |ranked AS (
      |  SELECT query_id, vec_id, d2,
      |         row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id, d2 FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** Twin of [[ivfPqRerank]]: [[ivfPqResidualIncrementalSql]]'s screen
    * capped at rr = 40, then the exact double L2 on the survivors —
    * the same left-to-right list_sum fold as the engine's zip_with
    * aggregate, so the reranked distances hash bit-identically.
    */
  val ivfPqRerankSql: String =
    """WITH ho AS (
      |  SELECT vec_id, embedding,
      |         md5_number_lower(CAST(vec_id AS VARCHAR)) % 1000003 AS hord
      |  FROM embeddings WHERE vec_id % 10 <> 0),
      |samp AS (
      |  SELECT vec_id, embedding, row_number() OVER (ORDER BY hord, vec_id) AS sr
      |  FROM ho ORDER BY hord, vec_id LIMIT 1024),
      |cnorm AS (
      |  SELECT sr - 1 AS cid,
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec,
      |         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS cn
      |  FROM samp WHERE sr <= 16),
      |en AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings),
      |assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT en.vec_id, c.cid,
      |           row_number() OVER (PARTITION BY en.vec_id ORDER BY
      |             list_sum(list_transform(range(1, len(vec) + 1), i -> vec[i] * c.cvec[i])) / c.cn
      |             DESC, c.cid) AS r
      |    FROM en CROSS JOIN cnorm c WHERE en.vec_id % 10 <> 0) WHERE r = 1),
      |resid AS (
      |  SELECT en.vec_id, a.cid,
      |         list_transform(range(1, len(vec) + 1), i -> vec[i] - c.cvec[i]) AS rvec
      |  FROM en JOIN assigned a ON a.vec_id = en.vec_id
      |  JOIN cnorm c ON c.cid = a.cid),
      |cb AS (
      |  SELECT s.sr - 1 AS code, r.rvec AS cvec
      |  FROM samp s JOIN resid r ON r.vec_id = s.vec_id
      |  WHERE s.sr <= 16),
      |subs AS (SELECT unnest(range(4)) AS s),
      |subd AS (
      |  SELECT r.vec_id, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> (r.rvec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i])
      |              * (r.rvec[subs.s * 16 + i] - cb.cvec[subs.s * 16 + i]))) AS d2
      |  FROM resid r CROSS JOIN subs CROSS JOIN cb),
      |codes AS (
      |  SELECT vec_id, s, code FROM (
      |    SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
      |    FROM subd) WHERE rk = 1),
      |queries AS (
      |  SELECT vec_id AS query_id, vec AS qvec FROM en
      |  WHERE vec_id % 10 = 0 AND vec_id < 500),
      |probes AS (
      |  SELECT query_id, cid FROM (
      |    SELECT q.query_id, c.cid,
      |           row_number() OVER (PARTITION BY q.query_id ORDER BY
      |             list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * c.cvec[i])) / c.cn
      |             DESC, c.cid) AS prank
      |    FROM queries q CROSS JOIN cnorm c) WHERE prank <= 4),
      |lut AS (
      |  SELECT p.query_id, p.cid, subs.s, cb.code,
      |         list_sum(list_transform(range(1, 17),
      |           i -> ((qvec[subs.s * 16 + i] - cc.cvec[subs.s * 16 + i]) - cb.cvec[subs.s * 16 + i])
      |              * ((qvec[subs.s * 16 + i] - cc.cvec[subs.s * 16 + i]) - cb.cvec[subs.s * 16 + i]))) AS d2
      |  FROM probes p
      |  JOIN queries q ON q.query_id = p.query_id
      |  JOIN cnorm cc ON cc.cid = p.cid
      |  CROSS JOIN subs CROSS JOIN cb),
      |cand AS (
      |  SELECT p.query_id, a.vec_id, a.cid
      |  FROM probes p JOIN assigned a ON a.cid = p.cid),
      |scored AS (
      |  SELECT cd.query_id, cd.vec_id,
      |         list_sum(list(l.d2 ORDER BY l.s)) AS d2
      |  FROM cand cd
      |  JOIN codes c ON c.vec_id = cd.vec_id
      |  JOIN lut l ON l.query_id = cd.query_id AND l.cid = cd.cid
      |             AND l.s = c.s AND l.code = c.code
      |  GROUP BY cd.query_id, cd.vec_id),
      |screened AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id,
      |           row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
      |    FROM scored) WHERE rank <= 40),
      |rr AS (
      |  SELECT s.query_id, s.vec_id,
      |         list_sum(list_transform(range(1, len(en.vec) + 1),
      |           i -> (en.vec[i] - q.qvec[i]) * (en.vec[i] - q.qvec[i]))) AS d2
      |  FROM screened s
      |  JOIN en ON en.vec_id = s.vec_id
      |  JOIN queries q ON q.query_id = s.query_id),
      |rranked AS (
      |  SELECT query_id, vec_id, d2,
      |         row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rank
      |  FROM rr)
      |SELECT query_id, rank, vec_id, d2 FROM rranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_pq_adc" -> (pqAdc _),
    "sim_ivfpq_ann" -> (ivfPqAnn _),
    "sim_ivfpq_residual" -> (ivfPqResidual _),
    "sim_ivfpq_residual_incremental" -> (ivfPqResidualIncremental _),
    "sim_ivfpq_asof" -> (ivfPqAsOf _),
    "sim_ivfpq_filtered" -> (ivfPqFiltered _),
    "sim_ivfpq_rerank" -> (ivfPqRerank _),
    "sim_pq_incremental" -> (pqIncremental _),
    "sim_pq_asof" -> (pqAsOf _),
    "sim_pq_rerank" -> (pqRerank _))

  val oracles: Map[String, String] = Map(
    "sim_pq_adc" -> pqAdcSql,
    "sim_pq_rerank" -> pqRerankSql,
    "sim_ivfpq_ann" -> ivfPqAnnSql,
    "sim_ivfpq_residual" -> ivfPqResidualSql,
    "sim_ivfpq_residual_incremental" -> ivfPqResidualIncrementalSql,
    // the pinned residual snapshot screens the ORIGINAL base — the
    // incremental closed form, through takedown + upsert + compaction
    "sim_ivfpq_asof" -> ivfPqResidualIncrementalSql,
    "sim_ivfpq_filtered" -> ivfPqFilteredSql,
    "sim_ivfpq_rerank" -> ivfPqRerankSql,
    "sim_pq_incremental" -> pqIncrementalSql,
    // the pinned snapshot screens the ORIGINAL base — the incremental
    // closed form, through a takedown + upsert wave + compaction
    "sim_pq_asof" -> pqIncrementalSql)
}
