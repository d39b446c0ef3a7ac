package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog

/** Per-source corpus datacard — the one-page report a dataset owner
  * publishes alongside a release (the "Datasheets for Datasets"
  * practice, Gebru et al. 2021 — public): volume, length distribution,
  * language mix, duplication, and a length-band quality pass rate, per
  * source, from ONE scan.
  *
  * Plan shape: a single documents scan projects (source, lang,
  * fingerprint, n_tokens, n_chars); every card column is then one
  * grouped aggregate over that projection — count, sum, distinct
  * fingerprints, conditional counts, and exact linear-interpolated
  * medians (`percentile` ≡ DuckDB `quantile_cont`, the g12 parity) —
  * so the whole report costs one corpus pass plus a |sources|-row
  * shuffle. Ratios are ppm integers (exact `div` of exact counts), the
  * cross-engine-stable encoding used across the engine.
  *
  * The count-distinct of 16-byte fingerprints is the one card column
  * with real shuffle weight at 100 TB (distinct is a shuffle); swap in
  * [[Sketches.hllDistinct]]'s register aggregate when a ±2% dup-rate
  * estimate is acceptable — the documented o7_profile trade.
  */
object Datacard {

  def datacard(spark: SparkSession, dir: String): DataFrame = {
    val base = Catalog(spark, dir).ref("documents")
      .select(col("source"), col("lang"),
        md5(col("text")).as("fp"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
    base.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens_total"),
        expr("percentile(n_chars, 0.5)").as("p50_chars"),
        expr("percentile(n_tokens, 0.95)").as("p95_tokens"),
        count_distinct(col("fp")).as("n_distinct"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when(col("n_tokens").between(20, 10000), 1L).otherwise(0L)).as("n_len_pass"))
      .select(col("source"), col("n_docs"), col("n_tokens_total"),
        col("p50_chars"), col("p95_tokens"),
        expr("(n_docs - n_distinct) * 1000000 div n_docs").as("dup_ppm"),
        expr("n_en * 1000000 div n_docs").as("en_ppm"),
        expr("n_len_pass * 1000000 div n_docs").as("len_pass_ppm"))
      .orderBy("source")
  }

  val datacardSql: String =
    """WITH base AS (
      |  SELECT source, lang, md5(text) AS fp,
      |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |         CAST(length(text) AS BIGINT) AS n_chars
      |  FROM documents),
      |agg AS (
      |  SELECT source,
      |         count(*) AS n_docs,
      |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
      |         quantile_cont(n_chars, 0.5) AS p50_chars,
      |         quantile_cont(n_tokens, 0.95) AS p95_tokens,
      |         count(DISTINCT fp) AS n_distinct,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
      |         CAST(sum(CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_pass
      |  FROM base GROUP BY source)
      |SELECT source, n_docs, n_tokens_total, p50_chars, p95_tokens,
      |       (n_docs - n_distinct) * 1000000 // n_docs AS dup_ppm,
      |       n_en * 1000000 // n_docs AS en_ppm,
      |       n_len_pass * 1000000 // n_docs AS len_pass_ppm
      |FROM agg ORDER BY source""".stripMargin

  // ---- incremental datacard -------------------------------------------------
  //
  // The full card recomputes from the whole corpus every time; with
  // every card column mergeable — counts are sums, duplication is an
  // HLL register max, and the length quantiles come from the canonical
  // hash-level KLL sketch ([[graft.functions.QuantileSketch]]) — the
  // release audit becomes O(Δ): per-source sketch STATE persists as a
  // versioned parquet directory, `datacardUpdate(delta)` folds a new
  // batch in by scanning ONLY the delta plus the bounded state, and
  // `datacardRender` reads state alone (no corpus access at all).
  // Because every state component is a canonical SET function
  // (order- and partition-independent), the merged card is
  // HASH-IDENTICAL to a from-scratch rebuild over the full corpus —
  // which is exactly what the `text_datacard_incremental` oracle
  // checks: Spark renders base-state ⊕ delta, DuckDB recomputes the
  // same sketch card over the full corpus in closed form.

  /** KLL cap per (source, metric): state is ≤ cap rows per group. */
  private val Cap = Sketches.QsCap


  /** One corpus/delta scan shape into the four mergeable state
    * relations: counts (per-source sums), hll (fingerprint registers),
    * kll meta (row totals) and kll rows (tz-qualified value sample —
    * unfiltered here; [[levelFilter]] trims to the canonical level).
    * Also returns the eagerly pinned per-(source, metric, tz) counts
    * that meta and the level computation both derive from.
    *
    * Memory discipline (the round-21 fix): round 20 pinned the WHOLE
    * projected corpus here (`base.localCheckpoint()`) so the
    * consolidated state write would not recompute it per branch — and
    * the driver's round-20 bench showed that corpus-sized block churn
    * at local[32] is catastrophically worse than the redundant scans it
    * saves (text_datacard_diff 5.8 s → 66.6 s min-of-2 with inverse
    * core-scaling 0.09, session RSS 4.7 → 18 GB, GC 1 s → 17 s/pass).
    * Guide §5: caching is only worth it when recomputing costs more
    * than the memory pressure it creates — and at 100 TB a corpus-sized
    * local materialization per state version is exactly the wrong
    * trade. What IS pinned now is the one intermediate that several
    * consumers share and that is BOUNDED by construction: `tzCounts`
    * (≤ |sources| × 2 metrics × 64 tz levels rows). The corpus is
    * re-scanned by the counts/hll/sample branches — columnar, pruned to
    * five columns, embarrassingly parallel — and with no lazy
    * checkpoint left inside the multi-branch write's plan there is
    * nothing for the known stage-metric accumulator-cleanup race to
    * race (the r20 bisect: the noise fired only when a localCheckpoint
    * materialized INSIDE that write).
    */
  private def statify(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = docs.select(col("source"), col("lang"),
      md5(col("text")).as("fp"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"),
      Sketches.qsTz(col("doc_id")).as("tz"))
    val counts = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens_total"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
      sum(when(col("n_tokens").between(20, 10000), 1L).otherwise(0L)).as("n_len_pass"))
    val hll = Sketches.hllRegisters(base.select(col("source"), col("fp").as("sh")))
    // ONE corpus scan for both metric streams (guide §1.2 step 1 —
    // fewer passes): the r20 shape unioned two projections of `base`,
    // which plans as TWO scans of the corpus parquet; exploding a
    // 2-element (metric, value) array emits the identical rows from one
    // scan. Row multiset is unchanged (every base row yields exactly
    // one 'chars' and one 'tokens' row with the same tz), and every
    // downstream consumer is order-independent (grouped aggregates;
    // the render sorts the sample), so state bytes and the oracle hash
    // are untouched.
    val rows = base.select(col("source"), col("tz"), explode(array(
        struct(lit("chars").as("metric"), col("n_chars").cast("double").as("value")),
        struct(lit("tokens").as("metric"), col("n_tokens").cast("double").as("value")))).as("mv"))
      .select(col("source"), col("mv.metric").as("metric"),
        col("tz"), col("mv.value").as("value"))
    // tz = qsTz(doc_id) is PER-DOC (metric-independent), so the
    // per-(source, metric, tz) histogram is the per-(source, tz) doc
    // histogram replicated to both metrics: compute it from `base`
    // directly (half the pre-aggregation rows) and emit both metric
    // rows from the bounded result — same longs, one scan.
    val tzCountsLazy = base.groupBy("source", "tz").agg(count(lit(1)).as("c"))
      .select(col("source"),
        explode(array(lit("chars"), lit("tokens"))).as("metric"),
        col("tz"), col("c"))
    val tzCounts = graft.util.Blocks.labeled(docs.sparkSession,
      "datacard: tz histogram pin")(
      tzCountsLazy.localCheckpoint()) // bounded: ≤ |sources| × 2 × 64 rows
    // meta (row totals) = the tz histogram summed out — same longs as
    // counting `rows` directly, zero additional corpus scans
    val meta = tzCounts.groupBy("source", "metric").agg(sum(col("c")).as("n"))
    (counts, hll, meta, rows, tzCounts)
  }

  /** Canonical KLL level + sample per (source, metric): level = min
    * l ≥ floor with |{tz ≥ l}| ≤ cap, sample = the qualified rows —
    * the set-function form that makes merge ≡ rebuild. `floors` carries
    * the contributing sketches' levels on the merge path (the merged
    * level can never sit below either input's — rows below it are
    * already gone); distinct-tz counts keep every candidate l present,
    * so the computation never misses an all-zero tail level.
    */
  private def levelFilter(rows: DataFrame, tzCounts: DataFrame,
      floors: Option[DataFrame]): (DataFrame, DataFrame) = {
    val spark = rows.sparkSession
    val lrange = spark.range(0, 64).select(col("id").cast("int").as("l"))
    val qc = tzCounts.crossJoin(broadcast(lrange))
      .groupBy("source", "metric", "l")
      .agg(sum(when(col("tz") >= col("l"), col("c")).otherwise(0L)).as("qc"))
    // LEFT join + floor 0 for groups the floors relation does not
    // cover: on the merge path floors now carries only the STATE
    // side's levels, and a source arriving for the first time in a
    // delta has no state floor — it must level from 0 exactly as an
    // init would, not vanish through an inner join.
    val qcf = floors match {
      case Some(f) => qc.join(f, Seq("source", "metric"), "left")
        .filter(col("l") >= coalesce(col("floor"), lit(0))).drop("floor")
      case None => qc
    }
    val levels = qcf.filter(col("qc") <= Cap)
      .groupBy("source", "metric").agg(min(col("l")).as("level"))
    val filtered = rows.join(levels, Seq("source", "metric"))
      .filter(col("tz") >= col("level"))
      .select("source", "metric", "tz", "value")
    (filtered, levels)
  }

  private def stateVersion(stateDir: String): Int = {
    val p = java.nio.file.Paths.get(stateDir, "_current")
    if (!java.nio.file.Files.exists(p)) -1
    else new String(java.nio.file.Files.readAllBytes(p)).trim.toInt
  }

  /** The four state relations, tagged and written as ONE parquet
    * relation (`rel` discriminator, absent columns null) — one Spark
    * job and one commit per version instead of the four sequential
    * writes this used to pay (a parallel-Futures version of those
    * four writes deadlocked on shared uncomputed lineage — the single
    * unioned write sidesteps that entirely: one action, one lineage).
    * File count is left to AQE's partition coalescing — every state
    * component is BOUNDED by design (≤ cap KLL rows and ≤ 256 HLL
    * registers per source), so the write lands a handful of tiny files
    * at any corpus scale. (An explicit `coalesce(1)` was tried and
    * dropped: stacking it on the AQE-planned union made late
    * stage-completion events race SQL-metric accumulator cleanup —
    * repeated benign-but-noisy "non-existent accumulator" DAGScheduler
    * errors on the streaming fold path.)
    */
  private def writeState(stateDir: String, v: Int, counts: DataFrame,
      hll: DataFrame, meta: DataFrame, rows: DataFrame): Unit = {
    val d = s"$stateDir/v$v"
    // Pin the tagged union EAGERLY, in ONE job, before the write. Two
    // constraints meet here: (a) running the union's branches lazily
    // inside the multi-branch WRITE is the one shape that races
    // DAGScheduler's accumulator cleanup into bursts of benign-but-loud
    // "non-existent accumulator" ERRORs (r20's bisect) — and an async
    // ERROR line can displace the bench's stdout JSON tail; (b) the
    // r20.5 shape that pinned each of the four relations SEPARATELY
    // satisfied (a) but paid four sequential driver jobs per state
    // version where one suffices — the union is a single DAG whose
    // branch scans schedule concurrently inside one localCheckpoint
    // job (guide §1.2: fewer actions; §2.6: overlap independent work).
    // The write then reads only pinned in-memory blocks, so nothing
    // unmaterialized remains inside it. Unlike r20's fix (pinning the
    // CORPUS-sized projection, which the driver's bench showed
    // thrashing a large heap: RSS 4.7 → 18 GB, text_datacard_diff
    // 5.8 → 66.6 s), the pinned union is BOUNDED state — counts/meta
    // per source, ≤ 256 HLL registers per source, ≤ cap KLL sample
    // rows per (source, metric) — KBs at any corpus scale.
    val tagged = counts.withColumn("rel", lit("counts"))
      .unionByName(hll.withColumn("rel", lit("hll")),
        allowMissingColumns = true)
      .unionByName(meta.withColumn("rel", lit("kllmeta")),
        allowMissingColumns = true)
      .unionByName(rows.withColumn("rel", lit("kllrows")),
        allowMissingColumns = true)
    graft.util.Blocks.labeled(counts.sparkSession,
      s"datacard: state v$v pin+write")(
      tagged.localCheckpoint()
        .write.mode("overwrite").parquet(s"$d/state"))
    // version pointer flip = the atomic commit (a manifest swap on an
    // object store). Reaping keeps ONE previous generation (v-1): a
    // lazy DataFrame handed out by datacardRender/readState against the
    // prior version survives one subsequent update before its files
    // vanish (an object store would scope this with manifest leases).
    // Leakage stays bounded — at most one stale dir — and a crash
    // between a flip and its reap is cleaned by the next flip.
    java.nio.file.Files.write(java.nio.file.Paths.get(stateDir, "_current"),
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val dirFile = new java.io.File(stateDir)
    Option(dirFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory && f.getName.matches("v\\d+") &&
          f.getName.drop(1).toInt < v - 1)
        graft.util.Fs.deleteRecursively(f.getPath)
    }
  }

  /** Per-stateDir write monitor (the [[graft.util.IndexMaint.lockFor]]
    * pattern) PLUS the cross-process lease
    * ([[graft.util.IndexMaint.withLease]]): a batch update racing a
    * streaming fold — in this JVM or another process — must not
    * interleave two read-state→write-state→flip sequences, or both
    * would read the same version and one fold would be silently lost.
    * Re-entrant per thread (datacardFold dispatches to init/update
    * under the same lock).
    */
  private val stateLocks =
    new scala.collection.concurrent.TrieMap[String, Object]()

  private val leaseHeld = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue(): java.util.HashSet[String] =
      new java.util.HashSet[String]()
  }

  private def withStateLock[A](stateDir: String)(body: => A): A =
    stateLocks.getOrElseUpdate(stateDir, new Object).synchronized {
      if (leaseHeld.get.contains(stateDir)) body
      else {
        leaseHeld.get.add(stateDir)
        try graft.util.IndexMaint.withLease(stateDir, op = "datacard-fold")(body)
        finally leaseHeld.get.remove(stateDir)
      }
    }

  private def readState(spark: SparkSession, stateDir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val st = spark.read
      .parquet(s"$stateDir/v${stateVersion(stateDir)}/state")
    def rel(tag: String, cols: String*) =
      st.filter(col("rel") === tag).select(cols.map(col): _*)
    (rel("counts", "source", "n_docs", "n_tokens_total", "n_en", "n_len_pass"),
      rel("hll", "source", "j", "m_j"),
      rel("kllmeta", "source", "metric", "n", "level"),
      rel("kllrows", "source", "metric", "tz", "value"))
  }

  /** Build fresh state from a corpus scan (the landing cost, paid once). */
  def datacardInit(spark: SparkSession, docs: DataFrame, stateDir: String): Unit =
    withStateLock(stateDir) {
      val (counts, hll, meta, rows, tzCounts) = statify(docs)
      val (rowsF, levels) = levelFilter(rows, tzCounts, None)
      writeState(stateDir, stateVersion(stateDir) + 1, counts, hll,
        meta.join(levels, Seq("source", "metric")), rowsF)
    }

  /** Clone `srcStateDir`'s current generation into `dstStateDir` as a
    * fresh generation — branching a release candidate without re-paying
    * the corpus-scan landing cost (state is deterministic in the
    * folded-in corpus, so clone-then-update ≡ init-then-update
    * bit-exactly; DatacardSpec pins the equality). Both state dirs are
    * locked in path order so a clone can never interleave with a fold
    * on either side, and never deadlocks against a concurrent clone in
    * the other direction. Local-FS copy here; on an object store this
    * is a server-side manifest copy — O(state), never O(corpus).
    */
  def datacardClone(srcStateDir: String, dstStateDir: String): Unit = {
    val (first, second) =
      if (srcStateDir <= dstStateDir) (srcStateDir, dstStateDir)
      else (dstStateDir, srcStateDir)
    withStateLock(first) { withStateLock(second) {
      val sv = stateVersion(srcStateDir)
      require(sv >= 0, s"datacardClone: no state at $srcStateDir")
      val dv = stateVersion(dstStateDir) + 1
      graft.util.Fs.copyRecursively(s"$srcStateDir/v$sv", s"$dstStateDir/v$dv")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dstStateDir, "_current"),
        dv.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } }
  }

  /** Fold a delta batch into persisted state: one DELTA scan plus the
    * bounded state read — the corpus is never touched. Every merge is
    * the state component's natural monoid: sum for counts, register max
    * for HLL, filter-to-merged-level union for the KLL sample.
    */
  def datacardUpdate(spark: SparkSession, delta: DataFrame, stateDir: String): Unit = withStateLock(stateDir) {
    val (dc, dh, dm, drows, dtzCounts) = statify(delta)
    val (oc, oh, om, orows) = readState(spark, stateDir)
    val counts = oc.unionByName(dc).groupBy("source").agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_tokens_total")).as("n_tokens_total"),
      sum(col("n_en")).as("n_en"),
      sum(col("n_len_pass")).as("n_len_pass"))
    val hll = oh.unionByName(dh).groupBy("source", "j").agg(max(col("m_j")).as("m_j"))
    // NO delta-side levelFilter (guide §1.2 step 1 — remove a pass):
    // the delta sample is trimmed ONCE against the MERGED level instead
    // of delta-level-then-merged-level. Equivalence: for any l below
    // the delta's own canonical level, the delta's qualifying count
    // alone exceeds the cap, so the merged count does too — the merged
    // level therefore always sits at or above the delta level, and
    // filtering the UNTRIMMED delta rows at the merged level yields the
    // identical sample set (DatacardSpec's split-invariance specs pin
    // merge ≡ rebuild across update splits). Floors carry only the
    // state side's levels (counts below a state level are incomplete —
    // those rows are gone); a delta-only source has no floor and
    // levels from 0 via the left join, exactly like an init.
    val floors = om.select(col("source"), col("metric"),
      col("level").as("floor"))
    val merged = orows.unionByName(drows)
    // merged tz histogram from BOUNDED inputs: the state sample is ≤
    // cap rows per group, and the delta side reuses the PINNED
    // per-(source, metric, tz) histogram from statify — no second pass
    // over the delta rows just to recount them.
    val mergedTz = orows.groupBy("source", "metric", "tz")
      .agg(count(lit(1)).as("c"))
      .unionByName(dtzCounts)
      .groupBy("source", "metric", "tz").agg(sum(col("c")).as("c"))
    val (rowsF, levels) = levelFilter(merged, mergedTz, Some(floors))
    val meta = om.select(col("source"), col("metric"), col("n"))
      .unionByName(dm)
      .groupBy("source", "metric").agg(sum(col("n")).as("n"))
      .join(levels, Seq("source", "metric"))
    writeState(stateDir, stateVersion(stateDir) + 1, counts, hll, meta, rowsF)
  }

  /** Render the card from STATE ALONE — counts, the HLL estimate, and
    * the sketch quantile picks; no corpus access (DatacardSpec pins the
    * plan's input files to the state directory).
    */
  def datacardRender(spark: SparkSession, stateDir: String): DataFrame = {
    val (counts, hll, meta, rows) = readState(spark, stateDir)
    val alphaM2 = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(65536.0)
    val est = hll.groupBy("source").agg(
      sum(expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), m_j) AS DOUBLE)")).as("sp"),
      count(lit(1)).as("v"))
      .select(col("source"),
        (alphaM2 / (col("sp") + (lit(Sketches.HllM) - col("v")).cast("double")))
          .as("fp_hll_est"))
    val samples = rows.groupBy("source", "metric")
      .agg(sort_array(collect_list(col("value"))).as("sample"))
      .join(meta, Seq("source", "metric"))
      .withColumn("m", size(col("sample")).cast("long"))
    // One pass for both quantile picks (guide §2.4): the metric decides
    // the percentile (chars → p50, tokens → p95), so a per-row pick +
    // one conditional per-source aggregate replaces the former
    // filter('chars')/filter('tokens') branch pair — two fewer scans of
    // the sample relation and two joins fused into one. Every source in
    // state carries BOTH metric rows by construction (statify emits the
    // pair per doc), so the grouped shape keeps exactly the sources the
    // old inner-join pair kept, with identical values.
    // `samples` comes from a groupBy, so every row has m >= 1
    val pickv = expr(
      """element_at(sample, cast(least(greatest(
        |  ((n * IF(metric = 'chars', 50, 95) + 99) div 100
        |     + shiftleft(cast(1 as bigint), cast(level as int)) - 1)
        |    div shiftleft(cast(1 as bigint), cast(level as int)), 1), m) as int))""".stripMargin)
    val picks = samples.select(col("source"), col("metric"), pickv.as("v"))
      .groupBy("source").agg(
        max(when(col("metric") === "chars", col("v"))).as("p50_chars_est"),
        max(when(col("metric") === "tokens", col("v"))).as("p95_tokens_est"))
    counts.join(est, Seq("source"))
      .join(picks, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens_total"),
        expr("n_en * 1000000 div n_docs").as("en_ppm"),
        expr("n_len_pass * 1000000 div n_docs").as("len_pass_ppm"),
        col("fp_hll_est"), col("p50_chars_est"), col("p95_tokens_est"))
      .orderBy("source")
  }

  /** [[datacardRender]] materialized (localCheckpoint, so the caller
    * can delete the state dir immediately).
    */
  def renderPinned(spark: SparkSession, stateDir: String): DataFrame =
    datacardRender(spark, stateDir).localCheckpoint()

  /** Fold a batch into the state dir, initializing on first touch —
    * the production entry a pipeline (or a streaming `foreachBatch`
    * sink, see [[graft.streaming.StreamingQueries]]) calls per
    * arriving batch without tracking whether state exists yet.
    */
  def datacardFold(spark: SparkSession, batch: DataFrame, stateDir: String): Unit =
    // version check + dispatch under the SAME monitor the init/update
    // bodies take (re-entrant), so two first-touch folds can't both init
    withStateLock(stateDir) {
      if (stateVersion(stateDir) < 0) datacardInit(spark, batch, stateDir)
      else datacardUpdate(spark, batch, stateDir)
    }

  /** Registered `text_datacard_incremental`: land 9/10 of the corpus as
    * base state, fold the remaining 1/10 in as a delta, render from
    * state — the oracle recomputes the identical sketch card over the
    * FULL corpus in closed form, so the hash match IS the
    * merge ≡ rebuild proof.
    */
  def datacardIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents")
    val stateDir = java.nio.file.Files.createTempDirectory("datacard_state").toString
    try {
      datacardInit(spark, docs.filter(col("doc_id") % 10 =!= 0), stateDir)
      datacardUpdate(spark, docs.filter(col("doc_id") % 10 === 0), stateDir)
      renderPinned(spark, stateDir)
    } finally graft.util.Fs.deleteRecursively(stateDir)
  }

  /** The closed-form sketch card over `documents` restricted by
    * `where` (empty = full corpus) — the body [[datacardIncrementalSql]]
    * runs once and [[datacardDiffSql]] instantiates twice (base vs
    * full) as nested-WITH subqueries.
    */
  private def sketchCardSql(where: String): String =
    s"""WITH base AS (
       |  SELECT source, lang, md5(text) AS fp,
       |         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
       |         CAST(length(text) AS BIGINT) AS n_chars,
       |         least(bit_count((h - 1) & ~h), 62) AS tz
       |  FROM (SELECT *,
       |          CAST(md5_number_lower('qs:' || CAST(doc_id AS VARCHAR))
       |               % ${Sketches.QsMod} AS BIGINT) AS h
       |        FROM documents$where)),
       |counts AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
       |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |         CAST(sum(CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_pass
       |  FROM base GROUP BY source),
       |hb AS (
       |  SELECT source, md5_number_lower(fp) % 4294967296 AS h32 FROM base),
       |hr AS (
       |  SELECT source, h32 % 256 AS j,
       |         max(${Sketches.hllRankSqlCase}) AS m_j
       |  FROM (SELECT source, h32, h32 // 256 AS w FROM hb) GROUP BY 1, 2),
       |hs AS (
       |  SELECT source,
       |         sum(CAST(1.0 AS DOUBLE) / CAST(1 << m_j AS DOUBLE)) AS sp,
       |         count(*) AS v
       |  FROM hr GROUP BY 1),
       |hest AS (
       |  SELECT source,
       |         (CAST(0.7213 AS DOUBLE)
       |            / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
       |            * CAST(65536.0 AS DOUBLE))
       |           / (sp + CAST(${Sketches.HllM} - v AS DOUBLE)) AS fp_hll_est
       |  FROM hs),
       |r AS (
       |  SELECT source, 'chars' AS metric, tz, CAST(n_chars AS DOUBLE) AS value FROM base
       |  UNION ALL
       |  SELECT source, 'tokens' AS metric, tz, CAST(n_tokens AS DOUBLE) AS value FROM base),
       |lv AS (
       |  SELECT source, metric, min(l) AS level FROM (
       |    SELECT r.source, r.metric, ls.l,
       |           count(*) FILTER (WHERE r.tz >= ls.l) AS cnt
       |    FROM r CROSS JOIN range(0, 64) ls(l)
       |    GROUP BY 1, 2, 3)
       |  WHERE cnt <= $Cap GROUP BY 1, 2),
       |sk AS (
       |  SELECT r.source, r.metric, lv.level,
       |         count(*) AS n_all,
       |         list(r.value ORDER BY r.value) FILTER (WHERE r.tz >= lv.level) AS sample
       |  FROM r JOIN lv ON lv.source = r.source AND lv.metric = r.metric
       |  GROUP BY 1, 2, 3),
       |picks AS (
       |  SELECT source, metric, level, n_all AS n, len(sample) AS m, sample FROM sk),
       |p50c AS (
       |  SELECT source,
       |         CASE WHEN m = 0 THEN NULL ELSE sample[CAST(least(greatest(
       |           ((n * 50 + 99) // 100 + (1 << level) - 1) // (1 << level),
       |           1), m) AS INT)] END AS p50_chars_est
       |  FROM picks WHERE metric = 'chars'),
       |p95t AS (
       |  SELECT source,
       |         CASE WHEN m = 0 THEN NULL ELSE sample[CAST(least(greatest(
       |           ((n * 95 + 99) // 100 + (1 << level) - 1) // (1 << level),
       |           1), m) AS INT)] END AS p95_tokens_est
       |  FROM picks WHERE metric = 'tokens')
       |SELECT c.source, c.n_docs, c.n_tokens_total,
       |       c.n_en * 1000000 // c.n_docs AS en_ppm,
       |       c.n_len_pass * 1000000 // c.n_docs AS len_pass_ppm,
       |       hest.fp_hll_est, p50c.p50_chars_est, p95t.p95_tokens_est
       |FROM counts c
       |JOIN hest USING (source)
       |JOIN p50c USING (source)
       |JOIN p95t USING (source)
       |ORDER BY c.source""".stripMargin

  val datacardIncrementalSql: String = sketchCardSql("")

  // ---- release-gate datacard diff -------------------------------------------
  //
  // The release audit a dataset owner actually runs: "did this release
  // move the corpus's shape?" — per-source deltas between two datacard
  // STATES with threshold flags. Reads the two bounded states only
  // (both sides render via [[datacardRender]], which DatacardSpec pins
  // to state files); the corpus is never scanned, so the gate costs the
  // same whether the release added 1 GB or 10 TB.

  /** Per-source diff of two datacard states (old → new): deltas on
    * volume, language mix, length-quality pass rate, duplication ppm
    * and the sketch length quantiles, each with a threshold flag.
    * `ppmTol` bounds absolute ppm moves (default 5 percentage points);
    * `relTol` bounds relative moves of volume and the quantile
    * estimates. A source present on only one side surfaces with null
    * deltas and `flag_source_change` — a release silently dropping or
    * inventing a source is itself a gate failure.
    *
    * Flag determinism: every compared quantity is the bit-exact render
    * arithmetic the `text_datacard_incremental` oracle already
    * hash-matches, so comparing them to literal thresholds yields the
    * same booleans on any engine.
    */
  def datacardDiff(spark: SparkSession, oldStateDir: String,
      newStateDir: String, ppmTol: Long = 50000L,
      relTol: Double = 0.2): DataFrame = {
    def side(d: String, tag: String): DataFrame = {
      val r = datacardRender(spark, d)
      r.select(col("source") +: r.columns.filter(_ != "source")
        .map(c => col(c).as(s"${tag}_$c")).toSeq: _*)
    }
    val a = side(oldStateDir, "old")
    val b = side(newStateDir, "new")
    val dupPpm = (tag: String) =>
      (col(s"${tag}_n_docs").cast("double") - col(s"${tag}_fp_hll_est")) *
        lit(1000000.0) / col(s"${tag}_n_docs").cast("double")
    a.join(b, Seq("source"), "full_outer")
      .withColumn("old_dup_ppm_est", dupPpm("old"))
      .withColumn("new_dup_ppm_est", dupPpm("new"))
      .select(col("source"),
        (col("new_n_docs") - col("old_n_docs")).as("n_docs_delta"),
        (col("new_en_ppm") - col("old_en_ppm")).as("en_ppm_delta"),
        (col("new_len_pass_ppm") - col("old_len_pass_ppm")).as("len_pass_ppm_delta"),
        (col("new_dup_ppm_est") - col("old_dup_ppm_est")).as("dup_ppm_delta"),
        (col("new_p50_chars_est") - col("old_p50_chars_est")).as("p50_chars_delta"),
        (col("new_p95_tokens_est") - col("old_p95_tokens_est")).as("p95_tokens_delta"),
        (col("old_n_docs").isNull || col("new_n_docs").isNull).as("flag_source_change"),
        coalesce(abs(col("new_en_ppm") - col("old_en_ppm")) > ppmTol,
          lit(false)).as("flag_en"),
        coalesce(abs(col("new_len_pass_ppm") - col("old_len_pass_ppm")) > ppmTol,
          lit(false)).as("flag_len_pass"),
        coalesce(abs(col("new_dup_ppm_est") - col("old_dup_ppm_est")) > ppmTol.toDouble,
          lit(false)).as("flag_dup"),
        coalesce(abs(col("new_n_docs") - col("old_n_docs")).cast("double") >
          lit(relTol) * col("old_n_docs").cast("double"), lit(false)).as("flag_volume"),
        coalesce(abs(col("new_p50_chars_est") - col("old_p50_chars_est")) >
          lit(relTol) * col("old_p50_chars_est"), lit(false)).as("flag_p50_chars"),
        coalesce(abs(col("new_p95_tokens_est") - col("old_p95_tokens_est")) >
          lit(relTol) * col("old_p95_tokens_est"), lit(false)).as("flag_p95_tokens"))
      .orderBy("source")
  }

  /** Registered `text_datacard_diff`: state A = the base 9/10 corpus,
    * state B = A *cloned* (the release-candidate branch; no second
    * corpus scan) with the last-tenth delta folded in, diff from STATE
    * ALONE. The oracle recomputes both sketch cards in closed form over
    * the respective corpora and diffs them — hash equality proves
    * clone+fold state-diff ≡ full-rebuild-diff on every delta and flag.
    */
  def datacardDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents")
    val sA = java.nio.file.Files.createTempDirectory("datacard_diff_a").toString
    val sB = java.nio.file.Files.createTempDirectory("datacard_diff_b").toString
    try {
      datacardInit(spark, docs.filter(col("doc_id") % 10 =!= 0), sA)
      datacardClone(sA, sB)
      datacardUpdate(spark, docs.filter(col("doc_id") % 10 === 0), sB)
      datacardDiff(spark, sA, sB).localCheckpoint()
    } finally {
      graft.util.Fs.deleteRecursively(sA)
      graft.util.Fs.deleteRecursively(sB)
    }
  }

  val datacardDiffSql: String = {
    val ppmTol = 50000L
    val relTol = 0.2
    s"""WITH card_old AS MATERIALIZED (
       |${sketchCardSql(" WHERE doc_id % 10 <> 0")}
       |),
       |card_new AS MATERIALIZED (
       |${sketchCardSql("")}
       |)
       |SELECT
       |  coalesce(o.source, n.source) AS source,
       |  n.n_docs - o.n_docs AS n_docs_delta,
       |  n.en_ppm - o.en_ppm AS en_ppm_delta,
       |  n.len_pass_ppm - o.len_pass_ppm AS len_pass_ppm_delta,
       |  (CAST(n.n_docs AS DOUBLE) - n.fp_hll_est) * 1000000.0 / CAST(n.n_docs AS DOUBLE)
       |    - (CAST(o.n_docs AS DOUBLE) - o.fp_hll_est) * 1000000.0 / CAST(o.n_docs AS DOUBLE)
       |    AS dup_ppm_delta,
       |  n.p50_chars_est - o.p50_chars_est AS p50_chars_delta,
       |  n.p95_tokens_est - o.p95_tokens_est AS p95_tokens_delta,
       |  (o.n_docs IS NULL OR n.n_docs IS NULL) AS flag_source_change,
       |  coalesce(abs(n.en_ppm - o.en_ppm) > $ppmTol, false) AS flag_en,
       |  coalesce(abs(n.len_pass_ppm - o.len_pass_ppm) > $ppmTol, false) AS flag_len_pass,
       |  coalesce(abs((CAST(n.n_docs AS DOUBLE) - n.fp_hll_est) * 1000000.0 / CAST(n.n_docs AS DOUBLE)
       |    - (CAST(o.n_docs AS DOUBLE) - o.fp_hll_est) * 1000000.0 / CAST(o.n_docs AS DOUBLE))
       |    > CAST($ppmTol AS DOUBLE), false) AS flag_dup,
       |  coalesce(abs(CAST(n.n_docs - o.n_docs AS DOUBLE)) > $relTol * CAST(o.n_docs AS DOUBLE),
       |    false) AS flag_volume,
       |  coalesce(abs(n.p50_chars_est - o.p50_chars_est) > $relTol * o.p50_chars_est,
       |    false) AS flag_p50_chars,
       |  coalesce(abs(n.p95_tokens_est - o.p95_tokens_est) > $relTol * o.p95_tokens_est,
       |    false) AS flag_p95_tokens
       |FROM card_old o
       |FULL OUTER JOIN card_new n ON n.source = o.source
       |ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_datacard" -> (datacard _),
    "text_datacard_incremental" -> (datacardIncremental _),
    "text_datacard_diff" -> (datacardDiffQuery _))

  val oracles: Map[String, String] = Map(
    "text_datacard" -> datacardSql,
    "text_datacard_incremental" -> datacardIncrementalSql,
    "text_datacard_diff" -> datacardDiffSql)
}
