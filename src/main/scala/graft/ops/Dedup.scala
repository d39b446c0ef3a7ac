package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.functions.ArrayExprs

/** Deduplication operators over `documents` — the core of a training-data
  * pipeline at 100 TB:
  *
  *  - exact:      hash-groupBy on a normalized fingerprint. One shuffle of
  *                (16-byte digest, doc_id); partial agg collapses it.
  *  - ngram Jaccard: 3-word shingle inverted index self-join. Shingles are
  *                selective (unlike raw words), so the candidate-pair
  *                blow-up stays near-linear; exact because any pair with
  *                Jaccard ≥ τ > 0 shares ≥1 shingle.
  *  - MinHash+LSH: the sub-quadratic scale path — k hash signature, banded
  *                into buckets; only bucket-colliding pairs are verified.
  *  - SimHash:    64-bit fingerprint; hamming-0 grouping here, hamming ≤ k
  *                via band rotation at scale.
  *  - embedding near-dup: see Similarity.embeddingNearDup (cosine ≥ τ).
  *
  * Performance notes (measured at sf0.1):
  *  - Tokenization/shingling is materialized through projection
  *    boundaries before reuse: Spark does NOT do common-subexpression
  *    elimination inside higher-order-function lambdas, so inlining
  *    `split(text)` into a `transform` re-splits the text per element
  *    (~25× slowdown on the shingle scan).
  *  - MinHash signatures are computed per-row over the shingle array
  *    (`transform` + `array_min`) instead of explode + 64-column min
  *    aggregate: no shuffle at all, 45× faster at sf0.1, and at 100 TB
  *    the signature stage becomes embarrassingly parallel scan work.
  *  - Pair joins key on xxhash64(shingle) (8 bytes) rather than the
  *    shingle string (~25 bytes): same results w.h.p. (collision odds
  *    over ~10^6 distinct shingles ≈ 2^-45) with a 3× smaller shuffle.
  */
object Dedup {

  private def toks(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** (doc_id, shs: array<long>) — distinct 3-token shingle hashes, one
    * native-expression pass per row (ArrayExprs.ShingleHashes). The
    * tokenization is materialized through a projection boundary first:
    * Spark does no CSE inside expression trees that reference the split
    * repeatedly, so the split must become a bound attribute.
    */
  private def docShingleHashes(c: Catalog): DataFrame =
    docShingleHashesOn(c.ref("documents"))

  private[ops] def docShingleHashesOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), ArrayExprs.shingleHashes(col("toks"), 3).as("shs"))

  /** The shared adversarial corpus for the near-dup family: every run of
    * five consecutive doc_ids shares one text (mass duplication), every
    * 7th doc is emptied, every 13th-mod-5 is whitespace-only, and every
    * 11th-mod-3 has its spaces replaced by U+00A0 (non-breaking space —
    * NOT regex `\s` in either engine, so the whole phrase fuses into
    * long tokens). Near-dup operators tuned on mostly-unique corpora
    * break exactly here: degenerate tokenizations and pathological
    * duplication rates.
    */
  private def adversarialDocs(c: Catalog): DataFrame = {
    val docs = c.ref("documents").select(col("doc_id"), col("text"))
    val heads = docs.select(col("doc_id").as("h_id"), col("text").as("h_text"))
    docs
      .select(col("doc_id"), (col("doc_id") - col("doc_id") % 5).as("h_id"))
      .join(heads, Seq("h_id"))
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(""))
          .when(col("doc_id") % 13 === 5, lit("  \t "))
          .when(col("doc_id") % 11 === 3, regexp_replace(col("h_text"), " ", "\u00A0"))
          .otherwise(col("h_text")).as("text"))
  }

  /** DuckDB twin of [[adversarialDocs]], as a CTE body over `documents`. */
  private val adversarialDocsSql: String =
    """SELECT d.doc_id,
      |       CASE WHEN d.doc_id % 7 = 0 THEN ''
      |            WHEN d.doc_id % 13 = 5 THEN concat('  ', chr(9), ' ')
      |            WHEN d.doc_id % 11 = 3 THEN replace(h.text, ' ', chr(160))
      |            ELSE h.text END AS text
      |FROM documents d JOIN documents h ON h.doc_id = d.doc_id - d.doc_id % 5""".stripMargin

  // ---- exact dedup -----------------------------------------------------------
  /** Exact-dedup groups: md5 over whitespace-normalized lowercase text;
    * representative = min doc_id. Every fingerprint group is returned
    * (n_dups = 1 means the doc is unique; downstream keeps
    * representative_id and drops the rest) so the oracle check has teeth
    * even when the corpus has no planted exact duplicates.
    */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    exactOn(c.ref("documents"))
  }

  private def exactOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(concat_ws(" ", toks(col("text")))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("representative_id"), count(lit(1)).as("n_dups"))
      .orderBy("representative_id")

  val exactSql: String =
    """SELECT md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fp,
      |       min(doc_id) AS representative_id, count(*) AS n_dups
      |FROM documents
      |GROUP BY 1
      |ORDER BY representative_id""".stripMargin

  /** Adversarial-corpus exact dedup: same operator, pathological input
    * derived deterministically from `documents` — every run of five
    * consecutive doc_ids shares one text (mass duplication: ~80% of the
    * corpus is duplicate), and every 7th doc is emptied (the
    * empty-string edge the tokenizer must survive). A dedup operator
    * that only ever sees a mostly-unique corpus is untested where it
    * matters; this row plants the worst case under the oracle.
    */
  def exactAdversarial(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val docs = c.ref("documents").select(col("doc_id"), col("text"))
    val heads = docs.select(col("doc_id").as("h_id"), col("text").as("h_text"))
    val mutated = docs
      .select(col("doc_id"), (col("doc_id") - col("doc_id") % 5).as("h_id"))
      .join(heads, Seq("h_id"))
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit("")).otherwise(col("h_text")).as("text"))
    exactOn(mutated)
  }

  val exactAdversarialSql: String =
    """WITH mutated AS (
      |  SELECT d.doc_id,
      |         CASE WHEN d.doc_id % 7 = 0 THEN '' ELSE h.text END AS text
      |  FROM documents d JOIN documents h ON h.doc_id = d.doc_id - d.doc_id % 5)
      |SELECT md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fp,
      |       min(doc_id) AS representative_id, count(*) AS n_dups
      |FROM mutated
      |GROUP BY 1
      |ORDER BY representative_id""".stripMargin

  // ---- n-gram Jaccard dedup ---------------------------------------------------
  /** Near-dup pairs by exact Jaccard over distinct 3-word shingles.
    * Prefix-filtered inverted-index plan (the containment gate
    * generalized to the symmetric threshold): J(A,B) ≥ τ implies
    * I ≥ τ/(1+τ)·(|A|+|B|) ≥ 2τ/(1+τ)·n_min, i.e. the MIN side's
    * containment is ≥ τ' = 2τ/(1+τ) — so probe-gating each posting on
    * the min side's first n − ⌈τ'·n⌉ + 1 sorted shingles
    * ([[graft.functions.ArrayExprs.ProbePairsBoth]]) is LOSSLESS for
    * J ≥ τ, while cutting the per-bucket pair expansion to the
    * ≈(1−τ') probe fraction (the PPJoin prefix principle, Xiao et al.
    * 2008). A pair-level length filter (n_min ≥ τ·n_max, also implied
    * by J ≥ τ) prunes candidates before the distinct; survivors are
    * verified EXACTLY by a sorted-array merge count
    * ([[graft.functions.ArrayExprs.SortedIntersectCount]]), so
    * `n_inter` is the true distinct-shingle intersection and the
    * emitted pair set is IDENTICAL to the naive all-pairs expansion —
    * the DuckDB twin is the unchanged full join. Exact for τ > 0
    * (modulo the 2^-45 hash-collision odds documented above).
    *
    * Three shuffles total (postings, candidate distinct, verify joins
    * against the checkpointed sets relation); candidate volume, not
    * corpus bytes, dominates — on the 8× replica probe this halved the
    * pair-generation cost vs the occurrence-counting formulation it
    * replaced (each true pair used to cross the wire once per SHARED
    * SHINGLE to be counted; now once per probe hit, then once per
    * verify). No skew — shingles are near-unique; boilerplate-heavy
    * corpora cap posting-list length via ngramJaccardCappedAt.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardAt(spark, dir, 0.5)

  def ngramJaccardAt(spark: SparkSession, dir: String, tau: Double): DataFrame =
    ngramPairsAt(spark, dir, tau).orderBy("id1", "id2")

  /** The pair plan without the presentation sort — consumers that only
    * need the edge set (duplicateClustersAt) skip that extra range
    * shuffle + sort stage. Registered paths run under the default
    * [[PairBudget]] — candidate explosion fails loudly (see
    * [[enforceBudget]]), it does not silently launch a doomed shuffle.
    */
  private def ngramPairsAt(spark: SparkSession, dir: String, tau: Double,
      budget: Option[PairBudget] = Some(PairBudget())): DataFrame =
    ngramPairsOn(Catalog(spark, dir).ref("documents"), tau, budget)

  private def ngramPairsOn(docs: DataFrame, tau: Double,
      budget: Option[PairBudget] = Some(PairBudget())): DataFrame =
    ngramPairsFromShingles(docShingleHashesOn(docs), tau, budget = budget)

  /** The pair plan over a PRE-SHINGLED relation `(doc_id, shs)` (the
    * [[docShingleHashesOn]] shape) — lets [[graft.ops.Curation]] derive
    * the shingles from its shared tokenization instead of re-scanning
    * the corpus.
    *
    * Two plans behind one contract:
    *   - UNCAPPED (exact): posting lists carry every (doc, shingle)
    *     occurrence, so for any pair the number of shared buckets IS
    *     |a∩b| — one pair-count aggregate (map-side combined) replaces
    *     candidate-distinct + two verify joins + the per-pair sorted
    *     intersect, and the shingle ARRAYS never need a second
    *     materialization. The honest cost is Σ C(df,2) pair rows, the
    *     same quadratic the verify path also paid post-probe — right
    *     whenever no df cap is in play.
    *   - CAPPED (the 100 TB dial): with a df cap, dropped buckets make
    *     bucket-counting undercount, so the capped path keeps the
    *     PPJoin shape — min-side prefix probe, candidate distinct,
    *     exact verify against the full sets — where survivors' scores
    *     stay exact however hard the cap bites.
    */
  /** `collapse`: None = probe the duplication ratio internally (the
    * default for corpora whose shingle derivation is a real scan, where
    * the probe's checkpoint is reused by the pair plan either way);
    * Some(b) = the CALLER already knows — [[graft.ops.Curation]] probes
    * its persisted token cache for free and passes the verdict down,
    * skipping both the internal probe's sync point and (when false) the
    * checkpoint materialization entirely.
    */
  private[ops] def ngramPairsFromShingles(shingled: DataFrame, tau: Double,
      maxDf: Int = Int.MaxValue, collapse: Option[Boolean] = None,
      budget: Option[PairBudget] = None): DataFrame =
    if (maxDf == Int.MaxValue)
      ngramPairsExactCount(shingled, tau, collapse = collapse, budget = budget)
    else ngramPairsPrefixVerify(shingled, tau, maxDf, budget = budget)

  /** Uncapped exact plan: collapse IDENTICAL shingle sets first (the
    * "dedup at the signature level" move every sketch family here
    * uses), bucket-count intersections over the DISTINCT sets only,
    * then expand back to doc pairs. A mass-duplicated corpus — the 8×
    * replica probe, boilerplate families at 100 TB — would otherwise
    * multiply every quadratic stage by the duplication factor squared;
    * after the collapse the candidate/aggregate work is
    * distinct-corpus-sized and only the (irreducible, the contract
    * emits every qualifying pair) OUTPUT expansion scales with
    * duplication. Within-group pairs are identical sets: n_inter = n,
    * jaccard exactly 1.0 ≥ any τ — no arithmetic to disagree with the
    * twin.
    */
  private[ops] def ngramPairsExactCount(shingled: DataFrame, tau: Double,
      collapseGate: Double = 0.9, collapse: Option[Boolean] = None,
      budget: Option[PairBudget] = None): DataFrame = {
    // Caller-decided direct path: fully LAZY — no checkpoint, no probe
    // action, the d4de34a plan shape. The pair plan is consumed once
    // (clustersOf checkpoints the edges), so there is nothing to reuse.
    if (collapse.contains(false))
      return bucketCountPairs(
        shingled.select(col("doc_id"), col("shs"))
          .filter(size(col("shs")) > 0)
          .select(col("doc_id"), size(col("shs")).as("n"), col("shs")), tau, budget)
    // Set identity = (xxhash64(shs), n, first element, last element) —
    // a 32-byte content address over the SORTED shingle array, so
    // grouping and the membership join never sort/compare hundreds of
    // longs per row. A false merge needs a 64-bit hash collision
    // between different sets that ALSO agree on size and both extreme
    // shingle hashes: ~2^-80 effective, physically negligible at any
    // corpus size (and the per-pair scores a collision could corrupt
    // are exactly what the oracle rows hash-check).
    val keyed = shingled
      .select(col("doc_id"), col("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"), col("shs"), size(col("shs")).as("n"),
        xxhash64(col("shs")).as("s1"),
        element_at(col("shs"), 1).as("lo"), element_at(col("shs"), -1).as("hi"))
      .localCheckpoint(eager = false)
    // Adaptive gate (same move as ngramJaccardAutoCapped): ONE partial-
    // aggregated probe over the checkpoint's 8-byte hash column decides
    // whether the collapse pays. On a low-duplication corpus distinct ≈
    // total and the collapse's extra array shuffle + membership joins
    // are pure overhead (~30% on the sf0.1 curation pipeline); on a
    // duplicate-heavy one (the 8× probe) distinct ≪ total and skipping
    // it would square the duplication factor into every quadratic
    // stage. approx_count_distinct's ±2% error is harmless at a 0.9
    // threshold. Both branches emit identical rows — identical sets
    // pair with n_inter = n, jaccard exactly 1.0 either way.
    val doCollapse = collapse.getOrElse {
      val st = keyed.agg(count(lit(1)), approx_count_distinct(col("s1"))).head()
      st.getLong(1) < collapseGate * st.getLong(0)
    }
    if (!doCollapse)
      return bucketCountPairs(keyed.select(col("doc_id"), col("n"), col("shs")), tau, budget)
    // one row per DISTINCT set: min-id rep + one carried array (first()
    // holds one array per group in the partial buffer — bounded by the
    // distinct sets per partition, the same shape as any dedup agg)
    val dgroups = keyed.groupBy(col("s1"), col("n"), col("lo"), col("hi"))
      .agg(min(col("doc_id")).as("rep"), first(col("shs")).as("shs"))
      .localCheckpoint(eager = false)
    val dsets = dgroups.select(col("rep").as("doc_id"), col("n"), col("shs"))
    val repPairs0 = bucketCountPairs(dsets, tau, budget)
    // pinned when a budget is set: the cross-volume estimate below reads
    // the rep pairs once before the expansion consumes them
    val repPairs =
      if (budget.isDefined) repPairs0.localCheckpoint(eager = false) else repPairs0
    // expansion: every member pair of a qualifying rep pair shares the
    // reps' exact sets, hence the reps' exact (n_inter, jaccard); the
    // membership join moves 32-byte key rows, never arrays
    val mem = keyed.select(col("s1"), col("n"), col("lo"), col("hi"), col("doc_id"))
      .join(dgroups.select(col("s1"), col("n"), col("lo"), col("hi"), col("rep")),
        Seq("s1", "n", "lo", "hi"))
      .select(col("rep"), col("doc_id"), col("n"))
      .localCheckpoint(eager = false)
    // The collapse bounds CANDIDATE work, but the contract still EMITS
    // every within-family pair — on a mass-duplicated corpus the OUTPUT
    // itself is Σ C(family, 2) and would launch the very shuffle the
    // guard exists to prevent, while the rep-level estimate below reads
    // tiny. Enforce the budget on that output volume here too (a
    // per-rep count off the checkpointed membership); a firing means
    // "collapse exact duplicates first", not "use a df cap".
    budget.foreach { b =>
      val famCounts = mem.groupBy(col("rep")).agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false)
      enforceBudgetOn("ngramJaccard(duplicate-family output)",
        famCounts.filter(col("c") > 1), "c", b)
      // The CROSS expansion joins each qualifying rep pair against both
      // member families and emits |fam1|·|fam2| rows per pair — e.g.
      // ~1000 near-dup families of ~50 exact copies passes both the
      // rep-level and within-family checks yet emits ~10⁹ cross rows.
      // Enforce on that volume too: Σ c1·c2 over the pinned rep pairs,
      // one metadata-cheap join against the per-rep counts.
      enforceBudgetExprs("ngramJaccard(cross-family output)",
        repPairs
          .join(famCounts.select(col("rep").as("id1"), col("c").as("c1")), Seq("id1"))
          .join(famCounts.select(col("rep").as("id2"), col("c").as("c2")), Seq("id2")),
        "CAST(c1 AS BIGINT) * c2", "CAST(c1 AS BIGINT) + c2", b)
    }
    val cross = repPairs
      .join(mem.select(col("rep").as("id1"), col("doc_id").as("a")), Seq("id1"))
      .join(mem.select(col("rep").as("id2"), col("doc_id").as("b")), Seq("id2"))
      .select(least(col("a"), col("b")).as("id1"),
        greatest(col("a"), col("b")).as("id2"),
        col("n_inter"), col("jaccard"))
    // within-group: a mega-family's C(m,2) output is irreducible, and
    // this is a plain AQE-VISIBLE join (not loop-internal), so AQE's
    // skew-join split — not manual salting — is the right mitigation
    // when a family's partition outgrows the split threshold
    val within = mem.select(col("rep"), col("doc_id").as("a"), col("n"))
      .join(mem.select(col("rep"), col("doc_id").as("b")), Seq("rep"))
      .filter(col("a") < col("b"))
      .select(col("a").as("id1"), col("b").as("id2"),
        col("n").cast("long").as("n_inter"), lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  // ---- candidate-pair budget (the loud scale guard) ---------------------------

  /** Budget on the QUADRATIC candidate step of the inverted-index dedup
    * families — the enforced answer to the SUPER-LINEAR shuffle growth
    * the 8× probes flag: candidate-pair volume Σ C(df, 2) grows with
    * the SQUARE of the corpus duplication rate, so on a
    * duplicate-heavy crawl these are the first jobs to die, silently
    * and expensively. Before expanding pairs, each guarded path
    * estimates the candidate volume from its (already materialized)
    * posting lists — one metadata-cheap aggregate — and FAILS LOUDLY
    * past the budget instead of launching a doomed shuffle.
    *
    * `maxPairs` = absolute cap; when None the cap is CORPUS-RELATIVE:
    * max(4M, `perPosting` × posting count), i.e. an average candidate
    * fan-out per posting — duplication inflates Σ C(df,2) quadratically
    * but postings only linearly, so the ratio is exactly the explosion
    * detector. The remedy the error message points at is the df-capped
    * variant ([[ngramJaccardCappedAt]] / [[containmentCappedAt]]),
    * whose posting-list cap bounds the same quadratic by construction.
    */
  final case class PairBudget(maxPairs: Option[Long] = None, perPosting: Long = 50L) {
    def limit(postings: Long): Long =
      maxPairs.getOrElse(math.max(4000000L, perPosting * postings))
  }

  /** Telemetry of the last budget check: (operator, estimated pairs,
    * enforced limit) — what ScaleProbe prints next to the 8× lines.
    */
  @volatile private[graft] var lastBudgetCheck: Option[(String, Long, Long)] = None

  /** One aggregate over the grouped posting relation (expects a `docs`
    * array column): Σ C(|bucket|, 2) candidate pairs + Σ |bucket|
    * postings, then enforce. Callers pass the relation ALREADY lazily
    * checkpointed, so this action materializes the postings the pair
    * expansion reuses — the estimate costs a checkpoint scan, not a
    * recompute of the shingle pipeline.
    */
  private def enforceBudget(op: String, grouped: DataFrame, b: PairBudget): Unit =
    enforceBudgetOn(op, grouped, "size(docs)", b)

  /** Same enforcement over any relation with a bucket-size expression
    * (`minhashLsh` feeds per-(band, slice) collision counts).
    */
  private def enforceBudgetOn(op: String, grouped: DataFrame, sizeExpr: String,
      b: PairBudget): Unit =
    enforceBudgetExprs(op, grouped,
      s"CAST($sizeExpr AS BIGINT) * ($sizeExpr - 1) div 2",
      s"CAST($sizeExpr AS BIGINT)", b)

  /** Core enforcement with explicit per-bucket estimate/posting
    * expressions — the PREFIX-GATED paths pass a probe-aware estimate
    * (only pairs touching a probe row are ever expanded), so the guard
    * measures what the plan will actually shuffle, not the full C(df,2).
    */
  private def enforceBudgetExprs(op: String, grouped: DataFrame,
      estExpr: String, postExpr: String, b: PairBudget): Unit = {
    val r = grouped.agg(
      sum(expr(estExpr)).as("est"),
      sum(expr(postExpr)).as("postings")).head()
    val est = if (r.isNullAt(0)) 0L else r.getLong(0)
    val postings = if (r.isNullAt(1)) 0L else r.getLong(1)
    val lim = b.limit(postings)
    lastBudgetCheck = Some((op, est, lim))
    if (est > lim)
      throw new IllegalStateException(
        s"$op: candidate-pair budget exceeded — estimated $est candidate pairs over " +
          s"$postings postings (limit $lim). The corpus is too duplication-heavy for " +
          "this setting; tighten the df cap (ngramJaccardCappedAt / " +
          "containmentCappedAt with a LOWER maxDf, cap ~ max(64, N/100)), collapse " +
          "exact duplicates first (dedup_exact), or pass a larger PairBudget.")
  }

  /** Probe-aware estimate for buckets of `(…, probe)` structs: pairs
    * with at least one probe member = C(n,2) − C(n−nP,2) — the pairs
    * ProbePairsBoth can actually emit.
    */
  private val ProbeAwareEst: String = {
    val n = "size(docs)"
    val c = "size(filter(docs, d -> NOT d.probe))"
    s"(CAST($n AS BIGINT) * ($n - 1) div 2) - (CAST($c AS BIGINT) * ($c - 1) div 2)"
  }

  /** The posting-list bucket-count core over (doc_id, n, shs) rows:
    * explode to (set, shingle) postings, bucket by shingle, emit
    * length-filtered pairs, count intersections, keep J ≥ τ.
    * explode_outer + null filter, size() precomputed as `n`: a plain
    * explode lets InferFiltersFromGenerate push a size(shs)>0 filter
    * below the projection and re-evaluate the shingle hash 3× in the
    * scan (the Dedup.scala lesson); the outer variant infers nothing,
    * and hash values are never null.
    *
    * With `budget` set, the grouped postings are checkpointed and the
    * candidate volume is enforced BEFORE the quadratic expansion.
    */
  private def bucketCountPairs(sets: DataFrame, tau: Double,
      budget: Option[PairBudget] = None): DataFrame = {
    val grouped0 = sets
      .withColumn("sh", explode_outer(col("shs")))
      .filter(col("sh").isNotNull)
      .select(col("doc_id"), col("n"), col("sh"))
      .groupBy(col("sh"))
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("docs"))
      .filter(size(col("docs")) > 1)
    val grouped = budget match {
      case Some(b) =>
        val g = grouped0.localCheckpoint(eager = false)
        enforceBudget("ngramJaccard", g, b)
        g
      case None => grouped0
    }
    grouped
      // pair emission + the J ≥ τ length filter (n_min ≥ τ·n_max) fused
      // into one kernel (the shared SortedPairsN, which carries
      // ns = n1 + n2 — all the denominator needs): failed pairs are
      // never allocated
      .select(explode(ArrayExprs.sortedPairsN(col("docs"), tau)).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"), col("p.ns").as("ns"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("ns") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id1"), col("id2"), col("n_inter"), col("jaccard"))
  }

  /** Capped plan: prefix probe + exact verify (see the contract note). */
  private def ngramPairsPrefixVerify(shingled: DataFrame, tau: Double,
      maxDf: Int, budget: Option[PairBudget] = None): DataFrame = {
    // Lossless prefix threshold: J ≥ τ ⟹ min-side containment ≥ 2τ/(1+τ).
    val tauC = 2 * tau / (1 + tau)
    val sets = shingled
      .select(col("doc_id"), array_sort(col("shs")).as("shs"))
      .select(col("doc_id"), col("shs"), size(col("shs")).as("n"))
      .filter(col("n") > 0)
      .localCheckpoint(eager = false)
    // ceil over an epsilon-nudged product: tauC is a rounded double, and
    // when tauC·n lands a hair ABOVE the true rational's integer ceiling
    // (e.g. τ = 0.118, n = 559) a bare ceil would shorten the prefix by
    // one and silently drop a true pair. Nudging down can only LENGTHEN
    // the prefix (more probes, still lossless); the exact verify keeps
    // the emitted pair set unchanged either way.
    val prefixLen = (col("n") - ceil(lit(tauC) * col("n") - lit(1e-9)) + 1).cast("int")
    val grouped0 = sets
      .select(col("doc_id"), col("n"), prefixLen.as("k"),
        posexplode(col("shs")).as(Seq("pos", "sh")))
      .groupBy(col("sh"))
      .agg(collect_list(struct(col("doc_id"), col("n"),
        (col("pos") < col("k")).as("probe"))).as("docs"))
      // the df cap (when set) bounds the quadratic pair expansion; a
      // capped run can only LOSE candidates — survivors are still
      // verified against the full sets, so their scores stay exact
      .filter(size(col("docs")) > 1 && size(col("docs")) <= maxDf)
    val grouped = budget match {
      case Some(b) =>
        val g = grouped0.localCheckpoint(eager = false)
        enforceBudgetExprs("ngramJaccard(capped)", g, ProbeAwareEst,
          "CAST(size(docs) AS BIGINT)", b)
        g
      case None => grouped0
    }
    val cands = grouped
      .select(explode(ArrayExprs.probePairsBoth(col("docs"))).as("p"))
      // length filter, also implied by J ≥ τ: n_min ≥ τ·n_max
      .filter(least(col("p.n1"), col("p.n2")).cast("double") >=
        lit(tau) * greatest(col("p.n1"), col("p.n2")).cast("double"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .distinct()
    cands
      .join(sets.select(col("doc_id").as("id1"), col("shs").as("shs1"),
        col("n").as("n1")), Seq("id1"))
      .join(sets.select(col("doc_id").as("id2"), col("shs").as("shs2"),
        col("n").as("n2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        ArrayExprs.sortedIntersectCount(col("shs1"), col("shs2"))
          .cast("long").as("n_inter"),
        (col("n1") + col("n2")).as("ns"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("ns") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("id1"), col("id2"), col("n_inter"), col("jaccard"))
  }

  /** The oracle twin parameterized over its source relation (a CTE body)
    * so the adversarial variant reuses it verbatim.
    */
  private def ngramJaccardSqlFrom(src: String): String =
    s"""WITH src AS ($src),
      |tok AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
      |  FROM src),
      |ds AS (
      |  SELECT DISTINCT doc_id, shingle
      |  FROM (SELECT doc_id,
      |               unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
      |                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
      |        FROM tok)),
      |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM ds GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
      |  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id1, id2, n_inter,
      |       CAST(n_inter AS DOUBLE) / CAST(s1.n_shingles + s2.n_shingles - n_inter AS DOUBLE) AS jaccard
      |FROM inter
      |JOIN sizes s1 ON s1.doc_id = id1
      |JOIN sizes s2 ON s2.doc_id = id2
      |WHERE CAST(n_inter AS DOUBLE) / CAST(s1.n_shingles + s2.n_shingles - n_inter AS DOUBLE) >= 0.5
      |ORDER BY id1, id2""".stripMargin

  val ngramJaccardSql: String =
    ngramJaccardSqlFrom("SELECT doc_id, text FROM documents")

  /** n-gram Jaccard over the adversarial corpus ([[adversarialDocs]]):
    * mass duplication (runs of five identical docs ⇒ dense 1.0-Jaccard
    * cliques), empty/whitespace-only docs (no shingles — must vanish,
    * not crash or self-pair), and NBSP-fused tokens (degenerate shingle
    * sets that must still compare exactly).
    */
  def ngramJaccardAdversarial(spark: SparkSession, dir: String): DataFrame =
    ngramPairsOn(adversarialDocs(Catalog(spark, dir)), 0.5).orderBy("id1", "id2")

  val ngramJaccardAdversarialSql: String = ngramJaccardSqlFrom(adversarialDocsSql)

  // ---- containment (excerpt / quote) detection --------------------------------
  /** ASYMMETRIC near-dup: containment = I / min(|A|, |B|) over distinct
    * 3-shingles — "the smaller document is an excerpt of the larger",
    * which symmetric Jaccard is blind to (a 30% excerpt has J ≈ 0.3 but
    * containment ≈ 1.0). The oracle corpus plants real excerpts: every
    * 10th document contributes a copy holding its first
    * max(5, 3·len/10) tokens under doc_id+1000000000 — at τ = 0.9 the
    * planted (parent, excerpt) pairs surface and most are invisible to
    * the J ≥ 0.5 dedup (measured 56 of 81 pairs at sf0.01).
    *
    * Same inverted-index shape as [[ngramJaccard]] but with the pair
    * expansion gated by an EXACT prefix filter (see
    * [[containmentPairsOn]]) — containment has no size-ratio length
    * prune (a 10-shingle excerpt can live in a 10,000-shingle doc), so
    * the prefix bound plus the posting-list df cap are the scale
    * guards. Containment is a single int/int division, engine-exact.
    */
  def containment90(spark: SparkSession, dir: String): DataFrame =
    containmentAt(spark, dir, 0.9).orderBy("id1", "id2")

  def containmentAt(spark: SparkSession, dir: String, tau: Double): DataFrame =
    containmentCappedAt(spark, dir, tau, Int.MaxValue, Some(PairBudget()))

  /** The df-capped scale guard, same contract as [[ngramJaccardCappedAt]]:
    * posting lists longer than `maxDf` are dropped before the quadratic
    * pair expansion. Capping can only remove CANDIDATE pairs (a pair
    * whose every shared prefix shingle is over-df never surfaces), and
    * every surfaced pair is verified against the full shingle sets, so a
    * capped run is a subset of the exact result with EXACT scores
    * (asserted in DedupSpec). Size the cap corpus-relative
    * (max(64, N/100)) per the ngram-cap lesson in SCALE.md.
    */
  def containmentCappedAt(spark: SparkSession, dir: String, tau: Double,
      maxDf: Int, budget: Option[PairBudget] = None): DataFrame =
    containmentPairsOn(containmentCorpus(Catalog(spark, dir)), tau, maxDf, budget)

  /** The containment oracle corpus: documents plus planted excerpts
    * (every 10th doc's first max(5, 3·len/10) tokens under
    * doc_id + 10⁹).
    */
  private def containmentCorpus(c: Catalog): DataFrame = {
    val base = c.ref("documents").select(col("doc_id"), col("text"))
    val ts = toks(col("text"))
    val excerpts = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"),
        array_join(slice(ts, lit(1),
          greatest(lit(5), floor(size(ts) * 3 / 10)).cast("int")), " ").as("text"))
    base.unionByName(excerpts)
  }

  /** Candidate generation is PREFIX-FILTERED (exact, not LSH-approximate):
    * each doc's distinct shingle hashes are sorted once, and a posting is
    * flagged `probe` when it falls in the doc's first `n − ⌈τ·n⌉ + 1`
    * shingles. A pair reaching containment ≥ τ must have its min-size
    * side's prefix intersect the other side's full set
    * ([[graft.functions.ArrayExprs.ProbePairsBoth]] proves the bound), so
    * expanding only probe-gated pairs is lossless while cutting the
    * per-bucket quadratic to the ≈(1−τ) probe fraction. Survivors are
    * verified EXACTLY by a sorted-array merge count
    * ([[graft.functions.ArrayExprs.SortedIntersectCount]]) — two narrow
    * candidate joins against the (doc_id, shs) relation, so `n_inter` is
    * the true intersection regardless of which buckets produced the
    * candidate. Three shuffles total (postings, candidate distinct, the
    * verify joins share the sets relation); pair volume, not corpus
    * bytes, dominates.
    */
  private def containmentPairsOn(docs: DataFrame, tau: Double,
      maxDf: Int = Int.MaxValue, budget: Option[PairBudget] = None): DataFrame =
    containmentPairsOnSets(sortedSetsOf(docShingleHashesOn(docs)), tau, maxDf, budget)

  /** `(doc_id, shs)` → the checkpointed sorted-sets relation both the
    * pair pipeline and the byte-budget df histogram read.
    */
  private def sortedSetsOf(shingled: DataFrame): DataFrame =
    shingled
      .select(col("doc_id"), array_sort(col("shs")).as("shs"))
      .select(col("doc_id"), col("shs"), size(col("shs")).as("n"))
      .filter(col("n") > 0)
      .localCheckpoint(eager = false)

  private def containmentPairsOnSets(sets: DataFrame, tau: Double,
      maxDf: Int = Int.MaxValue, budget: Option[PairBudget] = None): DataFrame = {
    // epsilon-nudged ceil, same rounding hazard as ngramPairsFromShingles:
    // a double τ·n landing a hair above the true integer ceiling would
    // shorten the prefix and break losslessness; nudging down only
    // lengthens it, and the exact verify keeps the pair set identical
    val prefixLen = (col("n") - ceil(lit(tau) * col("n") - lit(1e-9)) + 1).cast("int")
    val grouped0 = sets
      .select(col("doc_id"), col("n"), prefixLen.as("k"),
        posexplode(col("shs")).as(Seq("pos", "sh")))
      .groupBy(col("sh"))
      .agg(collect_list(struct(col("doc_id"), col("n"),
        (col("pos") < col("k")).as("probe"))).as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= maxDf)
    val grouped = budget match {
      case Some(b) =>
        val g = grouped0.localCheckpoint(eager = false)
        enforceBudgetExprs("containment", g, ProbeAwareEst,
          "CAST(size(docs) AS BIGINT)", b)
        g
      case None => grouped0
    }
    val cands = grouped
      .select(explode(ArrayExprs.probePairsBoth(col("docs"))).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .distinct()
    cands
      .join(sets.select(col("doc_id").as("id1"), col("shs").as("shs1"),
        col("n").as("n1")), Seq("id1"))
      .join(sets.select(col("doc_id").as("id2"), col("shs").as("shs2"),
        col("n").as("n2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        ArrayExprs.sortedIntersectCount(col("shs1"), col("shs2"))
          .cast("long").as("n_inter"),
        least(col("n1"), col("n2")).as("n_min"))
      .withColumn("containment",
        col("n_inter").cast("double") / col("n_min").cast("double"))
      .filter(col("containment") >= tau)
      .select(col("id1"), col("id2"), col("n_inter"), col("containment"))
  }

  val containmentSql: String =
    """WITH src AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS doc_id,
      |         array_to_string(
      |           (regexp_split_to_array(trim(lower(text)), '\s+'))[1:greatest(5, 3 * len(regexp_split_to_array(trim(lower(text)), '\s+')) // 10)],
      |           ' ') AS text
      |  FROM documents WHERE doc_id % 10 = 0),
      |tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts FROM src),
      |ds AS (
      |  SELECT DISTINCT doc_id, shingle
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
      |          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle FROM tok)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
      |  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id1, id2, n_inter,
      |       CAST(n_inter AS DOUBLE) / CAST(least(s1.n, s2.n) AS DOUBLE) AS containment
      |FROM inter
      |JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
      |WHERE CAST(n_inter AS DOUBLE) / CAST(least(s1.n, s2.n) AS DOUBLE) >= 0.9
      |ORDER BY id1, id2""".stripMargin

  // ---- incremental dedup (new crawl vs kept corpus) ---------------------------
  /** The production dedup shape: a NEW batch (every third 5-doc family —
    * "the crawl that just landed") screened against the ALREADY-KEPT
    * corpus without ever re-deduping the base. Three verdicts per delta
    * doc: `dup_of_base` (fingerprint exists in the kept corpus — base
    * wins regardless of id order), `dup_in_delta` (first occurrence
    * inside the batch keeps), `new`. Runs over the adversarial corpus
    * with the split at FAMILY granularity: whole duplicate families land
    * in the batch (exercising in-batch dedup) while the corpus-wide
    * empty/whitespace fingerprints straddle the split (exercising the
    * base index), so all three verdicts appear under the oracle.
    *
    * Scale shape: base reduces to its DISTINCT fingerprint index — 16
    * bytes/doc, the thing a production pipeline keeps as a bucketed
    * table (then this join is exchange-free on the base side: a scan
    * bucketed by the join key needs no shuffle) — and all
    * per-doc work is O(|delta|): the first-in-batch window and the
    * index join both key on the delta's fingerprints. The base corpus
    * text is never re-read beyond the one fingerprint scan.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Catalog(spark, dir)
    // pin: both the delta branch and the base index reference `all`,
    // and without the pin each one re-runs the corpus scan + md5
    val all = adversarialDocs(c)
      .select(col("doc_id"), md5(concat_ws(" ", toks(col("text")))).as("fp"))
      .localCheckpoint(eager = false)
    val isDelta = expr("(doc_id div 5) % 3") === 0
    val delta = all.filter(isDelta)
    val baseIdx = all.filter(!isDelta)
      .select(col("fp")).distinct().withColumn("__in_base", lit(1))
    delta
      .withColumn("first_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .join(baseIdx, Seq("fp"), "left")
      .select(col("doc_id"),
        when(col("__in_base") === 1, lit("dup_of_base"))
          .when(col("doc_id") =!= col("first_id"), lit("dup_in_delta"))
          .otherwise(lit("new")).as("verdict"))
      .orderBy("doc_id")
  }

  val incrementalDedupSql: String =
    s"""WITH src AS ($adversarialDocsSql),
      |f AS (
      |  SELECT doc_id,
      |         md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'), ' ')) AS fp
      |  FROM src),
      |delta AS (SELECT doc_id, fp FROM f WHERE (doc_id // 5) % 3 = 0),
      |base AS (SELECT DISTINCT fp FROM f WHERE (doc_id // 5) % 3 <> 0),
      |firsts AS (SELECT fp, min(doc_id) AS first_id FROM delta GROUP BY 1)
      |SELECT d.doc_id,
      |       CASE WHEN b.fp IS NOT NULL THEN 'dup_of_base'
      |            WHEN d.doc_id <> fi.first_id THEN 'dup_in_delta'
      |            ELSE 'new' END AS verdict
      |FROM delta d
      |LEFT JOIN base b ON d.fp = b.fp
      |JOIN firsts fi ON d.fp = fi.fp
      |ORDER BY d.doc_id""".stripMargin

  /** Scale guard for the inverted-index join: drop posting lists whose
    * document frequency exceeds `maxDf` before pairing. Boilerplate
    * shingles shared by millions of documents otherwise contribute
    * O(df²) candidate pairs — the classic quadratic blow-up of shingle
    * joins on web corpora. Same machinery as [[ngramJaccard]] (prefix
    * gate + exact sorted-merge verify), so the approximation contract
    * matches [[containmentCappedAt]]: capping can only remove CANDIDATE
    * pairs (a pair is missed only if every shingle in its prefix
    * intersection is over-df); every surfaced pair is verified against
    * the full shingle sets, so the capped result is a SUBSET of the
    * exact result with EXACT scores (asserted in DedupSpec — on the
    * driver testdata max df is single-digit, so a sane cap is inert).
    *
    * Size the cap RELATIVE to the corpus (e.g. max(64, N/100)): an
    * absolute cap loses pairs once duplication inflates dfs past it
    * (measured: 8× replicated corpus × cap 64 → ~95% of true pairs,
    * graft.ScaleProbe — under the old occurrence-counting plan the same
    * cap returned 0, because capped shingles undercounted survivors'
    * Jaccard below τ; the exact verify cannot).
    */
  def ngramJaccardCappedAt(spark: SparkSession, dir: String, tau: Double,
      maxDf: Int, budget: Option[PairBudget] = Some(PairBudget())): DataFrame =
    ngramPairsFromShingles(docShingleHashes(Catalog(spark, dir)), tau, maxDf,
      budget = budget)
      .orderBy("id1", "id2")

  /** The cap sized RELATIVE to the corpus, as the scaladoc above
    * mandates: maxDf = max(64, N/100), i.e. the cap grows linearly with
    * the corpus so duplication-driven df inflation cannot silently empty
    * the result the way a fixed cap does (graft.ScaleProbe: at 8× the
    * fixed-64 cap returns 0 pairs because every near-dup family's
    * shingles exceed it; the relative cap keeps them). One
    * metadata-cheap count() buys the bound.
    */
  def ngramJaccardAutoCapped(spark: SparkSession, dir: String, tau: Double): DataFrame = {
    val n = Catalog(spark, dir).ref("documents").count()
    ngramJaccardCappedAt(spark, dir, tau, math.max(64L, n / 100L).toInt)
  }

  // ---- shuffle-byte-aware cap derivation --------------------------------------

  /** Telemetry of the last [[dfCapForBytes]] derivation:
    * (operator, derived cap, estimated candidate bytes under the cap,
    * budget bytes) — what ScaleProbe prints next to the bytecap lines.
    */
  @volatile private[graft] var lastByteCap: Option[(String, Int, Long, Long)] = None

  /** Derive the df cap FROM a shuffle-byte budget instead of a
    * corpus-size heuristic: the candidate volume of an inverted-index
    * pair join is Σ_buckets C(df, 2) rows of ~`bytesPerPair` serialized
    * bytes (pair keys through the distinct + the verify-join key
    * traffic), so given the posting-list df histogram — one
    * metadata-cheap aggregate over 8-byte shingle hashes — the largest
    * cap whose cumulative pair bytes fit the budget is an exact greedy:
    * accumulate ascending df (pair cost is monotone in df) and stop at
    * the first df stratum that no longer fits. Unlike the
    * corpus-relative max(64, N/100) cap — which GROWS with a
    * duplication-inflated corpus and lets the candidate shuffle grow
    * super-linearly until [[PairBudget]] kills the job — a byte budget
    * holds the shuffle roughly FLAT under duplication: inflated dfs
    * cross the budget earlier and the cap bends down instead of up.
    *
    * `floor` is the usability minimum: a budget too small for even the
    * floor still runs AT the floor (capping is lossy-but-exact by the
    * subset contract, and [[PairBudget]] remains the hard guard), it
    * just reports estimated bytes over budget in [[lastByteCap]].
    */
  private[ops] def dfCapForBytes(op: String, postings: DataFrame,
      budgetBytes: Long, bytesPerPair: Long = 48L, floor: Int = 64): Int = {
    val hist = postings.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .groupBy(col("df")).agg(count(lit(1)).as("nsh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // double accumulation: df ~ 10⁹ would overflow a long at C(df,2)
    var cum = 0.0
    var cap = floor.toLong
    var i = 0
    var fits = true
    while (i < hist.length && fits) {
      val (df, nsh) = hist(i)
      val add = nsh.toDouble * (df.toDouble * (df - 1).toDouble / 2.0) * bytesPerPair
      if (cum + add <= budgetBytes.toDouble) {
        cum += add
        if (df > cap) cap = df
      } else fits = false
      i += 1
    }
    val derived = math.min(cap, Int.MaxValue.toLong).toInt
    // Telemetry reports the estimated bytes at the cap the job ACTUALLY
    // runs with: when even the first stratum blows the budget the greedy
    // accumulated 0, but the job still runs at the floor — recompute the
    // estimate over all strata with df <= derived so over-budget floors
    // report their true (over-budget) cost.
    val estAtCap = hist.iterator.takeWhile(_._1 <= derived).map {
      case (df, nsh) =>
        nsh.toDouble * (df.toDouble * (df - 1).toDouble / 2.0) * bytesPerPair
    }.sum
    lastByteCap = Some((op, derived,
      math.min(estAtCap, Long.MaxValue.toDouble).toLong, budgetBytes))
    derived
  }

  /** [[ngramJaccardCappedAt]] with the cap derived from a shuffle-byte
    * budget ([[dfCapForBytes]]): the SUPER-LINEAR candidate growth the
    * 8× probes flag bends at the budget instead of only failing loudly
    * at the [[PairBudget]] cap. Same subset-with-exact-scores contract
    * as every capped variant; the shingle scan is shared between the
    * histogram and the pair pipeline through one lazy checkpoint.
    */
  def ngramJaccardByteBudgeted(spark: SparkSession, dir: String, tau: Double,
      shuffleBudgetBytes: Long = 64L << 20): DataFrame = {
    val shingled = docShingleHashes(Catalog(spark, dir)).localCheckpoint(eager = false)
    val posts = shingled.select(explode_outer(col("shs")).as("sh"))
      .filter(col("sh").isNotNull)
    val cap = dfCapForBytes("ngramJaccard(byte-budget)", posts, shuffleBudgetBytes)
    ngramPairsFromShingles(shingled, tau, cap, budget = Some(PairBudget()))
      .orderBy("id1", "id2")
  }

  /** [[containmentCappedAt]] under a shuffle-byte budget — the same
    * derivation over the containment corpus's posting histogram, reusing
    * the checkpointed sorted-sets relation for both the histogram and
    * the prefix-probe pipeline.
    */
  def containmentByteBudgeted(spark: SparkSession, dir: String, tau: Double,
      shuffleBudgetBytes: Long = 64L << 20): DataFrame = {
    val sets = sortedSetsOf(docShingleHashesOn(containmentCorpus(Catalog(spark, dir))))
    val posts = sets.select(explode_outer(col("shs")).as("sh"))
      .filter(col("sh").isNotNull)
    val cap = dfCapForBytes("containment(byte-budget)", posts, shuffleBudgetBytes)
    containmentPairsOnSets(sets, tau, cap, budget = Some(PairBudget()))
  }

  // ---- MinHash + LSH ------------------------------------------------------------
  /** MinHash signatures (k=64 arithmetic permutations over the md5 base
    * hash, ArrayExprs.MinHashSigMd5) banded into 16 bands of 4 — the
    * sub-quadratic near-dup path. Candidate pairs = docs agreeing on a
    * full band slice; each candidate verified with the
    * signature-agreement Jaccard estimate. The hash is engine-portable
    * (DuckDB md5_number_lower + HUGEINT modular arithmetic), so the
    * driver gets a full hash-match oracle; agreement with the exact
    * ngramJaccard result is additionally asserted in DedupSpec.
    *
    * Scale shape: signatures are per-row scan work (no shuffle); band
    * rows shuffle (doc_id, band, 4-long slice) = 48 bytes/row — at
    * 100 TB you would key the shuffle on an 8-byte hash of the slice and
    * keep slice equality as the residual check; the only joins carrying
    * the 512-byte signatures are the two candidate-side lookups,
    * proportional to the candidate count, not the corpus. (Measured r9:
    * a posting-list groupBy keyed on xxhash64(band, slice) with
    * in-bucket pair expansion was NOT faster than this self-join at 8×
    * or sf0.1 — AQE broadcasts/handles the collision join well at
    * tested scales, and the higher-order-function expansion costs more
    * CPU than it saves in shuffle bytes. The hash-keyed variant stays
    * the documented fallback for when slice shuffle bytes dominate.)
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshAt(spark, dir, numHashes = 64, bands = 16, tau = 0.5)

  def minhashLshAt(spark: SparkSession, dir: String, numHashes: Int,
      bands: Int, tau: Double,
      budget: Option[PairBudget] = Some(PairBudget())): DataFrame =
    minhashLshOn(Catalog(spark, dir).ref("documents"), numHashes, bands, tau, budget)

  private def minhashLshOn(docs: DataFrame, numHashes: Int,
      bands: Int, tau: Double,
      budget: Option[PairBudget] = Some(PairBudget())): DataFrame = {
    val rowsPerBand = numHashes / bands
    // Per-row signature via the native MinHashSigMd5 expression: one
    // pass over the corpus, zero shuffle. At 100 TB a production
    // pipeline would persist this table (N × ~520 B) — localCheckpoint
    // stands in for that materialization here.
    // The shingle-less guard filters on size(toks) BEFORE the signature
    // projection: filtering on sig.isNotNull afterwards gets pushed
    // through the projection and re-evaluates the whole md5+permutation
    // pass per row (observed in the executed plan). sig is null exactly
    // when the doc has fewer than 3 tokens, so the cheap predicate is
    // equivalent.
    val sig = docs
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        ArrayExprs.minHashSigMd5(col("toks"), 3, numHashes).as("sig"))
      .localCheckpoint()
    // Band rows: each contiguous signature slice → (doc_id, band, slice)
    // relation for the collision join (exact slice equality).
    val banded = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bslice")
    // Candidate-budget guard BEFORE the collision join: per-(band,
    // slice) bucket sizes are one partial-aggregated count over the
    // checkpointed signatures (banded is a narrow projection of sig),
    // and Σ C(bucket, 2) is exactly the join's output volume — the
    // quadratic a duplication-heavy corpus explodes.
    budget.foreach { bud =>
      enforceBudgetOn("minhashLsh",
        banded.groupBy(col("band"), col("bslice")).agg(count(lit(1)).as("c"))
          .filter(col("c") > 1), "c", bud)
    }
    val a = banded.as("a")
    val b = banded.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bslice") === col("b.bslice") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .dropDuplicates("id1", "id2")
    val s1 = sig.select(col("doc_id").as("id1"), col("sig").as("sig1"))
    val s2 = sig.select(col("doc_id").as("id2"), col("sig").as("sig2"))
    candidates.join(s1, "id1").join(s2, "id2")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y), v => v))
          .cast("double") / numHashes.toDouble)
      .filter(col("est_jaccard") >= tau)
      .select(col("id1"), col("id2"), col("est_jaccard"))
      .orderBy("id1", "id2")
  }

  /** Oracle twin of minhashLsh: identical signatures from
    * md5_number_lower + HUGEINT modular arithmetic, band keys as
    * ordered value strings, candidate pairs by band-key equality.
    */
  private def minhashLshSqlFrom(src: String): String = {
    val p = "2305843009213693951" // 2^61 - 1, the MinHashSigMd5 modulus
    s"""WITH src AS ($src),
       |tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
       |  FROM src),
       |sh AS (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
       |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
       |  FROM tok),
       |hs AS (
       |  SELECT doc_id, md5_number_lower(shingle) % $p AS h
       |  FROM sh WHERE shingle IS NOT NULL),
       |params AS (
       |  SELECT i, md5_number_lower(concat('a', i)) % (CAST($p AS UBIGINT) - 1) + 1 AS a,
       |         md5_number_lower(concat('b', i)) % $p AS b
       |  FROM range(64) t(i)),
       |sig AS (
       |  SELECT doc_id, i,
       |         CAST(min((CAST(a AS HUGEINT) * h + b) % $p) AS BIGINT) AS v
       |  FROM hs CROSS JOIN params GROUP BY doc_id, i),
       |bandkey AS (
       |  SELECT doc_id, i // 4 AS band, string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS bkey
       |  FROM sig GROUP BY doc_id, i // 4),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
       |  FROM bandkey x JOIN bandkey y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       |agree AS (
       |  SELECT c.id1, c.id2, sum(CASE WHEN s1.v = s2.v THEN 1 ELSE 0 END) AS n_agree
       |  FROM cand c
       |  JOIN sig s1 ON s1.doc_id = c.id1
       |  JOIN sig s2 ON s2.doc_id = c.id2 AND s2.i = s1.i
       |  GROUP BY c.id1, c.id2)
       |SELECT id1, id2, CAST(n_agree AS DOUBLE) / 64 AS est_jaccard
       |FROM agree
       |WHERE CAST(n_agree AS DOUBLE) / 64 >= 0.5
       |ORDER BY id1, id2""".stripMargin
  }

  val minhashLshSql: String =
    minhashLshSqlFrom("SELECT doc_id, text FROM documents")

  /** MinHash+LSH over the adversarial corpus: identical-text runs give
    * identical signatures (every band collides — the bucket-join's own
    * mass-duplication stress), while empty/whitespace/NBSP docs must be
    * excluded by the <3-token guard, not crash signature generation.
    */
  def minhashLshAdversarial(spark: SparkSession, dir: String): DataFrame =
    minhashLshOn(adversarialDocs(Catalog(spark, dir)), numHashes = 64, bands = 16, tau = 0.5)

  val minhashLshAdversarialSql: String = minhashLshSqlFrom(adversarialDocsSql)

  // ---- SimHash ---------------------------------------------------------------------
  /** 64-bit SimHash: per-token md5-derived hash (engine-portable, see
    * ArrayExprs.SimHash64Md5), each bit votes ±1, fingerprint = sign
    * vector. Hamming-0 duplicate groups returned; hamming ≤ k at scale =
    * repeat grouping over rotated band halves.
    *
    * Computed per-row over the token array (no explode, no 64-column
    * aggregate): the fingerprint is pure scan work and the only shuffle
    * is the final group-by-fingerprint. The DuckDB twin rebuilds the
    * same fingerprints relationally (tokens × 64 bits → vote sums).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val fp = c.ref("documents")
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), ArrayExprs.simHash64Md5(col("toks")).as("simhash"))
    // doc_ids serialized to a CSV string: the driver's compare sorts
    // result columns in pandas, which cannot hash/sort array cells.
    fp.groupBy("simhash")
      .agg(min("doc_id").as("representative_id"), count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_list("doc_id"))).as("doc_ids"))
      .filter(col("n_docs") > 1)
      .orderBy("representative_id")
  }

  /** Oracle twin of simhash: per-token md5_number_lower, ±1 votes per
    * bit over tokens × range(64), bit weights summed in UBIGINT, then
    * two's-complement conversion to match Spark's signed long.
    */
  val simhashSql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      |  FROM documents),
      |t AS (SELECT doc_id, unnest(ts) AS tok FROM tok),
      |th AS (SELECT doc_id, md5_number_lower(tok) AS h FROM t),
      |votes AS (
      |  SELECT doc_id, r.b AS bit,
      |         sum(CASE WHEN ((h >> r.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN range(64) r(b)
      |  GROUP BY doc_id, r.b),
      |fp AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << bit ELSE 0 END) AS fpu
      |  FROM votes GROUP BY doc_id),
      |grp AS (
      |  SELECT doc_id,
      |         CAST(fpu - CASE WHEN fpu >= 9223372036854775808 THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS simhash
      |  FROM fp)
      |SELECT simhash, min(doc_id) AS representative_id, count(*) AS n_docs,
      |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
      |FROM grp GROUP BY simhash
      |HAVING count(*) > 1
      |ORDER BY representative_id""".stripMargin

  // ---- duplicate-cluster resolution (connected components) -------------------
  /** Near-dup pairs → duplicate clusters → keep/drop decision: the final
    * stage of a dedup pipeline. Connected components by iterative
    * min-label propagation over the pair graph, converging in
    * O(cluster diameter) rounds (near-dup clusters are shallow).
    *
    * Each round is one join + min-aggregate — all key-partitioned
    * shuffles; `localCheckpoint` truncates the lineage per round (the
    * standard Spark iterative-algorithm pattern, same role as GraphX's
    * internal checkpointing). Output: every clustered doc with its
    * cluster representative (min doc_id) and the keep/drop verdict.
    */
  def duplicateClusters(spark: SparkSession, dir: String): DataFrame =
    duplicateClustersAt(spark, dir, 0.5)

  /** Hybrid execution: the candidate-pair graph is tiny relative to the
    * corpus (dup-rate bounded), so when it fits the driver
    * (`driverThreshold` edges) a local union-find resolves components in
    * microseconds — the iterative join plan would spend seconds of pure
    * job-scheduling overhead on a 10^2-edge graph. Past the threshold
    * the distributed min-label propagation takes over (same result;
    * DedupSpec asserts path equality). The threshold bounds the only
    * data-sized driver collect in the engine: 2^20 edges × 16 bytes
    * ≈ 16 MB worst case before the probe bails to the distributed path.
    */
  def duplicateClustersAt(spark: SparkSession, dir: String, tau: Double,
      driverThreshold: Long = 1L << 20): DataFrame = {
    // ngramPairsAt, not ngramJaccardAt: the edge set needs no
    // presentation sort.
    clustersOf(spark, ngramPairsAt(spark, dir, tau), driverThreshold)
      .withColumn("keep", col("doc_id") === col("cluster_rep"))
      .orderBy("doc_id")
  }

  /** Component resolution over an arbitrary candidate-pair relation
    * `(id1, id2, ...)` → `(doc_id, cluster_rep)` — shared by
    * [[duplicateClustersAt]] and the composed curation pipeline. The
    * checkpoint materializes the pair plan once; the size probe collects
    * AT MOST threshold+1 rows (CollectLimit — one bounded job instead of
    * a count job followed by a collect).
    */
  private[ops] def clustersOf(spark: SparkSession, pairs: DataFrame,
      driverThreshold: Long): DataFrame = {
    val edges = pairs.select(col("id1"), col("id2")).localCheckpoint()
    val probe = edges.limit(driverThreshold.toInt + 1).collect()
    if (probe.length <= driverThreshold) clustersDriver(spark, probe)
    else clustersDistributed(edges)
  }

  /** Driver-side union-find over a collected edge list. */
  private def clustersDriver(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row]): org.apache.spark.sql.DataFrame = {
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    import spark.implicits._
    // one slice: the cluster map is driver-sized; 32 near-empty tasks
    // would just add scheduling overhead to the output stage
    spark.createDataset(
      spark.sparkContext.parallelize(
        parent.keys.toSeq.map(id => (id, find(id))), numSlices = 1))
      .toDF("doc_id", "cluster_rep")
  }

  /** Distributed min-label propagation (the 100 TB path). Labels only
    * ever decrease, so the label sum is a strictly-monotone convergence
    * witness — one cheap aggregate per round. localCheckpoint per round
    * bounds the lineage.
    */
  /** Rounds the last [[clustersDistributed]] run took to converge —
    * probe instrumentation only (ScaleProbe records it in SCALE.md).
    */
  @volatile private[graft] var lastClusterRounds: Int = 0

  private[graft] def clustersDistributed(
      edges: org.apache.spark.sql.DataFrame,
      saltWhenSkewed: Boolean = true): org.apache.spark.sql.DataFrame = {
    val sym = edges.unionByName(
      edges.select(col("id2").as("id1"), col("id1").as("id2")))
      .localCheckpoint(eager = false)
    // Hot-label isolation: a mega-family hub (one doc near-dup to
    // everything — boilerplate, empty pages) gives `sym` a power-law
    // degree on id1, and the per-round propagation join would land the
    // hub's whole edge list on ONE reducer, every round, where AQE
    // cannot see it (checkpointed intermediate inside a loop). The hot
    // keys are detected ONCE on the static edge relation
    // (graft.sources.Skew.hotKeys — a deterministic sampled load
    // estimate, bounded ≤ parallelism/factor keys by construction);
    // each round then BROADCASTS the ≤ 64 hot keys' (id, label) rows
    // against their edges map-side — the hub's edges never shuffle at
    // all — and only the balanced remainder takes the shuffle join.
    // (Whole-relation salting was measured 2.3× SLOWER here: its 16×
    // replication of the corpus-sized label side dwarfs the hot-reducer
    // saving; isolation replicates K rows instead.) The min-label
    // aggregate needs no such help: partial aggregation combines the
    // hub's proposals map-side.
    val hotIds =
      if (saltWhenSkewed) graft.sources.Skew.hotKeys(sym, "id1") else Seq.empty
    // Plain filters over the checkpointed sym — NOT re-checkpointed:
    // materializing both splits would double the edge relation's
    // storage and add two full passes for what each round can re-derive
    // with a predicate over the shallow checkpoint scan.
    val (hotEdges, coldEdges) =
      if (hotIds.isEmpty) (null, sym)
      else (sym.filter(col("id1").isin(hotIds: _*)),
        sym.filter(!col("id1").isin(hotIds: _*)))
    var labels = sym.select(col("id1").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    def labelSum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum("label")).head().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged) {
      val coldProp = labels.join(coldEdges, labels("id") === coldEdges("id1"))
        .select(col("id2").as("id"), col("label"))
      val prop =
        if (hotIds.isEmpty) coldProp
        else coldProp.unionByName(
          hotEdges.join(broadcast(labels.filter(col("id").isin(hotIds: _*))),
            col("id") === col("id1"))
            .select(col("id2").as("id"), col("label")))
      val next = labels.select(col("id"), col("label")).unionByName(prop)
        .groupBy("id").agg(min("label").as("label"))
        .localCheckpoint()
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels = next
      rounds += 1
    }
    lastClusterRounds = rounds
    labels.select(col("id").as("doc_id"), col("label").as("cluster_rep"))
  }

  /** The J ≥ 0.5 connected-component CTE chain (shingles → edges →
    * min-label walk) — ONE definition shared by the clusters oracle and
    * the leak-free-split oracle, so the two rows can never disagree on
    * what a cluster is.
    */
  private[ops] val clusterWalkCtesSql: String =
    """tok AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts FROM documents),
      |ds AS (
      |  SELECT DISTINCT doc_id, shingle
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
      |          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle FROM tok)),
      |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM ds GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
      |  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |edges AS (
      |  SELECT id1, id2 FROM inter
      |  JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
      |  WHERE CAST(n_inter AS DOUBLE) / CAST(s1.n_shingles + s2.n_shingles - n_inter AS DOUBLE) >= 0.5),
      |sym AS (SELECT id1, id2 FROM edges UNION ALL SELECT id2, id1 FROM edges),
      |nodes AS (SELECT DISTINCT id1 AS id FROM sym),
      |walk(id, label) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT s.id2, w.label FROM walk w JOIN sym s ON w.id = s.id1)""".stripMargin

  val duplicateClustersSql: String =
    s"""WITH RECURSIVE $clusterWalkCtesSql
      |SELECT id AS doc_id, min(label) AS cluster_rep, (id = min(label)) AS keep
      |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin

  // ---- source-priority dedup --------------------------------------------------
  /** The production "which copy do we keep" rule: when a fingerprint
    * appears in several sources, the winner is the doc from the
    * HIGHEST-priority source (curated > crawled), doc_id breaking ties —
    * not blind min-doc_id. Priority here is derived arithmetically from
    * the source name (`int(suffix) % 3`) so the oracle can recompute it;
    * a deployment swaps in its source-ranking dim table broadcast onto
    * the same join. Runs over the adversarial corpus (80% duplication,
    * families straddling sources) so priority genuinely overrides id
    * order under the oracle.
    *
    * Scale shape: one fingerprint scan + ONE map-side-combinable
    * `min_by` aggregate keyed by the 16-byte digest — identical cost to
    * [[exact]]; the (pri, doc_id) struct rides as the ordering key, so
    * no window, no second shuffle.
    */
  def sourcePriorityDedup(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val src = c.ref("documents").select(col("doc_id"), col("source"))
    adversarialDocs(c).join(src, Seq("doc_id"))
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ", toks(col("text")))).as("fp"),
        (expr("cast(substring(source, 4) as int)") % 3).as("pri"))
      .groupBy(col("fp"))
      .agg(min_by(struct(col("doc_id"), col("source")),
          struct(col("pri"), col("doc_id"))).as("w"),
        count(lit(1)).as("n_dups"))
      .select(col("fp"), col("w.doc_id").as("winner_id"),
        col("w.source").as("winner_source"), col("n_dups"))
      .orderBy("fp")
  }

  val sourcePriorityDedupSql: String =
    s"""WITH adv AS ($adversarialDocsSql),
      |f AS (
      |  SELECT a.doc_id, d.source,
      |         md5(array_to_string(regexp_split_to_array(trim(lower(a.text)), '\\s+'), ' ')) AS fp,
      |         CAST(substr(d.source, 4) AS INT) % 3 AS pri
      |  FROM adv a JOIN documents d ON d.doc_id = a.doc_id),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY pri, doc_id) AS rk,
      |         count(*) OVER (PARTITION BY fp) AS n_dups
      |  FROM f)
      |SELECT fp, doc_id AS winner_id, source AS winner_source, n_dups
      |FROM r WHERE rk = 1 ORDER BY fp""".stripMargin

  // ---- leak-free train/val/test split ---------------------------------------
  /** Split assignment that cannot leak near-duplicates across splits:
    * the unit of assignment is the DUPLICATE CLUSTER (J ≥ 0.5 connected
    * component, [[duplicateClusters]]), not the document — every member
    * of a cluster draws the same salted-md5 hash of its cluster
    * representative, so an eval doc can never have a train-side
    * near-twin. Docs outside any cluster are their own representative.
    * The per-doc hash draw is the same engine-portable md5-mod used by
    * the plain [[graft.ops.TextAnalysis.splitAssign]]; this operator is
    * the upgrade a decontaminated pipeline actually ships.
    *
    * Scale: clusters cost is [[duplicateClusters]]'s (candidate graph +
    * min-label rounds); the assignment itself is a broadcast-or-shuffle
    * join of (doc_id → rep) — 16 bytes/row — plus a scan-side hash.
    */
  def leakFreeSplit(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    leakFreeSplitFrom(c.ref("documents").select(col("doc_id")),
      duplicateClusters(spark, dir).select(col("doc_id"), col("cluster_rep")))
      .orderBy("doc_id")
  }

  /** The assignment step over caller-supplied `(doc_id)` ids and
    * `(doc_id, cluster_rep)` cluster labels — shared with
    * [[graft.ops.Curation]] so the composed pipeline draws the identical
    * per-cluster hash without its own corpus scan.
    */
  /** THE split draw — one definition of the 'lfsplit' hash and the
    * 8/1/1 bucket boundaries, shared by [[leakFreeSplitFrom]] and the
    * composed curation pipeline's inlined membership filter so the two
    * can never desynchronize.
    */
  private[ops] def splitDraw(clusterRep: Column): Column =
    graft.functions.ArrayExprs.md5Mod(
      concat_ws(":", lit("lfsplit"), clusterRep.cast("string")), 10L)
  private[ops] val TrainBuckets = 8

  private[ops] def leakFreeSplitFrom(docIds: DataFrame, reps: DataFrame): DataFrame = {
    val h = splitDraw(col("cluster_rep"))
    docIds
      .join(reps, Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("split",
        when(h < TrainBuckets, "train").when(h === TrainBuckets, "val").otherwise("test"))
      .select(col("doc_id"), col("cluster_rep"), col("split"))
  }

  val leakFreeSplitSql: String =
    s"""WITH RECURSIVE $clusterWalkCtesSql,
      |reps AS (SELECT id AS doc_id, min(label) AS cluster_rep FROM walk GROUP BY id),
      |assigned AS (
      |  SELECT d.doc_id, COALESCE(r.cluster_rep, d.doc_id) AS cluster_rep
      |  FROM documents d LEFT JOIN reps r ON d.doc_id = r.doc_id)
      |SELECT doc_id, cluster_rep,
      |       CASE WHEN md5_number_lower('lfsplit:' || CAST(cluster_rep AS VARCHAR)) % 10 < 8 THEN 'train'
      |            WHEN md5_number_lower('lfsplit:' || CAST(cluster_rep AS VARCHAR)) % 10 = 8 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM assigned ORDER BY doc_id""".stripMargin

  // ---- cross-source similarity via mergeable sketches -----------------------
  /** Estimated Jaccard similarity between every pair of `source` corpora
    * — per-source MinHash sketches via the mergeable MinHashMerge
    * aggregate (element-wise min = sketch of the shingle-set union), then
    * a pairwise sketch comparison. The shingle sets themselves are never
    * shuffled: each source reduces to k longs regardless of corpus size,
    * so the pairwise stage is |sources|² over 512-byte sketches.
    * Signatures use the engine-portable md5 permutations
    * (MinHashSigMd5), so the merged sketch equals DuckDB's relational
    * min over all (source, shingle) rows → full hash-match oracle;
    * sketch-vs-exact agreement is additionally asserted in DedupSpec.
    */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame =
    sourceSimilarityAt(spark, dir, numHashes = 64)

  def sourceSimilarityAt(spark: SparkSession, dir: String, numHashes: Int): DataFrame = {
    val c = Catalog(spark, dir)
    // size(toks) >= 3 before the projection, NOT sig.isNotNull after it:
    // the latter is pushed through the projection and doubles the
    // signature computation (see minhashLshAt).
    val sketches = c.ref("documents")
      .select(col("source"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"),
        ArrayExprs.minHashSigMd5(col("toks"), 3, numHashes).as("sig"))
      .groupBy(col("source"))
      .agg(graft.functions.MinHashMerge.minHashMerge(col("sig"), numHashes).as("sketch"))
    val a = sketches.as("a")
    val b = sketches.as("b")
    a.join(b, col("a.source") < col("b.source"))
      .select(col("a.source").as("source1"), col("b.source").as("source2"),
        (size(filter(zip_with(col("a.sketch"), col("b.sketch"), (x, y) => x === y),
          v => v)).cast("double") / numHashes.toDouble).as("est_jaccard"))
      .orderBy("source1", "source2")
  }

  /** Oracle twin of sourceSimilarity: per-source signature = relational
    * min of the permuted md5 hashes over every shingle in the source
    * (merging per-doc sketches by elementwise min equals minimizing over
    * the union of the docs' shingle sets), then pairwise agreement.
    */
  val sourceSimilaritySql: String = {
    val p = "2305843009213693951"
    s"""WITH tok AS (
       |  SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
       |  FROM documents),
       |sh AS (
       |  SELECT source, unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
       |           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
       |  FROM tok),
       |hs AS (
       |  SELECT source, md5_number_lower(shingle) % $p AS h
       |  FROM sh WHERE shingle IS NOT NULL),
       |params AS (
       |  SELECT i, md5_number_lower(concat('a', i)) % (CAST($p AS UBIGINT) - 1) + 1 AS a,
       |         md5_number_lower(concat('b', i)) % $p AS b
       |  FROM range(64) t(i)),
       |sig AS (
       |  SELECT source, i,
       |         CAST(min((CAST(a AS HUGEINT) * h + b) % $p) AS BIGINT) AS v
       |  FROM hs CROSS JOIN params GROUP BY source, i)
       |SELECT x.source AS source1, y.source AS source2,
       |       CAST(sum(CASE WHEN x.v = y.v THEN 1 ELSE 0 END) AS DOUBLE) / 64 AS est_jaccard
       |FROM sig x JOIN sig y ON x.i = y.i AND x.source < y.source
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  // ---- train/eval contamination screen ---------------------------------------
  /** Benchmark-contamination screening — the standard pre-training check
    * that held-out eval data has not leaked into the training corpus: for
    * every document of `evalSource`, the fraction of its distinct 3-word
    * shingles that appear anywhere in the other sources.
    *
    * Scale shape: the training side collapses to a DISTINCT shingle-hash
    * set (8 bytes/shingle, one shuffle, map-side combined); the eval side
    * — typically orders of magnitude smaller — left-joins it on the hash
    * and reduces per doc. Counting on hashes equals counting on strings
    * modulo the 2^-45 collision odds documented above, so the DuckDB twin
    * (string shingles) hash-matches.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame =
    contaminationAt(spark, dir, "src0")

  def contaminationAt(spark: SparkSession, dir: String, evalSource: String): DataFrame = {
    val c = Catalog(spark, dir)
    val exploded = c.ref("documents")
      .select(col("doc_id"), col("source"), toks(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        explode(ArrayExprs.shingleHashes(col("toks"), 3)).as("sh"))
    val trainSh = exploded.filter(col("source") =!= evalSource)
      .select(col("sh")).distinct()
      .withColumn("__hit", lit(1))
    exploded.filter(col("source") === evalSource)
      .join(trainSh, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_contaminated")) // count of non-null = hits
      .withColumn("contamination",
        col("n_contaminated").cast("double") / col("n_shingles").cast("double"))
      .orderBy("doc_id")
  }

  val contaminationSql: String =
    """WITH tok AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
      |  FROM documents),
      |ds AS (
      |  SELECT DISTINCT doc_id, source, shingle
      |  FROM (SELECT doc_id, source,
      |               unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
      |                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
      |        FROM tok)),
      |train AS (SELECT DISTINCT shingle FROM ds WHERE source <> 'src0')
      |SELECT e.doc_id,
      |       count(*) AS n_shingles,
      |       count(t.shingle) AS n_contaminated,
      |       CAST(count(t.shingle) AS DOUBLE) / count(*) AS contamination
      |FROM ds e LEFT JOIN train t ON e.shingle = t.shingle
      |WHERE e.source = 'src0'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- paragraph-level exact dedup ------------------------------------------
  /** Sub-document exact dedup (the CCNet/Dolma paragraph pass): split
    * every document into fixed windows of `chunkWords` consecutive
    * words, keep only the globally-first occurrence of each distinct
    * chunk (ordered by doc_id, then position), and reassemble what
    * survives. Boilerplate repeated across documents — headers, navs,
    * license blocks — vanishes from every copy but the first, without
    * dropping whole documents.
    *
    * Plan — hash-only, the pair-not-payload trick from the n-gram
    * posting-list join applied to sub-document dedup:
    *
    *  1. Per-partition scan chunks each doc (split materialized through
    *     a projection boundary — no CSE inside expression trees) and
    *     emits only `(doc_id, chunk_idx, unhex(md5(chunk)))` — the
    *     16-byte digest stands in for the chunk; the text itself never
    *     enters this dataflow.
    *  2. `row_number() over (partition by digest order by doc_id, idx)`
    *     decides survivors. The window shuffle moves 16-byte keys, not
    *     chunk strings — and the shuffle key is a uniform digest, so
    *     corpus-wide boilerplate (the very thing this pass removes)
    *     cannot hotspot a reducer the way `partition by chunk` did.
    *  3. Keep-decisions collapse to one row per doc
    *     `(doc_id, kept_idx: array<int>, n_kept, n_dropped)` — pure
    *     metadata, a few bytes per chunk.
    *  4. The keep-set joins back to `documents` on unique `doc_id` and
    *     each doc re-chunks locally, rebuilding text_clean from its
    *     kept indices. Text crosses the wire at most once here, keyed
    *     by doc_id (never as a shuffle key); with doc_id-bucketed
    *     storage at 100 TB this join is shuffle-free on the text side.
    *
    * md5 collisions merging two distinct chunks need ~2^64 distinct
    * chunks (birthday bound) — out of reach of any corpus.
    */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame =
    paragraphDedupAt(spark, dir, 10)

  def paragraphDedupAt(spark: SparkSession, dir: String, chunkWords: Int): DataFrame = {
    val c = Catalog(spark, dir)
    paragraphDedupOnW(
      c.ref("documents").select(col("doc_id"), split(col("text"), " ").as("w")),
      chunkWords)
      .orderBy("doc_id")
  }

  /** The dedup over a PRE-SPLIT relation `(doc_id, w)` where
    * `w = split(text, ' ')` — the entry point [[graft.ops.Curation]]
    * feeds from its shared one-pass tokenization so the composed
    * pipeline never re-splits the corpus.
    */
  private[ops] def paragraphDedupOnW(docsW: DataFrame, chunkWords: Int): DataFrame =
    paragraphRebuildOnW(docsW, paragraphKeepSetOnW(docsW, chunkWords), chunkWords)

  private def paragraphChunkOf(chunkWords: Int)(i: String): String =
    s"array_join(slice(w, $i * $chunkWords + 1, $chunkWords), ' ')"

  /** Steps 1–3: corpus-wide first-occurrence keep decisions — one
    * METADATA row per doc `(doc_id, kept_idx, n_kept, n_dropped)`.
    * Split from the rebuild so a consumer that only ships a SUBSET of
    * docs ([[graft.ops.Curation]]'s sampled output) can still decide
    * keeps over the whole corpus but rebuild text for the subset alone.
    */
  private[ops] def paragraphKeepSetOnW(docsW: DataFrame, chunkWords: Int): DataFrame = {
    require(chunkWords > 0)
    // size(w) >= 1 even for empty text (split("") = [""]), so the
    // sequence upper bound never drops below 0 (Spark's sequence(a,b)
    // with b < a counts DOWN — it must never see that shape).
    val chunkOf = paragraphChunkOf(chunkWords) _
    val nChunks = s"cast(ceil(size(w) / $chunkWords.0) as int)"
    // 1+2: digests only — 16 bytes per chunk cross the shuffle.
    val hashed = docsW
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, $nChunks - 1), i -> unhex(md5(${chunkOf("i")})))")))
      .toDF("doc_id", "chunk_idx", "digest")
    val firstSeen = Window.partitionBy(col("digest"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    // 3: one metadata row per doc.
    hashed
      .withColumn("keep", row_number().over(firstSeen) === 1)
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(when(col("keep"), col("chunk_idx")))).as("kept_idx"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
  }

  /** Step 4: text moves once, keyed by unique doc_id; re-chunk locally.
    * `docsW` may be a subset of the relation the keep set was computed
    * over — only its docs are rebuilt (inner join).
    */
  private[ops] def paragraphRebuildOnW(docsW: DataFrame, keepSet: DataFrame,
      chunkWords: Int): DataFrame = {
    val chunkOf = paragraphChunkOf(chunkWords) _
    docsW.join(keepSet, Seq("doc_id"))
      .select(col("doc_id"),
        array_join(expr(s"transform(kept_idx, i -> ${chunkOf("i")})"), " ").as("text_clean"),
        col("n_kept"), col("n_dropped"))
  }

  val paragraphDedupSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |r AS (SELECT doc_id, w,
      |             unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS i
      |      FROM d),
      |ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
      |              array_to_string(w[CAST(i*10+1 AS INT):CAST(i*10+10 AS INT)], ' ') AS chunk
      |       FROM r),
      |k AS (SELECT doc_id, chunk_idx, chunk,
      |             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) = 1 AS keep
      |      FROM ch)
      |SELECT doc_id,
      |       COALESCE(array_to_string(list(chunk ORDER BY chunk_idx) FILTER (WHERE keep), ' '), '') AS text_clean,
      |       CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
      |       CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- exact substring dedup (Lee et al. 2022) -------------------------------
  /** Exact ≥k-token substring duplication — the public standard for
    * training-data dedup (Lee et al. 2022, arXiv:2107.06499,
    * "Deduplicating Training Data Makes Language Models Better"): any
    * k-token span that appears verbatim anywhere earlier in the corpus
    * (earlier = smaller (doc_id, position)) is a duplicate, REGARDLESS
    * OF ALIGNMENT. Lee et al. build a suffix array; the Spark-native
    * equivalent is sliding k-shingles — a repeated span of length
    * L ≥ k is exactly a maximal run of repeated k-shingles, so marking
    * every position whose window digest has an earlier occurrence and
    * merging overlapping/adjacent windows reconstructs the same maximal
    * duplicate spans without any suffix sorting. Fixed 10-word CHUNKS
    * ([[paragraphDedupAt]]) miss any duplicate shifted off the chunk
    * grid; the sliding window catches every offset
    * (SubstringDedupSpec's offset-by-5 fixture pins the difference).
    *
    * Output: one row per maximal duplicate span,
    * (doc_id, span_start, span_end, span_len) in token positions
    * (0-based, inclusive).
    *
    * Scale shape — the same discipline as [[paragraphDedupAt]]:
    *  1. Window digests only — 16 bytes/position cross the one
    *     corpus-sized shuffle keyed by digest (near-unique, no skew).
    *  2. First-occurrence ranking is the bounded per-digest window.
    *  3. Span merging is per-doc work on integer positions (lag +
    *     running flag), partitioned by doc_id — group size bounded by
    *     a document's length, never the corpus.
    */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedupAt(spark, dir, 10).orderBy("doc_id", "span_start")

  def substringDedupAt(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val c = Catalog(spark, dir)
    substringSpansOnW(
      c.ref("documents").select(col("doc_id"), split(col("text"), " ").as("w")), k)
  }

  private[ops] def substringSpansOnW(docsW: DataFrame, k: Int): DataFrame = {
    require(k > 0)
    // when-guard: sequence(0, n) counts DOWN for n < 0 (the paragraph
    // trap); docs shorter than k tokens contribute no windows.
    val shingles = docsW
      .select(col("doc_id"), posexplode(when(size(col("w")) >= k,
        expr(s"transform(sequence(0, size(w) - $k), " +
          s"p -> unhex(md5(array_join(slice(w, p + 1, $k), ' '))))"))
        .otherwise(array().cast("array<binary>"))))
      .toDF("doc_id", "pos", "dig")
    val firstSeen = Window.partitionBy(col("dig")).orderBy(col("doc_id"), col("pos"))
    val dup = shingles
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands over the covered windows: window at pos covers
    // [pos, pos+k-1]; a new span starts when the previous window cannot
    // reach the current one (pos > prev + k ⇒ an uncovered token gap).
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup
      .withColumn("new_run",
        when(col("pos") > lag(col("pos"), 1).over(byDoc) + k, 1).otherwise(0))
      .withColumn("run_id", sum(col("new_run")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k - 1).cast("long").as("span_end"))
      .withColumn("span_len", col("span_end") - col("span_start") + 1)
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_len"))
  }

  val substringDedupSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sw AS (SELECT doc_id, CAST(p AS INT) AS pos,
      |              md5(array_to_string(w[CAST(p+1 AS INT):CAST(p+10 AS INT)], ' ')) AS dig
      |       FROM d, unnest(range(0, greatest(len(w) - 9, 0))) AS t(p)),
      |rk AS (SELECT doc_id, pos,
      |              row_number() OVER (PARTITION BY dig ORDER BY doc_id, pos) AS rn
      |       FROM sw),
      |dup AS (SELECT doc_id, pos FROM rk WHERE rn > 1),
      |m AS (SELECT doc_id, pos,
      |             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
      |                  THEN 1 ELSE 0 END AS new_run
      |      FROM dup),
      |g AS (SELECT doc_id, pos,
      |             sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |      FROM m)
      |SELECT doc_id,
      |       CAST(min(pos) AS BIGINT) AS span_start,
      |       CAST(max(pos) + 9 AS BIGINT) AS span_end,
      |       CAST(max(pos) + 9 - min(pos) + 1 AS BIGINT) AS span_len
      |FROM g GROUP BY doc_id, run_id
      |ORDER BY doc_id, span_start""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring" -> (substringDedup _),
    "dedup_paragraph" -> (paragraphDedup _),
    "dedup_clusters" -> (duplicateClusters _),
    "dedup_split_leakfree" -> (leakFreeSplit _),
    "dedup_source_priority" -> (sourcePriorityDedup _),
    "dedup_source_sim" -> (sourceSimilarity _),
    "dedup_exact" -> (exact _),
    "dedup_exact_adversarial" -> (exactAdversarial _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_containment" -> (containment90 _),
    "dedup_incremental" -> (incrementalDedup _),
    "dedup_ngram_adversarial" -> (ngramJaccardAdversarial _),
    "dedup_minhash_lsh" -> (minhashLsh _),
    "dedup_minhash_adversarial" -> (minhashLshAdversarial _),
    "dedup_simhash" -> (simhash _),
    "text_contamination" -> (contamination _))

  val oracles: Map[String, String] = Map(
    "dedup_paragraph" -> paragraphDedupSql,
    "dedup_exact" -> exactSql,
    "dedup_exact_adversarial" -> exactAdversarialSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_containment" -> containmentSql,
    "dedup_incremental" -> incrementalDedupSql,
    "dedup_ngram_adversarial" -> ngramJaccardAdversarialSql,
    "dedup_clusters" -> duplicateClustersSql,
    "dedup_split_leakfree" -> leakFreeSplitSql,
    "dedup_source_priority" -> sourcePriorityDedupSql,
    "dedup_minhash_lsh" -> minhashLshSql,
    "dedup_minhash_adversarial" -> minhashLshAdversarialSql,
    "dedup_simhash" -> simhashSql,
    "dedup_source_sim" -> sourceSimilaritySql,
    "text_contamination" -> contaminationSql,
    "dedup_substring" -> substringDedupSql)
}
