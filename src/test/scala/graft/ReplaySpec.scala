package graft

import graft.util.{Blocks, Fs}

/** A row whose query reaches a durable memo — `IndexMaint.sweepOnce`,
  * `IndexMaint.drainOnce`, or a `*Cached` index build or sweep — pays
  * its mutations on the first call and serves every later call from
  * the memo or the durable state the first call left. Both calls must
  * serve the same page. Each row runs twice in one session against a
  * private copy of the sf0.001 data: every memo and session directory
  * is keyed by the data directory, so the first call is the row's cold
  * first call in the JVM whatever suites ran before this one.
  */
class ReplaySpec extends SparkTestBase {

  /** The registered rows whose query reaches sweepOnce, drainOnce or a
    * `*Cached(` memo, directly or through the helpers it calls.
    */
  private val memoRows = Seq(
    "search_bm25_asof",
    "search_bm25_deleted",
    "search_bm25_exported",
    "search_bm25_filtered",
    "search_bm25_merged",
    "search_bm25_persisted",
    "search_bm25_pruned",
    "search_bm25_retention",
    "search_bm25_upserted",
    "search_cover",
    "search_cover_ranked",
    "search_hybrid_asof",
    "search_hybrid_cdc",
    "search_hybrid_exported",
    "search_hybrid_rrf",
    "search_hybrid_rrf_deleted",
    "search_phrase",
    "search_phrase_ranked",
    "search_proximity",
    "sim_ivf_asof",
    "sim_ivf_compacted",
    "sim_ivf_deleted",
    "sim_ivf_filtered_persisted",
    "sim_ivf_incremental",
    "sim_ivf_retention",
    "sim_ivf_upserted",
    "sim_ivfpq_asof",
    "sim_ivfpq_filtered",
    "sim_ivfpq_rerank",
    "sim_ivfpq_residual_incremental",
    "sim_pq_asof",
    "sim_pq_incremental",
    "sim_semantic_dedup_incremental",
    "stream_bm25_cdc",
    "stream_ivf_cdc",
    "stream_ivf_screen",
    "stream_ivfpq_screen",
    "stream_pq_screen")

  private lazy val dir = {
    val d = tmpDir("replay-sf")
    Fs.copyRecursively(sf, d)
    d
  }

  /** One call's page as a sorted multiset of rendered rows (row order
    * is not part of a page, as in the oracle compare).
    */
  private def page(name: String): Seq[String] = {
    val rows = SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq
    Blocks.releaseAll(spark)
    rows.sorted
  }

  test("every memoized row is registered") {
    assert(memoRows.toSet.diff(SparkEntry.queries.keySet) === Set.empty[String])
  }

  memoRows.foreach { name =>
    test(s"$name: the second call in a session serves the first call's page") {
      val t0 = System.nanoTime()
      val first = page(name)
      val t1 = System.nanoTime()
      val second = page(name)
      info(f"$name: first call ${(t1 - t0) / 1e9}%.2f s, second ${(System.nanoTime() - t1) / 1e9}%.2f s")
      assert(first === second, s"$name: the two pages differ " +
        s"(only first: ${first.diff(second).take(3)}; only second: ${second.diff(first).take(3)})")
    }
  }
}
