package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class LexIndexSpec extends SparkTestBase {
  import spark.implicits._

  test("persisted BM25 reproduces the in-memory ranking exactly") {
    val got = LexIndex.bm25Persisted(spark, sf).collect().map(_.toString).sorted
    val want = Search.textBm25(spark, sf).collect().map(_.toString).sorted
    assert(got.nonEmpty)
    assert(got.toSeq === want.toSeq,
      "postings-on-disk scoring must be bit-identical to the corpus-scan path")
  }

  test("query-time reads are O(query terms): only the terms' tb buckets are planned, with the term filter pushed") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def expand(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => pl +: expand(a.executedPlan)
      case q: QueryStageExec => pl +: expand(q.plan)
      case _ => pl +: pl.children.flatMap(expand)
    }
    val docs = (0 until 2000).map(i =>
      (i.toLong, s"alpha bravo tok$i charlie ${if (i % 3 == 0) "delta" else "echo"}"))
      .toDF("doc_id", "text")
    val path = tmpDir("lex_prune") + "/index"
    LexIndex.buildIndex(docs, path)
    val qs = Seq("qa" -> "delta", "qa" -> "alpha")
    val res = LexIndex.bm25TopK(spark, path, qs, 5)
    assert(res.count() === 5)
    val buckets = LexIndex.bucketsOf(spark, Seq("delta", "alpha"))
    // with a vocabulary >> 64 buckets, every bucket holds postings: the
    // full index spans all 64 partitions, the query plans <= |terms|.
    // The postings fetch is the query's ONLY corpus-touching read
    // (bm25TopK pins it with a localCheckpoint), so its executed scan
    // carries the whole O(query-terms) claim.
    val all = LexIndex.indexData(spark, path)
    assert(all.select("tb").distinct().count() === 64L, "fixture must fill all buckets")
    val totalFiles = all.inputFiles.length
    val pruned = all.filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin("delta", "alpha"))
    assert(pruned.count() > 0)
    val scans = expand(pruned.queryExecution.executedPlan).collect {
      case sc: FileSourceScanExec
          if sc.relation.location.rootPaths.exists(_.toString.contains("lex_prune")) => sc
    }
    assert(scans.nonEmpty, "postings scan missing from plan")
    assert(scans.head.partitionFilters.exists(_.toString.contains("tb")),
      "tb buckets must prune as partition filters")
    assert(scans.head.metadata.get("PushedFilters").exists(_.contains("term")),
      s"term equality must push to the scan: ${scans.head.metadata.get("PushedFilters")}")
    assert(scans.head.metrics("numPartitions").value <= buckets.size.toLong,
      "partitions read must be bounded by the query's bucket count")
    assert(scans.head.metrics("numFiles").value < totalFiles.toLong / 8L,
      s"bucket pruning must skip most postings files: ${scans.head.metrics("numFiles").value}/$totalFiles")
  }

  test("idempotent append: postings and corpus stats land atomically; df/n_docs/sum_dl stay exact; replay no-ops") {
    val d1 = (0 until 100).map(i => (i.toLong, s"alpha common$i beta")).toDF("doc_id", "text")
    val d2 = (100 until 150).map(i => (i.toLong, s"alpha gamma$i")).toDF("doc_id", "text")
    val path = tmpDir("lex_append") + "/index"
    LexIndex.buildIndex(d1, path)
    val s1 = LexIndex.readStats(path)
    assert(s1 === LexIndex.LexStats(100L, 300L))
    assert(LexIndex.appendBatchIdempotent(path, d2, "batch:1"))
    val s2 = LexIndex.readStats(path)
    assert(s2 === LexIndex.LexStats(150L, 400L),
      "per-segment stats sidecars must sum to the union corpus")
    // replay no-ops — neither postings nor stats double-count
    assert(!LexIndex.appendBatchIdempotent(path, d2, "batch:1"))
    assert(LexIndex.readStats(path) === s2)
    // the appended docs are queryable and df reflects the union: 'alpha'
    // appears in all 150 docs, so its rational idf is minimal but its
    // postings span both segments
    val res = LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 150)
    assert(res.count() === 150L, "query must see base and appended postings")
    // the in-memory scorer over the union corpus agrees exactly
    val want = Search.topK(
      {
        val docs = d1.unionByName(d2)
        val tok = docs.select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("t"))
        val tf = tok.select(col("doc_id"), size(col("t")).cast("long").as("dl"),
          explode(col("t")).as("term"))
          .filter(col("term") === "alpha")
          .groupBy(col("doc_id"), col("term"), col("dl"))
          .agg(count(lit(1)).as("tf"))
        tf.join(broadcast(tf.groupBy(col("term")).agg(count(lit(1)).as("df"))), Seq("term"))
          .join(broadcast(Seq(("q", "alpha")).toDF("query_id", "term")), Seq("term"))
          .withColumn("n_docs", lit(150L)).withColumn("sum_dl", lit(400L))
      }, Search.rationalIdf, 150).collect().map(_.toString).sorted
    assert(res.collect().map(_.toString).sorted.toSeq === want.toSeq)
  }

  // the append test's in-memory BM25 over an explicit corpus: one term,
  // explicit corpus constants — the exact scorer every takedown state
  // below must match
  private def inMemoryBm25(docs: org.apache.spark.sql.DataFrame, term: String,
      nDocs: Long, sumDl: Long, k: Int): Seq[String] =
    Search.topK(
      {
        val tok = docs.select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("t"))
        val tf = tok.select(col("doc_id"), size(col("t")).cast("long").as("dl"),
          explode(col("t")).as("term"))
          .filter(col("term") === term)
          .groupBy(col("doc_id"), col("term"), col("dl"))
          .agg(count(lit(1)).as("tf"))
        tf.join(broadcast(tf.groupBy(col("term")).agg(count(lit(1)).as("df"))), Seq("term"))
          .join(broadcast(Seq(("q", term)).toDF("query_id", "term")), Seq("term"))
          .withColumn("n_docs", lit(nDocs)).withColumn("sum_dl", lit(sumDl))
      }, Search.rationalIdf, k).collect().map(_.toString).sorted.toSeq

  test("takedown: deletes reach rankings, df and stats; re-delete adjusts nothing; a later append re-inserts; replay cannot resurrect") {
    val d1 = (0 until 100).map(i => (i.toLong, s"alpha filler$i beta")).toDF("doc_id", "text")
    val path = tmpDir("lex_delete") + "/index"
    LexIndex.buildIndex(d1, path)
    assert(LexIndex.deleteIds(path, (0L until 50L)) === 50)
    // stats track survivors immediately (50 docs x dl 3)
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(50L, 150L))
    // raw segment sidecars are untouched — the adjustment is a sidecar,
    // not a rewrite
    assert(LexIndex.readStats(path) === LexIndex.LexStats(100L, 300L))
    val got = LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 100)
    assert(got.count() === 50L, "tombstoned docs must leave the ranking")
    assert(got.filter(col("doc_id") < 50).count() === 0L)
    // and the scores equal the in-memory scorer over SURVIVORS — i.e.
    // df shrank to the surviving posting length, n_docs/avgdl adjusted
    assert(got.collect().map(_.toString).sorted.toSeq ===
      inMemoryBm25(d1.filter(col("doc_id") >= 50), "alpha", 50L, 150L, 100))
    // idempotent: re-deleting the same ids must not double-subtract
    assert(LexIndex.deleteIds(path, (0L until 50L)) === 50)
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(50L, 150L))
    // later insert wins: doc 7 comes back as a NEW segment with new text
    val readd = Seq((7L, "alpha resurrected")).toDF("doc_id", "text")
    assert(LexIndex.appendBatchIdempotent(path, readd, "readd:7"))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(51L, 152L))
    val after = LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 100)
    assert(after.count() === 51L)
    assert(after.filter(col("doc_id") === 7L).count() === 1L,
      "a post-delete append must re-insert exactly once")
    // a REPLAY of that append cannot resurrect anything further
    assert(!LexIndex.appendBatchIdempotent(path, readd, "readd:7"))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(51L, 152L))
    // deleting doc 7 again covers the NEW segment too
    assert(LexIndex.deleteIds(path, Seq(7L)) === 50)
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(50L, 150L))
    assert(LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 100)
      .filter(col("doc_id") === 7L).count() === 0L)
  }

  test("takedown stats adjustment is derivable: a crash between the tombstone write and the stats write is healed by the retry") {
    val d1 = (0 until 100).map(i => (i.toLong, s"alpha filler$i beta")).toDF("doc_id", "text")
    val path = tmpDir("lex_heal") + "/index"
    LexIndex.buildIndex(d1, path)
    LexIndex.deleteIds(path, (0L until 30L))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(70L, 210L))
    // simulate the torn crash state: tombstones durable, the stats
    // adjustment lost (the crash window the delta-based accounting
    // could never heal — its retry delta was empty)
    val gen = graft.util.IndexMaint.liveGen(path)
    java.nio.file.Files.delete(java.nio.file.Paths.get(gen, "_lex_removed.txt"))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(100L, 300L),
      "torn state: scoring constants overcount until a retry heals them")
    // the at-least-once retry of the SAME delete recomputes the
    // adjustment from the full tombstone set — fully healed, not
    // delta-skipped
    LexIndex.deleteIds(path, (0L until 30L))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(70L, 210L),
      "the retry must rederive the adjustment from the full tombstone set")
    // and any LATER unrelated delete heals it too (derivable state)
    java.nio.file.Files.delete(java.nio.file.Paths.get(gen, "_lex_removed.txt"))
    LexIndex.deleteIds(path, Seq(99L))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(69L, 207L),
      "an unrelated later delete must still reproduce the full adjustment")
  }

  test("upsert: re-crawled docs replace their postings atomically; n_docs holds, sum_dl shifts; replay no-ops") {
    val d1 = (0 until 100).map(i => (i.toLong, s"alpha filler$i beta")).toDF("doc_id", "text")
    val path = tmpDir("lex_upsert") + "/index"
    LexIndex.buildIndex(d1, path)
    // re-crawl docs 5 and 6: new text drops 'alpha', shrinks dl 3 -> 2
    val recrawl = Seq((5L, "gamma delta"), (6L, "gamma epsilon")).toDF("doc_id", "text")
    assert(LexIndex.upsertBatchIdempotent(path, recrawl, "crawl:1"))
    // an update, not a shrink: n_docs unchanged, sum_dl tracks the edit
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(100L, 298L))
    val alpha = LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 200)
    assert(alpha.count() === 98L, "old postings of the re-crawled docs must be gone")
    assert(alpha.filter(col("doc_id").isin(5L, 6L)).count() === 0L)
    val gamma = LexIndex.bm25TopK(spark, path, Seq("q" -> "gamma"), 200)
    assert(gamma.count() === 2L, "the replacement postings must serve")
    // exact scores: the in-memory scorer over the EFFECTIVE corpus agrees
    val effective = d1.filter(!col("doc_id").isin(5L, 6L)).unionByName(recrawl)
    assert(alpha.collect().map(_.toString).sorted.toSeq ===
      inMemoryBm25(effective, "alpha", 100L, 298L, 200))
    assert(gamma.collect().map(_.toString).sorted.toSeq ===
      inMemoryBm25(effective, "gamma", 100L, 298L, 200))
    // a replayed upsert no-ops entirely — stats, postings, tombstones
    assert(!LexIndex.upsertBatchIdempotent(path, recrawl, "crawl:1"))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(100L, 298L))
    assert(LexIndex.bm25TopK(spark, path, Seq("q" -> "gamma"), 200).count() === 2L)
    // a SECOND re-crawl of doc 5 (new token) wins over the first
    assert(LexIndex.upsertBatchIdempotent(path,
      Seq((5L, "alpha restored zeta")).toDF("doc_id", "text"), "crawl:2"))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(100L, 299L))
    val alpha2 = LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 200)
    assert(alpha2.count() === 99L)
    assert(alpha2.filter(col("doc_id") === 5L).count() === 1L,
      "exactly one live copy after two upserts of the same doc")
    // compaction reclaims both hidden generations of doc 5's postings
    LexIndex.compactIndex(spark, path)
    assert(LexIndex.indexData(spark, path)
      .filter(col("doc_id") === 5L && col("term") === "gamma").count() === 0L)
    assert(LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 200)
      .collect().map(_.toString).sorted.toSeq ===
      alpha2.collect().map(_.toString).sorted.toSeq)
  }

  test("applyCdcDocs: unknown op fails before any mutation; a pure-delete batch is durable; a mixed batch lands postings, doc dir and stats atomically") {
    val d1 = (0 until 60).map(i => (i.toLong, s"alpha word$i")).toDF("doc_id", "text")
    val path = tmpDir("lex_cdc") + "/index"
    LexIndex.buildIndex(d1, path)
    // unknown verb: loud failure, nothing tombstoned, stats untouched
    val e = intercept[IllegalArgumentException] {
      LexIndex.applyCdcIdempotent(path,
        Seq((1L, "x", "merge")).toDF("doc_id", "text", "op"), "cdc:bad")
    }
    assert(e.getMessage.contains("merge"))
    assert(graft.util.IndexMaint.readTombstones(
      graft.util.IndexMaint.liveGen(path)).isEmpty)
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(60L, 120L))
    // pure-delete batch: stats adjust, token durable, replay no-ops
    val del = (0 until 5).map(i => (i.toLong, "", "delete")).toDF("doc_id", "text", "op")
    assert(LexIndex.applyCdcIdempotent(path, del, "cdc:d1"))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(55L, 110L))
    assert(!LexIndex.applyCdcIdempotent(path, del, "cdc:d1"))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(55L, 110L))
    // mixed batch: one insert (new id), one upsert (re-crawl doc 7)
    val mixed = Seq((900L, "alpha fresh gamma", "insert"),
      (7L, "gamma beta", "upsert")).toDF("doc_id", "text", "op")
    assert(LexIndex.applyCdcIdempotent(path, mixed, "cdc:m1"))
    // n_docs: -5 deletes +1 insert (the upsert holds); sum_dl tracks
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(56L, 113L))
    val alpha = LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 100)
    assert(alpha.filter(col("doc_id") === 7L).count() === 0L,
      "the upserted doc's old postings must be gone")
    assert(alpha.filter(col("doc_id") === 900L).count() === 1L)
    val gamma = LexIndex.bm25TopK(spark, path, Seq("q" -> "gamma"), 100)
    assert(gamma.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(7L, 900L))
    // an insert-contract violation (insert for the EXISTING doc 30, new
    // disjoint-vocab text) is refused loudly at compaction — the doc
    // now spans two segments, which only a tombstoned re-add may
    assert(LexIndex.applyCdcIdempotent(path,
      Seq((30L, "zeta eta theta", "insert")).toDF("doc_id", "text", "op"),
      "cdc:dup"))
    val dup = intercept[IllegalArgumentException] {
      LexIndex.compactIndex(spark, path)
    }
    assert(dup.getMessage.contains("upsert"))
  }

  test("deleteDocsWhere: the retention rewrite serves exactly the survivors' scores; stats recomputed; tombstones subsumed") {
    val d1 = (0 until 90).map(i => (i.toLong, s"alpha filler$i beta")).toDF("doc_id", "text")
    val path = tmpDir("lex_dw") + "/index"
    LexIndex.buildIndex(d1, path)
    // mix the two delete paths: a bounded takedown, then a retention
    // sweep whose rewrite subsumes the tombstones
    LexIndex.deleteIds(path, Seq(5L))
    LexIndex.deleteWhere(spark, path, col("doc_id") % 3 === 1)
    val gen = graft.util.IndexMaint.liveGen(path)
    assert(graft.util.IndexMaint.readTombstones(gen).isEmpty)
    assert(graft.util.IndexMaint.segmentValues(gen) === Seq("base"))
    // survivors: drop %3==1 (30 docs) and doc 5 -> 59 docs x dl 3
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(59L, 177L))
    assert(LexIndex.readStats(path) === LexIndex.LexStats(59L, 177L))
    val got = LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 200)
    assert(got.count() === 59L)
    assert(got.collect().map(_.toString).sorted.toSeq ===
      inMemoryBm25(d1.filter(col("doc_id") % 3 =!= 1 && col("doc_id") =!= 5L),
        "alpha", 59L, 177L, 200))
    val e = intercept[IllegalArgumentException] {
      LexIndex.deleteWhere(spark, path, col("doc_id") >= 0L)
    }
    assert(e.getMessage.contains("drop the index"))
  }

  test("within-batch duplicate doc_ids are refused at ingest on every mutation path — the only point the tf corruption is visible") {
    val path = tmpDir("lex_dup") + "/index"
    val dup = Seq((1L, "alpha beta"), (1L, "alpha gamma")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] { LexIndex.buildIndex(dup, path) }
    assert(e1.getMessage.contains("duplicate doc_id"))
    LexIndex.buildIndex(Seq((0L, "alpha")).toDF("doc_id", "text"), path)
    assert(intercept[IllegalArgumentException] {
      LexIndex.appendBatchIdempotent(path, dup, "b:1")
    }.getMessage.contains("duplicate doc_id"))
    assert(intercept[IllegalArgumentException] {
      LexIndex.upsertBatchIdempotent(path, dup, "b:2")
    }.getMessage.contains("duplicate doc_id"))
    assert(intercept[IllegalArgumentException] {
      LexIndex.applyCdcIdempotent(path, dup.withColumn("op", lit("insert")), "b:3")
    }.getMessage.contains("duplicate doc_id"))
    // none of the refused mutations recorded a token or landed postings
    val gen = graft.util.IndexMaint.liveGen(path)
    assert(graft.util.IndexMaint.appliedTokens(gen).isEmpty)
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(1L, 1L))
    // a CDC batch pairing a DELETE and an INSERT of the same id is
    // legitimate (segment-scoped: the delete covers old segments, the
    // insert postdates it) — distinctness binds only within the adds
    assert(LexIndex.applyCdcIdempotent(path,
      Seq((0L, "", "delete"), (0L, "alpha reborn", "insert"))
        .toDF("doc_id", "text", "op"), "b:4"))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(1L, 2L))
    assert(LexIndex.bm25TopK(spark, path, Seq("q" -> "reborn"), 10).count() === 1L)
  }

  test("compaction physically reclaims tombstoned postings: one segment, rankings identical, tombstones cleared, tokens carried") {
    val d1 = (0 until 80).map(i => (i.toLong, s"alpha word$i")).toDF("doc_id", "text")
    val d2 = (80 until 120).map(i => (i.toLong, s"alpha extra$i tail")).toDF("doc_id", "text")
    val path = tmpDir("lex_compact") + "/index"
    LexIndex.buildIndex(d1, path)
    assert(LexIndex.appendBatchIdempotent(path, d2, "batch:c1"))
    LexIndex.deleteIds(path, Seq(3L, 90L, 91L))
    val before = LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 200)
      .collect().map(_.toString).sorted.toSeq
    val statsBefore = LexIndex.liveStats(path)
    LexIndex.compactIndex(spark, path)
    val gen = graft.util.IndexMaint.liveGen(path)
    assert(graft.util.IndexMaint.segmentValues(gen) === Seq("base"),
      "compaction must re-land the index as one segment")
    assert(graft.util.IndexMaint.readTombstones(gen).isEmpty,
      "physical reclamation must clear the tombstones")
    // the takedown adjustment is gone too: raw sidecars now ARE the
    // survivors' stats
    assert(LexIndex.readStats(path) === statsBefore)
    assert(LexIndex.liveStats(path) === statsBefore)
    val after = LexIndex.bm25TopK(spark, path, Seq("q" -> "alpha"), 200)
      .collect().map(_.toString).sorted.toSeq
    assert(after === before, "compaction must not change any score or rank")
    assert(after.size === 117)
    // tombstoned postings are PHYSICALLY gone, not filtered at read
    assert(LexIndex.indexData(spark, path)
      .filter(col("doc_id").isin(3L, 90L, 91L)).count() === 0L)
    // applied tokens carried: the replayed batch still no-ops
    assert(!LexIndex.appendBatchIdempotent(path, d2, "batch:c1"))
    // and fresh appends land on the compacted generation
    assert(LexIndex.appendBatchIdempotent(path,
      Seq((200L, "alpha fresh")).toDF("doc_id", "text"), "batch:c2"))
    assert(LexIndex.liveStats(path) === LexIndex.LexStats(
      statsBefore.nDocs + 1, statsBefore.sumDl + 2))
  }

  test("hybrid RRF after a takedown: no stage of the composed query resurrects a deleted doc") {
    val page = LexIndex.hybridRrfDeleted(spark, sf).collect()
    assert(page.nonEmpty)
    assert(!page.exists(_.getLong(2) % 6 == 2),
      "a deleted doc must not appear in the fused page from either list")
    // and the takedown genuinely moved the result (rankings shifted vs
    // the undeleted hybrid page)
    val full = LexIndex.hybridRrf(spark, sf).collect()
    assert(page.map(_.toString).toSeq !== full.map(_.toString).toSeq)
    // bench REPLAY: a second invocation must serve the identical page.
    // The replay-resurrection bug: deleteWhere's generation commit
    // evicts the build memo, so a replay paired with a memoized sweep
    // would REBUILD the full corpus (deleted stratum included) while
    // skipping the re-delete — the memo must hold the post-rewrite
    // handle, never the (build, sweep) pair separately.
    val replay = LexIndex.hybridRrfDeleted(spark, sf).collect()
    assert(replay.map(_.toString).toSeq === page.map(_.toString).toSeq,
      "a replayed hybridRrfDeleted must not resurrect the takedown stratum")
    assert(!replay.exists(_.getLong(2) % 6 == 2))
  }

  test("hybrid RRF: lexical and PRF-semantic lists fuse; doc in both lists outranks single-list docs at equal ranks") {
    val out = LexIndex.hybridRrf(spark, sf).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getString(0))
    assert(byQ.keySet === Set("q1", "q2", "q3"))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length))
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      // RRF scores are bounded by the two lists' 1/(60+r) contributions
      assert(scores.head <= 1.0 / 61 + 1.0 / 61 + 1e-12)
      assert(scores.last > 0.0)
    }
    // a doc appearing in BOTH lists at rank r beats a doc in ONE list at
    // rank r — the defining fusion property: max single-list score
    // (1/61) < min two-list score (2/70) at the fused depths here
    val twoList = out.filter(_.getDouble(3) > 1.0 / 61)
    assert(twoList.nonEmpty, "the fixture must produce at least one doc in both lists")
  }

  test("phrase queries: adjacency excludes bag-of-words co-occurrence; occurrences count; positions honor tombstones and survive compaction") {
    val docs = Seq(
      (1L, "alpha beta gamma"),      // the phrase, once
      (2L, "alpha gamma beta"),      // both words, NOT adjacent — excluded
      (3L, "beta alpha"),            // reversed — excluded
      (4L, "alpha beta alpha beta"), // two occurrences
      (5L, "x alpha beta y")).toDF("doc_id", "text")
    val path = tmpDir("lex_phrase") + "/index"
    LexIndex.buildIndex(docs, path)
    val got = LexIndex.phraseTopK(spark, path, Seq("p" -> "alpha beta"), 10)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq((4L, 2L), (1L, 1L), (5L, 1L)),
      "a bag-of-words co-occurrence without adjacency must not match; " +
        "repeated phrases must count occurrences")
    // takedowns reach phrase reads through the same one shared read
    LexIndex.deleteIds(path, Seq(4L))
    assert(LexIndex.phraseTopK(spark, path, Seq("p" -> "alpha beta"), 10)
      .collect().map(_.getLong(2)).toSeq === Seq(1L, 5L))
    // the positional payload survives physical reclamation
    LexIndex.compactIndex(spark, path)
    assert(LexIndex.phraseTopK(spark, path, Seq("p" -> "alpha beta"), 10)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq ===
      Seq((1L, 1L), (5L, 1L)))
  }

  test("proximity queries: minimal span ranks; the window cut excludes far co-occurrence; direction doesn't matter") {
    val docs = Seq(
      (1L, "alpha x beta"),         // span 2
      (2L, "alpha beta"),           // span 1
      (3L, "beta y y alpha"),       // span 3, reversed order still counts
      (4L, "alpha y y y y y beta"), // span 6 — outside maxSpan=5
      (5L, "alpha z beta z alpha")  // positions {1,5} x {3}: minimal span 2
    ).toDF("doc_id", "text")
    val path = tmpDir("lex_prox") + "/index"
    LexIndex.buildIndex(docs, path)
    val got = LexIndex.proximityTopK(spark, path,
      Seq(("p", "alpha", "beta")), 10, maxSpan = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq((1L, 2L, 1L), (2L, 1L, 2L), (3L, 5L, 2L), (4L, 3L, 3L)),
      s"span ranking must be (minimal span, doc_id) with the window cut applied: $got")
  }

  test("cover queries: the smallest all-terms window ranks; mixed query lengths plan per length and union; window cut applies") {
    val docs = Seq(
      (1L, "alpha x beta y gamma"),     // cover {a,b,g} = 4
      (2L, "gamma beta alpha"),         // cover = 2 (order-free)
      (3L, "alpha beta z z z gamma"),   // cover = 5
      (4L, "alpha beta"),               // missing gamma — no 3-term match
      (5L, "alpha z z z z z z beta z gamma") // cover = 9 — outside maxSpan 6
    ).toDF("doc_id", "text")
    val path = tmpDir("lex_cover") + "/index"
    LexIndex.buildIndex(docs, path)
    val got = LexIndex.coverTopK(spark, path,
      Seq("t" -> "alpha beta gamma", "p" -> "alpha beta"), 10, maxSpan = 6)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val t = got.filter(_._1 == "t").map(r => (r._2, r._3, r._4))
    assert(t === Seq((1L, 2L, 2L), (2L, 1L, 4L), (3L, 3L, 5L)),
      s"3-term covers must rank by minimal all-terms window: $t")
    // the 2-term query rides the same call through the per-length union
    // and equals the pair-proximity semantics
    val p = got.filter(_._1 == "p").map(r => (r._3, r._4)).toMap
    assert(p(2L) === 1L && p(4L) === 1L && p(1L) === 2L, s"pair covers: $p")
  }

  test("hybrid serving plan: the semantic stage reads the persisted IVF index, never a nested-loop scan of the embedding corpus") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def expand(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => pl +: expand(a.executedPlan)
      case q: QueryStageExec => pl +: expand(q.plan)
      case _ => pl +: pl.children.flatMap(expand)
    }
    val out = LexIndex.hybridRrf(spark, sf)
    out.collect()
    val plans = expand(out.queryExecution.executedPlan)
    assert(!plans.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "the one O(corpus) serving-path plan this composition used to carry: " +
        "the semantic stage must screen through the IVF index, never " +
        "cross-join the corpus against the PRF centroids")
    val idxScans = plans.collect {
      case sc: FileSourceScanExec
          if sc.relation.location.rootPaths.exists(_.toString.contains("hybrid_ivf")) => sc
    }
    assert(idxScans.nonEmpty,
      "the fused page must serve its semantic ranks from the persisted vector index")
  }

  test("relevance-fused phrase: adjacency gates, BM25 ranks — spammy repeats lose to focused docs, bag-of-words is gated out") {
    val noise = (1 to 280).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"big data $noise"),                  // adjacent once, buried in noise
      (2L, "big data about big data"),           // adjacent twice, short and focused
      (3L, s"${Seq.fill(5)("big data").mkString(" ")} $noise"), // spammy repeats, long
      (4L, "big x data big x data big x data")   // co-occurrence, never adjacent
    ).toDF("doc_id", "text")
    val path = tmpDir("lex_ranked") + "/index"
    LexIndex.buildIndex(docs, path)
    val q = Seq(("r", "big data"))
    // occurrence-count ranking: the spammy doc wins
    val byCount = LexIndex.phraseTopK(spark, path, q, 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(byCount === Seq(3L, 2L, 1L), s"count ranking: $byCount")
    // fused ranking: tf saturation + length normalization demote the
    // spammy long doc below the focused one; the buried single match
    // scores lowest; the non-adjacent co-occurrence doc never appears
    val fused = LexIndex.phraseRankedTopK(spark, path, q, 10).collect()
    assert(fused.map(_.getLong(2)).toSeq === Seq(2L, 3L, 1L),
      s"fused ranking: ${fused.map(_.getLong(2)).toSeq}")
    assert(!fused.map(_.getLong(2)).contains(4L),
      "bag-of-words co-occurrence must be gated out by adjacency")
    val byDoc = fused.map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(byDoc === Map(2L -> 2L, 3L -> 5L, 1L -> 1L),
      s"n_matches must ride the fused page: $byDoc")
    val scores = fused.map(r => r.getLong(2) -> r.getDouble(4)).toMap
    assert(scores(2L) > scores(3L) && scores(3L) > scores(1L),
      s"the rank inversion must come from the BM25 scores: $scores")
    // ONE postings fetch: gate, scores and df all derive from the
    // checkpointed read — the executed plan must not scan the index
    // files a second time
    val page = LexIndex.phraseRankedTopK(spark, path, q, 10)
    page.collect()
    assert(!page.queryExecution.executedPlan.toString.contains("lex_ranked"),
      "the fused page must never re-scan the postings index")
  }

  test("proximity serves through the cover kernel: no position pair join, high-tf terms stay O(occurrences)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    // a stopword-ish term (tf=200) against a rare one (tf=1): the old
    // explode×explode pair join materialized tf_a × tf_b position pairs
    // per doc; the kernel folds the tf_a + tf_b sorted events once
    val the200 = Seq.fill(200)("the").mkString(" ")
    val docs = Seq(
      (1L, s"$the200 beta $the200"), // adjacent to the 200th "the" — span 1
      (2L, s"beta x x x the"),       // span 4
      (3L, s"beta x x x x x x the"), // span 7 — outside maxSpan 5
      (4L, the200)                   // no beta — no match
    ).toDF("doc_id", "text")
    val path = tmpDir("lex_prox_hightf") + "/index"
    LexIndex.buildIndex(docs, path)
    val got = LexIndex.proximityTopK(spark, path,
      Seq(("p", "the", "beta")), 10, maxSpan = 5)
    val rows = got.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows === Seq((1L, 1L, 1L), (2L, 2L, 4L)),
      s"minimal spans must rank with the window cut applied: $rows")
    // the same-term degenerate pair: every doc containing it, span 0
    val same = LexIndex.proximityTopK(spark, path,
      Seq(("s", "beta", "beta")), 10, maxSpan = 5)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(same === Seq((1L, 0L), (2L, 0L), (3L, 0L)),
      s"a term NEAR itself is the 1-slot cover (span 0): $same")
    // plan shape: the only join left is the broadcast of query terms —
    // the pair join's shuffled (query, doc)-keyed join is gone
    def expand(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => pl +: expand(a.executedPlan)
      case q: QueryStageExec => pl +: expand(q.plan)
      case _ => pl +: pl.children.flatMap(expand)
    }
    val plans = expand(got.queryExecution.executedPlan)
    assert(!plans.exists(p => p.isInstanceOf[SortMergeJoinExec] ||
      p.isInstanceOf[ShuffledHashJoinExec]),
      "NEAR must not shuffle-join position lists against each other")
    assert(got.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("mincoverspan"),
      "NEAR must fold positions through the two-pointer cover kernel")
  }

  test("relevance-fused cover: the gate admits tight windows, BM25 ranks them, span breaks ties") {
    val noise = (1 to 250).map(i => s"n$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $noise"),                      // span 1, buried — low score
      (2L, "alpha beta and alpha beta again alpha"),   // span 1, focused — high score
      (3L, s"alpha x x beta $noise"),                  // span 3, buried
      (4L, s"alpha $noise beta")                       // span 251 — gated out
    ).toDF("doc_id", "text")
    val path = tmpDir("lex_cover_ranked") + "/index"
    LexIndex.buildIndex(docs, path)
    val q = Seq(("cr", "alpha beta"))
    // span-only ranking: the buried adjacency ties the focused one and
    // wins on doc_id
    val bySpan = LexIndex.coverTopK(spark, path, q, 10, maxSpan = 6)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(bySpan === Seq(1L, 2L, 3L), s"span ranking: $bySpan")
    // fused: the focused doc outranks both buried ones; the far
    // co-occurrence never appears
    val fused = LexIndex.coverRankedTopK(spark, path, q, 10, maxSpan = 6).collect()
    assert(fused.map(_.getLong(2)).toSeq === Seq(2L, 1L, 3L),
      s"fused ranking: ${fused.map(_.getLong(2)).toSeq}")
    assert(!fused.map(_.getLong(2)).contains(4L),
      "a window wider than maxSpan must stay gated out regardless of score")
    val spans = fused.map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(spans === Map(2L -> 1L, 1L -> 1L, 3L -> 3L),
      s"spans must ride the fused page: $spans")
    val scores = fused.map(r => r.getLong(2) -> r.getDouble(4)).toMap
    assert(scores(2L) > scores(1L),
      s"the focused doc must win on relevance, not span: $scores")
  }

  test("cover queries: >64 distinct terms is refused naming the query, before the kernel") {
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val path = tmpDir("lex_cover_cap") + "/index"
    LexIndex.buildIndex(docs, path)
    val wide = (0 until 65).map(i => s"t$i").mkString(" ")
    val e = intercept[IllegalArgumentException] {
      LexIndex.coverTopK(spark, path, Seq(("q-wide", wide)), 10, maxSpan = 100)
    }
    assert(e.getMessage.contains("q-wide") && e.getMessage.contains("64"),
      s"the refusal must name the query and the limit: ${e.getMessage}")
    // 64 exactly still plans (the packing's last representable slot)
    val ok = (0 until 64).map(i => s"t$i").mkString(" ")
    LexIndex.coverTopK(spark, path, Seq(("q-64", ok)), 10, maxSpan = 100).collect()
  }

  test("MaxScore pruning: exact page, the planted stopword classified non-essential") {
    // every doc carries 'stop' (df = 400, vanishing idf); 'rare' hits 8
    // docs with spread tf so the seed-phase θ is a real score
    val docs = (0 until 400).map { i =>
      val rare = if (i % 50 == 0) ("rare " * (1 + i / 100)).trim + " " else ""
      (i.toLong, s"${rare}stop filler$i stop pad${i % 7}")
    }.toDF("doc_id", "text")
    val path = tmpDir("lex_maxscore") + "/index"
    LexIndex.buildIndex(docs, path)
    val qs = Seq("q" -> "rare", "q" -> "stop")
    // gateRatio = 0: this test pins the bound/role MECHANISM — at 400
    // docs the default gate's absolute NE-volume floor would
    // (correctly) rule pruning uneconomical and serve unpruned
    val (page, dec) = LexIndex.bm25PrunedCore(spark, path, qs, 3, gateRatio = 0.0)
    val want = LexIndex.bm25TopK(spark, path, qs, 3)
    assert(page.collect().map(_.toString).sorted.toSeq ===
      want.collect().map(_.toString).sorted.toSeq,
      "pruned serving must be bit-identical to the unpruned path")
    assert(dec.pruned, "the term dictionary must be present and engaged")
    assert(dec.roles("q")("stop") === "ne",
      s"a 400/400-df stopword must be non-essential: ${dec.roles}")
    assert(dec.roles("q")("rare") === "ess", "the seed term is essential")
    assert(dec.theta("q") > dec.ub("stop"),
      "θ from the seed-only pass must dominate the stopword's bound")
  }

  test("MaxScore bounds survive mutations: tombstones, upserts and appends keep pruned == unpruned") {
    val docs = (0 until 300).map { i =>
      (i.toLong, s"stop word${i % 11} ${if (i % 40 == 0) "needle" else s"hay$i"} stop")
    }.toDF("doc_id", "text")
    val path = tmpDir("lex_maxscore_mut") + "/index"
    LexIndex.buildIndex(docs, path)
    // takedown (tombstones make the sidecar df an over-count), an
    // upsert (old copy tombstoned, new segment re-counts), an append
    LexIndex.deleteIds(path, (0 until 300 by 9).map(_.toLong))
    assert(LexIndex.upsertBatchIdempotent(path,
      Seq((40L, "needle needle stop dense")).toDF("doc_id", "text"), "ms:ups"))
    assert(LexIndex.appendBatchIdempotent(path,
      (300 until 330).map(i => (i.toLong, s"stop extra$i")).toDF("doc_id", "text"),
      "ms:app"))
    val qs = Seq("qa" -> "needle", "qa" -> "stop", "qb" -> "word3", "qb" -> "stop")
    // force-engage: the claim under test is bound SOUNDNESS through
    // mutations, which only bites while pruning is actually on
    val (page, dec) = LexIndex.bm25PrunedCore(spark, path, qs, 4, gateRatio = 0.0)
    val want = LexIndex.bm25TopK(spark, path, qs, 4)
    assert(page.collect().map(_.toString).sorted.toSeq ===
      want.collect().map(_.toString).sorted.toSeq,
      "bounds must stay UPPER bounds through the whole mutation lifecycle")
    assert(dec.pruned)
    // compaction rewrites the dictionary from survivors; still exact
    LexIndex.compactIndex(spark, path)
    val (page2, dec2) = LexIndex.bm25PrunedCore(spark, path, qs, 4, gateRatio = 0.0)
    assert(page2.collect().map(_.toString).sorted.toSeq ===
      LexIndex.bm25TopK(spark, path, qs, 4).collect().map(_.toString).sorted.toSeq)
    assert(dec2.pruned)
  }

  test("MaxScore engage-gate: uniform df disengages (exact unpruned plan), a skewed histogram engages, gateRatio=0 forces") {
    // uniform: every term hits ~every doc — the θ pass can never pay
    val uni = (0 until 300).map(i => (i.toLong, s"alpha beta gamma pad${i % 7}"))
      .toDF("doc_id", "text")
    val up = tmpDir("lex_gate_uni") + "/index"
    LexIndex.buildIndex(uni, up)
    val uq = Seq("q" -> "alpha", "q" -> "beta", "q" -> "gamma")
    val (upage, udec) = LexIndex.bm25PrunedCore(spark, up, uq, 3)
    assert(udec.pruned, "dictionary present")
    assert(udec.engaged.isEmpty,
      s"uniform df must gate pruning out: ${udec.engaged}")
    assert(udec.roles("q").values.forall(_ == "ess"),
      "gated-out queries serve all-essential")
    assert(upage.collect().map(_.toString).sorted.toSeq ===
      LexIndex.bm25TopK(spark, up, uq, 3).collect().map(_.toString).sorted.toSeq)
    // the probe escape hatch: gateRatio = 0 force-engages
    val (_, fdec) = LexIndex.bm25PrunedCore(spark, up, uq, 3, gateRatio = 0.0)
    assert(fdec.engaged === Set("q"))
    // skewed: a rare seed against stopword-class terms passes the
    // RATIO term; the fixed-cost floor is dialed to the fixture's
    // volume (the default 2M-row floor is a production number — at 300
    // docs even a justified prune cannot recover a θ job)
    val zipf = (0 until 300).map { i =>
      val rare = if (i % 60 == 0) "needle " else ""
      (i.toLong, s"${rare}the of filler$i")
    }.toDF("doc_id", "text")
    val zp = tmpDir("lex_gate_zipf") + "/index"
    LexIndex.buildIndex(zipf, zp)
    val zq = Seq("z" -> "needle", "z" -> "the", "z" -> "of")
    val (zpage, zdec) = LexIndex.bm25PrunedCore(spark, zp, zq, 3,
      minNeVolume = 100L)
    assert(zdec.engaged === Set("z"),
      s"a skewed histogram must engage: ${zdec.engaged}")
    assert(zdec.roles("z")("the") === "ne" && zdec.roles("z")("of") === "ne",
      s"stopwords bound below the needle-seeded theta: ${zdec.roles}")
    assert(zpage.collect().map(_.toString).sorted.toSeq ===
      LexIndex.bm25TopK(spark, zp, zq, 3).collect().map(_.toString).sorted.toSeq)
    // same skew, default floor: the fixed θ-job cost rules it out —
    // tiny corpora must never pay for pruning, however skewed
    val (_, zdefault) = LexIndex.bm25PrunedCore(spark, zp, zq, 3)
    assert(zdefault.engaged.isEmpty,
      s"the absolute NE-volume floor must gate tiny corpora out: ${zdefault.engaged}")
    // and the candidate cap demotes a query whose essential volume
    // cannot broadcast, back to the exact unpruned plan
    val (cpage, cdec) = LexIndex.bm25PrunedCore(spark, zp, zq, 3,
      minNeVolume = 100L, candCap = 1L)
    assert(cdec.engaged.isEmpty,
      s"ess volume over candCap must demote: ${cdec.engaged}")
    assert(cpage.collect().map(_.toString).sorted.toSeq ===
      LexIndex.bm25TopK(spark, zp, zq, 3).collect().map(_.toString).sorted.toSeq)
  }

  test("MaxScore degrades loudly-safe: single-term queries all-essential; a missing dictionary disables pruning, never guesses") {
    val docs = (0 until 50).map(i => (i.toLong, s"solo tok$i")).toDF("doc_id", "text")
    val path = tmpDir("lex_maxscore_deg") + "/index"
    LexIndex.buildIndex(docs, path)
    val (p1, d1) = LexIndex.bm25PrunedCore(spark, path, Seq("q" -> "solo"), 5)
    assert(d1.roles("q")("solo") === "ess", "a single-term query has nothing to prune")
    assert(p1.collect().map(_.toString).sorted.toSeq ===
      LexIndex.bm25TopK(spark, path, Seq("q" -> "solo"), 5)
        .collect().map(_.toString).sorted.toSeq)
    // simulate a foreign index: remove the dictionary sidecar
    val gen = graft.util.IndexMaint.liveGen(path)
    graft.util.IndexMaint.segmentValues(gen).foreach { s =>
      graft.util.Fs.deleteRecursively(s"$gen/seg=$s/_term_meta")
    }
    val (p2, d2) = LexIndex.bm25PrunedCore(spark, path, Seq("q" -> "solo"), 5)
    assert(!d2.pruned, "no dictionary → no bound claims")
    assert(p2.collect().map(_.toString).sorted.toSeq ===
      LexIndex.bm25TopK(spark, path, Seq("q" -> "solo"), 5)
        .collect().map(_.toString).sorted.toSeq,
      "the degrade path is the exact unpruned plan")
  }

  test("pinned snapshot: as-of serving is bit-identical through appends, deletes, upserts and a compaction rewrite") {
    val docs = (0 until 200).map(i => (i.toLong, s"alpha w${i % 13} tail$i"))
      .toDF("doc_id", "text")
    val path = tmpDir("lex_pin") + "/index"
    LexIndex.buildIndex(docs, path)
    val qs = Seq("q" -> "alpha", "q" -> "w3")
    val atPin = LexIndex.bm25TopK(spark, path, qs, 5)
      .collect().map(_.toString).sorted.toSeq
    LexIndex.pinIndex(path, "pre")
    // every in-place mutation class, then the rewrite class
    assert(LexIndex.appendBatchIdempotent(path,
      (200 until 260).map(i => (i.toLong, s"alpha w3 boost$i")).toDF("doc_id", "text"),
      "pin:app"))
    LexIndex.deleteIds(path, Seq(3L, 16L, 29L))
    assert(LexIndex.upsertBatchIdempotent(path,
      Seq((42L, "alpha alpha w3 w3 rewritten")).toDF("doc_id", "text"), "pin:ups"))
    val live = LexIndex.bm25TopK(spark, path, qs, 5)
      .collect().map(_.toString).sorted.toSeq
    assert(live !== atPin, "the mutation wave must actually move the live page")
    assert(LexIndex.bm25TopKAsOf(spark, path, "pre", qs, 5)
      .collect().map(_.toString).sorted.toSeq === atPin,
      "the snapshot must filter later segments AND later tombstones out")
    LexIndex.compactIndex(spark, path)
    assert(LexIndex.bm25TopKAsOf(spark, path, "pre", qs, 5)
      .collect().map(_.toString).sorted.toSeq === atPin,
      "the pinned generation must survive the rewrite's reap")
    assert(LexIndex.bm25TopK(spark, path, qs, 5)
      .collect().map(_.toString).sorted.toSeq === live,
      "compaction must not move the live page")
    // fsck stays clean with a pinned ancestor; the pin is a note
    val (bad, notes) = graft.util.IndexMaint.fsckRoot(path)
    assert(bad.isEmpty, bad.mkString("; "))
    assert(notes.exists(_.contains("pinned")), notes.mkString("; "))
    // the RETENTION rewrite path (deleteWhere — a filtered survivor
    // rewrite, not a compaction) must respect the pin the same way
    LexIndex.deleteWhere(spark, path, col("doc_id") % 4 === 1)
    assert(LexIndex.bm25TopKAsOf(spark, path, "pre", qs, 5)
      .collect().map(_.toString).sorted.toSeq === atPin,
      "the pinned generation must survive the retention rewrite's reap")
    // unpin → the generation is reclaimable; the next rewrite reaps it
    // and a later as-of read fails LOUDLY, never serves a wrong page
    assert(graft.util.IndexMaint.unpin(path, "pre"))
    LexIndex.compactIndex(spark, path)
    LexIndex.compactIndex(spark, path)
    val e = intercept[IllegalArgumentException] {
      LexIndex.bm25TopKAsOf(spark, path, "pre", qs, 5)
    }
    assert(e.getMessage.contains("pre"))
  }

  test("filtered BM25: global constants, gated page — an allowed doc keeps its unfiltered score") {
    val docs = (0 until 200).map(i =>
      (i.toLong, s"alpha ${if (i % 3 == 0) "beta" else "gamma"} pad${i % 5}"))
      .toDF("doc_id", "text")
    val path = tmpDir("lex_filtered") + "/index"
    LexIndex.buildIndex(docs, path)
    val allowed = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"))
    val qs = Seq("q" -> "alpha", "q" -> "beta")
    val got = LexIndex.bm25FilteredTopK(spark, path, qs, 5, allowed)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the contract, derived independently: take the UNFILTERED scores,
    // drop disallowed docs, re-rank — scores must match bit-for-bit
    val full = LexIndex.bm25TopK(spark, path, qs, 200)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    val want = full.filter(_._2 % 2 == 0).groupBy(_._1).toSeq.flatMap {
      case (q, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex.map {
          case ((qq, d, s), i) => (qq, d, (i + 1).toLong, s) }
    }.sortBy(r => (r._1, r._3))
    assert(got.toSeq === want,
      "filter must gate the page without touching the statistics")
    assert(got.nonEmpty && got.forall(_._2 % 2 == 0))
    // same refusal as the pruned path: a duplicated (query_id, term)
    // pair would silently double-count that term's contribution
    val e = intercept[IllegalArgumentException] {
      LexIndex.bm25FilteredTopK(spark, path,
        Seq("q" -> "alpha", "q" -> "alpha"), 5, allowed)
    }
    assert(e.getMessage.contains("duplicate (query_id, term)"), e.getMessage)
  }

  test("bucketsOf: driver-side Catalyst eval equals the plan-evaluated hash") {
    // the serve path hashes terms on the driver through the same
    // XxHash64 expression the index writer plans — pin the equality on
    // ASCII, empty, accented, CJK, whitespace and long strings so the
    // driver-side eval can never drift from the executor's
    val terms = Seq("delta", "alpha", "", "na\u00efve", "\u6771\u4eac", "a b",
      "tok123", "x" * 500)
    val viaPlan = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(LexIndex.NBuckets.toLong)).as("b"))
      .collect().map(_.getLong(0)).toSeq
    val viaDriver = terms.map(t => LexIndex.bucketsOf(spark, Seq(t)).head)
    assert(viaDriver === viaPlan)
    // and the distinct fold matches the old DataFrame distinct semantics
    assert(LexIndex.bucketsOf(spark, terms ++ terms).sorted ===
      viaPlan.distinct.sorted)
  }
}
