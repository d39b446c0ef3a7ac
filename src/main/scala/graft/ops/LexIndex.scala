package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog

/** Persisted lexical (BM25) index — the postings-on-disk form of
  * [[Search.textBm25]], making retrieval O(query terms) instead of
  * O(corpus): the tokenize/tf/dl work happens ONCE at build time, lands
  * as a term-hash-bucketed parquet postings table behind the
  * [[graft.util.IndexMaint]] generation/lease protocol (the same
  * durable-commit story as the vector indexes), and a query reads only
  * the buckets its terms hash into — at 100 TB the postings scan is
  * partition pruning on `tb` plus a pushed `term` filter, proportional
  * to the queried terms' posting lists, never the corpus.
  *
  * Layout per generation:
  * {{{
  * gen-N/seg=base/tb=…/…parquet   (term, doc_id, tf, dl) postings
  * gen-N/seg=base/_lex_stats.txt  n_docs,sum_dl of the segment's docs
  * gen-N/seg=b<hash>/…            one committed append batch (+ stats)
  * }}}
  * Corpus constants (n_docs, Σdl) ride per-SEGMENT stats sidecars summed
  * at read, so an idempotent append updates them with the same atomic
  * segment rename that lands its postings — no second commit to tear.
  * Term df is NOT persisted: it is the posting-list length, recomputed
  * exactly from the fetched postings (bounded by the query's lists), so
  * appends never have to rewrite global df rows.
  *
  * Scoring is [[Search.topK]] verbatim (same rational idf, same sorted
  * fold), which is the whole claim of the registered
  * `search_bm25_persisted` row: persisted ≡ in-memory, proven by hash
  * equality against the SAME DuckDB twin as `text_bm25`.
  */
object LexIndex extends IndexFamily {

  // ---- IndexFamily hooks: the shared verb choreography parameterized
  // by the postings encode (tokenize → tb-bucketed postings + doc dir +
  // stats sidecar, all committing atomically with the segment) --------------
  // the handle is the index path: stats and postings are read per query
  type Handle = String
  override protected def pathOf(path: String): String = path
  override protected def indexAt(path: String, gen: String): String = path
  override protected def idCol: String = "doc_id"
  override protected def cdcContext(token: String): String = s"applyCdcDocs($token)"
  override protected def compactLabel(path: String): String = s"compactIndex($path)"
  override protected def rowNoun: String = "document"
  // the survivor write pays several actions (postings + doc dir + stats
  // + the (doc, seg)-level unique check) — pin once
  override protected def pinSurvivors: Boolean = true

  // the skeleton projects to these BEFORE pinning, so a wide producer
  // frame never materializes its extra columns into the checkpoint
  override protected def mutationColumns: Option[Seq[String]] =
    Some(Seq("doc_id", "text"))

  // the (doc, seg)-level check runs on the pre-stage relation — fail
  // fast, before the survivor rewrite is paid
  override protected def uniqueCheckReadsStage: Boolean = false

  override protected def validateAndPin(batch: org.apache.spark.sql.DataFrame,
      verb: String, token: String): org.apache.spark.sql.DataFrame = {
    val label = verb match {
      case "append" => s"appendDocs($token)"
      case "upsert" => s"upsertDocs($token)"
      case _ => s"applyCdcDocs($token)"
    }
    // append arrives raw — pin it (the validation aggregate and the
    // encode both act on it); upsert/CDC frames are already pinned by
    // the skeleton
    val p = if (verb == "append") batch.localCheckpoint() else batch
    requireDistinctDocs(p, label)
    p
  }

  // a takedown (deleteIds, or the tombstones of an upsert or CDC batch)
  // leaves the postings untouched and adjusts the serving constants from
  // the doc-dir sidecars — O(doc dirs of the affected segments)
  override protected def afterTombstones(spark: SparkSession, gen: String): Unit =
    refreshRemoved(spark, gen)

  // a merge physically reclaims the merged segments' tombstoned docs,
  // so the takedown adjustment must be recomputed over the staged
  // successor (its remaining pairs × the linked doc dirs) — the
  // verbatim-carried copy would keep subtracting docs that no longer
  // exist in any segment, double-counting them out of n_docs/Σdl
  override protected def afterMergeStage(spark: SparkSession, stage: String): Unit =
    refreshRemoved(spark, stage)

  override protected def encodeToStage(gen: String,
      batch: org.apache.spark.sql.DataFrame, stage: String): Unit = {
    postingsOf(batch)
      .repartition(col("tb"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").partitionBy("tb").parquet(stage)
    writeDocDir(batch, stage)
    writeStats(stage, statsOf(batch))
    writeTermMeta(batch.sparkSession, stage)
  }

  override protected def compactSurvivors(spark: SparkSession,
      path: String): DataFrame =
    indexData(spark, path)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("pos"),
        col("tb"), col("seg"))

  // the lexical form of the duplicate-id refusal (the vector families'
  // stage-count check): a SURVIVING doc legitimately lives in exactly
  // one segment — its old copies are tombstoned by upsert/delete — so a
  // doc spanning two segments means a producer re-added it without
  // tombstoning (same- or different-text, both caught; a (doc_id,
  // term)-level check would miss disjoint-vocab re-adds)
  override protected def requireUniqueSurvivors(spark: SparkSession,
      withSeg: DataFrame, segBase: String, path: String): Unit =
    graft.util.IndexMaint.requireUniqueIds(
      withSeg.select(col("doc_id"), col("seg")).distinct()
        .select(col("doc_id")),
      "doc_id", compactLabel(path))

  override protected def writeSurvivorStage(spark: SparkSession,
      survivors: DataFrame, segBase: String, gen: String): Unit = {
    survivors.repartition(col("tb"))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").partitionBy("tb").parquet(segBase)
    // every doc has >= 1 posting row (an empty text still tokenizes to
    // one empty-string term), so the doc dir is exactly the distinct
    // (doc_id, dl) of the surviving postings
    val dd = survivors.select(col("doc_id"), col("dl")).distinct()
      .localCheckpoint()
    dd.write.mode("overwrite").parquet(s"$segBase/$DocDirName")
    val st = dd.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("s")).head()
    writeStats(segBase, LexStats(st.getLong(0), st.getLong(1)))
    writeTermMeta(spark, segBase)
  }

  // corpus constants are per-segment sidecars (written with the
  // survivors above); there are no generation-level sidecars to carry
  override protected def writeGenSidecars(spark: SparkSession, stage: String,
      gen: String, hadDeletes: Boolean): Unit = ()

  /** The postings fsck layer: (doc, seg)-level multiplicity (a doc
    * spanning segments means an untombstoned re-add), doc-dir ≡
    * distinct (doc_id, dl) of each segment's RAW postings
    * (multiplicity-aware: exceptAll both ways, so a duplicated doc-dir
    * row paired with a lost posting cannot cancel out), stats sidecar ≡
    * the doc-dir aggregate. The takedown-adjustment mismatch is a NOTE,
    * not a violation: it is exactly the torn crash window between the
    * two delete-path writes, and any delete retry heals it
    * ([[refreshRemoved]]). Every read comes from the PASSED generation
    * (one snapshot); unparseable sidecars are findings, not crashes.
    */
  override protected def fsckData(spark: SparkSession, path: String,
      gen: String): (Seq[String], Seq[String]) = {
    val out = Seq.newBuilder[String]
    val notes = Seq.newBuilder[String]
    val raw = spark.read.parquet(gen)
    val live = graft.util.IndexMaint.minusTombstones(raw, gen, idCol = "doc_id")
    val r = live.select(col("doc_id"), col("seg")).distinct()
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("d")).head()
    if (r.getLong(0) != r.getLong(1))
      out += s"${r.getLong(0) - r.getLong(1)} live doc(s) span multiple " +
        "segments — a producer re-added existing doc_ids without " +
        "tombstoning; remedy: upsert, then compact"
    graft.util.IndexMaint.segmentValues(gen).foreach { seg =>
      val dd = java.nio.file.Paths.get(gen, s"seg=$seg", DocDirName)
      if (!java.nio.file.Files.isDirectory(dd))
        out += s"seg=$seg: doc-dir sidecar missing (takedown stats cannot adjust)"
      else {
        val docdir = spark.read.parquet(dd.toString)
          .select(col("doc_id"), col("dl"))
        val fromPosts = raw.filter(col("seg") === seg)
          .select(col("doc_id"), col("dl")).distinct()
        val mismatch = docdir.exceptAll(fromPosts).count() +
          fromPosts.exceptAll(docdir).count()
        if (mismatch != 0)
          out += s"seg=$seg: doc-dir disagrees with the postings' distinct " +
            s"(doc_id, dl) on $mismatch row(s)"
        val a = docdir.agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0L)).as("s")).head()
        val st = java.nio.file.Paths.get(gen, s"seg=$seg", StatsFile)
        if (!java.nio.file.Files.exists(st))
          out += s"seg=$seg: stats sidecar missing"
        else try {
          val Array(n, s) = new String(java.nio.file.Files.readAllBytes(st),
            java.nio.charset.StandardCharsets.UTF_8).trim.split(",")
          if (n.toLong != a.getLong(0) || s.toLong != a.getLong(1))
            out += s"seg=$seg: stats sidecar ($n,$s) != doc-dir aggregate " +
              s"(${a.getLong(0)},${a.getLong(1)})"
        } catch {
          case e: Exception =>
            out += s"seg=$seg: stats sidecar unparseable " +
              s"(${e.getClass.getSimpleName}) — not written by this protocol"
        }
      }
      // the term dictionary feeds bm25PrunedTopK's "exact" bounds: a
      // MISSING sidecar degrades loudly to unpruned serving (a note —
      // pre-dictionary indexes are legitimate), but a PRESENT-and-wrong
      // one silently mis-bounds every pruned page, so it is audited
      // against the (df, max_tf, min_dl) aggregate of the segment's raw
      // postings exactly like the doc-dir and stats sidecars above
      val tm = java.nio.file.Paths.get(gen, s"seg=$seg", TermMetaName)
      if (!java.nio.file.Files.isDirectory(tm))
        notes += s"seg=$seg: term-dictionary sidecar missing (pruned " +
          "serving degrades to unpruned until the next compaction rewrites it)"
      else try {
        val meta = spark.read.parquet(tm.toString)
          .select(col("term"), col("df"), col("max_tf"), col("min_dl"))
        val fromPosts = raw.filter(col("seg") === seg)
          .groupBy(col("term"))
          .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"),
            min(col("dl")).as("min_dl"))
        val mismatch = meta.exceptAll(fromPosts).count() +
          fromPosts.exceptAll(meta).count()
        if (mismatch != 0)
          out += s"seg=$seg: term-dictionary sidecar disagrees with the " +
            s"postings' (df, max_tf, min_dl) aggregate on $mismatch row(s) — " +
            "pruned pages would use unsound bounds"
      } catch {
        case e: Exception =>
          out += s"seg=$seg: term-dictionary sidecar unreadable " +
            s"(${e.getClass.getSimpleName}) — not written by this protocol"
      }
    }
    try {
      val persisted = readRemoved(gen)
      val implied = computeRemoved(spark, gen)
      if (persisted != implied)
        notes += s"takedown adjustment sidecar $persisted != the value the " +
          s"tombstone set implies $implied — the torn crash window between " +
          "the delete path's two writes; any delete retry heals it"
    } catch {
      case e: Exception =>
        out += s"takedown adjustment sidecar unparseable " +
          s"(${e.getClass.getSimpleName}) — not written by this protocol"
    }
    (out.result(), notes.result())
  }

  /** Term-hash partition fanout. 64 buckets keeps per-bucket file sizes
    * scan-efficient at 100 TB while a 3-term query touches ≤ 3
    * partitions; the dial trades partition-prune selectivity against
    * small-file pressure.
    */
  val NBuckets = 64

  final case class LexStats(nDocs: Long, sumDl: Long)

  private val StatsFile = "_lex_stats.txt"

  /** Per-segment doc directory: one (doc_id, dl) row per indexed doc,
    * ~16 B each — the sidecar a takedown reads to adjust the corpus
    * constants WITHOUT touching the term-bucketed postings (a doc's
    * postings are scattered across every bucket its terms hash into,
    * so without this a delete would pay a full postings scan to learn
    * one dl). Underscore-prefixed: invisible to the postings partition
    * discovery, committed atomically with its segment.
    */
  private val DocDirName = "_docdir"

  /** Per-segment term dictionary metadata: one (term, df, max_tf,
    * min_dl) row per distinct term — the impact bounds MaxScore-style
    * pruned serving ([[bm25PrunedTopK]]) derives per-term score upper
    * bounds from WITHOUT reading a single posting row (the
    * Lucene-`impacts` idea, cf. Turtle & Flood's MaxScore). ~32 B per
    * distinct term per segment; mergeable across segments (df sums,
    * max_tf maxes, min_dl mins — each stays a valid bound under the
    * union), rewritten from survivors at compaction like every other
    * sidecar. Underscore-prefixed: invisible to postings discovery.
    */
  private val TermMetaName = "_term_meta"

  /** Per-generation cumulative takedown adjustment ("n,sum_dl" of the
    * tombstoned docs), atomically replaced under the mutation lease —
    * [[liveStats]] subtracts it so scoring constants track survivors
    * exactly. Cleared (with the tombstones) when compaction reclaims.
    */
  private val RemovedFile = "_lex_removed.txt"

  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("t"))

  /** One tokenize scan → (tb, term, doc_id, tf, dl, pos) postings.
    * `pos` is the term's sorted 1-based position list within the doc —
    * the Lucene-standard positional payload phrase/proximity queries
    * intersect on ([[phraseTopK]]); Σ|pos| per doc = dl, so positions
    * grow the postings by O(corpus tokens), the same class as the
    * postings themselves. BM25 reads never touch the column (parquet
    * column pruning drops it at the scan).
    */
  private def postingsOf(docs: DataFrame): DataFrame =
    tokenized(docs)
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        posexplode(col("t")).as(Seq("p", "term")))
      .groupBy(col("doc_id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p") + 1)).as("pos"))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(NBuckets.toLong)))

  private def statsOf(docs: DataFrame): LexStats = {
    val r = tokenized(docs)
      .agg(count(lit(1)).as("n"), sum(size(col("t")).cast("long")).as("s")).head()
    LexStats(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def writeStats(segDir: String, s: LexStats): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(segDir, StatsFile),
      s"${s.nDocs},${s.sumDl}".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Corpus constants of the live generation: the per-segment sidecars
    * summed — bounded metadata (one file per committed batch, collapsed
    * by compaction/rebuild like every segment).
    */
  def readStats(path: String): LexStats =
    readStatsAt(graft.util.IndexMaint.liveGen(path))

  private def readStatsAt(gen: String): LexStats = {
    val live = java.nio.file.Paths.get(gen)
    val walk = java.nio.file.Files.walk(live, 2)
    try {
      import scala.jdk.CollectionConverters._
      val parts = walk.iterator().asScala
        .filter(_.getFileName.toString == StatsFile)
        .map { p =>
          val Array(n, s) = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8).trim.split(",")
          (n.toLong, s.toLong)
        }.toSeq
      LexStats(parts.map(_._1).sum, parts.map(_._2).sum)
    } finally walk.close()
  }

  private def readRemoved(gen: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(gen, RemovedFile)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val Array(n, s) = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim.split(",")
      (n.toLong, s.toLong)
    }
  }

  private def writeRemovedAtomic(gen: String, n: Long, s: Long): Unit = {
    val tmp = java.nio.file.Paths.get(gen, RemovedFile + ".tmp")
    java.nio.file.Files.write(tmp,
      s"$n,$s".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(gen, RemovedFile),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The SERVING corpus constants: the segment sidecars' sums minus the
    * takedown adjustment — what [[bm25TopK]] scores with, so deleted
    * docs stop contributing to n_docs/avgdl the moment the delete
    * commits, not at the next compaction.
    */
  def liveStats(path: String): LexStats =
    liveStatsAt(graft.util.IndexMaint.liveGen(path))

  /** [[liveStats]] against an ALREADY-RESOLVED generation — the reader
    * contract the vector families uphold ("resolve the generation
    * once"): a query that resolved `_live.txt` independently for stats
    * and postings could mix one generation's scoring constants with
    * another's posting lists if a mutation committed in between.
    */
  private def liveStatsAt(gen: String): LexStats = {
    val raw = readStatsAt(gen)
    val (n, s) = readRemoved(gen)
    LexStats(raw.nDocs - n, raw.sumDl - s)
  }

  /** Recompute the takedown stats adjustment from the FULL tombstone
    * set (bounded by [[graft.util.IndexMaint.tombstonePairCap]])
    * against the doc-dir sidecars and atomically REPLACE the sidecar —
    * derivable state, never delta-accumulated: a crash between the
    * tombstone write and this one is healed by the at-least-once retry
    * (or any later delete), because the recompute always reproduces the
    * adjustment the current tombstone set implies. The earlier
    * delta-based accounting skipped the adjustment permanently on
    * retry — the post-crash delta was empty — leaving n_docs/Σdl
    * overcounting deleted docs until the next compaction. Work is one
    * Spark aggregate over the affected segments' doc dirs ((doc_id, dl)
    * rows — bounded metadata, not postings).
    */
  private def refreshRemoved(spark: SparkSession, gen: String): Unit = {
    val (n, s) = computeRemoved(spark, gen)
    writeRemovedAtomic(gen, n, s)
  }

  /** The (n_docs, Σdl) the current tombstone set implies — the pure
    * recompute [[refreshRemoved]] persists and [[fsckData]] audits the
    * persisted sidecar against.
    */
  private def computeRemoved(spark: SparkSession, gen: String): (Long, Long) = {
    import spark.implicits._
    val hits = graft.util.IndexMaint.readTombstones(gen)
      .groupBy(_._1).toSeq.flatMap { case (seg, pairs) =>
        val dd = java.nio.file.Paths.get(gen, s"seg=$seg", DocDirName)
        if (!java.nio.file.Files.isDirectory(dd)) None
        else {
          val doomed = pairs.map(_._2).toIndexedSeq
          val docs = spark.read.parquet(dd.toString)
          Some(
            if (doomed.size <= 4096) docs.filter(col("doc_id").isin(doomed: _*))
            else docs.join(broadcast(doomed.toDF("doc_id")), Seq("doc_id"), "left_semi"))
        }
      }
    hits.reduceOption(_ unionByName _).map { all =>
      val r = all.agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("s")).head()
      (r.getLong(0), r.getLong(1))
    }.getOrElse((0L, 0L))
  }

  /** Build the persisted postings for a `(doc_id, text)` corpus: ONE
    * tokenize scan, bucketed write, stats sidecar, atomic generation
    * commit. The production pipeline calls this once per corpus release.
    */
  def buildIndex(docs: DataFrame, path: String,
      buildKey: Option[String] = None): String =
    graft.util.IndexMaint.withMutation(path, op = "build") {
      val pinned = docs.select(col("doc_id"), col("text")).localCheckpoint()
      requireDistinctDocs(pinned, s"buildIndex($path)")
      val stage = graft.util.IndexMaint.newStageDir(path, "build")
      // sorted by (term, doc_id) within each bucket file so the pushed
      // term-equality filter prunes at parquet ROW-GROUP granularity,
      // not just partition granularity — at 100 TB a bucket holds many
      // row groups and an unsorted file defeats min/max skipping
      postingsOf(pinned)
        .repartition(col("tb"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$stage/seg=base")
      writeDocDir(pinned, s"$stage/seg=base")
      writeStats(s"$stage/seg=base", statsOf(pinned))
      writeTermMeta(pinned.sparkSession, s"$stage/seg=base")
      buildKey.foreach(graft.util.IndexMaint.writeBuildKey(stage, _))
      graft.util.IndexMaint.commitGeneration(path, stage)
    }

  /** Within-batch duplicate doc_ids corrupt the ENCODE itself:
    * [[postingsOf]] groups by (doc_id, term), so a doc arriving twice
    * in one batch folds into one posting row with doubled tf and two
    * doc-dir rows — no post-hoc check (row- or segment-level) can see
    * it. Every ingest therefore validates the batch up front: O(Δ),
    * loud, at the only point the corruption is still visible.
    */
  private def requireDistinctDocs(pinned: DataFrame, context: String): Unit = {
    val r = pinned.agg(count(lit(1)).as("n"),
      countDistinct(col("doc_id")).as("d")).head()
    require(r.getLong(0) == r.getLong(1),
      s"$context: ${r.getLong(0) - r.getLong(1)} duplicate doc_id rows " +
        "within one batch — deduplicate before ingest (a re-crawl of an " +
        "existing doc is an upsert, not a second row)")
  }

  private def writeDocDir(docs: DataFrame, segDir: String): Unit =
    tokenized(docs)
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"$segDir/$DocDirName")

  /** Derive the segment's term-dictionary metadata from its JUST-WRITTEN
    * postings (a read-back of the fresh local segment, column-pruned to
    * (term, tf, dl) — cheaper than recomputing the tokenize+group). One
    * row per distinct term; lands inside the staged segment so it
    * commits atomically with the postings it bounds.
    */
  private def writeTermMeta(spark: SparkSession, segDir: String): Unit = {
    // a zero-row segment (delete-only batch, emptied compaction) writes
    // no data files — its meta is the empty dictionary, not a crash
    val posts =
      try spark.read.parquet(segDir).select(col("term"), col("tf"), col("dl"))
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          import org.apache.spark.sql.types._
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            StructType(Seq(StructField("term", StringType),
              StructField("tf", LongType), StructField("dl", LongType))))
      }
    posts.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(col("tf")).as("max_tf"),
        min(col("dl")).as("min_dl"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$segDir/$TermMetaName")
  }

  /** The [[graft.streaming.Ingest]] loop's verbs for a document CDC
    * stream (`docs:` tokens, [[applyCdcIdempotent]]). The lexical index
    * has no drift check: its stats are exact, not a trained quantizer,
    * so the only maintenance is segment hygiene — steepest on this
    * family, since an append touches up to 64 `tb` partitions.
    */
  val docIngest: graft.streaming.Ingest.Family[String] =
    ingestFamily("docs", applyCdcIdempotent, drift = None,
      rebalance = (_, path) => path)

  /** The live postings relation (partition columns `seg`, `tb`), MINUS
    * tombstoned docs — the [[Ivf.indexData]] reader contract: every
    * read path honors takedowns through this one read, so a new
    * consumer (export, stats job, retrieval stage) cannot resurrect
    * deleted documents by forgetting the subtraction.
    */
  def indexData(spark: SparkSession, path: String): DataFrame =
    indexDataAt(spark, graft.util.IndexMaint.liveGen(path))

  private def indexDataAt(spark: SparkSession, gen: String): DataFrame =
    graft.util.IndexMaint.minusTombstones(
      spark.read.parquet(gen), gen, idCol = "doc_id")

  /** BM25 top-k over the PERSISTED postings — the serving path: the
    * query's terms resolve to ≤ |terms| `tb` buckets (static partition
    * pruning) with the `term` equality pushed into the scan, df is the
    * fetched posting-list length, the corpus constants come from the
    * stats sidecars, and scoring is [[Search.topK]] verbatim. Work is
    * proportional to the queried terms' posting lists — the index
    * never pays a corpus scan at query time.
    */
  /** The `tb` buckets a term list hashes into — derived with the SAME
    * Spark hash expression the writer used (a driver-side
    * reimplementation of xxhash64 could drift); ≤ |terms| longs.
    */
  def bucketsOf(spark: SparkSession, terms: Seq[String]): Seq[Long] = {
    // evaluated DRIVER-SIDE through the very Catalyst expression the
    // writer's plan uses (XxHash64 seed 42 + pmod) — same algorithm,
    // same code path, zero drift risk, and no longer one Spark job per
    // serve just to hash ≤|terms| strings (it was the first job of
    // every bm25 page). BucketParitySpec pins equality against the
    // plan-evaluated form.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val n = NBuckets.toLong
    terms.map { t =>
      val h = XxHash64(Seq(Literal.create(t,
        org.apache.spark.sql.types.StringType)), 42L)
        .eval(InternalRow.empty).asInstanceOf[Long]
      ((h % n) + n) % n
    }.distinct
  }

  def bm25TopK(spark: SparkSession, path: String,
      qs: Seq[(String, String)], k: Int): DataFrame = {
    import spark.implicits._
    val terms = qs.map(_._2).distinct
    val buckets = bucketsOf(spark, terms)
    // ONE generation resolve for the whole query (the vector families'
    // reader contract): stats, tombstones and postings all read the
    // same generation, so a mutation committing mid-query cannot mix
    // one generation's scoring constants with another's posting lists
    val gen = graft.util.IndexMaint.liveGen(path)
    val stats = liveStatsAt(gen)
    // the tombstone subtraction happens BEFORE df: a deleted doc leaves
    // the posting-list lengths, not just the result page
    val posts = indexDataAt(spark, gen)
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .localCheckpoint() // one postings fetch feeds df AND the score join
    Search.topK(shapeForScores(posts, qs, stats), Search.rationalIdf, k)
  }

  /** The BM25 scoring relation for a fetched postings frame — df from
    * the fetched posting-list lengths, corpus constants from the ONE
    * resolved generation's stats, the (query_id, term) pairs broadcast:
    * the shape [[Search.scores]]/[[Search.topK]] consume. Shared by
    * [[bm25TopK]] and both relevance-fused positional pages so the
    * scoring derivation cannot drift between them.
    */
  private def shapeForScores(posts: DataFrame, qd: Seq[(String, String)],
      stats: LexStats): DataFrame = {
    import posts.sparkSession.implicits._
    val dfx = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    posts
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .join(broadcast(dfx), Seq("term"))
      .join(broadcast(qd.toDF("query_id", "term")), Seq("term"))
      .withColumn("n_docs", lit(stats.nDocs))
      .withColumn("sum_dl", lit(stats.sumDl))
  }

  /** The queried terms' dictionary metadata, merged across the
    * generation's segments: df sums (an over-count once docs are
    * tombstoned — callers lower-bound with the removed count), max_tf
    * maxes and min_dl mins (both remain valid bounds over any subset,
    * so tombstones never invalidate them). O(segments · |terms|) rows
    * read, zero posting rows. None when any segment predates the
    * dictionary (foreign index) — callers must degrade to unpruned
    * serving, not guess bounds.
    */
  private[ops] def readTermMeta(spark: SparkSession, gen: String,
      terms: Seq[String]): Option[Map[String, (Long, Long, Long)]] = {
    val dirs = graft.util.IndexMaint.segmentValues(gen)
      .map(s => java.nio.file.Paths.get(gen, s"seg=$s", TermMetaName))
    if (dirs.isEmpty || dirs.exists(d => !java.nio.file.Files.isDirectory(d)))
      None
    else Some(
      spark.read.parquet(dirs.map(_.toString): _*)
        .filter(col("term").isin(terms: _*))
        .groupBy(col("term"))
        .agg(sum(col("df")).as("df"), max(col("max_tf")).as("max_tf"),
          min(col("min_dl")).as("min_dl"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap)
  }

  /** Driver-side mirror of [[Search.scores]]' per-term BM25 contribution
    * — the SAME expression shape ((1-B) folded first, dl divided by
    * sum_dl/n_docs's precomputed quotient), so every fp operation is
    * weakly monotone in (tf↑, dl↓, df↓) exactly as the executor
    * computes it: contribution(max_tf, min_dl, df_lb) is a true upper
    * bound on any posting's contribution in FLOATING POINT, not just in
    * real arithmetic.
    */
  private def contributionBound(tf: Double, dl: Double, df: Double,
      nDocs: Double, avgdl: Double): Double = {
    val idf = (nDocs - df + 0.5) / (df + 0.5)
    val tfn = (tf * (Search.K1 + 1)) /
      (tf + Search.K1 * ((1 - Search.B) + Search.B * (dl / avgdl)))
    idf * tfn
  }

  /** What [[bm25PrunedTopK]] decided, for specs and probes: θ per query
    * (the seed-only k-th score), each term's role (`ess`/`ne`) and
    * upper bound, and whether pruning engaged at all (false = no
    * dictionary sidecar → exact unpruned serving).
    */
  private[graft] final case class PruneDecision(
      theta: Map[String, Double],
      roles: Map[String, Map[String, String]],
      ub: Map[String, Double],
      pruned: Boolean,
      engaged: Set[String] = Set.empty)

  /** MaxScore-pruned BM25 top-k — EXACT results (same page, same
    * scores, same tie-breaks as [[bm25TopK]]) with the scoring and
    * rank-window volume cut to what can actually change the page.
    *
    * The classic document-at-a-time MaxScore (Turtle & Flood 1995;
    * Lucene's `impacts` metadata) re-expressed set-oriented for Spark:
    *
    *  1. per-term upper bounds from the `_term_meta` sidecar — zero
    *     posting rows read to compute them;
    *  2. θ = the k-th best score using ONLY each query's highest-bound
    *     (seed) term — a lower bound on the true k-th score, since
    *     scores only grow as terms are added;
    *  3. ascending-bound prefix whose bound-sum stays strictly below θ
    *     (minus an fp-slack margin) = the NON-ESSENTIAL terms: a doc
    *     matching only those cannot reach the page;
    *  4. essential posting rows all score; non-essential rows score
    *     only for docs already matching an essential term (an inner
    *     join against the candidate set — exactness needs their
    *     contributions, but the rank window never sees an NE-only doc).
    *
    * At scale the win is the shuffle: a stopword's billion-row posting
    * list enters the score aggregation only ∩ candidates (the rare
    * terms' df), instead of flooding the per-query rank window. The
    * scan stays O(postings of queried terms) either way — the sidecar
    * is what lets a deployment defer even that fetch. Queries with no
    * prunable term (single-term, θ=0 from a sparse seed) degrade to
    * exactly [[bm25TopK]]'s plan.
    */
  def bm25PrunedTopK(spark: SparkSession, path: String,
      qs: Seq[(String, String)], k: Int,
      gateRatio: Double = 4.0, candCap: Long = 1L << 20,
      minNeVolume: Long = 2L << 20): DataFrame =
    bm25PrunedCore(spark, path, qs, k, gateRatio, candCap, minNeVolume)._1

  private[graft] def bm25PrunedCore(spark: SparkSession, path: String,
      qs: Seq[(String, String)], k: Int,
      gateRatio: Double = 4.0, candCap: Long = 1L << 20,
      minNeVolume: Long = 2L << 20): (DataFrame, PruneDecision) = {
    import spark.implicits._
    // duplicate (query, term) pairs would double-count in the unpruned
    // scorer but fold once through the role map — refuse the ambiguity
    // up front rather than diverge from bm25TopK on it
    require(qs.distinct.size == qs.size,
      s"bm25PrunedTopK: duplicate (query_id, term) pairs in the query set")
    val terms = qs.map(_._2).distinct
    val buckets = bucketsOf(spark, terms)
    val gen = graft.util.IndexMaint.liveGen(path)
    val stats = liveStatsAt(gen)
    // ONE tombstone-set read feeds BOTH the posting subtraction and the
    // df lower bound: a removed-sidecar read that predates the
    // tombstone read (concurrent delete, or the torn crash window
    // between the two delete-path writes) would under-count and make
    // dfLb exceed the live df — an unsound bound that silently drops a
    // qualifying doc from the "exact" page. tombs.length (every
    // tombstoned (seg, doc) copy) is a looser adjustment than the
    // removed-doc count but is derived from the same snapshot the posts
    // subtract, so it is always sound.
    val tombs = graft.util.IndexMaint.readTombstones(gen)
    val removedN = tombs.length.toLong
    val posts = graft.util.IndexMaint.minusTombstonePairs(
        spark.read.parquet(gen), tombs, idCol = "doc_id")
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .localCheckpoint()
    val metaOpt =
      if (stats.nDocs <= 0L) None else readTermMeta(spark, gen, terms)
    val allEss = qs.groupBy(_._1)
      .map { case (q, ps) => q -> ps.map(_._2 -> "ess").toMap }
    metaOpt match {
      case None =>
        (Search.topK(shapeForScores(posts, qs, stats), Search.rationalIdf, k),
          PruneDecision(Map.empty, allEss, Map.empty, pruned = false))
      case Some(meta) =>
        val avgdl = stats.sumDl.toDouble / stats.nDocs
        val ub = meta.map { case (t, (dfRaw, maxTf, minDl)) =>
          // sidecar df over-counts tombstoned docs; idf needs a df
          // LOWER bound, so subtract the whole removed count — loose
          // but sound, and exact the moment compaction reclaims
          val dfLb = math.max(0L, dfRaw - removedN).toDouble
          t -> contributionBound(maxTf.toDouble, minDl.toDouble, dfLb,
            stats.nDocs.toDouble, avgdl)
        }
        val byQuery = qs.groupBy(_._1).view
          .mapValues(_.map(_._2).distinct.filter(meta.contains)).toMap
        val seeds = byQuery.collect {
          case (q, ts) if ts.nonEmpty => q -> ts.maxBy(t => (ub(t), t))
        }
        // ENGAGE-GATE, per query, from the dictionary's df histogram
        // alone (zero posting reads): the θ seed pass costs ~df(seed)
        // window rows plus a driver collect, and the best CASE saving
        // is the non-seed posting volume (every other term classified
        // NE). On a uniform-df corpus (non-seed ≈ seed volume) the
        // seed pass costs more than pruning can ever recover —
        // bm25_maxscore_8x measured pruned 2.75 s vs full 1.72 s at 8x
        // — so pruning engages only where the histogram is actually
        // skewed. The θ-pass cost has TWO terms — one proportional to
        // the seed's posting list (the scan) and one FIXED (an extra
        // job + driver collect) — so the gate requires the non-seed
        // volume to clear both: >= gateRatio × the seed's df AND >= an
        // absolute floor (minNeVolume) below which even a justified
        // prune cannot recover the job overhead (q4 on the shared
        // corpus engages on ratio but its 62k NE rows lose ~0.7 s to
        // the θ job). Gated-out queries serve all-essential, i.e.
        // exactly the unpruned plan; gateRatio <= 0 force-engages for
        // probes and mechanism specs.
        val force = gateRatio <= 0.0
        val engagedQ0: Set[String] = seeds.collect { case (q, s)
          if force || {
            val neVol = byQuery(q).filterNot(_ == s).map(t => meta(t)._1).sum
            neVol >= gateRatio * math.max(1L, meta(s)._1) &&
              neVol >= minNeVolume
          } => q }.toSet
        val seedPairs = seeds.toSeq.filter(p => engagedQ0(p._1))
        val thetas: Map[String, Double] =
          if (seedPairs.isEmpty) Map.empty
          else {
            val seedTerms = seedPairs.map(_._2).distinct
            val seedPosts = posts.filter(col("term").isin(seedTerms: _*))
            Search.topK(shapeForScores(seedPosts, seedPairs, stats),
                Search.rationalIdf, k)
              .filter(col("rnk") === k)
              .select(col("query_id"), col("score"))
              .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
          }
        def rolesOf(q: String, ts: Seq[String]): Map[String, String] = {
          val theta = thetas.getOrElse(q, 0.0)
          // strict-< with a relative slack: an NE-only doc's score is
          // a differently-ordered fold of the same contributions, so
          // leave room for the fold's ulps before claiming "< θ"
          val lim = theta - 1e-9 * math.max(1.0, math.abs(theta))
          var cum = 0.0
          var open = true
          ts.sortBy(t => (ub(t), t)).map { t =>
            if (open && t != seeds(q) && cum + ub(t) < lim) {
              cum += ub(t); t -> "ne"
            } else { open = false; t -> "ess" }
          }.toMap
        }
        val roles0 = byQuery.map { case (q, ts) =>
          q -> (if (engagedQ0(q)) rolesOf(q, ts) else ts.map(_ -> "ess").toMap)
        }
        // SECOND gate, after roles are known: the NE rows score only
        // inside the essential candidate set, and that join must be a
        // BROADCAST hash probe — a shuffled sort-merge join of the NE
        // volume costs MORE than the unpruned WindowGroupLimit pass it
        // replaces (which never fully sorts; measured 15.2 s pruned vs
        // 10.9 s full at 25M NE rows before this cap). The candidate
        // set is bounded by Σ df(essential terms) — known driver-side
        // from the dictionary — so queries are kept engaged smallest-
        // essential-volume first while the total stays under candCap,
        // and the rest serve the exact unpruned plan.
        val essVol: Map[String, Long] = engagedQ0.iterator.map { q =>
          q -> roles0(q).collect { case (t, "ess") => meta(t)._1 }.sum
        }.toMap
        var candBudget = candCap
        val engagedQ: Set[String] = essVol.toSeq.sortBy { case (q, v) => (v, q) }
          .iterator.filter { case (_, v) =>
            if (v <= candBudget) { candBudget -= v; true } else false
          }.map(_._1).toSet
        val roles: Map[String, Map[String, String]] = roles0.map {
          case (q, m) if engagedQ(q) => q -> m
          case (q, _) => q -> byQuery(q).map(_ -> "ess").toMap
        }
        val roleRows = roles.toSeq.flatMap { case (q, m) =>
          m.toSeq.map { case (t, r) => (q, t, r) } }
        val decision = PruneDecision(thetas, roles, ub, pruned = true,
          engaged = engagedQ)
        // no NE term anywhere (every query gated out, or θ too low to
        // bound anything) → the role join buys nothing; serve the
        // exact unpruned plan
        if (roleRows.isEmpty || !roles.exists(_._2.values.exists(_ == "ne")))
          return (Search.topK(shapeForScores(posts, qs, stats),
            Search.rationalIdf, k), decision)
        val dfx = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val base = posts
          .join(broadcast(dfx), Seq("term"))
          .join(broadcast(roleRows.toDF("query_id", "term", "role")),
            Seq("term"))
          .withColumn("n_docs", lit(stats.nDocs))
          .withColumn("sum_dl", lit(stats.sumDl))
        val ess = base.filter(col("role") === "ess").drop("role")
        // candidates restricted to ENGAGED queries (NE rows only exist
        // for those) and explicitly broadcast — the second gate above
        // bounded them by candCap, so the NE side is a scan + hash
        // probe, never a shuffle+sort of the stopword posting volume
        val cands = broadcast(
          ess.filter(col("query_id").isin(engagedQ.toSeq: _*))
            .select(col("query_id"), col("doc_id")).distinct())
        val ne = base.filter(col("role") === "ne").drop("role")
          .join(cands, Seq("query_id", "doc_id"))
        (Search.topK(ess.unionByName(ne), Search.rationalIdf, k), decision)
    }
  }

  /** Metadata-gated BM25 top-k — rank only docs passing an EXTERNAL
    * allow-set (the lexical twin of filtered vector search): global
    * corpus constants and global df, so an allowed doc's score is
    * IDENTICAL to its unfiltered score — the filter narrows the page,
    * not the statistics (corpus removal that should shift stats is
    * [[deleteIds]]/[[deleteWhere]], not a filter). The allow-set
    * semi-joins the fetched postings BEFORE scoring, so disallowed docs
    * never reach the score aggregation or the rank window; the join
    * broadcasts when the set is small and shuffles when it is not —
    * nothing here assumes the predicate is selective.
    */
  def bm25FilteredTopK(spark: SparkSession, path: String,
      qs: Seq[(String, String)], k: Int, allowed: DataFrame): DataFrame = {
    import spark.implicits._
    // same refusal as bm25PrunedTopK: a duplicated (query_id, term)
    // pair would double-count that term's contribution silently
    require(qs.distinct.size == qs.size,
      s"bm25FilteredTopK: duplicate (query_id, term) pairs in the query set")
    val terms = qs.map(_._2).distinct
    val buckets = bucketsOf(spark, terms)
    val gen = graft.util.IndexMaint.liveGen(path)
    val stats = liveStatsAt(gen)
    val posts = indexDataAt(spark, gen)
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .localCheckpoint()
    val dfx = posts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val kept = posts.join(allowed.select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    val shaped = kept
      .join(broadcast(dfx), Seq("term"))
      .join(broadcast(qs.toDF("query_id", "term")), Seq("term"))
      .withColumn("n_docs", lit(stats.nDocs))
      .withColumn("sum_dl", lit(stats.sumDl))
    Search.topK(shaped, Search.rationalIdf, k)
  }

  /** The lexical pin extras ([[pinIndex]]): the removed-stats
    * adjustment as of pin time, as an `x-` manifest entry — with the
    * generation, segment set and tombstone pairs, everything
    * [[bm25TopKAsOf]] needs to reproduce this exact scoring state after
    * any number of later mutations.
    */
  override protected def pinExtra(gen: String): Map[String, String] = {
    val (n, s) = readRemoved(gen)
    Map("x-removed" -> s"$n,$s")
  }

  /** The ONE export fixup this family needs: the removed-stats takedown
    * adjustment is the one root sidecar whose live value advances past
    * pin time, so it is re-landed from the manifest's `x-removed` copy
    * and the export serves the pin's constants — live [[bm25TopK]] reads
    * of the export ≡ [[bm25TopKAsOf]] against the pin. Shared by
    * [[exportIndexSnapshot]] and [[exportHybridSnapshot]] so the two
    * export paths cannot diverge in serving constants.
    */
  override protected val exportFixup: (graft.util.IndexMaint.Snapshot, String) => Unit =
    (snap, stage) => {
      val (rn, rs) = removedOfSnapshot(snap)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(stage, RemovedFile),
        s"$rn,$rs".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }

  /** Pin the lexical AND vector halves of a hybrid serving pair under
    * ONE label atomically with respect to mutations
    * ([[graft.util.IndexMaint.pinPair]]: both mutation leases held,
    * path-ordered, before either manifest resolves) — a CDC wave can
    * never land between the two pins, so every [[hybridPageAsOf]]
    * against the label observes ONE wave-consistent state. Two
    * independent [[pinIndex]] calls cannot promise that.
    */
  def pinHybrid(lexPath: String, vecPath: String, label: String): Unit = {
    graft.util.IndexMaint.pinPair(lexPath, vecPath, label, extraA = pinExtra)
    ()
  }

  /** Export BOTH halves of a [[pinHybrid]] pair as standalone roots
    * ([[graft.util.IndexMaint.exportPair]]): destination leases
    * path-ordered before any occupancy decision, torn/occupied
    * destinations refused with the pinPair-style message, and a crash
    * between the two exports healed by the retry (the committed half is
    * recognized structurally and skipped). The lexical side re-lands
    * its pin-time removed-stats adjustment, exactly as
    * [[exportIndexSnapshot]] does; the vector side needs no fixup. The
    * exported pair serves a fused [[hybridPage]] identical to
    * [[hybridPageAsOf]] at the pin.
    */
  def exportHybridSnapshot(lexPath: String, vecPath: String, label: String,
      destLex: String, destVec: String): (String, String) =
    graft.util.IndexMaint.exportPair(lexPath, vecPath, label, destLex, destVec,
      fixupA = exportFixup)

  /** Corpus constants of a PINNED snapshot: the manifest's segments'
    * stats sidecars summed, minus the removed adjustment AS OF PIN TIME
    * (the manifest's copy — the generation's live sidecar has since
    * grown with later deletes).
    */
  private def statsOfSnapshot(genDir: String,
      snap: graft.util.IndexMaint.Snapshot): LexStats = {
    val parts = snap.segs.map { s =>
      val p = java.nio.file.Paths.get(genDir, s"seg=$s", StatsFile)
      val Array(n, sd) = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim.split(",")
      (n.toLong, sd.toLong)
    }
    val (rn, rs) = removedOfSnapshot(snap)
    LexStats(parts.map(_._1).sum - rn, parts.map(_._2).sum - rs)
  }

  /** The ONE parser for a manifest's `x-removed` entry — a malformed
    * value (torn write, foreign tool) must fail NAMING the manifest,
    * not as a bare MatchError (the readSnapshot precedent).
    */
  private def removedOfSnapshot(
      snap: graft.util.IndexMaint.Snapshot): (Long, Long) = {
    val v = snap.extra.getOrElse("x-removed", "0,0")
    v.split(",") match {
      case Array(rn, rs) =>
        try (rn.toLong, rs.toLong)
        catch { case _: NumberFormatException =>
          throw new IllegalStateException(
            s"pin manifest (gen ${snap.gen}) has a non-numeric " +
              s"x-removed entry '$v' — not written by this protocol") }
      case _ => throw new IllegalStateException(
        s"pin manifest (gen ${snap.gen}) has a malformed x-removed " +
          s"entry '$v' (expected 'n,sum') — not written by this protocol")
    }
  }

  /** BM25 top-k against the snapshot pinned as `label` — bit-identical
    * to what [[bm25TopK]] returned at pin time, whatever has happened
    * since: later appends/CDC segments are outside the manifest's
    * segment set, later deletes are outside its tombstone copy, and a
    * later compaction/retention rewrite committed a NEW generation
    * while the pinned one survives every reap path. The read shape is
    * the same O(query terms) bucket-pruned fetch as the live path —
    * a snapshot costs retention, not query speed.
    */
  def bm25TopKAsOf(spark: SparkSession, path: String, label: String,
      qs: Seq[(String, String)], k: Int): DataFrame = {
    import spark.implicits._
    val snap = graft.util.IndexMaint.readSnapshot(path, label).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot pinned as '$label' under $path"))
    val genDir = graft.util.IndexMaint.snapshotGenDir(path, snap)
    val stats = statsOfSnapshot(genDir, snap)
    val terms = qs.map(_._2).distinct
    val buckets = bucketsOf(spark, terms)
    val posts = graft.util.IndexMaint.snapshotView(spark, genDir, snap,
        idCol = "doc_id")
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .localCheckpoint()
    Search.topK(shapeForScores(posts, qs, stats), Search.rationalIdf, k)
  }

  /** Quoted-phrase top-k over the positional postings — the first query
    * a retrieval user types that bag-of-words BM25 cannot answer. Each
    * phrase tokenizes to (term, offset) pairs; the postings fetch is
    * the SAME O(query terms) read as [[bm25TopK]] (tb partition prune +
    * pushed term filter — positions ride the fetched rows, never a
    * second scan), and adjacency is the classic anchor intersection:
    * a position p of the term at offset o witnesses anchor p − o, and
    * a doc position where ALL offsets agree on one anchor is a phrase
    * occurrence. Docs rank by occurrence count (desc, doc_id tie-break).
    * Work is proportional to the queried terms' posting lists — the
    * phrase never pays a corpus scan or a document re-read.
    */
  def phraseTopK(spark: SparkSession, path: String,
      qs: Seq[(String, String)], k: Int): DataFrame = {
    import spark.implicits._
    val qterms = qs.flatMap { case (q, phrase) =>
      phrase.trim.toLowerCase.split("\\s+").toSeq.zipWithIndex
        .map { case (t, i) => (q, t, i.toLong) }
    }
    val qn = qs.map { case (q, phrase) =>
      (q, phrase.trim.toLowerCase.split("\\s+").length.toLong) }
    val terms = qterms.map(_._2).distinct
    val buckets = bucketsOf(spark, terms)
    val gen = graft.util.IndexMaint.liveGen(path)
    val posts = indexDataAt(spark, gen)
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("pos"))
    val hits = posts
      .join(broadcast(qterms.toDF("query_id", "term", "off")), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("off"),
        explode(col("pos")).as("p"))
      .withColumn("anchor", col("p") - col("off"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("n_matches").desc, col("doc_id"))
    hits.groupBy(col("query_id"), col("doc_id"), col("anchor"))
      .agg(countDistinct(col("off")).as("c"))
      .join(broadcast(qn.toDF("query_id", "n")), Seq("query_id"))
      .filter(col("c") === col("n"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("n_matches"))
      .orderBy("query_id", "rnk")
  }

  /** Proximity (NEAR) top-k over the positional postings: docs where
    * the two query terms co-occur within `maxSpan` tokens, ranked by
    * their MINIMAL span (then doc_id) — the relevance signal between
    * bag-of-words and exact phrase. Same O(query-terms) read as
    * [[phraseTopK]]; served through [[coverTopK]]'s two-pointer kernel,
    * so per-doc work is O(matched occurrences), never a position pair
    * join and never a document re-read.
    */
  def proximityTopK(spark: SparkSession, path: String,
      qs: Seq[(String, String, String)], k: Int, maxSpan: Int): DataFrame = {
    // the index is whitespace-lowercase tokenized, so each side must be
    // ONE token — refuse loudly rather than silently splitting a
    // multi-word "term" into a different (cover) query shape
    qs.foreach { case (q, a, b) =>
      Seq(a, b).foreach(t => require(
        t.trim.nonEmpty && !t.trim.exists(_.isWhitespace),
        s"proximityTopK: query '$q' term '$t' is not a single token — NEAR " +
          "takes two index terms; use coverTopK for multi-term windows"))
    }
    // NEAR IS the 2-slot minimal cover: the smallest window containing
    // both terms has span min |p_a − p_b|, and a term paired with
    // itself dedups to the 1-slot cover (span 0 — same as the pair min,
    // where an occurrence pairs with itself). Routing through the
    // two-pointer kernel keeps per-doc work O(occurrences) where the
    // explode×explode pair join this used to run is O(tf_a × tf_b) —
    // quadratic on stopword-ish terms at corpus scale.
    coverTopK(spark, path, qs.map { case (q, a, b) => (q, s"$a $b") },
      k, maxSpan)
  }

  /** Proximity fixtures: mid-frequency pairs whose minimal spans spread
    * across the 1..5 window (not just adjacency).
    */
  val proximityFixtures: Seq[(String, String, String)] = Seq(
    ("n1", "customer", "vector"),
    ("n2", "big", "vector"),
    ("n3", "merge", "customer"))

  /** Registered `search_proximity`: NEAR retrieval from the persisted
    * positional postings. The twin re-derives positions and minimizes
    * |p_a − p_b| per (query, doc) — hash equality proves the span
    * arithmetic and the window cut, not just the match set.
    */
  def proximityPersisted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    proximityTopK(spark, path, proximityFixtures, 10, maxSpan = 5)
  }

  /** Twin of [[proximityPersisted]]. */
  val proximitySql: String = {
    val vals = proximityFixtures.map { case (q, a, b) => s"('$q', '$a', '$b')" }
      .mkString(", ")
    s"""WITH q(query_id, ta, tb) AS (VALUES $vals),
       |tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |        FROM documents),
       |pos AS (SELECT doc_id, t[i] AS term, i AS p
       |        FROM tok, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
       |pa AS (SELECT q.query_id, pos.doc_id, pos.p FROM pos JOIN q ON pos.term = q.ta),
       |pb AS (SELECT q.query_id, pos.doc_id, pos.p FROM pos JOIN q ON pos.term = q.tb),
       |sp AS (SELECT pa.query_id, pa.doc_id, min(abs(pa.p - pb.p)) AS span
       |       FROM pa JOIN pb ON pa.query_id = pb.query_id AND pa.doc_id = pb.doc_id
       |       GROUP BY 1, 2),
       |rk AS (SELECT query_id, doc_id, span,
       |              row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY span, doc_id) AS rnk
       |       FROM sp WHERE span <= 5)
       |SELECT query_id, rnk, doc_id, span FROM rk WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Minimal-cover proximity for ARBITRARY-length term queries: docs
    * where every query term co-occurs within `maxSpan` tokens, ranked
    * by the smallest window containing ALL of them (then doc_id) —
    * [[proximityTopK]] generalized past two terms. The kernel is the
    * two-pointer minimal-window scan over each candidate doc's sorted
    * (pos, slot) events ([[graft.functions.ArrayExprs.minCoverSpan]]):
    * O(matched occurrences) per doc and expression-local, where the
    * m-way position join a naive plan would use is O(∏ tf_i) per doc —
    * the difference between a NEAR query and a blow-up on stopword-ish
    * terms at 100 TB. Same O(query-terms) tb-pruned postings read as
    * every positional query; queries of different lengths plan per
    * length and union (the slot count is a literal in the kernel).
    */
  def coverTopK(spark: SparkSession, path: String,
      qs: Seq[(String, String)], k: Int, maxSpan: Int): DataFrame = {
    import spark.implicits._
    if (qs.isEmpty)
      return Seq.empty[(String, Long, Long, Long)]
        .toDF("query_id", "rnk", "doc_id", "span")
    // distinct terms per query: a repeated term carries the same
    // position list, so a window containing its first slot contains
    // every duplicate slot — requiring them would only multiply the
    // exploded event volume for an identical answer (and a repeated
    // term is NOT required to occur twice)
    val parsed = qs.map { case (q, phrase) =>
      (q, phrase.trim.toLowerCase.split("\\s+").toSeq.distinct) }
    // the (pos*64 + slot) event packing caps slots at 64 — refuse here
    // with the query named, not inside the kernel's slot assert
    parsed.filter(_._2.size > 64).foreach { case (q, ts) =>
      throw new IllegalArgumentException(
        s"coverTopK: query '$q' has ${ts.size} distinct terms — the packed " +
          "(pos,slot) cover kernel supports at most 64 distinct terms per query")
    }
    val terms = parsed.flatMap(_._2).distinct
    val buckets = bucketsOf(spark, terms)
    val gen = graft.util.IndexMaint.liveGen(path)
    val posts = indexDataAt(spark, gen)
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("pos"))
      .localCheckpoint() // one postings fetch feeds every length group
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("span").asc, col("doc_id"))
    coverSpans(posts, parsed, maxSpan)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("span"))
      .orderBy("query_id", "rnk")
  }

  /** The cover GATE shared by [[coverTopK]] and [[coverRankedTopK]]:
    * (query_id, doc_id, span) for every doc whose minimal all-terms
    * window fits `maxSpan`, derived from an already-fetched postings
    * relation. Queries of different lengths plan per length and union
    * (the slot count is a literal in the kernel).
    */
  private def coverSpans(posts: DataFrame,
      parsed: Seq[(String, Seq[String])], maxSpan: Int): DataFrame = {
    import posts.sparkSession.implicits._
    val perLen = parsed.groupBy(_._2.length).toSeq.sortBy(_._1).map {
      case (m, group) =>
        val qterms = group.flatMap { case (q, ts) =>
          ts.zipWithIndex.map { case (t, i) => (q, t, i) } }
        posts
          .join(broadcast(qterms.toDF("query_id", "term", "slot")), Seq("term"))
          .select(col("query_id"), col("doc_id"), col("slot"),
            explode(col("pos")).as("p"))
          .select(col("query_id"), col("doc_id"),
            (col("p").cast("long") * 64 + col("slot")).as("ev"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(graft.functions.ArrayExprs.minCoverSpan(
            sort_array(collect_list(col("ev"))), m).cast("long").as("span"))
          .filter(col("span").isNotNull && col("span") <= maxSpan)
    }
    perLen.reduce(_ unionByName _)
  }

  /** Cover fixtures: two trigram queries and a pair query, so the
    * per-length plan split and the union both exercise.
    */
  val coverFixtures: Seq[(String, String)] = Seq(
    "c1" -> "spark merge batch",
    "c2" -> "window stream hash",
    "c3" -> "customer vector")

  /** The registered row's window — ONE constant feeding both the Spark
    * side and the twin's literal.
    */
  private val CoverMaxSpan = 6

  /** Registered `search_cover`: minimal-cover NEAR retrieval from the
    * persisted positional postings. The twin brute-forces the cover as
    * min over position combinations of (greatest − least) — definition
    * equality, so the hash proves the two-pointer kernel exact.
    */
  def coverPersisted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    coverTopK(spark, path, coverFixtures, 10, maxSpan = CoverMaxSpan)
  }

  /** Twin of [[coverPersisted]]: the cover by definition (min over the
    * position cross product), per query length — the VALUES clauses and
    * the window literal DERIVE from [[coverFixtures]]/[[CoverMaxSpan]],
    * so editing the fixtures cannot silently desynchronize the twin.
    */
  val coverSql: String = {
    val parsed = coverFixtures.map { case (q, p) =>
      (q, p.trim.toLowerCase.split("\\s+").toSeq.distinct) }
    val (threes, rest) = parsed.partition(_._2.length == 3)
    val twos = rest.filter(_._2.length == 2)
    require(threes.nonEmpty && twos.nonEmpty && threes.size + twos.size == parsed.size,
      "the cover twin is written for query lengths 2 and 3 — extend its " +
        "CTE families before adding other lengths to coverFixtures")
    val v3 = threes.map { case (q, ts) =>
      s"('$q','${ts(0)}','${ts(1)}','${ts(2)}')" }.mkString(", ")
    val v2 = twos.map { case (q, ts) =>
      s"('$q','${ts(0)}','${ts(1)}')" }.mkString(", ")
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |        FROM documents),
       |pos AS (SELECT doc_id, t[i] AS term, i AS p
       |        FROM tok, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
       |q3(query_id, ta, tb, tc) AS (VALUES $v3),
       |q2(query_id, ta, tb) AS (VALUES $v2),
       |s3 AS (SELECT q.query_id, a.doc_id,
       |              min(greatest(a.p, b.p, c.p) - least(a.p, b.p, c.p)) AS span
       |       FROM q3 q
       |       JOIN pos a ON a.term = q.ta
       |       JOIN pos b ON b.term = q.tb AND b.doc_id = a.doc_id
       |       JOIN pos c ON c.term = q.tc AND c.doc_id = a.doc_id
       |       GROUP BY 1, 2),
       |s2 AS (SELECT q.query_id, a.doc_id, min(abs(a.p - b.p)) AS span
       |       FROM q2 q
       |       JOIN pos a ON a.term = q.ta
       |       JOIN pos b ON b.term = q.tb AND b.doc_id = a.doc_id
       |       GROUP BY 1, 2),
       |sp AS (SELECT * FROM s3 UNION ALL SELECT * FROM s2),
       |rk AS (SELECT query_id, doc_id, span,
       |              row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY span, doc_id) AS rnk
       |       FROM sp WHERE span <= $CoverMaxSpan)
       |SELECT query_id, rnk, doc_id, span FROM rk WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Relevance-FUSED minimal-cover retrieval — [[phraseRankedTopK]]'s
    * fusion applied to proximity: the cover gate ([[coverSpans]], the
    * two-pointer kernel) selects docs where every term fits `maxSpan`,
    * BM25 over the query's terms RANKS them, the span breaks score
    * ties (tighter wins). Span alone ranks a lucky adjacency in a
    * noise doc over a topically-relevant one; BM25 alone admits docs
    * where the terms never co-occur locally. ONE tb-pruned postings
    * fetch feeds the gate (pos), the scores (tf/dl) and df.
    */
  def coverRankedTopK(spark: SparkSession, path: String,
      qs: Seq[(String, String)], k: Int, maxSpan: Int): DataFrame = {
    import spark.implicits._
    if (qs.isEmpty)
      return Seq.empty[(String, Long, Long, Long, Double)]
        .toDF("query_id", "rnk", "doc_id", "span", "score")
    val parsed = qs.map { case (q, phrase) =>
      (q, phrase.trim.toLowerCase.split("\\s+").toSeq.distinct) }
    parsed.filter(_._2.size > 64).foreach { case (q, ts) =>
      throw new IllegalArgumentException(
        s"coverRankedTopK: query '$q' has ${ts.size} distinct terms — the " +
          "packed (pos,slot) cover kernel supports at most 64 per query")
    }
    val terms = parsed.flatMap(_._2).distinct
    val buckets = bucketsOf(spark, terms)
    val gen = graft.util.IndexMaint.liveGen(path)
    val stats = liveStatsAt(gen)
    val posts = indexDataAt(spark, gen)
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("pos"))
      .localCheckpoint() // ONE fetch: gate (pos), scores (tf/dl), df
    val gate = coverSpans(posts.select(col("term"), col("doc_id"), col("pos")),
      parsed, maxSpan)
    val qd = parsed.flatMap { case (q, ts) => ts.map(t => (q, t)) }.distinct
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("span").asc, col("doc_id"))
    gate
      .join(Search.scores(shapeForScores(posts, qd, stats), Search.rationalIdf),
        Seq("query_id", "doc_id"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("span"), col("score"))
      .orderBy("query_id", "rnk")
  }

  /** Registered `search_cover_ranked`: the fused proximity page over
    * the same persisted postings and fixtures as `search_cover` — the
    * rows differ only in ranking (span-only vs BM25-gated), which is
    * the claim under test.
    */
  def coverRanked(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    coverRankedTopK(spark, path, coverFixtures, 10, maxSpan = CoverMaxSpan)
  }

  /** Twin of [[coverRanked]]: [[coverSql]]'s brute-force gate CTEs
    * composed with the BM25 CTEs over the distinct cover terms, fused
    * by (query, doc) — every literal family derives from
    * [[coverFixtures]]/[[CoverMaxSpan]].
    */
  val coverRankedSql: String = {
    val parsed = coverFixtures.map { case (q, p) =>
      (q, p.trim.toLowerCase.split("\\s+").toSeq.distinct) }
    val (threes, rest) = parsed.partition(_._2.length == 3)
    val twos = rest.filter(_._2.length == 2)
    require(threes.nonEmpty && twos.nonEmpty && threes.size + twos.size == parsed.size,
      "the cover-ranked twin is written for query lengths 2 and 3 — extend " +
        "its CTE families before adding other lengths to coverFixtures")
    val v3 = threes.map { case (q, ts) =>
      s"('$q','${ts(0)}','${ts(1)}','${ts(2)}')" }.mkString(", ")
    val v2 = twos.map { case (q, ts) =>
      s"('$q','${ts(0)}','${ts(1)}')" }.mkString(", ")
    val qdVals = parsed.flatMap { case (q, ts) => ts.map(t => s"('$q','$t')") }
      .distinct.mkString(", ")
    val terms = parsed.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |        FROM documents),
       |pos AS (SELECT doc_id, t[i] AS term, i AS p
       |        FROM tok, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
       |q3(query_id, ta, tb, tc) AS (VALUES $v3),
       |q2(query_id, ta, tb) AS (VALUES $v2),
       |s3 AS (SELECT q.query_id, a.doc_id,
       |              min(greatest(a.p, b.p, c.p) - least(a.p, b.p, c.p)) AS span
       |       FROM q3 q
       |       JOIN pos a ON a.term = q.ta
       |       JOIN pos b ON b.term = q.tb AND b.doc_id = a.doc_id
       |       JOIN pos c ON c.term = q.tc AND c.doc_id = a.doc_id
       |       GROUP BY 1, 2),
       |s2 AS (SELECT q.query_id, a.doc_id, min(abs(a.p - b.p)) AS span
       |       FROM q2 q
       |       JOIN pos a ON a.term = q.ta
       |       JOIN pos b ON b.term = q.tb AND b.doc_id = a.doc_id
       |       GROUP BY 1, 2),
       |sp AS (SELECT * FROM s3 UNION ALL SELECT * FROM s2),
       |gate AS (SELECT query_id, doc_id, span FROM sp WHERE span <= $CoverMaxSpan),
       |qd(query_id, term) AS (VALUES $qdVals),
       |${Search.bm25ScoreCtes("qd", terms)},
       |fused AS (SELECT g.query_id, g.doc_id, g.span, sc.score
       |          FROM gate g JOIN sc ON g.query_id = sc.query_id
       |                              AND g.doc_id = sc.doc_id),
       |rk AS (SELECT query_id, doc_id, span, score,
       |              row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY score DESC, span, doc_id) AS rnk
       |       FROM fused)
       |SELECT query_id, rnk, doc_id, span, score FROM rk WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** The phrase fixture set: a common bigram, a trigram, and a trigram
    * that repeats within documents (multiple anchors per doc) — so the
    * occurrence count, not just the match set, is exercised.
    */
  val phraseFixtures: Seq[(String, String)] = Seq(
    "p1" -> "table hash",
    "p2" -> "stream table hash",
    "p3" -> "slow hash batch")

  /** Registered `search_phrase`: quoted-phrase retrieval from the same
    * persisted positional postings the BM25 rows serve from. The DuckDB
    * twin re-derives positions from the text (range + list-index — the
    * established ordinal idiom) and intersects anchors; hash equality
    * proves the positional payload round-trips the index exactly and
    * adjacency excludes every bag-of-words-only co-occurrence.
    */
  def phrasePersisted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    phraseTopK(spark, path, phraseFixtures, 10)
  }

  /** Twin of [[phrasePersisted]]: positions via range + list indexing,
    * anchors intersected per (query, doc), occurrences counted.
    */
  val phraseSql: String = {
    val qtVals = phraseFixtures.flatMap { case (q, phrase) =>
      phrase.trim.toLowerCase.split("\\s+").toSeq.zipWithIndex
        .map { case (t, i) => s"('$q', '$t', $i)" }
    }.mkString(", ")
    val qnVals = phraseFixtures.map { case (q, phrase) =>
      s"('$q', ${phrase.trim.toLowerCase.split("\\s+").length})" }.mkString(", ")
    s"""WITH q(query_id, term, off) AS (VALUES $qtVals),
       |qn(query_id, n) AS (VALUES $qnVals),
       |tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |        FROM documents),
       |pos AS (SELECT doc_id, t[i] AS term, i AS p
       |        FROM tok, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
       |hits AS (SELECT q.query_id, pos.doc_id, pos.p - q.off AS anchor, q.off
       |         FROM pos JOIN q USING (term)),
       |anch AS (SELECT query_id, doc_id, anchor, count(DISTINCT off) AS c
       |         FROM hits GROUP BY 1, 2, 3),
       |ph AS (SELECT a.query_id, a.doc_id, count(*) AS n_matches
       |       FROM anch a JOIN qn ON qn.query_id = a.query_id
       |       WHERE a.c = qn.n GROUP BY 1, 2),
       |rk AS (SELECT query_id, doc_id, n_matches,
       |              row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY n_matches DESC, doc_id) AS rnk
       |       FROM ph)
       |SELECT query_id, rnk, doc_id, n_matches FROM rk WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Relevance-FUSED phrase retrieval: adjacency gates candidates
    * ([[phraseTopK]]'s anchor intersection), BM25 over the phrase's
    * terms RANKS them, with the occurrence count as the adjacency boost
    * on score ties — how a real retrieval stack serves quoted queries
    * (occurrence count alone ranks a spammy doc repeating the phrase
    * over a relevant one; BM25 alone ranks bag-of-words co-occurrence
    * over the actual phrase). ONE tb-pruned postings fetch feeds all
    * three derivations: the gate reads pos, the scores read tf/dl, df
    * is the fetched posting-list length — the fused page never pays a
    * second scan, a corpus read, or a document re-read.
    */
  def phraseRankedTopK(spark: SparkSession, path: String,
      qs: Seq[(String, String)], k: Int): DataFrame = {
    import spark.implicits._
    val qterms = qs.flatMap { case (q, phrase) =>
      phrase.trim.toLowerCase.split("\\s+").toSeq.zipWithIndex
        .map { case (t, i) => (q, t, i.toLong) }
    }
    val qn = qs.map { case (q, phrase) =>
      (q, phrase.trim.toLowerCase.split("\\s+").length.toLong) }
    val terms = qterms.map(_._2).distinct
    val buckets = bucketsOf(spark, terms)
    // ONE generation resolve: gate, scoring constants and postings all
    // read the same committed state (the bm25TopK reader contract)
    val gen = graft.util.IndexMaint.liveGen(path)
    val stats = liveStatsAt(gen)
    val posts = indexDataAt(spark, gen)
      .filter(col("tb").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("pos"))
      .localCheckpoint() // ONE fetch: gate (pos), scores (tf/dl), df
    val hits = posts
      .join(broadcast(qterms.toDF("query_id", "term", "off")), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("off"),
        explode(col("pos")).as("p"))
      .withColumn("anchor", col("p") - col("off"))
    val gate = hits.groupBy(col("query_id"), col("doc_id"), col("anchor"))
      .agg(countDistinct(col("off")).as("c"))
      .join(broadcast(qn.toDF("query_id", "n")), Seq("query_id"))
      .filter(col("c") === col("n"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
    // BM25 over the phrase's DISTINCT terms — a repeated term scores
    // once (its tf already counts every occurrence)
    val qd = qterms.map(t => (t._1, t._2)).distinct
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("n_matches").desc, col("doc_id"))
    gate
      .join(Search.scores(shapeForScores(posts, qd, stats), Search.rationalIdf),
        Seq("query_id", "doc_id"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("n_matches"), col("score"))
      .orderBy("query_id", "rnk")
  }

  /** Registered `search_phrase_ranked`: the fused page over the same
    * persisted postings and the same fixtures as `search_phrase` — the
    * two rows differ ONLY in ranking (occurrence count vs BM25-gated),
    * which is exactly the claim under test.
    */
  def phraseRanked(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    phraseRankedTopK(spark, path, phraseFixtures, 10)
  }

  /** Twin of [[phraseRanked]]: [[phraseSql]]'s gate CTEs composed with
    * [[Search.textBm25Sql]]'s scoring CTEs over the distinct phrase
    * terms, fused by (query, doc) — both literal families DERIVE from
    * [[phraseFixtures]], so editing the fixtures cannot desynchronize
    * the twin.
    */
  val phraseRankedSql: String = {
    val qtVals = phraseFixtures.flatMap { case (q, phrase) =>
      phrase.trim.toLowerCase.split("\\s+").toSeq.zipWithIndex
        .map { case (t, i) => s"('$q', '$t', $i)" }
    }.mkString(", ")
    val qnVals = phraseFixtures.map { case (q, phrase) =>
      s"('$q', ${phrase.trim.toLowerCase.split("\\s+").length})" }.mkString(", ")
    val terms = phraseFixtures.flatMap(_._2.trim.toLowerCase.split("\\s+"))
      .distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH q(query_id, term, off) AS (VALUES $qtVals),
       |qn(query_id, n) AS (VALUES $qnVals),
       |qd AS (SELECT DISTINCT query_id, term FROM q),
       |tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |        FROM documents),
       |pos AS (SELECT doc_id, t[i] AS term, i AS p
       |        FROM tok, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)),
       |hits AS (SELECT q.query_id, pos.doc_id, pos.p - q.off AS anchor, q.off
       |         FROM pos JOIN q USING (term)),
       |anch AS (SELECT query_id, doc_id, anchor, count(DISTINCT off) AS c
       |         FROM hits GROUP BY 1, 2, 3),
       |ph AS (SELECT a.query_id, a.doc_id, count(*) AS n_matches
       |       FROM anch a JOIN qn ON qn.query_id = a.query_id
       |       WHERE a.c = qn.n GROUP BY 1, 2),
       |${Search.bm25ScoreCtes("qd", terms)},
       |fused AS (SELECT ph.query_id, ph.doc_id, ph.n_matches, sc.score
       |          FROM ph JOIN sc ON ph.query_id = sc.query_id
       |                         AND ph.doc_id = sc.doc_id),
       |rk AS (SELECT query_id, doc_id, n_matches, score,
       |              row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY score DESC, n_matches DESC,
       |                                          doc_id) AS rnk
       |       FROM fused)
       |SELECT query_id, rnk, doc_id, n_matches, score FROM rk WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin
  }

  // ---- session memo (rebuild-per-invocation harness contract) ---------------

  private val builtMemo =
    new graft.util.BoundedCache[(String, Long), String](max = 64)

  /** [[buildIndex]] memoized per (path, source fingerprint) — the
    * [[Ivf.buildIndexCached]] pattern verbatim (one BoundedCache idiom
    * across families): deterministic build, one derivation per session,
    * stale-fingerprint entries for the same path evicted on rebuild. A
    * memo miss whose persisted build key matches the live generation's
    * REOPENS it read-only (two sidecar reads — a miss must never
    * re-tokenize and rewrite durable postings); rebuild only on a
    * rewritten source or a keyless pre-sidecar generation.
    */
  def buildIndexCached(docs: DataFrame, srcDir: String, path: String): String = {
    val fp = graft.util.Fs.dirFingerprint(srcDir)
    val key = (path, fp)
    val diskKey = s"lex|src=$fp"
    builtMemo.memoized(key, graft.util.IndexMaint.lockFor(path))(
      k => k._1 == path && k != key) {
      if (!graft.util.IndexMaint.liveGenOpt(path)
        .exists(g => graft.util.IndexMaint.readBuildKey(g).contains(diskKey)))
        buildIndex(docs, path, Some(diskKey))
      path
    }
  }

  private[ops] def dropBuildMemo(path: String): Unit =
    builtMemo.evict(_._1 == path)

  /** Registered `search_bm25_persisted`: build the postings once, serve
    * the fixture queries from them. The oracle is `text_bm25`'s twin
    * VERBATIM — hash equality IS the persisted ≡ in-memory claim.
    */
  def bm25Persisted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    bm25TopK(spark, path, Search.fixtureQueries, 5)
  }

  /** Registered `search_bm25_pruned`: MaxScore-pruned serving over the
    * SAME persisted index as `search_bm25_persisted` — the oracle is
    * the IDENTICAL unfiltered twin, so the hash claim is "pruning
    * changed nothing but the plan". The query set is the fixture set
    * plus the one SKEWED query the synthetic corpus admits (q4: 'dup'
    * at ~5% df seeds a θ the ~77%-df terms' bounds cannot reach, so
    * their posting lists hit the score aggregation only ∩ q4's
    * candidates); the uniform-df q1–q3 pin the no-skew degrade — all
    * under one oracle.
    */
  def bm25Pruned(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    bm25PrunedTopK(spark, path, Search.prunedFixtureQueries, 5)
  }

  /** Registered `search_bm25_filtered`: metadata-gated serving — rank
    * only `lang = 'en'` docs with GLOBAL scoring constants (the
    * [[bm25FilteredTopK]] contract). Shares the persisted index with
    * `search_bm25_persisted`; the allow-set is external (the index
    * stores no metadata — the predicate lives with the documents
    * table, where schema evolution belongs).
    */
  def bm25Filtered(spark: SparkSession, dir: String): DataFrame = {
    val d = Catalog(spark, dir).ref("documents")
    val path = graft.util.Fs.sessionTempDir("lex_index", dir)
    buildIndexCached(d.select(col("doc_id"), col("text")),
      s"$dir/documents.parquet", path)
    bm25FilteredTopK(spark, path, Search.fixtureQueries, 5,
      d.filter(col("lang") === "en").select(col("doc_id")))
  }

  /** Registered `search_bm25_deleted`: takedown on the persisted
    * postings — build, tombstone ~14% of the corpus, serve. The oracle
    * is the in-memory twin over the SURVIVING docs only, so the hash
    * claim covers the whole delete story at once: tombstoned postings
    * leave the rankings, df shrinks to surviving posting lengths, and
    * n_docs/avgdl track the takedown adjustment. Idempotent across
    * bench replays: the memoized build plus the set-union tombstones
    * (and their derivable stats recompute) make a second pass a no-op.
    */
  def bm25Deleted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index_del", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    val doomed = docs.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    deleteIds(path, doomed)
    bm25TopK(spark, path, Search.fixtureQueries, 5)
  }

  /** Registered `search_bm25_upserted`: re-crawl on the persisted
    * postings — every % 7 == 3 doc whose successor exists takes its
    * successor's text via ONE [[upsertBatchIdempotent]] (a donor join,
    * so the replacement texts are real table values). The oracle is the
    * in-memory twin over the EFFECTIVE corpus: old postings invisible,
    * replacements scored with their new tf/dl, n_docs unchanged (an
    * update, not a shrink), Σdl shifted by the re-crawl — the whole
    * delete-then-insert contract in one hash claim. Replays no-op.
    */
  /** Registered `search_bm25_merged`: the tiered-merge lifecycle under
    * the oracle — four append waves fill a tier, a takedown hits both
    * the base AND the first wave, then [[mergeSegments]] coalesces the
    * four append segments into one, physically reclaiming the wave's
    * tombstoned docs and recomputing the doc-dir/stats/term-dictionary
    * sidecars from survivors. The DuckDB twin knows nothing of
    * segments: it is BM25 over the effective corpus (base minus the
    * % 13 == 5 takedown, plus the four inserted strata minus the
    * deleted slice of wave 0) — hash equality proves the merge is
    * invisible to serving: constants, df, ranks and reclamation all
    * exact. Replay-safe: appends/deletes are idempotent, and any
    * further merge a re-run fires (base and the merged wave can share
    * a factor-4 tier, and minMerge=2 lets two segments coalesce) is
    * serving-invariant by the same per-segment tombstone scope the
    * oracle hash pins.
    */
  def bm25Merged(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index_mrg", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    (0 until 4).foreach { b =>
      appendBatchIdempotent(path,
        docs.filter(col("doc_id") % 9 === b)
          .select((col("doc_id") + lit((b + 1) * 3000000L)).as("doc_id"),
            col("text")),
        s"mrgq:app:$b")
    }
    val doomed = docs.filter(col("doc_id") % 13 === 5).select(col("doc_id"))
      .unionAll(docs.filter(col("doc_id") % 9 === 0 && col("doc_id") % 4 === 1)
        .select((col("doc_id") + lit(3000000L)).as("doc_id")))
      .distinct().collect().map(_.getLong(0)).toSeq
    deleteIds(path, doomed)
    // minMerge=2 + two steps: fires even if the near-equal wave sizes
    // straddle a tier boundary — any merge outcome is serving-invariant,
    // which is exactly what the oracle asserts
    val mp = MergePolicy(factor = 4, minMerge = 2, maxMerge = 8)
    mergeSegments(spark, path, mp)
    mergeSegments(spark, path, mp)
    bm25TopK(spark, path, Search.fixtureQueries, 5)
  }

  def bm25Upserted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index_ups", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    val donor = docs.select(col("doc_id").as("did"), col("text").as("dtext"))
    val batch = docs.filter(col("doc_id") % 7 === 3)
      .join(donor, col("did") === col("doc_id") + 1)
      .select(col("doc_id"), col("dtext").as("text"))
    upsertBatchIdempotent(path, batch, "upsq:1")
    bm25TopK(spark, path, Search.fixtureQueries, 5)
  }

  /** Registered `search_bm25_retention`: the corpus-scale delete on the
    * postings — a whole stratum (% 5 == 1) leaves via [[deleteWhere]]'s
    * one filtered compaction, and BM25 must equal the in-memory twin
    * over survivors (stats, df and ranks all track) — the same claim as
    * `search_bm25_deleted` through the rewrite path the tombstone
    * contract hands off to at retention scale. Replay-idempotent:
    * re-filtering rewrites identical rows.
    */
  def bm25Retention(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index_ret", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    val sweepKey = "deleteWhere|retention:doc_id%5==1"
    graft.util.IndexMaint.sweepOnce(path, s"$dir/documents.parquet", sweepKey) {
      deleteWhere(spark, path, col("doc_id") % 5 === 1, Some(sweepKey))
    }
    bm25TopK(spark, path, Search.fixtureQueries, 5)
  }

  /** Registered `search_bm25_asof`: snapshot-isolated serving — pin the
    * freshly-built index, hit it with a mixed CDC wave (inserts,
    * deletes, donor-text upserts) AND a compaction (a full survivor
    * rewrite into a NEW generation), then serve AS OF the pin. The
    * oracle is the twin over the ORIGINAL corpus: hash equality proves
    * the manifest filters every later segment out, resurrects nothing
    * the pin-time tombstones had hidden (there were none), keeps the
    * pin-time scoring constants, and that the pinned generation
    * survived the rewrite's reap. Replays no-op on the durable CDC
    * token and the idempotent pin; compaction re-runs are rewrites of
    * identical survivors.
    */
  /** The mixed post-pin CDC wave `search_bm25_asof` and
    * `search_bm25_exported` both apply — ONE definition, because both
    * rows claim the same original-corpus oracle precisely because
    * their waves are identical; two hand-maintained copies could
    * silently diverge.
    */
  private def asOfCdcWave(docs: DataFrame): DataFrame = {
    val donor = docs.select(col("doc_id").as("did"), col("text").as("dtext"))
    docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
        lit("insert").as("op"))
      .unionByName(docs.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), col("text"), lit("delete").as("op")))
      .unionByName(docs
        .filter(col("doc_id") % 5 === 2 && col("doc_id") % 7 =!= 3)
        .join(donor, col("did") === col("doc_id") + 1, "left")
        .select(col("doc_id"), coalesce(col("dtext"), col("text")).as("text"),
          lit("upsert").as("op")))
  }

  def bm25AsOf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index_asof", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    pinIndexIfAbsent(path, "pre")
    // one-shot post-pin wave (sweepOnce — the Ivf.ivfAsOf rationale):
    // the CDC token already no-ops the wave on replay, but the
    // compaction used to re-rewrite identical survivors every bench
    // pass; the keyed compaction makes the skip durable
    graft.util.IndexMaint.sweepOnce(path, s"$dir/documents.parquet",
      "wave|asofq") {
      applyCdcIdempotent(path, asOfCdcWave(docs), "asof:cdc:1")
      compactIndex(spark, path, Some("wave|asofq"))
      ()
    }
    bm25TopKAsOf(spark, path, "pre", Search.fixtureQueries, 5)
  }

  /** Registered `search_bm25_exported`: the snapshot-EXPORT lifecycle
    * under the oracle — pin the fresh index, hit the source with the
    * same mixed CDC wave + compaction as [[bm25AsOf]], then
    * [[exportIndexSnapshot]] the pin into a brand-new root and serve
    * LIVE from the export. The oracle is the twin over the ORIGINAL
    * corpus (identical to `search_bm25_asof`'s): hash equality proves
    * the export carried exactly the manifest view — segments, pin-time
    * tombstones, pin-time scoring constants — and none of the source's
    * later mutations. Replay-safe: the CDC token and pin are
    * idempotent, and a re-run skips the export when the destination
    * root already committed (first-export-wins, the pin is immutable).
    */
  def bm25Exported(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index_expsrc", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    pinIndexIfAbsent(path, "pre")
    // one-shot post-pin wave (sweepOnce — the Ivf.ivfAsOf rationale)
    graft.util.IndexMaint.sweepOnce(path, s"$dir/documents.parquet",
      "wave|expq") {
      applyCdcIdempotent(path, asOfCdcWave(docs), "expq:cdc:1")
      compactIndex(spark, path, Some("wave|expq"))
      ()
    }
    val dest = graft.util.Fs.sessionTempDir("lex_index_expdst", dir)
    if (graft.util.IndexMaint.liveGenOpt(dest).isEmpty)
      exportIndexSnapshot(path, "pre", dest)
    bm25TopK(spark, dest, Search.fixtureQueries, 5)
  }

  /** Registered `stream_bm25_cdc`: the lexical index tracks a mutating
    * corpus as a live CDC stream — three id-disjoint op-tagged batches
    * (inserts: +1000000-keyed copies of the %11==0 docs; deletes: the
    * %7==3 non-upsert stratum; upserts: %5==2 docs re-crawled with
    * their successor's text — all real table values) drain through
    * [[graft.streaming.Ingest]] ([[docIngest]]), each applied as one atomic
    * token-guarded mutation. The oracle is the in-memory BM25 twin
    * over the EFFECTIVE corpus: hash equality proves deleted postings
    * left stats, df and ranks, upserted docs score with their new
    * tf/dl, and inserts serve — independent of how the stream batched.
    * Bench replays no-op on the durable `docs:` tokens.
    */
  def bm25StreamCdc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index_cdc", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    val donor = docs.select(col("doc_id").as("did"), col("text").as("dtext"))
    val batches = Seq(
      docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit("insert").as("op")),
      docs.filter(col("doc_id") % 7 === 3 && col("doc_id") % 5 =!= 2)
        .select(col("doc_id"), col("text"), lit("delete").as("op")),
      docs.filter(col("doc_id") % 5 === 2)
        .join(donor, col("did") === col("doc_id") + 1)
        .select(col("doc_id"), col("dtext").as("text"), lit("upsert").as("op")))
    // one-shot drain with a DURABLE watermark (drainOnce): every
    // micro-batch's mutation is token-guarded, so a replayed drain
    // applies NOTHING — it only re-paid the batch staging writes and
    // the AvailableNow scaffolding (checkpoint commits, offset log).
    // The skip decision is proven by the root's applied-drains sidecar
    // (committed atomically after the drain completes), never by the
    // in-JVM memo alone: a fresh JVM over the same index root honors
    // it, a crash mid-drain leaves no record and re-runs.
    graft.util.IndexMaint.drainOnce(path, Seq(s"$dir/documents.parquet"),
      "drain|docsq") {
      val tmp = java.nio.file.Files.createTempDirectory("stream_bm25_cdc").toString
      try graft.streaming.Ingest.drain(spark,
        graft.util.Fs.stageBatchFiles(tmp, "src", batches), path, docIngest)
      finally graft.util.Fs.deleteRecursively(tmp)
      ()
    }
    bm25TopK(spark, path, Search.fixtureQueries, 5).localCheckpoint()
  }

  /** Registered `search_hybrid_rrf`: hybrid retrieval over the two
    * persisted indexes' access patterns — stage 1 ranks lexically from
    * the postings ([[bm25TopK]]), stage 2 ranks semantically by
    * pseudo-relevance feedback (the classic PRF shape: the query vector
    * is the mean embedding of the top-3 embedded lexical hits, scored
    * against the embedding corpus), and the two rankings fuse by
    * reciprocal-rank fusion ([[Similarity.rrfFusion]]'s formula). This
    * is the standard RAG serving composition (BM25 ∥ vectors → RRF)
    * with every stage exact-replayable: rank-ordered folds for the
    * centroid, the established left-to-right dot/norm folds for the
    * scores, 1/(60+r) for the fusion.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    hybridCore(spark, path, hybridVecIndex(spark, dir))
  }

  /** The hybrid stack's PERSISTED vector index — built once per session
    * beside the lexical postings, so BOTH retrieval stages serve from
    * index access paths: the lexical stage reads O(query terms) posting
    * buckets, and the semantic stage reads the IVF index through the
    * probed-cell screen instead of scanning the embedding corpus (the
    * one O(corpus) serving-path plan this composition used to carry).
    * The registered rows screen at FULL probe (nprobe = kCells), which
    * is provably exact (IvfSpec: full probe ≡ brute force), so the
    * oracle stays hash-identical; production dials nprobe down and the
    * screen's cid partition pruning takes over.
    */
  private def hybridVecIndex(spark: SparkSession, dir: String): Ivf.IvfIndex = {
    val emb = Catalog(spark, dir).ref("embeddings")
      .select(col("vec_id"), col("embedding"))
    Ivf.buildIndexCached(emb, s"$dir/embeddings.parquet",
      graft.util.Fs.sessionTempDir("hybrid_ivf", dir), kCells = 16, iters = 0)
  }

  /** Registered `search_hybrid_rrf_deleted`: the takedown honored
    * ACROSS the retrieval stack — the same doc ids leave the lexical
    * index (tombstones reaching stats, df and ranks through the one
    * shared read) and the semantic candidate set, and the fused page
    * must equal the closed form over survivors on BOTH sides. This is
    * the GDPR/takedown claim a RAG serving stack actually needs: not
    * "each index can delete" but "no stage of the composed query can
    * resurrect a deleted document".
    */
  def hybridRrfDeleted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val path = graft.util.Fs.sessionTempDir("lex_index_hd", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", path)
    // a whole stratum is a corpus-scale delete: the rewrite path, not a
    // driver-collected id list (the tombstone cap exists for a reason);
    // the bounded-takedown route through hybrid is already pinned by
    // search_bm25_deleted + the tombstone specs
    val sweepKey = "deleteWhere|takedown:doc_id%6==2"
    graft.util.IndexMaint.sweepOnce(path, s"$dir/documents.parquet", sweepKey) {
      deleteWhere(spark, path, col("doc_id") % 6 === 2, Some(sweepKey))
    }
    // the SAME takedown on the vector index — the semantic stage now
    // honors it through the index's own delete machinery (a filtered
    // compaction here; tombstones for a bounded list), not a predicate
    // bolted onto a corpus scan: no stage of the composed query can
    // resurrect a deleted doc because no stage reads anything but the
    // two indexes. deleteWhereCached memoizes the POST-REWRITE handle —
    // pairing the evictable build cache with a separately-memoized
    // sweep is the replay-resurrection bug (see its scaladoc).
    val served = Ivf.deleteWhereCached(
      Catalog(spark, dir).ref("embeddings").select(col("vec_id"), col("embedding")),
      s"$dir/embeddings.parquet",
      graft.util.Fs.sessionTempDir("hybrid_ivf_hd", dir),
      kCells = 16, iters = 0, doomed = col("vec_id") % 6 === 2)
    hybridCore(spark, path, served)
  }

  private def hybridCore(spark: SparkSession, path: String,
      vecIndex: Ivf.IvfIndex): DataFrame =
    // registered rows run at FULL probe: provably exact (IvfSpec), so
    // the oracle hash holds; production (and the ScaleProbe line) dials
    // nprobe down onto the screen's cid partition pruning
    hybridPage(spark, path, vecIndex, Search.fixtureQueries,
      nprobe = vecIndex.centroids.size)

  /** The hybrid serving page over the two persisted indexes at an
    * explicit probe width — the production entry point ([[hybridRrf]]
    * is this at full probe over the fixture queries).
    */
  def hybridPage(spark: SparkSession, path: String, vecIndex: Ivf.IvfIndex,
      qs: Seq[(String, String)], nprobe: Int): DataFrame =
    hybridPageOver(spark,
      bm25TopK(spark, path, qs, 10),
      Ivf.indexData(spark, vecIndex.path)
        .select(col("vec_id"), col("embedding")),
      batch => Ivf.screenBatchDouble(spark, vecIndex, batch,
        k = 10, nprobe = nprobe))

  /** The fused page against the snapshots pinned as `lexLabel` /
    * `vecLabel` — every stage of the composition served as-of: lexical
    * ranks from the pinned postings manifest, PRF embeddings fetched
    * from the pinned vector manifest, the semantic screen probed
    * against the pinned centroids and candidate set. Bit-identical to
    * the page at pin time, whatever both indexes have absorbed since.
    */
  def hybridPageAsOf(spark: SparkSession, path: String, lexLabel: String,
      vecPath: String, vecLabel: String,
      qs: Seq[(String, String)], nprobe: Int): DataFrame = {
    // resolve the vector label ONCE: the PRF embedding fetch and the
    // semantic screen must observe the same manifest (an unpin racing
    // two independent resolutions could split them)
    val vsnap = graft.util.IndexMaint.readSnapshot(vecPath, vecLabel)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot pinned as '$vecLabel' under $vecPath"))
    val vgen = graft.util.IndexMaint.snapshotGenDir(vecPath, vsnap)
    hybridPageOver(spark,
      bm25TopKAsOf(spark, path, lexLabel, qs, 10),
      Ivf.snapshotData(spark, vgen, vsnap)
        .select(col("vec_id"), col("embedding")),
      batch => Ivf.screenBatchSnapshot(spark, vgen, vsnap, batch,
        k = 10, nprobe = nprobe, queryIsDouble = true))
  }

  /** The fusion body over EXPLICIT stage providers: the live path and
    * the pinned-snapshot path differ only in where each stage reads —
    * the PRF arithmetic, both rank derivations and the RRF fold are the
    * ONE implementation, so the as-of page cannot drift from the live
    * one.
    */
  private def hybridPageOver(spark: SparkSession, lex0: DataFrame,
      emb: DataFrame, semScreen: DataFrame => DataFrame): DataFrame = {
    val lex = lex0
      .localCheckpoint() // feeds PRF, the fusion's r1 side — one derivation
    // the PRF embedding fetch reads the VECTOR INDEX, not the raw
    // corpus: the index's effective contents (tombstones subtracted,
    // upserts re-embedded, CDC inserts present) are exactly the corpus
    // the composed query is supposed to see, and no hybrid stage
    // touches anything but the two index directories at serving time —
    // the fetch itself is a ≤30-row broadcast join against the
    // column-pruned index scan
    // PRF centroid: the top-3 lexical hits THAT HAVE embeddings, mean'd
    // coordinate-wise with a rank-ordered fold (cross-engine-exact)
    val lexEmb = lex.join(emb, lex("doc_id") === emb("vec_id"))
      .select(col("query_id"), col("rnk"), col("embedding"))
      .withColumn("erank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("rnk"))))
      .filter(col("erank") <= 3)
    // ONE per-query aggregation: collect the ≤3 (erank, embedding)
    // pairs and fold each coordinate rank-ordered on the collected
    // array — the same additions in the same erank order, then the same
    // divide, as the previous posexplode → (query, pos)-groupBy →
    // query-groupBy chain, with one exchange instead of two (the
    // exploded dim-wise shuffle is gone; per-query rows are bounded by
    // the PRF depth, so the collected array is O(3·dim))
    val centroid = lexEmb
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("erank"), col("embedding")))).as("es"))
      .select(col("query_id"), expr(
        // es[0]: SQL array indexing is ZERO-based (GetArrayItem) — and
        // under ANSI an out-of-range index THROWS, so a single-hit
        // query (es has 1 element) must read the first, not "second".
        // The empty-top guard: an EMPTY top embedding would make
        // sequence(0, -1) emit [0, -1] and element_at(e, 0) always
        // errors under ANSI — degrade to an empty centroid (no semantic
        // candidates for that query) exactly like the old posexplode
        // form did; values are bit-identical whenever the top embedding
        // is non-empty, which the oracle fixtures pin.
        """IF(size(es[0].embedding) = 0, cast(array() as array<double>),
          |  transform(sequence(0, size(es[0].embedding) - 1), p ->
          |    aggregate(es, 0.0D,
          |      (acc, e) -> acc + cast(element_at(e.embedding, p + 1) as double))
          |    / size(es)))""".stripMargin).as("qvec"))
    // semantic ranking THROUGH THE PERSISTED IVF INDEX — the probed-cell
    // screen, not a corpus scan: rank order equals the closed form's
    // dot/|candidate| (cosine divides it by the per-query |centroid|
    // constant; same double folds, same vec_id tie-break), and the
    // registered rows run at FULL probe, which IvfSpec proves exact, so
    // the oracle hash holds while production dials nprobe down onto the
    // screen's cid partition pruning
    val sem = semScreen(
        centroid.select(col("query_id").as("vec_id"), col("qvec").as("embedding")))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").cast("long").as("r2"))
    // reciprocal-rank fusion of the two lists (Cormack et al. 2009)
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    lex.select(col("query_id"), col("doc_id"), col("rnk").as("r1"))
      .join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("r1")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("r2")), lit(0.0))).as("score"))
      .withColumn("rnk", row_number().over(wf).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score"))
      .orderBy("query_id", "rnk")
  }

  /** Registered `search_hybrid_cdc`: the FUSED page after a CDC drain —
    * the actually-served artifact of a live RAG stack. The same
    * op-tagged mutation wave lands on BOTH indexes as two CDC streams
    * through [[graft.streaming.Ingest]] (documents by [[docIngest]],
    * vectors by [[Ivf.cdcIngest]]): inserts (+1000000-keyed copies of
    * the %11==0 docs with their embeddings), deletes (the %7==3
    * non-upsert stratum from both sides), upserts (%5==2 re-crawled
    * with the successor's text AND re-embedded with the successor's
    * vector — all real table values). The oracle is the hybrid twin
    * over the EFFECTIVE corpus on both relations, so hash equality
    * lifts the per-index CDC claims (`stream_bm25_cdc`,
    * `stream_ivf_cdc`) to the composition: lexical ranks, PRF
    * centroids, semantic ranks and the fused page all track the
    * mutation wave, independent of how either stream batched. Replays
    * no-op on the durable `docs:`/`cdc:` tokens.
    */
  def hybridCdc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val emb = Catalog(spark, dir).ref("embeddings")
      .select(col("vec_id"), col("embedding"))
    val lexPath = graft.util.Fs.sessionTempDir("lex_index_hcdc", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", lexPath)
    val vecPath = graft.util.Fs.sessionTempDir("hybrid_ivf_cdc", dir)
    Ivf.buildIndexCached(emb, s"$dir/embeddings.parquet", vecPath,
      kCells = 16, iters = 0)
    val docDonor = docs.select(col("doc_id").as("did"), col("text").as("dtext"))
    val vecDonor = emb.select(col("vec_id").as("did"), col("embedding").as("demb"))
    val docBatches = Seq(
      docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit("insert").as("op")),
      docs.filter(col("doc_id") % 7 === 3 && col("doc_id") % 5 =!= 2)
        .select(col("doc_id"), col("text"), lit("delete").as("op")),
      docs.filter(col("doc_id") % 5 === 2)
        .join(docDonor, col("did") === col("doc_id") + 1)
        .select(col("doc_id"), col("dtext").as("text"), lit("upsert").as("op")))
    val vecBatches = Seq(
      emb.filter(col("vec_id") % 11 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
          lit("insert").as("op")),
      emb.filter(col("vec_id") % 7 === 3 && col("vec_id") % 5 =!= 2)
        .select(col("vec_id"), col("embedding"), lit("delete").as("op")),
      emb.filter(col("vec_id") % 5 === 2)
        .join(vecDonor, col("did") === col("vec_id") + 1)
        .select(col("vec_id"), col("demb").as("embedding"),
          lit("upsert").as("op")))
    // one-shot drains with a DURABLE watermark (drainOnce — the
    // bm25StreamCdc rationale): every micro-batch mutation is
    // token-guarded, so a replayed drain applies nothing; the skip is
    // proven by the lex root's applied-drains sidecar. The key folds
    // BOTH source fingerprints — this body drains the vector index
    // from embeddings-derived batches too, so an in-place rewrite of
    // either corpus invalidates the watermark and re-drains both.
    graft.util.IndexMaint.drainOnce(lexPath,
      Seq(s"$dir/documents.parquet", s"$dir/embeddings.parquet"),
      "drain|hcdcq") {
      val tmp = java.nio.file.Files.createTempDirectory("hybrid_cdc").toString
      try {
        graft.streaming.Ingest.drain(spark,
          graft.util.Fs.stageBatchFiles(tmp, "docsrc", docBatches), lexPath,
          docIngest)
        // checkEvery past the stream length: a drift-fired rebalance would
        // retrain the quantizer the oracle froze (the stream_ivf_cdc note)
        graft.streaming.Ingest.drain(spark,
          graft.util.Fs.stageBatchFiles(tmp, "vecsrc", vecBatches),
          Ivf.loadIndex(vecPath), Ivf.cdcIngest, checkEvery = 100)
      } finally graft.util.Fs.deleteRecursively(tmp)
      ()
    }
    hybridCore(spark, lexPath, Ivf.loadIndex(vecPath)).localCheckpoint()
  }

  /** Registered `search_hybrid_asof`: the FUSED page served as-of —
    * the reproducibility claim a RAG evaluation actually needs: "re-run
    * yesterday's eval against yesterday's indexes", with both indexes
    * having since absorbed a full CDC wave. Pin both indexes, land the
    * same op-tagged wave on each (inserts, deletes, donor upserts — the
    * `search_hybrid_cdc` shape as one atomic batch per side), then
    * serve [[hybridPageAsOf]]. The oracle is [[hybridRrfSql]] — the
    * closed form over the ORIGINAL corpus — so hash equality proves
    * every stage (lexical ranks, PRF centroids, semantic screen,
    * fusion) reads the pinned manifests and nothing newer. Replays
    * no-op on the CDC tokens and the idempotent pins.
    */
  def hybridAsOf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val emb = Catalog(spark, dir).ref("embeddings")
      .select(col("vec_id"), col("embedding"))
    val lexPath = graft.util.Fs.sessionTempDir("lex_index_hasof", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", lexPath)
    val vecPath = graft.util.Fs.sessionTempDir("hybrid_ivf_asof", dir)
    Ivf.buildIndexCached(emb, s"$dir/embeddings.parquet", vecPath,
      kCells = 16, iters = 0)
    // ONE atomic pair pin (both leases held): no wave can land between
    // the lexical and vector snapshots; a replay keeps the first pair
    pinHybrid(lexPath, vecPath, "pre")
    val docDonor = docs.select(col("doc_id").as("did"), col("text").as("dtext"))
    val vecDonor = emb.select(col("vec_id").as("did"), col("embedding").as("demb"))
    val docBatch = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        lit("insert").as("op"))
      .unionByName(docs.filter(col("doc_id") % 7 === 3 && col("doc_id") % 5 =!= 2)
        .select(col("doc_id"), col("text"), lit("delete").as("op")))
      .unionByName(docs.filter(col("doc_id") % 5 === 2)
        .join(docDonor, col("did") === col("doc_id") + 1)
        .select(col("doc_id"), col("dtext").as("text"), lit("upsert").as("op")))
    val vecBatch = emb.filter(col("vec_id") % 11 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
        lit("insert").as("op"))
      .unionByName(emb.filter(col("vec_id") % 7 === 3 && col("vec_id") % 5 =!= 2)
        .select(col("vec_id"), col("embedding"), lit("delete").as("op")))
      .unionByName(emb.filter(col("vec_id") % 5 === 2)
        .join(vecDonor, col("did") === col("vec_id") + 1)
        .select(col("vec_id"), col("demb").as("embedding"),
          lit("upsert").as("op")))
    applyCdcIdempotent(lexPath, docBatch, "hasof:cdc:1")
    Ivf.applyCdcIdempotent(Ivf.loadIndex(vecPath), vecBatch, "hasof:cdc:1")
    hybridPageAsOf(spark, lexPath, "pre", vecPath, "pre",
      Search.fixtureQueries, nprobe = 16)
  }

  /** Registered `search_hybrid_exported`: the atomic PAIR-export
    * lifecycle under the oracle — [[hybridAsOf]]'s setup (pinHybrid,
    * then the same mixed CDC wave on both sides), finished by
    * [[exportHybridSnapshot]] into two brand-new roots and served as a
    * LIVE [[hybridPage]] from the exported pair. The oracle is
    * [[hybridRrfSql]], the closed form over the ORIGINAL corpus —
    * hash equality proves the export carried exactly the pinned wave on
    * BOTH sides (lexical scoring constants included, via the
    * removed-stats fixup) and none of the sources' later mutations.
    * Replay-safe end to end: the pair pin keeps its first snapshot, the
    * CDC tokens no-op, and a re-run's exportPair recognizes both
    * committed destinations structurally (hard-link inode identity) and
    * skips them — the crash-heal path, exercised on every bench rerun.
    */
  def hybridExported(spark: SparkSession, dir: String): DataFrame = {
    val docs = Catalog(spark, dir).ref("documents").select(col("doc_id"), col("text"))
    val emb = Catalog(spark, dir).ref("embeddings")
      .select(col("vec_id"), col("embedding"))
    val lexPath = graft.util.Fs.sessionTempDir("lex_index_hexp", dir)
    buildIndexCached(docs, s"$dir/documents.parquet", lexPath)
    val vecPath = graft.util.Fs.sessionTempDir("hybrid_ivf_hexp", dir)
    Ivf.buildIndexCached(emb, s"$dir/embeddings.parquet", vecPath,
      kCells = 16, iters = 0)
    pinHybrid(lexPath, vecPath, "pre")
    val docDonor = docs.select(col("doc_id").as("did"), col("text").as("dtext"))
    val vecDonor = emb.select(col("vec_id").as("did"), col("embedding").as("demb"))
    val docBatch = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        lit("insert").as("op"))
      .unionByName(docs.filter(col("doc_id") % 7 === 3 && col("doc_id") % 5 =!= 2)
        .select(col("doc_id"), col("text"), lit("delete").as("op")))
      .unionByName(docs.filter(col("doc_id") % 5 === 2)
        .join(docDonor, col("did") === col("doc_id") + 1)
        .select(col("doc_id"), col("dtext").as("text"), lit("upsert").as("op")))
    val vecBatch = emb.filter(col("vec_id") % 11 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
        lit("insert").as("op"))
      .unionByName(emb.filter(col("vec_id") % 7 === 3 && col("vec_id") % 5 =!= 2)
        .select(col("vec_id"), col("embedding"), lit("delete").as("op")))
      .unionByName(emb.filter(col("vec_id") % 5 === 2)
        .join(vecDonor, col("did") === col("vec_id") + 1)
        .select(col("vec_id"), col("demb").as("embedding"),
          lit("upsert").as("op")))
    applyCdcIdempotent(lexPath, docBatch, "hexp:cdc:1")
    Ivf.applyCdcIdempotent(Ivf.loadIndex(vecPath), vecBatch, "hexp:cdc:1")
    val dLex = graft.util.Fs.sessionTempDir("lex_index_hexpdl", dir)
    val dVec = graft.util.Fs.sessionTempDir("hybrid_ivf_hexpdv", dir)
    exportHybridSnapshot(lexPath, vecPath, "pre", dLex, dVec)
    hybridPage(spark, dLex, Ivf.loadIndex(dVec), Search.fixtureQueries, nprobe = 16)
  }

  /** Twin of [[hybridRrf]]: `text_bm25`'s twin as the lexical CTE, the
    * PRF centroid as rank-ordered folds, the semantic scores as the
    * established dot/norm folds, RRF composed exactly.
    */
  val hybridRrfSql: String = hybridRrfSqlOver("documents", "embeddings")

  /** Twin of [[hybridRrfDeleted]]: the same composition with BOTH
    * relations restricted to survivors at the source.
    */
  val hybridRrfDeletedSql: String = hybridRrfSqlOver(
    "(SELECT * FROM documents WHERE doc_id % 6 <> 2)",
    "(SELECT * FROM embeddings WHERE vec_id % 6 <> 2)")

  /** Twin of [[hybridCdc]]: the same composition over the EFFECTIVE
    * corpus on both relations — deletes excluded at the source, upserts
    * carrying the donor text/vector, inserts unioned in.
    */
  val hybridCdcSql: String = hybridRrfSqlOver(
    """(SELECT d.doc_id,
      |        CASE WHEN d.doc_id % 5 = 2 AND n.doc_id IS NOT NULL
      |             THEN n.text ELSE d.text END AS text
      | FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
      | WHERE NOT (d.doc_id % 7 = 3 AND d.doc_id % 5 <> 2)
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id, text
      | FROM documents WHERE doc_id % 11 = 0)""".stripMargin,
    """(SELECT e.vec_id,
      |        CASE WHEN e.vec_id % 5 = 2 AND m.vec_id IS NOT NULL
      |             THEN m.embedding ELSE e.embedding END AS embedding
      | FROM embeddings e LEFT JOIN embeddings m ON m.vec_id = e.vec_id + 1
      | WHERE NOT (e.vec_id % 7 = 3 AND e.vec_id % 5 <> 2)
      | UNION ALL
      | SELECT vec_id + 1000000 AS vec_id, embedding
      | FROM embeddings WHERE vec_id % 11 = 0)""".stripMargin)

  private def hybridRrfSqlOver(docsRel: String, embRel: String): String = {
    val vals = Search.fixtureQueries.map { case (q, t) => s"('$q', '$t')" }.mkString(", ")
    val terms = Search.fixtureQueries.map(_._2).distinct.map(t => s"'$t'").mkString(", ")
    s"""WITH q(query_id, term) AS (VALUES $vals),
       |tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
       |        FROM $docsRel),
       |stats AS (SELECT count(*) AS n_docs, sum(len(t)) AS sum_dl FROM tok),
       |tl AS (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok),
       |tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM tl
       |       WHERE term IN ($terms) GROUP BY 1, 2, 3),
       |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |st AS (
       |  SELECT q.query_id, tf.doc_id,
       |         ((stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)) *
       |         ((tf.tf * 2.25) /
       |          (tf.tf + 1.25 * (0.25 + 0.75 * (tf.dl / (stats.sum_dl / stats.n_docs))))) AS s
       |  FROM tf JOIN dfx USING (term) JOIN q USING (term) CROSS JOIN stats),
       |sc AS (SELECT query_id, doc_id,
       |              list_reduce(list_sort(list(s)), (p, q) -> p + q) AS score
       |       FROM st GROUP BY 1, 2),
       |lex AS (SELECT query_id, doc_id, score,
       |               row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY score DESC, doc_id) AS rnk
       |        FROM sc QUALIFY rnk <= 10),
       |en AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |       FROM $embRel),
       |lexemb AS (
       |  SELECT l.query_id, en.vec,
       |         row_number() OVER (PARTITION BY l.query_id ORDER BY l.rnk) AS erank
       |  FROM lex l JOIN en ON en.vec_id = l.doc_id),
       |top3 AS (SELECT query_id, vec, erank FROM lexemb WHERE erank <= 3),
       |cpos AS (
       |  SELECT query_id, i AS pos,
       |         list_sum(list(vec[i] ORDER BY erank)) / count(*) AS mval
       |  FROM top3, LATERAL (SELECT unnest(range(1, len(vec) + 1)) AS i)
       |  GROUP BY query_id, i),
       |cent AS (SELECT query_id, list(mval ORDER BY pos) AS qvec
       |         FROM cpos GROUP BY query_id),
       |sem AS (
       |  SELECT query_id, vec_id AS doc_id, r2 FROM (
       |    SELECT c.query_id, en.vec_id,
       |           row_number() OVER (PARTITION BY c.query_id ORDER BY
       |             list_sum(list_transform(range(1, len(qvec) + 1), i -> qvec[i] * vec[i]))
       |               / sqrt(list_sum(list_transform(vec, x -> x * x)))
       |             DESC, en.vec_id) AS r2
       |    FROM cent c CROSS JOIN en) WHERE r2 <= 10),
       |fused AS (
       |  SELECT COALESCE(lex.query_id, sem.query_id) AS query_id,
       |         COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
       |         COALESCE(1.0 / (60 + lex.rnk), 0) + COALESCE(1.0 / (60 + sem.r2), 0) AS score
       |  FROM lex FULL OUTER JOIN sem
       |    ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id),
       |rk AS (SELECT query_id, doc_id, score,
       |              row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY score DESC, doc_id) AS rnk
       |       FROM fused)
       |SELECT query_id, rnk, doc_id, score FROM rk WHERE rnk <= 10
       |ORDER BY query_id, rnk""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "search_bm25_persisted" -> (bm25Persisted _),
    "search_bm25_pruned" -> (bm25Pruned _),
    "search_bm25_filtered" -> (bm25Filtered _),
    "search_bm25_deleted" -> (bm25Deleted _),
    "search_bm25_upserted" -> (bm25Upserted _),
    "search_bm25_merged" -> (bm25Merged _),
    "search_bm25_retention" -> (bm25Retention _),
    "search_bm25_asof" -> (bm25AsOf _),
    "search_bm25_exported" -> (bm25Exported _),
    "stream_bm25_cdc" -> (bm25StreamCdc _),
    "search_hybrid_rrf" -> (hybridRrf _),
    "search_hybrid_rrf_deleted" -> (hybridRrfDeleted _),
    "search_hybrid_cdc" -> (hybridCdc _),
    "search_hybrid_asof" -> (hybridAsOf _),
    "search_hybrid_exported" -> (hybridExported _),
    "search_phrase" -> (phrasePersisted _),
    "search_phrase_ranked" -> (phraseRanked _),
    "search_proximity" -> (proximityPersisted _),
    "search_cover" -> (coverPersisted _),
    "search_cover_ranked" -> (coverRanked _))

  val oracles: Map[String, String] = Map(
    // the persisted index must reproduce the in-memory ranking EXACTLY:
    // same twin as text_bm25, different engine path
    "search_bm25_persisted" -> Search.textBm25Sql,
    // pruned serving must be INVISIBLE in the results: the same twin
    // shape as the unpruned row over the skew-extended query set (q4 is
    // where the bounds engage) — only the plan differs
    "search_bm25_pruned" -> Search.textBm25SqlFor(Search.prunedFixtureQueries),
    // the metadata gate narrows the page, not the statistics: global
    // stats/df in the twin too, the predicate applied at ranking
    "search_bm25_filtered" -> Search.textBm25SqlFilteredRank("d.lang = 'en'"),
    // after a takedown it must reproduce the twin over SURVIVORS —
    // deletion reaches stats, df, and ranks, not just the result page
    "search_bm25_deleted" -> Search.textBm25SqlWhere("doc_id % 7 <> 3"),
    // after a re-crawl upsert it must reproduce the twin over the
    // EFFECTIVE corpus (donor texts in place of the % 7 == 3 docs)
    "search_bm25_upserted" -> Search.textBm25SqlOverRel(
      """(SELECT d.doc_id,
        |        CASE WHEN d.doc_id % 7 = 3 AND n.doc_id IS NOT NULL
        |             THEN n.text ELSE d.text END AS text
        | FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1)"""
        .stripMargin),
    // a retention rewrite must be indistinguishable from a takedown to
    // any reader: the SAME survivors-only twin shape
    "search_bm25_retention" -> Search.textBm25SqlWhere("doc_id % 5 <> 1"),
    // a tiered merge must be invisible to serving: the twin over the
    // effective corpus (base minus the takedown, plus the four inserted
    // waves minus wave 0's deleted slice) — segments, reclamation and
    // the sidecar recomputes all disappear into hash equality
    "search_bm25_merged" -> Search.textBm25SqlOverRel(
      """(SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 5
        | UNION ALL
        | SELECT doc_id + 3000000 AS doc_id, text FROM documents
        | WHERE doc_id % 9 = 0 AND doc_id % 4 <> 1
        | UNION ALL
        | SELECT doc_id + 6000000 AS doc_id, text FROM documents WHERE doc_id % 9 = 1
        | UNION ALL
        | SELECT doc_id + 9000000 AS doc_id, text FROM documents WHERE doc_id % 9 = 2
        | UNION ALL
        | SELECT doc_id + 12000000 AS doc_id, text FROM documents WHERE doc_id % 9 = 3)"""
        .stripMargin),
    // the pinned snapshot serves the ORIGINAL corpus — bit-identical to
    // pin time, through a CDC wave and a compaction rewrite
    "search_bm25_asof" -> Search.textBm25Sql,
    // the EXPORTED pin serves the same original corpus through plain
    // LIVE reads of the standalone root — the export carried exactly
    // the manifest view and nothing newer
    "search_bm25_exported" -> Search.textBm25Sql,
    // after a CDC stream it must reproduce the twin over the effective
    // corpus: inserts unioned, deletes excluded at the source, upserts
    // carrying the donor text — independent of batching
    "stream_bm25_cdc" -> Search.textBm25SqlOverRel(
      """(SELECT d.doc_id,
        |        CASE WHEN d.doc_id % 5 = 2 AND n.doc_id IS NOT NULL
        |             THEN n.text ELSE d.text END AS text
        | FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
        | WHERE NOT (d.doc_id % 7 = 3 AND d.doc_id % 5 <> 2)
        | UNION ALL
        | SELECT doc_id + 1000000 AS doc_id, text
        | FROM documents WHERE doc_id % 11 = 0)""".stripMargin),
    "search_hybrid_rrf" -> hybridRrfSql,
    // the takedown must hold through the COMPOSED query: both sides'
    // closed forms restricted to survivors
    "search_hybrid_rrf_deleted" -> hybridRrfDeletedSql,
    // the fused page after a two-stream CDC drain equals the closed
    // form over the effective corpus — the per-index CDC claims lifted
    // to the actually-served composition
    "search_hybrid_cdc" -> hybridCdcSql,
    // the fused page as-of both pins equals the closed form over the
    // ORIGINAL corpus — reproducible evals against mutated indexes
    "search_hybrid_asof" -> hybridRrfSql,
    // the exported pair serves the SAME original-corpus closed form:
    // hash equality proves the export carried exactly the pinned wave
    "search_hybrid_exported" -> hybridRrfSql,
    // the positional payload round-trips the index exactly: adjacency
    // excludes every bag-of-words co-occurrence the twin excludes
    "search_phrase" -> phraseSql,
    "search_phrase_ranked" -> phraseRankedSql,
    // NEAR retrieval: the minimal-span arithmetic and the window cut
    // must match the closed form, not just the match set
    "search_proximity" -> proximitySql,
    // the two-pointer minimal-cover kernel must equal the cover BY
    // DEFINITION (min over the position cross product)
    "search_cover" -> coverSql,
    "search_cover_ranked" -> coverRankedSql)
}
