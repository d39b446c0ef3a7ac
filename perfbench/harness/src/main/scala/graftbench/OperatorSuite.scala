package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.catalog.Catalog

/** The operator_suite workload: a committed subset of `SparkEntry.queries`.
  * Every call counts the row, as graft.Bench does: first one cold call per
  * row (the cold pass), then warm passes. After the cold pass, untimed,
  * each row is evaluated once more and written out for the oracle compare.
  */
object OperatorSuite {
  /** Registering module of each row: the operator family. */
  private lazy val families: Seq[(String, Set[String])] = {
    import graft.ops._
    Seq(
      "relational" -> Relational.queries, "dedup" -> Dedup.queries,
      "similarity" -> Similarity.queries, "textanalysis" -> TextAnalysis.queries,
      "multimodal" -> Multimodal.queries, "asof" -> AsOf.queries,
      "rangejoin" -> RangeJoin.queries, "graph" -> Graph.queries, "search" -> Search.queries,
      "curation" -> Curation.queries, "bpetrain" -> BpeTrain.queries,
      "cleaning" -> Cleaning.queries, "dsir" -> Dsir.queries, "kmeans" -> Kmeans.queries,
      "sketches" -> Sketches.queries, "layout" -> Layout.queries,
      "versioning" -> Versioning.queries, "pq" -> Pq.queries, "skipindex" -> SkipIndex.queries,
      "lexindex" -> LexIndex.queries, "blocklist" -> Blocklist.queries,
      "subword" -> Subword.queries, "augment" -> Augment.queries,
      "batching" -> Batching.queries, "datacard" -> Datacard.queries,
      "push" -> graft.push.PushQueries.queries,
      "streaming" -> graft.streaming.StreamingQueries.queries,
    ).map { case (f, q) => f -> q.keySet }
  }

  /** Trace layer of a row: its own module for streaming, multimodal and
    * push rows, `ops.<family>` for every other operator and index family.
    */
  def layer(row: String): String =
    families.collectFirst { case (f, rows) if rows(row) => f } match {
      case Some(f @ ("streaming" | "multimodal" | "push")) => f
      case Some(f) => s"ops.$f"
      case None => "ops.unknown"
    }

  final case class Row(name: String, layer: String, var coldS: Double = 0,
      warmS: Vector[Double] = Vector.empty, counts: Vector[Long] = Vector.empty,
      errors: Vector[String] = Vector.empty)

  def run(spark: SparkSession, sfDir: String, order: Seq[String], outDir: File,
      seconds: Double, traced: Boolean, rec: Recorder): Seq[Row] = {
    val fns = SparkEntry.queries
    val rows = order.map(r => Row(r, layer(r))).toArray

    def call(i: Int, tracedOp: Boolean, cold: Boolean): Double = {
      val r = rows(i)
      var n = -1L
      val t = rec.timeOp(r.name, tracedOp)(Trace.span(r.layer, r.name) {
        n = fns(r.name)(spark, sfDir).count()
      })
      // a row's checkpoint pins are per call; release them outside the timing
      graft.util.Blocks.releaseAll(spark)
      val errors = t.err.toVector
      rec.addOp(r.name, t, n, tracedOp, cold, errors)
      rows(i) = r.copy(coldS = if (cold) t.secs else r.coldS, warmS = if (cold) r.warmS
        else r.warmS :+ t.secs, counts = r.counts :+ n, errors = r.errors ++ errors)
      t.secs
    }

    // The cold pass is the first work of the JVM after the session.
    rows.indices.foreach(call(_, traced, cold = true))
    rec.coldS = rows.map(_.coldS).sum
    rec.storageBytes = PushWorkloads.dirBytes(new File(System.getProperty("java.io.tmpdir"))) +
      PushWorkloads.dirBytes(new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")))
    rec.storageBytesPerRecord =
      rec.storageBytes.toDouble / math.max(1L, rows.map(_.counts.headOption.getOrElse(0L)).sum)

    // Untimed: each row's output for the oracle compare.
    rows.indices.filter(rows(_).errors.isEmpty).foreach { i =>
      val r = rows(i)
      try fns(r.name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(new File(outDir, r.name).getPath)
      catch { case e: Throwable => rows(i) = r.copy(errors = r.errors :+ s"writing output: $e") }
      graft.util.Blocks.releaseAll(spark)
    }

    // Set-up: open the catalog, three times; after the cold pass, so it
    // warms nothing the cold pass times.
    rec.setup = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val c = Catalog(spark, sfDir)
      Catalog.baseTables.foreach(t => c.ref(t).schema)
      (System.nanoTime() - t0) / 1e9
    }

    // One unit is a whole pass, so every pass times the same rows.
    rec.steadyUnits(seconds, traced) { tracedPass =>
      rows.indices.map(call(_, tracedPass, cold = false)).sum
    }
    rows.toSeq
  }
}
