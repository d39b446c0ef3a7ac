package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.connector.{MockSalesforceBulkApi, MockSfmcApi}
import graft.model._
import graft.push.{PushMaterializer, PushReport}
import graft.tracking.{TrackingStore, TrackingTable}

/** Times `TrackingStore.read()` where the incremental anti-join calls it. */
final class TimedStore(inner: TrackingStore, name: String) extends TrackingStore {
  def read(): DataFrame = Trace.span("tracking", s"read:$name")(inner.read())
  def upsert(incoming: DataFrame): Unit = inner.upsert(incoming)
  def append(incoming: DataFrame): Unit = inner.append(incoming)
  def fullRefresh(): Unit = inner.fullRefresh()
  def compact(): Unit = inner.compact()
}

/** The push_bulk workload: a dbt project of `omnata_push` models run by
  * DagRunner against latency-injecting connector wrappers, with every run's
  * outputs checked (untimed) against the records it should have pushed.
  */
object PushWorkloads {
  /** Remote calls cost about as much as a real bulk API's. */
  val BulkLatency = Latency(callUs = 100, recordUs = 2)

  def accountRecords(df: DataFrame): DataFrame =
    df.select(to_json(struct(
      col("c_name").as("Name"),
      col("c_custkey").cast("string").as("AccountID__c"),
      col("c_acctbal").cast("string").as("Balance__c"),
      col("c_mktsegment").as("Segment__c"))).as("record"))

  /** One push project instance: a materializer over `base`, its tracking
    * models and the push models, wired as dbt would (push models depend on
    * the tracking tables they write).
    */
  final class Project(spark: SparkSession, base: String, lat: Latency, val tag: String) {
    val mat = new PushMaterializer(spark, base,
      new LedgerSalesforceApi(new MockSalesforceBulkApi(), lat),
      new LedgerSfmcApi(new MockSfmcApi(), lat, tag))
    val reports = mutable.LinkedHashMap.empty[String, PushReport]

    private val trackingTables = Seq(
      "sfdc_load_tasks" -> mat.sfdcTasks, "sfdc_load_task_logs" -> mat.sfdcLogs,
      "sfmc_load_tasks" -> mat.sfmcTasks, "sfmc_load_task_logs" -> mat.sfmcLogs)

    def trackingNodes: Seq[DagNode] = trackingTables.map { case (name, t) =>
      DagNode(name, Set.empty, _ => Trace.span("tracking", s"create:$name")(t match {
        case tt: TrackingTable => tt.createIfMissing()
        case other => other.read()
      }))
    }

    def pushNode(model: PushModel): DagNode = {
      val deps = model.config match {
        case _: SalesforceConfig => Set("sfdc_load_tasks", "sfdc_load_task_logs")
        case _ => Set("sfmc_load_tasks", "sfmc_load_task_logs")
      }
      DagNode(model.name, deps, _ =>
        reports(model.name) = Trace.span("push", s"run:${model.name}")(mat.run(model)))
    }

    def run(models: Seq[PushModel]): Unit = {
      reports.clear()
      val nodes = trackingNodes ++ models.map(pushNode)
      Trace.span("model", "DagRunner.run")(DagRunner.run(spark, nodes))
    }

    /** Log rows, failed results and per-model counts, in one pass. */
    def logCounts(): Map[String, (Long, Long)] =
      Seq(mat.sfdcLogs, mat.sfmcLogs).flatMap(_.read()
        .groupBy(col("load_task_name"))
        .agg(count(lit(1)), sum(when(get_json_object(col("result"), "$.success") === "true", 0)
          .otherwise(1)))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))).toMap

    /** Task rows of both apps, and Salesforce task rows never closed. */
    def taskCounts(): (Long, Long) = {
      val sf = mat.sfdcTasks.read()
        .agg(count(lit(1)), sum(when(col("close_metadata").isNull, 1).otherwise(0)))
        .head()
      (sf.getLong(0) + mat.sfmcTasks.read().count(), Option(sf.get(1)).fold(0L)(_.toString.toLong))
    }
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Checks an op's connector traffic: no failed call, no record delivered
    * twice to one job, and per model exactly the `expected` records.
    */
  private def checkTraffic(p: Project, calls: Seq[Call], deliveries: Map[(String, String), Int],
      expected: Map[String, Set[String]], errors: mutable.Buffer[String]): Unit = {
    val failed = calls.count(_.failed)
    if (failed > 0) errors += s"$failed connector calls failed"
    val dups = deliveries.values.map(n => math.max(0, n - 1)).sum
    if (dups > 0) errors += s"$dups duplicate deliveries"
    expected.foreach { case (model, want) =>
      p.reports.get(model) match {
        case None => errors += s"$model did not run"
        case Some(r) if want.isEmpty =>
          if (!r.skippedEmpty) errors += s"$model: empty delta not skipped"
        case Some(r) =>
          // Salesforce deliveries are keyed by bulk job id, Marketing
          // Cloud ones by the project's tag (see LedgerSfmcApi).
          val job = if (r.jobId.exists(id => deliveries.keysIterator.exists(_._1 == id)))
            r.jobId.get else p.tag
          val got = deliveries.keysIterator.filter(_._1 == job).map(_._2).toSet
          if (r.skippedEmpty) errors += s"$model: skipped a non-empty delta"
          if (r.recordsPushed != want.size)
            errors += s"$model: pushed ${r.recordsPushed}, expected ${want.size}"
          if (got != want)
            errors += s"$model: delivered ${got.size} records, ${(want -- got).size} missing, " +
              s"${(got -- want).size} unexpected"
      }
    }
  }

  /** Checks the tracking tables; returns the number of task rows. */
  private def checkTables(p: Project, expectedLogged: Map[String, Long],
      errors: mutable.Buffer[String]): Long = {
    val counts = p.logCounts()
    expectedLogged.foreach { case (model, n) =>
      val (rows, bad) = counts.getOrElse(model, (0L, 0L))
      if (rows != n) errors += s"$model: $rows log rows, expected $n"
      if (bad > 0) errors += s"$model: $bad log results are not success"
    }
    val (taskRows, open) = p.taskCounts()
    if (open > 0) errors += s"$open task rows without close_metadata"
    taskRows
  }

  /** MC stages records re-rendered from JSON; compare in that form. */
  private def normalized(records: Iterable[String]): Set[String] = records.map { r =>
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.jackson.JsonMethods.parse(r)))
  }.toSet

  def bulk(spark: SparkSession, sfDir: String, runDir: File, seconds: Double,
      traced: Boolean, rec: Recorder): Unit = {
    def accounts(s: SparkSession) =
      Trace.span("catalog", "ref:customer")(Catalog(s, sfDir).ref("customer"))
    def suppliers(s: SparkSession) =
      Trace.span("catalog", "ref:supplier")(Catalog(s, sfDir).ref("supplier"))
        .select(to_json(struct(col("s_suppkey").as("SupplierKey"), col("s_name").as("Name"),
          col("s_acctbal").as("Balance"))).as("record"))
    // The accounts model is the reference's incremental pattern: it
    // anti-joins its own (here fresh, so empty) success log. No account has
    // a balance below -1000, so churned_accounts takes the zero-row skip.
    def models(p: Project) = Seq(
      PushModel("accounts_load", SalesforceConfig("Account", "upsert", Some("AccountID__c")),
        s => Trace.span("push", "unsyncedRecords")(p.mat.unsyncedRecords(
          accountRecords(accounts(s)), new TimedStore(p.mat.sfdcLogs, "sfdc_load_task_logs"),
          "accounts_load"))),
      PushModel("churned_accounts", SalesforceConfig("Account", "delete"),
        s => accountRecords(accounts(s).filter(col("c_acctbal") < -1000))),
      PushModel("suppliers_de", MarketingCloudConfig("Suppliers", batchSize = 100), suppliers))
    // Expected deliveries, computed from the model sources after the cold
    // run has been timed, so they warm nothing it measures.
    lazy val expected = Map(
      "accounts_load" -> accountRecords(accounts(spark)).collect().map(_.getString(0)).toSet,
      "churned_accounts" -> Set.empty[String],
      "suppliers_de" -> normalized(suppliers(spark).collect().map(_.getString(0))))
    lazy val expectedLogged = expected.map { case (k, v) => k -> v.size.toLong }

    var i = 0
    val storage = mutable.ArrayBuffer.empty[Double]
    def op(cold: Boolean, tracedOp: Boolean): Double = {
      val base = new File(runDir, s"op-$i")
      val p = new Project(spark, base.getPath, BulkLatency, s"op$i")
      val t = rec.timeOp(s"run $i", tracedOp)(p.run(models(p)))
      val (calls, deliveries) = Ledger.drain()
      val errors = mutable.ArrayBuffer.empty[String] ++ t.err
      checkTraffic(p, calls, deliveries, expected, errors)
      val taskRows = checkTables(p, expectedLogged, errors)
      val records = p.reports.values.map(_.recordsPushed).sum
      val bytes = dirBytes(base)
      if (records > 0) storage += bytes.toDouble / records
      rec.addOp(s"run $i", t, records, tracedOp, cold, errors.toSeq, calls, deliveries,
        p.reports.values.count(_.skippedEmpty), bytes, logFiles(base), taskRows)
      deleteTree(base)
      i += 1
      t.secs
    }
    // The first dbt run is the first work of the JVM after the session.
    op(cold = true, tracedOp = traced)

    // Set-up: open the project on a fresh tracking dir, three times; after
    // the cold run, so it warms nothing the cold run times.
    rec.setup = (1 to 3).map { k =>
      val base = new File(runDir, s"setup-$k")
      val t0 = System.nanoTime()
      val p = new Project(spark, base.getPath, BulkLatency, s"setup$k")
      DagRunner.run(spark, p.trackingNodes)
      models(p).foreach(m => m.build(spark).schema)
      val s = (System.nanoTime() - t0) / 1e9
      deleteTree(base)
      s
    }
    Ledger.drain()

    // One unit is one dbt run.
    rec.steadyUnits(seconds, traced) { tracedUnit => op(cold = false, tracedUnit) }
    rec.storageBytesPerRecord = median(storage.toSeq)
  }

  def logFiles(base: File): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet") && f.getPath.contains("_logs")) 1L else 0L
    walk(base)
  }
}
