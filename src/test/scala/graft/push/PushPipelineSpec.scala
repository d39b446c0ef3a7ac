package graft.push

import graft.SparkTestBase
import graft.connector.{MockSalesforceBulkApi, MockSfmcApi}
import graft.model._
import graft.tracking.TrackingTable
import graft.util.IndexMaint
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end EP1 (Salesforce) pipeline against mock connectors —
  * mirrors the reference's integration harness
  * (`integration_tests/dbt_project.yml:29-92` mocks + golden-count
  * singular tests at `integration_tests/tests/`).
  */
class PushPipelineSpec extends SparkTestBase {

  private def accountsModel(tracking: String, name: String = "accounts_load"): PushModel = PushModel(
    name = name,
    config = SalesforceConfig("Account", "upsert", Some("AccountID__c")),
    build = (s: SparkSession) => {
      // Ref accounts_load.sql:14-30 — RECORD construction + incremental
      // anti-join of this model's own success log.
      val recs = s.read.parquet(s"$sf/customer.parquet")
        .select(to_json(struct(
          col("c_name").as("Name"),
          col("c_custkey").cast("string").as("AccountID__c"))).as("record"))
      val logTable = TrackingTable.sfdcLoadTaskLogs(s, tracking)
      if (!logTable.exists) recs
      else {
        val logs = logTable.read()
          .filter(col("load_task_name") === name &&
            get_json_object(col("result"), "$.success") === "true")
          .select(get_json_object(col("record"), "$.AccountID__c").as("logged_id"))
        recs.join(logs,
          get_json_object(col("record"), "$.AccountID__c") === logs("logged_id"),
          "left_anti")
      }
    })

  test("EP1 golden counts: 1 task row, N log rows, close stamped, idempotent rerun") {
    val base = tmpDir("push")
    val sfdc = new MockSalesforceBulkApi()
    val mat = new PushMaterializer(spark, base, sfdc, new MockSfmcApi())
    val n = spark.read.parquet(s"$sf/customer.parquet").count()

    val r1 = mat.run(accountsModel(base))
    assert(!r1.skippedEmpty)
    assert(r1.recordsPushed === n)
    assert(sfdc.loadBatchCalls.get() === n)
    assert(mat.sfdcTasks.read().count() === 1)
    val task = mat.sfdcTasks.read().head()
    assert(task.getAs[String]("close_metadata") != null, "close_metadata must be stamped (A6)")
    assert(task.getAs[String]("operation") === "upsert")
    // the open row and its stamp are two commits: a plain scan of the
    // live generation still shows both, with one creation_time
    val versions = spark.read.parquet(IndexMaint.liveGen(s"$base/sfdc_load_tasks"))
      .select(col("close_metadata").isNull, col("creation_time")).collect()
    assert(versions.map(_.getBoolean(0)).sorted.toSeq === Seq(false, true) &&
      versions.map(_.get(1)).distinct.length === 1 && task.get(task.fieldIndex("creation_time")) === versions(0).get(1),
      "the stamped task row must keep the open row's creation_time")
    assert(mat.sfdcLogs.read().count() === n)
    val log = mat.sfdcLogs.read().head()
    assert(log.getAs[String]("result").contains("\"success\":true"))

    // Rerun: every record is in the success log -> anti-join empties the
    // source -> zero-row probe skips (salesforce.sql:7-17). The mock call
    // count must not move.
    val r2 = mat.run(accountsModel(base))
    assert(r2.skippedEmpty)
    assert(r2.recordsPushed === 0)
    assert(sfdc.loadBatchCalls.get() === n)
    assert(mat.sfdcTasks.read().count() === 1)
    assert(mat.sfdcLogs.read().count() === n)
  }

  // Job-count pin: the model's own scan, the probe count and the log
  // append. Creating or reading a tracking table adds none, and neither
  // do the task upsert and the close stamp (driver-side commits); a new
  // bookkeeping job fails this.
  test("one Salesforce push into fresh tables runs at most 5 Spark jobs") {
    val base = tmpDir("push")
    val mat = new PushMaterializer(spark, base, new MockSalesforceBulkApi(), new MockSfmcApi())
    val jobs = jobsDuring(mat.run(accountsModel(base)))
    assert(jobs <= 5, s"one push ran $jobs Spark jobs")
  }

  test("two Salesforce models sharing the sfdc tables run as parallel siblings without an edge") {
    val base = tmpDir("push")
    val mat = new PushMaterializer(spark, base, new MockSalesforceBulkApi(), new MockSfmcApi())
    val n = spark.read.parquet(s"$sf/customer.parquet").count()
    val models = Seq("accounts_load", "accounts_copy").map(accountsModel(base, _))
    DagRunner.runParallel(spark, models.map(m => DagNode(m.name, Set.empty, s => mat.run(m))))
    val logged = mat.sfdcLogs.read().groupBy("load_task_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(logged === Map("accounts_load" -> n, "accounts_copy" -> n))
    val tasks = mat.sfdcTasks.read().collect()
    assert(tasks.map(_.getAs[String]("load_task_name")).sorted.toSeq === Seq("accounts_copy", "accounts_load"))
    assert(tasks.forall(_.getAs[String]("close_metadata") != null), "each task row must be stamped")
  }

  test("dropTaskTables rebuilds the tracking tables; the next run re-pushes everything") {
    val base = tmpDir("push")
    val sfdc = new MockSalesforceBulkApi()
    val mat = new PushMaterializer(spark, base, sfdc, new MockSfmcApi())
    mat.run(accountsModel(base))
    val n = sfdc.loadBatchCalls.get()
    assert(mat.run(accountsModel(base)).skippedEmpty) // idempotent while logs exist
    mat.dropTaskTables()                              // drop-omnata-task-tables: true
    assert(mat.sfdcLogs.read().count() === 0)
    val r = mat.run(accountsModel(base))
    assert(!r.skippedEmpty && r.recordsPushed === n)  // full re-push
  }

  test("a SQL-authored model (dbt style, via registered views) pushes end-to-end") {
    val base = tmpDir("push")
    val sfdc = new MockSalesforceBulkApi()
    val mat = new PushMaterializer(spark, base, sfdc, new MockSfmcApi())
    val m = PushModel("sql_accounts",
      SalesforceConfig("Account", "insert"),
      s => {
        val cat = new graft.catalog.Catalog(s, sf)
        cat.registerViews(Seq("customer"))
        s.sql(
          """SELECT to_json(named_struct(
            |  'Name', c_name,
            |  'AccountID__c', CAST(c_custkey AS STRING))) AS record
            |FROM customer""".stripMargin)
      })
    val r = mat.run(m)
    assert(r.recordsPushed === 150)
    assert(mat.sfdcLogs.read()
      .filter(get_json_object(col("record"), "$.Name").isNotNull).count() === 150)
  }

  test("failed records are re-pushed on the next run; successes are not (ref accounts_load.sql:26-27)") {
    // API rejects every record whose AccountID__c is even on the FIRST
    // run (success:false recorded in the log), accepts everything after.
    class PartialFailure extends MockSalesforceBulkApi {
      @volatile var firstRun = true
      override def loadBatch(jobId: String, recordJson: String, wait: Boolean): String = {
        super.loadBatch(jobId, recordJson, wait)
        val id = recordJson.replaceAll(""".*"AccountID__c":"(\d+)".*""", "$1").toLong
        if (firstRun && id % 2 == 0)
          """{"created":false,"errors":["DUPLICATE_VALUE"],"id":null,"success":false}"""
        else """{"created":true,"errors":[],"id":"a001D000003ri4gQAA","success":true}"""
      }
    }
    val api = new PartialFailure
    val base = tmpDir("push")
    val mat = new PushMaterializer(spark, base, api, new MockSfmcApi())
    def model = PushModel("accounts_load",
      SalesforceConfig("Account", "insert"),
      s => {
        val src = new graft.catalog.Catalog(s, sf).ref("customer")
          .select(to_json(struct(col("c_name").as("Name"),
            col("c_custkey").cast("string").as("AccountID__c"))).as("record"))
        mat.unsyncedRecords(src, mat.sfdcLogs, "accounts_load")
      })
    val r1 = mat.run(model)
    assert(r1.recordsPushed === 150)
    val failures = mat.sfdcLogs.read()
      .filter(get_json_object(col("result"), "$.success") === "false").count()
    assert(failures === 75, "every even AccountID__c must log success:false")

    api.firstRun = false
    val r2 = mat.run(model)
    assert(r2.recordsPushed === 75,
      "second run must push exactly the previously failed records")
    // log keeps full history: 150 first-run + 75 retry rows
    assert(mat.sfdcLogs.read().count() === 225)
    // third run: everything has a success row -> empty probe, no job
    val r3 = mat.run(model)
    assert(r3.skippedEmpty && r3.recordsPushed === 0)
  }

  test("RetryingSalesforceApi absorbs transient connector failures per record") {
    // flaky delegate: the first attempt of every record throws (keyed on
    // the record, so overlapping calls cannot race on a shared counter)
    class Flaky extends graft.connector.MockSalesforceBulkApi {
      private val attempted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      override def loadBatch(jobId: String, rec: String, wait: Boolean): String = {
        val n = super.loadBatch(jobId, rec, wait) // counts the attempt
        if (attempted.add(rec))
          throw new RuntimeException("transient 503")
        n
      }
    }
    val flaky = new Flaky
    val base = tmpDir("push")
    val mat = new PushMaterializer(spark, base,
      new graft.connector.RetryingSalesforceApi(flaky, attempts = 3),
      new MockSfmcApi())
    val r = mat.run(accountsModel(base))
    assert(r.recordsPushed === 150)
    assert(mat.sfdcLogs.read().count() === 150)
    assert(flaky.loadBatchCalls.get() === 300) // every record: 1 failure + 1 success
  }

  // Overlapped connector calls (InFlight): the probe mock sleeps a
  // record-dependent 0-2 ms, so calls finish out of input order.
  private def probeModel(serial: Boolean = false, partitions: Int = 1) =
    PushModel("probe_accounts", SalesforceConfig("Account", "insert", serialLoad = serial),
      s => s.read.parquet(s"$sf/customer.parquet").repartition(partitions)
        .select(to_json(struct(col("c_name").as("Name"),
          col("c_custkey").cast("string").as("AccountID__c"))).as("record")))

  private def probeMat(api: Probes.SalesforceProbe) =
    new PushMaterializer(spark, tmpDir("push-probe"), api, new MockSfmcApi())

  test("overlapped loads: every log row's result answers its own record") {
    val mat = probeMat(new Probes.SalesforceProbe)
    assert(mat.run(probeModel()).recordsPushed === 150)
    val logs = mat.sfdcLogs.read()
    assert(logs.count() === 150)
    assert(logs.filter(!(get_json_object(col("result"), "$.id") <=>
      get_json_object(col("record"), "$.AccountID__c"))).count() === 0)
  }

  test("serial_load pushes through one partition; parallel load uses many (README.md:71)") {
    // serial_load: one partition, one call at a time; otherwise every
    // partition is kept and each overlaps up to a window of calls (the
    // one-partition case shows the overlap comes from the task itself).
    for ((serial, partitions) <- Seq(true -> 4, false -> 4, false -> 1)) {
      val api = new Probes.SalesforceProbe
      assert(probeMat(api).run(probeModel(serial, partitions)).recordsPushed === 150)
      val s = api.stats
      assert(s.calls.get() === 150)
      if (serial) {
        assert(s.partitions.size === 1, s"serial load must funnel to one partition, saw ${s.partitions}")
        assert(s.peak.get() === 1, "serial_load must make one call at a time")
      } else {
        assert(s.partitions.size === partitions, s"parallel load must keep partitions, saw ${s.partitions}")
        assert(s.peak.get() > 1, s"parallel load must overlap calls ($partitions partitions)")
        assert(s.peak.get() <= InFlight.Window * s.partitions.size)
      }
    }
  }

  test("overlapped loads: every call sees the TaskContext of the log-append task") {
    import scala.jdk.CollectionConverters._
    val api = new Probes.SalesforceProbe
    val mat = probeMat(api)
    val written = Probes.rowsWrittenByStage(spark)(mat.run(probeModel()))
    assert(api.stats.noContext.get() === 0)
    val Seq(stage) = api.stats.stages.asScala.toSeq
    assert(written.get(stage) === Some(150L), s"stage $stage wrote ${written.get(stage)}")
  }

  test("overlapped loads: a call that throws fails the push with its cause; no call runs after") {
    val api = new Probes.SalesforceProbe(failKey = 77)
    val e = intercept[Exception](probeMat(api).run(probeModel()))
    assert(Probes.messages(e).exists(_.contains("probe failure on record 77")))
    val calls = api.stats.calls.get()
    assert(api.stats.active.get() === 0, "in-flight calls must have stopped")
    Thread.sleep(100)
    assert(api.stats.calls.get() === calls)
  }

  test("unknown app raises the materialization compile error (ref :14)") {
    val mat = new PushMaterializer(spark, tmpDir("push"),
      new MockSalesforceBulkApi(), new MockSfmcApi())
    val m = PushModel("bad", UnknownAppConfig("hubspot"),
      s => s.range(1).select(to_json(struct(col("id"))).as("record")))
    val e = intercept[IllegalArgumentException](mat.run(m))
    assert(e.getMessage.contains("hubspot"))
  }

  // The RECORD contract (README.md:73) as a table: both apps × a struct
  // RECORD (the OBJECT_CONSTRUCT form), a pre-rendered JSON string, or no
  // RECORD column at all. The column is named in upper case, as in the
  // reference's models.
  private val recordApps = Seq[(PushConfig, PushMaterializer => graft.tracking.TrackingStore)](
    SalesforceConfig("Account", "insert") -> (_.sfdcLogs),
    MarketingCloudConfig("DE") -> (_.sfmcLogs))

  private def recordModel(cfg: PushConfig, form: String) = PushModel(s"rec_$form", cfg, s => {
    val customers = s.read.parquet(s"$sf/customer.parquet")
    val fields = struct(col("c_name").as("Name"), col("c_custkey").cast("string").as("AccountID__c"))
    form match {
      case "struct" => customers.select(fields.as("RECORD"))
      case "string" => customers.select(to_json(fields).as("RECORD"))
      case "none" => customers.select(col("c_custkey"))
    }
  })

  private def freshMat() =
    new PushMaterializer(spark, tmpDir("push"), new MockSalesforceBulkApi(), new MockSfmcApi())

  test("model without a RECORD column is rejected (README.md:73 contract)") {
    for ((cfg, _) <- recordApps) {
      val e = intercept[IllegalArgumentException](freshMat().run(recordModel(cfg, "none")))
      assert(e.getMessage.contains("must produce a RECORD column"), cfg.app)
    }
  }

  test("struct and JSON-string RECORDs log identical record strings on both apps") {
    for ((cfg, logs) <- recordApps) {
      val Seq(fromStruct, fromString) = Seq("struct", "string").map { form =>
        val mat = freshMat()
        assert(mat.run(recordModel(cfg, form)).recordsPushed === 150, s"${cfg.app} $form")
        logs(mat).read().select("record").collect().map(_.getString(0)).sorted.toSeq
      }
      assert(fromStruct.size === 150)
      assert(fromStruct.head.startsWith("{\"Name\":"), cfg.app)
      assert(fromStruct === fromString, cfg.app)
    }
  }

  test("legacy load_task materialization routes to the Salesforce path (M3)") {
    val base = tmpDir("push")
    val sfdc = new MockSalesforceBulkApi()
    val mat = new PushMaterializer(spark, base, sfdc, new MockSfmcApi())
    val r = mat.runLegacy(accountsModel(base))
    assert(r.recordsPushed === 150)
    intercept[IllegalArgumentException] {
      mat.runLegacy(PushModel("mc", MarketingCloudConfig("DE"), s => s.range(1).toDF("record")))
    }
  }
}
