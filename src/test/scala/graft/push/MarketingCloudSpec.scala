package graft.push

import graft.SparkTestBase
import graft.connector.{MockSalesforceBulkApi, MockSfmcApi}
import graft.model._
import org.apache.spark.sql.functions._

class MarketingCloudSpec extends SparkTestBase {

  private def contactsModel = PushModel(
    name = "contacts_load",
    config = MarketingCloudConfig(
      dataExtensionName = "Contacts DE",
      importType = "AddAndUpdate",
      dataExtensionFields = Seq(
        Map("name" -> "ContactNumber", "type" -> "Number", "isPrimaryKey" -> "true"),
        Map("name" -> "Email", "type" -> "EmailAddress"))),
    build = s => s.read.parquet(s"$sf/customer.parquet")
      .select(to_json(struct(
        col("c_custkey").as("ContactNumber"),
        col("c_name").as("Email"))).as("record")))

  test("EP-SFMC: 100-row batches, one task, per-row results, dual insert") {
    val base = tmpDir("mc")
    val sfmc = new MockSfmcApi()
    val mat = new PushMaterializer(spark, base, new MockSalesforceBulkApi(), sfmc)
    val r = mat.run(contactsModel)
    assert(!r.skippedEmpty)
    assert(r.recordsPushed === 150)
    // floor(rn/100): rn 1..99 -> batch 0, 100..150 -> batch 1
    assert(r.batches === 2)
    assert(sfmc.stagedBatchCount === 2)
    assert(mat.sfmcTasks.read().count() === 1)
    assert(mat.sfmcLogs.read().count() === 150)
    val log = mat.sfmcLogs.read().head()
    assert(log.getAs[String]("result") === """{"success":true}""")
    assert(log.getAs[String]("operation") === "data_extension_upload")
    // staged payloads are [[rn, {record}], ...] arrays in rn order
    val payload = sfmc.stagedBatches.peek()
    assert(payload.startsWith("[[") && payload.contains("ContactNumber"))
  }

  test("encrypted path stages GPG message rows, not raw records (ref :86-104)") {
    val base = tmpDir("mc-enc")
    val sfmc = new MockSfmcApi()
    val mat = new PushMaterializer(spark, base, new MockSalesforceBulkApi(), sfmc)
    val m = PushModel("contacts_enc",
      MarketingCloudConfig("Contacts DE", encrypted = true,
        gpgPublicKey = Some("FAKE PUBLIC KEY"), batchSize = 50),
      s => s.read.parquet(s"$sf/customer.parquet").limit(60)
        .select(to_json(struct(col("c_name").as("Name"))).as("record")))
    val r = mat.run(m)
    assert(r.recordsPushed === 60)
    // 60 records -> 61 csv rows (header) -> 63 message rows (armor) ->
    // rn 1..63, batch floor(rn/50): ids 0 and 1
    assert(r.batches === 2)
    assert(sfmc.stagedBatchCount === 2)
    val payloads = sfmc.stagedBatches.toArray.map(_.toString).mkString
    assert(payloads.contains("BEGIN PGP MESSAGE"), "armor header must be staged")
    assert(!payloads.contains("\"Name\""), "raw records must NOT appear in encrypted staging")
    // per-record results still land in the logs (fetch keyed by original rn)
    assert(mat.sfmcLogs.read().count() === 60)
  }

  test("batchSize=1: reported batches equals actual staged batches (no +1)") {
    val sfmc = new MockSfmcApi()
    val mat = new PushMaterializer(spark, tmpDir("mc-b1"), new MockSalesforceBulkApi(), sfmc)
    val m = PushModel("contacts_b1", MarketingCloudConfig("DE", batchSize = 1),
      s => s.read.parquet(s"$sf/customer.parquet").limit(5)
        .select(to_json(struct(col("c_name").as("Name"))).as("record")))
    val r = mat.run(m)
    // rn 1..5, batch floor(rn/1) = 1..5 — five batches, no batch 0
    assert(r.batches === 5)
    assert(sfmc.stagedBatchCount === 5)
  }

  test("zero-row source skips before any connector call (marketing_cloud.sql:7-17)") {
    val sfmc = new MockSfmcApi()
    val mat = new PushMaterializer(spark, tmpDir("mc"), new MockSalesforceBulkApi(), sfmc)
    val empty = PushModel("empty", MarketingCloudConfig("DE"),
      s => s.range(0).select(to_json(struct(col("id"))).as("record")))
    val r = mat.run(empty)
    assert(r.skippedEmpty)
    assert(sfmc.stagedBatchCount === 0)
  }

  test("ensure_exists and import configs are valid JSON for any name; properties are sent (U-MC1)") {
    val sfmc = new MarketingCloudSpec.ConfigRecordingApi
    val mat = new PushMaterializer(spark, tmpDir("mc-cfg"), new MockSalesforceBulkApi(), sfmc)
    val name = "Contacts \"VIP\" \\ DE"
    val m = PushModel("contacts_cfg",
      MarketingCloudConfig(name,
        dataExtensionPath = Some("Shared\\\"Data\""),
        dataExtensionFields = Seq(Map("name" -> "Say \"hi\"", "type" -> "Text")),
        dataExtensionProperties = Map("IsSendable" -> "true", "Note" -> "a\\b"),
        fileLocationExternalKey = "FTP \\ \"main\""),
      s => s.range(3).select(to_json(struct(col("id"))).as("record")))
    assert(mat.run(m).recordsPushed === 3)

    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val Seq(manage) = sfmc.manageConfigs.toArray.toSeq.map(_.toString)
    val Seq(imp) = sfmc.importConfigs.toArray.toSeq.map(_.toString)
    def str(j: JValue): String = j.asInstanceOf[JString].s
    val mj = parse(manage)
    assert(str(mj \ "operation") === "ensure_exists")
    assert(str(mj \ "data_extension_name") === name)
    assert(str(mj \ "data_extension_path") === "Shared\\\"Data\"")
    assert(str((mj \ "data_extension_fields")(0) \ "name") === "Say \"hi\"")
    assert(str(mj \ "data_extension_properties" \ "IsSendable") === "true")
    assert(str(mj \ "data_extension_properties" \ "Note") === "a\\b")
    assert((mj \ "force_check") === JBool(false))
    val ij = parse(imp)
    assert(str(ij \ "data_extension_name") === name)
    assert(str(ij \ "import_type") === "AddAndUpdate")
    assert(str(ij \ "file_location_external_key") === "FTP \\ \"main\"")
  }

  test("config validation mirrors the reference's README constraints") {
    intercept[IllegalArgumentException](MarketingCloudConfig("DE", importType = "Nope"))
    intercept[IllegalArgumentException](MarketingCloudConfig("DE", encrypted = true))
    intercept[IllegalArgumentException](SalesforceConfig("Account", "upsert", None))
    intercept[IllegalArgumentException](SalesforceConfig("Account", "replace"))
  }
}

object MarketingCloudSpec {
  /** Records the configuration JSON that each config call receives. */
  class ConfigRecordingApi extends MockSfmcApi {
    val manageConfigs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val importConfigs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def manageDataExtension(configurationJson: String): String = {
      manageConfigs.add(configurationJson)
      super.manageDataExtension(configurationJson)
    }
    override def deImport(configurationJson: String, stageId: String): String = {
      importConfigs.add(configurationJson)
      super.deImport(configurationJson, stageId)
    }
  }
}
