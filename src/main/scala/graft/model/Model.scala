package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Model + config ADTs — the Spark-native form of the reference's
  * per-model `config(...)` surface (SURVEY §2.9; README.md:50-88).
  */

/** A dbt model: a named relation builder plus its materialization config.
  * Ref: `integration_tests/models/salesforce_loads/accounts_load.sql:3-12`.
  */
final case class PushModel(
    name: String,
    config: PushConfig,
    build: SparkSession => DataFrame)

sealed trait PushConfig { def app: String }

/** Salesforce `omnata_push` config — ref README.md:66-71;
  * defaults per `macros/apps/operations/salesforce_bulk_load.sql:7`.
  * `loadType` ∈ {delete, hardDelete, insert, update, upsert};
  * `externalIdField` required for upsert (README.md:70).
  */
final case class SalesforceConfig(
    objectName: String,
    loadType: String = "upsert",
    externalIdField: Option[String] = None,
    serialLoad: Boolean = false) extends PushConfig {
  val app = "salesforce"
  require(Set("delete", "hardDelete", "insert", "update", "upsert")(loadType),
    s"invalid load_type '$loadType'")
  require(loadType != "upsert" || externalIdField.nonEmpty,
    "external_id_field is required for upsert loads")
}

/** Marketing Cloud `omnata_push` config — ref README.md:77-88; defaults per
  * `marketing_cloud_data_extension_upload.sql:5,11`.
  * `importType` ∈ {AddOnly, UpdateOnly, AddAndUpdate, Overwrite}.
  */
final case class MarketingCloudConfig(
    dataExtensionName: String,
    importType: String = "AddAndUpdate",
    dataExtensionPath: Option[String] = None,
    dataExtensionFields: Seq[Map[String, String]] = Nil,
    dataExtensionProperties: Map[String, String] = Map.empty,
    fileLocationExternalKey: String = "ExactTarget Enhanced FTP",
    forceCheck: Boolean = false,
    encrypted: Boolean = false,
    gpgPublicKey: Option[String] = None,
    batchSize: Int = 100) extends PushConfig {
  val app = "marketing_cloud"
  require(Set("AddOnly", "UpdateOnly", "AddAndUpdate", "Overwrite")(importType),
    s"invalid import_type '$importType'")
  require(!encrypted || gpgPublicKey.nonEmpty,
    "gpg_public_key is required when encrypted=true")
}

/** Unknown-app dispatch failure — ref
  * `macros/omnata_push_materialization.sql:14` (compile error branch).
  */
final case class UnknownAppConfig(app: String) extends PushConfig
