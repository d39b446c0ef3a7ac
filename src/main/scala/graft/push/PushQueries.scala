package graft.push

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog

/** Oracle-checkable data-plane projections of the push pipelines. The
  * side-effecting runs are exercised in ScalaTest (PushPipelineSpec, with
  * golden counts mirroring the reference's singular tests); these queries
  * hash-check the deterministic relational shape of what the pipelines
  * write: the log-insert statement and the full incremental-push model.
  */
object PushQueries {

  /** The EP1 log-insert relation (`salesforce_bulk_load.sql:35-47`) on the
    * customer "accounts": RECORD construction + job-metadata cross join +
    * mock result, with uuid()/current_timestamp() replaced by a
    * deterministic entry key (md5 of job+record) for the oracle.
    */
  def sfdcLogShape(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val jobId = "7501D000003kWMhQAM-1"
    val mockResult = """{"created":true,"errors":[],"id":"a001D000003ri4gQAA","success":true}"""
    c.ref("customer")
      .select(to_json(struct(
        col("c_name").as("Name"),
        col("c_custkey").cast("string").as("AccountID__c"))).as("record"))
      .select(
        lit(jobId).as("job_id"),
        md5(concat(lit(jobId), col("record"))).as("job_log_entry_id"),
        lit("accounts_load").as("load_task_name"),
        lit("Account").as("object_name"),
        lit("upsert").as("operation"),
        lit("AccountID__c").as("external_id_field"),
        col("record"),
        lit(mockResult).as("result"))
      .orderBy("job_log_entry_id")
  }

  val sfdcLogShapeSql: String =
    """WITH recs AS (
      |  SELECT to_json(struct_pack("Name" := c_name,
      |                             "AccountID__c" := CAST(c_custkey AS VARCHAR))) AS record
      |  FROM customer)
      |SELECT '7501D000003kWMhQAM-1' AS job_id,
      |       md5('7501D000003kWMhQAM-1' || record) AS job_log_entry_id,
      |       'accounts_load' AS load_task_name,
      |       'Account' AS object_name,
      |       'upsert' AS operation,
      |       'AccountID__c' AS external_id_field,
      |       record,
      |       '{"created":true,"errors":[],"id":"a001D000003ri4gQAA","success":true}' AS result
      |FROM recs ORDER BY job_log_entry_id""".stripMargin

  /** The full incremental-push model shape (`accounts_load.sql:14-30` /
    * README.md:144-176): build RECORDs, anti-join the success log on the
    * record key. The "log" is simulated as the first half of customers
    * already pushed successfully — so the query exercises JSON path
    * extraction (`RECORD:"AccountID__c"::varchar`, F3/F4) on the record
    * column itself.
    */
  def incrementalPushModel(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val recs = c.ref("customer")
      .select(to_json(struct(
        col("c_name").as("Name"),
        col("c_custkey").cast("string").as("AccountID__c"))).as("record"))
    val logs = c.ref("customer")
      .filter(col("c_custkey") % 2 === 0)
      .select(
        col("c_custkey").cast("string").as("logged_id"),
        lit("accounts_load").as("load_task_name"),
        lit("""{"success":true}""").as("result"))
    // RECORD:"AccountID__c"::varchar NOT IN (select ... where name= and success)
    val eligible = logs
      .filter(col("load_task_name") === "accounts_load" &&
        get_json_object(col("result"), "$.success") === "true")
      .select(col("logged_id"))
    recs.join(eligible,
        get_json_object(col("record"), "$.AccountID__c") === eligible("logged_id"),
        "left_anti")
      .orderBy("record")
  }

  val incrementalPushModelSql: String =
    """WITH recs AS (
      |  SELECT to_json(struct_pack("Name" := c_name,
      |                             "AccountID__c" := CAST(c_custkey AS VARCHAR))) AS record
      |  FROM customer),
      |logs AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS logged_id,
      |         'accounts_load' AS load_task_name,
      |         '{"success":true}' AS result
      |  FROM customer WHERE c_custkey % 2 = 0)
      |SELECT record FROM recs
      |WHERE json_extract_string(record, '$.AccountID__c') NOT IN (
      |  SELECT logged_id FROM logs
      |  WHERE load_task_name = 'accounts_load'
      |    AND json_extract_string(result, '$.success') = 'true')
      |ORDER BY record""".stripMargin

  /** U-G2 `JSON_TO_CSV(rn, record)` (ref
    * `marketing_cloud_data_extension_upload.sql:93`) as an oracle-checked
    * query: RECORD structs → ordered CSV lines with an rn=0 header row.
    * The Spark side runs the real mapPartitions generator
    * (GpgPipeline.jsonToCsv); the oracle rebuilds the same lines in SQL
    * (the testdata has no chars needing CSV escapes — escaping itself is
    * covered in GpgPipelineSpec).
    */
  def jsonToCsv(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val recs = c.ref("customer")
      .select(col("c_custkey"),
        to_json(struct(col("c_name").as("Name"),
          col("c_mktsegment").as("Segment"))).as("record"))
    val numbered = graft.ops.Windows.globalRowNumber(recs, "rn", col("c_custkey"))
      .select(col("rn"), col("record"))
    GpgPipeline.jsonToCsv(spark, numbered).orderBy("rn")
  }

  val jsonToCsvSql: String =
    """WITH numbered AS (
      |  SELECT row_number() OVER (ORDER BY c_custkey) AS rn, c_name, c_mktsegment
      |  FROM customer)
      |SELECT CAST(0 AS BIGINT) AS rn, 'Name,Segment' AS csv_line
      |UNION ALL
      |SELECT rn, c_name || ',' || c_mktsegment FROM numbered
      |ORDER BY rn""".stripMargin

  /** U-G1..U-G5 GPG chain: params → csv → ordered wrap/"encrypt"/package
    * message rows. The crypto stage is a deterministic STUB (XOR with the
    * md5-derived session key + base64 — see GpgPipeline), which makes the
    * WHOLE ordered single-stream chain oracle-checkable: the DuckDB twin
    * recomputes every message row byte-for-byte in SQL.
    */
  def gpgMessage(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val recs = c.ref("customer")
      .select(col("c_custkey"),
        to_json(struct(col("c_name").as("Name"),
          col("c_mktsegment").as("Segment"))).as("record"))
    val numbered = graft.ops.Windows.globalRowNumber(recs, "rn", col("c_custkey"))
      .select(col("rn"), col("record"))
    val params = GpgPipeline.gpgParams("GRAFT TEST PUBLIC KEY")
    GpgPipeline.fileWrapEncryptPackage(spark,
      GpgPipeline.jsonToCsv(spark, numbered), params).orderBy("rn")
  }

  /** DuckDB twin of the full stub chain: csv lines (incl. the rn=0
    * header) are re-numbered 1..N+1 in order, each XORed bytewise with
    * the cycling 16-char session key (`right(md5(pubkey),16)`) and
    * base64'd; armor frame rows at rn 0 and Long.MaxValue. ASCII-only
    * testdata, so ord()/printf per char equals the UTF-8 byte stream.
    */
  val gpgMessageSql: String =
    """WITH numbered AS (
      |  SELECT row_number() OVER (ORDER BY c_custkey) AS rn, c_name, c_mktsegment FROM customer),
      |csv AS (
      |  SELECT CAST(0 AS BIGINT) AS rn, 'Name,Segment' AS line
      |  UNION ALL
      |  SELECT rn, c_name || ',' || c_mktsegment FROM numbered),
      |params AS (SELECT right(md5('GRAFT TEST PUBLIC KEY'), 16) AS skey),
      |enc AS (
      |  SELECT c.rn + 1 AS rn,
      |         to_base64(from_hex(string_agg(
      |           printf('%02x', xor(ord(substr(c.line, i + 1, 1)),
      |                              ord(substr(s.skey, (i % 16) + 1, 1)))),
      |           '' ORDER BY i))) AS message_part
      |  FROM csv c CROSS JOIN params s, unnest(range(0, length(c.line))) AS t(i)
      |  GROUP BY c.rn, c.line)
      |SELECT CAST(0 AS BIGINT) AS rn,
      |       '-----BEGIN PGP MESSAGE-----|85010c03|' || left(md5('GRAFT TEST PUBLIC KEY'), 16) AS message_part
      |UNION ALL SELECT rn, message_part FROM enc
      |UNION ALL SELECT 9223372036854775807, '-----END PGP MESSAGE-----'
      |ORDER BY rn""".stripMargin

  /** Oracle-checked CHUNKED-GPG push (the scale path): real RSA keypair,
    * real chunked encryption ([[GpgPipeline.fileWrapEncryptPackageChunkedReal]],
    * 100 rows/chunk, matching the SFMC batch size → one independent armored message per chunk), then
    * each chunk is DECRYPTED executor-side with the private key and its
    * plaintext md5 compared against the expected CSV shard. Ciphertext
    * is random (fresh session key per chunk), so the oracle pins what IS
    * deterministic: the chunk partitioning arithmetic, per-chunk line
    * counts, and `ok = decrypt(encrypt(shard)) == shard` — a row goes
    * red if sharding, ordering, or either direction of the real crypto
    * breaks.
    */
  def gpgChunked(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val recs = c.ref("customer")
      .select(col("c_custkey"),
        to_json(struct(col("c_name").as("Name"),
          col("c_mktsegment").as("Segment"))).as("record"))
    val numbered = graft.ops.Windows.globalRowNumber(recs, "rn", col("c_custkey"))
      .select(col("rn"), col("record"))
    val csv = GpgPipeline.jsonToCsv(spark, numbered)
    val kpg = java.security.KeyPairGenerator.getInstance("RSA")
    kpg.initialize(2048)
    val kp = kpg.generateKeyPair()
    val pubArmored = Pgp.armorPublicKey(
      kp.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey])
    val privBytes = kp.getPrivate.getEncoded // PKCS#8, rebuilt per executor
    val rowsPerChunk = 100L // matches the SFMC /100 row batching upstream
    val messages = GpgPipeline.fileWrapEncryptPackageChunkedReal(
      spark, csv, pubArmored, rowsPerChunk)
    val expected = csv
      .select(expr(s"rn div ${rowsPerChunk}L").as("chunk"), col("rn"), col("csv_line"))
      .groupBy("chunk").agg(
        count(lit(1)).as("n_lines"),
        expr("md5(array_join(transform(array_sort(collect_list(struct(rn, csv_line)))," +
          " x -> concat(x.csv_line, chr(10))), ''))").as("want"))
    val ascPerChunk = messages.groupBy("chunk").agg(
      expr("array_join(transform(array_sort(collect_list(struct(rn, message_part)))," +
        " x -> x.message_part), chr(10))").as("asc_text"))
    val decryptMd5 = udf { (asc: String) =>
      val kf = java.security.KeyFactory.getInstance("RSA")
      val priv = kf.generatePrivate(
          new java.security.spec.PKCS8EncodedKeySpec(privBytes))
        .asInstanceOf[java.security.interfaces.RSAPrivateKey]
      java.security.MessageDigest.getInstance("MD5")
        .digest(Pgp.decrypt(priv, asc + "\n")).map("%02x".format(_)).mkString
    }
    expected.join(ascPerChunk, Seq("chunk"))
      .select(col("chunk"), col("n_lines"),
        (decryptMd5(col("asc_text")) === col("want")).as("ok"))
      .orderBy("chunk")
  }

  val gpgChunkedSql: String =
    """WITH numbered AS (
      |  SELECT row_number() OVER (ORDER BY c_custkey) AS rn FROM customer),
      |rns AS (SELECT CAST(0 AS BIGINT) AS rn UNION ALL SELECT rn FROM numbered)
      |SELECT rn // 100 AS chunk,
      |       CAST(count(*) AS BIGINT) AS n_lines,
      |       true AS ok
      |FROM rns GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle-checked END-TO-END push: runs the real EP1 pipeline (probe →
    * createJob → per-record connector calls → tracking-table writes → close)
    * against mock connectors in a throwaway tracking dir, then returns
    * the deterministic projection of the log table it wrote. The oracle
    * knows exactly what the pipeline must produce for every record, so
    * this hash-checks the materializer itself, not just its query shape.
    */
  def pushE2e(spark: SparkSession, dir: String): DataFrame = {
    import graft.connector.{MockSalesforceBulkApi, MockSfmcApi}
    import graft.model.{PushModel, SalesforceConfig}
    val base = java.nio.file.Files.createTempDirectory("push_e2e").toString
    val mat = new PushMaterializer(spark, base,
      new MockSalesforceBulkApi(), new MockSfmcApi())
    val model = PushModel("accounts_load",
      SalesforceConfig("Account", "upsert", Some("AccountID__c")),
      s => new Catalog(s, dir).ref("customer")
        .select(to_json(struct(
          col("c_name").as("Name"),
          col("c_custkey").cast("string").as("AccountID__c"))).as("record")))
    val report = mat.run(model)
    require(report.recordsPushed > 0, "push_e2e pushed nothing")
    mat.sfdcLogs.read()
      .select(col("load_task_name"), col("object_name"), col("operation"),
        col("external_id_field"), col("record"), col("result"))
      .orderBy("record")
  }

  val pushE2eSql: String =
    """SELECT 'accounts_load' AS load_task_name,
      |       'Account' AS object_name,
      |       'upsert' AS operation,
      |       'AccountID__c' AS external_id_field,
      |       to_json(struct_pack("Name" := c_name,
      |                           "AccountID__c" := CAST(c_custkey AS VARCHAR))) AS record,
      |       '{"created":true,"errors":[],"id":"a001D000003ri4gQAA","success":true}' AS result
      |FROM customer ORDER BY record""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "push_sfdc_log_shape" -> (sfdcLogShape _),
    "push_incremental_model" -> (incrementalPushModel _),
    "push_json_to_csv" -> (jsonToCsv _),
    "push_gpg_message" -> (gpgMessage _),
    "push_gpg_chunked" -> (gpgChunked _),
    "push_e2e" -> (pushE2e _))

  val oracles: Map[String, String] = Map(
    "push_sfdc_log_shape" -> sfdcLogShapeSql,
    "push_incremental_model" -> incrementalPushModelSql,
    "push_json_to_csv" -> jsonToCsvSql,
    "push_gpg_message" -> gpgMessageSql,
    "push_gpg_chunked" -> gpgChunkedSql,
    "push_e2e" -> pushE2eSql)
}
