package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.catalog.Catalog

/** SURVEY.md §2 relational operator inventory, re-expressed Spark-first over
  * the driver's TPC-H-ish testdata. Every query here is deterministic
  * (explicit ORDER BY, exact decimal accumulation for double sums, no
  * uuid()/current_timestamp()) so the DuckDB oracle hash-matches.
  *
  * Scale notes (100 TB): every query is a declarative DataFrame plan —
  * filters/projections push into the parquet scan, aggregates run
  * partial+final, the 1-row metadata joins are explicit `broadcast`, and
  * the anti-joins shuffle only the key columns after pruning.
  */
object Relational {

  /** Exact double summation: accumulate as decimal (associative, order
    * independent), emit double. A plain sum(double) differs between Spark
    * and DuckDB in the last ulp because the addition order differs.
    */
  private def dsum(c: Column): Column = sum(c.cast("decimal(30,6)")).cast("double")

  // ---- S1/S2/P1: scan + projection + aliasing --------------------------
  /** Ref: accounts_load.sql:14-16 — project source columns under API names. */
  def p1Projection(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("customer")
      .select(
        col("c_custkey").as("account_id"),
        col("c_name").as("name"),
        col("c_acctbal").as("balance"))
      .orderBy("account_id")
  }

  val p1ProjectionSql: String =
    """SELECT c_custkey AS account_id, c_name AS name, c_acctbal AS balance
      |FROM customer ORDER BY account_id""".stripMargin

  // ---- P2/F1: OBJECT_CONSTRUCT → JSON RECORD ---------------------------
  /** Ref: accounts_load.sql:14-15 — build the single-column RECORD relation.
    * Spark: struct → to_json (VARIANT stays a JSON string at the oracle
    * boundary; SURVEY §7 "hard parts" (2)).
    */
  def p2Record(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("customer")
      .select(
        col("c_custkey").as("account_id"),
        to_json(struct(
          col("c_name").as("Name"),
          col("c_custkey").cast("string").as("AccountID__c"))).as("record"))
      .orderBy("account_id")
  }

  val p2RecordSql: String =
    """SELECT c_custkey AS account_id,
      |       to_json(struct_pack("Name" := c_name,
      |                           "AccountID__c" := CAST(c_custkey AS VARCHAR))) AS record
      |FROM customer ORDER BY account_id""".stripMargin

  /** Nested RECORD — ref: transactions_daily_load.sql:12-17
    * (`'Account__r', OBJECT_CONSTRUCT(...)`).
    */
  def p2RecordNested(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("orders")
      .select(
        col("o_orderkey").as("order_id"),
        to_json(struct(
          concat(col("o_custkey").cast("string"), lit("_"),
            col("o_orderdate").cast("date").cast("string")).as("Duplicate_Key__c"),
          col("o_totalprice").as("Total_Transactions_Sum__c"),
          struct(col("o_custkey").cast("string").as("AccountID__c")).as("Account__r")
        )).as("record"))
      .orderBy("order_id")
  }

  val p2RecordNestedSql: String =
    """SELECT o_orderkey AS order_id,
      |       to_json(struct_pack(
      |         "Duplicate_Key__c" := CAST(o_custkey AS VARCHAR) || '_' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
      |         "Total_Transactions_Sum__c" := o_totalprice,
      |         "Account__r" := struct_pack("AccountID__c" := CAST(o_custkey AS VARCHAR))
      |       )) AS record
      |FROM orders ORDER BY order_id""".stripMargin

  // ---- P4/F10: conjunctive predicates, boolean equality ----------------
  /** Ref: accounts_load.sql:26-27 — `name = '<x>' and json:"success" = true`. */
  def p4Filter(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100.0 &&
        (col("o_orderpriority") === "1-URGENT") === lit(true))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  val p4FilterSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice > 100.0
      |  AND (o_orderpriority = '1-URGENT') = true
      |ORDER BY o_orderkey""".stripMargin

  // ---- P5/F4: cast predicate on date ------------------------------------
  /** Ref: transactions_daily.sql:14 — `ts::date < current_date()`; the
    * oracle pins a fixed date so both engines agree.
    */
  def p5DateCast(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("lineitem")
      .filter(col("l_shipdate").cast("date") < lit("1995-06-01").cast("date"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast("date").as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val p5DateCastSql: String =
    """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) < DATE '1995-06-01'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- P6: scalar-subquery watermark ------------------------------------
  /** Ref: transactions_daily.sql:19 — `ts > (select max(ts) from {{this}})`.
    * Watermark = max orderdate among 'F' orders; rows strictly newer pass.
    * Spark supports scalar subqueries in SQL; the DataFrame form computes
    * the watermark as a 1-row broadcast join (no driver collect needed at
    * scale, though Incremental.scala uses the collected form for control
    * flow).
    */
  def p6Watermark(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val o = c.ref("orders")
    val wm = o.filter(col("o_orderstatus") === "F")
      .agg(max(col("o_orderdate")).as("wm"))
    o.crossJoin(broadcast(wm))
      .filter(col("o_orderdate") > col("wm"))
      .select(col("o_orderkey"), col("o_orderdate"))
      .orderBy("o_orderkey")
  }

  val p6WatermarkSql: String =
    """SELECT o_orderkey, o_orderdate
      |FROM orders
      |WHERE o_orderdate > (SELECT max(o_orderdate) FROM orders WHERE o_orderstatus = 'F')
      |ORDER BY o_orderkey""".stripMargin

  // ---- J1: NOT IN anti-join (the incremental-load core) -----------------
  /** Ref: accounts_load.sql:23-28 — exclude records already pushed.
    * `NOT IN` over a non-null key ≡ left_anti (SURVEY §7 hard part (1));
    * the "log" side here is the set of F-status orders ≥ a price floor.
    * At scale: left_anti shuffles only after the subquery's filters are
    * pushed below the join by Catalyst.
    */
  def j1NotInAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val li = c.ref("lineitem")
    val pushedLog = c.ref("orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"))
    li.join(pushedLog, li("l_orderkey") === pushedLog("o_orderkey"), "left_anti")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val j1NotInAntiSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey NOT IN (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Whole-RECORD membership — ref: contacts_load.sql:32-37
    * (`RECORD not in (select logs.RECORD ...)`): anti-join on the full
    * serialized record, not a key column.
    */
  def j1RecordAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val recs = c.ref("customer").select(
      to_json(struct(
        col("c_name").as("Name"),
        col("c_mktsegment").as("Segment"))).as("record"))
    val already = c.ref("customer")
      .filter(col("c_acctbal") < 0)
      .select(to_json(struct(
        col("c_name").as("Name"),
        col("c_mktsegment").as("Segment"))).as("record"))
    recs.join(already, Seq("record"), "left_anti")
      .orderBy("record")
  }

  val j1RecordAntiSql: String =
    """WITH recs AS (
      |  SELECT to_json(struct_pack("Name" := c_name, "Segment" := c_mktsegment)) AS record
      |  FROM customer),
      |already AS (
      |  SELECT to_json(struct_pack("Name" := c_name, "Segment" := c_mktsegment)) AS record
      |  FROM customer WHERE c_acctbal < 0)
      |SELECT record FROM recs
      |WHERE record NOT IN (SELECT record FROM already)
      |ORDER BY record""".stripMargin

  // ---- J2: cartesian join with 1-row metadata ---------------------------
  /** Ref: salesforce_bulk_load.sql:47 — `from load_source, {{temp_table}}`:
    * broadcast job metadata onto every record. The metadata relation is a
    * 1-row aggregate; `broadcast(...)` makes the cross join a zero-shuffle
    * map-side operation at any scale.
    */
  def j2CrossMeta(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val meta = c.ref("orders").agg(
      max(col("o_orderdate")).as("job_watermark"),
      count(lit(1)).as("job_total"))
    c.ref("nation")
      .crossJoin(broadcast(meta))
      .select(col("n_nationkey"), col("n_name"), col("job_watermark"), col("job_total"))
      .orderBy("n_nationkey")
  }

  val j2CrossMetaSql: String =
    """SELECT n_nationkey, n_name, m.job_watermark, m.job_total
      |FROM nation,
      |     (SELECT max(o_orderdate) AS job_watermark, count(*) AS job_total FROM orders) m
      |ORDER BY n_nationkey""".stripMargin

  // ---- J3/A6: update-with-join ------------------------------------------
  /** Ref: salesforce_bulk_load.sql:52-56 — `update tasks set close_metadata
    * = f(...) from tmp where job_id = METADATA:"id"`. Spark/Parquet has no
    * in-place update: read target, left-join the update source, coalesce
    * the new value, rewrite; this query exposes the post-update relation.
    * The push pipeline stamps its one task row without a rewrite: it
    * upserts the stamped row as a driver-local commit.
    */
  def j3UpdateJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val target = c.ref("customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val updates = c.ref("orders")
      .groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("new_bal"))
    target.join(updates, target("c_custkey") === updates("o_custkey"), "left")
      .select(
        col("c_custkey"), col("c_name"),
        coalesce(col("new_bal"), col("c_acctbal")).as("c_acctbal"))
      .orderBy("c_custkey")
  }

  val j3UpdateJoinSql: String =
    """SELECT c_custkey, c_name, coalesce(u.new_bal, c_acctbal) AS c_acctbal
      |FROM customer
      |LEFT JOIN (SELECT o_custkey,
      |                  CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS new_bal
      |           FROM orders GROUP BY o_custkey) u
      |  ON c_custkey = u.o_custkey
      |ORDER BY c_custkey""".stripMargin

  // ---- G1: group-by rollup ----------------------------------------------
  /** Ref: transactions_daily.sql:5-12 — daily rollup, two keys (one a cast
    * expr), two SUMs. Hash aggregate, partial+final — at 100 TB the
    * map-side partial agg collapses the shuffle to |groups| rows.
    */
  def g1Rollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("orders")
      .groupBy(col("o_custkey").as("account_id"),
        col("o_orderdate").cast("date").as("order_date"))
      .agg(
        dsum(col("o_totalprice")).as("total_amount"),
        count(lit(1)).as("n_orders"))
      .orderBy("account_id", "order_date")
  }

  val g1RollupSql: String =
    """SELECT o_custkey AS account_id, CAST(o_orderdate AS DATE) AS order_date,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_amount,
      |       count(*) AS n_orders
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- G3: array_agg batching -------------------------------------------
  /** Ref: marketing_cloud_data_extension_upload.sql:60-63 —
    * `array_agg(array_construct(rn, record)) group by batch_number`.
    * Collected list is sorted for determinism (the reference's order is
    * explicitly unspecified: `order by null`).
    */
  def g3BatchAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    Windows.globalRowNumber(c.ref("customer"), "rn", col("c_custkey"))
      .withColumn("batch_number", floor((col("rn") - 1) / 100).cast("int"))
      .groupBy(col("batch_number"))
      .agg(count(lit(1)).as("batch_size"),
        to_json(sort_array(collect_list(struct(
          col("rn").as("rn"),
          col("c_name").as("record"))))).as("batch_payload"))
      .orderBy("batch_number")
  }

  val g3BatchAggSql: String =
    """WITH numbered AS (
      |  SELECT c_name, row_number() OVER (ORDER BY c_custkey) AS rn
      |  FROM customer)
      |SELECT CAST(floor((rn - 1) / 100) AS INT) AS batch_number,
      |       count(*) AS batch_size,
      |       to_json(list(struct_pack(rn := rn, record := c_name) ORDER BY rn)) AS batch_payload
      |FROM numbered
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- G4: any_value ------------------------------------------------------
  /** Ref: marketing_cloud_data_extension_upload.sql:64-66 — `any_value` over
    * a column constant within each group (the staging query id), so the
    * "any" pick is deterministic.
    */
  def g4AnyValue(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val n = c.ref("nation")
    val cust = c.ref("customer")
    cust.join(broadcast(n), cust("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_nationkey"))
      .agg(any_value(col("n_name")).as("nation_name"),
        count(lit(1)).as("n_customers"))
      .orderBy("n_nationkey")
  }

  val g4AnyValueSql: String =
    """SELECT n_nationkey, any_value(n_name) AS nation_name, count(*) AS n_customers
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin

  // ---- W1/W2: global row_number + batch assignment -----------------------
  /** Ref: marketing_cloud_data_extension_upload.sql:56-57. The reference
    * numbers rows with `order by null` (order unspecified); we pin an
    * explicit order for the oracle and number rows with the distributed
    * two-pass plan (Windows.globalRowNumber) instead of an unpartitioned
    * window — identical values, no single-partition WindowExec.
    */
  def w1w2RowNumberBatch(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    Windows.globalRowNumber(c.ref("orders").select(col("o_orderkey")),
        "rn", col("o_orderkey"))
      .withColumn("batch_number", floor(col("rn") / 100).cast("int"))
      .orderBy("rn")
  }

  val w1w2RowNumberBatchSql: String =
    """SELECT o_orderkey, rn, CAST(floor(rn / 100) AS INT) AS batch_number
      |FROM (SELECT o_orderkey, row_number() OVER (ORDER BY o_orderkey) AS rn FROM orders)
      |ORDER BY rn""".stripMargin

  // ---- G7: distinct aggregates (exact + HLL sketch) -----------------------
  /** count(DISTINCT) per group — exact form is the oracle; the HLL++
    * sketch path (`approx_count_distinct`, RelationalSpec asserts <5%
    * error) is the 100 TB variant: mergeable fixed-size sketches instead
    * of a distinct expansion shuffle.
    */
  def g7DistinctAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("orders")
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")
  }

  val g7DistinctAggSql: String =
    """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
      |       count(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- G8: pivot ----------------------------------------------------------
  /** Wide-format pivot (`groupBy.pivot` with explicit values so the
    * output schema is static); oracle uses FILTERed counts with the same
    * column names.
    */
  def g8Pivot(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderpriority")
  }

  val g8PivotSql: String =
    """SELECT o_orderpriority,
      |       count(*) FILTER (o_orderstatus = 'F') AS "F",
      |       count(*) FILTER (o_orderstatus = 'O') AS "O",
      |       count(*) FILTER (o_orderstatus = 'P') AS "P"
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- G9: exact median ----------------------------------------------------
  /** Exact per-group median. l_quantity is integral-valued, so the
    * even-count midpoint interpolation is exact in binary and both
    * engines agree bit-for-bit. (General quantiles are avoided in the
    * oracle: R-7 interpolation arithmetic differs in the last ulp
    * between engines.)
    */
  def g9Median(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  val g9MedianSql: String =
    """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty, count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- O2/O3: set operations + ordered top-k ------------------------------
  /** UNION / INTERSECT / EXCEPT in one relation (tagged rows): building
    * segment vs positive balance over customer keys. The reference has no
    * set ops (SURVEY §2.6) — included for general-engine completeness.
    */
  def o2SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val a = c.ref("customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val b = c.ref("customer").filter(col("c_acctbal") > 0)
      .select(col("c_custkey"))
    a.union(b).distinct().withColumn("op", lit("union"))
      .unionByName(a.intersect(b).withColumn("op", lit("intersect")))
      .unionByName(a.except(b).withColumn("op", lit("except")))
      .orderBy("op", "c_custkey")
  }

  val o2SetOpsSql: String =
    """WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      |b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
      |SELECT c_custkey, 'union' AS op FROM (SELECT * FROM a UNION SELECT * FROM b)
      |UNION ALL
      |SELECT c_custkey, 'intersect' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL
      |SELECT c_custkey, 'except' AS op FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |ORDER BY op, c_custkey""".stripMargin

  /** Ordered top-k (LIMIT pushdown): Spark plans TakeOrderedAndProject —
    * a per-partition top-k + driver merge, never a global sort.
    */
  def o3TopK(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(50)
  }

  val o3TopKSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin

  // ---- O4: unpivot / melt --------------------------------------------------
  /** Wide → long reshaping (`Dataset.unpivot`, Spark 3.4+), the inverse
    * of G8's pivot.
    */
  def o4Unpivot(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("customer")
      .select(col("c_custkey"),
        col("c_acctbal").cast("double").as("balance"),
        col("c_nationkey").cast("double").as("nation"))
      .unpivot(Array(col("c_custkey")), Array(col("balance"), col("nation")),
        "metric", "value")
      .orderBy("c_custkey", "metric")
  }

  val o4UnpivotSql: String =
    """SELECT c_custkey, metric, value FROM (
      |  UNPIVOT (SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS balance,
      |                  CAST(c_nationkey AS DOUBLE) AS nation FROM customer)
      |  ON balance, nation INTO NAME metric VALUE value)
      |ORDER BY c_custkey, metric""".stripMargin

  // ---- F8/F4: scalar function surface ------------------------------------
  /** Ref: transactions_daily_load.sql:12-13 (`||` concat with implicit
    * casts), casts F4, boolean eq F10.
    */
  def fScalars(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("orders")
      .select(
        col("o_orderkey"),
        concat(col("o_custkey").cast("string"), lit("_"),
          col("o_orderdate").cast("date").cast("string")).as("duplicate_key"),
        // Spark's double→int cast truncates toward zero; DuckDB's rounds.
        // Both sides pin truncation explicitly so the oracle hash-matches.
        col("o_totalprice").cast("int").as("price_int"),
        col("o_orderdate").cast("date").as("order_date"),
        (col("o_orderstatus") === "O").as("is_open"))
      .orderBy("o_orderkey")
  }

  val fScalarsSql: String =
    """SELECT o_orderkey,
      |       CAST(o_custkey AS VARCHAR) || '_' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS duplicate_key,
      |       CAST(trunc(o_totalprice) AS INT) AS price_int,
      |       CAST(o_orderdate AS DATE) AS order_date,
      |       o_orderstatus = 'O' AS is_open
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- F2/F3: VARIANT round-trip (Spark 4 VariantType) --------------------
  /** Ref: the package's central type is Snowflake VARIANT — `PARSE_JSON`
    * literals (`marketing_cloud_data_extension_upload.sql:21,46`) and
    * path access `col:"field"::type` (`salesforce_bulk_load.sql:23,39,53`).
    * Spark 4 has a native VariantType: JSON → `parse_json` → typed
    * `variant_get` path extraction, incl. a missing-path probe
    * (`try_variant_get` ≡ Snowflake's NULL-on-missing semantics).
    */
  def fVariantPath(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("orders")
      .select(col("o_orderkey"),
        to_json(struct(
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"),
          struct(col("o_custkey").as("id")).as("cust"))).as("j"))
      .select(col("o_orderkey"), parse_json(col("j")).as("v"))
      .select(
        col("o_orderkey"),
        variant_get(col("v"), "$.status", "string").as("status"),
        variant_get(col("v"), "$.price", "double").as("price"),
        variant_get(col("v"), "$.cust.id", "long").as("cust_id"),
        try_variant_get(col("v"), "$.missing", "string").as("missing"))
      .orderBy("o_orderkey")
  }

  val fVariantPathSql: String =
    """WITH j AS (
      |  SELECT o_orderkey,
      |         to_json(struct_pack(status := o_orderstatus, price := o_totalprice,
      |                             cust := struct_pack(id := o_custkey))) AS j
      |  FROM orders)
      |SELECT o_orderkey,
      |       json_extract_string(j, '$.status') AS status,
      |       CAST(json_extract(j, '$.price') AS DOUBLE) AS price,
      |       CAST(json_extract(j, '$.cust.id') AS BIGINT) AS cust_id,
      |       json_extract_string(j, '$.missing') AS missing
      |FROM j ORDER BY o_orderkey""".stripMargin

  // ---- M2: tracking-table incremental upsert semantics -------------------
  /** Ref: tracking_table_materialization.sql:28-34 — delete-matching-keys +
    * insert ≡ existing.anti(incoming) ∪ incoming. Modeled on orders:
    * "existing" = F orders, "incoming" = P/O orders overlapping custkeys;
    * keyed by o_orderkey.
    */
  def m2Upsert(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val o = c.ref("orders").select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val existing = o.filter(col("o_orderkey") % 3 =!= 0)
    val incoming = o.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    existing.join(incoming.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .union(incoming)
      .orderBy("o_orderkey")
  }

  val m2UpsertSql: String =
    """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |existing AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
      |incoming AS (SELECT o_orderkey, o_orderstatus, o_totalprice + 1.0 AS o_totalprice
      |             FROM base WHERE o_orderkey % 2 = 0)
      |SELECT * FROM existing WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)
      |UNION ALL
      |SELECT * FROM incoming
      |ORDER BY o_orderkey""".stripMargin

  // ---- M4: incremental watermark append (events) --------------------------
  /** Ref: transactions_daily.sql:16-21 — on incremental runs, keep only rows
    * newer than the existing relation's max timestamp. "Existing" = events
    * in the first half of the time range.
    */
  def m4Incremental(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val e = c.ref("events")
    val existingMax = e.filter(col("event_type") === "signup")
      .agg(max(col("ts")).as("wm"))
    e.crossJoin(broadcast(existingMax))
      .filter(col("ts") > col("wm"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .orderBy("event_id")
  }

  val m4IncrementalSql: String =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events)
      |SELECT event_id, ts, user_id, event_type
      |FROM e
      |WHERE ts > (SELECT max(ts) FROM e WHERE event_type = 'signup')
      |ORDER BY event_id""".stripMargin

  // ---- W4: batch sessionization (lag + running sum windows) ---------------
  /** Gap-based sessions over `events` — the batch twin of
    * streaming.EventStreams.sessionize: lag() finds gaps > 30 min, a
    * running sum turns gap flags into session sequence numbers, then a
    * per-session rollup. Windows are partitioned by user_id (parallel;
    * no global window). Gap arithmetic is pinned to epoch microseconds
    * so both engines compare identical integers.
    */
  def w4Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val gapUs = 30L * 60 * 1000000 // 30 min in µs
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val run = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c.ref("events")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_seq")
  }

  val w4SessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts, us,
      |         lag(us) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
      |  FROM e),
      |sess AS (
      |  SELECT user_id, ts,
      |         CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged)
      |SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events
      |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- W5: lag/lead + sliding frame ---------------------------------------
  /** Per-customer order history: previous/next order value and a 3-order
    * moving total — lag/lead plus an explicit ROWS frame, the remaining
    * window shapes next to row_number (W1) and running sums (W4).
    * Partitioned by customer (parallel); ordering is made total with the
    * unique order key so both engines agree on ties.
    */
  def w5LagLeadFrames(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val frame = w.rowsBetween(-2, Window.currentRow)
    c.ref("orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .withColumn("moving3_total",
        sum(col("o_totalprice").cast("decimal(30,6)")).over(frame).cast("double"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  val w5LagLeadFramesSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |       lag(o_totalprice) OVER w AS prev_price,
      |       lead(o_totalprice) OVER w AS next_price,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6)))
      |              OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving3_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // ---- G11: CUBE grouping sets --------------------------------------------
  /** All grouping-set combinations over (market segment, order priority) —
    * CUBE completes the grouping-set surface next to ROLLUP (G6). Same
    * physical shape: one Expand node multiplies rows per grouping set,
    * then a single partial+final hash aggregate.
    */
  def g11Cube(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val cust = c.ref("customer")
    val ord = c.ref("orders")
    ord.join(cust, ord("o_custkey") === cust("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy(asc_nulls_first("c_mktsegment"), asc_nulls_first("o_orderpriority"))
  }

  val g11CubeSql: String =
    """SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE (c_mktsegment, o_orderpriority)
      |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  // ---- G6: ROLLUP grouping sets -------------------------------------------
  /** Hierarchical totals (region → nation → grand total) via ROLLUP —
    * grouping-set aggregates are the standard OLAP extension beyond the
    * reference's flat group-bys. NULL ordering is pinned (Spark sorts
    * NULLS FIRST ascending; DuckDB defaults NULLS LAST).
    */
  def g6Rollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val cust = c.ref("customer")
    val nat = c.ref("nation")
    val reg = c.ref("region")
    cust.join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_balance"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  val g6RollupSql: String =
    """SELECT r_name, n_name, count(*) AS n_customers,
      |       CAST(sum(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_balance
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  // ---- G10: tumbling time-window rollup (batch twin of the stream agg) ----
  /** Batch form of streaming.EventStreams.windowedCounts: tumbling 1-hour
    * windows via `window()` (oracle: date_trunc). Same partial+final agg
    * shape as G1 with the window start as a derived grouping key.
    */
  def g10TimeWindow(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("events")
      .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")
  }

  val g10TimeWindowSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
      |       count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- M5: CDC apply (MERGE semantics over a change feed) ------------------
  /** Apply an insert/update/delete change feed to a base table — the
    * SCD-1 MERGE the tracking-table upsert (M2) generalizes to:
    * deletes and updates remove the old row (one anti-join on the key),
    * inserts and updates contribute their new image. The change feed is
    * derived deterministically from the data so both engines see the
    * same changes: custkey%10==0 → D, %10==1 → U (+1000 balance),
    * %10==2 → I with a shifted key.
    */
  def m5CdcApply(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val base = c.ref("customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val deletes = base.filter(col("c_custkey") % 10 === 0).select(col("c_custkey"))
    val updates = base.filter(col("c_custkey") % 10 === 1)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 1000.0).as("c_acctbal"))
    val inserts = base.filter(col("c_custkey") % 10 === 2)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        col("c_name"), col("c_acctbal"))
    val touched = deletes.unionByName(updates.select("c_custkey")).distinct()
    base.join(touched, Seq("c_custkey"), "left_anti")
      .unionByName(updates)
      .unionByName(inserts)
      .orderBy("c_custkey")
  }

  val m5CdcApplySql: String =
    """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
      |upd AS (SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal
      |        FROM base WHERE c_custkey % 10 = 1),
      |ins AS (SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal
      |        FROM base WHERE c_custkey % 10 = 2)
      |SELECT * FROM base
      |WHERE c_custkey % 10 <> 0 AND c_custkey % 10 <> 1
      |UNION ALL SELECT * FROM upd
      |UNION ALL SELECT * FROM ins
      |ORDER BY c_custkey""".stripMargin

  // ---- M6: dbt snapshot (SCD type 2) --------------------------------------
  /** Runs the real SnapshotTable materialization (tracking.SnapshotTable,
    * dbt's `check` strategy) over two deterministic customer batches in a
    * throwaway dir, then returns the resulting validity intervals. Batch
    * 2 moves every custkey%10 segment, drops custkey%97 rows (which must
    * stay open — snapshots never delete), and lands custkey%50 arrivals
    * under shifted keys. The oracle derives the identical interval set
    * relationally, so this hash-checks the SCD2 engine itself, not just
    * a query shape. Validity bounds surface as formatted STRINGS, not
    * timestamps: the open-interval sentinel 9999-12-31 overflows pandas'
    * ns-precision datetime on the driver's parquet-read side (r03's one
    * hash mismatch), and string cells hash identically on every reader.
    * Instants are built in explicit UTC (never JVM-default-TZ
    * Timestamp.valueOf) so the rendered wall time matches the oracle's
    * naive literals regardless of driver TZ.
    */
  def m6Scd2Snapshot(spark: SparkSession, dir: String): DataFrame = {
    import graft.tracking.SnapshotTable
    import java.time.{LocalDateTime, ZoneOffset}
    val c = Catalog(spark, dir)
    val base = c.ref("customer").select(col("c_custkey"), col("c_mktsegment"))
    val tmp = java.nio.file.Files.createTempDirectory("scd2").toString
    val snap = new SnapshotTable(spark, tmp, "c_custkey", Seq("c_mktsegment"))
    def utcTs(s: String) = java.sql.Timestamp.from(
      LocalDateTime.parse(s.replace(' ', 'T')).toInstant(ZoneOffset.UTC))
    val t1 = utcTs("2026-01-01 00:00:00")
    val t2 = utcTs("2026-02-01 00:00:00")
    snap.snapshot(base, t1)
    val batch2 = base.filter(col("c_custkey") % 97 =!= 0)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 10 === 0, lit("MOVED")).otherwise(col("c_mktsegment")))
      .unionByName(base.filter(col("c_custkey") % 50 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          lit("NEWSEG").as("c_mktsegment")))
    snap.snapshot(batch2, t2)
    snap.read()
      .withColumn("valid_from", date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("valid_to",
        coalesce(date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss"),
          lit("9999-12-31 00:00:00")))
      .orderBy("c_custkey", "valid_from")
  }

  val m6Scd2SnapshotSql: String =
    """WITH c AS (SELECT c_custkey, c_mktsegment FROM customer),
      |t AS (SELECT '2026-01-01 00:00:00' AS t1,
      |             '2026-02-01 00:00:00' AS t2,
      |             '9999-12-31 00:00:00' AS top),
      |orig AS (
      |  SELECT c_custkey, c_mktsegment, t.t1 AS valid_from,
      |         CASE WHEN c_custkey % 10 = 0 AND c_custkey % 97 <> 0
      |              THEN t.t2 ELSE t.top END AS valid_to
      |  FROM c, t),
      |moved AS (
      |  SELECT c_custkey, 'MOVED' AS c_mktsegment, t.t2 AS valid_from, t.top AS valid_to
      |  FROM c, t WHERE c_custkey % 10 = 0 AND c_custkey % 97 <> 0),
      |arrivals AS (
      |  SELECT c_custkey + 1000000 AS c_custkey, 'NEWSEG' AS c_mktsegment,
      |         t.t2 AS valid_from, t.top AS valid_to
      |  FROM c, t WHERE c_custkey % 50 = 0)
      |SELECT * FROM orig
      |UNION ALL SELECT * FROM moved
      |UNION ALL SELECT * FROM arrivals
      |ORDER BY c_custkey, valid_from""".stripMargin

  // ---- E1: funnel analysis (sequential event-pattern matching) ------------
  /** Per-user conversion funnel view → click → signup: the earliest view,
    * the earliest click strictly after it, the earliest signup strictly
    * after that, plus the reached stage. Sequential pattern matching
    * expressed as three key-partitioned min-aggregates chained by
    * time-bound joins — every shuffle is on user_id, no window over the
    * whole event stream, no per-user sorting: at 100 TB each stage is a
    * partial+final min-agg over an equi-join, all broadcast-free and
    * skew-tolerant (users are high-cardinality).
    */
  def e1Funnel(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val ev = c.ref("events").select(col("user_id"), col("event_type"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(views, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val signups = ev.filter(col("event_type") === "signup")
      .join(clicks, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_signup"))
    views
      .join(clicks, Seq("user_id"), "left")
      .join(signups, Seq("user_id"), "left")
      .withColumn("stage",
        lit(1) + when(col("t_click").isNotNull, 1).otherwise(0)
          + when(col("t_signup").isNotNull, 1).otherwise(0))
      .orderBy("user_id")
  }

  val e1FunnelSql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |v AS (SELECT user_id, min(ts) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
      |s AS (
      |  SELECT e.user_id, min(e.ts) AS t_signup
      |  FROM e JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'signup' AND e.ts > c.t_click GROUP BY 1)
      |SELECT v.user_id, v.t_view, c.t_click, s.t_signup,
      |       1 + CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END
      |         + CASE WHEN s.t_signup IS NOT NULL THEN 1 ELSE 0 END AS stage
      |FROM v LEFT JOIN c ON c.user_id = v.user_id
      |LEFT JOIN s ON s.user_id = v.user_id
      |ORDER BY v.user_id""".stripMargin

  // ---- G12: per-group exact quantiles --------------------------------------
  /** Exact p50/p95 of `value` per event type — the per-group form of
    * g9's median. Both engines define the continuous quantile as linear
    * interpolation at p·(n−1) over the sorted values, so doubles match
    * bit-for-bit. Exact percentile sorts within each group's aggregate
    * buffer — at 100 TB switch to approx_percentile (t-digest) when the
    * group cardinality is unbounded; here groups are the 5 event types.
    */
  def g12GroupQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("events")
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"))
      .orderBy("event_type")
  }

  val g12GroupQuantilesSql: String =
    """SELECT event_type,
      |       quantile_cont(value, 0.5) AS p50,
      |       quantile_cont(value, 0.95) AS p95
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- E2: cohort retention ------------------------------------------------
  /** Weekly cohort retention: users grouped by the week of their first
    * event; for each (cohort, week-offset) cell, how many of them were
    * active. Two key-partitioned aggregates (first-event per user,
    * distinct user-weeks) joined on user_id, then a count-distinct over
    * the cohort matrix — the standard retention shape with no windows
    * and no event-order dependence. Week diffs are computed as
    * day-diffs div 7 over week-truncated dates, which both engines
    * evaluate identically (calendar-week diff semantics differ).
    */
  def e2Retention(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val ev = c.ref("events")
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
    val cohorts = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
    val activity = ev.distinct()
    activity.join(cohorts, "user_id")
      .withColumn("week_offset", (datediff(col("week"), col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val e2RetentionSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
      |  FROM events),
      |cohorts AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
      |activity AS (SELECT DISTINCT user_id, week FROM e)
      |SELECT c.cohort_week,
      |       CAST(date_diff('day', c.cohort_week, a.week) / 7 AS INTEGER) AS week_offset,
      |       count(DISTINCT a.user_id) AS n_users
      |FROM activity a JOIN cohorts c ON c.user_id = a.user_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- O5: latest row per key ------------------------------------------------
  /** The most common event-table query there is: each user's latest
    * event (deterministic tie-break on event_id). One window over the
    * user partition — no self-join against a max-ts aggregate, which
    * would scan twice and shuffle twice.
    */
  def o5LatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    c.ref("events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .orderBy("user_id")
  }

  val o5LatestPerKeySql: String =
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      |FROM (SELECT user_id, event_id, ts, event_type,
      |             row_number() OVER (PARTITION BY user_id
      |               ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ---- G2-adjacent: zero-row probe as data (count per group) --------------
  /** Ref: salesforce.sql:7-17 — the probe is engine control flow
    * (df.isEmpty); its data form is a count aggregate.
    */
  def g2CountProbe(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val g2CountProbeSql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- W6: ranking-function family ----------------------------------------
  /** rank / dense_rank / percent_rank / cume_dist over a ties-heavy
    * ordering (quantity within returnflag), plus ntile over a UNIQUE
    * ordering — ntile splits ties by row position, so its order key must
    * be total for a deterministic result (the ties-heavy orderings are
    * safe: equal inputs get equal ranks). Completes SURVEY §2.5's
    * "rank/dense_rank/... not present" row. One shuffle on the partition
    * key; percent_rank/cume_dist are exact integer ratios, so doubles
    * match across engines bit-for-bit.
    */
  def w6RankFamily(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    // (orderkey, linenumber) alone is NOT unique in the driver testdata;
    // (orderkey, linenumber, partkey, suppkey) is — ntile's order key and
    // the output sort must be total or the result is engine-dependent.
    val byQty = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
    val uniq = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    c.ref("lineitem")
      .filter(col("l_orderkey") % 7 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_returnflag"), col("l_quantity"))
      .withColumn("rnk", rank().over(byQty).cast("long"))
      .withColumn("drnk", dense_rank().over(byQty).cast("long"))
      .withColumn("prank", percent_rank().over(byQty))
      .withColumn("cdist", cume_dist().over(byQty))
      .withColumn("tile", ntile(7).over(uniq).cast("long"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  }

  val w6RankFamilySql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag, l_quantity,
      |       rank()         OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rnk,
      |       dense_rank()   OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS drnk,
      |       percent_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS prank,
      |       cume_dist()    OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cdist,
      |       CAST(ntile(7)  OVER (PARTITION BY l_returnflag
      |                            ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS BIGINT) AS tile
      |FROM lineitem WHERE l_orderkey % 7 = 0
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  // ---- G13: histogram (width_bucket binning) --------------------------------
  /** Fixed-bin histogram of order totals — the standard distribution
    * profile over a measure. `width_bucket` is a pure scalar, so the
    * whole query is one map-side-combined aggregate over 21 groups (bin
    * 21 = the overflow bucket); nothing about it changes at 100 TB.
    */
  def g13Histogram(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    c.ref("orders")
      .select(expr("width_bucket(o_totalprice, 0.0, 500000.0, 20)").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** DuckDB has no width_bucket; its exact arithmetic twin — the bucket
    * size (500000-0)/20 = 25000.0 is exactly representable, so
    * floor(x/25000)+1 reproduces Spark's WidthBucket double-for-double
    * (prices are positive; >= max clamps to the overflow bucket 21).
    */
  val g13HistogramSql: String =
    """SELECT CAST(CASE WHEN o_totalprice >= 500000.0 THEN 21
      |                 ELSE floor(o_totalprice / 25000.0) + 1 END AS BIGINT) AS bucket,
      |       count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- J7: semi join --------------------------------------------------------
  /** Left semi join — "customers that have at least one open order":
    * existence filtering without duplication, the positive twin of J1's
    * anti join. Plans as a shuffled semi hash join (or broadcast when
    * the right side is small); at 100 TB the right side reduces to its
    * join key before the shuffle, which Catalyst does for free here
    * (column pruning → only o_custkey moves).
    */
  def j7SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Catalog(spark, dir)
    val open = c.ref("orders").filter(col("o_orderstatus") === "O")
    c.ref("customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .orderBy("c_custkey")
  }

  val j7SemiJoinSql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  // ---- J8: salted skew join under the oracle --------------------------------
  /** [[graft.sources.Skew.saltedJoin]] proven row-identical to the plain
    * join by DuckDB (which knows nothing about salting): ~80% of events
    * collapse onto one 'hot' key, the weight dim joins through 16 salts,
    * and the weighted per-user-bucket rollup must hash-match the
    * unsalted SQL. The correctness half of the skew story — the
    * performance half is ScaleProbe's `join_skew_salted` (hot key spread
    * over 16 reducers instead of 1). `value` is 2-decimal testdata and
    * weights are integers, so the decimal(30,6) accumulation is exact.
    */
  def j8SaltedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Catalog(spark, dir)
    val fact = c.ref("events").select(
      when(col("event_type") === "purchase", col("event_type"))
        .otherwise(lit("hot")).as("k"),
      col("user_id"), col("value"))
    val dim = Seq(("hot", 3L), ("purchase", 5L)).toDF("k", "weight")
    graft.sources.Skew.saltedJoin(fact, dim, "k", salts = 16)
      .groupBy((col("user_id") % 100).as("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("value") * col("weight")).as("wsum"))
      .orderBy("bucket")
  }

  val j8SaltedSkewJoinSql: String =
    """WITH fact AS (
      |  SELECT CASE WHEN event_type = 'purchase' THEN event_type ELSE 'hot' END AS k,
      |         user_id, value
      |  FROM events),
      |dim(k, weight) AS (VALUES ('hot', 3), ('purchase', 5))
      |SELECT fact.user_id % 100 AS bucket, count(*) AS n,
      |       CAST(sum(CAST(fact.value * dim.weight AS DECIMAL(30,6))) AS DOUBLE) AS wsum
      |FROM fact JOIN dim ON fact.k = dim.k
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- O7: table profiling --------------------------------------------------
  /** Column-profile summary over `orders` — row count, null count,
    * exact distinct count, numeric min/max (NULL for strings) and
    * string min/max (NULL for numerics) per profiled column. The
    * data-quality / discovery primitive every pipeline runs first.
    *
    * Plan: count/null/min/max for EVERY column ride one scan (a single
    * partial+final aggregate, no shuffle of data rows); each exact
    * distinct count is its own two-stage aggregate (map-side dedup →
    * count), cross-joined back as 1-row plans. A combined
    * multi-DISTINCT aggregate would instead plan an Expand — ×|cols|
    * row multiplication before the shuffle — which measured 6× slower
    * at sf0.1. At 100 TB pass `approx = true`: the exact distincts
    * become approx_count_distinct (HLL++), which FOLDS into the single
    * first-pass aggregate — one scan, zero extra aggregates, same
    * output shape, ~2% standard error (PlanQualitySpec pins the one-scan
    * plan and bounds the error on the fixture).
    */
  def o7Profile(spark: SparkSession, dir: String): DataFrame =
    o7ProfileAt(spark, dir, approx = false)

  def o7ProfileAt(spark: SparkSession, dir: String, approx: Boolean): DataFrame = {
    val c = Catalog(spark, dir)
    val numCols = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val strCols = Seq("o_orderstatus", "o_orderpriority")
    val df = c.ref("orders")
    val aggs = (numCols ++ strCols).flatMap { cn =>
      val isNum = numCols.contains(cn)
      Seq(
        count(col(cn)).as(s"${cn}__n"),
        sum(when(col(cn).isNull, 1L).otherwise(0L)).as(s"${cn}__nulls"),
        (if (isNum) min(col(cn)).cast("double") else lit(null).cast("double")).as(s"${cn}__min_d"),
        (if (isNum) max(col(cn)).cast("double") else lit(null).cast("double")).as(s"${cn}__max_d"),
        (if (isNum) lit(null).cast("string") else min(col(cn))).as(s"${cn}__min_s"),
        (if (isNum) lit(null).cast("string") else max(col(cn))).as(s"${cn}__max_s")) ++
        // HLL sketches ride the same buffer as count/min/max — the whole
        // profile is ONE partial+final aggregate over one scan
        (if (approx) Seq(approx_count_distinct(col(cn), 0.02).as(s"${cn}__distinct")) else Nil)
    }
    val base = df.agg(aggs.head, aggs.tail: _*)
    val row =
      if (approx) base
      else (numCols ++ strCols).foldLeft(base) { (acc, cn) =>
        // COUNT(DISTINCT x) semantics: NULL is not a value
        acc.crossJoin(df.select(col(cn)).filter(col(cn).isNotNull).distinct()
          .agg(count(lit(1)).as(s"${cn}__distinct")))
      }
    val stacked = (numCols ++ strCols).map { cn =>
      s"'$cn', ${cn}__n, ${cn}__nulls, ${cn}__distinct, ${cn}__min_d, ${cn}__max_d, ${cn}__min_s, ${cn}__max_s"
    }.mkString(", ")
    row.select(expr(
      s"stack(${numCols.size + strCols.size}, $stacked) AS " +
        "(column, n, n_null, n_distinct, min_d, max_d, min_s, max_s)"))
      .orderBy("column")
  }

  val o7ProfileSql: String =
    """WITH s AS (SELECT * FROM orders)
      |SELECT 'o_orderkey' AS "column", count(o_orderkey) AS n,
      |       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |       count(DISTINCT o_orderkey) AS n_distinct,
      |       CAST(min(o_orderkey) AS DOUBLE) AS min_d, CAST(max(o_orderkey) AS DOUBLE) AS max_d,
      |       CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s FROM s
      |UNION ALL
      |SELECT 'o_custkey', count(o_custkey),
      |       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |       count(DISTINCT o_custkey),
      |       CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
      |       NULL, NULL FROM s
      |UNION ALL
      |SELECT 'o_totalprice', count(o_totalprice),
      |       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |       count(DISTINCT o_totalprice),
      |       min(o_totalprice), max(o_totalprice),
      |       NULL, NULL FROM s
      |UNION ALL
      |SELECT 'o_orderstatus', count(o_orderstatus),
      |       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |       count(DISTINCT o_orderstatus),
      |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |       min(o_orderstatus), max(o_orderstatus) FROM s
      |UNION ALL
      |SELECT 'o_orderpriority', count(o_orderpriority),
      |       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |       count(DISTINCT o_orderpriority),
      |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      |       min(o_orderpriority), max(o_orderpriority) FROM s
      |ORDER BY "column"""".stripMargin

  /** All oracle-checkable relational queries. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_projection" -> (p1Projection _),
    "p2_record" -> (p2Record _),
    "p2_record_nested" -> (p2RecordNested _),
    "p4_filter" -> (p4Filter _),
    "p5_date_cast" -> (p5DateCast _),
    "p6_watermark" -> (p6Watermark _),
    "j1_not_in_anti" -> (j1NotInAnti _),
    "j1_record_anti" -> (j1RecordAnti _),
    "j2_cross_meta" -> (j2CrossMeta _),
    "j3_update_join" -> (j3UpdateJoin _),
    "g1_rollup" -> (g1Rollup _),
    "g2_count_probe" -> (g2CountProbe _),
    "g3_batch_agg" -> (g3BatchAgg _),
    "g4_any_value" -> (g4AnyValue _),
    "w1w2_row_number_batch" -> (w1w2RowNumberBatch _),
    "w4_sessionize" -> (w4Sessionize _),
    "g6_rollup" -> (g6Rollup _),
    "g11_cube" -> (g11Cube _),
    "w5_lag_lead_frames" -> (w5LagLeadFrames _),
    "o2_setops" -> (o2SetOps _),
    "o3_topk" -> (o3TopK _),
    "o4_unpivot" -> (o4Unpivot _),
    "g7_distinct_agg" -> (g7DistinctAgg _),
    "g8_pivot" -> (g8Pivot _),
    "g9_median" -> (g9Median _),
    "g10_time_window" -> (g10TimeWindow _),
    "f_scalars" -> (fScalars _),
    "f_variant_path" -> (fVariantPath _),
    "m2_upsert" -> (m2Upsert _),
    "m6_scd2_snapshot" -> (m6Scd2Snapshot _),
    "e1_funnel" -> (e1Funnel _),
    "e2_retention" -> (e2Retention _),
    "g12_group_quantiles" -> (g12GroupQuantiles _),
    "w6_rank_family" -> (w6RankFamily _),
    "g13_histogram" -> (g13Histogram _),
    "j7_semi_join" -> (j7SemiJoin _),
    "j8_salted_skew_join" -> (j8SaltedSkewJoin _),
    "o7_profile" -> (o7Profile _),
    "o5_latest_per_key" -> (o5LatestPerKey _),
    "m4_incremental" -> (m4Incremental _),
    "m5_cdc_apply" -> (m5CdcApply _))

  val oracles: Map[String, String] = Map(
    "p1_projection" -> p1ProjectionSql,
    "p2_record" -> p2RecordSql,
    "p2_record_nested" -> p2RecordNestedSql,
    "p4_filter" -> p4FilterSql,
    "p5_date_cast" -> p5DateCastSql,
    "p6_watermark" -> p6WatermarkSql,
    "j1_not_in_anti" -> j1NotInAntiSql,
    "j1_record_anti" -> j1RecordAntiSql,
    "j2_cross_meta" -> j2CrossMetaSql,
    "j3_update_join" -> j3UpdateJoinSql,
    "g1_rollup" -> g1RollupSql,
    "g2_count_probe" -> g2CountProbeSql,
    "g3_batch_agg" -> g3BatchAggSql,
    "g4_any_value" -> g4AnyValueSql,
    "w1w2_row_number_batch" -> w1w2RowNumberBatchSql,
    "w4_sessionize" -> w4SessionizeSql,
    "g6_rollup" -> g6RollupSql,
    "g11_cube" -> g11CubeSql,
    "w5_lag_lead_frames" -> w5LagLeadFramesSql,
    "o2_setops" -> o2SetOpsSql,
    "o3_topk" -> o3TopKSql,
    "o4_unpivot" -> o4UnpivotSql,
    "g7_distinct_agg" -> g7DistinctAggSql,
    "g8_pivot" -> g8PivotSql,
    "g9_median" -> g9MedianSql,
    "g10_time_window" -> g10TimeWindowSql,
    "f_scalars" -> fScalarsSql,
    "f_variant_path" -> fVariantPathSql,
    "m2_upsert" -> m2UpsertSql,
    "m6_scd2_snapshot" -> m6Scd2SnapshotSql,
    "e1_funnel" -> e1FunnelSql,
    "e2_retention" -> e2RetentionSql,
    "g12_group_quantiles" -> g12GroupQuantilesSql,
    "w6_rank_family" -> w6RankFamilySql,
    "g13_histogram" -> g13HistogramSql,
    "j7_semi_join" -> j7SemiJoinSql,
    "j8_salted_skew_join" -> j8SaltedSkewJoinSql,
    "o7_profile" -> o7ProfileSql,
    "o5_latest_per_key" -> o5LatestPerKeySql,
    "m4_incremental" -> m4IncrementalSql,
    "m5_cdc_apply" -> m5CdcApplySql)
}
