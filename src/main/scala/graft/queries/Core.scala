package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.insta.Insta

/** Spark-side implementations of the reference-parity operator queries
  * (SURVEY.md §2). Each pairs with an entry in [[graft.OracleSql]]; every
  * query ends in a total-order sort for the driver's hash compare.
  */
object Core {

  /** Run-scoped dump root for the file round-trip queries (q18/q19):
    * [[graft.OracleSql]] interpolates the SAME value into the q18/q19
    * SQL, and Verify dumps that SQL from this JVM — so the oracle always
    * reads the files this run's queries wrote, whatever the sf dir, and
    * concurrent runners stay isolated.
    */
  private val ioDir: String = graft.RunScoped.ioDir

  /** S1/S5/P4: parquet scan + column pruning — only 3 of 11 lineitem columns
    * reach the scan (check ReadSchema in explain).
    */
  def q01ScanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_linenumber").cast("long").as("l_linenumber"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey")

  /** S3/P1/P2/F1/F5: typed ingestion with categorical encode + null default. */
  def q02IngestOrders(spark: SparkSession, dir: String): DataFrame =
    Insta.ordersI(spark, dir).orderBy("orderID")

  /** P3/P6: equality filter (eval-set split). */
  def q03FilterPrior(spark: SparkSession, dir: String): DataFrame =
    Insta.ordersI(spark, dir)
      .filter(col("eval_set") === 0)
      .select("orderID", "userID", "order_number", "days_since")
      .orderBy("orderID")

  /** P5: the reference's collect-keys-to-driver IN-filter (F.py:46–53)
    * becomes a distributed left-semi join — no driver round-trip.
    */
  def q04SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val priorOrders = Insta.ordersI(spark, dir)
      .filter(col("eval_set") === 0).select("orderID")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("orderID"), col("l_partkey").as("productID"),
        col("l_linenumber").cast("long").as("cart_order"))
      .join(priorOrders, Seq("orderID"), "left_semi")
      .orderBy("orderID", "cart_order", "productID")
  }

  /** A1–A3: per-product count / sum / ratio. */
  def q05ProductFeatures(spark: SparkSession, dir: String): DataFrame =
    Insta.productFeatures(spark, dir)
      .select("productID", "numorders", "numreorders", "reorder_ratio")
      .orderBy("productID")

  /** J1: dim join — part is small, broadcast it explicitly. */
  def q06ProductsDimJoin(spark: SparkSession, dir: String): DataFrame =
    broadcast(Insta.productsDim(spark, dir))
      .join(Insta.productFeatures(spark, dir), "productID")
      .select("productID", "aisle_id", "dep_id", "numorders", "reorder_ratio")
      .orderBy("productID")

  /** J2: fact⋈fact join on orderID (basket lines × order attributes). */
  def q07FactJoin(spark: SparkSession, dir: String): DataFrame =
    Insta.priorBasket(spark, dir)
      .select("orderID", "productID", "cart_order", "reordered")
      .join(Insta.ordersI(spark, dir).select("orderID", "order_dow", "order_hod", "days_since"),
        "orderID")
      .orderBy("orderID", "cart_order", "productID")

  /** A4–A5: per-user avg + count. */
  def q08UserOrderFeatures(spark: SparkSession, dir: String): DataFrame =
    Insta.userOrderFeatures(spark, dir)
      .select("userID", "avg_orderingGap", "total_orders")
      .orderBy("userID")

  /** A6–A8: per-user count / sorted collect_set / distinct count. The
    * set-valued all_items column stays array-typed in the layer
    * (Insta.userPriorFeatures); the comparison-facing projection serializes
    * it to a canonical space-joined string because the driver's pandas
    * compare cannot sort array cells (round-1 `err`).
    */
  def q09UserPriorFeatures(spark: SparkSession, dir: String): DataFrame =
    Insta.userPriorFeatures(spark, dir)
      .select(col("userID"), col("items_purchased_total"),
        array_join(transform(col("all_items"), _.cast("string")), " ").as("all_items"),
        col("distinct_items"))
      .orderBy("userID")

  /** J3/A9: left-outer user-feature join + derived ratio. */
  def q10UsersFinal(spark: SparkSession, dir: String): DataFrame =
    Insta.usersFinal(spark, dir)
      .select("userID", "items_purchased_total", "distinct_items",
        "avg_orderingGap", "total_orders", "average_items")
      .orderBy("userID")

  /** A10/A11/W1/W2: multi-agg with max_by (last-per-group). */
  def q11UserProductFeatures(spark: SparkSession, dir: String): DataFrame =
    Insta.userProductFeatures(spark, dir)
      .select("userID", "productID", "up_numorders", "final_orderId", "sum_cartOrder")
      .orderBy("userID", "productID")

  /** J6: candidate expansion — join + explode, fully distributed. */
  def q12Candidates(spark: SparkSession, dir: String): DataFrame =
    Insta.candidates(spark, dir, Seq(1L, 2L))
      .select("orderID", "userID", "productID")
      .orderBy("orderID", "productID")

  /** J5: existence label via left join + flag (false rows kept). */
  def q13Labels(spark: SparkSession, dir: String): DataFrame =
    Insta.withLabel(spark, dir, Insta.candidates(spark, dir, Seq(1L, 2L)))
      .select("orderID", "productID", "label")
      .orderBy("orderID", "productID")

  /** J4 + F2: the full 17-feature training matrix. */
  def q14FeatureMatrix(spark: SparkSession, dir: String): DataFrame =
    Insta.featureMatrix(spark, dir, Seq(1L))
      .orderBy("orderID", "productID")

  /** P9/F3/A12/J8/F4: thresholded submission with 'None' fill. */
  def q15Submission(spark: SparkSession, dir: String): DataFrame = {
    val testOrders = Insta.ordersI(spark, dir).filter(col("eval_set") === 2)
    val scored = Insta.candidates(spark, dir, Seq(2L))
      .join(Insta.productFeatures(spark, dir).select("productID", "reorder_ratio"),
        "productID")
    Insta.submission(testOrders, scored, "reorder_ratio").orderBy("orderID")
  }

  /** L1: deterministic limit — total order before limit (the reference's
    * take(10000) is partition-order dependent; ours is pinned).
    */
  def q16Limit(spark: SparkSession, dir: String): DataFrame =
    Insta.ordersI(spark, dir)
      .select("orderID", "userID", "eval_set")
      .orderBy("orderID")
      .limit(10000)

  /** L2: grouped counts. */
  def q17Counts(spark: SparkSession, dir: String): DataFrame =
    Insta.ordersI(spark, dir)
      .groupBy("eval_set").agg(count(lit(1)).as("n"))
      .orderBy("eval_set")

  /** S1–S4: CSV ingestion round-trip — the reference's own entry path
    * (F.py:16–30). Exports orders as ONE csv file (header + rows + three
    * planted malformed lines), then reads it back through [[Ingest.csv]]
    * with an explicit schema and DROPMALFORMED; the DuckDB oracle reads
    * the same file with ignore_errors=true. The planted lines (wrong arity,
    * uncastable bigint/date, comma-free garbage) must be dropped by BOTH
    * readers for the hash to match, so S2 (header), S3 (schema'd casts)
    * and S4 (malformed handling) are all on the hash path.
    *
    * coalesce(1) + sortWithinPartitions pins the header to line 1 of a
    * single file — an oracle-parity constraint only; the production path
    * writes N files and the reader skips a header per file.
    */
  def q18CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = s"$ioDir/orders"
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val valid = Tables.orders(spark, dir)
      .select(concat_ws(",",
        col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
        col("o_orderstatus"), col("o_totalprice").cast("string"),
        col("o_orderdate").cast("date").cast("string"),
        col("o_orderpriority")).as("line"))
      .withColumn("k", lit(1L))
    val header = Seq((0L, cols.mkString(","))).toDF("k", "line")
    val malformed = Seq(
      (2L, "GARBAGE LINE WITHOUT DELIMITERS"),
      (2L, "-1,not_a_number,X,12.5,2024-13-45,LOW"),
      (2L, "7,8")).toDF("k", "line")
    header.unionByName(valid.select("k", "line")).unionByName(malformed)
      .coalesce(1).sortWithinPartitions("k").select("line")
      .write.mode("overwrite").text(out)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_custkey", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_orderstatus", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o_totalprice", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("o_orderdate", org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("o_orderpriority", org.apache.spark.sql.types.StringType)))
    graft.sources.Ingest.csv(spark, out, schema)
      .orderBy("o_orderkey")
  }

  /** JSONL round-trip — the training-corpus interchange format: export
    * documents as JSON lines (plus three planted malformed lines), read
    * back through [[graft.sources.Ingest.jsonl]] with an explicit schema
    * and DROPMALFORMED; the DuckDB oracle reads the same files with
    * ignore_errors. Like q18, the bad lines (non-JSON, uncastable bigint,
    * a bare array) must vanish on BOTH sides for the hash to match.
    */
  def q19JsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = s"$ioDir/documents"
    val valid = Tables.documents(spark, dir)
      .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))).as("line"))
    val malformed = Seq(
      "THIS IS NOT JSON",
      """{"doc_id": "not_a_number", "text": "x", "lang": "en", "source": "s", "n_chars": 1}""",
      """[1, 2, 3]""").toDF("line")
    valid.unionByName(malformed).write.mode("overwrite").text(out)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
    graft.sources.Ingest.jsonl(spark, out, schema)
      .orderBy("doc_id")
  }

  /** ORC round-trip through a Hive-partitioned layout — the second
    * columnar interchange format (Spark ships the ORC source natively).
    * Orders are written partitioned by o_orderstatus (3 low-cardinality
    * directories), read back through [[graft.sources.Ingest.orc]], and
    * must reproduce the parquet source exactly — types (bigint, double,
    * date, string) survive the format change bit-for-bit, and the
    * partition column is restored from the directory name. The oracle
    * reads the ORIGINAL parquet table: the round-trip's contract is
    * identity. Partition-directory pruning on the layout is asserted in
    * SourcesSpec (scan's PartitionFilters, not the hash path).
    */
  def q21OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = s"$ioDir/orders_orc"
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"), col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").orc(out)
    graft.sources.Ingest.orc(spark, out)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .orderBy("o_orderkey")
  }

  /** `text` source round-trip — the lowest-common-denominator corpus
    * format: one `doc_id<TAB>text` record per line through the native
    * line-oriented `text` source, split back on the FIRST tab (the text
    * payload is free to contain later tabs in general; this fixture's
    * doesn't, which keeps the identity exact). The schema lives entirely
    * in the parse — the honest posture for a schema-less format — and the
    * oracle reads the ORIGINAL parquet table: the round-trip's contract
    * is identity, exactly like q21's.
    */
  def q22TextRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = s"$ioDir/documents_txt"
    Tables.documents(spark, dir)
      .select(concat_ws("\t", col("doc_id").cast("string"), col("text")).as("value"))
      .write.mode("overwrite").text(out)
    graft.sources.Ingest.textLines(spark, out)
      .select(
        substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        expr("substring(value, instr(value, '\t') + 1)").as("text"))
      .orderBy("doc_id")
  }

  /** JSON-lines round-trip — the 6th interchange format (parquet, CSV,
    * ORC, text, evolved-parquet, JSON): customers through `write.json` →
    * [[graft.sources.Ingest.jsonLines]] with the source's own schema
    * (explicit schema-on-read; inference would re-scan everything at
    * 100 TB). Identity contract against the ORIGINAL parquet table, like
    * q21/q22 — including exact doubles, which survive Jackson's
    * round-trip serialization.
    */
  def q24JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = s"$ioDir/customer_json"
    val src = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    src.write.mode("overwrite").json(out)
    graft.sources.Ingest.jsonLines(spark, out, src.schema)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Schema evolution across parquet generations — the lake reality a
    * fixed-schema reader breaks on: an early ingest wrote (doc_id, text),
    * a later one added (lang, source), and ONE read must span both.
    * `mergeSchema` unifies the footers (an O(#files) planning step — the
    * documented cost, which is why it is opt-in) and nulls the missing
    * columns for old-generation rows; the query coalesces them to a
    * sentinel so the cross-engine hash carries no NULLs. The oracle
    * replays the generational carve (even ids = v1, odd = v2) directly
    * against the source table — the contract is that evolution loses
    * nothing and invents nothing.
    */
  def q23SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = s"$ioDir/documents_evo"
    val docs = Tables.documents(spark, dir)
    docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
      .write.mode("overwrite").parquet(s"$out/v1")
    docs.filter(col("doc_id") % 2 =!= 0).select("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$out/v2")
    spark.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
      .select(col("doc_id"), col("text"),
        coalesce(col("lang"), lit("missing")).as("lang"),
        coalesce(col("source"), lit("missing")).as("source"))
      .orderBy("doc_id")
  }

  /** The typed Dataset tier (SURVEY §1.4): case-class Encoders, joinWith,
    * groupByKey + mapGroups — the API a user reaches for when compile-time
    * row types matter. Totals accumulate as integer CENTS inside the
    * typed group function, so the sum is exact and order-independent and
    * the query stays hash-checkable despite double inputs. mapGroups
    * deliberately trades codegen for typed objects; hot aggregation paths
    * use the untyped column API (everything else in this file) — this
    * query exists to keep the typed tier covered and correct.
    */
  def q20TypedSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .as[TOrder]
    val customers = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .as[TCustomer]
    orders
      .joinWith(customers, orders("o_custkey") === customers("c_custkey"))
      .groupByKey(_._2.c_mktsegment)
      .mapGroups { (segment, rows) =>
        var n = 0L
        var cents = 0L
        rows.foreach { case (o, _) => n += 1; cents += math.round(o.o_totalprice * 100) }
        (segment, n, cents)
      }
      .toDF("segment", "n_orders", "total_cents")
      .orderBy("segment")
  }

  /** q25: co-bucketed join — the LAYOUT-level shuffle elimination that,
    * at 100 TB, turns every repeated orders⋈lineitem into a local merge:
    * both tables are written `bucketBy(8, key) sortBy(key)` into the
    * catalog ([[graft.sources.Sinks.bucketedTable]]), so the planner
    * reads each side already hash-partitioned AND sorted on the join key
    * and the SortMergeJoin needs NO Exchange and NO per-query Sort — the
    * shuffle is paid once at write time and amortized over every
    * subsequent join (the bucketing analogue of x146's Z-order story for
    * scans). OpsSpec asserts the plan law (`Bucketed: true`, zero
    * shuffle exchanges with broadcast disabled); this query hashes the
    * RESULT — priority-level revenue computed entirely through the
    * bucketed tables — against the plain-parquet oracle, so the
    * bucketed write+read round-trip is itself on the correctness path.
    * Table names are sf-dir-keyed (one catalog serves every sf in a
    * session); exact DECIMAL(12,2) money per the file's discipline.
    */
  def q25BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = s"${math.abs(dir.hashCode).toString}"
    val (to, tl) = (s"graft_q25_orders_$tag", s"graft_q25_lineitem_$tag")
    // a FRESH JVM's in-memory catalog doesn't know a previous run's
    // tables, so overwrite mode can't reclaim their on-disk locations —
    // drop the entry AND the orphaned directory before writing
    Seq(to, tl).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.RunScoped.deleteRecursively(
        java.nio.file.Paths.get(s"spark-warehouse/$t"))
    }
    graft.sources.Sinks.bucketedTable(
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
      to, Seq("o_orderkey"), 8)
    graft.sources.Sinks.bucketedTable(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      tl, Seq("l_orderkey"), 8)
    spark.table(to)
      .join(spark.table(tl), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice").cast("decimal(12,2)")
          * (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)")))
          .cast("double"), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** q26: the custom DataSourceV2 connector on the correctness path —
    * [[graft.sources.SeqSource]]'s deterministic table read through the
    * full TableProvider → ScanBuilder → Batch → PartitionReader stack,
    * with the id-range predicate CONSUMED by filter pushdown (rows
    * outside [25k, 75k) are never generated; SourcesSpec asserts the
    * plan has no residual Filter and prunes the scan schema). The
    * aggregate is hash-checked against DuckDB's closed-form range()
    * twin, including the Knuth-hash `val` column recomputed in exact
    * wrapped-64-bit arithmetic.
    */
  def q26Dsv2Source(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.SeqSource")
      .option("n", "100000").option("slices", "8").load()
      .filter(col("id") >= 25000L && col("id") < 75000L)
      .groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), sum(col("val")).as("sum_val"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy("grp")

  /** q27: the DSv2 WRITE connector on the correctness path —
    * [[graft.sources.KvSource]]'s full batch commit protocol (staged
    * files → per-task WriterCommitMessage → atomic rename publish on the
    * driver, truncate-on-overwrite) carrying a real aggregate through a
    * write+read ROUNDTRIP: the per-customer order counts are written
    * through graftkv (one part file per shuffle partition, exactly as a
    * 1000-executor run would commit them) and read back through the same
    * provider's Batch scan. The returned frame is the read-back rows
    * themselves, so the oracle hash-checks every byte that crossed the
    * connector, not a summary. SourcesSpec additionally pins the
    * protocol: no staged files survive a commit, part count = partition
    * count, overwrite truncates, and an aborted writer leaves no trace.
    */
  def q27Dsv2Write(spark: SparkSession, dir: String): DataFrame = {
    val out = s"$ioDir/kv_counts"
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("v"))
      .write.format("graft.sources.KvSource")
      .option("path", out).mode("overwrite").save()
    spark.read.format("graft.sources.KvSource").option("path", out).load()
      .orderBy("k")
  }

  /** q28: Write–Audit–Publish (the Netflix/Iceberg WAP pattern) composed
    * from the engine's own parts — the data-eng discipline that a table
    * is never visible to consumers until its audits pass: (1) WRITE the
    * daily-revenue aggregate to a STAGING path through the graftkv
    * connector's atomic commit; (2) AUDIT by reading staging back and
    * checking the contract (nonempty, keys unique, no negative values,
    * conservation: staged total equals the source total — computed as
    * one aggregate each); (3) PUBLISH by copying the audited rows
    * through a second atomic graftkv commit to the consumer path, which
    * readers only ever see whole. The returned frame reads the
    * PUBLISHED table, so the gate hash-checks what a consumer would
    * actually get after the full pattern ran.
    */
  def q28WapPublish(spark: SparkSession, dir: String): DataFrame = {
    val staging = s"$ioDir/wap_staging"
    val publish = s"$ioDir/wap_publish"
    val src = Tables.orders(spark, dir)
      .select(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long").as("k"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("k").agg(sum(col("cents")).as("v"))
    src.write.format("graft.sources.KvSource")
      .option("path", staging).mode("overwrite").save()
    val staged = spark.read.format("graft.sources.KvSource")
      .option("path", staging).load()
    val a = staged.agg(count(lit(1)).as("n"), countDistinct(col("k")).as("nk"),
      min(col("v")).as("mn"), sum(col("v")).as("tot")).collect()(0)
    val srcTotal = src.agg(sum(col("v"))).collect()(0).getLong(0)
    require(a.getLong(0) > 0L, "WAP audit: staged table is empty")
    require(a.getLong(0) == a.getLong(1), "WAP audit: duplicate keys staged")
    require(a.getLong(2) >= 0L, "WAP audit: negative revenue staged")
    require(a.getLong(3) == srcTotal, "WAP audit: staged total drifted from source")
    staged.write.format("graft.sources.KvSource")
      .option("path", publish).mode("overwrite").save()
    spark.read.format("graft.sources.KvSource").option("path", publish).load()
      .orderBy("k")
  }

  /** q29: CUBE aggregation — the multi-grain OLAP surface (GROUPING SETS
    * / ROLLUP / CUBE) the engine had not yet exposed on the correctness
    * path: one pass emits all four grains of (priority × status) — both,
    * each alone, and the grand total — as Spark's `cube()`, which plans
    * a single Expand + hash aggregate (each input row fans to its 4
    * grouping sets map-side; partial aggregation still applies), NOT
    * four scans. grouping_id() disambiguates the grains bit-for-bit
    * against DuckDB's GROUPING(); the rolled-up NULLs are labeled
    * '(all)' so the ORDER BY is engine-neutral (no NULLS FIRST/LAST
    * divergence — Spark sorts ASC nulls first, DuckDB nulls last).
    */
  def q29CubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .cube("priority", "status")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_orders"),
        sum(col("cents")).as("rev_e2"))
      .select(coalesce(col("priority"), lit("(all)")).as("priority"),
        coalesce(col("status"), lit("(all)")).as("status"),
        col("gid"), col("n_orders"), col("rev_e2"))
      .orderBy("gid", "priority", "status")

  /** q30: the analytic window-function surface in one statement — lag /
    * lead / first_value / running last / sliding-frame sum / rank /
    * percent_rank / cume_dist over the daily-revenue series, the SQL
    * surface a migrating user reaches for daily. Runs on the
    * calendar-bounded daily frame (≤ |days| rows — a global window here
    * is metadata-sized, the a35 10-row posture, NOT a fact-sized
    * one-task sort; fact-grain rankings go through the two-phase
    * [[graft.ops.Ranking.globalRowNumber]]). ntile is deliberately
    * ABSENT: its remainder placement is an engine-specific choice (the
    * x123 lesson) — the integer-grid cut covers that need. percent_rank
    * and cume_dist are exact rationals of ranks, e6-floored once.
    */
  def q30WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
    val sliding = w.rowsBetween(-3, 3)
    val running = w.rowsBetween(Window.unboundedPreceding, 0)
    graft.queries.Analytics.dailyRevenue(spark, dir)
      .select(col("day"), col("cents"),
        lag(col("cents"), 1).over(w).as("prev_cents"),
        lead(col("cents"), 1).over(w).as("next_cents"),
        first(col("cents")).over(running).as("first_cents"),
        last(col("cents")).over(running).as("running_cents"),
        sum(col("cents")).over(sliding).as("sum7_cents"),
        count(lit(1)).over(sliding).as("n7"),
        rank().over(Window.orderBy(col("cents"), col("day"))).cast("long").as("rev_rank"),
        floor(percent_rank().over(Window.orderBy(col("cents"), col("day")))
          * 1000000d + 0.5d).cast("long").as("pr_e6"),
        floor(cume_dist().over(Window.orderBy(col("cents"), col("day")))
          * 1000000d + 0.5d).cast("long").as("cd_e6"))
      .orderBy("day")
  }

  /** q31: the DSv2 CATALOG surface end-to-end (r11 verdict "What's
    * missing" #1) — the SAME per-customer aggregate as q27, but no
    * DataFrame-reader option ever names a path: the session registers
    * [[graft.sources.GraftCatalog]] as catalog `graft`, DDL creates the
    * namespace and a graftkv table THROUGH it, `writeTo(...).append()`
    * resolves the identifier via `loadTable` and commits through the kv
    * batch protocol, and the read back is `spark.table("graft.db…")` —
    * the full CatalogPlugin → TableCatalog → Table → Scan resolution
    * chain a SQL-first user exercises. Rides q27's oracle shape
    * verbatim (identity contract: what the catalog read returns is
    * exactly the aggregate that was inserted), so the whole catalog
    * stack sits on the hash-checked path; SourcesSpec pins the DDL laws
    * (create/list/exists/rename/drop, duplicate-create and
    * unknown-table errors, metadata published by atomic rename).
    * DROP + CREATE per run keeps the query idempotent under the bench's
    * warm/cold replays. The k column coalesces to a non-null expression
    * because the table schema declares k/v NOT NULL and the v2 insert
    * path (unlike the q27 writer-options path) enforces nullability at
    * analysis — o_custkey is never null in fact, but its parquet schema
    * cannot promise that.
    */
  def q31CatalogRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", s"$ioDir/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.order_counts")
    spark.sql("CREATE TABLE graft.db.order_counts USING graftkv")
    Tables.orders(spark, dir)
      .groupBy(coalesce(col("o_custkey"), lit(0L)).as("k"))
      .agg(count(lit(1)).as("v"))
      .writeTo("graft.db.order_counts").append()
    spark.table("graft.db.order_counts").orderBy("k")
  }

  /** q32: snapshot TIME TRAVEL through the catalog (r12 verdict #4) —
    * the next rung of the DSv2 ladder after q31. Every graftkv commit
    * now publishes an immutable manifest (`snap-N.gts`, staged-rename —
    * the Iceberg-style commit point); `VERSION AS OF` resolves in
    * [[graft.sources.GraftCatalog]]'s time-travel `loadTable` overload.
    * The query publishes the daily-revenue aggregate (snapshot 1), then
    * a second publish appends junk marker rows (snapshot 2 — the
    * "oops" a consumer wants to read around), and returns `VERSION AS
    * OF 1`: hash-matching the PRE-publish aggregate proves the old
    * snapshot is byte-identical after the table moved on. DROP+CREATE
    * per run keeps versions starting at 1 under bench replays;
    * SourcesSpec pins the laws (snapshot immutability under overwrite,
    * TIMESTAMP AS OF resolution, expired-version refusal, retention
    * vacuum keeps the current view intact).
    */
  def q32TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", s"$ioDir/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.rev_hist")
    spark.sql("CREATE TABLE graft.db.rev_hist USING graftkv")
    Tables.orders(spark, dir)
      .select(coalesce(floor(unix_micros(col("o_orderdate")) / 86400000000L)
          .cast("long"), lit(0L)).as("k"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("k")
      .agg(coalesce(sum(col("cents")), lit(0L)).as("v"))
      .writeTo("graft.db.rev_hist").append()              // snapshot 1
    spark.range(1, 1001)
      .select((col("id") * -1L).as("k"), lit(0L).as("v"))
      .writeTo("graft.db.rev_hist").append()              // snapshot 2
    spark.sql("SELECT k, v FROM graft.db.rev_hist VERSION AS OF 1 ORDER BY k")
  }

  /** q33: CDC BETWEEN SNAPSHOTS — the diff surface the new manifest
    * protocol unlocks (the Delta/Iceberg `table_changes` idiom): two
    * graftkv publishes (snapshot 1 = per-customer order counts over a
    * carve, snapshot 2 = per-customer revenue cents over a different
    * carve), then the change set BETWEEN them as a full-outer join of
    * the two `versionAsOf` reads — rows classified insert (new key),
    * delete (gone key), update (value changed); unchanged rows drop.
    * Both snapshot frames derive from `orders`, so DuckDB replays the
    * identical diff with no connector involved: a wrong manifest
    * resolution, torn version read, or misclassified row cannot
    * hash-match. The table directory resets per run (versions restart
    * at 1 — idempotent under bench replays).
    */
  def q33SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$ioDir/kv_diff"
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
    Tables.orders(spark, dir)
      .filter(col("o_custkey") % 3 =!= 0)
      .groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("v"))
      .write.format("graft.sources.KvSource")
      .option("path", path).mode("overwrite").save()     // snapshot 1
    Tables.orders(spark, dir)
      .filter(col("o_custkey") % 5 =!= 0)
      .groupBy(col("o_custkey").as("k"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("v"))
      .write.format("graft.sources.KvSource")
      .option("path", path).mode("overwrite").save()     // snapshot 2
    def at(v: Int, as: String) = spark.read.format("graft.sources.KvSource")
      .option("path", path).option("versionAsOf", v.toString).load()
      .select(col("k"), col("v").as(as))
    at(1, "v_old").join(at(2, "v_new"), Seq("k"), "full_outer")
      .withColumn("op",
        when(col("v_old").isNull, "insert")
          .when(col("v_new").isNull, "delete")
          .when(col("v_old") =!= col("v_new"), "update")
          .otherwise("unchanged"))
      .filter(col("op") =!= "unchanged")
      .select(col("k"), col("op"), col("v_old"), col("v_new"))
      .orderBy("k")
  }


  /** q34: correlated LATERAL subquery with a per-row ORDER BY + LIMIT —
    * the "top order per customer" SQL a warehouse user writes as a
    * lateral instead of a window, exercising Spark's lateral-join
    * decorrelation (the subquery cannot run row-at-a-time at scale; the
    * optimizer rewrites it into the ranked-join plan the window idiom
    * produces). Tie broken on o_orderkey, money in exact cents, so
    * DuckDB's LATERAL evaluates the same total order; customers without
    * orders drop (inner lateral) in both engines.
    */
  def q34LateralTopOrder(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      s"""SELECT c.c_custkey, l.o_orderkey,
         |       CAST(l.cents AS BIGINT) AS cents
         |FROM parquet.`$dir/customer.parquet` c,
         |LATERAL (SELECT o_orderkey,
         |                CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
         |         FROM parquet.`$dir/orders.parquet` o
         |         WHERE o.o_custkey = c.c_custkey
         |         ORDER BY cents DESC, o_orderkey LIMIT 1) l
         |ORDER BY c.c_custkey""".stripMargin)

  /** q35: `TIMESTAMP AS OF` through SQL end-to-end (r13 verdict #6) —
    * q32 gates `VERSION AS OF`; the timestamp spelling was covered only
    * by SourcesSpec driving `GraftCatalog.loadTable(ident, micros)`
    * directly. This publishes the per-day order-count aggregate
    * (snapshot 1), captures a wall-clock instant strictly between the
    * commits (5 ms guard sleeps on both sides — manifest commit times
    * are millisecond-grained), publishes junk marker rows (snapshot 2),
    * and reads `TIMESTAMP AS OF '<between>'`: hash-matching the
    * pre-junk aggregate proves the timestamp resolves to snapshot 1's
    * manifest, not the current view. DROP+CREATE per run keeps the
    * manifest clock fresh under bench replays.
    */
  def q35TimestampTravel(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", s"$ioDir/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.day_counts")
    spark.sql("CREATE TABLE graft.db.day_counts USING graftkv")
    Tables.orders(spark, dir)
      .select(coalesce(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long"), lit(0L)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("v"))
      .writeTo("graft.db.day_counts").append()            // snapshot 1
    Thread.sleep(20)
    // r15 ADVICE: format the captured instant EXPLICITLY in the session
    // timezone — Timestamp.toString renders in the JVM default zone
    // while Spark parses the literal under spark.sql.session.timeZone,
    // so any session running non-default-TZ shifted the instant by the
    // UTC offset and resolved the wrong snapshot. Guard sleeps widened
    // 5 → 20 ms (manifest commit times are millisecond-grained and the
    // wall clock is not monotone under small NTP slews).
    val between = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))
      .format(java.time.Instant.ofEpochMilli(System.currentTimeMillis()))
    Thread.sleep(20)
    spark.range(1, 501)
      .select((col("id") * -1L).as("k"), lit(0L).as("v"))
      .writeTo("graft.db.day_counts").append()            // snapshot 2
    spark.sql(s"SELECT k, v FROM graft.db.day_counts " +
      s"TIMESTAMP AS OF '$between' ORDER BY k")
  }

  /** q36: `<table>.history` — the snapshot log as a SQL relation (r14
    * verdict #4, the `DESCRIBE HISTORY` complement to time travel).
    * Three commits with PINNED part counts (repartition decides the
    * writer-task count, each task writes exactly one `.gkv` file):
    * append(2 partitions) → overwrite(3) → append(1) — so history must
    * read (v1, 2 parts, append), (v2, 3, overwrite — the overwrite
    * manifest lists ONLY its own files), (v3, 4 — the append manifest
    * lists prior's 3 plus its 1, append). Commit wall-times are
    * asserted only as positive and non-decreasing (`ts_ok`): the VALUES
    * oracle is a literal twin, deterministic given the commit sequence,
    * exactly because no wall-clock value appears in a compared column.
    */
  def q36History(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", s"$ioDir/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.hist_demo")
    spark.sql("CREATE TABLE graft.db.hist_demo USING graftkv")
    val daily = Tables.orders(spark, dir)
      .select(coalesce(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long"), lit(0L)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("v"))
    daily.repartition(2).writeTo("graft.db.hist_demo").append()
    daily.repartition(3).writeTo("graft.db.hist_demo").overwrite(lit(true))
    daily.repartition(1).writeTo("graft.db.hist_demo").append()
    spark.sql(
      """SELECT version, n_parts, operation,
        |       ts_ms > 0 AND
        |       ts_ms >= coalesce(lag(ts_ms) OVER (ORDER BY version), 0) AS ts_ok
        |FROM graft.db.hist_demo.history ORDER BY version""".stripMargin)
  }

  /** q37: SQL `MERGE INTO` on the graftkv connector (r14 verdict #2) —
    * the week-one statement of a migrating warehouse user, driven
    * through [[graft.sources.KvTable]]'s `SupportsRowLevelOperations`
    * (group-based copy-on-write: Spark's RewriteMergeIntoTable plans
    * the same FULL OUTER reconciliation x145 hand-builds in
    * `ops/Merge.scala`, and the commit is one new manifest — concurrent
    * readers serve old-or-new, never a mix). The change batch is
    * x145's exact carve (11-tombstones, 7-updates at +150 cents,
    * 13-inserts offset past max(k)), so the oracle is x145's
    * reconciliation minus the status column the fixed (BIGINT, BIGINT)
    * storage schema cannot hold — v carries the exact integer cents.
    */
  def q37SqlMerge(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", s"$ioDir/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.merge_t")
    spark.sql("CREATE TABLE graft.db.merge_t USING graftkv")
    val t = Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    t.select(col("k"), col("cents").as("v")).writeTo("graft.db.merge_t").append()
    val off = t.agg((max(col("k")) + 1L).as("off"))
    t.filter(col("k") % 11 === 0)
      .select(col("k"), lit("D").as("op"), lit(null).cast("long").as("v"))
      .unionByName(t.filter(col("k") % 7 === 0 && col("k") % 11 =!= 0)
        .select(col("k"), lit("U").as("op"), (col("cents") + 150L).as("v")))
      .unionByName(t.filter(col("k") % 13 === 0).crossJoin(broadcast(off))
        .select((col("k") + col("off")).as("k"), lit("I").as("op"),
          col("cents").as("v")))
      .createOrReplaceTempView("q37_src")
    spark.sql(
      """MERGE INTO graft.db.merge_t t USING q37_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    spark.sql("SELECT k, v FROM graft.db.merge_t ORDER BY k")
  }

  /** q38: SQL `DELETE FROM` + `UPDATE` on graftkv — the remaining two
    * row-level statements, chained so the oracle composes both
    * mutations over the base carve. Each statement publishes its own
    * labeled snapshot (SourcesSpec pins the history and that the
    * pre-mutation versions still serve).
    */
  def q38SqlDeleteUpdate(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", s"$ioDir/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.rl_t")
    spark.sql("CREATE TABLE graft.db.rl_t USING graftkv")
    Tables.orders(spark, dir).select(
        col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100, 0).cast("long").as("v"))
      .writeTo("graft.db.rl_t").append()
    spark.sql("DELETE FROM graft.db.rl_t WHERE k % 3 = 0")
    spark.sql("UPDATE graft.db.rl_t SET v = v + 7 WHERE k % 5 = 0")
    spark.sql("SELECT k, v FROM graft.db.rl_t ORDER BY k")
  }

  /** q39: graftkv snapshot COMPACTION — six small appends (the shape a
    * streaming sink's epochs leave behind: 12 tiny files) rewritten
    * into 3 balanced parts through [[graft.sources.KvSource.compact]],
    * then read back through the catalog: content must hash-match the
    * plain aggregate, proving the rewrite is lossless while the
    * manifest history gains a `compact` row and every pre-compaction
    * version stays readable (structure pinned in SourcesSpec).
    */
  def q39Compaction(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", s"$ioDir/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.compact_t")
    spark.sql("CREATE TABLE graft.db.compact_t USING graftkv")
    val daily = Tables.orders(spark, dir)
      .select(coalesce(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long"), lit(0L)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("v"))
      .localCheckpoint() // six filtered appends re-read it; don't re-aggregate
    (0 until 6).foreach { i =>
      daily.filter(pmod(col("k"), lit(6)) === i).repartition(2)
        .writeTo("graft.db.compact_t").append()
    }
    graft.sources.KvSource.compact(s"$ioDir/catalog/db/compact_t.gtdata", 3)
    spark.sql("SELECT k, v FROM graft.db.compact_t ORDER BY k")
  }

  /** q40: the graftkv maintenance cycle driven ENTIRELY from SQL `CALL`
    * (round-15, SPARK-44167 DSv2 procedures): six small appends →
    * `CALL graft.system.compact(table => …, target => 3)` →
    * `CALL graft.system.expire_snapshots(table => …, keep => 1)` →
    * read-back. Hash-matching the plain aggregate proves the whole
    * procedure surface (parser → analyzer binding with named args and
    * defaults → catalog resolution → compaction rewrite → vacuum) is
    * content-lossless; the CALL result rows and refusal paths are
    * pinned in SourcesSpec.
    */
  def q40CallProcedures(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", s"$ioDir/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.call_t")
    spark.sql("CREATE TABLE graft.db.call_t USING graftkv")
    val daily = Tables.orders(spark, dir)
      .select(coalesce(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long"), lit(0L)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("v"))
      .localCheckpoint()
    (0 until 6).foreach { i =>
      daily.filter(pmod(col("k"), lit(6)) === i).repartition(2)
        .writeTo("graft.db.call_t").append()
    }
    spark.sql("CALL graft.system.compact(table => 'db.call_t', target => 3)").collect()
    spark.sql("CALL graft.system.expire_snapshots(table => 'db.call_t', keep => 1)").collect()
    spark.sql("SELECT k, v FROM graft.db.call_t ORDER BY k")
  }

  /** q41: manifest DATA SKIPPING on graftkv — four range-clustered
    * appends (each commit records its file's k-range in the manifest
    * line), then a BETWEEN read whose bounds cover only the middle two
    * files: the scan intersects the pushed k-bounds with the per-part
    * ranges and never opens the other files (SourcesSpec pins the
    * planned-partition counts; this gate pins that the residual
    * evaluation keeps the ANSWER exact — the skipping can only drop
    * files proven empty of matches). The Iceberg-manifest read
    * optimization: at 100 TB a point lookup touches one file, not the
    * table.
    */
  def q41KvSkipping(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", s"$ioDir/catalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("DROP TABLE IF EXISTS graft.db.skip_t")
    spark.sql("CREATE TABLE graft.db.skip_t USING graftkv")
    val daily = Tables.orders(spark, dir)
      .select(coalesce(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long"), lit(0L)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("v"))
      .localCheckpoint()
    // range-clustered files: fixed day-quartile literals. The driver
    // testdata's day domain is 9131–11535 (1995–2001); ScaleGen corpora
    // start at 2024 (19723+) — the open-ended outer buckets absorb any
    // domain, and the BETWEEN below always lands inside the driver span
    Seq((Long.MinValue, 9700L), (9700L, 10300L), (10300L, 10900L),
        (10900L, Long.MaxValue)).foreach { case (lo, hi) =>
      daily.filter(col("k") >= lo && col("k") < hi).repartition(1)
        .writeTo("graft.db.skip_t").append()
    }
    spark.sql(
      """SELECT k, v FROM graft.db.skip_t
        |WHERE k BETWEEN 9800 AND 10700 ORDER BY k""".stripMargin)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_project"        -> (q01ScanProject _),
    "q02_ingest_orders"       -> (q02IngestOrders _),
    "q03_filter_prior"        -> (q03FilterPrior _),
    "q04_semi_join"           -> (q04SemiJoin _),
    "q05_product_features"    -> (q05ProductFeatures _),
    "q06_products_dim_join"   -> (q06ProductsDimJoin _),
    "q07_fact_join"           -> (q07FactJoin _),
    "q08_user_order_features" -> (q08UserOrderFeatures _),
    "q09_user_prior_features" -> (q09UserPriorFeatures _),
    "q10_users_final"         -> (q10UsersFinal _),
    "q11_userproduct_features" -> (q11UserProductFeatures _),
    "q12_candidates"          -> (q12Candidates _),
    "q13_labels"              -> (q13Labels _),
    "q14_feature_matrix"      -> (q14FeatureMatrix _),
    "q15_submission"          -> (q15Submission _),
    "q16_limit"               -> (q16Limit _),
    "q17_counts"              -> (q17Counts _),
    "q18_csv_roundtrip"       -> (q18CsvRoundtrip _),
    "q19_jsonl_roundtrip"     -> (q19JsonlRoundtrip _),
    "q20_typed_segments"      -> (q20TypedSegments _),
    "q21_orc_roundtrip"       -> (q21OrcRoundtrip _),
    "q22_text_roundtrip"      -> (q22TextRoundtrip _),
    "q23_schema_evolution"    -> (q23SchemaEvolution _),
    "q24_json_roundtrip"      -> (q24JsonRoundtrip _),
    "q25_bucketed_join"       -> (q25BucketedJoin _),
    "q26_dsv2_source"         -> (q26Dsv2Source _),
    "q27_dsv2_write"          -> (q27Dsv2Write _),
    "q28_wap_publish"         -> (q28WapPublish _),
    "q29_cube_agg"            -> (q29CubeAgg _),
    "q30_window_suite"        -> (q30WindowSuite _),
    "q31_catalog_roundtrip"   -> (q31CatalogRoundtrip _),
    "q32_time_travel"         -> (q32TimeTravel _),
    "q33_snapshot_diff"       -> (q33SnapshotDiff _),
    "q34_lateral_top_order"   -> (q34LateralTopOrder _),
    "q35_ts_travel"           -> (q35TimestampTravel _),
    "q36_history"             -> (q36History _),
    "q37_sql_merge"           -> (q37SqlMerge _),
    "q38_sql_delete_update"   -> (q38SqlDeleteUpdate _),
    "q39_compaction"          -> (q39Compaction _),
    "q40_call_procedures"     -> (q40CallProcedures _),
    "q41_kv_skipping"         -> (q41KvSkipping _),
  )

  val oracles: Map[String, String] = Map(
    "q01_scan_project"        -> graft.OracleSql.q01_scan_project,
    "q02_ingest_orders"       -> graft.OracleSql.q02_ingest_orders,
    "q03_filter_prior"        -> graft.OracleSql.q03_filter_prior,
    "q04_semi_join"           -> graft.OracleSql.q04_semi_join,
    "q05_product_features"    -> graft.OracleSql.q05_product_features,
    "q06_products_dim_join"   -> graft.OracleSql.q06_products_dim_join,
    "q07_fact_join"           -> graft.OracleSql.q07_fact_join,
    "q08_user_order_features" -> graft.OracleSql.q08_user_order_features,
    "q09_user_prior_features" -> graft.OracleSql.q09_user_prior_features,
    "q10_users_final"         -> graft.OracleSql.q10_users_final,
    "q11_userproduct_features" -> graft.OracleSql.q11_userproduct_features,
    "q12_candidates"          -> graft.OracleSql.q12_candidates,
    "q13_labels"              -> graft.OracleSql.q13_labels,
    "q14_feature_matrix"      -> graft.OracleSql.q14_feature_matrix,
    "q15_submission"          -> graft.OracleSql.q15_submission,
    "q16_limit"               -> graft.OracleSql.q16_limit,
    "q17_counts"              -> graft.OracleSql.q17_counts,
    "q18_csv_roundtrip"       -> graft.OracleSql.q18_csv_roundtrip,
    "q19_jsonl_roundtrip"     -> graft.OracleSql.q19_jsonl_roundtrip,
    "q20_typed_segments"      ->
      """SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identity contract: the ORC round-trip must reproduce the parquet source
    "q21_orc_roundtrip"       ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // identity contract: the text-line round-trip must reproduce the source
    "q22_text_roundtrip"      ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",
    // generational carve replayed against the source: evolution loses
    // nothing and invents nothing
    "q23_schema_evolution"    ->
      """SELECT doc_id, text,
        |       CASE WHEN doc_id % 2 = 0 THEN 'missing' ELSE lang END AS lang,
        |       CASE WHEN doc_id % 2 = 0 THEN 'missing' ELSE source END AS source
        |FROM documents ORDER BY doc_id""".stripMargin,
    // identity contract: the JSON-lines round-trip must reproduce the source
    "q24_json_roundtrip"      ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // the bucketed-table round-trip must agree with the plain-parquet
    // join; each factor cast to exact DECIMAL before the multiply (the
    // a01/a02 money discipline), one double conversion at the end
    "q25_bucketed_join"       ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |             * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
        |             AS DOUBLE), 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the DSv2 connector's closed-form twin: range() rows, the Knuth-hash
    // val recomputed in exact wrapped-64-bit arithmetic (HUGEINT product
    // mod 2^64, signed re-centering, floorMod by 1000)
    "q26_dsv2_source"         ->
      """WITH t AS (
        |  SELECT id,
        |         CAST((((CASE WHEN w >= 9223372036854775808
        |                      THEN w - 18446744073709551616 ELSE w END) % 1000)
        |               + 1000) % 1000 AS BIGINT) AS val,
        |         'g' || CAST(id % 10 AS VARCHAR) AS grp
        |  FROM (SELECT r.range AS id,
        |               (CAST(r.range AS HUGEINT) * 2654435761) % 18446744073709551616 AS w
        |        FROM range(25000, 75000) r))
        |SELECT grp, COUNT(*) AS n_rows, CAST(SUM(val) AS BIGINT) AS sum_val,
        |       MIN(id) AS min_id, MAX(id) AS max_id
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // identity contract: what the graftkv write+read roundtrip returns
    // must be exactly the aggregate that was written through it
    "q27_dsv2_write"          ->
      """SELECT o_custkey AS k, COUNT(*) AS v
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,
    // identity contract through the CATALOG resolution chain: what
    // spark.table("graft.db.order_counts") returns must be exactly the
    // aggregate inserted through writeTo().append()
    "q31_catalog_roundtrip"   ->
      """SELECT o_custkey AS k, COUNT(*) AS v
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,
    // the snapshot diff replayed with no connector: both version frames
    // derive from orders, so the full-outer classification is engine-
    // neutral and a torn version read cannot hash-match
    "q33_snapshot_diff"       ->
      """WITH v1 AS (SELECT o_custkey AS k, COUNT(*) AS v
        |            FROM orders WHERE o_custkey % 3 <> 0 GROUP BY 1),
        |v2 AS (SELECT o_custkey AS k,
        |              CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS v
        |       FROM orders WHERE o_custkey % 5 <> 0 GROUP BY 1)
        |SELECT COALESCE(v1.k, v2.k) AS k,
        |       CASE WHEN v1.k IS NULL THEN 'insert'
        |            WHEN v2.k IS NULL THEN 'delete'
        |            ELSE 'update' END AS op,
        |       v1.v AS v_old, v2.v AS v_new
        |FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
        |WHERE v1.k IS NULL OR v2.k IS NULL OR v1.v <> v2.v
        |ORDER BY k""".stripMargin,
    // the lateral evaluated as DuckDB's row-at-a-time LATERAL vs
    // Spark's decorrelated ranked join - same rows or no hash match
    "q34_lateral_top_order"   ->
      """SELECT c.c_custkey, l.o_orderkey, CAST(l.cents AS BIGINT) AS cents
        |FROM customer c,
        |LATERAL (SELECT o_orderkey,
        |                CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        |         FROM orders o WHERE o.o_custkey = c.c_custkey
        |         ORDER BY cents DESC, o_orderkey LIMIT 1) l
        |ORDER BY c.c_custkey""".stripMargin,
    // TIMESTAMP AS OF between two commits must resolve to snapshot 1's
    // manifest - exactly the pre-junk aggregate
    "q35_ts_travel"           ->
      """SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS k,
        |       COUNT(*) AS v
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,
    // x145's FULL OUTER reconciliation (same carve: 11-tombstones,
    // 7-updates +150, 13-inserts offset past max k), minus the status
    // column the fixed BIGINT kv schema cannot hold — what SQL MERGE
    // through the connector must reproduce byte-for-byte
    "q37_sql_merge"           ->
      """WITH t AS (SELECT o_orderkey AS k,
        |                  CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        |           FROM orders),
        |src AS (
        |  SELECT k, 'D' AS op, CAST(NULL AS BIGINT) AS v FROM t WHERE k % 11 = 0
        |  UNION ALL
        |  SELECT k, 'U', cents + 150 FROM t WHERE k % 7 = 0 AND k % 11 <> 0
        |  UNION ALL
        |  SELECT k + (SELECT MAX(k) + 1 FROM t), 'I', cents FROM t WHERE k % 13 = 0)
        |SELECT COALESCE(t.k, src.k) AS k,
        |       CAST(CASE WHEN src.op IN ('U', 'I') THEN src.v ELSE t.cents END AS BIGINT) AS v
        |FROM t FULL OUTER JOIN src ON t.k = src.k
        |WHERE src.op IS NULL OR src.op <> 'D'
        |ORDER BY k""".stripMargin,
    // DELETE then UPDATE composed over the base carve
    "q38_sql_delete_update"   ->
      """SELECT o_orderkey AS k,
        |       CAST(CASE WHEN o_orderkey % 5 = 0
        |                 THEN ROUND(o_totalprice * 100, 0) + 7
        |                 ELSE ROUND(o_totalprice * 100, 0) END AS BIGINT) AS v
        |FROM orders WHERE o_orderkey % 3 <> 0
        |ORDER BY k""".stripMargin,
    // compaction is a lossless rewrite: the post-compact read-back must
    // be exactly the aggregate the six appends partitioned
    "q39_compaction"          ->
      """SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS k,
        |       COUNT(*) AS v
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,
    // the CALL-driven compact+vacuum cycle is content-lossless
    "q40_call_procedures"     ->
      """SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS k,
        |       COUNT(*) AS v
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,
    // the skipped read must equal the plain filtered aggregate — file
    // skipping may only drop files proven empty of matches
    "q41_kv_skipping"         ->
      """WITH d AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS k
        |           FROM orders)
        |SELECT k, COUNT(*) AS v FROM d
        |WHERE k BETWEEN 9800 AND 10700
        |GROUP BY k ORDER BY k""".stripMargin,
    // the snapshot log is deterministic given the commit sequence:
    // version order, per-manifest part counts (writer tasks are pinned
    // by repartition), operation labels, and monotone commit times —
    // a literal twin, no wall-clock value in any compared column
    "q36_history"             ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), 'append',    TRUE),
        |  (CAST(2 AS BIGINT), CAST(3 AS BIGINT), 'overwrite', TRUE),
        |  (CAST(3 AS BIGINT), CAST(4 AS BIGINT), 'append',    TRUE))
        |  AS t(version, n_parts, operation, ts_ok)
        |ORDER BY version""".stripMargin,
    // snapshot immutability contract: VERSION AS OF 1 after a second
    // publish must be exactly the aggregate snapshot 1 committed
    "q32_time_travel"         ->
      """SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS k,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS v
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,
    // what the consumer reads after write-audit-publish must be exactly
    // the source aggregate that entered staging
    "q28_wap_publish"         ->
      """SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS k,
        |       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS v
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,
    // all four CUBE grains in one statement; GROUPING() is the same
    // bitmask convention as Spark's grouping_id(), and the '(all)'
    // labels keep the ORDER BY engine-neutral (no NULL placement)
    "q29_cube_agg"            ->
      """SELECT COALESCE(priority, '(all)') AS priority,
        |       COALESCE(status, '(all)') AS status,
        |       CAST(GROUPING(priority, status) AS BIGINT) AS gid,
        |       COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS rev_e2
        |FROM (SELECT o_orderpriority AS priority, o_orderstatus AS status,
        |             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        |      FROM orders)
        |GROUP BY CUBE (priority, status)
        |ORDER BY gid, priority, status""".stripMargin,
    // the full analytic-window surface over the daily frame; frames and
    // tie-broken orders are spelled identically on both engines
    "q30_window_suite"        ->
      """WITH daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
        |                      SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
        |               FROM orders GROUP BY 1)
        |SELECT day, CAST(cents AS BIGINT) AS cents,
        |       CAST(LAG(cents, 1) OVER w AS BIGINT) AS prev_cents,
        |       CAST(LEAD(cents, 1) OVER w AS BIGINT) AS next_cents,
        |       CAST(FIRST_VALUE(cents) OVER wr AS BIGINT) AS first_cents,
        |       CAST(LAST_VALUE(cents) OVER wr AS BIGINT) AS running_cents,
        |       CAST(SUM(cents) OVER ws AS BIGINT) AS sum7_cents,
        |       COUNT(*) OVER ws AS n7,
        |       RANK() OVER wv AS rev_rank,
        |       CAST(floor(PERCENT_RANK() OVER wv * 1000000 + 0.5) AS BIGINT) AS pr_e6,
        |       CAST(floor(CUME_DIST() OVER wv * 1000000 + 0.5) AS BIGINT) AS cd_e6
        |FROM daily
        |WINDOW w AS (ORDER BY day),
        |       wr AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       ws AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING),
        |       wv AS (ORDER BY cents, day)
        |ORDER BY day""".stripMargin,
  )
}

/** Typed-row shapes for [[Core.q20TypedSegments]] (top level so Encoders
  * derive without closure capture of the suite).
  */
case class TOrder(o_orderkey: Long, o_custkey: Long, o_totalprice: Double)
case class TCustomer(c_custkey: Long, c_mktsegment: String)
