package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window

/** Per-key top-k query definitions and their oracles; every top-k is the
  * `row_number()` window idiom.
  */
object TopKPerKey {
  /** x261: top-3 parts per brand by exact revenue (exact e2 cents),
    * hash-checked against the same window-idiom SQL.
    */
  def topBrandParts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val rev = graft.Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .join(broadcast(graft.Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "l_partkey")
      .agg(sum(col("cents")).as("rev_e2"))
    rev.withColumn("rnk", row_number().over(
        Window.partitionBy("p_brand").orderBy(col("rev_e2").desc, col("l_partkey"))))
      .filter(col("rnk") <= 3)
      .orderBy("p_brand", "rnk")
  }

  val topBrandPartsOracle: String =
    """WITH rev AS (SELECT p.p_brand, l.l_partkey,
      |                    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
      |                      AS BIGINT) AS rev_e2
      |             FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |             GROUP BY 1, 2)
      |SELECT p_brand, l_partkey, rev_e2, rnk FROM (
      |  SELECT p_brand, l_partkey, rev_e2,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
      |           ORDER BY rev_e2 DESC, l_partkey) AS INTEGER) AS rnk
      |  FROM rev)
      |WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin

  /** x282: top-2 parts per (brand, size) COMPOSITE key (string + int
    * fields) — the two-column partition key plans the same
    * WindowGroupLimit(Partial) prune as a single-column one.
    */
  def topBrandContainerParts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val rev = graft.Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .join(broadcast(graft.Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_size", "l_partkey")
      .agg(sum(col("cents")).as("rev_e2"))
    rev.withColumn("rnk", row_number().over(
        Window.partitionBy("p_brand", "p_size").orderBy(col("rev_e2").desc, col("l_partkey"))))
      .filter(col("rnk") <= 2)
      .orderBy("p_brand", "p_size", "rnk")
  }

  val topBrandContainerPartsOracle: String =
    """WITH rev AS (SELECT p.p_brand, p.p_size, l.l_partkey,
      |                    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
      |                      AS BIGINT) AS rev_e2
      |             FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |             GROUP BY 1, 2, 3)
      |SELECT p_brand, p_size, l_partkey, rev_e2, rnk FROM (
      |  SELECT p_brand, p_size, l_partkey, rev_e2,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY p_brand, p_size
      |           ORDER BY rev_e2 DESC, l_partkey) AS INTEGER) AS rnk
      |  FROM rev)
      |WHERE rnk <= 2 ORDER BY p_brand, p_size, rnk""".stripMargin

  /** x279: TIERED per-brand quota ranking — each brand keeps its
    * top-`quota` parts by exact revenue, where quota = 1 + (brand number
    * mod 3) is a RUNTIME COLUMN. The quota derivation is content-derived
    * and SQL-mirrored (substr + cast, both engines).
    */
  def topBrandPartsTiered(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val rev = graft.Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .join(broadcast(graft.Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "l_partkey")
      .agg(sum(col("cents")).as("rev_e2"))
      .withColumn("quota",
        (lit(1L) + substring(col("p_brand"), 7, 8).cast("long") % 3L).as("quota"))
    rev.withColumn("rnk", row_number().over(
        Window.partitionBy("p_brand").orderBy(col("rev_e2").desc, col("l_partkey"))))
      // quota <= 3 by its derivation, so the literal conjunct drops no row
      // and lets InferWindowGroupLimit plan the map-side prune
      .filter(col("rnk") <= col("quota") && col("rnk") <= 3)
      .orderBy("p_brand", "rnk")
  }

  val topBrandPartsTieredOracle: String =
    """WITH rev AS (SELECT p.p_brand, l.l_partkey,
      |                    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
      |                      AS BIGINT) AS rev_e2
      |             FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |             GROUP BY 1, 2),
      |q AS (SELECT *, 1 + (CAST(substr(p_brand, 7) AS BIGINT) % 3) AS quota FROM rev)
      |SELECT p_brand, l_partkey, rev_e2, quota, rnk FROM (
      |  SELECT p_brand, l_partkey, rev_e2, quota,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY p_brand
      |           ORDER BY rev_e2 DESC, l_partkey) AS INTEGER) AS rnk
      |  FROM q)
      |WHERE rnk <= quota ORDER BY p_brand, rnk""".stripMargin

  /** x271 / x272: top-2 lineitems per part, straight off the raw lineitem
    * scan — no pre-aggregate, so the exchange carries whatever the plan
    * lets through. Both query names run this one window idiom (names and
    * hashes are kept; SCALE.md r10 measured the custom operator shipping
    * the same rows). `InferWindowGroupLimit` plans Sort →
    * WindowGroupLimit(Partial) BELOW the exchange for the literal
    * `row_number() ≤ 2` filter.
    *
    * tie = orderkey·8 + linenumber (linenumber ∈ 1..7) — a single exact
    * BIGINT total order, same expression both engines.
    */
  def topFactPerPartWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val fact = graft.Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        (col("l_orderkey").cast("long") * lit(8L)
          + col("l_linenumber").cast("long")).as("tie"))
    fact.withColumn("rnk", row_number().over(
        Window.partitionBy("l_partkey").orderBy(col("cents").desc, col("tie"))))
      .filter(col("rnk") <= 2)
      .orderBy("l_partkey", "rnk")
  }

  val topFactPerPartOracle: String =
    """WITH li AS (SELECT l_partkey,
      |                   CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
      |                   CAST(l_orderkey AS BIGINT) * 8
      |                     + CAST(l_linenumber AS BIGINT) AS tie
      |            FROM lineitem)
      |SELECT l_partkey, cents, tie, rnk FROM (
      |  SELECT l_partkey, cents, tie,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY l_partkey
      |           ORDER BY cents DESC, tie) AS INTEGER) AS rnk
      |  FROM li)
      |WHERE rnk <= 2 ORDER BY l_partkey, rnk""".stripMargin
}
