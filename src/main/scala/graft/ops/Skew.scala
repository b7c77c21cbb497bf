package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-handling patterns for 100 TB posture. AQE's skew-join splitting
  * handles join-side skew automatically; these cover the aggregation-side
  * heavy-hitter case AQE does not: a groupBy where a handful of keys own a
  * large share of all rows, so one reducer drags the stage.
  */
object Skew {

  /** Two-phase salted aggregation: rows are spread over `salt` sub-keys,
    * partially aggregated per (key, salt), then the partials are combined
    * per key. The heavy key's rows land on `salt` reducers instead of one.
    * Works for any algebraic aggregate supplied as (partial, combine)
    * pairs; the count/sum convenience below covers the common case.
    *
    * Salt = xxhash64 of every column, so row→salt never depends on
    * partition layout and the row→partial-sum GROUPING is run-stable.
    * Combine ORDER within a reducer can still follow shuffle-fetch
    * arrival on a real cluster, so strict bit-for-bit double
    * reproduction additionally needs an order-independent accumulator
    * (decimal/integral sums) — in local mode fetch order is stable and
    * sums reproduce exactly. Caveat: IDENTICAL rows share a salt, so a
    * hot key whose rows are duplicates (e.g. a projected key-only frame)
    * still lands on one reducer — content hashing cannot distinguish
    * identical content; the result stays exact.
    */
  def saltedAgg(df: DataFrame, key: Seq[String], salt: Int,
                partial: Seq[Column], combine: Seq[Column]): DataFrame =
    df.withColumn("__salt",
        pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(salt.toLong)))
      .groupBy((key.map(col) :+ col("__salt")): _*)
      .agg(partial.head, partial.tail: _*)
      .groupBy(key.map(col): _*)
      .agg(combine.head, combine.tail: _*)

  /** Salted count + sum — equivalent to
    * groupBy(key).agg(count(*) as n, sum(valueCol) as total).
    */
  def saltedCountSum(df: DataFrame, key: Seq[String], valueCol: String,
                     salt: Int = 16): DataFrame =
    saltedAgg(df, key, salt,
      partial = Seq(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s")),
      combine = Seq(sum(col("__n")).as("n"), sum(col("__s")).as("total")))

  /** x188: key-skew profile — the PRE-JOIN audit that decides between
    * the x45 (partial-agg absorb) and x46 (AQE skew-split) strategies
    * before a shuffle is attempted: per-key row counts reduced to the
    * four numbers an engineer actually routes on — top-1 and top-10 key
    * share, and the Gini of the key distribution (0 = uniform keys,
    * → 1 = one hot key carries everything). The rank the Gini needs runs
    * through the two-phase bucketed [[Ranking.globalRowNumber]] over the
    * KEY-grain aggregate (never the fact); Σrnk·n widens to
    * DECIMAL(38,0) (the a35 bound) and every emitted ratio converts its
    * exact integers to double once. Output: one row.
    */
  def keySkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    val counts = graft.Tables.lineitem(spark, dir)
      .groupBy("l_partkey").agg(count(lit(1)).as("n"))
    val ranked = Ranking.globalRowNumber(counts, col("n"), col("l_partkey"), "rnk")
    val tot = counts.agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"))
    ranked.crossJoin(broadcast(tot))
      .agg(max(col("n_keys")).as("n_keys"), max(col("n_rows")).as("n_rows"),
        sum(when(col("rnk") === col("n_keys"), col("n"))).as("top1"),
        sum(when(col("rnk") > col("n_keys") - 10, col("n"))).as("top10"),
        sum(d38(col("rnk") * col("n"))).as("s1"))
      .select(col("n_keys"), col("n_rows"),
        floor(col("top1").cast("double") / col("n_rows").cast("double")
          * 1000000d + 0.5d).cast("long").as("top1_share_e6"),
        floor(col("top10").cast("double") / col("n_rows").cast("double")
          * 1000000d + 0.5d).cast("long").as("top10_share_e6"),
        floor((lit(2).cast("decimal(38,0)") * col("s1")
            - d38(col("n_keys") + 1) * d38(col("n_rows"))).cast("double")
          / (d38(col("n_keys")) * d38(col("n_rows"))).cast("double")
          * 1000000d + 0.5d).cast("long").as("gini_e6"))
  }

  val keySkewOracle: String =
    """WITH c AS (SELECT l_partkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
      |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n, l_partkey) AS rnk FROM c),
      |t AS (SELECT COUNT(*) AS n_keys, SUM(n) AS n_rows FROM c),
      |a AS (SELECT MAX(t.n_keys) AS n_keys, MAX(t.n_rows) AS n_rows,
      |             SUM(CASE WHEN r.rnk = t.n_keys THEN r.n ELSE 0 END) AS top1,
      |             SUM(CASE WHEN r.rnk > t.n_keys - 10 THEN r.n ELSE 0 END) AS top10,
      |             SUM(r.rnk * r.n) AS s1
      |      FROM r, t)
      |SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(n_rows AS BIGINT) AS n_rows,
      |       CAST(floor(CAST(top1 AS DOUBLE) / CAST(n_rows AS DOUBLE)
      |            * 1000000 + 0.5) AS BIGINT) AS top1_share_e6,
      |       CAST(floor(CAST(top10 AS DOUBLE) / CAST(n_rows AS DOUBLE)
      |            * 1000000 + 0.5) AS BIGINT) AS top10_share_e6,
      |       CAST(floor(CAST(2 * s1 - (n_keys + 1) * n_rows AS DOUBLE)
      |            / CAST(n_keys * n_rows AS DOUBLE)
      |            * 1000000 + 0.5) AS BIGINT) AS gini_e6
      |FROM a""".stripMargin

  /** Zipf-skewed grouping domain derived from lineitem: k = ⌊log₂ p⌋ over
    * the uniform part key, so bucket j holds 2ʲ parts and the heaviest
    * bucket owns ~40–50% of all rows (49% at sf0.01's 2000-part domain,
    * 41% at sf0.1's 20000) — the classic heavy-hitter shape.
    * (The +0.5 keeps the float log off exact power-of-two boundaries so
    * Spark's ln(x)/ln 2 and DuckDB's log2 floor identically; the margin to
    * the nearest integer is ≥ 0.72/2ᵏ ≈ 4e-5 at k = 14, vs ~1e-13 float
    * error.) v is a 4096-ary value domain for the distinct-set pair.
    */
  private[graft] def zipfBase(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.lineitem(spark, dir).select(
      floor(log(2.0, col("l_partkey") + 0.5d)).cast("long").as("k"),
      pmod(col("l_orderkey"), lit(4096L)).as("v"),
      col("l_quantity"))

  /** Plain count/sum over the zipf key — the control for x42. Algebraic
    * aggregates are ALREADY skew-immune in Spark: partial HashAggregate
    * collapses the hot key to one row per map partition before the
    * exchange, so the reducer receives ≤ #partitions rows per key no
    * matter how hot it is. The bench pair exists to demonstrate that, not
    * to strawman it (see docs/PLANS.md x41–x44).
    */
  def skewSumPlain(spark: SparkSession, dir: String): DataFrame =
    zipfBase(spark, dir)
      .groupBy("k")
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("total"))
      .orderBy("k")

  /** saltedCountSum over the same zipf key — must equal [[skewSumPlain]]. */
  def skewSumSalted(spark: SparkSession, dir: String): DataFrame =
    saltedCountSum(zipfBase(spark, dir).select(col("k"), col("l_quantity")),
      Seq("k"), "l_quantity", salt = 16)
      .withColumn("total", round(col("total"), 4))
      .orderBy("k")

  /** Plain distinct-set assembly over the zipf key — the case where salting
    * DOES pay. collect_set's partial buffers dedup only locally, so every
    * map partition ships its own copy of the hot key's value set: the
    * exchange moves ~#partitions·|D| values for the hot key, and ONE
    * reducer hash-merges them all.
    */
  def skewSetPlain(spark: SparkSession, dir: String): DataFrame =
    zipfBase(spark, dir)
      .groupBy("k")
      .agg(sort_array(collect_set(col("v"))).as("arr"))
      .select(col("k"), size(col("arr")).cast("long").as("n_distinct"),
        array_join(transform(col("arr"), _.cast("string")), " ").as("vals"))
      .orderBy("k")

  /** Salted twin of [[skewSetPlain]] via [[saltedAgg]]: the deterministic
    * salt is a hash of (k, v), so it PARTITIONS the value domain — each
    * distinct v lives in exactly one salt slice, making phase-1 slices
    * disjoint and phase 2 a pure concatenation of pre-deduped arrays.
    * Total exchange volume is unchanged (partial collect_set still dedups
    * only within its map partition), but the hot key's merge spreads over
    * `salt` reducers instead of one: the max shuffle volume into any
    * single task — the thing that makes one reducer drag the stage —
    * drops by the salt factor (asserted via task metrics in OpsSpec).
    */
  def skewSetSalted(spark: SparkSession, dir: String): DataFrame =
    saltedAgg(zipfBase(spark, dir).select(col("k"), col("v")),
      Seq("k"), salt = 16,
      partial = Seq(collect_set(col("v")).as("__s")),
      combine = Seq(array_sort(flatten(collect_list(col("__s")))).as("arr")))
      .select(col("k"), size(col("arr")).cast("long").as("n_distinct"),
        array_join(transform(col("arr"), _.cast("string")), " ").as("vals"))
      .orderBy("k")

  /** Shared inputs of the x45/x46 JOIN pair: the zipf-keyed fact rows with
    * quantity in integer basis points (exact under any summation order),
    * and a second TABLE keyed by the same bucket — the power-of-two
    * representative part of each log₂ bucket (a filter, not an aggregate:
    * the side must reach the join through a plain shuffle for the AQE
    * skew-split pattern to apply — see [[skewJoinSplit]]).
    */
  private def zipfJoinSides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // The fact is staged by the rollup dimension v before the join — the
    // mid-pipeline shape (at scale the big side of a shuffle join arrives
    // from an upstream stage with thousands of tasks, not a raw
    // single-file scan). This matters for the x46 demonstration: AQE
    // splits a skewed reducer partition at MAP-OUTPUT granularity, so a
    // single-map fixture (one parquet row group) is unsplittable no matter
    // how skewed its reducer sizes are.
    val a = zipfBase(spark, dir)
      .select(col("k"), pmod(col("v"), lit(64L)).as("v"),
        (col("l_quantity").cast("long") * 10000L).as("q_bp"))
      .repartition(16, col("v"))
    val b = graft.Tables.part(spark, dir)
      .filter(col("p_partkey").bitwiseAND(col("p_partkey") - 1) === 0)
      .select(floor(log(2.0, col("p_partkey") + 0.5d)).cast("long").as("k"),
        col("p_partkey").as("rep_key"))
    (a, b)
  }

  /** The post-join rollup keys on the CROSS dimension v — deliberately NOT
    * on (or including) the join key: any grouping with k as a subset is
    * already clustered by the join's hash(k) partitioning, so Catalyst
    * fuses the final aggregate into the join stage with no exchange — and
    * AQE then rightly declines to split the skewed partition rather than
    * introduce one. Grouping on v forces the downstream exchange no matter
    * how the join partitions, so skew-splitting the join costs nothing
    * extra (the join-on-entity-key, rollup-by-time-slot shape). The
    * k-weighted checksum keeps every joined row's k and rep_key in the
    * oracle-checked output without grouping on them.
    */
  private def devAgg(joined: DataFrame): DataFrame =
    joined.groupBy("v")
      .agg(count(lit(1)).as("n"), sum(col("q_bp")).as("sum_q_bp"),
        sum(col("k") * col("rep_key")).as("k_checksum"))
      .orderBy("v")

  /** Plain zipf-key fact⋈stats join — the x45 control. The stats side is
    * |key domain| rows (12 here), so the RIGHT plan is a broadcast hash
    * join: the skewed key never shuffles at all, and key skew is
    * irrelevant to a map-side join. OpsSpec pins the BroadcastHashJoin.
    */
  def skewJoinPlain(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = zipfJoinSides(spark, dir)
    devAgg(a.join(b, "k"))
  }

  /** The sort-merge formulation of the same join (x46) — the shape a
    * fact⋈fact join takes when NEITHER side broadcasts (at 100 TB the
    * stats side is a billion-key frame, not 12 rows). `hint("merge")`
    * forces the shuffled plan AND stops AQE from demoting it back to a
    * broadcast, so the hot key's partition is genuinely oversized — the
    * regime where AQE skew-join splitting carves the skewed partition
    * into parallel splits and replicates the matching side. OpsSpec runs
    * this with the skew thresholds scaled to the test corpus and asserts
    * the executed plan's `skew=true`; output is identical to x45 by
    * construction (split-and-replicate is correctness-preserving).
    */
  def skewJoinSplit(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = zipfJoinSides(spark, dir)
    devAgg(a.join(b.hint("merge"), Seq("k")))
  }

  /** DuckDB twin of BOTH x45 and x46 (the pair differs only in physical
    * strategy). SUM(BIGINT) widens to HUGEINT in DuckDB — cast back.
    */
  val skewJoinOracle: String =
    """WITH a AS (
      |  SELECT CAST(floor(log2(l_partkey + 0.5)) AS BIGINT) AS k,
      |         (l_orderkey % 4096) % 64 AS v,
      |         CAST(l_quantity AS BIGINT) * 10000 AS q_bp
      |  FROM lineitem),
      |b AS (SELECT CAST(floor(log2(p_partkey + 0.5)) AS BIGINT) AS k,
      |             p_partkey AS rep_key
      |      FROM part WHERE (p_partkey & (p_partkey - 1)) = 0)
      |SELECT a.v, COUNT(*) AS n,
      |       CAST(SUM(a.q_bp) AS BIGINT) AS sum_q_bp,
      |       CAST(SUM(a.k * b.rep_key) AS BIGINT) AS k_checksum
      |FROM a JOIN b USING (k)
      |GROUP BY a.v ORDER BY v""".stripMargin

  val skewSumOracle: String =
    """SELECT CAST(floor(log2(l_partkey + 0.5)) AS BIGINT) AS k,
      |       COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS total
      |FROM lineitem GROUP BY 1 ORDER BY k""".stripMargin

  val skewSetOracle: String =
    """WITH b AS (
      |  SELECT CAST(floor(log2(l_partkey + 0.5)) AS BIGINT) AS k,
      |         l_orderkey % 4096 AS v
      |  FROM lineitem)
      |SELECT k, CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
      |       array_to_string(list_transform(list_sort(list(DISTINCT v)),
      |                                      x -> CAST(x AS VARCHAR)), ' ') AS vals
      |FROM b GROUP BY k ORDER BY k""".stripMargin
}
