package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Descending, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-key exact top-k with a PER-KEY quota k read from a column — a
  * logical node, a planner strategy, and a two-phase physical pair,
  * registered per-session through the PUBLIC
  * `spark.experimental.extraStrategies` hook (and available at build time
  * via graft.functions.GraftExtensions' injectPlannerStrategy).
  *
  * WHY an operator: top-k per key combines map-side exactly like a sum —
  * each input partition keeps at most k rows per key (any row outside a
  * partition-local top-k is outside the global top-k), so the exchange
  * ships ≤ k·P rows per key regardless of fact size. For a LITERAL k,
  * Spark 4's `InferWindowGroupLimit` plans exactly this prune for the
  * `row_number().over(partitionBy(key).orderBy(...)) <= k` idiom
  * (WindowGroupLimit(Partial) below the exchange), so every literal-k
  * query in this repo writes the window idiom (x261, x271/x272, x282
  * below; the x262/x266 pools and x274 elsewhere). With k a runtime column
  * there is no literal rank filter for the inference to see and the
  * window idiom ships every row; this operator still bounds the exchange
  * at Σ min(k_key, rows) per partition.
  *
  * Both execs require a child ordering of (key ASC, order DESC, tie ASC);
  * EnsureRequirements plans Spark's own SortExec for it, and each phase
  * is an allocation-free streaming group-limit over the sorted rows.
  *
  * Semantics: rows ranked per key by (order DESC, tie ASC); tie unique
  * per key is the caller's determinism contract. Rows with a NULL order
  * or tie are dropped, and a null or non-positive quota drops its key.
  * Keys must be atomic and non-binary (compared by value equality);
  * float/double keys follow boxed equality, so normalize -0.0/NaN first
  * if the source can produce them. The output schema is the child's
  * columns plus an IntegerType rank (1-based).
  */
case class TopKPerKey(
    key: Expression,
    order: Expression,
    tie: Expression,
    kCol: Expression,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

object TopKPerKey {
  /** DataFrame-level entry: per-key k read from the LongType column
    * `kCol` (constant within a key). Registers the strategy on
    * `spark.experimental.extraStrategies` (idempotent, session-scoped),
    * resolves the columns against the ANALYZED child (the node is built
    * below the analyzer's unresolved-column machinery), and checks at
    * plan time what would otherwise fail mid-job: order/tie/quota must
    * be LongType (the scan compares them as primitive longs) and the key
    * must be atomic and non-binary.
    */
  def ofVarK(df: DataFrame, key: String, order: String, tie: String, kCol: String,
             rankName: String = "rank"): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute = analyzed.output
      .find(a => spark.sessionState.conf.resolver(a.name, name))
      .getOrElse(throw new IllegalArgumentException(
        s"TopKPerKey: no column '$name' in ${analyzed.output.map(_.name).mkString(", ")}"))
    def longAttr(name: String): Attribute = {
      val a = attr(name)
      require(a.dataType == LongType,
        s"TopKPerKey: column '$name' must be LongType (cast it first), got ${a.dataType.simpleString}")
      a
    }
    val keyAttr = attr(key)
    keyAttr.dataType match {
      case _: NumericType | _: StringType | BooleanType | DateType | TimestampType
           | TimestampNTZType => ()
      case other => throw new IllegalArgumentException(
        s"TopKPerKey: key '$key' must be an atomic non-binary type, got " +
          s"${other.simpleString} — rank composite keys with the row_number() window idiom")
    }
    val node = TopKPerKey(keyAttr, longAttr(order), longAttr(tie), longAttr(kCol),
      AttributeReference(rankName, IntegerType, nullable = false)(), analyzed)
    org.apache.spark.sql.graftshim.ColumnBridge.ofRows(spark, node)
  }

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

  /** x279: TIERED per-brand quota ranking — the variable-k regime made a
    * gate query: each brand keeps its top-`quota` parts by exact revenue,
    * where quota = 1 + (brand number mod 3) is a RUNTIME COLUMN (in
    * production: a curation tier read from a config dim). No literal
    * rank filter exists anywhere, so InferWindowGroupLimit cannot plan
    * the window idiom's map-side prune (it would ship every (brand,
    * part) row), while [[TopKPerKey]]'s partial still bounds the
    * exchange at Σ quota_b per partition. The quota derivation is
    * content-derived and SQL-mirrored (substr + cast, both engines).
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
    ofVarK(rev, "p_brand", "rev_e2", "l_partkey", "quota", "rnk")
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

/** Plans the logical node as sort → partial-prune → exchange → sort →
  * final-rank. The sorts come from EnsureRequirements satisfying the
  * execs' requiredChildOrdering — Spark's own codegen'd sorter.
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerKey =>
      val partial = TopKPerKeyPartialExec(t.key, t.order, t.tie, t.kCol, planLater(t.child))
      TopKPerKeyFinalExec(t.key, t.order, t.tie, t.kCol, t.rankAttr, partial) :: Nil
    case _ => Nil
  }
}

/** Shared pruning kernels over an InternalRow iterator. */
private[plans] object TopKPrune {
  /** The (key ASC, order DESC, tie ASC) requirement both execs ask of
    * EnsureRequirements — null placement is irrelevant: the scan drops
    * null-ordered rows wherever they land.
    */
  def requiredOrdering(key: Expression, order: Expression, tie: Expression): Seq[SortOrder] =
    Seq(SortOrder(key, Ascending), SortOrder(order, Descending), SortOrder(tie, Ascending))

  /** Per-row retention limit: the bound quota column (LongType; null →
    * 0, clamped to Int range).
    */
  def limiter(kCol: Expression, childOutput: Seq[Attribute]): InternalRow => Int = {
    val b = BindReferences.bindReference(kCol, childOutput)
    row => {
      val v = b.eval(row)
      if (v == null) 0
      else math.min(Int.MaxValue.toLong, math.max(0L, v.asInstanceOf[Long])).toInt
    }
  }

  /** Streaming group-limit over (key, order DESC, tie)-SORTED input:
    * emit `f(row, rankWithinKey)` for the first limit(row) non-null-ordered
    * rows of each key run. Zero per-row allocation beyond the held key
    * copy at group boundaries (a UTF8String key is copied because scan
    * buffers are reused).
    */
  def groupLimit[T](rows: Iterator[InternalRow], keyE: Expression, ordE: Expression,
                    tieE: Expression, limitOf: InternalRow => Int)(f: (InternalRow, Int) => T): Iterator[T] =
    new Iterator[T] {
      private var curKey: Any = null
      private var haveKey = false
      private var taken = 0
      private var ready: InternalRow = null
      private def advance(): Unit = {
        while (ready == null && rows.hasNext) {
          val row = rows.next()
          if (ordE.eval(row) != null && tieE.eval(row) != null) {
            val kv = keyE.eval(row)
            val same = haveKey && java.util.Objects.equals(curKey, kv)
            if (!same) {
              curKey = kv match { // held across next() calls
                case s: UTF8String => s.copy()
                case other => other
              }
              haveKey = true
              taken = 0
            }
            if (taken < limitOf(row)) { taken += 1; ready = row }
          }
        }
      }
      override def hasNext: Boolean = { advance(); ready != null }
      override def next(): T = {
        advance()
        val r = ready; ready = null
        f(r, taken)
      }
    }
}

/** Phase 1: partition-local top-k per key over the sorted child. No
  * distribution requirement; emits the retained rows unchanged (rank is
  * assigned after the exchange).
  */
case class TopKPerKeyPartialExec(
    key: Expression, order: Expression, tie: Expression, kCol: Expression,
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(TopKPrune.requiredOrdering(key, order, tie))
  override lazy val metrics = Map("numOutputRows" ->
    org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))
  override protected def doExecute(): RDD[InternalRow] = {
    val (keyB, ordB, tieB) = (BindReferences.bindReference(key, child.output),
      BindReferences.bindReference(order, child.output),
      BindReferences.bindReference(tie, child.output))
    val limitOf = TopKPrune.limiter(kCol, child.output)
    val numOut = longMetric("numOutputRows")
    child.execute().mapPartitions({ it =>
      TopKPrune.groupLimit(it, keyB, ordB, tieB, limitOf) { (row, _) => numOut += 1; row }
    }, preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyPartialExec =
    copy(child = newChild)
}

/** Phase 2: requires clustering on the key (Spark inserts the exchange)
  * and the same sort over the ≤ k·P survivors per key, then emits rows
  * best-first with the 1-based rank column appended — the rank IS the
  * group-limit counter.
  */
case class TopKPerKeyFinalExec(
    key: Expression, order: Expression, tie: Expression, kCol: Expression,
    rankAttr: AttributeReference, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(TopKPrune.requiredOrdering(key, order, tie))
  override lazy val metrics = Map("numOutputRows" ->
    org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))
  override protected def doExecute(): RDD[InternalRow] = {
    val (keyB, ordB, tieB) = (BindReferences.bindReference(key, child.output),
      BindReferences.bindReference(order, child.output),
      BindReferences.bindReference(tie, child.output))
    val limitOf = TopKPrune.limiter(kCol, child.output)
    val outAttrs = output
    val numOut = longMetric("numOutputRows")
    child.execute().mapPartitions { it =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      TopKPrune.groupLimit(it, keyB, ordB, tieB, limitOf) { (row, rank) =>
        rankRow.update(0, rank)
        numOut += 1
        proj(joined(row, rankRow)).copy()
      }
    }
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyFinalExec =
    copy(child = newChild)
}
