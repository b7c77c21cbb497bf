package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.functions._

import graft.plans.TopKPerKey

/** Per-key top-k plan laws: Spark 4's WindowGroupLimit on the window
  * idiom, with a literal rank filter or a column quota under a literal
  * ceiling.
  */
class PlansSpec extends SparkSuite {

  /** numOutputRows of every map-side top-k prune (Partial-mode
    * WindowGroupLimitExec) in an executed plan.
    */
  private def partialPruneRows(df: DataFrame): Seq[Long] =
    flattenPlan(df.queryExecution.executedPlan).collect {
      case w: WindowGroupLimitExec if w.mode == Partial => w.metrics("numOutputRows").value
    }

  test("x261 plans WindowGroupLimit Partial below the exchange and Final above it") {
    // x279's column quota under the literal ceiling 3 plans the same shape
    for (got <- Seq(TopKPerKey.topBrandParts(spark, sf),
                    TopKPerKey.topBrandPartsTiered(spark, sf))) {
      assert(got.collect().nonEmpty)
      // the tree prints top-down: Final, then the hash exchange, then
      // the map-side Partial prune
      val plan = got.queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toIndexedSeq
      def limitAt(mode: String): Int =
        lines.indexWhere(l => l.contains("WindowGroupLimit") && l.trim.endsWith(mode))
      val (iFinal, iPartial) = (limitAt("Final"), limitAt("Partial"))
      val iExchange = lines.indexWhere(_.contains("Exchange hashpartitioning"))
      assert(iFinal >= 0 && iExchange >= 0 && iPartial >= 0, s"operators missing:\n$plan")
      assert(iFinal < iExchange && iExchange < iPartial,
        s"expected Final above the hash exchange above Partial:\n$plan")
    }
  }

  test("variable-k TopKPerKey: per-key quotas honored, exchange quota-bounded") {
    import org.apache.spark.sql.expressions.Window
    // three keys with quotas 1/3/0 over 8 fact-sized input partitions: a
    // zero quota drops its key entirely. x279's idiom: the column quota
    // alone is no literal rank filter, so InferWindowGroupLimit needs the
    // literal ceiling 3 (>= every quota, so it drops no row) to plan the
    // Partial prune, which ships <= 3 keys * 3 * 8 partitions = 72 rows
    // (without it, all 9000)
    val df = spark.range(0, 9000, 1, 8)
      .select((col("id") % 3).cast("string").as("k"), col("id").as("v"), col("id").as("t"),
        when(col("id") % 3 === 0, 1L).when(col("id") % 3 === 1, 3L)
          .otherwise(0L).as("quota"))
    val got = df.withColumn("rnk", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("v").desc, col("t"))))
      .filter(col("rnk") <= col("quota") && col("rnk") <= 3)
    val rows = got.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(4))).toSet
    // quota semantics: key 0 keeps its single best, key 1 its top 3,
    // key 2 nothing (ids 0..8999; key j's members are ids ≡ j mod 3)
    assert(rows === Set(("0", 8997L, 1),
      ("1", 8998L, 1), ("1", 8995L, 2), ("1", 8992L, 3)))
    val partials = partialPruneRows(got)
    assert(partials.nonEmpty, "column quota + literal ceiling planned no Partial WindowGroupLimit")
    partials.foreach(n =>
      assert(n <= 72L, s"variable-k partial leaked $n rows past the ceiling bound"))
  }

  test("window group limit partial phase ships at most k rows per key per input partition") {
    import org.apache.spark.sql.expressions.Window
    // two hot keys spread over 8 partitions, 1000 rows each: without the
    // map-side prune all 8000 rows would cross the exchange; the Partial
    // WindowGroupLimit must cut it to <= k rows per (key, partition). The
    // key is not a literal — a constant key folds to TakeOrderedAndProject
    val df = spark.range(0, 8000, 1, 8)
      .select((col("id") % 2).cast("string").as("k"), col("id").as("v"), col("id").as("t"))
    val got = df.withColumn("rnk", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("v").desc, col("t"))))
      .filter(col("rnk") <= 5)
    val rows = got.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    assert(rows.filter(_._1 == "0").sortBy(_._3).map(_._2).toSeq ===
      Seq(7998L, 7996L, 7994L, 7992L, 7990L))
    assert(rows.filter(_._1 == "1").sortBy(_._3).map(_._2).toSeq ===
      Seq(7999L, 7997L, 7995L, 7993L, 7991L))
    val partials = partialPruneRows(got)
    assert(partials.nonEmpty, "no Partial WindowGroupLimitExec in the executed plan")
    // <= 2 keys * 5 * 8 partitions = 80 rows; without the prune, 8000
    partials.foreach(n =>
      assert(n <= 80L, s"partial prune leaked $n rows through the exchange"))
  }

  test("stratified A-ES ships a quota-bounded exchange regardless of corpus size") {
    val got = graft.ops.Sampling.stratifiedAes(spark, sf)
    assert(got.collect().nonEmpty)
    val partials = partialPruneRows(got)
    assert(partials.nonEmpty, "A-ES did not plan a Partial WindowGroupLimit")
    val sources = graft.Tables.documents(spark, sf)
      .select("source").distinct().count()
    // P = the ACTUAL scan partition count of the documents table (file
    // layout / maxPartitionBytes decide this, and it can exceed
    // defaultParallelism on a many-file or large-file layout — the bound
    // must come from the same partitioning the partial prune ran over,
    // not from the cluster's core count)
    val parts = graft.Tables.documents(spark, sf).rdd.getNumPartitions.toLong
    // the k·P bound: <= k per (source, input partition) — the exchange is
    // quota-sized at ANY corpus size (measured constant 801 rows at
    // 1×/10×/30× in SCALE.md round-10)
    partials.foreach(m =>
      assert(m <= 10L * sources * (parts + 4),
        s"A-ES partial shipped $m rows past the quota bound"))
  }

  // ---- plan-contract sweep (r11 verdict directive 7) -------------------
  // The load-bearing plan guarantees as a REGRESSION GATE: for the
  // heaviest batch queries (top cold task-s in docs/BENCH_DETAIL.json,
  // ML fits and streaming replays excluded — their cost is the trainer /
  // the micro-batch loop, not a batch plan), execute at the gate SF and
  // pin (a) the shuffle-exchange count, (b) the partition-less-window
  // count, (c) zero non-broadcast cartesian products. A Spark upgrade or
  // refactor that silently re-plans a guarantee away (adds an exchange,
  // degrades a two-phase ranking to a one-task window, un-broadcasts a
  // dim into a cartesian) fails here with the offending plan printed.
  // Budgets are CURRENT counts, not aspirations — tightening is a win,
  // loosening must be a reviewed decision in this table.

  /** AQE-aware plan flatten: descends through adaptive roots, query
    * stages, and subqueries; stops at InMemoryTableScan (a consumer's
    * plan must not be charged for its cached build) and at reused
    * exchanges (counted once, at the original).
    */
  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val inner: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _: InMemoryTableScanExec => Seq.empty
      case _: ReusedExchangeExec => Seq.empty
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: (inner.flatMap(flattenPlan) ++ p.subqueries.flatMap(flattenPlan))
  }

  private def planCounts(name: String): (Int, Int, Int, Int, String) = {
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.WindowExec
    Layer.clear(spark) // always probe the COLD plan: a Layer hit swaps
    // a build subtree for an InMemoryTableScan and the count drifts with
    // whatever ran before this sweep
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize the adaptive plan
    val nodes = flattenPlan(df.queryExecution.executedPlan)
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count { case w: WindowExec => w.partitionSpec.isEmpty; case _ => false },
      nodes.count(_.isInstanceOf[CartesianProductExec]),
      nodes.count(_.isInstanceOf[ExpandExec]),
      df.queryExecution.executedPlan.toString)
  }

  test("plan-contract sweep: top task-s batch queries hold their exchange and window budgets") {
    // (query, max shuffle exchanges, max partition-less windows) —
    // values are the MEASURED counts at the gate SF (r12). The
    // partition-less windows that remain are all GRID-frame windows
    // (bucket/boundary frames of the two-phase rankings — ≤ B rows by
    // construction), never a fact window: a regression that adds one
    // more trips the budget. q25's 2 exchanges are its final aggregate +
    // total-order ORDER BY; the JOIN itself planning zero exchanges is
    // pinned by OpsSpec's co-bucketed law (and by the sensitivity test
    // below, which shows the count jumping when bucketing is disabled).
    val budgets: Seq[(String, Int, Int)] = Seq(
      ("x265_gains_table", 18, 6),
      ("x267_avg_precision", 17, 5),
      ("q14_feature_matrix", 3, 0),
      ("q10_users_final", 1, 0),
      ("x215_triple_itemsets", 8, 0),
      // 5 or 6: one of x213's joins sits at the AQE broadcast boundary at
      // this SF, so the runtime SMJ→BHJ decision adds/removes one
      // exchange run-to-run; 6 is the observed ceiling of BOTH plans
      ("x213_substitutes", 6, 0),
      ("x242_mutual_knn", 2, 0),
      ("a38_theilsen_trend", 8, 1),
      ("q13_labels", 2, 0),
      ("a36_rfm_segments", 18, 3),
      ("q09_user_prior_features", 1, 0),
      ("a35_gini_lorenz", 17, 3),
      ("q06_products_dim_join", 1, 0),
      ("q05_product_features", 1, 0),
      ("q12_candidates", 1, 0),
      ("x200_kcore", 3, 0),
      ("q11_userproduct_features", 1, 0),
      ("x231_label_prop", 3, 0),
      ("x110_trade_pagerank", 11, 0),
      ("x96_quality_fusion", 22, 3),
      ("q25_bucketed_join", 2, 0),
      ("x147_column_stats_hll", 2, 0),
      // x283: the final-round frame is localCheckpointed per iteration,
      // so the COLD consumer plan is one exchange (the output sort) —
      // the per-round joins are bounded by their own checkpoints
      ("x283_part_pagerank", 1, 0),
      // x285: the recursion executes inside UnionLoop (its per-level
      // plans are not part of the consumer plan); 2 = final aggregate +
      // total-order sort
      ("x285_recursive_cte", 2, 0))
    val failures = budgets.flatMap { case (name, maxEx, maxGw) =>
      val (nEx, nGw, nCp, nXp, plan) = planCounts(name)
      info(f"$name%-26s exchanges=$nEx%2d globalWindows=$nGw cartesians=$nCp expands=$nXp")
      val errs = Seq(
        (nEx > maxEx) -> s"$name: $nEx shuffle exchanges (budget $maxEx)",
        (nGw > maxGw) -> s"$name: $nGw partition-less fact windows (budget $maxGw)",
        (nCp > 0) -> s"$name: $nCp cartesian products (budget 0)",
        // x147's reason to exist: approximate NDV stats plan NO Expand
        // (the exact-NDV x124 pays one — that asymmetry IS the guarantee)
        (name == "x147_column_stats_hll" && nXp > 0) ->
          s"$name: $nXp Expand nodes (HLL stats must plan none)")
        .collect { case (true, msg) => msg }
      if (errs.nonEmpty) Seq(errs.mkString("; ") + s"\n$plan") else Nil
    }
    assert(failures.isEmpty, failures.mkString("\n\n"))
  }

  test("plan-contract sweep detector actually fires: disabling bucketing re-plans q25 with exchanges") {
    // broadcast must be off too: at the tiny gate SF, AQE would hide the
    // lost bucketing behind a broadcast join and the count would not move
    val keys = Seq("spark.sql.sources.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "-1")
      spark.conf.set(keys(2), "-1")
      val (nEx, _, _, _, _) = planCounts("q25_bucketed_join")
      assert(nEx > 2,
        "sensitivity check: with bucketing disabled the detector must see added exchanges")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- global-window grain contract (r16, verdict directive 6) ----------
  // The time-series family runs partition-less windows DELIBERATELY — but
  // only because their inputs are day-grain aggregates (calendar-bounded at
  // any corpus size). That premise was prose until now; this law measures
  // it: after executing each query, every partition-less WindowExec's feed
  // exchange must have written no more rows than the orders calendar has
  // distinct days (plus the ≤257-row ranking grid frames' slack). A
  // refactor that slides a global window down to row grain fails here with
  // the row count printed.
  test("time-series global windows stay at day grain (bounded input, measured)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val dayBound = Tables.orders(spark, sf)
      .select(countDistinct(expr(
        "CAST(floor(unix_micros(o_orderdate) / 86400000000) AS BIGINT)")))
      .first().getLong(0) + 300 // + the B-row bucket/grid frames' ceiling
    val names = Seq("a45_changepoint", "x239_isotonic_exact",
      "x240_backtest", "x243_conformal", "x248_kendall_tau")
    val failures = names.flatMap { name =>
      Layer.clear(spark)
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      qe.executedPlan.execute().count() // executes the HELD plan: no column
      // pruning can drop the windows the law wants to observe
      val globals = flattenPlan(qe.executedPlan)
        .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      if (globals.isEmpty) Seq(s"$name: no partition-less window found — law is vacuous, update the list")
      else globals.flatMap { w =>
        val fed = flattenPlan(w).collectFirst {
          case e: ShuffleExchangeLike =>
            e.metrics.get("shuffleRecordsWritten").map(_.value)
          // a reused feed counts too — its metric lives on the original
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            r.child.metrics.get("shuffleRecordsWritten").map(_.value)
          // an already-single-partition feed (AQE-coalesced cache) has no
          // exchange: the cache scan's own row count is the window input
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            s.metrics.get("numOutputRows").map(_.value)
        }.flatten
        fed match {
          case Some(rows) if rows > dayBound =>
            Some(s"$name: global window fed $rows rows (day bound $dayBound)")
          case None => Some(s"$name: no exchange metric under the global window")
          case _ => None
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // ---- graph band-gate law (r16, verdict directive 8) --------------------
  // The whole-state-frame broadcast channel's SELECTION is a pure predicate
  // shared by all three iteration channels (k-core / LPA / PageRank):
  // strictly inside (floor, budget]. The channels' row-for-row equivalence
  // is pinned in OpsSpec; the measured 1.4-1.7x win inside the band lives
  // in SCALE.md r15. This law pins the decision's boundary semantics so a
  // refactor cannot silently shift the ladder.
  test("graph broadcast band gate engages strictly inside (floor, budget]") {
    import graft.ops.Graph.inBroadcastBand
    assert(!inBroadcastBand(10, floor = 10, budget = 100), "n == floor must stay on the AQE channel")
    assert(inBroadcastBand(11, floor = 10, budget = 100), "n just above the floor must broadcast")
    assert(inBroadcastBand(100, floor = 10, budget = 100), "n == budget must broadcast (inclusive)")
    assert(!inBroadcastBand(101, floor = 10, budget = 100), "n above the budget must hub-route")
    assert(!inBroadcastBand(5, floor = 10, budget = 100), "below the floor stays on AQE")
    // the production dials: defaults hold the measured r15 band
    assert(!inBroadcastBand(625000L), "the 625k floor itself is outside the band")
    assert(inBroadcastBand(2030000L), "the r15-measured 2.03M corpus sits inside the band")
    assert(inBroadcastBand(4000000L), "the 4M budget is inclusive")
    assert(!inBroadcastBand(4000001L), "above 4M hub-routes")
  }
}
