package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-table operators (SURVEY.md §2.11 X5–X8): JSON column ops and
  * batch tumbling / sliding / session window aggregations. Window starts
  * are emitted as epoch seconds/micros (BIGINT) so the oracle compare never
  * depends on timestamp-precision round-trips.
  */
object Events {

  /** Ordered funnel analysis — the product-analytics staple: how many
    * users progressed view → click → purchase IN ORDER. Each stage is the
    * user-grain "earliest qualifying event at or after the previous
    * stage's time", so an early purchase before any view does not count.
    * All timestamps compare as epoch micros (BIGINT — the s06 precision
    * discipline).
    *
    * Scale shape: three per-user aggregates with map-side partials, each
    * stage joined to the previous on user_id at matching grain (one row
    * per user — AQE broadcasts while it fits, co-partitioned shuffle join
    * beyond); the fact table is scanned once per stage with the
    * event-type filter pushed to parquet. Output is 3 rows at any SF.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("us")).as("v_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .join(views, "user_id").filter(col("us") >= col("v_us"))
      .groupBy("user_id").agg(min(col("us")).as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .join(clicks, "user_id").filter(col("us") >= col("c_us"))
      .groupBy("user_id").agg(min(col("us")).as("p_us"))
    views.agg(count(lit(1)).as("n_users")).select(lit(1L).as("step"), lit("view").as("stage"), col("n_users"))
      .unionByName(clicks.agg(count(lit(1)).as("n_users"))
        .select(lit(2L).as("step"), lit("view>click").as("stage"), col("n_users")))
      .unionByName(purchases.agg(count(lit(1)).as("n_users"))
        .select(lit(3L).as("step"), lit("view>click>purchase").as("stage"), col("n_users")))
      .orderBy("step")
  }

  val funnelOracle: String =
    """WITH ev AS (SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
      |v AS (SELECT user_id, MIN(us) AS v_us FROM ev WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT ev.user_id, MIN(us) AS c_us
      |      FROM ev JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND us >= v_us GROUP BY 1),
      |p AS (SELECT ev.user_id, MIN(us) AS p_us
      |      FROM ev JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND us >= c_us GROUP BY 1)
      |SELECT 1 AS step, 'view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
      |UNION ALL SELECT 2, 'view>click', (SELECT COUNT(*) FROM c)
      |UNION ALL SELECT 3, 'view>click>purchase', (SELECT COUNT(*) FROM p)
      |ORDER BY step""".stripMargin

  /** Retention cohorts — users grouped by their first-activity day, counted
    * on each later day they return: the (cohort_day, day_offset) triangle
    * every growth dashboard draws. Days are integer epoch-day numbers
    * (µs / 86.4e9 floored — pure integer math, no timezone or calendar
    * dependence to diverge between engines).
    *
    * Scale shape: the cohort table is one row per user (map-side partial
    * min); the re-join is user-keyed at matching grain; the final
    * aggregate is |cohorts|·|offsets| rows. The (user, day) frame is
    * already distinct, so each user contributes at most one row per
    * (cohort, offset) and a plain COUNT equals COUNT(DISTINCT user) —
    * without the distinct-agg's second expand shuffle.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
      .distinct()
    val cohorts = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  val retentionOracle: String =
    """WITH d AS (SELECT DISTINCT user_id,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
      |           FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1)
      |SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
      |       COUNT(*) AS n_users
      |FROM d JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Event-transition statistics — the first-order Markov view of user
    * behavior (which event follows which): per-user consecutive-event
    * pairs via a PARTITIONED lead window (user-keyed, never global),
    * aggregated to (src, dst) counts with a per-src probability. The
    * source-marginal totals are a |types|-row broadcast; ordering ties
    * break on event_id in epoch-µs space on both engines.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val srcTotals = trans.groupBy("src").agg(sum(col("n")).as("n_src"))
    trans.join(broadcast(srcTotals), "src")
      .select(col("src"), col("dst"), col("n"),
        round(col("n") / col("n_src"), 4).as("p"))
      .orderBy("src", "dst")
  }

  val transitionsOracle: String =
    """WITH t AS (
      |  SELECT event_type AS src,
      |         LEAD(event_type) OVER (PARTITION BY user_id
      |             ORDER BY epoch_us(ts), event_id) AS dst
      |  FROM events),
      |c AS (SELECT src, dst, COUNT(*) AS n FROM t WHERE dst IS NOT NULL GROUP BY 1, 2),
      |s AS (SELECT src, SUM(n) AS n_src FROM c GROUP BY 1)
      |SELECT c.src, c.dst, CAST(c.n AS BIGINT) AS n,
      |       ROUND(c.n * 1.0 / s.n_src, 4) AS p
      |FROM c JOIN s USING (src)
      |ORDER BY src, dst""".stripMargin

  /** x268: Markov next-event prediction accuracy under a TEMPORAL
    * holdout — the EVALUATION the journey family (x98 transition matrix,
    * x234 removal effects, x244 entropy rate) was missing: does the
    * first-half transition model actually PREDICT second-half behavior,
    * and by how much over the no-model baseline? Train = transitions
    * whose source event falls before the span-median day (the x260
    * discipline — the model never sees a holdout transition); prediction
    * = per-source argmax transition count (ties break on type ASC —
    * deterministic); baseline = always predicting the train-global
    * majority next type. Per source type: train/test volumes, the
    * model's hit rate, and the baseline's — all EXACT integers
    * (accuracies are (hits·10⁶) DIV n). Lift over baseline is the
    * entropy-rate story (x244) made operational. Scale: two
    * user-partitioned lead() windows (bounded by per-user activity) and
    * type-grain aggregates; the model is a |types|²-row broadcast.
    */
  def markovAccuracy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"))
    val span = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(expr("lo + (hi - lo) DIV 2").as("cut"))
    // ONE window pass: hit/miss depends only on (src, dst), so the whole
    // evaluation collapses to the |types|²-row train/test count grid —
    // the fact-sized transition stream is consumed exactly once
    val g = ev
      .select(col("user_id"), col("day"), col("event_type").as("src"),
        lead(col("event_type"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull)
      .crossJoin(broadcast(span))
      .groupBy("src", "dst")
      .agg(sum(when(col("day") < col("cut"), 1L).otherwise(0L)).as("n_tr"),
        sum(when(col("day") >= col("cut"), 1L).otherwise(0L)).as("n_te"))
    // per-source argmax prediction over the grid (train-present pairs
    // only); ties break on type ASC (deterministic)
    val pred = g.filter(col("n_tr") > 0L)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("n_tr").desc, col("dst"))))
      .filter(col("rk") === 1)
      .select(col("src"), col("dst").as("predicted"))
    val globalMode = g.groupBy("dst").agg(sum(col("n_tr")).as("n"))
      .filter(col("n") > 0L)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n").desc, col("dst")))) // |types| rows: metadata
      .filter(col("rk") === 1)
      .select(col("dst").as("baseline_pred"))
    g.join(broadcast(pred), "src")
      .crossJoin(broadcast(globalMode))
      .groupBy("src")
      .agg(sum(col("n_te")).as("n_test"),
        sum(when(col("dst") === col("predicted"), col("n_te")).otherwise(0L))
          .as("n_hits"),
        sum(when(col("dst") === col("baseline_pred"), col("n_te")).otherwise(0L))
          .as("n_baseline_hits"),
        max(col("predicted")).as("predicted"), // constant per src after the join
        sum(col("n_tr")).as("n_train"))
      .filter(col("n_test") > 0L)
      .select(col("src"), col("predicted"), col("n_train"), col("n_test"),
        col("n_hits"), expr("(n_hits * 1000000) DIV n_test").as("acc_e6"),
        expr("(n_baseline_hits * 1000000) DIV n_test").as("baseline_e6"))
      .orderBy("src")
  }

  val markovAccuracyOracle: String =
    """WITH ev AS (SELECT user_id, event_type,
      |                   CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                   epoch_us(ts) AS us, event_id
      |            FROM events),
      |span AS (SELECT MIN(day) + (MAX(day) - MIN(day)) // 2 AS cut FROM ev),
      |tr AS (SELECT day, event_type AS src,
      |              LEAD(event_type) OVER (PARTITION BY user_id
      |                ORDER BY us, event_id) AS dst
      |       FROM ev),
      |t2 AS (SELECT day, src, dst FROM tr WHERE dst IS NOT NULL),
      |train AS (SELECT src, dst, COUNT(*) AS n FROM t2, span
      |          WHERE day < cut GROUP BY 1, 2),
      |pred AS (SELECT src, dst AS predicted FROM (
      |  SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
      |    ORDER BY n DESC, dst) AS rk FROM train) WHERE rk = 1),
      |gm AS (SELECT dst AS baseline_pred FROM (
      |  SELECT dst, SUM(n) AS n FROM train GROUP BY 1)
      |  QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, dst) = 1),
      |test AS (SELECT t2.src, t2.dst FROM t2, span WHERE t2.day >= span.cut),
      |ev2 AS (SELECT test.src, COUNT(*) AS n_test,
      |               CAST(SUM(CASE WHEN test.dst = pred.predicted THEN 1 ELSE 0 END)
      |                 AS BIGINT) AS n_hits,
      |               CAST(SUM(CASE WHEN test.dst = gm.baseline_pred THEN 1 ELSE 0 END)
      |                 AS BIGINT) AS n_baseline_hits,
      |               ANY_VALUE(pred.predicted) AS predicted
      |        FROM test JOIN pred USING (src), gm
      |        GROUP BY 1),
      |tn AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_train FROM train GROUP BY 1)
      |SELECT ev2.src, ev2.predicted, tn.n_train, ev2.n_test, ev2.n_hits,
      |       CAST((ev2.n_hits * 1000000) // ev2.n_test AS BIGINT) AS acc_e6,
      |       CAST((ev2.n_baseline_hits * 1000000) // ev2.n_test AS BIGINT) AS baseline_e6
      |FROM ev2 JOIN tn USING (src)
      |ORDER BY ev2.src""".stripMargin

  /** SCD2 dimension versioning — turn a change log into slowly-changing-
    * dimension intervals: each user's signup/click/... stream is treated
    * as attribute-change events, and every event opens a version valid
    * until the next one (valid_to = NULL marks the current version). One
    * user-partitioned lead window — the standard change-log → versioned-
    * dim build every warehouse runs, expressed without a single global
    * sort. Epoch-µs interval bounds (the s06 precision discipline).
    */
  def scd2Versions(spark: SparkSession, dir: String): DataFrame =
    scd2Of(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"),
          col("event_type").as("attr_value"),
          unix_micros(col("ts")).as("valid_from_us")))
      .orderBy("user_id", "version")

  /** The change-log → version build over a prepared (user_id, event_id,
    * attr_value, valid_from_us) frame — shared by the full build (x99)
    * and the incremental maintenance path (x280).
    */
  private[graft] def scd2Of(changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from_us"), col("event_id"))
    changes
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select("user_id", "version", "event_id", "attr_value",
        "valid_from_us", "valid_to_us", "is_current")
  }

  /** x280: INCREMENTAL SCD2 maintenance — the warehouse MERGE pattern
    * x99's full rebuild cannot afford at 100 TB: when a late slice of
    * the change log arrives, only the AFFECTED KEYS' versions rebuild,
    * and everyone else's rows pass through untouched (in production,
    * untouched partitions are never rewritten at all). The demo split is
    * deterministic so the oracle can replay it: arrivals = changes in
    * the last 1/1000 of the observed span (cutoff = lo + (hi−lo)·999
    * DIV 1000, exact integer µs in both engines) — ~1–2% of keys
    * affected at the gate shape, so the untouched path genuinely
    * dominates. The rebuild reconstructs the affected keys' change rows
    * FROM THE VERSION TABLE ITSELF (each version row is its change row
    * — user, event_id, attr, valid_from), so the base fact is never
    * re-scanned: incremental cost is O(affected keys' history +
    * arrivals), not O(log). Output ≡ the full rebuild by construction
    * (version numbering, valid_to chaining, and is_current all
    * recompute inside each rebuilt key; untouched keys have no arrivals
    * so their base rows are already final), and x280 rides x99's oracle
    * VERBATIM — the incremental-equals-full contract is hash-checked at
    * every gate SF.
    */
  def incrementalScd2(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        col("event_type").as("attr_value"),
        unix_micros(col("ts")).as("valid_from_us"))
    val bounds = ev.agg(min(col("valid_from_us")).as("lo"),
      max(col("valid_from_us")).as("hi")).head()
    if (bounds.isNullAt(0))
      return scd2Of(ev).orderBy("user_id", "version")
    val lo = bounds.getLong(0)
    val cutoff = lo + (bounds.getLong(1) - lo) * 999L / 1000L
    // Null timestamps ride the BASE slice: a `<= cutoff` / `> cutoff`
    // split drops null valid_from_us from BOTH sides, so on a corpus
    // with null event timestamps the incremental result would silently
    // lose rows the full rebuild (and the verbatim x99 oracle) retain —
    // the incremental-equals-full contract must hold row-for-row.
    val baseV = scd2Of(ev.filter(col("valid_from_us") <= cutoff ||
      col("valid_from_us").isNull))
    val arrivals = ev.filter(col("valid_from_us") > cutoff)
    val affected = arrivals.select("user_id").distinct()
    val untouched = baseV.join(broadcast(affected), Seq("user_id"), "left_anti")
    val rebuilt = scd2Of(
      baseV.join(broadcast(affected), Seq("user_id"), "left_semi")
        .select("user_id", "event_id", "attr_value", "valid_from_us")
        .unionByName(arrivals))
    untouched.unionByName(rebuilt).orderBy("user_id", "version")
  }

  val scd2Oracle: String =
    """SELECT user_id,
      |       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
      |       event_id,
      |       event_type AS attr_value,
      |       CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
      |       CAST(LEAD(epoch_us(ts)) OVER w AS BIGINT) AS valid_to_us,
      |       LEAD(epoch_us(ts)) OVER w IS NULL AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |ORDER BY user_id, version""".stripMargin

  /** X5: JSON field extraction from the props column. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")

  /** X5 via schema'd parse: from_json projects the JSON column into a
    * typed struct in one codegen'd pass — the right shape when several
    * fields are consumed (get_json_object re-parses per field).
    */
  def jsonSchema(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    Tables.events(spark, dir)
      .select(col("event_id"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k"))
      .orderBy("event_id")
  }

  /** x284: VARIANT shredding — Spark 4's semi-structured VARIANT type
    * on the correctness path (`parse_json` → `variant_get` /
    * `try_variant_get` typed-path extraction), the open-schema ingestion
    * surface an LLM metadata pipeline reaches for when JSON fields are
    * not known up front (x19's `from_json` needs a declared schema; a
    * variant column defers typing to the extraction site and keeps the
    * binary encoding columnar-prunable). Two sources exercise the codec:
    * the corpus's real `props` JSON, and a NESTED document (object +
    * array) constructed deterministically from typed columns via
    * `to_json(named_struct(...))` — so the oracle is an IDENTITY
    * contract: shredding the round-tripped document must return exactly
    * the original columns (a wrong path, 0-vs-1-based index, or type
    * coercion cannot hash-match), and the missing-path probe must be
    * null, not an error. All expressions are codegen-native Catalyst —
    * no UDFs.
    */
  def variantShred(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("doc", expr(
        "parse_json(to_json(named_struct('t', event_type, 'who', " +
          "named_struct('u', user_id, 'c', cast(round(value * 100, 0) as long)), " +
          "'ids', array(event_id, user_id))))"))
      .select(col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"),
        expr("variant_get(doc, '$.t', 'string')").as("t"),
        expr("variant_get(doc, '$.who.u', 'long')").as("u"),
        expr("variant_get(doc, '$.who.c', 'long')").as("cents"),
        expr("variant_get(doc, '$.ids[1]', 'long')").as("second_id"),
        expr("try_variant_get(doc, '$.who.missing', 'long')").as("absent"))
      .orderBy("event_id")

  val variantShredOracle: String =
    """SELECT event_id,
      |       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |       event_type AS t,
      |       user_id AS u,
      |       CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
      |       user_id AS second_id,
      |       CAST(NULL AS BIGINT) AS absent
      |FROM events ORDER BY event_id""".stripMargin

  /** X6: tumbling 1-hour window per event_type. The groupBy(window(...))
    * is a single hash-aggregate — window assignment is a projection, so
    * partial aggregation happens map-side before the shuffle.
    */
  def tumblingOf(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").cast("long").as("ws"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("ws", "event_type")

  def tumbling(spark: SparkSession, dir: String): DataFrame =
    tumblingOf(Tables.events(spark, dir))

  /** X7: sliding 1-hour window every 15 minutes — each event lands in 4
    * windows (Spark expands via an internal generator; row count ×4 before
    * the aggregate, map-side partials keep the shuffle small).
    */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").cast("long").as("ws"), col("n"), col("total_value"))
      .orderBy("ws")

  /** X8: 30-minute-gap session windows per user. session_window merges
    * events where ts < previous session end (strict); end = last ts + gap.
    * Emitted in epoch micros.
    */
  def sessionsOf(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start"),
        unix_micros(col("sw.end")).as("session_end"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start")

  def sessions(spark: SparkSession, dir: String): DataFrame =
    sessionsOf(Tables.events(spark, dir))

  /** Pivot: per-user event-type counts as columns (wide feature layout). */
  val pivotTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def pivotCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", pivotTypes)
      .agg(count(lit(1)))
      .na.fill(0, pivotTypes)
      .orderBy("user_id")

  /** Unpivot (melt): the wide per-user feature layout back to long
    * (user_id, event_type, n) — Spark's native `unpivot`, which compiles
    * to an Expand (one output row per value column per input row, no
    * shuffle, no join). Round-trips [[pivotCounts]] including the
    * zero-filled absent combinations.
    */
  def unpivotCounts(spark: SparkSession, dir: String): DataFrame =
    pivotCounts(spark, dir)
      .unpivot(Array(col("user_id")), pivotTypes.map(col).toArray, "event_type", "n")
      .orderBy("user_id", "event_type")

  /** x114: calendar gap-fill — densify the sparse per-(type, day) count
    * series to one row per type per day over the observed span, zeros for
    * the silent days (what every throughput monitor and resampler needs;
    * a gap that "disappears" from a sparse groupBy is precisely the
    * incident you wanted to see). ONE fact-sized aggregate produces the
    * sparse counts; everything after is dimension-sized — the span is a
    * one-row min/max over the counts frame, the calendar is
    * `explode(sequence(lo, hi))` (|days| rows), types are the distinct of
    * the counts frame, and the dense (type, day) grid left-joins the
    * counts with both sides tiny. Days are integer epoch-days (the x94
    * parity discipline).
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame =
    gapFillOf(Tables.events(spark, dir))

  private[graft] def gapFillOf(ev: DataFrame): DataFrame = {
    val counts = ev
      .select(col("event_type"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"))
    val days = counts.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val types = counts.select("event_type").distinct()
    days.crossJoin(broadcast(types))
      .join(counts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "day")
  }

  val gapFillOracle: String =
    """WITH c AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  COUNT(*) AS n
      |           FROM events GROUP BY 1, 2),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM c),
      |days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM c)
      |SELECT t.event_type, d.day, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
      |FROM days d CROSS JOIN types t
      |LEFT JOIN c ON c.event_type = t.event_type AND c.day = d.day
      |ORDER BY t.event_type, d.day""".stripMargin

  /** x152: linear interpolation of missing days — the time-series repair
    * step past x114's zero-fill: a silent day in a REVENUE series is
    * missing data, not zero revenue, and downstream models want the
    * straight-line estimate between the nearest observed neighbors. The
    * series is per-(order priority) daily revenue in exact cents (orders
    * spans ~6.6 years, so the low-SF grids are genuinely sparse — 88 % of
    * cells missing at sf0.001). Shape: one fact-sized aggregate → the
    * x114 dimension-sized dense grid → per-key windows, |days| rows per
    * partition, never a global sort. Neighbor lookup is two frames over
    * ONE key exchange (last-non-null over preceding, first-non-null over
    * following — the x50 as-of discipline both directions at once);
    * interpolation is the exact integer two-point form
    * (pv·(nd−day) + nv·(day−pd)) DIV (nd−pd), safe in BIGINT to daily
    * sums ~10¹⁵ cents over the 2 405-day span; edge days missing a
    * neighbor carry the available side. `interpolated` flags repaired
    * rows so consumers can weight them down.
    */
  def interpolateDaily(spark: SparkSession, dir: String): DataFrame =
    interpolateDailyOf(graft.Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"),
        floor(unix_micros(col("o_orderdate")) / 86400000000L).cast("long").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents")))

  /** Core of [[interpolateDaily]] over any (priority, day, cents) frame —
    * split out so the spec can drive planted-gap fixtures through the
    * exact grid/window/interpolation path the query runs.
    */
  private[graft] def interpolateDailyOf(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sums = rows
      .groupBy("priority", "day")
      .agg(sum(col("cents")).as("cents"))
    val days = sums.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val keys = sums.select("priority").distinct()
    val wp = Window.partitionBy("priority").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy("priority").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("cents").isNotNull, col("day"))
    days.crossJoin(broadcast(keys))
      .join(sums, Seq("priority", "day"), "left")
      .select(col("priority"), col("day"), col("cents"),
        last(obsDay, ignoreNulls = true).over(wp).as("pd"),
        last(col("cents"), ignoreNulls = true).over(wp).as("pv"),
        first(obsDay, ignoreNulls = true).over(wn).as("nd"),
        first(col("cents"), ignoreNulls = true).over(wn).as("nv"))
      .select(col("priority"), col("day"),
        when(col("cents").isNotNull, col("cents"))
          .when(col("pd").isNull, col("nv"))
          .when(col("nd").isNull, col("pv"))
          .otherwise(expr("(pv * (nd - day) + nv * (day - pd)) DIV (nd - pd)"))
          .as("cents"),
        col("cents").isNull.cast("long").as("interpolated"))
      .orderBy("priority", "day")
  }

  val interpolateOracle: String =
    """WITH c AS (SELECT o_orderpriority AS priority,
      |                  CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                  SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |           FROM orders GROUP BY 1, 2),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM c),
      |days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM span),
      |keys AS (SELECT DISTINCT priority FROM c),
      |grid AS (SELECT k.priority, d.day, c.cents
      |         FROM days d CROSS JOIN keys k
      |         LEFT JOIN c ON c.priority = k.priority AND c.day = d.day),
      |w AS (SELECT priority, day, cents,
      |        LAST_VALUE(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
      |          OVER (PARTITION BY priority ORDER BY day
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
      |        LAST_VALUE(cents IGNORE NULLS)
      |          OVER (PARTITION BY priority ORDER BY day
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |        FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
      |          OVER (PARTITION BY priority ORDER BY day
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
      |        FIRST_VALUE(cents IGNORE NULLS)
      |          OVER (PARTITION BY priority ORDER BY day
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      |      FROM grid)
      |SELECT priority, day,
      |       CAST(CASE WHEN cents IS NOT NULL THEN cents
      |                 WHEN pd IS NULL THEN nv
      |                 WHEN nd IS NULL THEN pv
      |                 ELSE (pv * (nd - day) + nv * (day - pd)) // (nd - pd)
      |            END AS BIGINT) AS cents,
      |       CAST(cents IS NULL AS BIGINT) AS interpolated
      |FROM w ORDER BY priority, day""".stripMargin

  /** x118: rolling 7-day totals per event type — the trailing-window
    * trend line every monitor draws. Composes [[gapFill]]: on the DENSE
    * grid a `ROWS 6 PRECEDING` frame IS seven calendar days, so the
    * rolling sum stays pure BIGINT; over the raw sparse counts the same
    * frame would silently span weeks across gaps (the bug this
    * composition exists to kill — a RANGE frame would be needed, and
    * Spark's RANGE frames don't take multi-column ordering). The window
    * is type-partitioned — |days| rows per partition after the x114
    * densification, never a global sort.
    */
  def rollingDaily(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    gapFillOf(Tables.events(spark, dir))
      .select(col("event_type"), col("day"), col("n"),
        sum(col("n")).over(w).as("n_7d"),
        max(col("n")).over(w).as("peak_7d"))
      .orderBy("event_type", "day")
  }

  val rollingOracle: String =
    """WITH c AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  COUNT(*) AS n
      |           FROM events GROUP BY 1, 2),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM c),
      |days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM c),
      |dense AS (SELECT t.event_type, d.day, COALESCE(c.n, 0) AS n
      |          FROM days d CROSS JOIN types t
      |          LEFT JOIN c ON c.event_type = t.event_type AND c.day = d.day)
      |SELECT event_type, day, CAST(n AS BIGINT) AS n,
      |       CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
      |       CAST(MAX(n) OVER w AS BIGINT) AS peak_7d
      |FROM dense
      |WINDOW w AS (PARTITION BY event_type ORDER BY day
      |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, day""".stripMargin


  /** x120: per-type daily trend — the least-squares slope of the daily
    * count series, the "is this source growing or dying" number. Runs on
    * [[gapFill]]'s DENSE grid (silent days must pull the slope DOWN — on
    * the sparse counts they'd simply vanish). Days are shifted to the span
    * origin so every sum stays small; the five per-type sums (n, Σx, Σy,
    * Σxy, Σx²) are ONE aggregate over the |types|·|days| grid — the only
    * fact-sized work is gapFill's own count. The slope numerator/denominator
    * n·Σxy − Σx·Σy and n·Σx² − (Σx)² are exact BIGINTs; the single e4
    * division is IEEE double with pinned operand order (num/den < 2^53, so
    * the quotient is correctly rounded and identical in both engines —
    * the a04 percentile argument).
    */
  def dailyTrend(spark: SparkSession, dir: String): DataFrame = {
    val dense = gapFillOf(Tables.events(spark, dir))
    val lo = dense.agg(min("day").as("lo"))
    val sums = dense.crossJoin(broadcast(lo))
      .select(col("event_type"), (col("day") - col("lo")).as("x"), col("n").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    sums.select(col("event_type"), col("n_days"),
        (col("n_days") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_days") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
        col("sy"))
      .select(col("event_type"), col("n_days"),
        floor(lit(10000d) * col("slope_num") / col("slope_den") + 0.5d)
          .cast("long").as("slope_e4"),
        expr("(10000 * sy) DIV n_days").as("mean_e4"))
      .orderBy("event_type")
  }

  val trendOracle: String =
    """WITH c AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  COUNT(*) AS n
      |           FROM events GROUP BY 1, 2),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM c),
      |days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM c),
      |dense AS (SELECT t.event_type, d.day - s.lo AS x, COALESCE(c.n, 0) AS y
      |          FROM days d CROSS JOIN types t CROSS JOIN span s
      |          LEFT JOIN c ON c.event_type = t.event_type AND c.day = d.day),
      |sums AS (SELECT event_type, COUNT(*) AS n_days,
      |                SUM(x) AS sx, SUM(y) AS sy,
      |                SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |         FROM dense GROUP BY 1)
      |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
      |       CAST(floor(10000.0 * (n_days * sxy - sx * sy)
      |                  / (n_days * sxx - sx * sx) + 0.5) AS BIGINT) AS slope_e4,
      |       CAST((10000 * sy) // n_days AS BIGINT) AS mean_e4
      |FROM sums ORDER BY event_type""".stripMargin

  /** x132: time-weighted average of the event value per type — the
    * metrics/finance staple where a plain mean lies: a value that held for
    * six hours must weigh more than one that lasted a minute. Each
    * reading's weight is its holding duration (epoch-µs `lead` minus own
    * timestamp, a type-partitioned window — the last reading of a type
    * carries no duration and drops out, standard TWA convention). Values
    * are 2-decimal doubles, so `floor(v·100 + 0.5)` makes them exact e2
    * integers; the weighted sum Σ(v_e2·dur_µs) stays within BIGINT at any
    * plausible event density, and TWA = weighted-sum DIV total-duration
    * lands back in e2 with no float ever crossing engines.
    */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100d + 0.5d).cast("long").as("v_e2"))
      .withColumn("dur", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("dur").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dur")).as("total_us"),
        expr("sum(v_e2 * dur) DIV sum(dur)").as("twa_e2"))
      .orderBy("event_type")
  }

  val twaOracle: String =
    """WITH e AS (SELECT event_type, event_id,
      |                  CAST(epoch_us(ts) AS BIGINT) AS us,
      |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_e2
      |           FROM events),
      |d AS (SELECT event_type, v_e2,
      |             LEAD(us) OVER (PARTITION BY event_type
      |                            ORDER BY us, event_id) - us AS dur
      |      FROM e)
      |SELECT event_type, COUNT(*) AS n_intervals,
      |       CAST(SUM(dur) AS BIGINT) AS total_us,
      |       CAST(SUM(v_e2 * dur) // SUM(dur) AS BIGINT) AS twa_e2
      |FROM d WHERE dur IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** x134: equi-width value histogram per event type — the generic numeric
    * profiler (x88 is its cosine-specialized sibling): ten bins spanning
    * [0, max], all binning in integers — values floor once to e2, the
    * global max arrives as a one-row broadcast, and the bin index is
    * `least(9, (v_e2 · 10) DIV (max_e2 + 1))` so no division boundary can
    * float-drift between engines. Dense output: the (type × bin) grid is
    * built like x114 (tiny cross join, left-join counts, zero-fill), so a
    * bin with no mass still shows — the shape a profiler reads. Two
    * fact-sized passes (max + counts), both map-combinable.
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 100d + 0.5d).cast("long").as("v_e2"))
    val mx = ev.agg(max(col("v_e2")).as("max_e2"))
    val counts = ev.crossJoin(broadcast(mx))
      .select(col("event_type"),
        least(lit(9L), expr("(v_e2 * 10) DIV (max_e2 + 1)")).as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"))
    val bins = counts.sparkSession.range(0, 10).select(col("id").as("bin"))
    val types = counts.select("event_type").distinct()
    bins.crossJoin(broadcast(types))
      .join(counts, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "bin")
  }

  val histogramOracle: String =
    """WITH e AS (SELECT event_type,
      |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_e2
      |           FROM events),
      |m AS (SELECT MAX(v_e2) AS max_e2 FROM e),
      |c AS (SELECT event_type,
      |             LEAST(9, (v_e2 * 10) // (max_e2 + 1)) AS bin, COUNT(*) AS n
      |      FROM e, m GROUP BY 1, 2),
      |bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
      |types AS (SELECT DISTINCT event_type FROM c)
      |SELECT t.event_type, CAST(b.bin AS BIGINT) AS bin,
      |       CAST(COALESCE(c.n, 0) AS BIGINT) AS n
      |FROM bins b CROSS JOIN types t
      |LEFT JOIN c ON c.event_type = t.event_type AND c.bin = b.bin
      |ORDER BY t.event_type, b.bin""".stripMargin

  /** x112: mergeable distinct-count state — the incremental-maintenance
    * pattern. Per-(event_type, day) Datasketches HLL sketches are the
    * persisted state a daily job appends; rolling them up to per-type
    * distinct users is a union over |types|·|days| sketch blobs with NO
    * re-scan of the event log. The in-row `merge_exact` flag pins the
    * algebraic point: register-wise max is associative, so the merged
    * estimate equals the direct single-pass estimate bit-for-bit. The
    * exact `n_exact` (expand-based distinct) rides along only to expose
    * the estimate's error at test scale; at 100 TB the exact column is
    * the thing this operator exists to avoid.
    */
  def hllMergeCounts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val merged = daily.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est_merged"),
        count(lit(1)).as("n_days"))
    val direct = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("est_direct"),
        countDistinct(col("user_id")).as("n_exact"))
    merged.join(direct, "event_type")
      .select(col("event_type"), col("n_days"), col("n_exact"), col("est_merged"),
        (col("est_merged") === col("est_direct")).cast("int").as("merge_exact"))
      .orderBy("event_type")
  }

  /** x160: EWMA smoothing of the per-type daily revenue series — the
    * monitoring/forecast primitive x118's flat 7-day sum can't provide
    * (recent days should dominate). Exponential weights are DYADIC
    * (decay ½, 14-day frame), so every weight 2^(13-i) is an exact
    * BIGINT and the whole smoother is integer arithmetic end to end:
    * values floor once to e3 per ROW (the x132 trick — never sum raw
    * doubles), the dense daily grid comes from the x114 gap-fill shape,
    * and instead of a non-equi self-join each day EXPLODES its 14
    * forward offsets and re-groups — a pure equi-shuffle on (type, day)
    * that AQE handles like any aggregate. Ramp-up days (t < lo+13) keep
    * an honest partial denominator because the weight column rides in
    * the same aggregate. num, den < 2^53 at any realistic scale (bound:
    * |daily e3 revenue| · 2^14 · 14), and `num DIV den` on nonnegative
    * operands is the same floor in both engines — no float ever crosses.
    * At 100 TB the fact table reduces to |days|·|types| rows in the
    * FIRST aggregate; everything after is metadata-sized.
    */
  /** The Layer-cached (event_type, day) → rev_e3 daily frame — ONE fact
    * scan per run shared by x160 (EWMA), x172 (ACF), and x173 (CUSUM);
    * within each query it is also read several ways (span, type list,
    * grid left-join). Values floor once to e3 per ROW (the x132
    * discipline — never sum raw doubles).
    */
  private def dailyValueByType(spark: SparkSession, dir: String): DataFrame =
    graft.Layer.cached(spark, dir, "dailyValueByType") {
      Tables.events(spark, dir)
        .select(col("event_type"),
          floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
          floor(col("value") * 1000d + 0.5d).cast("long").as("v_e3"))
        .groupBy("event_type", "day")
        .agg(sum(col("v_e3")).as("rev_e3"))
    }

  /** The dense |days|·|types| grid over [[dailyValueByType]] (missing
    * days carry 0, the x114 gap-fill shape), with the span origin `lo`
    * riding along for index arithmetic. Everything here is post-first-
    * aggregate: at 100 TB the grid is |days|·|types| rows — metadata.
    */
  private def denseDailyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val rev = dailyValueByType(spark, dir)
    val span = rev.agg(min("day").as("lo"), max("day").as("hi"))
    val days = span.select(col("lo"), explode(sequence(col("lo"), col("hi"))).as("day"))
    val types = rev.select("event_type").distinct()
    days.crossJoin(broadcast(types))
      .join(rev, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), col("lo"),
        coalesce(col("rev_e3"), lit(0L)).as("rev_e3"))
  }

  def ewmaDaily(spark: SparkSession, dir: String): DataFrame = {
    val rev = dailyValueByType(spark, dir)
    val span = rev.agg(min("day").as("lo"), max("day").as("hi"))
    val days = span.select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val types = rev.select("event_type").distinct()
    val dense = days.crossJoin(broadcast(types))
      .join(rev, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("rev_e3"), lit(0L)).as("rev_e3"))
    // each day contributes to its 14 forward targets; the off = 0 term
    // doubles as the carrier of the day's own revenue (max-of-one-hot), so
    // no join-back to the grid is needed after the re-group
    val contrib = dense
      .select(col("event_type"), col("day"), col("rev_e3"),
        explode(sequence(lit(0), lit(13))).as("off"))
      .select(col("event_type"), (col("day") + col("off")).as("day"),
        (col("rev_e3") * expr("CAST(power(2, 13 - off) AS BIGINT)")).as("wnum"),
        expr("CAST(power(2, 13 - off) AS BIGINT)").as("w"),
        when(col("off") === 0, col("rev_e3")).as("rev0"))
    contrib.crossJoin(broadcast(span.select(col("hi"))))
      .filter(col("day") <= col("hi"))
      .groupBy("event_type", "day")
      .agg(sum(col("wnum")).as("num"), sum(col("w")).as("den"),
        max(col("rev0")).as("rev_e3"))
      .select(col("event_type"), col("day"), col("rev_e3"),
        expr("num DIV den").as("ewma_e3"))
      .orderBy("event_type", "day")
  }

  val ewmaOracle: String =
    """WITH r AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS rev_e3
      |           FROM events GROUP BY 1, 2),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM r),
      |days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM r),
      |dense AS (SELECT t.event_type, d.day, COALESCE(r.rev_e3, 0) AS rev_e3
      |          FROM days d CROSS JOIN types t
      |          LEFT JOIN r ON r.event_type = t.event_type AND r.day = d.day),
      |offs AS (SELECT unnest(generate_series(0, 13)) AS off),
      |contrib AS (SELECT event_type, day + off AS day,
      |                   rev_e3 * CAST(power(2, 13 - off) AS BIGINT) AS wnum,
      |                   CAST(power(2, 13 - off) AS BIGINT) AS w
      |            FROM dense CROSS JOIN offs),
      |agg AS (SELECT c.event_type, c.day,
      |               SUM(c.wnum) AS num, SUM(c.w) AS den
      |        FROM contrib c, span WHERE c.day <= span.hi GROUP BY 1, 2)
      |SELECT a.event_type, a.day, CAST(d.rev_e3 AS BIGINT) AS rev_e3,
      |       CAST(a.num // a.den AS BIGINT) AS ewma_e3
      |FROM agg a JOIN dense d ON d.event_type = a.event_type AND d.day = a.day
      |ORDER BY a.event_type, a.day""".stripMargin

  /** x162: mutual information between event type and day-of-week — the
    * dependence screen a curation pipeline runs before trusting a
    * stratification column (MI ≈ 0 ⇒ the split is temporally unbiased).
    * Day-of-week is the engine-neutral `epoch-day mod 7` (Spark's
    * `dayofweek` and DuckDB's disagree on Sunday's index). Same
    * fixed-point discipline as x130: each cell's pointwise-MI term
    * rounds ONCE to integer micro-nats — `ln` of a correctly-rounded
    * double ratio (num, den < 2^53) — and everything after is exact
    * BIGINT sums, emitted per event type as the additive decomposition
    * Σ_y c_xy·round(1e6·ln(N·c_xy/(c_x·c_y))). No division at the end:
    * the caller divides by N if it wants nats, so there is no
    * negative-operand floor-vs-truncate hazard between engines. One
    * fact-sized aggregate; the contingency table (|types|·7 cells) and
    * its margins are broadcast-sized forever.
    */
  /** The event_type × day-of-week contingency table, Layer-cached: x162
    * and x163 share this spine, and within each query it feeds both
    * margins, the grand total, and the cell join — one fact scan per run
    * for the whole MI/χ² pair instead of eight.
    */
  private def dowCells(spark: SparkSession, dir: String): DataFrame =
    graft.Layer.cached(spark, dir, "dowContingency") {
      Tables.events(spark, dir)
        .select(col("event_type"),
          expr("floor(unix_micros(ts) / 86400000000) % 7").cast("long").as("dow"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("c_xy"))
    }

  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val cells = dowCells(spark, dir)
    val cx = cells.groupBy("event_type").agg(sum(col("c_xy")).as("c_x"))
    val cy = cells.groupBy("dow").agg(sum(col("c_xy")).as("c_y"))
    val n = cells.agg(sum(col("c_xy")).as("n"))
    cells.join(broadcast(cx), "event_type").join(broadcast(cy), "dow")
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("c_x"), col("n"),
        (col("c_xy") *
          floor(log((col("n") * col("c_xy")) / (col("c_x") * col("c_y"))) *
            1000000d + 0.5d).cast("long")).as("term_e6"))
      .groupBy("event_type")
      .agg(max(col("n")).as("n_events"), max(col("c_x")).as("n_x"),
        count(lit(1)).as("n_cells"), sum(col("term_e6")).as("pmi_sum_e6"))
      .orderBy("event_type")
  }

  val mutualInfoOracle: String =
    """WITH e AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) % 7 AS BIGINT) AS dow
      |           FROM events),
      |cells AS (SELECT event_type, dow, COUNT(*) AS c_xy FROM e GROUP BY 1, 2),
      |cx AS (SELECT event_type, SUM(c_xy) AS c_x FROM cells GROUP BY 1),
      |cy AS (SELECT dow, SUM(c_xy) AS c_y FROM cells GROUP BY 1),
      |n AS (SELECT SUM(c_xy) AS n FROM cells),
      |terms AS (SELECT cells.event_type, cx.c_x, n.n,
      |                 cells.c_xy * CAST(floor(
      |                   ln((n.n * cells.c_xy) / (cx.c_x * cy.c_y)) * 1000000
      |                   + 0.5) AS BIGINT) AS term_e6
      |          FROM cells
      |          JOIN cx ON cx.event_type = cells.event_type
      |          JOIN cy ON cy.dow = cells.dow
      |          CROSS JOIN n)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
      |       CAST(MAX(c_x) AS BIGINT) AS n_x,
      |       COUNT(*) AS n_cells,
      |       CAST(SUM(term_e6) AS BIGINT) AS pmi_sum_e6
      |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin

  /** x163: χ² independence contributions for the same event-type ×
    * day-of-week table — x162's hypothesis-test twin (MI measures the
    * dependence, χ² tells you whether it clears noise; together they are
    * the feature-selection pair). Per cell, (N·c_xy − c_x·c_y)²/(N·c_x·c_y)
    * is computed with the operand order PINNED in both engines: the
    * residual a = N·c_xy − c_x·c_y stays exact BIGINT (|a| < N² ≤ 2^63
    * through ~3·10⁹ events — the cell-count regime where exact χ² is
    * even meaningful), is converted once to double and squared; the
    * denominator multiplies as (N·1.0)·c_x·c_y left-to-right. Each
    * cell's term then rounds ONCE to integer micro-units and the
    * per-type sums are exact BIGINT — engine-identical by construction.
    * The expected-count floor (all margins > 0) holds by construction
    * since every cell present has c_xy ≥ 1.
    */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val cells = dowCells(spark, dir)
    val cx = cells.groupBy("event_type").agg(sum(col("c_xy")).as("c_x"))
    val cy = cells.groupBy("dow").agg(sum(col("c_xy")).as("c_y"))
    val n = cells.agg(sum(col("c_xy")).as("n"), count_distinct(col("dow")).as("n_dows"))
    cells.join(broadcast(cx), "event_type").join(broadcast(cy), "dow")
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("c_x"), col("n_dows"),
        expr("""CAST(floor(
                  ((CAST(n * c_xy - c_x * c_y AS DOUBLE)) *
                   (CAST(n * c_xy - c_x * c_y AS DOUBLE))) /
                  ((n * CAST(1.0 AS DOUBLE)) * c_x * c_y)
                  * 1000000 + 0.5) AS BIGINT)""").as("term_e6"))
      .groupBy("event_type")
      .agg(max(col("c_x")).as("n_x"), max(col("n_dows")).as("n_dows"),
        count(lit(1)).as("n_cells"), sum(col("term_e6")).as("chi2_e6"))
      .orderBy("event_type")
  }

  /** x251: G-test of independence + Cramér's V (Sokal & Rohlf's
    * likelihood-ratio companion to x163's Pearson χ² on the SAME
    * Layer-shared (event_type × day-of-week) contingency cells): G =
    * 2·Σ O·ln(O·n/(r·c)) is additive across partitions of the table
    * (the property Pearson lacks — G over merged cells = Σ G of parts,
    * asserted in the law), and Cramér's V = √(χ²/(n·min(r−1,c−1)))
    * turns either statistic into a [0,1] effect size so "significant"
    * and "large" stop being conflated.
    *
    * Exactness: only OBSERVED cells carry G terms (O·ln(...) → 0 as
    * O → 0, so absent cells contribute exactly zero); each term is one
    * pinned expression on exact integer margins e6-floored BEFORE the
    * exact BIGINT sum (the x228 posture), and both χ² (recomputed
    * whole-table with x163's own term formula) and V are single final
    * pinned expressions. One metadata-sized pass over the shared cells.
    */
  def gTest(spark: SparkSession, dir: String): DataFrame = {
    val cells = dowCells(spark, dir)
    val cx = cells.groupBy("event_type").agg(sum(col("c_xy")).as("c_x"))
    val cy = cells.groupBy("dow").agg(sum(col("c_xy")).as("c_y"))
    val tot = cells.agg(sum(col("c_xy")).as("n"),
      count_distinct(col("event_type")).as("r"),
      count_distinct(col("dow")).as("c"))
    val joined = cells.join(broadcast(cx), "event_type")
      .join(broadcast(cy), "dow").crossJoin(broadcast(tot))
    val d: Column => Column = _.cast("double")
    val gTerm = d(col("c_xy")) *
      log(d(col("c_xy")) * d(col("n")) / (d(col("c_x")) * d(col("c_y"))))
    val chiNum = d(col("n")) * d(col("c_xy")) - d(col("c_x")) * d(col("c_y"))
    val chiTerm = chiNum * chiNum / (d(col("n")) * d(col("c_x")) * d(col("c_y")))
    val agg = joined.select(col("n"), col("r"), col("c"),
        floor(gTerm * 1000000d + 0.5d).cast("long").as("g_term_e6"),
        floor(chiTerm * 1000000d + 0.5d).cast("long").as("x_term_e6"))
      .groupBy("n", "r", "c")
      .agg(count(lit(1)).as("n_cells"),
        (sum(col("g_term_e6")) * 2L).as("g_e6"),
        sum(col("x_term_e6")).as("chi2_e6"))
    agg.select(col("n"), col("r"), col("c"), col("n_cells"),
      col("g_e6"), col("chi2_e6"),
      floor(sqrt(col("chi2_e6").cast("double") / lit(1000000.0d)
          / (col("n").cast("double") * least(col("r") - 1L, col("c") - 1L)
            .cast("double")))
        * 1000000d + 0.5d).cast("long").as("cramers_v_e6"))
  }

  val gTestOracle: String =
    """WITH cells AS (SELECT event_type,
      |                      CAST(floor(epoch_us(ts) / 86400000000) % 7 AS BIGINT) AS dow,
      |                      COUNT(*) AS c_xy
      |               FROM events GROUP BY 1, 2),
      |cx AS (SELECT event_type, CAST(SUM(c_xy) AS BIGINT) AS c_x
      |       FROM cells GROUP BY 1),
      |cy AS (SELECT dow, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM cells GROUP BY 1),
      |t AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n,
      |             COUNT(DISTINCT event_type) AS r,
      |             COUNT(DISTINCT dow) AS c FROM cells),
      |j AS (SELECT cells.c_xy, cx.c_x, cy.c_y, t.n, t.r, t.c
      |      FROM cells JOIN cx USING (event_type) JOIN cy USING (dow), t),
      |tm AS (SELECT n, r, c,
      |         CAST(floor(CAST(c_xy AS DOUBLE)
      |           * ln(CAST(c_xy AS DOUBLE) * CAST(n AS DOUBLE)
      |                / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)))
      |           * 1000000 + 0.5) AS BIGINT) AS g_term_e6,
      |         CAST(floor((CAST(n AS DOUBLE) * CAST(c_xy AS DOUBLE)
      |                     - CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))
      |           * (CAST(n AS DOUBLE) * CAST(c_xy AS DOUBLE)
      |              - CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))
      |           / (CAST(n AS DOUBLE) * CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))
      |           * 1000000 + 0.5) AS BIGINT) AS x_term_e6
      |       FROM j),
      |a AS (SELECT n, r, c, COUNT(*) AS n_cells,
      |             CAST(SUM(g_term_e6) * 2 AS BIGINT) AS g_e6,
      |             CAST(SUM(x_term_e6) AS BIGINT) AS chi2_e6
      |      FROM tm GROUP BY 1, 2, 3)
      |SELECT n, CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c, n_cells,
      |       g_e6, chi2_e6,
      |       CAST(floor(sqrt(CAST(chi2_e6 AS DOUBLE) / 1000000.0
      |           / (CAST(n AS DOUBLE) * CAST(LEAST(r - 1, c - 1) AS DOUBLE)))
      |         * 1000000 + 0.5) AS BIGINT) AS cramers_v_e6
      |FROM a""".stripMargin

  /** x168: Population Stability Index — THE model-monitoring drift metric
    * (PSI < 0.1 stable, > 0.25 retrain): how far the event-value
    * distribution of the second half of the time span has drifted from
    * the first half, decomposed per bin. x134's integer binning spine
    * (e2 floor per row, global max broadcast, `least(9, (v·10) DIV
    * (max+1))`) with the period cut `day < lo + (hi−lo) DIV 2` from the
    * same one-row broadcast span (the x165 posture — membership is a
    * pure function of the row's own fields). Counts are Laplace-smoothed
    * (+1 per bin, +10 per period) so empty bins can't produce ±∞; each
    * bin's (p₁−p₂)·ln(p₁/p₂) term — nonnegative by construction — rounds
    * ONCE to integer e6 from pinned-order double arithmetic on exact
    * integer ratios, and the total PSI is the exact BIGINT sum of the
    * emitted terms. One fact-sized pass for the max, one for the counts;
    * the 2×10 grid and everything after is metadata-sized.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        floor(col("value") * 100d + 0.5d).cast("long").as("v_e2"))
    val bounds = ev.agg(max(col("v_e2")).as("max_e2"),
      min(col("day")).as("lo"), max(col("day")).as("hi"))
    val counts = ev.crossJoin(broadcast(bounds))
      .select(
        when(col("day") < col("lo") + expr("(hi - lo) DIV 2"), lit("p1"))
          .otherwise(lit("p2")).as("period"),
        least(lit(9L), expr("(v_e2 * 10) DIV (max_e2 + 1)")).as("bin"))
      .groupBy("period", "bin").agg(count(lit(1)).as("n"))
    val bins = spark.range(0, 10).select(col("id").as("bin"))
    // fold the period split in ONE aggregate derivation — two filtered
    // self-joins would re-run the fact pass once per period
    val dense = bins
      .join(counts.groupBy("bin").agg(
        sum(when(col("period") === "p1", col("n"))).as("n1"),
        sum(when(col("period") === "p2", col("n"))).as("n2")), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
    val totals = dense.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    dense.crossJoin(broadcast(totals))
      .select(col("bin"), col("n1"), col("n2"),
        expr("""CAST(floor(
                  ((n1 + 1) / (CAST(t1 AS DOUBLE) + 10) - (n2 + 1) / (CAST(t2 AS DOUBLE) + 10)) *
                  ln(((n1 + 1) / (CAST(t1 AS DOUBLE) + 10)) / ((n2 + 1) / (CAST(t2 AS DOUBLE) + 10)))
                  * 1000000 + 0.5) AS BIGINT)""").as("psi_term_e6"))
      .orderBy("bin")
  }

  val psiOracle: String =
    """WITH e AS (SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_e2
      |           FROM events),
      |b AS (SELECT MAX(v_e2) AS max_e2, MIN(day) AS lo, MAX(day) AS hi FROM e),
      |c AS (SELECT CASE WHEN day < lo + (hi - lo) // 2 THEN 'p1' ELSE 'p2' END AS period,
      |             LEAST(9, (v_e2 * 10) // (max_e2 + 1)) AS bin, COUNT(*) AS n
      |      FROM e, b GROUP BY 1, 2),
      |grid AS (SELECT unnest(generate_series(0, 9)) AS bin),
      |dense AS (SELECT g.bin,
      |                 COALESCE((SELECT n FROM c WHERE period = 'p1' AND c.bin = g.bin), 0) AS n1,
      |                 COALESCE((SELECT n FROM c WHERE period = 'p2' AND c.bin = g.bin), 0) AS n2
      |          FROM grid g),
      |t AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM dense)
      |SELECT bin, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |       CAST(floor(
      |         ((n1 + 1) / (CAST(t1 AS DOUBLE) + 10) - (n2 + 1) / (CAST(t2 AS DOUBLE) + 10)) *
      |         ln(((n1 + 1) / (CAST(t1 AS DOUBLE) + 10)) / ((n2 + 1) / (CAST(t2 AS DOUBLE) + 10)))
      |         * 1000000 + 0.5) AS BIGINT) AS psi_term_e6
      |FROM dense, t ORDER BY bin""".stripMargin

  /** x254: 1-Wasserstein (earth-mover) drift distance per event type —
    * the metric companion to x168's PSI (binned, scale-free) and x219's
    * KS (sup-norm): W₁ = ∫|F₁−F₂| dv integrates the CDF gap over the
    * VALUE AXIS, so it reports drift in the metric's own units (here:
    * event-value points) and, unlike KS, keeps growing when the whole
    * distribution translates. Same first-half/second-half period cut as
    * PSI (day < lo + (hi−lo) DIV 2 from one broadcast span row).
    *
    * Exactness: values land on the e2 grid once per row; the empirical
    * CDF gap at each grid point is the exact integer cross-product
    * |cum₁·t₂ − cum₂·t₁| (≤ ~4·10¹¹ at sf0.1 — double-exact), and each
    * trapezoid term (gap × Δv) rounds ONCE to e6 before the exact BIGINT
    * sum. KS falls out of the same frame as the max of the e6-floored
    * per-point gaps. Scale: one fact pass to (type, v_e2) counts; the
    * window runs over the VALUE GRID per type (bounded by the value
    * range × 100, not the corpus), so the sort is metadata-sized at any
    * corpus scale.
    */
  def wassersteinDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        floor(col("value") * 100d + 0.5d).cast("long").as("v_e2"))
    val span = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val counts = ev.crossJoin(broadcast(span))
      .select(col("event_type"), col("v_e2"),
        when(col("day") < col("lo") + expr("(hi - lo) DIV 2"), lit(1L))
          .otherwise(lit(0L)).as("in1"))
      .groupBy("event_type", "v_e2")
      .agg(sum(col("in1")).as("n1"),
        (count(lit(1)) - sum(col("in1"))).as("n2"))
    val tot = counts.groupBy("event_type")
      .agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    val w = Window.partitionBy("event_type").orderBy("v_e2")
    val gap = counts
      .withColumn("cum1", sum(col("n1")).over(w))
      .withColumn("cum2", sum(col("n2")).over(w))
      .withColumn("dv", lead(col("v_e2"), 1).over(w) - col("v_e2"))
      .join(broadcast(tot), "event_type")
      .select(col("event_type"), col("t1"), col("t2"), col("dv"),
        abs(col("cum1") * col("t2") - col("cum2") * col("t1")).as("x"))
    // degenerate-input guard (the abTest posture): an event type whose
    // rows all fall on ONE side of the span cut gives t1 = 0 or t2 = 0 —
    // x/0 is Infinity here but a cast ERROR in DuckDB, so both engines
    // null the terms out instead (w1_e6/ks_e6 go NULL for that type)
    val ok = col("t1") > 0L && col("t2") > 0L
    gap
      .select(col("event_type"), col("t1"), col("t2"),
        when(ok, floor(col("x").cast("double") / (col("t1") * col("t2")).cast("double")
          * 1000000d + 0.5d).cast("long")).as("df_e6"),
        when(!ok, lit(null).cast("long"))
          .when(col("dv").isNull, lit(0L))
          .otherwise(floor(col("x").cast("double")
            / (col("t1") * col("t2")).cast("double")
            * col("dv").cast("double") / lit(100d) * 1000000d + 0.5d)
            .cast("long")).as("term_e6"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_vals"), max(col("t1")).as("t1"),
        max(col("t2")).as("t2"), sum(col("term_e6")).as("w1_e6"),
        max(col("df_e6")).as("ks_e6"))
      .orderBy("event_type")
  }

  val wassersteinOracle: String =
    """WITH e AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_e2
      |           FROM events),
      |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e),
      |c AS (SELECT event_type, v_e2,
      |             CAST(SUM(CASE WHEN day < lo + (hi - lo) // 2
      |                           THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |             CAST(COUNT(*) - SUM(CASE WHEN day < lo + (hi - lo) // 2
      |                           THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |      FROM e, b GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(SUM(n1) AS BIGINT) AS t1,
      |             CAST(SUM(n2) AS BIGINT) AS t2
      |      FROM c GROUP BY 1),
      |w AS (SELECT event_type, v_e2,
      |             CAST(SUM(n1) OVER (PARTITION BY event_type ORDER BY v_e2)
      |               AS BIGINT) AS cum1,
      |             CAST(SUM(n2) OVER (PARTITION BY event_type ORDER BY v_e2)
      |               AS BIGINT) AS cum2,
      |             LEAD(v_e2) OVER (PARTITION BY event_type ORDER BY v_e2)
      |               - v_e2 AS dv
      |      FROM c),
      |q AS (SELECT w.event_type, t1, t2,
      |             CASE WHEN t1 = 0 OR t2 = 0 THEN NULL
      |                  ELSE CAST(floor(CAST(abs(cum1 * t2 - cum2 * t1) AS DOUBLE)
      |                    / CAST(t1 * t2 AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
      |                  END AS df_e6,
      |             CASE WHEN t1 = 0 OR t2 = 0 THEN NULL
      |                  WHEN dv IS NULL THEN 0
      |                  ELSE CAST(floor(CAST(abs(cum1 * t2 - cum2 * t1) AS DOUBLE)
      |                    / CAST(t1 * t2 AS DOUBLE) * CAST(dv AS DOUBLE) / 100
      |                    * 1000000 + 0.5) AS BIGINT) END AS term_e6
      |      FROM w JOIN t ON t.event_type = w.event_type)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_vals,
      |       MAX(t1) AS t1, MAX(t2) AS t2,
      |       CAST(SUM(term_e6) AS BIGINT) AS w1_e6,
      |       MAX(df_e6) AS ks_e6
      |FROM q GROUP BY 1 ORDER BY 1""".stripMargin

  /** x170: Kaplan–Meier time-to-conversion — the survival curve over
    * "days from a user's first event to their first purchase", with
    * purchase-less users right-CENSORED at their last-seen day (the
    * estimator exists because dropping censored users biases conversion
    * time low — they were still at risk). Per-user reduction is ONE
    * fact-sized aggregate (min, conditional min, max); everything after
    * runs on the |distinct durations|-row table: at-risk counts are the
    * inclusive reverse cumulative of (events + censored), and the KM
    * product Π(1 − dₜ/nₜ) is carried in LOG domain — each step rounds
    * ln((n−d)/n) (one double division of exact integers) ONCE to e6,
    * and the running sum is exact BIGINT, so the curve is
    * engine-identical with no compounding float error. A terminal
    * d = n step (everyone left converts) would be ln 0; it emits the
    * explicit −99·10⁶ sentinel (S = 0 from there on) rather than an
    * engine-dependent −∞. The two global windows order an
    * aggregate-sized frame — never the fact table.
    */
  def kmSurvival(spark: SparkSession, dir: String): DataFrame =
    kmSurvivalOf(Tables.events(spark, dir))

  /** Core of [[kmSurvival]] over any (user_id, event_type, ts) frame —
    * split out so the spec can plant right-censored users (purchases
    * removed) and drive them through the exact at-risk/step path.
    */
  private[graft] def kmSurvivalOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = events
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("tp"),
        max(unix_micros(col("ts"))).as("tl"))
      .select(
        when(col("tp").isNotNull, expr("(tp - t0) DIV 86400000000"))
          .otherwise(expr("(tl - t0) DIV 86400000000")).as("dur"),
        col("tp").isNotNull.cast("long").as("ev"))
    val byDur = perUser.groupBy("dur")
      .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
    val wRisk = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur.withColumn("n_risk", sum(col("d") + col("c")).over(wRisk))
      .filter(col("d") > 0)
      .withColumn("step_e6",
        when(col("d") < col("n_risk"),
          floor(log((col("n_risk") - col("d")) / col("n_risk")) * 1000000d + 0.5d)
            .cast("long"))
          .otherwise(lit(-99000000L)))
      .withColumn("surv_lnsum_e6", sum(col("step_e6")).over(wCum))
      .select(col("dur"), col("n_risk"), col("d"), col("c"),
        col("step_e6"), col("surv_lnsum_e6"))
      .orderBy("dur")
  }

  val kmOracle: String =
    """WITH u AS (SELECT user_id,
      |                  MIN(epoch_us(ts)) AS t0,
      |                  MIN(CASE WHEN event_type = 'purchase'
      |                           THEN epoch_us(ts) END) AS tp,
      |                  MAX(epoch_us(ts)) AS tl
      |           FROM events GROUP BY 1),
      |pu AS (SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 86400000000
      |                   ELSE (tl - t0) // 86400000000 END AS dur,
      |              CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
      |       FROM u),
      |bd AS (SELECT dur, SUM(ev) AS d, SUM(1 - ev) AS c FROM pu GROUP BY 1),
      |rk AS (SELECT dur, d, c,
      |              SUM(d + c) OVER (ORDER BY dur DESC
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      |       FROM bd),
      |st AS (SELECT dur, n_risk, d, c,
      |              CASE WHEN d < n_risk
      |                   THEN CAST(floor(ln((n_risk - d) / n_risk) * 1000000 + 0.5) AS BIGINT)
      |                   ELSE CAST(-99000000 AS BIGINT) END AS step_e6
      |       FROM rk WHERE d > 0)
      |SELECT CAST(dur AS BIGINT) AS dur, CAST(n_risk AS BIGINT) AS n_risk,
      |       CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c, step_e6,
      |       CAST(SUM(step_e6) OVER (ORDER BY dur
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS surv_lnsum_e6
      |FROM st ORDER BY dur""".stripMargin

  /** x228: log-rank test — the hypothesis test that belongs to x170's
    * Kaplan–Meier curve (Mantel 1966): do odd- and even-id users (the
    * x201/x226 assignment convention) share one time-to-conversion
    * distribution, accounting for right-censoring? At every duration t
    * with d_t total events, n_t at risk and (d1_t, n1_t) in group 1, the
    * group-1 event count is compared to its hypergeometric expectation:
    *
    *   O₁ = Σ d1_t,  E₁ = Σ d_t·n1_t/n_t,
    *   V  = Σ d_t·p_t·(1−p_t)·(n_t−d_t)/(n_t−1),  p_t = n1_t/n_t;
    *   χ² = (O₁−E₁)²/V  (~χ²₁ under H₀).
    *
    * Exactness: the cross-row sums — the only place float error could
    * compound — are sums of PER-ROW e6-quantized BIGINTs (each row's E/V
    * term is one pinned-double expression on exact at-risk integers,
    * floored once), so O₁/E₁/V are engine-exact and χ² is a single
    * pinned-double expression at the end; a degenerate V = 0 yields null
    * (the abTest guard posture), never ÷0. Scale shape: one fact-sized
    * user aggregate, then everything runs on the |distinct durations|-row
    * table whose two reverse-cumulative windows are duration-bounded
    * (calendar growth), not corpus-bounded — the x170/a38 argument. Rows
    * with d_t = 0 contribute exact zeros, so no filter is needed and ONE
    * aggregate emits the whole 1-row report.
    */
  def logRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("tp"),
        max(unix_micros(col("ts"))).as("tl"))
      .select(
        when(col("tp").isNotNull, expr("(tp - t0) DIV 86400000000"))
          .otherwise(expr("(tl - t0) DIV 86400000000")).as("dur"),
        col("tp").isNotNull.cast("long").as("ev"),
        (col("user_id") % 2).as("grp"))
    val byDur = perUser.groupBy("dur").agg(
      sum(col("ev")).as("d"),
      sum(lit(1L) - col("ev")).as("c"),
      sum(col("ev") * col("grp")).as("d1"),
      sum((lit(1L) - col("ev")) * col("grp")).as("c1"))
    val wRisk = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = byDur
      .withColumn("n_risk", sum(col("d") + col("c")).over(wRisk))
      .withColumn("n1_risk", sum(col("d1") + col("c1")).over(wRisk))
    val p = col("n1_risk").cast("double") / col("n_risk").cast("double")
    val terms = risk.select(
      (col("d1") + col("c1")).as("g1"), (col("d") + col("c")).as("g"),
      col("d1"),
      floor(col("d").cast("double") * p * 1000000d + 0.5d)
        .cast("long").as("e1_term_e6"),
      when(col("n_risk") > 1L,
        floor(col("d").cast("double") * p * (lit(1.0d) - p)
          * ((col("n_risk") - col("d")).cast("double")
            / (col("n_risk") - lit(1L)).cast("double")) * 1000000d + 0.5d)
          .cast("long")).otherwise(lit(0L)).as("v_term_e6"))
    val agg = terms.agg(
      sum(col("g1")).as("n1_users"),
      (sum(col("g")) - sum(col("g1"))).as("n0_users"),
      sum(col("d1")).as("o1"),
      sum(col("e1_term_e6")).as("e1_e6"),
      sum(col("v_term_e6")).as("v_e6"))
    val dev = col("o1").cast("double") - col("e1_e6").cast("double") / lit(1000000.0d)
    agg.select(col("n1_users"), col("n0_users"), col("o1"), col("e1_e6"), col("v_e6"),
      when(col("v_e6") > 0L,
        floor(dev * dev / (col("v_e6").cast("double") / lit(1000000.0d))
          * 1000000d + 0.5d).cast("long")).as("chi2_e6"))
  }

  val logRankOracle: String =
    """WITH u AS (SELECT user_id,
      |                  MIN(epoch_us(ts)) AS t0,
      |                  MIN(CASE WHEN event_type = 'purchase'
      |                           THEN epoch_us(ts) END) AS tp,
      |                  MAX(epoch_us(ts)) AS tl
      |           FROM events GROUP BY 1),
      |pu AS (SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 86400000000
      |                   ELSE (tl - t0) // 86400000000 END AS dur,
      |              CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev,
      |              user_id % 2 AS grp
      |       FROM u),
      |bd AS (SELECT dur, SUM(ev) AS d, SUM(1 - ev) AS c,
      |              SUM(ev * grp) AS d1, SUM((1 - ev) * grp) AS c1
      |       FROM pu GROUP BY 1),
      |rk AS (SELECT dur, d, c, d1, c1,
      |              SUM(d + c) OVER (ORDER BY dur DESC
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk,
      |              SUM(d1 + c1) OVER (ORDER BY dur DESC
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1_risk
      |       FROM bd),
      |tm AS (SELECT d1 + c1 AS g1, d + c AS g, d1,
      |              CAST(floor(CAST(d AS DOUBLE)
      |                * (CAST(n1_risk AS DOUBLE) / CAST(n_risk AS DOUBLE))
      |                * 1000000 + 0.5) AS BIGINT) AS e1_term_e6,
      |              CASE WHEN n_risk > 1 THEN
      |                CAST(floor(CAST(d AS DOUBLE)
      |                  * (CAST(n1_risk AS DOUBLE) / CAST(n_risk AS DOUBLE))
      |                  * (1.0 - CAST(n1_risk AS DOUBLE) / CAST(n_risk AS DOUBLE))
      |                  * (CAST(n_risk - d AS DOUBLE) / CAST(n_risk - 1 AS DOUBLE))
      |                  * 1000000 + 0.5) AS BIGINT)
      |              ELSE 0 END AS v_term_e6
      |       FROM rk),
      |ag AS (SELECT CAST(SUM(g1) AS BIGINT) AS n1_users,
      |              CAST(SUM(g) - SUM(g1) AS BIGINT) AS n0_users,
      |              CAST(SUM(d1) AS BIGINT) AS o1,
      |              CAST(SUM(e1_term_e6) AS BIGINT) AS e1_e6,
      |              CAST(SUM(v_term_e6) AS BIGINT) AS v_e6
      |       FROM tm)
      |SELECT n1_users, n0_users, o1, e1_e6, v_e6,
      |       CASE WHEN v_e6 > 0 THEN
      |         CAST(floor((CAST(o1 AS DOUBLE) - CAST(e1_e6 AS DOUBLE) / 1000000.0)
      |           * (CAST(o1 AS DOUBLE) - CAST(e1_e6 AS DOUBLE) / 1000000.0)
      |           / (CAST(v_e6 AS DOUBLE) / 1000000.0)
      |           * 1000000 + 0.5) AS BIGINT) END AS chi2_e6
      |FROM ag""".stripMargin

  /** x236: Nelson–Aalen cumulative hazard (Nelson 1972, Aalen 1978) —
    * the survival family's third leg (x170 estimates S(t) by product,
    * x228 tests group equality; this estimates the cumulative hazard
    * H(t) = Σ_{t'≤t} d_{t'}/n_{t'} by sum — the additive estimator whose
    * increments ARE the hazard a rate model would regress on, and
    * exp(−H) is the classic S(t) cross-check). Same duration/censoring
    * semantics as x170.
    *
    * Exactness: each increment d/n is ONE double division of exact
    * at-risk integers e6-floored, and the cumulative sum runs over the
    * quantized BIGINTs — the x170 log-domain discipline, without even
    * needing a log. Same scale shape as x170: one fact-sized user
    * aggregate, then duration-grain windows (calendar-bounded).
    */
  def nelsonAalen(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("t0"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("tp"),
        max(unix_micros(col("ts"))).as("tl"))
      .select(
        when(col("tp").isNotNull, expr("(tp - t0) DIV 86400000000"))
          .otherwise(expr("(tl - t0) DIV 86400000000")).as("dur"),
        col("tp").isNotNull.cast("long").as("ev"))
    val byDur = perUser.groupBy("dur")
      .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
    val wRisk = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur.withColumn("n_risk", sum(col("d") + col("c")).over(wRisk))
      .filter(col("d") > 0)
      .withColumn("h_term_e6",
        floor(col("d").cast("double") / col("n_risk").cast("double")
          * 1000000d + 0.5d).cast("long"))
      .withColumn("cumhaz_e6", sum(col("h_term_e6")).over(wCum))
      .select(col("dur"), col("n_risk"), col("d"), col("c"),
        col("h_term_e6"), col("cumhaz_e6"))
      .orderBy("dur")
  }

  val nelsonAalenOracle: String =
    """WITH u AS (SELECT user_id,
      |                  MIN(epoch_us(ts)) AS t0,
      |                  MIN(CASE WHEN event_type = 'purchase'
      |                           THEN epoch_us(ts) END) AS tp,
      |                  MAX(epoch_us(ts)) AS tl
      |           FROM events GROUP BY 1),
      |pu AS (SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 86400000000
      |                   ELSE (tl - t0) // 86400000000 END AS dur,
      |              CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
      |       FROM u),
      |bd AS (SELECT dur, SUM(ev) AS d, SUM(1 - ev) AS c FROM pu GROUP BY 1),
      |rk AS (SELECT dur, d, c,
      |              SUM(d + c) OVER (ORDER BY dur DESC
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
      |       FROM bd),
      |st AS (SELECT dur, n_risk, d, c,
      |              CAST(floor(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
      |                * 1000000 + 0.5) AS BIGINT) AS h_term_e6
      |       FROM rk WHERE d > 0)
      |SELECT CAST(dur AS BIGINT) AS dur, CAST(n_risk AS BIGINT) AS n_risk,
      |       CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c, h_term_e6,
      |       CAST(SUM(h_term_e6) OVER (ORDER BY dur
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS cumhaz_e6
      |FROM st ORDER BY dur""".stripMargin

  /** x171: conversion-lag latency report — the batch twin of the
    * s06/s11/s13 attribution triptych asks WHICH views convert; this
    * asks HOW FAST, sliced by the hour-of-day the view happened (the
    * staffing/campaign-timing readout). Same pair semantics as s06
    * (purchase within 6 h of the same user's view); hour-of-day is the
    * engine-neutral `(µs DIV 3600·10⁶) mod 24` (the x162 posture — no
    * timezone-dependent EXTRACT crosses engines). Lags stay exact
    * integer µs; p50/p90 are Spark `percentile` ≡ DuckDB `quantile_cont`
    * (the a04 equivalence) floored once, and the mean is the exact
    * `sum DIV n`. One equi-join on user_id (range predicate rides the
    * join filter, AQE-governed) and one aggregate to ≤ 24 rows.
    */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("us").as("view_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("us").as("p_us"))
    views.join(purchases,
        col("user_id") === col("p_uid") &&
          col("p_us") >= col("view_us") &&
          col("p_us") <= col("view_us") + lit(21600000000L))
      .select(expr("(view_us DIV 3600000000) % 24").as("view_hour"),
        (col("p_us") - col("view_us")).as("lag_us"))
      .groupBy("view_hour")
      .agg(count(lit(1)).as("n_pairs"),
        floor(expr("percentile(lag_us, 0.5)") + 0.5d).cast("long").as("p50_lag_us"),
        floor(expr("percentile(lag_us, 0.9)") + 0.5d).cast("long").as("p90_lag_us"),
        expr("sum(lag_us) DIV count(1)").as("mean_lag_us"))
      .orderBy("view_hour")
  }

  val conversionLagOracle: String =
    """WITH e AS (SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us
      |           FROM events),
      |p AS (SELECT v.us AS view_us, pu.us - v.us AS lag_us
      |      FROM (SELECT user_id, us FROM e WHERE event_type = 'view') v
      |      JOIN (SELECT user_id, us FROM e WHERE event_type = 'purchase') pu
      |        ON pu.user_id = v.user_id
      |       AND pu.us >= v.us AND pu.us <= v.us + 21600000000)
      |SELECT (view_us // 3600000000) % 24 AS view_hour,
      |       COUNT(*) AS n_pairs,
      |       CAST(floor(quantile_cont(lag_us, 0.5) + 0.5) AS BIGINT) AS p50_lag_us,
      |       CAST(floor(quantile_cont(lag_us, 0.9) + 0.5) AS BIGINT) AS p90_lag_us,
      |       CAST(SUM(lag_us) // COUNT(*) AS BIGINT) AS mean_lag_us
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  /** x190: activity-streak distribution — the gaps-and-islands shape
    * (consecutive active days collapse to one island via the day−rank
    * invariant) applied to engagement: for each user the LONGEST run of
    * consecutive active days, reported as a distribution (streak length
    * → user count) so the engagement curve is one aggregate-sized
    * table. Scale shape: one fact pass to the distinct (user, day)
    * presence table (the x183 spine), a user-partitioned rank window
    * (bounded partitions — a user's days, never the fact), and three
    * presence-sized aggregates. Everything is exact integers.
    */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pres = Tables.events(spark, dir)
      .select(floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        col("user_id"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    pres
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max(col("len")).as("max_streak"))
      .groupBy("max_streak").agg(count(lit(1)).as("n_users"))
      .orderBy("max_streak")
  }

  val streaksOracle: String =
    """WITH pres AS (SELECT DISTINCT
      |                CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                user_id
      |              FROM events),
      |isl AS (SELECT user_id,
      |               day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
      |                 AS island
      |        FROM pres),
      |runs AS (SELECT user_id, island, COUNT(*) AS len FROM isl GROUP BY 1, 2),
      |mx AS (SELECT user_id, MAX(len) AS max_streak FROM runs GROUP BY 1)
      |SELECT max_streak, COUNT(*) AS n_users
      |FROM mx GROUP BY 1 ORDER BY 1""".stripMargin

  /** x185: week-over-week revenue growth per event type — the executive
    * trend report ("up or down vs last week, in basis points") that
    * x120's regression slope and x160's EWMA summarize away. Weeks are
    * engine-neutral epoch-day DIV 7; weekly sums come off the
    * Layer-shared [[dailyValueByType]] daily frame (re-aggregated —
    * no new fact pass), and the lag is a per-TYPE window over the
    * |weeks|-row metadata grid. Growth is NEGATIVE-CAPABLE, so no
    * integer DIV (the x162 floor-vs-truncate hazard): the exact integer
    * delta and base convert to double once and round once to basis
    * points; a zero/absent base week emits NULL on both engines.
    */
  def wowGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = dailyValueByType(spark, dir)
      .groupBy(col("event_type"), expr("day DIV 7").as("week"))
      .agg(sum(col("rev_e3")).as("rev_e3"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    weekly
      .withColumn("prev_week", lag(col("week"), 1).over(w))
      .withColumn("prev_e3", lag(col("rev_e3"), 1).over(w))
      .select(col("event_type"), col("week"), col("rev_e3"),
        when(col("prev_week") === col("week") - 1 && col("prev_e3") > 0L,
          floor((col("rev_e3") - col("prev_e3")).cast("double")
            / col("prev_e3").cast("double") * 10000d + 0.5d).cast("long"))
          .otherwise(lit(null).cast("long")).as("growth_bp"))
      .orderBy("event_type", "week")
  }

  val wowGrowthOracle: String =
    """WITH r AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS rev_e3
      |           FROM events GROUP BY 1, 2),
      |wk AS (SELECT event_type, day // 7 AS week, SUM(rev_e3) AS rev_e3
      |       FROM r GROUP BY 1, 2),
      |lg AS (SELECT event_type, week, rev_e3,
      |              LAG(week) OVER (PARTITION BY event_type ORDER BY week) AS prev_week,
      |              LAG(rev_e3) OVER (PARTITION BY event_type ORDER BY week) AS prev_e3
      |       FROM wk)
      |SELECT event_type, week, CAST(rev_e3 AS BIGINT) AS rev_e3,
      |       CASE WHEN prev_week = week - 1 AND prev_e3 > 0
      |            THEN CAST(floor(CAST(rev_e3 - prev_e3 AS DOUBLE)
      |                 / CAST(prev_e3 AS DOUBLE) * 10000 + 0.5) AS BIGINT)
      |            ELSE NULL END AS growth_bp
      |FROM lg ORDER BY event_type, week""".stripMargin

  /** x186: daily percentile bands of event value per type — the
    * monitoring envelope (p10/p50/p90 per day) whose breach is what
    * a33/x173 then diagnose. Exact interpolated percentiles per
    * (type, day) group over e4-floored values (per-ROW quantization,
    * the x132 rule), riding the a04 `percentile ≡ quantile_cont`
    * equivalence with one half-up rounding each. ONE fact-sized
    * grouped aggregate with map-side partials; output is the
    * |types|·|days| metadata grid.
    */
  def dailyPercentileBands(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        floor(col("value") * 10000d + 0.5d).cast("long").as("v_e4"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"),
        floor(expr("percentile(v_e4, 0.1)") + 0.5d).cast("long").as("p10_e4"),
        floor(expr("percentile(v_e4, 0.5)") + 0.5d).cast("long").as("p50_e4"),
        floor(expr("percentile(v_e4, 0.9)") + 0.5d).cast("long").as("p90_e4"))
      .orderBy("event_type", "day")

  val percentileBandsOracle: String =
    """WITH e AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4
      |           FROM events)
      |SELECT event_type, day, COUNT(*) AS n,
      |       CAST(floor(quantile_cont(v_e4, 0.1) + 0.5) AS BIGINT) AS p10_e4,
      |       CAST(floor(quantile_cont(v_e4, 0.5) + 0.5) AS BIGINT) AS p50_e4,
      |       CAST(floor(quantile_cont(v_e4, 0.9) + 0.5) AS BIGINT) AS p90_e4
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** x183: active-user accounting — DAU, trailing-7-day WAU, and the
    * new-vs-returning split per day: the product-health dashboard x94's
    * cohort matrix feeds but doesn't directly answer ("how many users
    * today, how many for the first time, how sticky is the week").
    * Scale shape: ONE fact pass reduces events to the distinct
    * (user, day) presence table; DAU/new/returning are presence-sized
    * aggregates; WAU is the x160 offset-EXPLODE — each presence row
    * contributes to its 7 forward target days and a per-target DISTINCT
    * count collapses multi-day users (an exact windowed
    * COUNT(DISTINCT) with no self-join and no window-function distinct,
    * which neither engine supports). All counts exact BIGINT on the
    * dense day grid; days before lo+6 carry an honest partial window.
    */
  def activeUsers(spark: SparkSession, dir: String): DataFrame = {
    val pres = Tables.events(spark, dir)
      .select(floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        col("user_id"))
      .distinct()
    val span = pres.agg(min("day").as("lo"), max("day").as("hi"))
    val days = span.select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val dau = pres.groupBy("day").agg(count(lit(1)).as("dau"))
    val firstDay = pres.groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    val wau = pres
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6L)).as("day"))
      .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
    // the day grid is generate_series(lo, hi), so WAU targets past hi
    // (presence-explode overshoot) drop out of the left join naturally
    days.join(dau, Seq("day"), "left")
      .join(firstDay, Seq("day"), "left")
      .join(wau, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (coalesce(col("dau"), lit(0L)) - coalesce(col("n_new"), lit(0L))).as("n_returning"),
        coalesce(col("wau"), lit(0L)).as("wau"))
      .orderBy("day")
  }

  val activeUsersOracle: String =
    """WITH pres AS (SELECT DISTINCT
      |                CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                user_id
      |              FROM events),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM pres),
      |days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM span),
      |dau AS (SELECT day, COUNT(*) AS dau FROM pres GROUP BY 1),
      |fd AS (SELECT day, COUNT(*) AS n_new
      |       FROM (SELECT user_id, MIN(day) AS day FROM pres GROUP BY 1)
      |       GROUP BY 1),
      |wau AS (SELECT p.day + o.off AS day, COUNT(DISTINCT p.user_id) AS wau
      |        FROM pres p, (SELECT unnest(generate_series(0, 6)) AS off) o
      |        GROUP BY 1)
      |SELECT d.day, COALESCE(dau.dau, 0) AS dau,
      |       COALESCE(fd.n_new, 0) AS n_new,
      |       COALESCE(dau.dau, 0) - COALESCE(fd.n_new, 0) AS n_returning,
      |       COALESCE(wau.wau, 0) AS wau
      |FROM days d
      |LEFT JOIN dau ON dau.day = d.day
      |LEFT JOIN fd ON fd.day = d.day
      |LEFT JOIN wau ON wau.day = d.day
      |ORDER BY d.day""".stripMargin

  /** x180: linear multi-touch attribution — the s06/x171 pair semantics
    * asked WHICH views convert and HOW FAST; this asks HOW MUCH CREDIT
    * each touchpoint earns: every view in the 6 h window before a
    * purchase splits that purchase's value equally, reported by the
    * view's hour-of-day (the campaign-budget readout). Exactness: the
    * per-touch credit is the ONE place a rational appears (value/n),
    * so it rounds ONCE per purchase-touch to e6 via the nonnegative
    * `(v_e2·10⁴) DIV n_touch` — every downstream sum is exact BIGINT
    * and hash-matches. The per-purchase touch count is a window over
    * the pair frame partitioned by purchase event id (bounded: at most
    * the views one user fits in 6 h), NOT a second pair join — the pair
    * build runs once. Purchases with zero prior views simply earn no
    * row (the left-outer "unattributed" report is s11's job). Output:
    * ≤ 24 rows.
    */
  /** x232: exact Shapley-value channel attribution (Shapley 1953; the
    * marketing form of Zhao et al. 2018) — the principled upgrade of
    * x180's linear split: credit channel i by its average marginal
    * contribution to conversion over ALL orderings of the channel set,
    *
    *   φᵢ = Σ_{S ⊆ C∖{i}} |S|!·(k−1−|S|)!/k! · (v(S∪{i}) − v(S)),
    *
    * with the coalition value v(S) = the observed conversion rate of
    * users whose touched-channel set is EXACTLY S. With k = 4 channels
    * (click/error/signup/view — alphabetical bit order) the whole game
    * is 16 coalition masks, so this is EXACT Shapley, no sampling.
    *
    * Exactness: v(S) = c_S/n_S is one double division of exact integers
    * per mask; each of the 8 marginal terms per channel quantizes to e9
    * BEFORE the sum (weights are CASE-selected integer/24.0 constants),
    * so φ is an exact BIGINT sum — no fold-order dependence at all, and
    * the whole computation is DECLARATIVE: a 16-row mask grid × 4
    * channels, no driver loop, no window. Scale shape: one fact-sized
    * user aggregate (bitmask via 4 conditional maxes) → 16-row grid;
    * everything after is constant-size regardless of corpus. Empty
    * coalitions contribute v = 0 (the abTest null posture folded to the
    * game's baseline).
    */
  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg((max(when(col("event_type") === "click", 1L).otherwise(0L))
        + max(when(col("event_type") === "error", 2L).otherwise(0L)) * lit(1L)
        + max(when(col("event_type") === "signup", 1L).otherwise(0L)) * lit(4L)
        + max(when(col("event_type") === "view", 1L).otherwise(0L)) * lit(8L))
        .as("mask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val stats = users.groupBy("mask")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("c"))
    val grid = spark.range(16).select(col("id").as("m"))
      .join(stats, col("m") === col("mask"), "left_outer")
      .select(col("m"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("c"), lit(0L)).as("c"))
    val v = when(col("n") > 0L,
      col("c").cast("double") / col("n").cast("double")).otherwise(lit(0.0d))
    val vs = grid.select(col("m"), v.as("v"))
    val channels = Seq(("click", 1L), ("error", 2L), ("signup", 4L), ("view", 8L))
      .toDF("channel", "bit")
    val wNum = expr("CASE bit_count(m) WHEN 0 THEN 6 WHEN 1 THEN 2 " +
      "WHEN 2 THEN 2 ELSE 6 END")
    val terms = channels.crossJoin(vs)
      .filter(expr("(m & bit) = 0"))
      .join(vs.select(col("m").as("m1"), col("v").as("v1")),
        col("m1") === col("m") + col("bit"))
      .select(col("channel"), col("bit"),
        floor((wNum.cast("double") / lit(24.0d)) * (col("v1") - col("v"))
          * 1000000000d + 0.5d).cast("long").as("term_e9"))
    // touched counts re-aggregate the 16-row mask GRID, not the fact —
    // the corpus is scanned once for this whole query
    val touched = channels.crossJoin(grid)
      .filter(expr("(m & bit) > 0"))
      .groupBy("channel")
      .agg(sum(col("n")).as("touched_users"), sum(col("c")).as("touched_conv"))
    terms.groupBy("channel").agg(sum(col("term_e9")).as("phi_e9"))
      .join(touched, "channel")
      .select(col("channel"), col("touched_users"), col("touched_conv"),
        col("phi_e9"))
      .orderBy("channel")
  }

  val shapleyOracle: String =
    """WITH u AS (SELECT user_id,
      |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      + MAX(CASE WHEN event_type = 'error' THEN 2 ELSE 0 END)
      |      + MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) * 4
      |      + MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) * 8 AS mask,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM events GROUP BY 1),
      |st AS (SELECT mask, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS c
      |       FROM u GROUP BY 1),
      |grid AS (SELECT r.m, COALESCE(st.n, 0) AS n, COALESCE(st.c, 0) AS c
      |         FROM range(16) r(m) LEFT JOIN st ON st.mask = r.m),
      |vs AS (SELECT m, CASE WHEN n > 0
      |                      THEN CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
      |                      ELSE 0.0 END AS v
      |       FROM grid),
      |ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
      |                             ('signup', 4), ('view', 8)) t(channel, bit)),
      |terms AS (
      |  SELECT ch.channel,
      |         CAST(floor((CAST(CASE bit_count(v0.m) WHEN 0 THEN 6 WHEN 1 THEN 2
      |                          WHEN 2 THEN 2 ELSE 6 END AS DOUBLE) / 24.0)
      |           * (v1.v - v0.v) * 1000000000 + 0.5) AS BIGINT) AS term_e9
      |  FROM ch JOIN vs v0 ON (v0.m & ch.bit) = 0
      |          JOIN vs v1 ON v1.m = v0.m + ch.bit),
      |tc AS (SELECT ch.channel, COUNT(*) AS touched_users,
      |              CAST(SUM(u.y) AS BIGINT) AS touched_conv
      |       FROM u JOIN ch ON (u.mask & ch.bit) > 0 GROUP BY 1)
      |SELECT t.channel, tc.touched_users, tc.touched_conv,
      |       CAST(SUM(t.term_e9) AS BIGINT) AS phi_e9
      |FROM terms t JOIN tc ON tc.channel = t.channel
      |GROUP BY 1, 2, 3 ORDER BY t.channel""".stripMargin

  /** x234: Markov removal-effect attribution (Anderl et al. 2014) — the
    * chain-based counterpart to x232's Shapley: model user-day journeys
    * as a first-order Markov chain over channel states (START → click/
    * error/signup/view… → CONV on the day's first purchase, NULL
    * otherwise), and credit channel c by its REMOVAL EFFECT — how much
    * the chain's START→CONV absorption probability drops when every
    * transition into c is redirected to NULL (the "what if this channel
    * didn't exist" counterfactual Shapley's coalition game can't ask).
    *
    * Exactness: journeys reduce to a 7×7 integer transition grid in one
    * windowed pass (rank ties broken by event_id); each variant's
    * transition probabilities are single divisions of exact integers,
    * and the absorption solve is 200 Jacobi sweeps of 7-term left-fold
    * dot products — driver-side on the 49-cell grid (the x229/x230
    * boundary), replayed verbatim by the oracle's variant-parallel
    * recursive CTE (`list_dot_product` ≡ the 0.0-seeded while loop).
    * Scale shape: the windows partition by (user, day) — bounded
    * sessions — and everything after the grid aggregate is
    * constant-size. Output: per channel, the inbound transition count,
    * base and channel-removed absorption, and the removal effect (e9).
    */
  def markovAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id", "day").orderBy("us", "event_id")
    val ord = ev.withColumn("rn", row_number().over(w))
    val firstP = ord.filter(col("event_type") === "purchase")
      .groupBy("user_id", "day").agg(min(col("rn")).as("prn"))
    val chIdx = Map("click" -> 2L, "error" -> 3L, "signup" -> 4L, "view" -> 5L)
    val st = ord.join(firstP, Seq("user_id", "day"), "left_outer")
      .filter(col("prn").isNull || col("rn") < col("prn"))
      .select(col("user_id"), col("day"), col("rn"),
        when(col("event_type") === "click", 2L)
          .when(col("event_type") === "error", 3L)
          .when(col("event_type") === "signup", 4L)
          .otherwise(5L).as("s"))
    val w2 = Window.partitionBy("user_id", "day").orderBy("rn")
    val mid = st.select(
      coalesce(lag(col("s"), 1).over(w2), lit(1L)).as("a"), col("s").as("b"))
    val lastS = st.groupBy("user_id", "day").agg(max_by(col("s"), col("rn")).as("a"))
    val terminal = ord.select("user_id", "day").distinct()
      .join(lastS, Seq("user_id", "day"), "left_outer")
      .join(firstP, Seq("user_id", "day"), "left_outer")
      .select(coalesce(col("a"), lit(1L)).as("a"),
        when(col("prn").isNotNull, 6L).otherwise(7L).as("b"))
    val grid = mid.unionAll(terminal).groupBy("a", "b").agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getLong(2)))
      .toMap                                      // ≤ 49 cells — driver boundary
    val n0 = Array.tabulate(8, 8)((i, j) => grid.getOrElse((i, j), 0L))
    def absorb(c: Int): Double = {                // c = 0 → base chain
      val n = Array.tabulate(8, 8) { (i, j) =>
        if (c == 0) n0(i)(j)
        else if (i == c) 0L
        else if (j == c) 0L
        else if (j == 7) n0(i)(7) + n0(i)(c)
        else n0(i)(j)
      }
      val rs = Array.tabulate(8)(i => (1 to 7).map(n(i)(_)).sum)
      val p = Array.tabulate(8, 8)((i, j) =>
        if (rs(i) > 0L) n(i)(j).toDouble / rs(i).toDouble else 0.0)
      var a = Array(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0) // index 6 = CONV
      (0 until 200).foreach { _ =>
        a = Array.tabulate(8) { s =>
          if (s >= 1 && s <= 5) {
            var acc = 0.0
            var j = 1
            while (j <= 7) { acc = acc + p(s)(j) * a(j); j += 1 }
            acc
          } else a(s)
        }
      }
      a(1)
    }
    val base = absorb(0)
    val rows = chIdx.toSeq.sortBy(_._1).map { case (ch, c) =>
      val ab = absorb(c.toInt)
      (ch, (1 to 7).map(i => n0(i)(c.toInt)).sum,
        math.floor(base * 1e9 + 0.5).toLong,
        math.floor(ab * 1e9 + 0.5).toLong,
        math.floor((1.0 - ab / base) * 1e9 + 0.5).toLong)
    }
    rows.toDF("channel", "n_inbound", "base_e9", "absorb_e9", "removal_e9")
      .orderBy("channel")
  }

  val markovOracle: String =
    """WITH RECURSIVE
      |ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |              epoch_us(ts) AS us, event_id, event_type FROM events),
      |ord AS (SELECT *, row_number() OVER (PARTITION BY user_id, day
      |                                     ORDER BY us, event_id) AS rn
      |        FROM ev),
      |firstp AS (SELECT user_id, day, MIN(rn) AS prn FROM ord
      |           WHERE event_type = 'purchase' GROUP BY 1, 2),
      |st AS (SELECT o.user_id, o.day, o.rn,
      |              CASE o.event_type WHEN 'click' THEN 2 WHEN 'error' THEN 3
      |                   WHEN 'signup' THEN 4 ELSE 5 END AS s
      |       FROM ord o LEFT JOIN firstp f USING (user_id, day)
      |       WHERE f.prn IS NULL OR o.rn < f.prn),
      |mid AS (SELECT COALESCE(LAG(s) OVER (PARTITION BY user_id, day
      |                                     ORDER BY rn), 1) AS a, s AS b
      |        FROM st),
      |term AS (SELECT COALESCE(l.a, 1) AS a,
      |                CASE WHEN f.prn IS NOT NULL THEN 6 ELSE 7 END AS b
      |         FROM (SELECT DISTINCT user_id, day FROM ord) j
      |         LEFT JOIN (SELECT user_id, day, max_by(s, rn) AS a
      |                    FROM st GROUP BY 1, 2) l USING (user_id, day)
      |         LEFT JOIN firstp f USING (user_id, day)),
      |cnt AS MATERIALIZED (SELECT a, b, COUNT(*) AS n
      |       FROM (SELECT a, b FROM mid UNION ALL SELECT a, b FROM term)
      |       GROUP BY 1, 2),
      |grid7 AS (SELECT i.i AS i, j.j AS j FROM range(1, 8) i(i), range(1, 8) j(j)),
      |cells AS MATERIALIZED (
      |  SELECT g.i, g.j, COALESCE(cnt.n, 0) AS n
      |  FROM grid7 g LEFT JOIN cnt ON cnt.a = g.i AND cnt.b = g.j),
      |var_cells AS (
      |  SELECT v.v, c.i, c.j,
      |         CASE WHEN v.v = 0 THEN c.n
      |              WHEN c.i = v.v + 1 THEN 0
      |              WHEN c.j = v.v + 1 THEN 0
      |              WHEN c.j = 7 THEN c.n + cv.n
      |              ELSE c.n END AS n
      |  FROM range(0, 5) v(v)
      |  JOIN cells c ON true
      |  JOIN cells cv ON cv.i = c.i AND cv.j = v.v + 1),
      |rsum AS (SELECT v, i, SUM(n) AS rs FROM var_cells GROUP BY 1, 2),
      |prow AS (SELECT vc.v, vc.i,
      |                list(CASE WHEN r.rs > 0
      |                          THEN CAST(vc.n AS DOUBLE) / CAST(r.rs AS DOUBLE)
      |                          ELSE 0.0 END ORDER BY vc.j) AS pr
      |         FROM var_cells vc JOIN rsum r ON r.v = vc.v AND r.i = vc.i
      |         GROUP BY 1, 2),
      |pm AS MATERIALIZED (SELECT v, list(pr ORDER BY i) AS p FROM prow GROUP BY 1),
      |it AS (
      |  SELECT v, 0 AS t,
      |         [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 1.0, 0.0] AS a
      |  FROM pm
      |  UNION ALL
      |  SELECT it.v, t + 1,
      |         list_transform(range(1, 8), s ->
      |           CASE WHEN s <= 5 THEN list_dot_product(p[s], a) ELSE a[s] END)
      |  FROM it JOIN pm ON pm.v = it.v WHERE t < 200),
      |fin AS (SELECT v, a[1] AS ab FROM it WHERE t = 200),
      |inb AS (SELECT j, CAST(SUM(n) AS BIGINT) AS n_in FROM cells GROUP BY 1),
      |ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
      |                             ('signup', 3), ('view', 4)) t(channel, v))
      |SELECT ch.channel, inb.n_in AS n_inbound,
      |       CAST(floor(b.ab * 1000000000 + 0.5) AS BIGINT) AS base_e9,
      |       CAST(floor(f.ab * 1000000000 + 0.5) AS BIGINT) AS absorb_e9,
      |       CAST(floor((1.0 - f.ab / b.ab) * 1000000000 + 0.5) AS BIGINT)
      |         AS removal_e9
      |FROM ch JOIN fin f ON f.v = ch.v
      |        JOIN fin b ON b.v = 0
      |        JOIN inb ON inb.j = ch.v + 1
      |ORDER BY ch.channel""".stripMargin

  /** x244: journey entropy rate (Shannon 1948's source rate; Song et al.
    * 2010's predictability framing) — HOW PREDICTABLE is user behavior:
    * the x234 journey chain made recurrent (CONV/NULL feed back to START,
    * i.e. journeys concatenate), its stationary distribution π from 200
    * power-iteration sweeps, and the rate H = Σ_s π_s · H(P_s·) in
    * nats — the floor on what ANY next-event predictor can achieve; a
    * per-state breakdown shows WHERE the uncertainty lives (a state with
    * H ≈ 0 is a corridor, high H a crossroads).
    *
    * Determinism: the 7×7 recurrent grid is exact integers (one
    * windowed pass — the x234 derivation); probabilities are single
    * divisions; π sweeps and both entropy folds are ascending-index
    * left folds (`list_dot_product` discipline), with the x170-class
    * data-dependent ln measured bit-identical across engines; one e9/e6
    * quantization at the end. Driver-side on the 49-cell grid, oracle
    * replays the same sweeps in one recursive CTE.
    */
  def entropyRate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id", "day").orderBy("us", "event_id")
    val ord = ev.withColumn("rn", row_number().over(w))
    val firstP = ord.filter(col("event_type") === "purchase")
      .groupBy("user_id", "day").agg(min(col("rn")).as("prn"))
    val st = ord.join(firstP, Seq("user_id", "day"), "left_outer")
      .filter(col("prn").isNull || col("rn") < col("prn"))
      .select(col("user_id"), col("day"), col("rn"),
        when(col("event_type") === "click", 2L)
          .when(col("event_type") === "error", 3L)
          .when(col("event_type") === "signup", 4L)
          .otherwise(5L).as("s"))
    val w2 = Window.partitionBy("user_id", "day").orderBy("rn")
    val mid = st.select(
      coalesce(lag(col("s"), 1).over(w2), lit(1L)).as("a"), col("s").as("b"))
    val lastS = st.groupBy("user_id", "day").agg(max_by(col("s"), col("rn")).as("a"))
    val terminal = ord.select("user_id", "day").distinct()
      .join(lastS, Seq("user_id", "day"), "left_outer")
      .join(firstP, Seq("user_id", "day"), "left_outer")
      .select(coalesce(col("a"), lit(1L)).as("a"),
        when(col("prn").isNotNull, 6L).otherwise(7L).as("b"))
    val grid = mid.unionAll(terminal).groupBy("a", "b").agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getLong(2)))
      .toMap                                      // 49-cell driver boundary
    val n = Array.tabulate(8, 8) { (i, j) =>
      if (i == 6 || i == 7) {                     // recurrent: terminals → START
        if (j == 1) (1 to 7).map(s => grid.getOrElse((s, i), 0L)).sum else 0L
      } else grid.getOrElse((i, j), 0L)
    }
    val rs = Array.tabulate(8)(i => (1 to 7).map(n(i)(_)).sum)
    val p = Array.tabulate(8, 8)((i, j) =>
      if (rs(i) > 0L) n(i)(j).toDouble / rs(i).toDouble else 0.0)
    var pi = Array(0.0, 1.0 / 7.0, 1.0 / 7.0, 1.0 / 7.0, 1.0 / 7.0,
      1.0 / 7.0, 1.0 / 7.0, 1.0 / 7.0)
    (0 until 200).foreach { _ =>
      pi = Array.tabulate(8) { j =>
        if (j == 0) 0.0
        else {
          var acc = 0.0
          var s = 1
          while (s <= 7) { acc = acc + pi(s) * p(s)(j); s += 1 }
          acc
        }
      }
    }
    val h = Array.tabulate(8) { s =>
      var acc = 0.0
      var j = 1
      while (j <= 7) {
        acc = acc + (if (p(s)(j) > 0.0) -(p(s)(j) * math.log(p(s)(j))) else 0.0)
        j += 1
      }
      acc
    }
    var rate = 0.0
    var s = 1
    while (s <= 7) { rate = rate + pi(s) * h(s); s += 1 }
    val names = Array("", "START", "click", "error", "signup", "view", "CONV", "NULL")
    (1 to 7).map { i =>
      (names(i), rs(i),
        math.floor(pi(i) * 1e9 + 0.5).toLong,
        math.floor(h(i) * 1e6 + 0.5).toLong,
        math.floor(rate * 1e6 + 0.5).toLong)
    }.toDF("state", "n_out", "pi_e9", "h_state_e6", "entropy_rate_e6")
      .orderBy("state")
  }

  val entropyRateOracle: String =
    """WITH RECURSIVE
      |ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |              epoch_us(ts) AS us, event_id, event_type FROM events),
      |ord AS (SELECT *, row_number() OVER (PARTITION BY user_id, day
      |                                     ORDER BY us, event_id) AS rn
      |        FROM ev),
      |firstp AS (SELECT user_id, day, MIN(rn) AS prn FROM ord
      |           WHERE event_type = 'purchase' GROUP BY 1, 2),
      |st AS (SELECT o.user_id, o.day, o.rn,
      |              CASE o.event_type WHEN 'click' THEN 2 WHEN 'error' THEN 3
      |                   WHEN 'signup' THEN 4 ELSE 5 END AS s
      |       FROM ord o LEFT JOIN firstp f USING (user_id, day)
      |       WHERE f.prn IS NULL OR o.rn < f.prn),
      |mid AS (SELECT COALESCE(LAG(s) OVER (PARTITION BY user_id, day
      |                                     ORDER BY rn), 1) AS a, s AS b
      |        FROM st),
      |term AS (SELECT COALESCE(l.a, 1) AS a,
      |                CASE WHEN f.prn IS NOT NULL THEN 6 ELSE 7 END AS b
      |         FROM (SELECT DISTINCT user_id, day FROM ord) j
      |         LEFT JOIN (SELECT user_id, day, max_by(s, rn) AS a
      |                    FROM st GROUP BY 1, 2) l USING (user_id, day)
      |         LEFT JOIN firstp f USING (user_id, day)),
      |cnt AS MATERIALIZED (SELECT a, b, COUNT(*) AS n
      |       FROM (SELECT a, b FROM mid UNION ALL SELECT a, b FROM term)
      |       GROUP BY 1, 2),
      |grid7 AS (SELECT i.i AS i, j.j AS j FROM range(1, 8) i(i), range(1, 8) j(j)),
      |base AS (SELECT g.i, g.j, COALESCE(cnt.n, 0) AS n
      |         FROM grid7 g LEFT JOIN cnt ON cnt.a = g.i AND cnt.b = g.j),
      |inb AS (SELECT j, SUM(n) AS n_in FROM base GROUP BY 1),
      |rec AS (SELECT b.i, b.j,
      |               CASE WHEN b.i IN (6, 7) THEN
      |                 CASE WHEN b.j = 1 THEN ib.n_in ELSE 0 END
      |               ELSE b.n END AS n
      |        FROM base b JOIN inb ib ON ib.j = b.i),
      |rsum AS (SELECT i, SUM(n) AS rs FROM rec GROUP BY 1),
      |prow AS (SELECT r.i,
      |                list(CASE WHEN s.rs > 0
      |                          THEN CAST(r.n AS DOUBLE) / CAST(s.rs AS DOUBLE)
      |                          ELSE 0.0 END ORDER BY r.j) AS pr
      |         FROM rec r JOIN rsum s ON s.i = r.i GROUP BY 1),
      |pm0 AS MATERIALIZED (SELECT list(pr ORDER BY i) AS p FROM prow),
      |pm AS MATERIALIZED (
      |  SELECT p, list_transform(range(1, 8), j ->
      |           list_transform(range(1, 8), s -> p[s][j])) AS pt
      |  FROM pm0),
      |it AS (
      |  SELECT 0 AS t,
      |         [CAST(1.0 AS DOUBLE) / 7.0 for z in range(7)] AS pi
      |  FROM pm
      |  UNION ALL
      |  SELECT t + 1,
      |         list_transform(range(1, 8), j -> list_dot_product(pi, pt[j]))
      |  FROM it, pm WHERE t < 200),
      |hv AS (SELECT list_transform(range(1, 8), s ->
      |         list_sum(list_transform(range(1, 8), j ->
      |           CASE WHEN p[s][j] > 0 THEN -(p[s][j] * ln(p[s][j]))
      |                ELSE 0.0 END))) AS h
      |       FROM pm),
      |fin AS (SELECT pi, h, list_dot_product(pi, h) AS rate
      |        FROM (SELECT pi FROM it WHERE t = 200), hv),
      |nm AS (SELECT * FROM (VALUES (1, 'START'), (2, 'click'), (3, 'error'),
      |                             (4, 'signup'), (5, 'view'), (6, 'CONV'),
      |                             (7, 'NULL')) v(i, state))
      |SELECT nm.state, CAST(rsum.rs AS BIGINT) AS n_out,
      |       CAST(floor(pi[nm.i] * 1000000000 + 0.5) AS BIGINT) AS pi_e9,
      |       CAST(floor(h[nm.i] * 1000000 + 0.5) AS BIGINT) AS h_state_e6,
      |       CAST(floor(rate * 1000000 + 0.5) AS BIGINT) AS entropy_rate_e6
      |FROM nm JOIN rsum ON rsum.i = nm.i, fin
      |ORDER BY nm.state""".stripMargin

  def linearAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100d + 0.5d).cast("long").as("v_e2"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("us").as("view_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("event_id").as("p_eid"),
        col("us").as("p_us"), col("v_e2"))
    val w = Window.partitionBy(col("p_eid"))
    views.join(purchases,
        col("user_id") === col("p_uid") &&
          col("p_us") >= col("view_us") &&
          col("p_us") <= col("view_us") + lit(21600000000L))
      .withColumn("n_touch", count(lit(1)).over(w))
      .select(expr("(view_us DIV 3600000000) % 24").as("view_hour"),
        expr("(v_e2 * 10000) DIV n_touch").as("credit_e6"), col("p_eid"))
      .groupBy("view_hour")
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_eid")).as("n_purchases"),
        sum(col("credit_e6")).as("credit_e6"))
      .orderBy("view_hour")
  }

  /** x257: time-decay + position-based (U-shaped) multi-touch attribution
    * — the remaining two canonical credit models beside [[linearAttribution]]
    * (equal split), x232 (exact Shapley), and x234 (Markov removal
    * effect), on the SAME 6-hour view→purchase touch frame so the four
    * models are directly comparable per view-hour. Time-decay halves a
    * touch's weight per full hour of age (half-life = 1 h, the industry
    * default): w = 2^(−⌊Δt/1h⌋) is an exact dyadic rational, so the
    * weight is the INTEGER w_e9 = 10⁹ DIV 2^⌊Δt/1h⌋ (the x247
    * discipline) — no transcendental pow whose libm rounding could
    * diverge across engines. Position-based pays 40% to the first touch,
    * 40% to the
    * last, and splits 20% over the middle (100% / 50-50 for 1- and
    * 2-touch paths).
    *
    * Exactness: both credit models are pure INTEGER arithmetic — weights
    * are dyadic e9 integers, shares are `(v·10⁴·w) DIV Σw` and
    * `(v·10⁴·…) DIV …` exactly as x180 — so hourly sums are exact BIGINTs
    * on both engines; no double ever appears. Scale: the touch frame is
    * the x180 join (per-user time-bounded — bounded fan-out); windows
    * partition by conversion id (bounded by the 6-h lookback), and the
    * output is 24 rows.
    */
  def decayAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100d + 0.5d).cast("long").as("v_e2"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_eid"),
        col("us").as("view_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("event_id").as("p_eid"),
        col("us").as("p_us"), col("v_e2"))
    val wp = Window.partitionBy(col("p_eid"))
    val wo = wp.orderBy(col("view_us"), col("v_eid"))
    views.join(purchases,
        col("user_id") === col("p_uid") &&
          col("p_us") >= col("view_us") &&
          col("p_us") <= col("view_us") + lit(21600000000L))
      .withColumn("w_e9",
        expr("1000000000 DIV shiftleft(CAST(1 AS BIGINT), CAST((p_us - view_us) DIV 3600000000 AS INT))"))
      .withColumn("sw_e9", sum(col("w_e9")).over(wp))
      .withColumn("n_touch", count(lit(1)).over(wp))
      .withColumn("r", row_number().over(wo))
      .select(expr("(view_us DIV 3600000000) % 24").as("view_hour"),
        col("p_eid"),
        expr("(v_e2 * 10000 * w_e9) DIV sw_e9").as("td_e6"),
        expr("""CASE WHEN n_touch = 1 THEN v_e2 * 10000
                     WHEN n_touch = 2 THEN (v_e2 * 10000) DIV 2
                     WHEN r = 1 OR r = n_touch THEN (v_e2 * 10000 * 2) DIV 5
                     ELSE (v_e2 * 10000) DIV (5 * (n_touch - 2)) END""")
          .as("pos_e6"))
      .groupBy("view_hour")
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_eid")).as("n_purchases"),
        sum(col("td_e6")).as("td_credit_e6"),
        sum(col("pos_e6")).as("pos_credit_e6"))
      .orderBy("view_hour")
  }

  val decayAttributionOracle: String =
    """WITH e AS (SELECT user_id, event_type, event_id,
      |                  CAST(epoch_us(ts) AS BIGINT) AS us,
      |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_e2
      |           FROM events),
      |p AS (SELECT v.us AS view_us, pu.event_id AS p_eid, pu.v_e2,
      |             1000000000 // (CAST(1 AS BIGINT)
      |               << CAST((pu.us - v.us) // 3600000000 AS INTEGER)) AS w_e9,
      |             COUNT(*) OVER (PARTITION BY pu.event_id) AS n_touch,
      |             ROW_NUMBER() OVER (PARTITION BY pu.event_id
      |                                ORDER BY v.us, v.event_id) AS r
      |      FROM (SELECT user_id, event_id, us FROM e
      |            WHERE event_type = 'view') v
      |      JOIN (SELECT user_id, event_id, us, v_e2 FROM e
      |            WHERE event_type = 'purchase') pu
      |        ON pu.user_id = v.user_id
      |       AND pu.us >= v.us AND pu.us <= v.us + 21600000000),
      |s AS (SELECT *, SUM(w_e9) OVER (PARTITION BY p_eid) AS sw_e9 FROM p)
      |SELECT (view_us // 3600000000) % 24 AS view_hour,
      |       COUNT(*) AS n_touches,
      |       COUNT(DISTINCT p_eid) AS n_purchases,
      |       CAST(SUM((v_e2 * 10000 * w_e9) // sw_e9) AS BIGINT) AS td_credit_e6,
      |       CAST(SUM(CASE WHEN n_touch = 1 THEN v_e2 * 10000
      |                     WHEN n_touch = 2 THEN (v_e2 * 10000) // 2
      |                     WHEN r = 1 OR r = n_touch THEN (v_e2 * 10000 * 2) // 5
      |                     ELSE (v_e2 * 10000) // (5 * (n_touch - 2)) END)
      |         AS BIGINT) AS pos_credit_e6
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  val attributionOracle: String =
    """WITH e AS (SELECT user_id, event_type, event_id,
      |                  CAST(epoch_us(ts) AS BIGINT) AS us,
      |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_e2
      |           FROM events),
      |p AS (SELECT v.us AS view_us, pu.event_id AS p_eid, pu.v_e2,
      |             COUNT(*) OVER (PARTITION BY pu.event_id) AS n_touch
      |      FROM (SELECT user_id, us FROM e WHERE event_type = 'view') v
      |      JOIN (SELECT user_id, event_id, us, v_e2 FROM e
      |            WHERE event_type = 'purchase') pu
      |        ON pu.user_id = v.user_id
      |       AND pu.us >= v.us AND pu.us <= v.us + 21600000000)
      |SELECT (view_us // 3600000000) % 24 AS view_hour,
      |       COUNT(*) AS n_touches,
      |       COUNT(DISTINCT p_eid) AS n_purchases,
      |       CAST(SUM((v_e2 * 10000) // n_touch) AS BIGINT) AS credit_e6
      |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  val chi2Oracle: String =
    """WITH e AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) % 7 AS BIGINT) AS dow
      |           FROM events),
      |cells AS (SELECT event_type, dow, COUNT(*) AS c_xy FROM e GROUP BY 1, 2),
      |cx AS (SELECT event_type, SUM(c_xy) AS c_x FROM cells GROUP BY 1),
      |cy AS (SELECT dow, SUM(c_xy) AS c_y FROM cells GROUP BY 1),
      |n AS (SELECT SUM(c_xy) AS n, COUNT(DISTINCT dow) AS n_dows FROM cells),
      |terms AS (SELECT cells.event_type, cx.c_x, n.n_dows,
      |                 CAST(floor(
      |                   ((CAST(n.n * cells.c_xy - cx.c_x * cy.c_y AS DOUBLE)) *
      |                    (CAST(n.n * cells.c_xy - cx.c_x * cy.c_y AS DOUBLE))) /
      |                   ((n.n * CAST(1.0 AS DOUBLE)) * cx.c_x * cy.c_y)
      |                   * 1000000 + 0.5) AS BIGINT) AS term_e6
      |          FROM cells
      |          JOIN cx ON cx.event_type = cells.event_type
      |          JOIN cy ON cy.dow = cells.dow
      |          CROSS JOIN n)
      |SELECT event_type, CAST(MAX(c_x) AS BIGINT) AS n_x,
      |       CAST(MAX(n_dows) AS BIGINT) AS n_dows,
      |       COUNT(*) AS n_cells,
      |       CAST(SUM(term_e6) AS BIGINT) AS chi2_e6
      |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin

  /** x172: autocorrelation of the per-type daily revenue series at lags
    * 1–7 — the seasonality screen run before trusting x160's EWMA decay
    * or a33's weekly-cohort baseline (a spike at lag 7 CONFIRMS the
    * weekly rhythm those operators assume). Pearson r per (type, lag)
    * over the dense [[denseDailyRevenue]] grid (zeros are observations:
    * a dark day correlating with a dark day next week IS signal), lagged
    * pairs formed by an offset-EXPLODE equi-join on the metadata-sized
    * grid — never a non-equi join, never the fact. Moment sums widen
    * per-row products to DECIMAL(38,0) BEFORE multiplying (daily e3
    * revenue at 100 TB can reach ~10¹³, so the raw long·long square
    * would already wrap per row — one step past the a34 lesson, where
    * widening after the multiply was still safe). The five exact sums
    * convert to double ONCE, and r = a/√(b·c) is one pinned-order
    * expression rounded once to e6; degenerate series (zero variance on
    * either side) emit NULL identically on both engines instead of an
    * engine-specific ±inf. Output: |types|·7 rows at any SF.
    */
  def revenueAcf(spark: SparkSession, dir: String): DataFrame = {
    val d38: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _.cast("decimal(38,0)")
    val dense = denseDailyRevenue(spark, dir)
    val a = dense.select(col("event_type"), col("day"), col("rev_e3").as("x"),
        explode(sequence(lit(1L), lit(7L))).as("lag"))
      .withColumn("tday", col("day") + col("lag"))
    val b = dense.select(col("event_type").as("bt"), col("day").as("bday"),
      col("rev_e3").as("y"))
    a.join(b, col("event_type") === col("bt") && col("tday") === col("bday"))
      .groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        (d38(col("n_pairs")) * col("sxy") - col("sx").cast("decimal(38,0)") * d38(col("sy")))
          .cast("double").as("a"),
        (d38(col("n_pairs")) * col("sxx") - d38(col("sx")) * d38(col("sx")))
          .cast("double").as("b"),
        (d38(col("n_pairs")) * col("syy") - d38(col("sy")) * d38(col("sy")))
          .cast("double").as("c"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        when(col("b") > 0d && col("c") > 0d,
          floor(col("a") / sqrt(col("b") * col("c")) * 1000000d + 0.5d).cast("long"))
          .otherwise(lit(null).cast("long")).as("r_e6"))
      .orderBy("event_type", "lag")
  }

  val acfOracle: String =
    """WITH r AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS rev_e3
      |           FROM events GROUP BY 1, 2),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM r),
      |days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM r),
      |dense AS (SELECT t.event_type, d.day, COALESCE(r.rev_e3, 0) AS rev_e3
      |          FROM days d CROSS JOIN types t
      |          LEFT JOIN r ON r.event_type = t.event_type AND r.day = d.day),
      |lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
      |p AS (SELECT a.event_type, l.lag, a.rev_e3 AS x, b.rev_e3 AS y
      |      FROM dense a CROSS JOIN lags l
      |      JOIN dense b ON b.event_type = a.event_type AND b.day = a.day + l.lag),
      |s AS (SELECT event_type, lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
      |      FROM p GROUP BY 1, 2),
      |m AS (SELECT event_type, lag, n,
      |             CAST(n*sxy - sx*sy AS DOUBLE) AS a,
      |             CAST(n*sxx - sx*sx AS DOUBLE) AS b,
      |             CAST(n*syy - sy*sy AS DOUBLE) AS c FROM s)
      |SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
      |       CASE WHEN b > 0 AND c > 0
      |            THEN CAST(floor(a / sqrt(b * c) * 1000000 + 0.5) AS BIGINT)
      |            ELSE NULL END AS r_e6
      |FROM m ORDER BY 1, 2""".stripMargin

  /** x173: CUSUM level-shift scan of the per-type daily revenue series —
    * the change-point detector behind "did the feed's level move, and
    * WHEN": the day maximizing |Σ_{i≤t}(xᵢ − μ)| is the classic
    * single-change-point estimate (Page '54; Taylor's CUSUM bootstrap
    * uses the same statistic). The rational mean never materializes:
    * both sides scale by n, so C'ₜ = n·prefixₜ − t·S is EXACT integer
    * arithmetic end to end — widened to DECIMAL(38,0) because
    * n·prefix ≈ |days|·Σrev can pass 2⁶³ at the 100 TB grid (DuckDB's
    * BIGINT product suffices at oracle scale; the values are equal).
    * The running prefix is a per-TYPE window over the dense
    * metadata-sized grid — a bounded partition, never a global window,
    * never the fact. Peak selection is a row_number over (|C| desc, day
    * asc) per type: deterministic earliest-peak tie-break on both
    * engines. Output: |types| rows.
    */
  def cusumShift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d38: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _.cast("decimal(38,0)")
    val dense = denseDailyRevenue(spark, dir)
    val tot = dense.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("rev_e3")).as("s_tot"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wp = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("c_scaled")).desc, col("day").asc)
    dense
      .withColumn("prefix", sum(col("rev_e3")).over(wc))
      .withColumn("t_idx", col("day") - col("lo") + 1L)
      .join(broadcast(tot), "event_type")
      .withColumn("c_scaled",
        d38(col("n_days")) * d38(col("prefix")) - d38(col("t_idx")) * d38(col("s_tot")))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_days"), col("s_tot").as("total_e3"),
        col("day").as("peak_day"),
        col("c_scaled").cast("long").as("cusum_peak_scaled"))
      .orderBy("event_type")
  }

  val cusumOracle: String =
    """WITH r AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS rev_e3
      |           FROM events GROUP BY 1, 2),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM r),
      |days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM span),
      |types AS (SELECT DISTINCT event_type FROM r),
      |dense AS (SELECT t.event_type, d.day, COALESCE(r.rev_e3, 0) AS rev_e3
      |          FROM days d CROSS JOIN types t
      |          LEFT JOIN r ON r.event_type = t.event_type AND r.day = d.day),
      |t AS (SELECT event_type, COUNT(*) AS n_days, SUM(rev_e3) AS s_tot
      |      FROM dense GROUP BY 1),
      |c AS (SELECT d.event_type, d.day,
      |             SUM(d.rev_e3) OVER (PARTITION BY d.event_type ORDER BY d.day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
      |             d.day - span.lo + 1 AS t_idx
      |      FROM dense d, span),
      |v AS (SELECT c.event_type, c.day, t.n_days, t.s_tot,
      |             t.n_days * c.prefix - c.t_idx * t.s_tot AS c_scaled
      |      FROM c JOIN t USING (event_type))
      |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
      |       CAST(s_tot AS BIGINT) AS total_e3,
      |       CAST(day AS BIGINT) AS peak_day,
      |       CAST(c_scaled AS BIGINT) AS cusum_peak_scaled
      |FROM v
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
      |                           ORDER BY ABS(c_scaled) DESC, day) = 1
      |ORDER BY event_type""".stripMargin

  /** x174: top user-day event paths — the behavioral-sequence extraction
    * a training-data pipeline runs to turn an event log into sequence
    * examples (and the product question "what do the first four actions
    * of a day look like"). Each (user, day)'s first four events in
    * (event-time µs, event_id) order — the s06 precision discipline —
    * join into a '>'-path; paths aggregate to the top 20 by frequency
    * with a lexicographic tie-break, so the limit is deterministic on
    * both engines. Ordering inside the group is pinned by sorting the
    * collected (rn, type) structs, NOT by assuming collect_list order —
    * collection order after a shuffle is not a contract. Scale shape:
    * one user-day-partitioned window (bounded partitions), one
    * aggregate to ≤|types|⁴ path rows, and a TakeOrdered top-k — no
    * global sort of the fact.
    */
  def topEventPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / 86400000000L).cast("long").as("day"),
        col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("us"), col("event_id"))
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4)
      .groupBy("user_id", "day")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_user_days"))
      .orderBy(col("n_user_days").desc, col("path"))
      .limit(20)
  }

  /** x178: inter-arrival time statistics — the event-cadence profile
    * (how often does a user view / click / purchase) that calibrates
    * x04's 30-minute session gap and s10's silent-gap threshold from the
    * data instead of folklore. Gaps are consecutive same-type same-user
    * deltas in exact epoch-µs (the s06 precision discipline), from a
    * user+type-partitioned lag window — bounded partitions, never a
    * global sort. p50/p90 ride the a04 `percentile ≡ quantile_cont`
    * equivalence with one half-up rounding; the mean is exact
    * `sum DIV count` on nonnegative operands. Output: |types| rows.
    */
  def interArrival(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("us") - col("prev")).as("gap_us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        floor(expr("percentile(gap_us, 0.5)") + 0.5d).cast("long").as("p50_us"),
        floor(expr("percentile(gap_us, 0.9)") + 0.5d).cast("long").as("p90_us"),
        expr("sum(gap_us) DIV count(1)").as("mean_us"))
      .orderBy("event_type")
  }

  val interArrivalOracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |           FROM events),
      |g AS (SELECT event_type,
      |             us - LAG(us) OVER (PARTITION BY user_id, event_type
      |                                ORDER BY us, event_id) AS gap_us
      |      FROM e)
      |SELECT event_type, COUNT(*) AS n_gaps,
      |       CAST(floor(quantile_cont(gap_us, 0.5) + 0.5) AS BIGINT) AS p50_us,
      |       CAST(floor(quantile_cont(gap_us, 0.9) + 0.5) AS BIGINT) AS p90_us,
      |       CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS mean_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val topPathsOracle: String =
    """WITH e AS (SELECT user_id,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  event_type,
      |                  ROW_NUMBER() OVER (
      |                    PARTITION BY user_id, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
      |                    ORDER BY epoch_us(ts), event_id) AS rn
      |           FROM events),
      |p AS (SELECT user_id, day, string_agg(event_type, '>' ORDER BY rn) AS path
      |      FROM e WHERE rn <= 4 GROUP BY 1, 2)
      |SELECT path, COUNT(*) AS n_user_days
      |FROM p GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin

  /** x202: cohort LTV triangle — x94's retention counts upgraded to
    * VALUE: for each signup cohort (week of first activity) and week
    * offset, the purchase revenue that cohort generated, its running
    * cumulative, and cumulative LTV per cohort user — the triangle
    * table every growth model (and LTV forecast) is fit on. Exactness:
    * revenue stays e3 integers; cumulative is a bounded-partition
    * window over offsets (≤ span/7 rows per cohort — metadata); LTV
    * per user is a single nonneg integer DIV. One fact pass to the
    * (user, week) purchase grain + the user-grain cohort map.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000 div 7").as("week"),
        col("event_type"),
        floor(col("value") * 1000d + 0.5d).cast("long").as("v_e3"))
    val cohorts = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "week").agg(sum(col("v_e3")).as("r"))
      .join(cohorts, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("offset"))
      .agg(sum(col("r")).as("rev_e3"))
    rev.withColumn("cum_rev_e3", sum(col("rev_e3")).over(
        Window.partitionBy(col("cohort_week")).orderBy(col("offset"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("offset"), col("rev_e3"),
        col("cum_rev_e3"), col("cohort_users"),
        expr("cum_rev_e3 DIV cohort_users").as("ltv_per_user_e3"))
      .orderBy("cohort_week", "offset")
  }

  val cohortLtvOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 // 7 AS week,
      |                  event_type,
      |                  CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_e3
      |           FROM events),
      |c AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1),
      |sz AS (SELECT cohort_week, COUNT(*) AS cohort_users FROM c GROUP BY 1),
      |r AS (SELECT e.user_id, e.week, SUM(e.v_e3) AS r FROM e
      |      WHERE e.event_type = 'purchase' GROUP BY 1, 2),
      |t AS (SELECT c.cohort_week, r.week - c.cohort_week AS "offset",
      |             SUM(r.r) AS rev_e3
      |      FROM r JOIN c USING (user_id) GROUP BY 1, 2),
      |k AS (SELECT cohort_week, "offset", rev_e3,
      |             SUM(rev_e3) OVER (PARTITION BY cohort_week ORDER BY "offset"
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev_e3
      |      FROM t)
      |SELECT k.cohort_week, k."offset" AS "offset", CAST(k.rev_e3 AS BIGINT) AS rev_e3,
      |       CAST(k.cum_rev_e3 AS BIGINT) AS cum_rev_e3, sz.cohort_users,
      |       CAST(k.cum_rev_e3 // sz.cohort_users AS BIGINT) AS ltv_per_user_e3
      |FROM k JOIN sz USING (cohort_week)
      |ORDER BY cohort_week, "offset"""".stripMargin

  /** x203: growth accounting — the weekly NEW / RETAINED / RESURRECTED /
    * CHURNED decomposition (and its quick ratio) that turns x183's flat
    * active counts into a flow statement: where did this week's actives
    * come from, and who left. Algebra: with cur = active(w) and prv =
    * active(w−1) as presence flags on a FULL-join spine, new = first
    * week, retained = cur∧prv, resurrected = cur∧¬prv∧¬new, churned =
    * prv∧¬cur — the four classes partition the spine, and active(w) −
    * active(w−1) ≡ new + resurrected − churned (the conservation law
    * the spec pins). All exact counts; the trailing week past the last
    * activity carries pure churn — kept, both engines agree. Quick
    * ratio (new+res)/churned is NULL when nobody churned.
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val presence = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000 div 7").as("week"))
      .distinct()
    val firsts = presence.groupBy("user_id").agg(min(col("week")).as("first_week"))
    val cur = presence.select(col("user_id"), col("week"), lit(1L).as("cur"))
    val prv = presence.select(col("user_id"), (col("week") + 1).as("week"),
      lit(1L).as("prv"))
    cur.join(prv, Seq("user_id", "week"), "full")
      .join(firsts, "user_id")
      .select(col("week"),
        coalesce(col("cur"), lit(0L)).as("cur"),
        coalesce(col("prv"), lit(0L)).as("prv"),
        (col("week") === col("first_week")).cast("long").as("is_new"))
      .groupBy("week")
      .agg(sum(col("cur")).as("n_active"),
        sum(col("cur") * col("is_new")).as("n_new"),
        sum(col("cur") * col("prv")).as("n_retained"),
        sum(col("cur") * (lit(1) - col("prv")) * (lit(1) - col("is_new")))
          .as("n_resurrected"),
        sum(col("prv") * (lit(1) - col("cur"))).as("n_churned"))
      .select(col("week"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"),
        when(col("n_churned") > 0,
          floor((col("n_new") + col("n_resurrected")).cast("double")
            / col("n_churned").cast("double") * 10000d + 0.5d).cast("long"))
          .otherwise(lit(null).cast("long")).as("quick_ratio_e4"))
      .orderBy("week")
  }

  val growthAccountingOracle: String =
    """WITH p AS (SELECT DISTINCT user_id,
      |                  epoch_us(ts) // 86400000000 // 7 AS week
      |           FROM events),
      |f AS (SELECT user_id, MIN(week) AS first_week FROM p GROUP BY 1),
      |cur AS (SELECT user_id, week, 1 AS cur FROM p),
      |prv AS (SELECT user_id, week + 1 AS week, 1 AS prv FROM p),
      |j AS (SELECT COALESCE(cur.user_id, prv.user_id) AS user_id,
      |             COALESCE(cur.week, prv.week) AS week,
      |             COALESCE(cur.cur, 0) AS cur, COALESCE(prv.prv, 0) AS prv
      |      FROM cur FULL JOIN prv
      |        ON cur.user_id = prv.user_id AND cur.week = prv.week),
      |g AS (SELECT j.week,
      |             SUM(j.cur) AS n_active,
      |             SUM(j.cur * CASE WHEN j.week = f.first_week THEN 1 ELSE 0 END) AS n_new,
      |             SUM(j.cur * j.prv) AS n_retained,
      |             SUM(j.cur * (1 - j.prv) *
      |                 CASE WHEN j.week = f.first_week THEN 0 ELSE 1 END) AS n_resurrected,
      |             SUM(j.prv * (1 - j.cur)) AS n_churned
      |      FROM j JOIN f USING (user_id) GROUP BY 1)
      |SELECT week, CAST(n_active AS BIGINT) AS n_active,
      |       CAST(n_new AS BIGINT) AS n_new,
      |       CAST(n_retained AS BIGINT) AS n_retained,
      |       CAST(n_resurrected AS BIGINT) AS n_resurrected,
      |       CAST(n_churned AS BIGINT) AS n_churned,
      |       CASE WHEN n_churned > 0
      |            THEN CAST(floor(CAST(n_new + n_resurrected AS DOUBLE)
      |                 / CAST(n_churned AS DOUBLE) * 10000 + 0.5) AS BIGINT)
      |            ELSE NULL END AS quick_ratio_e4
      |FROM g ORDER BY week""".stripMargin

  /** x211: CDC apply with DELETES — the changelog-materialization
    * semantics x145's MERGE (upserts) and x99's SCD2 (full history)
    * both skip: replaying a log where the last record per key decides
    * the row's fate, and a delete marker ('error' here) removes the key
    * from the final state entirely. One max_by aggregate per key under
    * the total (ts, event_id) order — the W1/W2 last-per-group
    * machinery, map-combinable, no window — then the delete filter.
    * This is exactly how a Kafka-compacted topic or a Debezium log
    * lands in a batch table at 100 TB: one pass, key-grain state.
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        floor(col("value") * 10000d + 0.5d).cast("long").as("v_e4"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .groupBy("user_id")
      .agg(max_by(struct(col("event_type"), col("v_e4"), col("ts_us")),
        struct(col("ts_us"), col("event_id"))).as("last"))
      .select(col("user_id"), col("last.event_type").as("last_type"),
        col("last.v_e4").as("value_e4"), col("last.ts_us").as("ts_us"))
      .filter(col("last_type") =!= "error")
      .orderBy("user_id")

  val cdcApplyOracle: String =
    """WITH e AS (SELECT user_id, event_type,
      |                  CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4,
      |                  epoch_us(ts) AS ts_us, event_id,
      |                  ROW_NUMBER() OVER (PARTITION BY user_id
      |                    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |           FROM events)
      |SELECT user_id, event_type AS last_type, v_e4 AS value_e4,
      |       CAST(ts_us AS BIGINT) AS ts_us
      |FROM e WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  /** x212: stream disorder audit — the measurement that SIZES a
    * watermark: for each event in ARRIVAL order (event_id), had any
    * later event time already arrived? Per type: the late-row count,
    * share, and the maximum lateness (exactly the watermark delay that
    * would have kept every row — the s17 tolerance, derived instead of
    * guessed). The running strictly-preceding max over arrival order is
    * the one global scan — [[graft.ops.Ranking.globalCumMaxPrev]], the
    * two-phase bucketed algebra extended to max (associative, so
    * bucket-local prefix maxes + a B-row bucket-prefix frame equal the
    * global scan; current row excluded so an on-time row never flags
    * itself). Everything downstream is exact integer µs.
    */
  def disorderAudit(spark: SparkSession, dir: String): DataFrame =
    disorderOf(Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("ts_us")))

  /** The audit kernel over any (event_id, event_type, ts_us) frame —
    * split out because the driver fixture is PERFECTLY ordered (its
    * audit reading is legitimately all-zero: watermark 0 suffices), so
    * the late path needs the spec's planted out-of-order frame.
    */
  private[graft] def disorderOf(e: DataFrame): DataFrame = {
    graft.ops.Ranking.globalCumMaxPrev(e, col("event_id"), col("event_id"),
        col("ts_us"), "prev_max")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("ts_us") < col("prev_max"), 1L).otherwise(0L)).as("n_late"),
        coalesce(max(when(col("ts_us") < col("prev_max"),
          col("prev_max") - col("ts_us"))), lit(0L)).as("max_late_us"))
      .select(col("event_type"), col("n"), col("n_late"),
        floor(col("n_late").cast("double") / col("n").cast("double")
          * 1000000d + 0.5d).cast("long").as("late_share_e6"),
        col("max_late_us"))
      .orderBy("event_type")
  }

  val disorderAuditOracle: String =
    """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
      |                  MAX(epoch_us(ts)) OVER (ORDER BY event_id
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |                    AS prev_max
      |           FROM events)
      |SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN ts_us < prev_max THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_late,
      |       CAST(floor(CAST(SUM(CASE WHEN ts_us < prev_max THEN 1 ELSE 0 END)
      |              AS DOUBLE) / COUNT(*) * 1000000 + 0.5) AS BIGINT)
      |         AS late_share_e6,
      |       CAST(COALESCE(MAX(CASE WHEN ts_us < prev_max
      |                         THEN prev_max - ts_us END), 0) AS BIGINT)
      |         AS max_late_us
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** x197: lead–lag cross-correlation between the click and purchase
    * daily value series — the leading-indicator audit ("does click
    * volume LEAD purchase volume, and by how many days?") that x172's
    * ACF answers only for a series against itself. Pearson r at every
    * lag ℓ ∈ [−7, 7] between click(day) and purchase(day+ℓ), over the
    * ZERO-FILLED dense grid (a missing day is a real 0 for a volume
    * series, and the dense span makes n(ℓ) = span − |ℓ| deterministic).
    * Exactness: the x172 posture — moment sums in DECIMAL(38,0), one
    * double conversion per factor, sqrt at the end; degenerate lags
    * (zero variance) emit NULL in both engines. Scale: both series come
    * off the Layer-shared [[dailyValueByType]] (no new fact pass); the
    * lag expansion is 15× a metadata-sized frame.
    */
  def crossCorrDaily(spark: SparkSession, dir: String,
                     typeA: String = "click", typeB: String = "purchase",
                     maxLag: Int = 7): DataFrame = {
    val d38: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _.cast("decimal(38,0)")
    val dense = denseDailyRevenue(spark, dir)
    val a = dense.filter(col("event_type") === typeA)
      .select(col("day"), col("rev_e3").as("x"),
        explode(sequence(lit(-maxLag.toLong), lit(maxLag.toLong))).as("lag"))
      .withColumn("tday", col("day") + col("lag"))
    val b = dense.filter(col("event_type") === typeB)
      .select(col("day").as("bday"), col("rev_e3").as("y"))
    a.join(b, col("tday") === col("bday"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d38(col("x")) * d38(col("y"))).as("sxy"),
        sum(d38(col("x")) * d38(col("x"))).as("sxx"),
        sum(d38(col("y")) * d38(col("y"))).as("syy"))
      .select(col("lag"), col("n_days"),
        (d38(col("n_days")) * col("sxy") - d38(col("sx")) * d38(col("sy")))
          .cast("double").as("a"),
        (d38(col("n_days")) * col("sxx") - d38(col("sx")) * d38(col("sx")))
          .cast("double").as("b"),
        (d38(col("n_days")) * col("syy") - d38(col("sy")) * d38(col("sy")))
          .cast("double").as("c"))
      .select(col("lag"), col("n_days"),
        when(col("b") > 0d && col("c") > 0d,
          floor(col("a") / sqrt(col("b") * col("c")) * 1000000d + 0.5d).cast("long"))
          .otherwise(lit(null).cast("long")).as("r_e6"))
      .orderBy("lag")
  }

  val crossCorrOracle: String =
    """WITH r AS (SELECT event_type,
      |                  CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
      |                  SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS rev_e3
      |           FROM events WHERE event_type IN ('click', 'purchase')
      |           GROUP BY 1, 2),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi
      |         FROM (SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
      |               FROM events)),
      |days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM span),
      |ca AS (SELECT d.day, COALESCE(r.rev_e3, 0) AS x FROM days d
      |       LEFT JOIN r ON r.event_type = 'click' AND r.day = d.day),
      |cb AS (SELECT d.day, COALESCE(r.rev_e3, 0) AS y FROM days d
      |       LEFT JOIN r ON r.event_type = 'purchase' AND r.day = d.day),
      |lags AS (SELECT unnest(generate_series(-7, 7)) AS lag),
      |p AS (SELECT l.lag, a.x, b.y
      |      FROM ca a CROSS JOIN lags l
      |      JOIN cb b ON b.day = a.day + l.lag),
      |s AS (SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
      |      FROM p GROUP BY 1),
      |m AS (SELECT lag, n,
      |             CAST(n*sxy - sx*sy AS DOUBLE) AS a,
      |             CAST(n*sxx - sx*sx AS DOUBLE) AS b,
      |             CAST(n*syy - sy*sy AS DOUBLE) AS c FROM s)
      |SELECT CAST(lag AS BIGINT) AS lag, n AS n_days,
      |       CASE WHEN b > 0 AND c > 0
      |            THEN CAST(floor(a / sqrt(b * c) * 1000000 + 0.5) AS BIGINT)
      |            ELSE NULL END AS r_e6
      |FROM m ORDER BY 1""".stripMargin
}
