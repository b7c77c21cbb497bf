package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic, content-addressed sampling and splitting — the
  * training-data-pipeline replacements for `randomSplit`/`sample`
  * (reference F.py:229's seeded randomSplit is the operator being
  * re-expressed; see ml/ReorderModel for the parity version).
  *
  * Spark's `randomSplit`/`sample` draw from a per-partition RNG stream, so
  * membership depends on partition layout: a repartition, a retry, AQE, or
  * a scale-up silently reassigns rows between train and test. At 100 TB a
  * corpus snapshot must be REPRODUCIBLE: membership derives from the row's
  * key alone via a hash, never from physical layout. md5 (not xxhash64) so
  * the DuckDB oracle can mirror the arithmetic bit-for-bit — both x70/x71
  * are on the hash-checked path, which no RNG-based sampler can be.
  *
  * The hash is also the incremental-pipeline contract: a document sampled
  * in today's run stays sampled when the corpus doubles tomorrow —
  * Bernoulli-by-content, the property dataset versioning relies on.
  */
object Sampling {

  /** Uniform bucket in [0, 10000): first 32 bits of md5(key ":" seed),
    * parsed from hex. One codegen'd expression chain — no UDF, no shuffle.
    */
  def bucket10k(key: Column, seed: Int): Column =
    conv(substring(md5(concat(key.cast("string"), lit(s":$seed"))), 1, 8), 16, 10)
      .cast("long") % 10000L

  /** Deterministic train/test split: trainBp basis points (0–10000) go to
    * "train", the rest to "test". The scale-safe randomSplit.
    */
  def hashSplit(df: DataFrame, key: String, trainBp: Int, seed: Int): DataFrame =
    df.withColumn("split",
      when(bucket10k(col(key), seed) < trainBp, lit("train")).otherwise(lit("test")))

  /** Deterministic stratified sample: per-stratum keep rates in basis
    * points (e.g. lang → bp), defaultBp for unlisted strata. The
    * reproducible `df.stat.sampleBy`; thresholds compile to one CASE
    * expression against the shared hash bucket — still no shuffle.
    */
  def stratifiedSample(df: DataFrame, key: String, stratum: String,
                       bp: Map[String, Int], defaultBp: Int, seed: Int): DataFrame = {
    val threshold = bp.foldLeft(lit(defaultBp.toLong)) { case (acc, (v, b)) =>
      when(col(stratum) === v, lit(b.toLong)).otherwise(acc)
    }
    df.filter(bucket10k(col(key), seed) < threshold)
  }

  /** x70: row-level split assignment over documents — every doc_id's
    * train/test membership is hash-compared against DuckDB.
    */
  def docSplit(spark: SparkSession, dir: String): DataFrame =
    hashSplit(Tables.documents(spark, dir), "doc_id", trainBp = 8000, seed = 42)
      .select("doc_id", "split")
      .orderBy("doc_id")

  /** x71: stratified sample by lang (en 50%, de 25%, fr 10%, others 5%). */
  def docStratified(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir), "doc_id", "lang",
      Map("en" -> 5000, "de" -> 2500, "fr" -> 1000), defaultBp = 500, seed = 7)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Temperature-based data-mixture reweighting — the standard LLM-corpus
    * step that flattens a skewed domain distribution toward uniform before
    * training (keep rate ∝ (1 / domain share)^α at α = ½, capped at 1).
    * Rates are computed in integer BASIS POINTS from count aggregates
    * only — the one float op is sqrt of a ratio of exact integers, an
    * identical correctly-rounded IEEE op on both engines, then
    * floor(·10⁴) — so per-row membership (the shared md5 bucket vs the
    * domain's rate) stays hash-checkable like x70/x71. Scale shape: the
    * domain stats are |domains| rows (broadcast), the corpus is filtered
    * in one pass with no extra shuffle.
    */
  def temperatureMix(df: DataFrame, key: String, domain: String, seed: Int): DataFrame = {
    val stats = df.groupBy(domain).agg(count(lit(1)).as("n_d"))
    val tot = df.agg(count(lit(1)).as("n_total"),
      countDistinct(col(domain)).as("n_domains"))
    val rateBp = least(lit(10000L),
      floor(sqrt(col("n_total").cast("double") / (col("n_domains") * col("n_d"))) * 10000d)
        .cast("long"))
    df.join(broadcast(stats), domain)
      .crossJoin(broadcast(tot))
      .withColumn("rate_bp", rateBp)
      .filter(bucket10k(col(key), seed) < col("rate_bp"))
  }

  /** x81: mixture-flattening sample over documents. The real `source`
    * column is uniform by construction, so a skewed 70/20/10 pseudo-domain
    * is carved deterministically from doc_id (the x61/x62 pattern) and
    * mirrored in the oracle; the flattening then downsamples only the
    * majority domain (rate √(1/(3·0.7)) ≈ 0.69) and keeps the minority
    * domains whole (capped at 1).
    */
  def docSourceMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(
      Tables.documents(spark, dir).withColumn("domain",
        when(col("doc_id") % 10 < 7, lit("web"))
          .when(col("doc_id") % 10 < 9, lit("books"))
          .otherwise(lit("code"))),
      "doc_id", "domain", seed = 11)
      .select("doc_id", "domain", "rate_bp")
      .orderBy("doc_id")

  /** Per-domain hard cap — keep at most `k` rows per domain, chosen by the
    * content-addressed priority hash (lowest bucket wins, key tie-break).
    * The web-pipeline "max N pages per host" rule: a Bernoulli rate
    * ([[temperatureMix]]) bounds the EXPECTED share of a domain, but a
    * crawler trap or spam flood from one host needs a worst-case bound —
    * the cap guarantees it, and the hash priority keeps the surviving k
    * stable under corpus growth (a kept page is only ever evicted by a
    * lower-hash page, never by layout).
    *
    * Scale shape: the rank filter compiles to WindowGroupLimit — every map
    * task truncates to its local top-k per domain BEFORE the exchange, so
    * at most k·|domains| rows per task shuffle regardless of flood size;
    * the flood is absorbed map-side exactly like a partial aggregate.
    */
  def domainCap(df: DataFrame, key: String, domain: String, k: Int, seed: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domain))
      .orderBy(bucket10k(col(key), seed), col(key))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  /** x102: at most 10 documents per source (the sf-scaled stand-in for the
    * per-host cap; sources hold ~25 docs at sf0.001, so the cap bites).
    */
  def docSourceCap(spark: SparkSession, dir: String): DataFrame =
    domainCap(Tables.documents(spark, dir), "doc_id", "source", k = 10, seed = 13)
      .select("doc_id", "source")
      .orderBy("doc_id")

  val capOracle: String =
    s"""SELECT doc_id, source FROM (
       |  SELECT doc_id, source,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY ${bucketSql("doc_id", 13)}, doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= 10 ORDER BY doc_id""".stripMargin

  val mixOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 10 < 7 THEN 'web'
       |              WHEN doc_id % 10 < 9 THEN 'books'
       |              ELSE 'code' END AS domain
       |  FROM documents),
       |s AS (SELECT domain, COUNT(*) AS n_d FROM d GROUP BY 1),
       |t AS (SELECT COUNT(*) AS n_total, COUNT(DISTINCT domain) AS n_domains FROM d),
       |r AS (
       |  SELECT d.doc_id, d.domain,
       |         LEAST(10000, CAST(floor(sqrt(CAST(n_total AS DOUBLE) /
       |                (n_domains * n_d)) * 10000) AS BIGINT)) AS rate_bp
       |  FROM d JOIN s USING (domain) CROSS JOIN t)
       |SELECT doc_id, domain, rate_bp FROM r
       |WHERE ${bucketSql("doc_id", 11)} < rate_bp
       |ORDER BY doc_id""".stripMargin

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-ES): each row draws u from the content-addressed bucket
    * (shifted to the bucket center so u ∈ (0,1) exactly, never 0) and
    * keeps key = ln(u)/w — the exponential-race trick, so the top-n keys
    * are a weight-proportional sample. Exactly n rows, probability ∝ w,
    * and membership is a pure function of (key column, seed) like every
    * sampler here — no RNG stream, no layout dependence.
    *
    * Exactness discipline: u = (2·bucket+1)/20000 is one double division
    * with identical operand order on both engines; ln(u)/w is floored to
    * integer MICRO-nats and ties break on the key column, so the top-n
    * frontier is hash-checkable (x85's milli-nat posture, three decimal
    * places tighter because keys order the output rather than summing).
    *
    * Scale shape: one projection + TakeOrdered(n) — every partition
    * keeps its local n candidates, only n·partitions rows reach the
    * driver-side heap merge, NOTHING shuffles. The reservoir-sampling
    * replacement for "ORDER BY random() LIMIT n" (a global sort) and for
    * weighted df.sample (layout-dependent).
    */
  def weightedSample(df: DataFrame, key: String, weight: Column,
                     n: Int, seed: Int): DataFrame =
    df.withColumn("w", weight.cast("long"))
      .withColumn("key_micro",
        floor(log((bucket10k(col(key), seed) * 2L + 1L) / 20000d) / col("w") * 1e6d)
          .cast("long"))
      .orderBy(col("key_micro").desc, col(key))
      .limit(n)

  /** x109: 50 documents sampled ∝ token count, reproducibly. */
  def docWeightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSample(Tables.documents(spark, dir), "doc_id",
      size(split(col("text"), " ")).cast("long"), n = 50, seed = 31)
      .select(col("doc_id"), col("w").as("n_tokens"), col("key_micro"))
      .orderBy(col("key_micro").desc, col("doc_id"))

  /** x179: effective sample size of the x109/x141 importance weights —
    * Kish's ESS = (Σw)²/Σw², the one-number diagnostic that says how many
    * docs a weighted mix is REALLY worth (ESS ≪ n means a few giant
    * documents dominate the draw and the x141 multinomial will mostly
    * resample them; run this BEFORE committing a weighted epoch). One
    * map-combinable aggregate over the same token-count weight the
    * samplers use; Σw² widens per-row squares to DECIMAL(38,0) (the a34
    * bound: w² ~ 10¹² per row already at modest token counts). ESS and
    * ESS/n convert the exact sums to double once each, pinned order,
    * rounded once to their grids. Output: one row at any SF.
    */
  def weightEss(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    Tables.documents(spark, dir)
      .select(size(split(col("text"), " ")).cast("long").as("w"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sum_w"),
        sum(d38(col("w") * col("w"))).as("sum_w2"))
      .select(col("n_docs"), col("sum_w"), col("sum_w2").cast("long").as("sum_w2"),
        floor(col("sum_w").cast("double") * col("sum_w").cast("double")
          / col("sum_w2").cast("double") * 1000d + 0.5d).cast("long").as("ess_e3"),
        floor(col("sum_w").cast("double") * col("sum_w").cast("double")
          / col("sum_w2").cast("double") / col("n_docs").cast("double")
          * 1000000d + 0.5d).cast("long").as("ess_ratio_e6"))
  }

  val weightEssOracle: String =
    """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS w
      |           FROM documents)
      |SELECT COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS sum_w,
      |       CAST(SUM(w * w) AS BIGINT) AS sum_w2,
      |       CAST(floor(CAST(SUM(w) AS DOUBLE) * CAST(SUM(w) AS DOUBLE)
      |            / CAST(SUM(w * w) AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS ess_e3,
      |       CAST(floor(CAST(SUM(w) AS DOUBLE) * CAST(SUM(w) AS DOUBLE)
      |            / CAST(SUM(w * w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |            * 1000000 + 0.5) AS BIGINT) AS ess_ratio_e6
      |FROM d""".stripMargin

  val weightedSampleOracle: String =
    s"""WITH d AS (SELECT doc_id,
       |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS w
       |           FROM documents),
       |k AS (SELECT doc_id, w,
       |             CAST(floor(ln((${bucketSql("doc_id", 31)} * 2 + 1) / 20000.0)
       |                        / w * 1000000) AS BIGINT) AS key_micro
       |      FROM d)
       |SELECT doc_id, w AS n_tokens, key_micro FROM k
       |ORDER BY key_micro DESC, doc_id LIMIT 50""".stripMargin

  /** x274: PER-STRATUM weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis A-ES) — the curation quota the sampler family
    * lacked: x109 draws one GLOBAL weighted sample, x141 draws WITH
    * replacement, x102 caps per domain UNIFORMLY; "k docs per source,
    * ∝ token count, no repeats" is the shape an LLM data mix actually
    * ships. A-ES keys each row by u^(1/w) and keeps the per-stratum
    * top-k; ranking by ln(u)/w is the same total order with NO pow call
    * (ln is the one transcendental — the measured x170 discipline — and
    * the quotient floors ONCE to an e15 integer, so the comparator both
    * engines sort on is exact).
    *
    * The per-stratum quota is the `row_number() ≤ k` window idiom: k
    * reaches the plan as a literal, so Spark 4's InferWindowGroupLimit
    * plans WindowGroupLimit(Partial) below the exchange and at most k
    * rows per (source, input partition) ship — at 100 TB the sample
    * leaves each executor quota-sized, never corpus-sized.
    * u = (md5 48-bit + 1)/2⁴⁸ ∈ (0, 1] — never 0, so ln is finite;
    * w ≥ 1 tokens.
    */
  def stratifiedAes(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":aes"))), 1, 12), 16, 10).cast("long") + lit(1L)).cast("double") /
      lit(281474976710656.0d)
    val keyed = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"))
      .withColumn("key_e15",
        floor(log(u) / col("w").cast("double") * lit(1e15d)).cast("long"))
    keyed.withColumn("rnk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("key_e15").desc, col("doc_id"))))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("doc_id"), col("w"), col("key_e15"))
      .orderBy(col("source"), col("rnk"))
  }

  val stratifiedAesOracle: String =
    """WITH d AS (SELECT source, doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS w
      |           FROM documents),
      |u AS (SELECT source, doc_id, w,
      |             CAST(floor(ln(CAST(('0x' || substr(md5(doc_id || ':aes'), 1, 12))::BIGINT
      |                    + 1 AS DOUBLE) / 281474976710656.0)
      |               / CAST(w AS DOUBLE) * 1e15) AS BIGINT) AS key_e15
      |      FROM d),
      |r AS (SELECT source, doc_id, w, key_e15,
      |             CAST(ROW_NUMBER() OVER (PARTITION BY source
      |               ORDER BY key_e15 DESC, doc_id) AS INTEGER) AS rnk
      |      FROM u)
      |SELECT source, rnk, doc_id, w, key_e15 FROM r
      |WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin

  /** x141: weighted sampling WITH replacement — the multinomial draw
    * [[weightedSample]]'s A-ES cannot express (A-ES is without
    * replacement; an epoch-mixing pipeline drawing documents ∝ weight
    * needs the same document to be drawable k times). Distributed
    * inverse-CDF: the exact global running weight total
    * ([[Ranking.globalCumSum]] — bucketed two-phase, no single-task
    * window) turns each document into the interval [cum−w, cum); k
    * content-addressed positions uₖ = md5-hash(k) mod W (W a one-row
    * broadcast) each select the one document whose interval contains
    * them. The k-row draw frame broadcasts against the fact, so
    * selection is ONE map-side interval test per (row, draw) — no
    * shuffle of the corpus; at k beyond broadcast scale the interval
    * test becomes the [[RangeJoin]] bucket pattern. Fully deterministic
    * both engines (md5 positions, integer arithmetic).
    */
  def weightedWithReplacement(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("w"))
    val withCum = graft.ops.Ranking.globalCumSum(
      d, col("doc_id"), col("doc_id"), col("w"), "cum")
    val tot = d.agg(sum(col("w")).cast("long").as("total_w"))
    val draws = spark.range(k).toDF("i")
      .crossJoin(broadcast(tot))
      .select(col("i"),
        pmod(conv(substring(md5(concat(lit("wr:"), col("i").cast("string"))), 1, 8), 16, 10)
          .cast("long"), col("total_w")).as("p"))
    withCum.join(broadcast(draws),
        col("p") >= col("cum") - col("w") && col("p") < col("cum"))
      .select(col("i").as("draw_i"), col("doc_id"), col("w").as("n_tokens"))
      .orderBy("draw_i")
  }

  val withReplacementOracle: String =
    """WITH d AS (SELECT doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS w
      |           FROM documents),
      |c AS (SELECT doc_id, w,
      |             CAST(SUM(w) OVER (ORDER BY doc_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |      FROM d),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM d),
      |draws AS (SELECT i.range AS i,
      |                 (('0x' || substr(md5('wr:' || i.range), 1, 8))::BIGINT % total_w) AS p
      |          FROM range(0, 50) i, tot)
      |SELECT draws.i AS draw_i, c.doc_id, c.w AS n_tokens
      |FROM draws JOIN c ON draws.p >= c.cum - c.w AND draws.p < c.cum
      |ORDER BY draw_i""".stripMargin

  /** Leakage-safe train/test split — the group-aware refinement of
    * [[hashSplit]] a pretraining pipeline actually needs: two
    * near-duplicate documents on opposite sides of the boundary leak the
    * test set into training, so split membership must be decided per
    * NEAR-DUP CLUSTER, never per document. The group key is the cluster
    * representative from the connected components over the ≥ minJaccard
    * shingle-overlap pair graph ([[graft.ext.Dedup.dupClusters]], the x63
    * machinery — Layer-memoized, so the CC iteration is shared, not
    * re-run) for clustered docs and the doc's own id for singletons; the
    * content-addressed bucket is then taken on the group key, making
    * same-cluster ⇒ same-split a construction invariant, not a hope.
    *
    * Scale shape: the cluster frame holds only docs that appear in some
    * near-dup pair (on a dup-heavy web corpus that can be a large
    * fraction, so the join is UNHINTED — AQE broadcasts when small, falls
    * back to an id-keyed shuffle join when not); the split itself stays a
    * pure projection exactly as [[hashSplit]].
    */
  def leakSafeSplit(spark: SparkSession, dir: String,
                    trainBp: Int = 8000, seed: Int = 23): DataFrame = {
    val clusters = graft.ext.Dedup.dupClusters(spark, dir)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left_outer")
      .withColumn("group_key", coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("split",
        when(bucket10k(col("group_key"), seed) < trainBp, lit("train"))
          .otherwise(lit("test")))
      .select("doc_id", "group_key", "split")
      .orderBy("doc_id")
  }

  val leakSplitOracle: String =
    graft.ext.Dedup.ccOracleCtes +
      s"""
         |SELECT d.doc_id,
         |       COALESCE(cl.cluster_rep, d.doc_id) AS group_key,
         |       CASE WHEN ${bucketSql("COALESCE(cl.cluster_rep, d.doc_id)", 23)} < 8000
         |            THEN 'train' ELSE 'test' END AS split
         |FROM documents d LEFT JOIN cl USING (doc_id)
         |ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[bucket10k]]: '0x'-prefixed hex cast == Spark's
    * conv(hex, 16, 10).
    */
  private[ops] def bucketSql(key: String, seed: Int): String =
    s"(('0x' || substr(md5($key || ':$seed'), 1, 8))::BIGINT % 10000)"

  val splitOracle: String =
    s"""SELECT doc_id,
       |       CASE WHEN ${bucketSql("doc_id", 42)} < 8000
       |            THEN 'train' ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin

  val stratifiedOracle: String =
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${bucketSql("doc_id", 7)} <
       |      CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
       |                WHEN 'fr' THEN 1000 ELSE 500 END
       |ORDER BY doc_id""".stripMargin

  /** x129: Poissonized bootstrap — distributed uncertainty quantification
    * for a corpus statistic (mean tokens per doc here): R replicas, each
    * giving every document an independent Poisson(1) multiplicity, so a
    * replica is a with-replacement resample without any coordination —
    * each (doc, replica) cell draws its multiplicity from the
    * content-addressed md5 bucket against the Poisson(1) CDF in e4 basis
    * points (P(0)=.3679, ≤1=.7358, ≤2=.9197, ≤3=.9810, else 4 — capped,
    * the tail beyond 4 is 0.37%). Deterministic, layout-free, and
    * embarrassingly parallel: the plan is one explode(sequence(1, R))
    * projection and one (replica)-keyed aggregate; nothing resembles the
    * driver-side loop a naive bootstrap runs. Per replica: effective
    * sample size and the weighted mean in e4 integers.
    */
  def bootstrapMeans(spark: SparkSession, dir: String, replicas: Int = 32): DataFrame = {
    val m = {
      val u = bucket10k(concat(col("doc_id").cast("string"), lit("#"),
        col("replica").cast("string")), seed = 77)
      when(u < 3679L, 0L).when(u < 7358L, 1L).when(u < 9197L, 2L)
        .when(u < 9810L, 3L).otherwise(4L)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nt"))
      .select(col("doc_id"), col("nt"),
        explode(sequence(lit(1L), lit(replicas.toLong))).as("replica"))
      .withColumn("m", m)
      .groupBy("replica")
      .agg(sum(col("m")).as("n_eff"),
        expr("(10000 * sum(m * nt)) DIV sum(m)").as("mean_tokens_e4"))
      .orderBy("replica")
  }

  val bootstrapOracle: String =
    """WITH d AS (SELECT doc_id,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |           FROM documents),
      |cells AS (SELECT d.doc_id, d.nt, r.range AS replica,
      |                 (('0x' || substr(md5(d.doc_id || '#' || r.range || ':77'), 1, 8))::BIGINT
      |                  % 10000) AS u
      |          FROM d, range(1, 33) r),
      |w AS (SELECT replica, nt,
      |             CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
      |                  WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3
      |                  ELSE 4 END AS m
      |      FROM cells)
      |SELECT CAST(replica AS BIGINT) AS replica,
      |       CAST(SUM(m) AS BIGINT) AS n_eff,
      |       CAST((10000 * SUM(m * nt)) // SUM(m) AS BIGINT) AS mean_tokens_e4
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** x116: token-budget curriculum selection — fill 60% of the corpus's
    * token budget with documents in curriculum order (shortest-first here;
    * any deterministic score works), the "cut the training run at N
    * tokens" op. The running total comes from
    * [[Ranking.globalCumSum]] — value-bucketed two-phase prefix sums, so
    * the fact NEVER crosses a single-task global window; the corpus total
    * is a one-row broadcast and the budget test `cum·10 ≤ total·6` stays
    * in BIGINTs. Inclusive cum semantics: the document that would cross
    * the budget is the first one excluded.
    */
  def tokenBudgetCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val cum = graft.ops.Ranking.globalCumSum(
      d, col("n_chars"), col("doc_id"), col("n_tokens"), "cum_tokens")
    val total = d.agg(sum(col("n_tokens")).as("t_total"))
    cum.crossJoin(broadcast(total))
      .filter(col("cum_tokens") * 10L <= col("t_total") * 6L)
      .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** x122: per-source budget cut — x116's curriculum fill applied INSIDE
    * each source (every corpus keeps its own shortest-first half, by
    * tokens), the grouped variant a mixing pipeline runs so no source is
    * globally crowded out. Here the source IS the partition key, so the
    * idiomatic plan is a partitioned window — and both the running total
    * and the per-source total ride ONE source-keyed exchange (same
    * partitioning and ordering, frames widened per function — the x115
    * fusion discipline). All BIGINT; the cut is `cum·2 ≤ total`.
    */
  def sourceBudgetCut(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val cumW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(cumW))
      .withColumn("tot", sum(col("n_tokens")).over(totW))
      .filter(col("cum_tokens") * 2L <= col("tot"))
      .select("doc_id", "source", "n_tokens", "cum_tokens")
      .orderBy("doc_id")
  }

  val sourceBudgetOracle: String =
    """WITH d AS (SELECT doc_id, source, n_chars,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |           FROM documents),
      |c AS (SELECT doc_id, source, n_tokens,
      |             SUM(n_tokens) OVER (PARTITION BY source ORDER BY n_chars, doc_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
      |             SUM(n_tokens) OVER (PARTITION BY source) AS tot
      |      FROM d)
      |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM c WHERE cum_tokens * 2 <= tot
      |ORDER BY doc_id""".stripMargin

  val tokenBudgetOracle: String =
    """WITH d AS (SELECT doc_id, n_chars,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |           FROM documents),
      |c AS (SELECT doc_id, n_chars, n_tokens,
      |             SUM(n_tokens) OVER (ORDER BY n_chars, doc_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |      FROM d),
      |t AS (SELECT SUM(n_tokens) AS t_total FROM d)
      |SELECT doc_id, n_chars, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM c, t WHERE cum_tokens * 10 <= t_total * 6
      |ORDER BY doc_id""".stripMargin

  /** x165: purged temporal split with an embargo window — the time-series
    * discipline x104's hash split deliberately ignores (hash splits are
    * correct when rows are exchangeable; for temporally-autocorrelated
    * data they leak the future into training). The last 20 % of the
    * order-date SPAN is test, the 7 days immediately before the test
    * boundary are PURGED (dropped from both sides — the López de Prado
    * embargo that stops boundary-straddling correlation from leaking),
    * and everything earlier is train. The cut is pure integer arithmetic
    * on epoch days — `lo + (span · 8) DIV 10` — derived from a one-row
    * broadcast span frame, so membership is a reproducible function of
    * the row's own timestamp: re-runs, repartitions, and scale-ups
    * cannot move a row across the boundary (the same determinism
    * contract as the hash samplers, from the clock instead of a hash).
    * Scale shape: one fact-sized projection joined to a broadcast
    * scalar; no shuffle beyond the ORDER BY that exists for the oracle.
    */
  def purgedTemporalSplit(spark: SparkSession, dir: String,
                          embargoDays: Int = 7): DataFrame = {
    val days = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        floor(unix_micros(col("o_orderdate")) / 86400000000L).cast("long").as("day"))
    val span = days.agg(min("day").as("lo"), max("day").as("hi"))
      .select(expr("lo + ((hi - lo) * 8) DIV 10").as("cut"))
    days.crossJoin(broadcast(span))
      .select(col("o_orderkey"), col("day"),
        when(col("day") >= col("cut"), lit("test"))
          .when(col("day") < col("cut") - embargoDays, lit("train"))
          .otherwise(lit("purged")).as("split"))
      .orderBy("o_orderkey")
  }

  val purgedSplitOracle: String =
    """WITH d AS (SELECT o_orderkey,
      |                  CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day
      |           FROM orders),
      |s AS (SELECT MIN(day) + ((MAX(day) - MIN(day)) * 8) // 10 AS cut FROM d)
      |SELECT o_orderkey, day,
      |       CASE WHEN day >= cut THEN 'test'
      |            WHEN day < cut - 7 THEN 'train'
      |            ELSE 'purged' END AS split
      |FROM d, s ORDER BY o_orderkey""".stripMargin

  /** x225: Neyman-allocation stratified sampler — the survey-statistics
    * optimum [[stratifiedSample]] ignores: for a fixed budget n, the
    * variance-minimizing allocation draws n_h ∝ N_h·σ_h from stratum h
    * (Neyman 1934), oversampling strata that are big AND internally
    * variable instead of proportionally. For a 100 TB corpus audit this is
    * the difference between wasting budget on a huge-but-uniform `web`
    * stratum and actually pinning down the heterogeneous ones.
    *
    * Exactness: per stratum the moments (N_h, Σx, Σx²) of the token count
    * are exact integers (Σx² in DECIMAL(38,0) / HUGEINT), and the key
    * identity N_h·σ_h = √(N_h·Σx² − (Σx)²) needs ONE sqrt on that exact
    * integer — quantized immediately to e3 so the cross-stratum total is
    * an exact BIGINT sum. The half-up division n·w/tot rounds via the
    * pinned double expression floor((2n·w + tot)/(2·tot)) — spelled
    * identically in the oracle so it is cross-engine deterministic at ANY
    * magnitude (exact rationals would overflow BIGINT near w ~ 5e15; the
    * double form trades ULP-exactness at that extreme for a formula with
    * no overflow cliff). Allocations are capped at N_h (single-pass cap,
    * no iterative reallocation — documented contract, mirrored in SQL).
    * The budget itself is data-derived (40% of the corpus, an exact
    * integer DIV) so the allocation genuinely bites at every SF; a
    * production run would pass a constant budget instead.
    *
    * The realized sample is the [[domainCap]] machinery with a PER-STRATUM
    * limit: rank by the content-addressed md5 priority (lowest bucket
    * wins, doc_id tie-break), pre-truncate at the constant budget n — that
    * filter compiles to WindowGroupLimit, so every map task truncates to
    * its local top-n per stratum BEFORE the exchange — then apply the
    * variable alloc_h bound from the broadcast allocation table. A kept
    * doc is only ever evicted by a lower-hash doc, never by layout.
    */
  def neymanSample(spark: SparkSession, dir: String, capPerStratum: Int = 1000,
                   seed: Int = 29): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val strata = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("s1"),
        sum(d38(col("n_tok")) * col("n_tok")).as("s2"))
      .select(col("source"), col("n_docs"),
        floor(sqrt((d38(col("n_docs")) * col("s2") -
          d38(col("s1")) * col("s1")).cast("double")) * 1000d + 0.5d)
          .cast("long").as("w_e3"))
    // budget = 40% of the corpus (data-derived so the allocation BITES at
    // every SF), plus the constant per-stratum engineering ceiling that
    // keeps the rank pre-truncation a compile-time WindowGroupLimit
    val tot = strata.agg(sum(col("w_e3")).as("tot"),
      expr("(2 * sum(n_docs)) DIV 5").as("n_b"))
    val alloc = strata.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        least(least(
          floor(((lit(2.0d) * col("n_b")) * col("w_e3") + col("tot")) /
            (lit(2.0d) * col("tot"))).cast("long"),
          col("n_docs")), lit(capPerStratum.toLong)).as("alloc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(bucket10k(col("doc_id"), seed), col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= capPerStratum) // constant bound -> WindowGroupLimit
      .join(broadcast(alloc), "source")
      .filter(col("rn") <= col("alloc"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("alloc"))
      .orderBy("doc_id")
  }

  def docNeymanSample(spark: SparkSession, dir: String): DataFrame =
    neymanSample(spark, dir)

  val neymanOracle: String =
    s"""WITH d AS (SELECT doc_id, source,
       |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |           FROM documents),
       |st AS (SELECT source, COUNT(*) AS n_docs,
       |              CAST(SUM(n_tok) AS HUGEINT) AS s1,
       |              SUM(CAST(n_tok AS HUGEINT) * n_tok) AS s2
       |       FROM d GROUP BY 1),
       |wt AS (SELECT source, n_docs,
       |              CAST(floor(sqrt(CAST(CAST(n_docs AS HUGEINT) * s2 - s1 * s1
       |                AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS w_e3
       |       FROM st),
       |t AS (SELECT CAST(SUM(w_e3) AS BIGINT) AS tot,
       |             CAST((2 * SUM(n_docs)) // 5 AS BIGINT) AS n_b FROM wt),
       |al AS (SELECT source, n_docs,
       |              LEAST(LEAST(
       |                CAST(floor(((2.0 * n_b) * w_e3 + tot) / (2.0 * tot))
       |                  AS BIGINT), n_docs), 1000) AS alloc
       |       FROM wt, t),
       |rk AS (SELECT doc_id, source, n_tok,
       |              row_number() OVER (PARTITION BY source
       |                ORDER BY ${bucketSql("doc_id", 29)}, doc_id) AS rn
       |       FROM d)
       |SELECT rk.doc_id, rk.source, rk.n_tok, al.alloc
       |FROM rk JOIN al USING (source)
       |WHERE rk.rn <= al.alloc
       |ORDER BY rk.doc_id""".stripMargin

  /** x230: IPF raking (iterative proportional fitting — Deming & Stephan
    * 1940): reweight the corpus's (lang × length-bucket) cells so the lang
    * margin becomes UNIFORM while the length margin keeps its observed
    * totals — the survey-weighting / training-mix-rebalancing primitive
    * (x81 reports the mix, x122 cuts to a budget; this finds the
    * per-cell multipliers a sampler like x109/x225 would then realize).
    * 25 sweeps of (row scale, column scale) from w⁰ = n.
    *
    * Exactness: the corpus reduces to the ≤|langs|·|buckets| cell table
    * in ONE aggregate; the iteration is driver-side on that
    * aggregate-sized grid (the k-means/eigen/x229 boundary) with
    * ascending-cell left-fold margin sums and the scale factor spelled
    * `w·(target/margin)` — the DuckDB oracle replays all 25 sweeps with
    * the same list folds (zeros for other-row cells are exact double
    * identities), so the e6 masses and e9 multipliers hash-match. Both
    * targets are single exact-integer divisions; nothing else enters as
    * a float. At 100 TB only the first aggregate touches the fact table.
    */
  def ipfRake(spark: SparkSession, dir: String, sweeps: Int = 25): DataFrame = {
    import spark.implicits._
    val cells = Tables.documents(spark, dir)
      .groupBy(col("lang"),
        when(col("n_chars") < 200L, lit("short"))
          .when(col("n_chars") < 800L, lit("mid"))
          .otherwise(lit("long")).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(c => (c._1, c._2))                 // ≤ langs·buckets — driver grid
    val m = cells.length
    val langs = cells.map(_._1).distinct.sorted
    val buckets = cells.map(_._2).distinct.sorted
    val rid = cells.map(c => langs.indexOf(c._1))
    val cid = cells.map(c => buckets.indexOf(c._2))
    val nAll = cells.map(_._3).sum
    val trEach = nAll.toDouble / langs.length.toDouble
    val tc = buckets.map(b => cells.filter(_._2 == b).map(_._3).sum.toDouble)
    def margin(w: Array[Double], ids: Array[Int], of: Int): Double = {
      var s = 0.0
      var d = 0
      while (d < m) { s = s + (if (ids(d) == of) w(d) else 0.0); d += 1 }
      s
    }
    var w = cells.map(_._3.toDouble)
    (0 until sweeps).foreach { _ =>
      val w1 = Array.tabulate(m)(c => w(c) * (trEach / margin(w, rid, rid(c))))
      w = Array.tabulate(m)(c => w1(c) * (tc(cid(c)) / margin(w1, cid, cid(c))))
    }
    cells.indices.map { c =>
      (cells(c)._1, cells(c)._2, cells(c)._3,
        math.floor(w(c) * 1e6 + 0.5).toLong,
        math.floor(w(c) / cells(c)._3.toDouble * 1e9 + 0.5).toLong)
    }.toDF("lang", "bucket", "n", "mass_e6", "mult_e9")
      .orderBy("lang", "bucket")
  }

  val ipfOracle: String =
    """WITH RECURSIVE
      |cell AS MATERIALIZED (
      |  SELECT lang, CASE WHEN n_chars < 200 THEN 'short'
      |                    WHEN n_chars < 800 THEN 'mid' ELSE 'long' END AS bucket,
      |         COUNT(*) AS n
      |  FROM documents GROUP BY 1, 2),
      |colid AS MATERIALIZED (
      |  SELECT lang, bucket, n,
      |         row_number() OVER (ORDER BY lang, bucket) AS c,
      |         dense_rank() OVER (ORDER BY lang) AS r,
      |         dense_rank() OVER (ORDER BY bucket) AS col
      |  FROM cell),
      |tgt AS MATERIALIZED (
      |  SELECT list(CAST(n AS DOUBLE) ORDER BY c) AS w0,
      |         list(r ORDER BY c) AS rid,
      |         list(col ORDER BY c) AS cid,
      |         (SELECT CAST(SUM(n) AS DOUBLE) / CAST(COUNT(DISTINCT lang) AS DOUBLE)
      |          FROM cell) AS tr_each,
      |         (SELECT list(CAST(s AS DOUBLE) ORDER BY bucket)
      |          FROM (SELECT bucket, SUM(n) AS s FROM cell GROUP BY 1)) AS tc
      |  FROM colid),
      |it AS (
      |  SELECT 0 AS t, w0 AS w FROM tgt
      |  UNION ALL
      |  SELECT t + 1,
      |    list_transform(range(1, len(w1) + 1), c ->
      |      w1[c] * (tc[cid[c]] / list_sum(list_transform(range(1, len(w1) + 1), d ->
      |        CASE WHEN cid[d] = cid[c] THEN w1[d] ELSE CAST(0.0 AS DOUBLE) END))))
      |  FROM (SELECT t,
      |          list_transform(range(1, len(w) + 1), c ->
      |            w[c] * (tr_each / list_sum(list_transform(range(1, len(w) + 1), d ->
      |              CASE WHEN rid[d] = rid[c] THEN w[d] ELSE CAST(0.0 AS DOUBLE) END)))) AS w1,
      |          rid, cid, tc, tr_each
      |        FROM it, tgt WHERE t < 25))
      |SELECT x.lang, x.bucket, x.n,
      |       CAST(floor(w[x.c] * 1000000 + 0.5) AS BIGINT) AS mass_e6,
      |       CAST(floor(w[x.c] / CAST(x.n AS DOUBLE) * 1000000000 + 0.5) AS BIGINT) AS mult_e9
      |FROM (SELECT w FROM it WHERE t = 25), colid x ORDER BY x.lang, x.bucket""".stripMargin
}
