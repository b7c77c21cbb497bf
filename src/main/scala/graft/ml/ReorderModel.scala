package graft.ml

import org.apache.spark.ml.feature.{Binarizer, VectorAssembler}
import org.apache.spark.ml.regression.{DecisionTreeRegressor, GBTRegressor, RandomForestRegressor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.insta.Insta

/** Reference ML pipeline (SURVEY.md §2.9 M1–M7) on spark.ml: the 17-feature
  * vector (F.py:181–185) → seeded tree-ensemble regressors with the
  * reference hyperparameters (F.py:219–225) → 0.19 binarization
  * (F.py:241–244) → multiclass metrics (F.py:247–276). Differences from the
  * reference are deliberate: predictions stay aligned as a column (no
  * fragile RDD zip, F.py:242), everything is seeded, and each model's
  * submission comes from its own predictions (the reference's resultDT is
  * built from the GBT dict — copy-paste bug at F.py:390).
  */
object ReorderModel {

  val featureCols: Array[String] = Array(
    "user_SumOrders", "user_items_purchased_total", "distinct_items",
    "user_avg_orderingGap", "user_average_items", "order_dow", "order_hod",
    "days_since", "days_sinceProportion", "numorders", "numreorders",
    "prod_reorderProportion", "userProduct_orders", "userProduct_ordersRatio",
    "userProduct_average_cartOrder", "userProduct_reorderProportion",
    "userProduct_orders_sinceFinal")

  val threshold = 0.19
  val seed = 42L

  /** M1: assemble the 17 features into a dense vector column. */
  def assemble(df: DataFrame): DataFrame =
    new VectorAssembler()
      .setInputCols(featureCols).setOutputCol("features")
      .transform(df.withColumn("label", col("label").cast("double")))

  /** The TRAIN feature matrix (eval_set=1): the q14 four-join DAG is
    * Layer-cached as PLAIN COLUMNS and the VectorAssembler runs on top,
    * per call. Both halves of that split matter:
    *  - the cached half is the expensive, shared part (feature
    *    generation), and scalar columns compress well in the columnar
    *    cache;
    *  - the assembled vector column stays OUT of the cache, so the frame
    *    each m-query passes to `fit` reports storageLevel NONE and
    *    spark.ml's trainers persist their OWN converted representation
    *    (BaggedPoint/TreePoint RDDs) for the multi-pass tree loops.
    *    Caching the assembled frame instead makes every trainer skip that
    *    internal persist (it checks the input's storage level) and
    *    re-pull + re-convert the cached rows once per tree level — which
    *    under full-bench memory pressure degraded m01/m04 warm times by
    *    an order of magnitude.
    */
  /** The Layer-cached plain-column train matrix — single builder site
    * (the x182 Layer-key lesson); assembledTrain and m09's normal
    * equations both read it.
    */
  private[graft] def trainFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.Layer.cached(spark, dir, "trainFeatures")(
      Insta.featureMatrix(spark, dir, Seq(1L)))

  def assembledTrain(spark: SparkSession, dir: String): DataFrame =
    assemble(trainFeatures(spark, dir))

  def rf: RandomForestRegressor = new RandomForestRegressor() // M2, F.py:219–221
    .setNumTrees(3).setFeatureSubsetStrategy("auto")
    .setImpurity("variance").setMaxDepth(4).setMaxBins(32).setSeed(seed)

  def gbt: GBTRegressor = new GBTRegressor() // M3, F.py:222–223
    .setMaxIter(3).setSeed(seed)

  def dt: DecisionTreeRegressor = new DecisionTreeRegressor() // M4, F.py:224–225
    .setImpurity("variance").setMaxDepth(5).setMaxBins(32).setSeed(seed)

  /** M6: threshold regressor output at 0.19 into a 0/1 class column. */
  def binarize(pred: DataFrame): DataFrame =
    new Binarizer().setThreshold(threshold)
      .setInputCol("prediction").setOutputCol("predicted_label")
      .transform(pred)

  /** The binarized (predicted_label, label) → row-count confusion matrix
    * of one scored frame — one tiny aggregate, collected;
    * an absent cell reads 0.
    */
  private def confusion(scored: DataFrame): Map[(Double, Double), Long] =
    binarize(scored).groupBy("predicted_label", "label").count().collect()
      .map(r => (r.getDouble(0), r.getDouble(1)) -> r.getLong(2)).toMap
      .withDefaultValue(0L)

  private def r4(v: Double): Double = math.rint(v * 10000) / 10000

  /** Train RF on the train matrix, predict the test matrix, emit the
    * submission table (M2+M5+M6 + F.py:296–315 formatting).
    */
  def rfSubmission(spark: SparkSession, dir: String): DataFrame = {
    val train = assembledTrain(spark, dir)
    val test = assemble(Insta.featureMatrix(spark, dir, Seq(2L)))
    val model = rf.fit(train)
    val scored = model.transform(test).select("orderID", "productID", "prediction")
    val testOrders = Insta.ordersI(spark, dir).filter(col("eval_set") === 2)
    Insta.submission(testOrders, scored, "prediction", threshold).orderBy("orderID")
  }

  /** m03: calibration buckets for the RF reorder scores — the reliability
    * diagram's data: holdout predictions bucketed by floor(p·10), each
    * bucket reporting its population, positive count, and mean predicted
    * probability in e4 integers. Read bucket-by-bucket against
    * n_pos/n: a well-calibrated score has mean_p ≈ realized rate, and the
    * 0.19 production threshold (F.py:241–244) should sit where the rate
    * crosses the cost tradeoff. Distributed shape: scoring is the model's
    * own transform; the report is ONE tiny aggregate (≤ 11 buckets). No
    * oracle (seeded tree fit — DuckDB can't mirror it); MlSpec pins
    * partition/monotonicity laws and the run-to-run determinism the
    * seeded split guarantees.
    */
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    val all = assembledTrain(spark, dir)
    val Array(fit, holdout) = all.randomSplit(Array(0.7, 0.3), seed)
    val scored = rf.fit(fit).transform(holdout)
      .select(col("label"), col("prediction"))
    scored
      .select(col("label"),
        least(floor(col("prediction") * 10d), lit(9d)).cast("long").as("bucket"),
        floor(col("prediction") * 10000d + 0.5d).cast("long").as("p_e4"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("label").cast("long")).as("n_pos"),
        expr("sum(p_e4) DIV count(1)").as("mean_p_e4"))
      .orderBy("bucket")
  }

  /** m04: k-fold cross-validation — the model-selection workflow the
    * reference's single 0.7/0.3 split (F.py:214) approximates with one
    * sample: every row is scored exactly once by a model that never saw
    * it, so the per-fold spread is visible instead of hidden in split
    * luck. Fold assignment is CONTENT-ADDRESSED (md5 bucket of the
    * (orderID, productID) key, the x70 discipline — reproducible on any
    * partition layout, unlike randomSplit), folds are disjoint and
    * exhaustive by construction, and the k seeded fits run as concurrent
    * Spark jobs like m02's three models. Per fold: holdout size, micro
    * accuracy, and positive-class F1 at the production 0.19 threshold,
    * from one tiny confusion-matrix pass each. No oracle (seeded tree
    * fits); MlSpec pins the partition law, metric ranges, and run-to-run
    * determinism.
    */
  def crossValidation(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    // fold assignment is a cheap md5 bucket on top of the Layer-cached
    // assembled matrix — no second persisted copy of the same rows
    // localCheckpoint (MEMORY_AND_DISK, lineage truncated): six fit/score
    // passes run over this frame, and under full-bench cache pressure a
    // merely-persisted plan kept re-entering the q14 DAG on evicted
    // blocks; checkpointed blocks spill to disk instead of recomputing
    val all = assembledTrain(spark, dir)
      .withColumn("fold", pmod(
        graft.ops.Sampling.bucket10k(col("orderID") * 1000003L + col("productID"), 77),
        lit(k.toLong)))
      .localCheckpoint()
    def evalFold(f: Long): (Long, Long, Double, Double) = {
      val test = all.filter(col("fold") === f)
      val model = rf.fit(all.filter(col("fold") =!= f))
      val cm = confusion(model.transform(test))
      val total = cm.values.sum
      val correct = cm((0.0, 0.0)) + cm((1.0, 1.0))
      val tp = cm((1.0, 1.0)).toDouble
      val predPos = tp + cm((1.0, 0.0))
      val actPos = tp + cm((0.0, 1.0))
      val p = if (predPos == 0) 0.0 else tp / predPos
      val r = if (actPos == 0) 0.0 else tp / actPos
      val f1 = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
      (f, total, r4(correct.toDouble / total), r4(f1))
    }
    // folds run SEQUENTIALLY, deliberately: each tree fit already uses
    // every core (its internal BaggedPoint cache + per-level jobs span
    // the cluster), so concurrent fold Futures only interleave stages on
    // the FIFO scheduler while tripling resident internal caches —
    // measured slower end-to-end than back-to-back fits at sf0.1/32cpu
    val rows = (0L until k).map(evalFold)
    // rows are materialized (evalFold collects each confusion matrix), so
    // the checkpoint blocks are dead weight from here — release them
    // instead of leaving them to the ContextCleaner (they'd add exactly
    // the full-bench cache pressure the checkpoint exists to mitigate)
    org.apache.spark.sql.graftshim.ColumnBridge.unpersistCheckpointed(all)
    rows.toDF("fold", "n_test", "accuracy", "f1_pos").orderBy("fold")
  }

  /** M7: train RF/GBT/DT on a seeded 0.7/0.3 split of the train matrix
    * (F.py:214) and report per-model metrics on the holdout. The
    * reference's no-arg MulticlassMetrics precision()/recall()/fMeasure()
    * all equal micro accuracy — reported here as `accuracy` plus the
    * weighted variants the reference believed it was printing.
    */
  def metrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = assembledTrain(spark, dir)
      .select((featureCols.toIndexedSeq.map(col) :+ col("label") :+ col("features")): _*)
    // r16 A/B'd three storage shapes for the split halves at sf0.1/32c
    // (graft.Dev prof, steady-state rep): columnar persist 309 task-s,
    // localCheckpoint of the assembled frame 318, plain-column checkpoint +
    // assemble-on-read 367, NO caching 523. The original columnar persist
    // stays — the conversion passes the trainers re-run over it are cheaper
    // than re-sorting the randomSplit input per conversion.
    val Array(fit, holdout) = all.randomSplit(Array(0.7, 0.3), seed)
    fit.persist(); holdout.persist()
    // One confusion-matrix pass per model (4 tiny rows collected) instead
    // of 4 evaluator jobs each re-scoring the holdout: all four metrics
    // derive from the same counts, matching
    // MulticlassClassificationEvaluator's weighted definitions.
    def evalOne(name: String, model: org.apache.spark.ml.Model[_]): (String, Double, Double, Double, Double) = {
      val cm = confusion(model.transform(holdout))
      val classes = Seq(0.0, 1.0)
      val total = cm.values.sum.toDouble
      val correct = classes.map(c => cm((c, c))).sum.toDouble
      def weighted(perClass: Double => Double): Double =
        classes.map { c =>
          val support = classes.map(p => cm((p, c))).sum.toDouble
          (support / total) * perClass(c)
        }.sum
      def precision(c: Double): Double = {
        val predicted = classes.map(l => cm((c, l))).sum.toDouble
        if (predicted == 0) 0.0 else cm((c, c)) / predicted
      }
      def recall(c: Double): Double = {
        val actual = classes.map(p => cm((p, c))).sum.toDouble
        if (actual == 0) 0.0 else cm((c, c)) / actual
      }
      def f1(c: Double): Double = {
        val p = precision(c); val r = recall(c)
        if (p + r == 0) 0.0 else 2 * p * r / (p + r)
      }
      (name, r4(correct / total), r4(weighted(precision)), r4(weighted(recall)), r4(weighted(f1)))
    }
    // The three fits are independent — submit them as concurrent Spark jobs
    // so tree-building passes interleave on the executors (wall-clock ≈ the
    // slowest model, not the sum).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // Bounded await: these fits take ~30 s at sf0.1, so 15 minutes is pure
    // headroom — a hang (dead executor, wedged stage) fails the query with
    // a TimeoutException instead of blocking the whole suite forever.
    val fits = Seq(
      "rf"  -> Future(rf.fit(fit)),
      "gbt" -> Future(gbt.fit(fit)),
      "dt"  -> Future(dt.fit(fit)))
    // the rows are already computed here, so the returned frame is a
    // local relation that needs no cache of its own
    val rows = fits.map { case (n, f) => evalOne(n, Await.result(f, 15.minutes)) }
    fit.unpersist(); holdout.unpersist()
    rows.toDF("model", "accuracy", "weightedPrecision", "weightedRecall", "f1")
      .orderBy("model")
  }

  /** m05: implicit-feedback ALS recommendations — the canonical Spark
    * recommender over the reference's own domain (user × product purchase
    * counts as implicit strength). ALS is the distributed matrix
    * factorization: users and items block-partition, each iteration
    * solves per-block least squares against the other side's broadcast
    * factor blocks — no step touches a user×item dense matrix. Seeded and
    * layout-pinned here, but scores remain float accumulations, so the
    * gate records rows-only (count = |users with history| · k, stable)
    * and MlSpec pins determinism/coverage/item-domain laws instead of a
    * value hash. Spark's ALS limit — ids are Int — is closed by the
    * [[denseIds]] reindex: arbitrary BIGINT key domains pass through a
    * dense dictionary before `fit` and are inverse-mapped on output, so
    * only the CARDINALITY (< 2³¹ distinct users/items, i.e. the factor
    * matrices fit the cluster) bounds the key domain, never the key
    * VALUES.
    */
  def alsRecommendations(spark: SparkSession, dir: String,
                         k: Int = 3): DataFrame = {
    val ratings = graft.Tables.lineitem(spark, dir)
      .join(graft.Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("user_key"), col("l_partkey").as("item_key"))
      .agg(count(lit(1)).cast("float").as("rating"))
    alsRecsFromRatings(spark, ratings, k)
  }

  /** Dense id dictionary over a BIGINT key column: distinct keys ranked
    * by [[graft.ops.Ranking.globalRowNumber]] (value-bucketed two-phase
    * rank — NEVER a partition-less window, which would move the whole key
    * domain to one task) to ids [0, n). Deterministic for a given key
    * SET — the rank is a pure function of the sorted key domain,
    * independent of partition layout (the x104 content-addressed
    * discipline) — so the same corpus always yields the same dictionary
    * and seeded ALS stays reproducible through the reindex.
    */
  def denseIds(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    graft.ops.Ranking.globalRowNumber(
      df.select(col(keyCol)).distinct(), col(keyCol), col(keyCol), idCol)
      .select(col(keyCol), (col(idCol) - 1L).cast("int").as(idCol))

  /** ALS over `(user_key BIGINT, item_key BIGINT, rating FLOAT)` through
    * the dense-id reindex: dictionary-join to Int ids, seeded implicit
    * fit, top-k per user, inverse dictionary-join back to the original
    * BIGINT keys. The dictionaries are |users|- and |items|-sized (factor
    * matrix scale, not fact scale); both joins are plain equi-joins AQE
    * broadcasts when the dictionary is small and shuffles when it isn't.
    */
  def alsRecsFromRatings(spark: SparkSession, ratings: DataFrame,
                         k: Int = 3): DataFrame = {
    import org.apache.spark.ml.recommendation.ALS
    val users = denseIds(ratings, "user_key", "user")
    val items = denseIds(ratings, "item_key", "item")
    val indexed = ratings.join(users, "user_key").join(items, "item_key")
      .select(col("user"), col("item"), col("rating"))
    val model = new ALS().setSeed(seed).setRank(8).setMaxIter(5)
      .setImplicitPrefs(true).setRegParam(0.1)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setColdStartStrategy("drop")
      .fit(indexed)
    model.recommendForAllUsers(k)
      .select(col("user"), posexplode(col("recommendations")).as(Seq("rank", "rec")))
      .select(col("user"), (col("rank") + 1).cast("long").as("rank"),
        col("rec.item").as("item"))
      .join(users, "user")
      .join(items, "item")
      .select(col("user_key").as("user"), col("rank"),
        col("item_key").as("item"))
      .orderBy("user", "rank")
  }

  /** m06: isotonic calibration of the RF reorder scores — the FITTED
    * half of m03's reliability diagram: PAVA (pool-adjacent-violators)
    * learns the monotone score→probability map that turns a ranking
    * score into a usable probability before thresholding at 0.19.
    * spark.ml's IsotonicRegression runs parallel PAVA per sorted
    * partition and merges pools at the driver — the model's
    * (boundaries, predictions) arrays are aggregate-sized (≤ |distinct
    * scores|, pooled far below), the x149 boundary class. Emitted as
    * (idx, boundary_e6, pred_e6) rows with one e6 flooring each. No
    * oracle (the scores come from the seeded tree fit — the m01 class);
    * MlSpec pins monotonicity of both arrays, [0, 1] bounds, and
    * run-to-run determinism (PAVA is deterministic given data; the
    * split is seeded).
    */
  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = assembledTrain(spark, dir)
    val Array(fitD, holdout) = all.randomSplit(Array(0.7, 0.3), seed)
    val scored = rf.fit(fitD).transform(holdout)
      .select(col("prediction").as("score"), col("label"))
    val model = new org.apache.spark.ml.regression.IsotonicRegression()
      .setFeaturesCol("score").setLabelCol("label").setIsotonic(true)
      .fit(scored)
    val bs = model.boundaries.toArray
    val ps = model.predictions.toArray
    bs.indices.map(i => (i.toLong,
        math.floor(bs(i) * 1e6 + 0.5).toLong,
        math.floor(ps(i) * 1e6 + 0.5).toLong))
      .toDF("idx", "boundary_e6", "pred_e6")
  }

  /** m07: RF feature importances — the model-explainability readout
    * ("which of the reference's engineered features carries the
    * signal"): spark.ml's Gini-gain-weighted, tree-averaged importances
    * (Breiman '01 / Hastie ESL §15.3.2), normalized to sum 1. The
    * vector is a property of the seeded fitted model — driver-sized,
    * the x149 boundary class — emitted as (idx, feature, e6) rows. No
    * oracle (seeded ensemble, the m01 class); MlSpec pins
    * nonnegativity, the sum-to-one normalization on the e6 grid, and
    * run-to-run determinism.
    */
  def featureImportance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = rf.fit(assembledTrain(spark, dir))
    val imp = model.featureImportances.toArray
    featureCols.zip(imp).zipWithIndex
      .map { case ((f, v), i) =>
        (i.toLong, f, math.floor(v * 1e6 + 0.5).toLong) }
      .toSeq.toDF("idx", "feature", "importance_e6")
  }

  /** m08: L2-regularized logistic regression over the same feature matrix
    * — the LINEAR explainability twin of m07's tree importances (signed,
    * directional coefficients vs unsigned Gini shares) and the classic
    * baseline any model report should anchor on. spark.ml's LBFGS path
    * is multi-pass over its own persisted instance RDD (the
    * assembledTrain storage discipline applies unchanged); no RNG
    * anywhere — deterministic init, deterministic line search — so the
    * rows-only gate rests on MlSpec's refit-equality law rather than a
    * seed. Standardization on (coefficients reported in standardized
    * units would be scale-distorted otherwise — they're mapped back by
    * spark.ml before exposure); intercept emitted as idx −1. Training
    * AUC comes from x194's exact rank-sum kernel over the model's own
    * probabilities, NOT the binned binarySummary — exactness is what
    * makes the refit-equality law pinnable at 1e-6.
    */
  def logisticCoefficients(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.ml.classification.LogisticRegression
    val lr = new LogisticRegression()
      .setMaxIter(25).setRegParam(0.01).setElasticNetParam(0.0)
      .setStandardization(true)
    val train = assembledTrain(spark, dir)
    val model = lr.fit(train)
    // exact rank-sum AUC over the model's own scores (x194's kernel):
    // spark.ml's binarySummary AUC bins/samples and is not run-stable at
    // 1e-6; this is exact, so refits reproduce it. Scoring is the raw
    // LINEAR MARGIN as a codegen'd Column expression — AUC is rank-based
    // and the sigmoid is monotone, so margin-ranked AUC ≡ probability-
    // ranked AUC — which also sidesteps model.transform dragging the
    // trainingSummary (it holds the SparkSession; model.copy copies it
    // too) into a scoring-UDF closure that AQE then fails to serialize
    val margin = featureCols.toIndexedSeq.zip(model.coefficients.toArray)
      .map { case (c, w) => col(c).cast("double") * lit(w) }
      .reduce(_ + _) + lit(model.intercept)
    val aucE6 = graft.ops.Quality.aucOf(train, margin, col("label") === 1d)
      .select("auc_e6").first().getLong(0)
    val rows = (-1L, "(intercept)", math.floor(model.intercept * 1e6 + 0.5).toLong) +:
      featureCols.zip(model.coefficients.toArray).zipWithIndex
        .map { case ((f, v), i) =>
          (i.toLong, f, math.floor(v * 1e6 + 0.5).toLong) }.toSeq
    rows.toDF("idx", "feature", "coef_e6")
      .withColumn("train_auc_e6", lit(aucE6))
      .orderBy("idx")
  }

  /** m09: ridge regression by DISTRIBUTED NORMAL EQUATIONS — the
    * closed-form linear solver, and the canonical 100 TB pattern for
    * linear models: ONE map-combinable pass reduces the fact-sized
    * design matrix to the d(d+3)/2 moment sums XᵀX and Xᵀy (the x148
    * covariance posture, d = 18 with the intercept column), the (d×d)
    * solve is a driver boundary (Gaussian elimination with partial
    * pivoting), and one more pass scores the residual. No iteration, no
    * spark.ml — m08's LBFGS needs ~25 passes for the logistic loss;
    * the squared loss needs exactly two. λ scales with n (penalty in
    * per-row units) and skips the intercept. Rows-only (double moment
    * sums — the one non-integer aggregate family in the suite, same
    * class as m01); MlSpec pins the normal-equation residual against
    * DRIVER-recomputed moments, refit equality, and fit-beats-mean.
    */
  /** The d(d+3)/2 moment sums XᵀX / Xᵀy / n in ONE pass over the cached
    * feature matrix, accumulated in primitive double arrays per partition
    * and combined on the driver in PARTITION-INDEX order. Why not the
    * declarative 190-column aggregate the r9 build shipped: whole-stage
    * codegen refuses aggregates beyond `spark.sql.codegen.maxFields` (100),
    * so the wide agg ran through the interpreted/mutable-projection path at
    * ~50 µs/row — measured 35 task-s at sf0.1 where this kernel runs the
    * identical arithmetic (same left-fold term order per row) in under 3.
    * This is exactly spark.ml's own Gramian posture (RowMatrix/Summarizer:
    * treeAggregate over primitive buffers). The index-ordered driver
    * combine makes the run-to-run result deterministic for a given cache
    * partitioning — STRONGER than the SQL final-agg's fetch-order merge.
    * x(0) is the intercept column (constant 1), never materialized.
    */
  private[graft] def ridgeMoments(feats: DataFrame)
      : (Array[Array[Double]], Array[Double], Long) = {
    val d = featureCols.length + 1
    val cols = featureCols.toIndexedSeq.map(c => col(c).cast("double")) :+
      col("label").cast("double")
    val partials = feats.select(cols: _*).rdd.mapPartitionsWithIndex { (pi, it) =>
      val a = new Array[Double](d * (d + 1) / 2)
      val b = new Array[Double](d)
      val x = new Array[Double](d)
      var n = 0L
      x(0) = 1.0d
      while (it.hasNext) {
        val r = it.next()
        var i = 1
        while (i < d) { x(i) = r.getDouble(i - 1); i += 1 }
        val y = r.getDouble(d - 1)
        var k = 0
        i = 0
        while (i < d) {
          var j = i
          val xi = x(i)
          while (j < d) { a(k) += xi * x(j); k += 1; j += 1 }
          b(i) += xi * y
          i += 1
        }
        n += 1L
      }
      Iterator.single((pi, a, b, n))
    }.collect().sortBy(_._1)
    val a = new Array[Double](d * (d + 1) / 2)
    val b = new Array[Double](d)
    var n = 0L
    partials.foreach { case (_, pa, pb, pn) =>
      var k = 0
      while (k < a.length) { a(k) += pa(k); k += 1 }
      k = 0
      while (k < d) { b(k) += pb(k); k += 1 }
      n += pn
    }
    val full = Array.ofDim[Double](d, d)
    var k = 0
    for (i <- 0 until d; j <- i until d) {
      full(i)(j) = a(k); full(j)(i) = a(k); k += 1
    }
    (full, b, n)
  }

  /** Companion scoring pass: per-λ Σ e² where e = (y − xᵀβ)/(1 − xᵀA⁻¹x)
    * (pass `ainvs = null` for the plain residual, h ≡ 0). Same primitive-
    * array shape and index-ordered driver combine as [[ridgeMoments]]; the
    * declarative spelling was a 4×(19 + 361)-term expression tree per row
    * — beyond codegen's field budget, measured 125 task-s / 109 CPU-s at
    * sf0.1 where this kernel runs in ~2.
    */
  private[graft] def ridgeSse(feats: DataFrame, betas: Array[Array[Double]],
                              ainvs: Array[Array[Array[Double]]]): Array[Double] = {
    val d = featureCols.length + 1
    val nl = betas.length
    val cols = featureCols.toIndexedSeq.map(c => col(c).cast("double")) :+
      col("label").cast("double")
    val partials = feats.select(cols: _*).rdd.mapPartitionsWithIndex { (pi, it) =>
      val sse = new Array[Double](nl)
      val x = new Array[Double](d)
      x(0) = 1.0d
      while (it.hasNext) {
        val r = it.next()
        var i = 1
        while (i < d) { x(i) = r.getDouble(i - 1); i += 1 }
        val y = r.getDouble(d - 1)
        var l = 0
        while (l < nl) {
          val beta = betas(l)
          var pred = 0.0d
          var i2 = 0
          while (i2 < d) { pred += x(i2) * beta(i2); i2 += 1 }
          var e = y - pred
          if (ainvs != null) {
            val ainv = ainvs(l)
            var h = 0.0d
            i2 = 0
            while (i2 < d) {
              val row = ainv(i2)
              val xi = x(i2)
              var j = 0
              while (j < d) { h += xi * x(j) * row(j); j += 1 }
              i2 += 1
            }
            e = e / (1.0d - h)
          }
          sse(l) += e * e
          l += 1
        }
      }
      Iterator.single((pi, sse))
    }.collect().sortBy(_._1)
    val out = new Array[Double](nl)
    partials.foreach { case (_, p) =>
      var l = 0
      while (l < nl) { out(l) += p(l); l += 1 }
    }
    out
  }

  def ridgeCoefficients(spark: SparkSession, dir: String,
                        lambdaPerRow: Double = 0.001): DataFrame = {
    import spark.implicits._
    val feats = trainFeatures(spark, dir)
    val xs = "__one" +: featureCols.toSeq
    val (a, b, n) = ridgeMoments(feats)
    val d = xs.length
    val lam = lambdaPerRow * n
    for (i <- 1 until d) a(i)(i) += lam // intercept (index 0) unpenalized
    val beta = solve(a.map(_.clone()), b.clone())
    // second pass: residual sum of squares with β as driver-held constants
    val sse = ridgeSse(feats, Array(beta), null)(0)
    val rmseE6 = math.floor(math.sqrt(sse / n) * 1e6 + 0.5).toLong
    xs.zip(beta).zipWithIndex
      .map { case ((f, w), i) =>
        (i.toLong - 1L, if (i == 0) "(intercept)" else f,
          math.floor(w * 1e6 + 0.5).toLong) }
      .toSeq.toDF("idx", "feature", "coef_e6")
      .withColumn("train_rmse_e6", lit(rmseE6))
      .orderBy("idx")
  }

  /** m10: EXACT leave-one-out cross-validation for the m09 ridge —
    * WITHOUT n refits. The hat-matrix identity makes LOO exact in two
    * passes: with A = XᵀX + λI and H = X A⁻¹ Xᵀ, the leave-one-out
    * residual is e⁽ⁱ⁾ = (yᵢ − xᵢᵀβ)/(1 − hᵢᵢ) — so one moment pass
    * (shared with m09's machinery) plus one scoring pass where hᵢᵢ =
    * xᵢᵀA⁻¹xᵢ is a 324-term codegen'd column expression with A⁻¹ as
    * plan-time literals evaluates the ENTIRE n-fold cross-validation
    * exactly. m04 pays k seeded refits for an ESTIMATE; this pays two
    * passes for the exact n-fold answer — the definitive λ-selection
    * loop at 100 TB (the grid multiplies expressions, not passes: all
    * λ's statistics ride one aggregate). Emits per-λ LOO RMSE and
    * flags the argmin. MlSpec proves exactness against brute-force
    * leave-one-out REFITS on the small fixture.
    */
  def ridgeLoocv(spark: SparkSession, dir: String,
                 lambdasPerRow: Seq[Double] = Seq(0.0001, 0.001, 0.01, 0.1)): DataFrame = {
    import spark.implicits._
    // the output keys rows by the e6-rounded λ and flags a unique argmin;
    // two λ's that collide at e6 would produce duplicate keys (and an
    // is_best matching several rows), so reject the grid up front
    require(lambdasPerRow.map(l => (l * 1e6).toLong).distinct.size == lambdasPerRow.size,
      s"ridgeLoocv: lambdasPerRow ${lambdasPerRow.mkString(",")} collide after e6 rounding")
    val feats = trainFeatures(spark, dir)
    val d = featureCols.length + 1
    val (a0, b, n) = ridgeMoments(feats)
    // per λ: β and A⁻¹ on the driver (aggregate-sized), then ONE shared
    // scoring pass over the cached matrix evaluates every λ's hat-matrix
    // residual (the ridgeSse kernel — the declarative 4×380-term
    // expression spelling was beyond codegen's field budget and ran
    // interpreted; see the kernel scaladocs for the measured delta)
    val perLambda = lambdasPerRow.map { lpr =>
      val lam = lpr * n
      val a = a0.map(_.clone())
      for (i <- 1 until d) a(i)(i) += lam
      val beta = solve(a.map(_.clone()), b.clone())
      val ainv = invert(a)
      (lpr, beta, ainv)
    }
    val sses = ridgeSse(feats, perLambda.map(_._2).toArray,
      perLambda.map(_._3).toArray)
    val rows = perLambda.zipWithIndex.map { case ((lpr, _, _), i) =>
      (math.floor(lpr * 1e6 + 0.5).toLong,
        math.floor(math.sqrt(sses(i) / n) * 1e6 + 0.5).toLong)
    }
    val best = rows.minBy(r => (r._2, r._1))._1
    rows.toDF("lambda_per_row_e6", "loo_rmse_e6")
      .withColumn("is_best", col("lambda_per_row_e6") === best)
      .orderBy("lambda_per_row_e6")
  }

  /** Matrix inverse by Gauss–Jordan with partial pivoting (driver-side,
    * d×d — the m10 hat-matrix ingredient).
    */
  private[graft] def invert(m: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m.length
    val a = m.map(_.clone())
    val inv = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (k <- 0 until d) {
      var p = k
      for (i <- k + 1 until d) if (math.abs(a(i)(k)) > math.abs(a(p)(k))) p = i
      val (ta, ti) = (a(k), inv(k)); a(k) = a(p); a(p) = ta; inv(k) = inv(p); inv(p) = ti
      require(math.abs(a(k)(k)) > 1e-12, s"singular matrix at pivot $k")
      val piv = a(k)(k)
      for (j <- 0 until d) { a(k)(j) /= piv; inv(k)(j) /= piv }
      for (i <- 0 until d if i != k) {
        val f = a(i)(k)
        if (f != 0.0) for (j <- 0 until d) {
          a(i)(j) -= f * a(k)(j); inv(i)(j) -= f * inv(k)(j)
        }
      }
    }
    inv
  }

  /** Gaussian elimination with partial pivoting — the d×d driver-boundary
    * solve behind m09 (d = |features|+1; the x149 posture: iterate on the
    * driver only once the data is aggregate-sized).
    */
  private[graft] def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val d = b.length
    for (k <- 0 until d) {
      var p = k
      for (i <- k + 1 until d) if (math.abs(a(i)(k)) > math.abs(a(p)(k))) p = i
      val (ta, tb) = (a(k), b(k)); a(k) = a(p); a(p) = ta; b(k) = b(p); b(p) = tb
      require(math.abs(a(k)(k)) > 1e-12, s"singular normal matrix at pivot $k")
      for (i <- k + 1 until d) {
        val f = a(i)(k) / a(k)(k)
        for (j <- k until d) a(i)(j) -= f * a(k)(j)
        b(i) -= f * b(k)
      }
    }
    val x = new Array[Double](d)
    for (i <- d - 1 to 0 by -1) {
      var s = b(i)
      for (j <- i + 1 until d) s -= a(i)(j) * x(j)
      x(i) = s / a(i)(i)
    }
    x
  }

  /** x265: decile gains / lift table — the business-facing model-eval
    * readout beside x194's AUC (AUC summarizes ranking quality in one
    * number; the gains table answers "if I act on the top decile, what
    * do I capture?"). Scored on the EXACT integer heuristic the
    * submission path already serves (per-product reorder propensity
    * (numreorders·10⁶) DIV numorders — m-family model scores are
    * seed-dependent and stay rows-only by design), labeled by the q13
    * train-pair existence flag.
    *
    * Exactness: score, ranks, decile cuts, rates, lifts, and cumulative
    * gains are ALL integer arithmetic — rank AND running positives ride
    * ONE multi-weight [[graft.ops.Ranking.globalCumSums]] pass over
    * (−score, (orderID, productID)) (the x267 spine; never a one-task
    * window on the candidate fact), the decile is the x123 integer-grid
    * cut of that running rank, and lift widens to DECIMAL(38,0) before
    * the ×10⁶ (pos·n_total·10⁶ wraps BIGINT at fleet scale). The
    * remaining window runs on the 10-row decile frame — metadata-sized.
    */
  /** The scored candidate frame x265/x267 rank over, carrying `g_hint` —
    * a MASS-UNIFORM monotone bucket proxy for the (−score, orderID,
    * productID) sort order. Why it exists: the per-product integer score
    * takes very few distinct values at the candidate grain (measured at
    * 30×: 17 distinct values, ONE holding 99.96% of 40 M rows), so
    * bucketing the two-phase rank on the raw score puts the whole corpus
    * in one bucket and the per-bucket window SERIALIZES — the pinned
    * ~175 s wall of r9's x265. The hint stretches each score value's
    * band by its MASS (cdf_lo..cdf_lo+share, from the per-value
    * numorders totals — a ≤|distinct scores|-row frame off the cached
    * product features) and spreads rows inside the band by scaled
    * orderID, so a linear bucket grid over the hint is load-balanced no
    * matter how degenerate the score distribution is. Monotone in the
    * sort order by construction (bands ordered by score DESC; orderID
    * scaled into [0, share) within a band; productID ties share a
    * bucket), so the ranks — and every oracle hash — are unchanged.
    *
    * NO checkpoint, deliberately: the rank machinery's two references
    * share one exchange subtree, and materializing the candidate-grain
    * frame is the wrong trade at scale (measured on the 30× corpus: a
    * localCheckpoint of the ~120 M-row scored frame spilled the block
    * manager and put the wall at 301 s; recomputing holds it to the
    * join's own cost).
    */
  private def scoredCandidates(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = Insta.withLabel(spark, dir,
        Insta.candidates(spark, dir, Seq(1L, 2L)))
      .select(col("orderID"), col("productID"), col("label"))
    val score = Insta.productFeatures(spark, dir)
      .select(col("productID"),
        expr("(CAST(numreorders AS BIGINT) * 1000000) DIV numorders").as("score_e6"),
        col("numorders"))
    val wPrev = Window.orderBy(col("score_e6").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("score_e6").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cdf = score.groupBy("score_e6")
      .agg(sum(col("numorders")).as("v_mass"))
      .select(col("score_e6"),
        (coalesce(sum(col("v_mass")).over(wPrev), lit(0L)).cast("double") /
          sum(col("v_mass")).over(wAll).cast("double")).as("cdf_lo"),
        (col("v_mass").cast("double") /
          sum(col("v_mass")).over(wAll).cast("double")).as("cdf_share"))
    val oid = graft.Tables.orders(spark, dir).agg(max(col("o_orderkey")).as("max_oid"))
    labeled.join(score.select("productID", "score_e6"), "productID")
      .join(broadcast(cdf), "score_e6")
      .crossJoin(broadcast(oid))
      .withColumn("g_hint", col("cdf_lo") +
        col("orderID").cast("double") / (col("max_oid").cast("double") + 1d) *
          col("cdf_share"))
      .select("orderID", "productID", "label", "score_e6", "g_hint")
  }

  def gainsTable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = scoredCandidates(spark, dir)
    // ONE multi-weight cumsum pass (the x267 spine): rnk is the running
    // count of 1s — exactly globalRowNumber's rank — and cumpos the
    // running positives, so the decile regroup reads BOTH the grid cut
    // and the cumulative gains off the same bucketed pass instead of
    // rank-then-recount (r9 measured the two-pass shape at wall e 0.69
    // vs this spine's 0.42 on the same candidate grain)
    val ranked = graft.ops.Ranking.globalCumSums(
      scored, negate(col("score_e6")),
      struct(col("orderID"), col("productID")),
      Seq(lit(1L) -> "rnk", col("label") -> "cumpos"),
      // n_total/pos_total arrive ATTACHED from the cumsum pass's own
      // B-row totals frame — a separate scored.agg would recompute the
      // candidate join a third time (measured +34% task at 30×)
      totals = Seq("n_total", "pos_total"),
      bucketHint = Some(col("g_hint")),
      // g_hint is a CDF position in [0, 1) by construction — known
      // bounds skip the stats pass (one whole evaluation of the
      // candidate-grain join tree, r16)
      hintBounds = Some((0.0, 1.0)))
    val dec = ranked
      .groupBy(expr("((rnk - 1) * 10) DIV n_total").as("decile"))
      // the decile's LAST row's inclusive cumpos IS the cumulative
      // positives through the decile — no second window over the fact
      .agg(count(lit(1)).as("n_rows"), max(col("cumpos")).as("cum_pos"),
        // the totals are constant per decile: max reads them order-free
        max(col("n_total")).as("n_total"), max(col("pos_total")).as("pos_total"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, -1) // 10-row frame: metadata
    dec.withColumn("n_pos", col("cum_pos") - coalesce(max(col("cum_pos")).over(w), lit(0L)))
      .select(col("decile"), col("n_rows"), col("n_pos"),
        expr("(n_pos * 1000000) DIV n_rows").as("rate_e6"),
        expr("""CAST((CAST(n_pos AS DECIMAL(38,0)) * n_total * 1000000)
                DIV (CAST(n_rows AS DECIMAL(38,0)) * pos_total) AS BIGINT)""")
          .as("lift_e6"),
        expr("(cum_pos * 1000000) DIV pos_total").as("cum_gain_e6"))
      .orderBy("decile")
  }

  /** x267: exact average precision — the third leg of the ranking-eval
    * trio (x194 AUC summarizes pairwise order, x265 gains the decile
    * action view; AP weights precision AT each relevant hit, the
    * retrieval-community headline). Same score/label frame and the SAME
    * deterministic total order as x265 (score DESC, orderID, productID
    * — ties resolved, so AP is well-defined and engine-identical).
    *
    * Exactness: the usual AP is a sum of n_pos rationals cumPos_k/k
    * with distinct denominators — unpinnable as a double fold at fact
    * size. Each term is instead the exact INTEGER (cumPos_k·10⁹) DIV k
    * (the x228 quantize-then-sum posture: the e9 floor is part of the
    * metric's definition), so the sum and the final DIV by n_pos are
    * exact BIGINT/DECIMAL arithmetic — no double anywhere. Both running
    * quantities (rank AND cumulative positives) ride ONE multi-weight
    * [[graft.ops.Ranking.globalCumSums]] pass — never a one-task global
    * window over the candidate fact. Output: one row (n, n_pos, ap_e9,
    * plus the random-baseline prevalence for calibration).
    */
  def averagePrecision(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredCandidates(spark, dir)
    val cum = graft.ops.Ranking.globalCumSums(
      scored, negate(col("score_e6")), struct(col("orderID"), col("productID")),
      Seq(lit(1L) -> "rnk", col("label") -> "cumpos"),
      bucketHint = Some(col("g_hint")),
      hintBounds = Some((0.0, 1.0))) // g_hint ∈ [0, 1): skip the stats pass
    cum.agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"),
        // widen INSIDE the aggregate: the e9 terms individually fit a
        // BIGINT but their SUM wraps past ~9.2e9 positives, while DuckDB
        // auto-widens SUM(BIGINT) to HUGEINT — the divergence would land
        // exactly at fleet scale, so accumulate in DECIMAL(38,0) here too
        sum(when(col("label") === 1L,
          expr("(cumpos * 1000000000) DIV rnk")).otherwise(0L)
          .cast("decimal(38,0)")).as("s"))
      .select(col("n"), col("n_pos"),
        expr("CAST(CAST(s AS DECIMAL(38,0)) DIV n_pos AS BIGINT)").as("ap_e9"),
        expr("(n_pos * 1000000000) DIV n").as("prevalence_e9"))
  }
}
