package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Layer
import graft.insta.Insta
import graft.ml.ReorderModel

/** Outcomes of the operations run since the tally was opened. */
final class Tally {
  val opSeconds = ArrayBuffer[Double]()
  var attempted = 0
  var failed = 0
  val problems = ArrayBuffer[String]()
  var planMs = 0L
}

/** What one run shares across its passes: the session, the input tables,
  * the recorder and the expected fingerprints.
  */
final class Ctx(val spark: SparkSession, val dir: String, val rec: Recorder,
                expected: Map[String, Fp], recording: Boolean) {
  var tally = new Tally
  /** Print each operation's latency (off during warm-up). */
  var verbose = false
  /** Last fingerprint seen per operation id. */
  val observed = LinkedHashMap[String, Fp]()

  /** Runs one operation inside a span named `span`, times it, samples the
    * storage it leaves persisted and checks its fingerprint.
    */
  def op(id: String, span: String)(body: => Fp): Unit = {
    val t = tally
    t.attempted += 1
    val t0 = System.nanoTime()
    val got = try Right(rec.span(span)(body)) catch { case e: Throwable => Left(e) }
    t.opSeconds += (System.nanoTime() - t0) / 1e9
    if (verbose) println(f"[perfbench] op $id%-32s ${t.opSeconds.last}%.3f s")
    rec.sampleStorage()
    got match {
      case Right(fp) =>
        observed(id) = fp
        if (!recording && !expected.get(id).contains(fp)) {
          t.failed += 1
          t.problems += s"$id: fingerprint $fp, expected ${expected.get(id).fold("none")(_.toString)}"
        }
      case Left(e) =>
        observed.remove(id)
        t.failed += 1
        t.problems += s"$id: threw ${e.toString.take(300)}"
    }
  }

  /** Collects the single row of `q` and adds its Catalyst phases to the
    * tally's planning time.
    */
  private def single(q: DataFrame): org.apache.spark.sql.Row = {
    val row = q.collect()(0)
    tally.planMs += q.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.tracker.phases.values.map(_.durationMs).sum
    row
  }

  /** Fingerprints `df`: the timed action of an operation. */
  def fp(df: DataFrame): Fp = Fp.of(single(Fp.query(df)))

  /** Drops every Layer and every other persisted frame or RDD, and waits
    * for their blocks to go, so the storage sampled after the next
    * operation is that operation's own.
    */
  def coldReset(): Unit = {
    Layer.clear(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Workloads {

  lazy val registry: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries

  /** The Insta Layers the pipeline builds, in dependency order after ordersI. */
  val instaLayers: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "basket" -> (Insta.basket _),
    "productFeatures" -> (Insta.productFeatures _),
    "userOrderFeatures" -> (Insta.userOrderFeatures _),
    "userPriorFeatures" -> (Insta.userPriorFeatures _),
    "usersFinal" -> (Insta.usersFinal _),
    "userProductFeatures" -> (Insta.userProductFeatures _))

  val instaSteps: Seq[String] = Seq("ordersI") ++ instaLayers.map(_._1) ++
    Seq("featureMatrix_train", "featureMatrix_test", "submission")

  val mlSteps: Seq[String] = Seq("assemble", "metrics", "fit_rf", "fit_gbt", "fit_dt", "transform")

  /** ReferencePipeline.main, line by line, through the public Insta and
    * ReorderModel functions, from an empty Layer cache. Where the program
    * runs a count, the step fingerprints the same frame instead. The Layers
    * that the holdout metrics would build on first use are built first, one
    * step each, so that each has its own span. Then, as in the program: the
    * eval-set split, the holdout metrics (3 fits), the assembled train and
    * test matrices (the only frames the program caches itself), the
    * rf/gbt/dt fits on train, and per model a submission scored from an
    * uncached transform plus its predicted-orders filter. `ml.assemble` and
    * `ml.transform` time the lazy calls; their execution runs inside the
    * enclosing featureMatrix and submission actions.
    */
  def pipelinePass(c: Ctx): Unit = {
    val spark = c.spark
    val dir = c.dir
    c.coldReset()
    c.op("pipeline.ordersI", "insta.ordersI")(c.fp(Insta.ordersI(spark, dir)))
    c.op("pipeline.split", "pipeline.split")(
      c.fp(Insta.ordersI(spark, dir).groupBy("eval_set").count()))
    instaLayers.foreach { case (name, layer) =>
      c.op(s"pipeline.$name", s"insta.$name")(c.fp(layer(spark, dir)))
    }
    c.op("pipeline.metrics", "ml.metrics")(c.fp(ReorderModel.metrics(spark, dir)))
    def assembled(evalSet: Long): DataFrame = {
      val fm = Insta.featureMatrix(spark, dir, Seq(evalSet))
      c.rec.span("ml.assemble")(ReorderModel.assemble(fm)).cache()
    }
    var train: DataFrame = null
    var test: DataFrame = null
    c.op("pipeline.train", "insta.featureMatrix_train") {
      train = assembled(1L)
      c.fp(train)
    }
    c.op("pipeline.test", "insta.featureMatrix_test") {
      test = assembled(2L)
      c.fp(test)
    }
    val models = LinkedHashMap[String, org.apache.spark.ml.Model[_]]()
    c.op("pipeline.fit_rf", "ml.fit_rf") {
      val m = ReorderModel.rf.fit(train)
      models("rf") = m
      Fp.ofModel(m.toDebugString)
    }
    c.op("pipeline.fit_gbt", "ml.fit_gbt") {
      val m = ReorderModel.gbt.fit(train)
      models("gbt") = m
      Fp.ofModel(m.toDebugString)
    }
    c.op("pipeline.fit_dt", "ml.fit_dt") {
      val m = ReorderModel.dt.fit(train)
      models("dt") = m
      Fp.ofModel(m.toDebugString)
    }
    val testOrders = Insta.ordersI(spark, dir).filter(col("eval_set") === 2)
    Seq("rf", "gbt", "dt").foreach { name =>
      var sub: DataFrame = null
      c.op(s"pipeline.submission_$name", "insta.submission") {
        val scored = c.rec.span("ml.transform")(models(name).transform(test))
          .select("orderID", "productID", "prediction")
        sub = Insta.submission(testOrders, scored, "prediction", ReorderModel.threshold)
        c.fp(sub)
      }
      c.op(s"pipeline.predicted_$name", "insta.submission")(
        c.fp(sub.filter(col("products") =!= "None")))
    }
    c.coldReset()
  }

  /** One query as an operation: the DataFrame build inside `fn(spark, dir)`
    * is its own span, the fingerprint action follows, and the whole call is
    * attributed to the query's owning module.
    */
  def queryOp(c: Ctx, name: String, module: String): Unit =
    c.op(name, module) {
      val df = c.rec.span("queries.build")(registry(name)(c.spark, c.dir))
      c.fp(df)
    }

  /** Each query from an empty Layer cache. */
  def coldPass(c: Ctx, names: Seq[String], modules: Map[String, String]): Unit = {
    names.foreach { n =>
      c.coldReset()
      queryOp(c, n, modules(n))
    }
    c.coldReset()
  }
}
