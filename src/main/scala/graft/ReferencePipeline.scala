package graft

import org.apache.spark.sql.functions._

import graft.insta.Insta
import graft.ml.ReorderModel

/** The reference notebook, end to end, as one command:
  * ingest → eval-set split → product/user/user×product features →
  * candidate generation → 17-feature matrices → seeded RF/GBT/DT training →
  * holdout metrics → per-model submissions (F.py:16–396) — distributed
  * throughout, no driver-side pandas, and each model's submission built
  * from its own predictions (fixing the reference's resultDT copy-paste
  * bug, F.py:390).
  *
  * Usage: sbt "runMain graft.ReferencePipeline [sfDir]"
  */
object ReferencePipeline {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "8")

    println(s"[pipeline] sfDir=$dir")
    val counts = Insta.ordersI(spark, dir).groupBy("eval_set").count()
      .orderBy("eval_set").collect()
      .map(r => s"eval_set=${r.getLong(0)}:${r.getLong(1)}").mkString(" ")
    println(s"[pipeline] orders $counts") // F.py:39–43

    println("[pipeline] holdout metrics (0.7/0.3 split, threshold 0.19):")
    ReorderModel.metrics(spark, dir).collect().foreach { r => // F.py:252–276
      println(f"[pipeline]   ${r.getString(0)}%-4s accuracy=${r.getDouble(1)}%.4f " +
        f"wPrecision=${r.getDouble(2)}%.4f wRecall=${r.getDouble(3)}%.4f f1=${r.getDouble(4)}%.4f")
    }

    val train = ReorderModel.assemble(Insta.featureMatrix(spark, dir, Seq(1L))).cache()
    val test = ReorderModel.assemble(Insta.featureMatrix(spark, dir, Seq(2L))).cache()
    val testOrders = Insta.ordersI(spark, dir).filter(col("eval_set") === 2)
    Seq( // F.py:280–396 — one submission per model, each from its own predictions
      "rf" -> ReorderModel.rf.fit(train),
      "gbt" -> ReorderModel.gbt.fit(train),
      "dt" -> ReorderModel.dt.fit(train),
    ).foreach { case (name, model) =>
      val scored = model.transform(test).select("orderID", "productID", "prediction")
      val sub = Insta.submission(testOrders, scored, "prediction", ReorderModel.threshold)
      val n = sub.count()
      val nonEmpty = sub.filter(col("products") =!= "None").count()
      println(s"[pipeline] submission[$name]: $n orders, $nonEmpty with predicted products")
    }
    spark.stop()
  }
}
