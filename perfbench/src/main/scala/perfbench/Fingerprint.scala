package perfbench

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent hash over every column of a result.
  * Computing it is the timed action of each operation: the hash reads every
  * output column, so Catalyst cannot prune a column a query exists to
  * compute, as it can under `.count()`.
  */
final case class Fp(rows: Long, hash: Long) {
  override def toString: String = s"$rows:$hash"
}

object Fp {
  def parse(s: String): Fp = {
    val Array(r, h) = s.split(':')
    Fp(r.toLong, h.toLong)
  }

  /** Floating values are rounded to 6 decimals (and -0.0 folded into 0.0),
    * map entries are sorted, and ml vectors become arrays, so the hash does
    * not depend on row order or on the last bits of a double.
    */
  private def canonical(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case StructType(fields) =>
      when(c.isNull, lit(null)).otherwise(struct(fields.toIndexedSeq.map(f =>
        canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      canonical(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case v if v == SQLDataTypes.VectorType => canonical(vector_to_array(c), ArrayType(DoubleType))
    case _ => c
  }

  /** The aggregate whose single row is the fingerprint of `df`. */
  def query(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canonical(df.col(s"`${f.name}`"), f.dataType))
    df.select(shiftrightunsigned(xxhash64(cols: _*), 33).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L)))
  }

  def of(row: org.apache.spark.sql.Row): Fp = Fp(row.getLong(0), row.getLong(1))

  /** A fitted tree model, by its structure: the debug string without its
    * first line, which carries the random instance uid.
    */
  def ofModel(debugString: String): Fp = {
    val body = debugString.linesIterator.drop(1).toSeq
    Fp(body.size.toLong, body.mkString("\n").hashCode.toLong)
  }
}
