package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV ingestion (SURVEY.md §2.1 S1–S4): the reference's four-step RDD
  * ritual — textFile, first()-based header strip, split(','), per-field int
  * casts (F.py:16–30) — collapses into one schema'd reader call. The
  * explicit schema replaces positional casts (S3); `header` replaces the
  * collect-the-first-row strip (S2); DROPMALFORMED replaces nothing the RDD
  * path had (it silently crashed on bad rows) and mirrors the one DataFrame
  * read the reference did use (F.py:28, S4).
  *
  * Production posture: schema is REQUIRED (no inference job over 100 TB),
  * and malformed rows are dropped.
  *
  * DROPMALFORMED caveat: Spark judges malformedness only over the columns
  * a query actually parses — under CSV column pruning a bare count()
  * parses none and drops nothing, and a single-column projection won't
  * see a cast failure in an unread field. Row counts can therefore vary
  * with the projection. Pipelines that need a stable row set materialize
  * the full schema once at the ingestion boundary (as Verify's parquet
  * dump does) or set spark.sql.csv.parser.columnPruning.enabled=false.
  */
object Ingest {

  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .csv(path)

  /** Parquet is the engine's native format: schema travels with the file,
    * scans prune columns and push predicates (S1/S5 for free).
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** JSON-lines with an explicit schema — the interchange format training
    * corpora actually ship in. Same posture as [[csv]]: no inference job,
    * malformed lines dropped.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "DROPMALFORMED")
      .json(path)

  /** ORC — the other columnar warehouse format Spark ships natively. Like
    * parquet, schema travels with the file and scans prune columns / push
    * predicates; a Hive-partitioned layout additionally prunes whole
    * directories on partition-column predicates (asserted in SourcesSpec).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Raw line-oriented text — the lowest-common-denominator corpus format
    * (one record per line, schema lives in the PARSE the caller applies).
    * Returns the single `value` string column; splitting/casting is the
    * caller's explicit step, which is the honest contract for a format
    * that carries no schema at all.
    */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** JSON-lines with an EXPLICIT schema — never inference, which is a
    * full extra pass over the data at 100 TB (and type-unstable across
    * samples). Jackson's double serialization round-trips binary64
    * exactly, so numeric identity survives the text format.
    */
  def jsonLines(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
