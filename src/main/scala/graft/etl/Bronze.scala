package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze-layer ingestion: raw source → DataFrame + lineage metadata.
  *
  * Re-expresses the reference's `extract_csv_data` task
  * (/root/reference/dags/de_spotify_to_bronze.py:88-118): read a raw
  * source and append `ingestion_timestamp`, `source_identifier`,
  * `batch_identifier` metadata columns.
  *
  * Spark-first: the read is a distributed scan (the reference's pandas
  * read is single-node); metadata are literal columns (constant-folded
  * by Catalyst, zero per-row cost, fully codegen'd). At 100 TB the
  * ingest is just a parquet/CSV scan with pushdown — no driver
  * materialization, unlike the reference's `df.to_dict('records')`.
  */
object Bronze {

  /** Append lineage metadata columns to any source DataFrame. */
  def withMetadata(df: DataFrame, source: String, batchId: String,
                   ingestionTs: java.sql.Timestamp): DataFrame =
    df.withColumn("ingestion_timestamp", lit(ingestionTs))
      .withColumn("source_identifier", lit(source))
      .withColumn("batch_identifier", lit(batchId))

  /** CSV ingest (the reference's source format), header + schema. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** CSV ingest with schema inference (portfolio convenience; at scale
    * pass an explicit schema to avoid the inference pre-pass). */
  def readCsvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Name of the quarantine column carrying the raw malformed record. */
  val CorruptCol = "_corrupt_record"

  private def withCorrupt(schema: StructType): StructType =
    schema.add(CorruptCol, org.apache.spark.sql.types.StringType)

  /** Permissive CSV ingest: malformed rows don't fail the job — they
    * surface with the raw line in [[CorruptCol]] and nulls elsewhere
    * (the distributed version of the reference's row-level pandas
    * validation, de_spotify_to_bronze.py `validate_data`). */
  def readCsvPermissive(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorrupt(schema)).csv(path)

  /** Permissive JSON-lines ingest with the same quarantine contract. */
  def readJsonPermissive(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorrupt(schema)).json(path)

  /** Split a permissive read into (clean, quarantined). The cache is
    * required: Spark disallows filtering on only the internal corrupt
    * column of an un-materialized raw scan (SPARK-21610). */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) = {
    val cached = df.cache()
    (cached.filter(col(CorruptCol).isNull).drop(CorruptCol),
      cached.filter(col(CorruptCol).isNotNull))
  }
}
