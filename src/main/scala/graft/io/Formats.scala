package graft.io

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.VectorRecord

/** Interchange formats for the vector table beyond the reference
  * envelope and Parquet: JSON-lines (the scalable text format — one
  * record per line, splittable, no driver-side parse) and CSV with the
  * embedding packed as a delimited string (for spreadsheet-ish tools).
  * Both are full Spark sources/sinks: distributed read AND write, no
  * single-document envelope bottleneck.
  */
object Formats {

  private val jsonlSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("metadata", StringType, nullable = true)))

  /** JSON-lines sink: `{"id":1,"embedding":[...],"metadata":{...}}` per
    * line. Metadata is embedded as a raw JSON object (not a quoted
    * string), so downstream jq/duckdb consumers see real structure. */
  def writeJsonl(ds: Dataset[VectorRecord], dir: String): Unit =
    ds.toDF()
      .select(to_json(struct(
        col("id"),
        col("embedding"),
        // re-parse so the object embeds unquoted; schema-free variant
        when(col("metadata").isNotNull, parse_json(col("metadata")))
          .as("metadata"))).as("line"))
      .write.mode("overwrite").text(dir)

  /** JSON-lines source (schema enforced, metadata back to canonical
    * JSON string form). */
  def readJsonl(spark: SparkSession, dir: String): Dataset[VectorRecord] = {
    import spark.implicits._
    spark.read
      .schema(StructType(jsonlSchema.init :+
        StructField("metadata", VariantType, nullable = true)))
      .json(dir)
      .select(col("id"), col("embedding"),
        to_json(col("metadata")).as("metadata"))
      .as[VectorRecord]
  }

  /** CSV sink: embedding packed as a space-delimited float string (CSV
    * cannot nest); metadata JSON carried as an escaped string column. */
  def writeCsv(ds: Dataset[VectorRecord], dir: String): Unit =
    ds.toDF()
      .select(
        col("id"),
        array_join(col("embedding"), " ").as("embedding"),
        col("metadata"))
      .write.mode("overwrite").option("header", "true").csv(dir)

  /** XML sink (Spark 4 built-in `xml` datasource): one `<record>`
    * element per row, embedding as repeated `<embedding>` children —
    * XML's native list form, declared ArrayType on read. Floats travel
    * as text; [[readXml]] declares the schema so no inference scan or
    * lossy double-parse happens. Distributed on both sides. */
  def writeXml(ds: Dataset[VectorRecord], dir: String): Unit =
    ds.toDF()
      .write.mode("overwrite")
      .option("rowTag", "record").option("rootTag", "records")
      .format("xml").save(dir)

  /** XML source: declared schema (no sampling inference). A null
    * metadata element is absent in the XML and comes back null. */
  def readXml(spark: SparkSession, dir: String): Dataset[VectorRecord] = {
    import spark.implicits._
    spark.read
      .schema(jsonlSchema)
      .option("rowTag", "record")
      .format("xml").load(dir)
      .as[VectorRecord]
  }

  /** CSV source: unpack the delimited embedding back to array<float>. */
  def readCsv(spark: SparkSession, dir: String): Dataset[VectorRecord] = {
    import spark.implicits._
    spark.read
      .option("header", "true")
      .schema(StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("embedding", StringType, nullable = false),
        StructField("metadata", StringType, nullable = true))))
      .csv(dir)
      .select(
        col("id"),
        transform(split(col("embedding"), " "), x => x.cast("float")).as("embedding"),
        col("metadata"))
      .as[VectorRecord]
  }
}
