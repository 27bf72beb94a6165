package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Data sources: the reference's REST API
  * (`gbif_helper.py:86-88,17-19,35-42`) becomes local Parquet/CSV scans with
  * Catalyst predicate pushdown replacing the server-side query params, and
  * its pluggable source ABCs (`util/data_source.pyc`, SURVEY.md §1.4)
  * become plain DataFrame readers.
  *
  * Expected schemas (FIXTURES.md §3):
  *  - occurrence: taxonKey long, decimalLatitude double, decimalLongitude
  *    double, countryCode string, taxonRank string
  *  - backbone:   key long, canonicalName string, rank string, kingdom
  *    string, taxonomicStatus string, acceptedKey long?, higherTaxonKeys
  *    array<long>, habitat string?
  */
object Sources {

  /** S1 csv-scan (`apply_gbif_filter.py:102-104`): header = schema, all
    * columns kept as strings (pandas `dtype=object` forcing — no inference,
    * so taxids don't become floats), configurable separator, `NA` → null.
    */
  def readTaxaCsv(spark: SparkSession, path: String, sep: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", sep)
      .option("inferSchema", "false")
      .option("nullValue", "NA")
      .csv(path)

  /** K1 csv-sink (`apply_gbif_filter.py:187,192`): same separator, `NA` for
    * nulls. Spark CSV cannot serialize arrays, so list columns (T2 resolved
    * names/ids) are stringified to the pandas repr the reference writes
    * (`['a', 'b']` / `[1, 2]`, SURVEY.md §7.5.1).
    */
  def writeCsv(df: DataFrame, path: String, sep: String, singleFile: Boolean = false): Unit = {
    val stringified = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case ArrayType(StringType, _) =>
          acc.withColumn(f.name, when(col(f.name).isNotNull, concat(
            lit("["),
            array_join(transform(col(f.name), x => concat(lit("'"), x, lit("'"))), ", "),
            lit("]"))))
        case _: ArrayType =>
          acc.withColumn(f.name, when(col(f.name).isNotNull,
            concat(lit("["), array_join(col(f.name).cast("array<string>"), ", "), lit("]"))))
        case _ => acc
      }
    }
    val out = if (singleFile) stringified.coalesce(1) else stringified
    out.write
      .mode("overwrite")
      .option("header", "true")
      .option("sep", sep)
      .option("nullValue", "NA")
      .option("emptyValue", "")
      .csv(path)
  }

  /** JSON-lines sink/source pair. Reading back with an explicit schema —
    * never inference — keeps the roundtrip exact (inference would widen
    * absent-on-every-line null columns to string and reorder fields).
    */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJson(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC sink/source pair (types survive natively, like parquet). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Avro sink/source pair (row-oriented container). Spark 4 ships the
    * Avro FileFormat classes inside spark-sql but does NOT register the
    * "avro" shortname in DataSourceRegister, so the format is addressed
    * by its implementation class. Schema survives via the embedded Avro
    * schema, nullable unions included.
    */
  private val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  def writeAvro(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").format(AvroFormat).save(path)

  def readAvro(spark: SparkSession, path: String): DataFrame =
    spark.read.format(AvroFormat).load(path)

  private val XmlRowTag = "row"

  /** XML sink/source pair (Spark 4 ships the former spark-xml natively,
    * shortname registered), one `<row>` element per row. Reading back
    * with an explicit schema, like JSON — inference would widen
    * always-null columns.
    */
  def writeXml(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("rowTag", XmlRowTag).xml(path)

  def readXml(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("rowTag", XmlRowTag).xml(path)

  /** Hive-style partitioned parquet layout: one directory per value of
    * `partitionCols`. An equality filter on a partition column prunes at
    * the FILE level (the scan's `PartitionFilters`, no data read at all
    * for other partitions) — at 100 TB this is the difference between
    * scanning a country and scanning the planet.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
