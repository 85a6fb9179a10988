package graft.sources

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source/sink facade beyond the reference's parquet-only surface (reference
  * src/qafs/backend/pandas.py:28-39 — fsspec parquet). Spark gives these for
  * free; the facade pins the options that keep them feature-frame-shaped and
  * deterministic (explicit schemas — runtime inference is a full extra pass
  * over the data and non-deterministic under schema drift).
  */
object Sources {

  def readCsv(spark: SparkSession, path: String, schema: Option[StructType] = None,
      header: Boolean = true, delimiter: String = ","): DataFrame = {
    val r = spark.read.option("header", header.toString).option("sep", delimiter)
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(path)
  }

  def readJsonLines(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Bucketed table write: pre-shuffles rows into `numBuckets` by join key
    * so later equi-joins/aggregations on that key run with NO exchange —
    * the co-located-join strategy for repeatedly-joined big fact tables
    * (pay the shuffle once at write, never at read). Requires a table
    * (bucket metadata lives in the catalog, not the files).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }
}
