package graft.core

import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFileFormat
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one parquet read.
  *
  * Same arguments, schema and rows as `spark.read.options(options).parquet(paths: _*)`,
  * but the schema is resolved on the driver from the one footer Spark itself
  * would pick ([[GraftParquetFileFormat]]) instead of in a one-task Spark job.
  * Every point get, scan, compaction and index read opens its input through
  * here, so that job was a fixed cost on each of them — the reference opens
  * a table's footer once through its table cache
  * (kv/db/table_cache.cpp:39-131) rather than per lookup. File listing,
  * partition discovery, filter pushdown and the vectorized reader are
  * Spark's. Writes and streaming reads stay on the plain Spark API.
  */
object Parquet {
  def read(spark: SparkSession, options: Map[String, String], paths: String*): DataFrame =
    spark.read.format(classOf[GraftParquetFileFormat].getName).options(options).load(paths: _*)

  def read(spark: SparkSession, paths: String*): DataFrame = read(spark, Map.empty[String, String], paths: _*)
}
