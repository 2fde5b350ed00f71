package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.types.StructType

/** Parquet source that infers an unmerged schema on the driver (bridge:
  * `readParquetFootersInParallel` is `private[parquet]`).
  *
  * Spark's `ParquetUtils.inferSchema` picks ONE file when schemas are not
  * merged — `_common_metadata`, else `_metadata`, else the first data file
  * by path string — and then reads its footer through
  * `mergeSchemasInParallel`, which is a one-task Spark job. This subclass
  * keeps that choice of file and reads the same footer on the driver with
  * the same Hadoop conf, corrupt-file option and schema converter, so the
  * resolved schema is Spark's and the read costs no job. Merged inference
  * (`mergeSchema`, by option or session conf) touches every file and goes
  * to Spark unchanged. Everything else — listing, partition discovery,
  * pushdown, the vectorized reader — is the inherited `ParquetFileFormat`.
  *
  * One visible difference: an unreadable footer fails with Spark's
  * footer error directly, not wrapped in a job failure.
  */
class GraftParquetFileFormat extends ParquetFileFormat {
  override def inferSchema(
      sparkSession: SparkSession,
      parameters: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] =
    if (new ParquetOptions(parameters, getSqlConf(sparkSession)).mergeSchema) {
      super.inferSchema(sparkSession, parameters, files)
    } else {
      val leaves = files.sortBy(_.getPath.toString)
      def named(name: String) = leaves.find(_.getPath.getName == name)
      val chosen = named(PARQUET_COMMON_METADATA_FILE)
        .orElse(named(PARQUET_METADATA_FILE))
        .orElse(leaves.find { f =>
          val n = f.getPath.getName
          n != PARQUET_COMMON_METADATA_FILE && n != PARQUET_METADATA_FILE
        })
      val footers = ParquetFileFormat.readParquetFootersInParallel(
        getHadoopConf(sparkSession, parameters), chosen.toSeq,
        new FileSourceOptions(CaseInsensitiveMap(parameters)).ignoreCorruptFiles)
      ParquetFileFormat.readSchema(footers, sparkSession)
    }
}
