/*
 * Lives in Spark's parquet datasource package solely to reach the
 * private[sql] standalone parquet writer machinery (ParquetOutputWriter,
 * ParquetWriteSupport) that task-side table writers need — Spark's own
 * file-based streaming sinks use exactly these classes. Everything used
 * here is Apache Spark public source.
 */
package org.apache.spark.sql.execution.datasources.parquet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetOutputFormat

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Bridge for writing `InternalRow`s to a single parquet file outside a
  * Spark write job — the executor half of every table write
  * (`graft.io.TableFileWriter`: each task owns its files; the driver
  * promotes them at commit). Mirrors the subset of
  * `ParquetFileFormat.prepareWrite` the record writer actually consults.
  */
object GraftParquetWriterBridge {

  /** Driver side: the conf entries a standalone ParquetWriteSupport needs,
    * captured from `spark` (hadoop `Configuration` itself is not
    * serializable; this string map is): every `parquet.*` key of the
    * session's Hadoop conf, so a user's parquet settings reach the files,
    * then the writer's own entries over them.
    */
  def writerConfEntries(spark: SparkSession, schema: StructType): Map[String, String] = {
    val sqlConf = spark.sessionState.conf
    val tmp = new Configuration(false)
    ParquetWriteSupport.setSchema(schema, tmp)
    val parquetKeys = spark.sessionState.newHadoopConf().iterator().asScala
      .map(e => e.getKey -> e.getValue).filter(_._1.startsWith("parquet.")).toMap
    parquetKeys ++ Map(
      ParquetOutputFormat.WRITE_SUPPORT_CLASS -> classOf[ParquetWriteSupport].getName,
      ParquetWriteSupport.SPARK_ROW_SCHEMA -> tmp.get(ParquetWriteSupport.SPARK_ROW_SCHEMA),
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key -> sqlConf.writeLegacyParquetFormat.toString,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key -> sqlConf.parquetOutputTimestampType.toString,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key -> sqlConf.parquetFieldIdWriteEnabled.toString,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key ->
        sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString,
      SQLConf.CASE_SENSITIVE.key -> sqlConf.caseSensitiveAnalysis.toString,
      // Spark codec names ("none", "lz4raw", …) must map through
      // ParquetOptions to parquet-mr enum names ("UNCOMPRESSED",
      // "LZ4_RAW") — the raw SQLConf value crashes CompressionCodecName
      // .fromConf for exactly those legal values.
      ParquetOutputFormat.COMPRESSION ->
        new ParquetOptions(Map.empty[String, String], sqlConf)
          .compressionCodecClassName
    )
  }

  /** Executor side: open a parquet writer at `path` (absolute, one file),
    * on a conf holding `confEntries` only — no Hadoop default resources
    * are parsed per file.
    */
  def open(path: String, confEntries: Map[String, String],
           partitionId: Int, taskId: Long, epochId: Long): OutputWriter = {
    val conf = new Configuration(false)
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    val attemptId = new TaskAttemptID(
      new TaskID(new JobID("graft-write", (epochId & 0x7fffffffL).toInt),
        TaskType.MAP, partitionId),
      (taskId & 0x7fffffffL).toInt)
    new ParquetOutputWriter(path, new TaskAttemptContextImpl(conf, attemptId))
  }
}
