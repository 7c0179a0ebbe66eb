package graft.sources.v2

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetWriterBridge
import org.apache.spark.sql.types.StructType

import graft.io.IcebergishTable

/** Native DSv2 streaming sink for Icebergish tables:
  * `df.writeStream.toTable("graft.edges")` — the one-line streaming twin of
  * the batch `writeTo` path. It shares its replay guard, the manifest's
  * `queryId → epoch` high-water, with the foreachBatch sink
  * [[graft.streaming.StreamingKg.appendBatch]].
  *
  * Protocol (per micro-batch epoch):
  *  1. executors: each [[GraftStreamingDataWriter]] routes rows to their
  *     bucket — pmod(murmur3(key), n), the table's committed layout — and
  *     writes one parquet file per bucket it sees under the HIDDEN staging
  *     dir `data/_staging/q-<queryId>/epoch-<E>/` (invisible to reads and
  *     to directory-derived commits; a crashed task leaves no live data).
  *  2. driver: [[StreamingWrite.commit]] hands the staged file list to
  *     [[IcebergishTable.streamCommit]], which promotes the files into
  *     their bucket dirs and commits a snapshot recording `queryId → epoch`
  *     in ONE atomic VERSION swap. Replayed epochs (≤ the recorded
  *     high-water) discard their staged files — exactly-once across
  *     restarts, with the crash-window orphan sweep documented there.
  *
  * A fanout writer may open up to `buckets` files per task per epoch; the
  * table's [[IcebergishTable.compact]] is the documented small-file valve
  * (same contract as Iceberg's streaming appends).
  */
final class GraftStreamingWrite(path: String, key: String, n: Int,
                                queryId: String, writeSchema0: StructType)
    extends StreamingWrite {

  // Field ids from the committed manifest ride the write schema so the
  // staged parquet files embed them (the bridge's conf keeps Spark's
  // field-id write enabled) — without this, streamed files of an id-aware
  // table would lack ids and id-resolving reads of the table would fail
  // loudly on them after any rename.
  private val writeSchema: StructType =
    IcebergishTable.annotateFieldIds(path, writeSchema0)

  // Captured on the driver at plan time; the string map ships to executors.
  private val confEntries =
    GraftParquetWriterBridge.writerConfEntries(SparkSession.active, writeSchema)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    GraftStreamingWriterFactory(path, key, n, writeSchema, confEntries, queryId)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.toSeq.collect {
      case m: GraftStreamCommitMessage => m.files
    }.flatten
    IcebergishTable.streamCommit(path, staged, queryId, epochId)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: GraftStreamCommitMessage =>
        m.files.foreach { case (_, rel) =>
          Files.deleteIfExists(Paths.get(path).resolve(rel))
        }
      case _ => // task never produced a message
    }
}

/** (bucket, table-relative staged path) per file a task wrote. */
final case class GraftStreamCommitMessage(files: Seq[(Int, String)])
    extends WriterCommitMessage

final case class GraftStreamingWriterFactory(path: String, key: String,
                                             n: Int, schema: StructType,
                                             confEntries: Map[String, String],
                                             queryId: String)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftStreamingDataWriter(path, key, n, schema, confEntries, queryId,
      partitionId, taskId, epochId)
}

/** Fanout writer: one parquet file per bucket this task's rows touch,
  * staged under the hidden `_staging` tree until the driver's epoch commit.
  */
final class GraftStreamingDataWriter(path: String, key: String, n: Int,
                                     schema: StructType,
                                     confEntries: Map[String, String],
                                     queryId: String, partitionId: Int,
                                     taskId: Long, epochId: Long)
    extends DataWriter[InternalRow] {

  private val keyIdx = schema.fieldIndex(key)
  private val keyType = schema(keyIdx).dataType

  private val open = mutable.Map.empty[Int,
    (org.apache.spark.sql.execution.datasources.OutputWriter, String)]
  private var closed = false

  private def bucketOf(row: InternalRow): Int = {
    // Spark's hash(): Murmur3, seed 42 — identical to the batch writer's
    // partExpr and to HashPartitioning, so streamed and batch-written rows
    // of one key always share a bucket.
    val h = Murmur3HashFunction.hash(row.get(keyIdx, keyType), keyType, 42L).toInt
    ((h % n) + n) % n
  }

  override def write(row: InternalRow): Unit = {
    val b = bucketOf(row)
    val w = open.getOrElseUpdate(b, {
      // queryId AND epochId are part of the FILE name, not just the
      // staging dir: task ids reset with a new SparkContext, so across
      // application restarts another epoch — or another QUERY — can
      // repeat a (partition, task) pair, and promoting a colliding name
      // would silently REPLACE an earlier committed file. The -q<id>-
      // segment also lets the epoch commit sweep exactly THIS query's
      // crashed-promote orphans (see IcebergishTable.streamCommit).
      val rel = s"data/_staging/q-$queryId/epoch-$epochId/" +
        s"b$b-q$queryId-e$epochId-p$partitionId-t$taskId.parquet"
      val abs = Paths.get(path).resolve(rel)
      Files.createDirectories(abs.getParent)
      (GraftParquetWriterBridge.open(abs.toString, confEntries,
        partitionId, taskId, epochId), rel)
    })._1
    w.write(row)
  }

  override def commit(): WriterCommitMessage = {
    closeAll()
    GraftStreamCommitMessage(
      open.toSeq.map { case (b, (_, rel)) => (b, rel) }.sortBy(_._1))
  }

  override def abort(): Unit = {
    closeAll()
    open.values.foreach { case (_, rel) =>
      Files.deleteIfExists(Paths.get(path).resolve(rel))
    }
  }

  override def close(): Unit = closeAll()

  private def closeAll(): Unit = if (!closed) {
    closed = true
    open.values.foreach(_._1.close())
  }
}
