package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetWriterBridge
import org.apache.spark.sql.types.StructType

import graft.io.{IcebergishTable, TableFileWriter, WrittenFiles}

/** Native DSv2 streaming sink for Icebergish tables:
  * `df.writeStream.toTable("graft.edges")` — the one-line streaming twin of
  * the batch `writeTo` path. It shares its replay guard, the manifest's
  * `queryId → epoch` high-water, and its commit with the foreachBatch sink
  * [[graft.streaming.StreamingKg.appendBatch]].
  *
  * Protocol (per micro-batch epoch):
  *  1. driver: Spark asks for one writer factory per epoch; it draws a
  *     fresh write uid.
  *  2. executors: each task's [[graft.io.TableFileWriter]] — the writer
  *     every batch table write uses — routes rows to their bucket by
  *     pmod(murmur3(key), n), the table's committed layout, writes one
  *     parquet file per bucket it sees under the write's HIDDEN staging
  *     tree `data/_staging/batch-<uid>/` (invisible to reads; a failed task
  *     deletes its files), and returns each file with the bounds and row
  *     count it read back from the footer.
  *  3. driver: [[StreamingWrite.commit]] hands the staged files to the
  *     table's one commit funnel ([[IcebergishTable.appendStaged]]), which
  *     promotes them into their bucket dirs and commits a snapshot
  *     recording `queryId → epoch` in ONE atomic VERSION swap. A replayed
  *     epoch (≤ the recorded high-water) and an epoch that staged no files
  *     commit nothing. A crash between promote and commit leaves orphans
  *     that no manifest references ([[IcebergishTable.removeOrphans]]
  *     reclaims them); the replay commits the epoch once.
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

  // The running epoch's write uid, read back by its commit or abort
  // (micro-batches run one at a time).
  @volatile private var uid = ""

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    uid = TableFileWriter.newUid()
    GraftStreamingWriterFactory(path, uid, key, n, writeSchema, confEntries)
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit =
    IcebergishTable.appendStaged(path, uid, messages.toSeq.collect {
      case m: WrittenFiles => m.files
    }.flatten, queryId, epochId)

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    IcebergishTable.dropStaging(path, uid)
}

final case class GraftStreamingWriterFactory(path: String, uid: String, key: String,
                                             n: Int, schema: StructType,
                                             confEntries: Map[String, String])
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    TableFileWriter.byKey(path, uid, key, n, schema, confEntries,
      partitionId, taskId, epochId)
}
