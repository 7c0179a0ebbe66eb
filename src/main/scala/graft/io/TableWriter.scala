package graft.io

import java.nio.file.{Files, NoSuchFileException, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, Murmur3HashFunction, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.OutputWriter
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetWriterBridge
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One data file a table write staged: its bucket, table-relative path,
  * zone-map bounds and exact row count. The bounds and count come from the
  * footer, read back by the task that wrote the file; a file committed
  * without them (a caller-staged file) has no bounds and `rows` -1.
  */
final case class WrittenFile(bucket: Int, path: String,
                             stats: ManifestStats.FileStats = Map.empty,
                             rows: Long = -1L)

/** What one writing task hands the driver: the files it staged. */
final case class WrittenFiles(files: Seq[WrittenFile]) extends WriterCommitMessage

/** The task side of every table write, batch and stream: one parquet file
  * per bucket the task's rows reach, staged under the write's hidden
  * `data/_staging/batch-<uid>/` tree (invisible to reads until the driver
  * promotes it). Rows reach their bucket either through the `part` column
  * the batch writes carry, or through the table's key hash (the DSv2
  * streaming sink); either way a file is named
  * `part=<b>/part-<pid>-<uid>-<attempt>.parquet`.
  *
  * [[commit]] closes the files and reads each footer back
  * ([[ManifestStats.statsAndCount]]) so the driver commits bounds and row
  * counts without opening a file; [[abort]] deletes what the task wrote.
  * A writer opens at most one file per bucket and never splits one, so
  * `spark.sql.files.maxRecordsPerFile` does not apply to table files.
  */
final class TableFileWriter private (table: String, stagedPath: Int => String,
                                     bucketOf: InternalRow => Int,
                                     dataOf: InternalRow => InternalRow,
                                     confEntries: Map[String, String],
                                     partitionId: Int, taskId: Long, epochId: Long)
    extends DataWriter[InternalRow] {

  private val root = Paths.get(table)
  private val open = mutable.LinkedHashMap.empty[Int, (OutputWriter, String)]
  private var closed = false

  private val truncateLength =
    confEntries.get("parquet.statistics.truncate.length").map(_.trim.toInt)
      .getOrElse(Int.MaxValue)

  override def write(row: InternalRow): Unit = {
    val b = bucketOf(row)
    open.getOrElseUpdate(b, {
      val rel = stagedPath(b)
      val abs = root.resolve(rel)
      TableFileWriter.createParent(abs)
      (GraftParquetWriterBridge.open(abs.toString, confEntries,
        partitionId, taskId, epochId), rel)
    })._1.write(dataOf(row))
  }

  override def commit(): WrittenFiles = {
    closeAll()
    WrittenFiles(open.toSeq.sortBy(_._1).map { case (b, (_, rel)) =>
      val (stats, rows) = ManifestStats.statsAndCount(root.resolve(rel), truncateLength)
      WrittenFile(b, rel, stats, rows)
    })
  }

  override def abort(): Unit = {
    try closeAll()
    finally open.values.foreach { case (_, rel) => Files.deleteIfExists(root.resolve(rel)) }
  }

  override def close(): Unit = closeAll()

  private def closeAll(): Unit = if (!closed) {
    closed = true
    open.values.foreach(_._1.close())
  }
}

object TableFileWriter {

  /** A fresh write id: names one write's staging tree and its files. */
  def newUid(): String = java.util.UUID.randomUUID.toString.take(12)

  /** Table-relative root of every write's staging tree. */
  val StagingRoot = "data/_staging"

  /** Table-relative staging tree of the write `uid`. */
  def staging(uid: String): String = s"$StagingRoot/batch-$uid"

  /** Staged path of bucket `b`'s file of one task attempt: the uid and the
    * attempt id make it unique across writes and attempts.
    */
  private def stagedPath(uid: String, pid: Int, attempt: Long)(b: Int): String =
    f"${staging(uid)}/${IcebergishTable.PartCol}=$b/part-$pid%05d-$uid-$attempt.parquet"

  /** A batch write task: rows carry `part`, which routes them and is not
    * written (it is the file's directory).
    */
  def byPart(table: String, uid: String, input: Seq[Attribute],
             confEntries: Map[String, String], ctx: TaskContext): TableFileWriter = {
    val partIdx = input.indexWhere(_.name == IcebergishTable.PartCol)
    val project = UnsafeProjection.create(
      input.filterNot(_.name == IcebergishTable.PartCol), input)
    val pid = ctx.partitionId()
    val attempt = ctx.taskAttemptId()
    new TableFileWriter(table, stagedPath(uid, pid, attempt),
      _.getInt(partIdx), project, confEntries, pid, attempt, 0L)
  }

  /** A streaming epoch task: bucket = pmod(murmur3(key), n), Spark's
    * `hash()` — identical to [[IcebergishTable.partExpr]] and to
    * HashPartitioning, so streamed and batch-written rows of one key share
    * a bucket.
    */
  def byKey(table: String, uid: String, key: String, n: Int, schema: StructType,
            confEntries: Map[String, String],
            partitionId: Int, taskId: Long, epochId: Long): TableFileWriter = {
    val keyIdx = schema.fieldIndex(key)
    val keyType = schema(keyIdx).dataType
    new TableFileWriter(table, stagedPath(uid, partitionId, taskId),
      row => {
        val h = Murmur3HashFunction.hash(row.get(keyIdx, keyType), keyType, 42L).toInt
        ((h % n) + n) % n
      },
      identity, confEntries, partitionId, taskId, epochId)
  }

  /** `Files.createDirectories`, retried when a concurrent writer removed an
    * emptied `data/_staging` between two of its steps.
    */
  private[io] def createParent(file: Path): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try { Files.createDirectories(file.getParent); done = true }
      catch { case e: NoSuchFileException => attempt += 1; if (attempt >= 5) throw e }
    }
  }
}

/** Logical root of a table write: writes its child's rows (each carrying
  * [[IcebergishTable.PartCol]]) under the staging tree of `uid` and returns
  * one row per file — (bucket, path, rows, stats as flat [column, min,
  * max, …]).
  */
final case class TableWrite(child: LogicalPlan, table: String,
                            uid: String, confEntries: Map[String, String],
                            output: Seq[Attribute]) extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(c: LogicalPlan): TableWrite = copy(child = c)
}

/** Physical twin of [[TableWrite]]. It is the root of the write's plan, as
  * Spark's `WriteFilesExec` is: adaptive execution then requires no
  * distribution at the root and drops a caller's trailing
  * `repartition(n, key)` when the rows are already partitioned that way. It
  * asks for no ordering: [[TableFileWriter]] fans out by bucket.
  */
final case class TableWriteExec(child: SparkPlan, table: String,
                                uid: String, confEntries: Map[String, String],
                                output: Seq[Attribute]) extends UnaryExecNode {

  override def producedAttributes: AttributeSet = outputSet

  override protected def withNewChildInternal(c: SparkPlan): TableWriteExec = copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val (t, u, conf, input) = (table, uid, confEntries, child.output)
    val outTypes = output.map(_.dataType).toArray
    child.execute().mapPartitions { rows =>
      val toUnsafe = UnsafeProjection.create(outTypes)
      val w = TableFileWriter.byPart(t, u, input, conf, TaskContext.get())
      val written =
        try { rows.foreach(w.write); w.commit() }
        catch { case e: Throwable =>
          try w.abort() catch { case NonFatal(a) => e.addSuppressed(a) }
          throw e
        }
        finally w.close()
      written.files.iterator.map { f =>
        toUnsafe(new GenericInternalRow(Array[Any](f.bucket, UTF8String.fromString(f.path),
          f.rows, new GenericArrayData(f.stats.toSeq.sortBy(_._1).flatMap {
            case (c, (mn, mx)) => Seq(c, mn, mx) }.map(UTF8String.fromString).toArray[Any])))).copy()
      }
    }
  }
}

/** Plans [[TableWrite]]; installed once per session by [[TableWriter]]. */
object TableWriteStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case w: TableWrite =>
      TableWriteExec(planLater(w.child), w.table, w.uid, w.confEntries, w.output) :: Nil
    case _ => Nil
  }
}

object TableWriter {

  /** Write `df` (carrying [[IcebergishTable.PartCol]]) into the staging
    * tree of `uid` as one SQL execution — observations on `df` fire — and
    * return the staged files. Opens no file on the driver.
    */
  def stage(df: DataFrame, table: String, uid: String): Seq[WrittenFile] = {
    val spark = df.sparkSession
    install(spark)
    val dataSchema = StructType(df.schema.filterNot(_.name == IcebergishTable.PartCol))
    val conf = GraftParquetWriterBridge.writerConfEntries(spark, dataSchema)
    val out = Seq(
      AttributeReference("bucket", IntegerType, nullable = false)(),
      AttributeReference("path", StringType, nullable = false)(),
      AttributeReference("rows", LongType, nullable = false)(),
      AttributeReference("stats", ArrayType(StringType, containsNull = false),
        nullable = false)())
    org.apache.spark.sql.GraftColumnBridge.dfOf(spark,
        TableWrite(df.queryExecution.analyzed, table, uid, conf, out))
      .collect().toSeq.map { r =>
        WrittenFile(r.getInt(0), r.getString(1),
          r.getSeq[String](3).grouped(3).map { case Seq(c, mn, mx) => c -> (mn, mx) }.toMap,
          r.getLong(2))
      }
  }

  /** Add [[TableWriteStrategy]] to `spark`'s planner unless present. Not
    * every writing session installs the engine's extensions, so each write
    * checks its own session.
    */
  private def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(TableWriteStrategy))
        x.extraStrategies = TableWriteStrategy +: x.extraStrategies
    }
  }
}
