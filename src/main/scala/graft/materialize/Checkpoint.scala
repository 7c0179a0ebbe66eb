package graft.materialize

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.CheckpointRow

/** Checkpoint table: per-partition lineage + resume marker
  * (SURVEY.md §7.2 #8, FIXTURES.md §6).
  *
  * Spark analog of the reference's batch-acknowledgement protocol — a batch
  * is acknowledged only after it has been received
  * (/root/reference/src/sharding.rs:270-271, ack of `lastBatch` while
  * requesting the next): here a partition's checkpoint row is appended only
  * *after* its data files are durably written, so a missing row always means
  * "not done" and resume recomputes exactly the pending partitions.
  *
  * Storage is a single JSONL log file appended driver-side (checkpoint rows
  * are tiny and bounded by stages × buckets): a long run with many commit
  * groups and retries grows ONE file, not an unbounded pile of one-row
  * parquet part files. A crash mid-append can leave at most one torn final
  * line; the reader drops lines that fail to parse, and a torn ack row
  * degrades to "not done" — the safe direction.
  */
object Checkpoint {

  private def logFile(path: String): Path = Paths.get(path, "checkpoint.jsonl")

  private implicit val formats: Formats = DefaultFormats

  /** One row as one compact JSON object per line. */
  private[graft] def encode(r: CheckpointRow): String = Serialization.write(r)

  /** A torn or foreign line decodes to None: read as absent (= not done). */
  private[graft] def decode(line: String): Option[CheckpointRow] =
    try Some(Serialization.read[CheckpointRow](line))
    catch { case NonFatal(_) => None }

  /** All rows driver-side (bounded: stages × buckets × retries, tiny). */
  def readRows(path: String): Seq[CheckpointRow] = {
    val f = logFile(path)
    if (!Files.exists(f)) Seq.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
      .flatMap(decode)
  }

  def read(spark: SparkSession, path: String): Dataset[CheckpointRow] = {
    import spark.implicits._
    spark.createDataset(readRows(path))
  }

  def append(spark: SparkSession, path: String,
             rows: Seq[CheckpointRow]): Unit = {
    Files.createDirectories(Paths.get(path))
    val f = logFile(path)
    // A crash can leave a torn (newline-less) tail; start on a fresh line so
    // the first post-crash append isn't concatenated into the torn garbage.
    // O(1): read only the final byte, not the whole log.
    val needsNl = Files.exists(f) && Files.size(f) > 0 && {
      val ch = Files.newByteChannel(f, StandardOpenOption.READ)
      try {
        ch.position(ch.size() - 1)
        val buf = java.nio.ByteBuffer.allocate(1)
        ch.read(buf)
        buf.get(0) != '\n'.toByte
      } finally ch.close()
    }
    val payload = rows.map(encode).mkString(if (needsNl) "\n" else "", "\n", "\n")
    Files.write(f, payload.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND,
      StandardOpenOption.SYNC) // ack must be durable before we report done
  }

  /** Acked parts of `stage` for `runId` AND the same input snapshot, each
    * with the input fingerprint of its last ack — an ack against a
    * different input is stale (the reference's cursor is likewise bound to
    * one dump context, /root/reference/src/sharding.rs:86-137).
    */
  def ackedFingerprints(path: String, runId: String, stage: String,
                        inputTag: String): Map[Int, String] =
    readRows(path)
      .filter(r => r.run_id == runId && r.stage == stage &&
        r.status == "done" && r.input_tag == inputTag)
      .groupBy(_.part).view.mapValues(_.last.input_fingerprint).toMap
}
