package graft

import java.sql.Timestamp

/** Core data model of the KG-construction engine (SURVEY.md §1.4, §7.2).
  *
  * The reference models a graph as vertex/edge collections of schemaless JSON
  * docs (/root/reference/src/graph_loader.rs:28-49); we fix the schemas as
  * typed Datasets so Catalyst can prune/pushdown and Tungsten can codegen.
  */

/** Input row — matches BASELINE.json `input_hint` exactly:
  * (url string, warc_ts timestamp, html binary, text string, lang string).
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** A detected surface-form occurrence in a page's extracted text.
  * `begin`/`end` are character offsets into `text` (end exclusive).
  */
final case class Mention(
    url: String,
    mention: String,
    begin: Int,
    end: Int
)

/** A linked mention: mention + winning entity + link confidence. */
final case class LinkedMention(
    url: String,
    mention: String,
    begin: Int,
    end: Int,
    entity: String,
    conf: Double
)

/** Alias-dictionary row (broadcast side of the link join).
  * The reference's analog of a small metadata catalog
  * (/root/reference/src/graph_loader.rs:1047-1109).
  */
final case class Alias(alias: String, entity: String, score: Double)

/** Emitted triple — the reference's edge row (`_from`,`_to` + collection
  * name, /root/reference/src/graph_loader.rs:629-641) becomes
  * (subj, pred, obj) + provenance url + confidence.
  */
final case class Triple(
    subj: String,
    pred: String,
    obj: String,
    url: String,
    conf: Double
)

/** Materialized vertex (post-canonicalization). */
final case class Vertex(
    id: String,
    label: String,
    props: Map[String, String],
    part: Int
)

/** Materialized edge (post-canonicalization). */
final case class Edge(
    subj: String,
    pred: String,
    obj: String,
    url: String,
    part: Int
)

/** Typed failure taxonomy — the reference normalizes every failure into a
  * 19-variant error ADT (/root/reference/src/errors.rs:4-70). Most of those
  * variants are HTTP/cursor-protocol failures that Spark's own machinery
  * owns here (task retries, FetchFailed, AnalysisException for
  * schema/resolution errors, PERMISSIVE-mode quarantine for malformed
  * rows); this sealed hierarchy covers the library's OWN validation and
  * table-protocol surfaces so callers can match exhaustively.
  */
sealed abstract class GraftError(msg: String)
    extends RuntimeException(msg)

/** Inconsistent pipeline configuration rejected at init (reference
  * `verify_parameters`, graph_loader.rs:253-271).
  */
final class InvalidConfig(msg: String) extends GraftError(msg)

/** Path is not an Icebergish table (no committed snapshot). */
final class TableNotFound(table: String)
    extends GraftError(s"not an Icebergish table (no VERSION): $table")

/** Requested snapshot is missing/expired (Iceberg's expired-snapshot
  * analog).
  */
final class SnapshotNotFound(table: String, snapshot: Int)
    extends GraftError(s"snapshot $snapshot does not exist for $table")

/** Named graph absent from the supplied catalog (reference
  * `fetch_edge_and_vertex_collections_by_graph` failing the lookup,
  * graph_loader.rs:1047-1109).
  */
final class GraphNotInCatalog(graph: String)
    extends GraftError(s"no such graph in catalog: $graph")

/** A snapshot manifest exists but cannot be parsed (torn write, manual
  * corruption) — the table-protocol analog of the reference's decoding
  * error normalization (/root/reference/src/errors.rs:30-41: malformed
  * server payloads become typed `Deserialization`/`Parse` variants instead
  * of raw panics).
  */
final class ManifestCorrupted(table: String, snapshot: Int, detail: String)
    extends GraftError(
      s"snapshot manifest snap-$snapshot.json of $table is corrupted: $detail")

/** A write's bucket layout disagrees with the table's committed spec —
  * appending (key=x, n=8) data into a (key=y, n=16) table would silently
  * break storage-partitioned joins and bucket pruning, so it is rejected
  * up front (reference `verify_parameters` discipline,
  * graph_loader.rs:253-271).
  */
final class BucketSpecMismatch(table: String, expected: String, got: String)
    extends GraftError(
      s"bucket spec mismatch for $table: table is bucketed by $expected, write supplied $got")

/** A write's schema is incompatible with the table's committed schema:
  * subset writes (pre-evolution writers) resolve fine, but a write that
  * invents columns or changes a type would silently fork the table's
  * schema history — rejected up front, with the fix named (addColumn /
  * ALTER TABLE ADD COLUMN for legitimate widening).
  */
final class SchemaMismatch(table: String, expected: String, got: String,
                           detail: String)
    extends GraftError(
      s"schema mismatch for $table: table is $expected, write supplied $got — $detail")

/** A replace-type commit (compaction, maintenance rewrite) found that
  * another writer committed since it pinned its input snapshot. Committing
  * anyway would merge a replace-all file list onto an unseen parent and
  * silently drop the other writer's files — so the loser aborts cleanly
  * and retries against the new current snapshot (Iceberg's
  * CommitFailedException analog). Plain concurrent APPENDS never raise
  * this: their deltas merge commutatively under the commit CAS.
  */
final class CommitConflict(table: String, expected: Int, found: Int)
    extends GraftError(
      s"concurrent commit on $table: expected parent snapshot $expected, found $found")

/** A media payload failed byte-level decode (truncated container, bad
  * magic, unsupported codec parameters). At 10^9-row media-table scale a
  * single corrupt blob must be COUNTED, not kill the job: the batched
  * extract path catches this variant per row and routes the offender to a
  * quarantine side-channel (the media twin of the JSONL source's
  * PERMISSIVE-mode quarantine) while the batch completes.
  */
final class MediaDecodeFailed(mediaId: Long, kind: String, detail: String)
    extends GraftError(s"media $mediaId ($kind) failed to decode: $detail")

/** One row per completed partition of a stage — the Spark analog of the
  * reference's batch-acknowledgement resume protocol
  * (/root/reference/src/sharding.rs:237-239, :270-271): a partition is
  * acknowledged (checkpoint row written) only after its data is durably
  * written, so a crashed run resumes exactly at the pending partitions.
  */
final case class CheckpointRow(
    run_id: String,
    stage: String,
    part: Int,
    input_tag: String, // input-table snapshot id: a checkpoint row is only
    // valid for resume while the input snapshot matches
    input_fingerprint: String,
    rows_in: Long,
    rows_out: Long,
    wall_ms: Long,
    status: String
)
