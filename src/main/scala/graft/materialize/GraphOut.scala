package graft.materialize

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CheckpointRow
import graft.io.IcebergishTable

/** Graph materialization with per-partition checkpointed, idempotent writes
  * (SURVEY.md §7.2 #8).
  *
  * Output tables are hash-bucketed [[IcebergishTable]]s. A stage writes all
  * of its pending buckets in ONE write; once that write's snapshot is
  * committed, one [[CheckpointRow]] per bucket (with lineage: input
  * fingerprint, row count, wall ms) is appended. A re-run with the same
  * (runId, stage, inputTag) verifies the acked buckets against the table
  * and recomputes only the rest — the reference's resumable batch-ack
  * cursor re-expressed (/root/reference/src/sharding.rs:237-271). A write
  * that fails commits nothing and acks nothing, so its re-run writes every
  * pending bucket again.
  */
object GraphOut {

  final case class WriteStats(partsWritten: Seq[Int], partsSkipped: Seq[Int],
                              rowsWritten: Long)

  /** Acked buckets whose on-disk data still matches the acked fingerprint.
    *
    * An ack row records `bit_xor(xxhash64(key))` of the bucket as written;
    * on resume we recompute it from the table (a column-pruned scan of the
    * key column over the acked buckets only) and demote any mismatch to
    * pending — a tampered or partially-deleted bucket recomputes instead of
    * silently surviving. The reference's ack is implicitly bound
    * to one dump context the same way (/root/reference/src/sharding.rs:
    * 86-137). First runs skip the scan entirely (no acks yet).
    */
  private def verifiedDoneParts(spark: SparkSession, table: String,
                                keyCol: String, ckptPath: String,
                                runId: String, stage: String,
                                inputTag: String): Set[Int] = {
    val expected = Checkpoint.ackedFingerprints(ckptPath, runId, stage, inputTag)
    if (expected.isEmpty || !IcebergishTable.exists(table)) return Set.empty
    val done = expected.keySet
    // Read of what is on disk: a deleted acked file must surface as a
    // fingerprint mismatch below (→ demote to pending and recompute),
    // not abort the verification with a missing-path error. A table with
    // no readable data files reads as a schema-typed empty frame, so only
    // zero-row acks (fp "0") stay done.
    val actual = IcebergishTable.readVerification(spark, table)
      .where(col(IcebergishTable.PartCol).isin(done.toSeq: _*))
      .groupBy(col(IcebergishTable.PartCol))
      .agg(coalesce(expr(s"bit_xor(xxhash64($keyCol))"), lit(0L)).as("fp"))
      .collect()
      .map(r => r.getInt(0) -> java.lang.Long.toHexString(r.getLong(1)))
      .toMap
    done.filter(p => actual.getOrElse(p, "0") == expected(p))
  }

  /** Shared write core: build the pre-partitioned plan of the stage's
    * pending buckets, write it over those buckets in ONE
    * [[IcebergishTable.writePrePartitioned]] execution, then ack each of
    * them with lineage. `plan(pending)` must return a DataFrame already
    * exchange-partitioned on [[IcebergishTable.PartCol]] (each task holds
    * exactly one bucket). Nothing is written when every bucket is done.
    *
    * Lineage (per-bucket row count + order-insensitive key fingerprint)
    * rides the WRITE JOB itself via `observe` — one pair of builtin
    * aggregates per bucket (`sum(when(part=p,1))`,
    * `bit_xor(when(part=p, xxhash64(key)) else 0)`; the extra zeros are
    * xor-identity) collected by a CollectMetrics node as the rows stream
    * into the files. This removed the post-write read-back scan that used
    * to cost a second (pruned) pass over every fresh file — measured as
    * the dominant per-build fixed cost at 300k pages.
    */
  private def writeGrouped(
      spark: SparkSession, table: String, keyCol: String, numParts: Int,
      ckptPath: String, runId: String, stage: String, inputTag: String)
      (plan: Seq[Int] => DataFrame): WriteStats = {
    val done = verifiedDoneParts(spark, table, keyCol, ckptPath, runId,
      stage, inputTag)
    val all = (0 until numParts).toSeq
    val pending = all.filterNot(done)
    if (pending.isEmpty) return WriteStats(pending, all, 0L)

    val t0 = System.nanoTime()
    val obs = org.apache.spark.sql.Observation(
      s"lineage-$stage-${java.util.UUID.randomUUID}")
    val part = col(IcebergishTable.PartCol)
    val metricCols = pending.flatMap { p =>
      Seq(
        sum(when(part === p, 1L).otherwise(0L)).as(s"n_$p"),
        expr(s"bit_xor(CASE WHEN ${IcebergishTable.PartCol} = $p " +
          s"THEN xxhash64($keyCol) ELSE 0L END)").as(s"fp_$p"))
    }
    val deduped = plan(pending)
      .observe(obs, metricCols.head, metricCols.tail: _*)
    // replaceParts = EVERY pending bucket: each leaves the parent manifest,
    // a rewritten bucket that came out empty included. The replaced files
    // stay on disk until expiry.
    IcebergishTable.writePrePartitioned(deduped, table, numParts, keyCol,
      replaceParts = pending)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    // Aggregates over an entirely empty plan come back null.
    val m = obs.get
    def asLong(v: Any): Long = v match {
      case null => 0L
      case l: java.lang.Long => l.longValue
      case other => other.toString.toLong
    }
    val rows = pending.map { p =>
      val n = asLong(m.getOrElse(s"n_$p", 0L))
      val fp = if (n == 0L) 0L else asLong(m.getOrElse(s"fp_$p", 0L))
      CheckpointRow(runId, stage, p, inputTag,
        java.lang.Long.toHexString(fp), n, n, wallMs, "done")
    }
    Checkpoint.append(spark, ckptPath, rows)
    WriteStats(pending, all.filter(done), rows.map(_.rows_out).sum)
  }

  /** Single-shuffle bucketed write with in-shuffle dedup (the 100 TB hot
    * path): ONE exchange on the bucket column; rows are sorted within each
    * bucket on the dedup key by the shuffle's spill-safe sort machinery and
    * de-duplicated with an O(1)-memory adjacent filter; each task then holds
    * exactly one bucket, so `partitionBy` emits one file per bucket with no
    * further repartition. `skewSalt > 1` is the maximum split of a hot
    * bucket ([[bucketedDedupPlanAlignedSalted]]).
    */
  def writeBucketedDedup(
      df: DataFrame,
      table: String,
      keyCol: String,
      numParts: Int,
      dedupCols: Seq[String],
      ckptPath: String,
      runId: String,
      stage: String,
      inputTag: String = "static",
      skewSalt: Int = 1
  ): WriteStats = {
    val withPart = df.withColumn(IcebergishTable.PartCol,
      IcebergishTable.partExpr(keyCol, numParts))
    writeGrouped(df.sparkSession, table, keyCol, numParts, ckptPath, runId,
      stage, inputTag) { pending =>
      val scoped = withPart.where(col(IcebergishTable.PartCol).isin(pending: _*))
      if (skewSalt <= 1)
        bucketedDedupPlanAligned(scoped, numParts, keyCol, dedupCols)
      else
        bucketedDedupPlanAlignedSalted(scoped, numParts, dedupCols, skewSalt)
    }
  }

  /** Bucket-ALIGNED single-exchange dedup (the hot-path default): because
    * [[IcebergishTable.partExpr]] is pmod(murmur3(key), n) — the exact
    * expression HashPartitioning uses for partition ids — repartitioning on
    * the KEY into exactly `numParts` partitions makes shuffle partition i
    * hold precisely bucket i: every reduce task is one whole bucket,
    * non-empty and balanced (vs hashing 32 bucket VALUES into 64 slots,
    * where birthday collisions gave some tasks 2-3 buckets and half none —
    * measured p50 36 ms / max 6.4 s at 300k pages). The dedup agg still
    * plans in-partition: `key` ∈ dedupCols ⊆ grouping keys.
    */
  def bucketedDedupPlanAligned(withPart: DataFrame, numParts: Int,
                               keyCol: String,
                               dedupCols: Seq[String]): DataFrame = {
    require(dedupCols.contains(keyCol),
      s"aligned dedup requires the bucket key '$keyCol' among dedup columns")
    dedupGroups(withPart.repartition(numParts, col(keyCol)),
      withPart.columns, Seq.empty, dedupCols)
  }

  /** Shared in-partition dedup aggregate over (part ++ extraKeys ++
    * dedupCols); preserves the input column order.
    */
  private def dedupGroups(sub: DataFrame, allCols: Seq[String],
                          extraKeys: Seq[String],
                          dedupCols: Seq[String]): DataFrame = {
    val keyCols = (IcebergishTable.PartCol +: extraKeys) ++ dedupCols
    val restCols = allCols.filterNot(keyCols.contains)
    val grouped =
      if (restCols.isEmpty)
        sub.groupBy(keyCols.map(col): _*).agg(count(lit(1))).drop("count(1)")
      else {
        // max, not first: first() is arrival-order-dependent, so two
        // duplicate rows differing only in a non-key column would flap
        // across runs/parallelism. max is order-free and deterministic.
        val aggs = restCols.map(c => max(col(c)).as(c))
        sub.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }
    grouped.select(allCols.map(col).toIndexedSeq: _*)
  }

  /** Ints whose Spark-HashPartitioning partition id (pmod(murmur3(x), m))
    * covers 0..m-1 exactly once: `inverseHashSlots(m)(s)` lands in shuffle
    * slot `s`. Brute search, ~m·ln(m) murmur evaluations driver-side —
    * microseconds at file-layout scale (m ≤ 10³).
    */
  private[graft] def inverseHashSlots(m: Int): Array[Int] = {
    val out = new Array[Int](m)
    val found = new Array[Boolean](m)
    var remaining = m
    var x = 0
    while (remaining > 0) {
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(x, org.apache.spark.sql.types.IntegerType, 42L).toInt
      val id = ((h % m) + m) % m
      if (!found(id)) { found(id) = true; out(id) = x; remaining -= 1 }
      x += 1
    }
    out
  }

  /** Bucket-aligned SALTED single-exchange dedup: ONE exchange of
    * `numParts × maxSplit` slots laid out bucket-major — slot
    * `b·maxSplit + j` holds split `j` of bucket `b`, the split a pure
    * function of the dedup key (duplicates still meet). The slot column is
    * marked with `maxSplit` ([[graft.plans.SplitHotBuckets.markSlots]]), so
    * under adaptive execution with [[graft.plans.GraftExtensions]] the
    * write reads each bucket's slots as one task unless the map statistics
    * show the bucket alone outweighs a core's fair share; then it spans up
    * to `maxSplit` tasks. Every task holds one bucket either way; without
    * the rule every slot is its own task (the uniform split).
    *
    * Alignment trick: HashPartitioning can't be told "partition id =
    * part·maxSplit + split" directly, and hashing (part, split) into m slots
    * collides birthday-style (measured occ 82% / p50 43 ms vs the aligned
    * plan's one-whole-bucket tasks). Instead we shuffle on a synthetic int
    * column looked up from [[inverseHashSlots]]: a literal array whose
    * entry for slot s is an int that murmur3-hashes TO s. The slot column
    * joins the grouping keys so the child's HashPartitioning satisfies the
    * aggregation — still exactly ONE exchange.
    */
  def bucketedDedupPlanAlignedSalted(withPart: DataFrame, numParts: Int,
                                     dedupCols: Seq[String],
                                     maxSplit: Int): DataFrame = {
    require(dedupCols.nonEmpty, "salted dedup requires dedup columns")
    val m = numParts * maxSplit
    val saltCol = "_wsalt"
    val slotCol = "_wslot"
    val lookup = inverseHashSlots(m)
    val salted = withPart
      .withColumn(saltCol,
        pmod(xxhash64(dedupCols.map(col): _*), lit(maxSplit)).cast("int"))
      .withColumn(slotCol, graft.plans.SplitHotBuckets.markSlots(element_at(
        typedLit(lookup.toSeq),
        col(IcebergishTable.PartCol) * maxSplit + col(saltCol) + 1), slotCol, maxSplit))
    val sub = salted.repartition(m, col(slotCol))
    dedupGroups(sub, withPart.columns, Seq(slotCol, saltCol), dedupCols)
  }

  /** Vertex table from canonical triples: every subject/object id with its
    * triple-degree as a property.
    */
  def vertices(triples: DataFrame): DataFrame = {
    val ids = triples.select(col("subj").as("id"))
      .union(triples.select(col("obj").as("id")))
    ids.groupBy(col("id"))
      .agg(count(lit(1)).as("degree"))
      .select(
        col("id"),
        lit("entity").as("label"),
        map(lit("degree"), col("degree").cast("string")).as("props"))
  }

  /** Single-exchange vertex derivation (exposed for plan assertions): the
    * endpoint-id union exchanges ONCE on the bucket column; the degree
    * count then runs as an in-partition HashAggregate on (part, id) — the
    * child HashPartitioning on `part` is a subset of the grouping keys, so
    * no second exchange is planned. Halves the old vertex path's shuffles
    * (groupBy(id) exchange + bucket repartition → one bucket exchange).
    */
  def verticesBucketedPlan(triples: DataFrame, numParts: Int,
                           parts: Option[Seq[Int]] = None): DataFrame = {
    // explode(array(subj, obj)), not union of two projections: the union
    // form executes BOTH children — two full scans of the edge table for
    // one endpoint pass. The generator emits the identical id multiset
    // (one subj + one obj per triple) from a single scan; PlanSpec pins
    // result equality against the reference vertices() operator.
    val ids = triples
      .select(explode(array(col("subj"), col("obj"))).as("id"))
      .withColumn(IcebergishTable.PartCol,
        IcebergishTable.partExpr("id", numParts))
    // Bucket filter BEFORE the exchange: a resume with few pending buckets
    // only shuffles those buckets' ids.
    val scoped = parts.fold(ids)(p =>
      ids.where(col(IcebergishTable.PartCol).isin(p: _*)))
    // Repartition on the KEY into exactly numParts partitions: partition id
    // = pmod(murmur3(id), n) = part (see IcebergishTable.partExpr), so each
    // reduce task holds exactly one whole bucket — even tasks, no
    // bucket-into-slot hash collisions. `id` ∈ grouping keys keeps the
    // degree aggregate in-partition (one exchange total).
    scoped.repartition(numParts, col("id"))
      .groupBy(col(IcebergishTable.PartCol), col("id"))
      .agg(count(lit(1)).as("degree"))
      .select(
        col("id"),
        lit("entity").as("label"),
        map(lit("degree"), col("degree").cast("string")).as("props"),
        col(IcebergishTable.PartCol))
  }

  /** Checkpointed vertex write straight from the (already canonical) edge
    * table — the fused path used by `Pipeline.build`.
    */
  def writeVerticesBucketed(
      triples: DataFrame,
      table: String,
      numParts: Int,
      ckptPath: String,
      runId: String,
      stage: String,
      inputTag: String = "static"
  ): WriteStats =
    writeGrouped(triples.sparkSession, table, "id", numParts, ckptPath,
      runId, stage, inputTag) { pending =>
      verticesBucketedPlan(triples, numParts, Some(pending))
    }
}
