package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CoalescedPartitionSpec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AQEShuffleReadRule, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike, ShuffleOrigin}
import org.apache.spark.sql.types.MetadataBuilder

/** Query-stage rule that splits only the hot buckets of the salted edges
  * shuffle ([[graft.materialize.GraphOut.bucketedDedupPlanAlignedSalted]]),
  * sized from that shuffle's own map statistics.
  *
  * The shuffle lays out `n × S` slots bucket-major: slot `b·S + j` holds
  * split `j` of bucket `b`, and its key column carries `S` as metadata
  * ([[markSlots]]). Once the map stage has run, the rule reads it through an
  * [[AQEShuffleReadExec]] of contiguous slot ranges ([[ranges]]): a bucket
  * gets more than one task only when it alone outweighs one core's fair
  * share of the shuffle, and every task holds exactly one bucket, so a
  * light bucket writes one file. Heavy keys get slots in proportion to
  * their load while light keys stay on one slot (*Two-Attribute Skew Free
  * … Massively Parallel Joins*, PODS 2021).
  *
  * Without adaptive execution, or in a session without
  * [[GraftExtensions]], every slot is its own task: the uniform split,
  * which is equally correct (duplicates share a slot either way).
  */
final case class SplitHotBuckets(session: SparkSession) extends AQEShuffleReadRule {

  override val supportedShuffleOrigins: Seq[ShuffleOrigin] = Seq(REPARTITION_BY_NUM)

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case r: AQEShuffleReadExec => r
    case s: ShuffleQueryStageExec => read(s).getOrElse(s)
    case p => p.withNewChildren(p.children.map(apply))
  }

  private def read(s: ShuffleQueryStageExec): Option[SparkPlan] =
    for {
      maxSplit <- SplitHotBuckets.maxSplitOf(s.shuffle) if isSupported(s.shuffle)
      stats <- s.mapStats
      bytes = stats.bytesByPartitionId
      if bytes.length == s.shuffle.numPartitions
    } yield {
      val specs = SplitHotBuckets.ranges(bytes, bytes.length / maxSplit, maxSplit,
        session.sparkContext.defaultParallelism)
        .map { case (a, b) => CoalescedPartitionSpec(a, b, Some(bytes.slice(a, b).sum)) }
      AQEShuffleReadExec(s, specs)
    }
}

object SplitHotBuckets {

  /** Metadata key on the slot column: the maximum split `S`. */
  private val MaxSplitKey = "graft.maxSplit"

  /** `slots` as the key column of a bucket-major shuffle of at most
    * `maxSplit` slots per bucket, named `name`.
    */
  def markSlots(slots: Column, name: String, maxSplit: Int): Column =
    slots.as(name, new MetadataBuilder().putLong(MaxSplitKey, maxSplit).build())

  /** `S` of a shuffle keyed on one marked slot column over `n × S` slots. */
  private def maxSplitOf(shuffle: ShuffleExchangeLike): Option[Int] =
    shuffle.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), m) if a.metadata.contains(MaxSplitKey) =>
        Some(a.metadata.getLong(MaxSplitKey).toInt).filter(s => s > 0 && m % s == 0)
      case _ => None
    }

  /** The read's tasks as `[start, end)` slot ranges over `n × maxSplit`
    * bucket-major slots weighing `bytesBySlot`. Bucket `b` (bytes `w_b` of
    * `total`) gets `k_b = clamp(ceil(w_b / (total / cores)), 1, maxSplit)`
    * ranges, its slots dealt out evenly in order; an empty bucket gets none,
    * and an entirely empty shuffle one range over every slot. A task then
    * holds one bucket and at most `max(2 · total / cores, w_b / maxSplit)`
    * bytes, the salt spreading a bucket's rows evenly over its slots.
    */
  def ranges(bytesBySlot: Array[Long], n: Int, maxSplit: Int, cores: Int): Seq[(Int, Int)] = {
    require(n > 0 && maxSplit > 0 && bytesBySlot.length == n * maxSplit,
      s"${bytesBySlot.length} slots are not $n buckets x $maxSplit")
    val total = bytesBySlot.sum
    if (total == 0L) return Seq((0, n * maxSplit))
    val fair = total.toDouble / math.max(1, cores)
    (0 until n).flatMap { b =>
      val first = b * maxSplit
      val w = bytesBySlot.slice(first, first + maxSplit).sum
      if (w == 0L) Nil
      else {
        val k = math.min(maxSplit, math.max(1, math.ceil(w / fair).toInt))
        (0 until k).map(i => (first + i * maxSplit / k, first + (i + 1) * maxSplit / k))
      }
    }
  }
}
