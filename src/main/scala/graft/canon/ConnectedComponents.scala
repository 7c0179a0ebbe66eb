package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components via alternating large-star / small-star rounds
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014), expressed as Catalyst-planned window aggregations + unions
  * (SURVEY.md §7.2 #7).
  *
  * Works on any ordered id domain — here lexicographic strings — and picks
  * the minimum id of each component as its representative. Each round is a
  * window-min over a hash partitioning of the edge list (one shuffle per
  * star step, no join-back, no collect_list — safe under high-degree hub
  * nodes because large-star explicitly redistributes a hub's neighborhood
  * to its minimum, which is exactly the skew case the north_rule calls
  * out). The driver loop `localCheckpoint`s every round to cut lineage
  * growth, and convergence is detected by an order-insensitive checksum
  * (count + sum of xxhash64) of the canonical edge set.
  */
object ConnectedComponents {

  private def largeStar(e: DataFrame): DataFrame = {
    // Symmetric neighborhoods; for each u emit (v, min(N(u) ∪ {u})) for
    // every neighbor v > u.
    val sym = e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
    val w = Window.partitionBy(col("src"))
    sym
      .withColumn("m", least(min(col("dst")).over(w), col("src")))
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  private def smallStar(e: DataFrame): DataFrame = {
    // Orient each edge large→small; for each u over its smaller neighbors
    // N = {v : v < u}: m = min(N); emit (v, m) for v ∈ N and (u, m).
    val or = e
      .where(col("src") =!= col("dst"))
      .select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
    val w = Window.partitionBy(col("src"))
    val withM = or.withColumn("m", min(col("dst")).over(w))
    withM.select(col("dst").as("src"), col("m").as("dst"))
      .union(withM.select(col("src"), col("m").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  private def checksum(e: DataFrame): (Long, Long) = {
    // Order-insensitive, overflow-free (ANSI mode) set fingerprint: the
    // edge set is distinct, so xor of per-edge hashes identifies it.
    val row = e.agg(
      count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L))
    ).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Strategy selection (the reference picks Dump vs AQL per deployment,
    * /root/reference/src/graph_loader.rs:209-251; we pick local vs
    * distributed per graph size): dictionary-sized edge lists are solved
    * with driver-side union-find in one job instead of ~3 shuffle rounds ×
    * 2 jobs — at KG scale the sameAs graph is dictionary-derived and tiny,
    * while the distributed star algorithm stays available for huge graphs.
    */
  def components(edges: DataFrame, maxIter: Int = 50,
                 localThreshold: Long = 500000L): DataFrame =
    componentsSized(edges, maxIter, localThreshold)._1

  /** Like [[components]], also reporting whether the graph was small enough
    * for the driver-local strategy. Callers that want to `collect()` the
    * component map (to fold it into a broadcast) MUST gate on this flag —
    * above the threshold the map itself may not fit on the driver, and the
    * join-based [[graft.triples.TripleExtract.canonicalize]] is the safe
    * path.
    *
    * The strategy is ONE up-front size gate: local iff the edge count is
    * at most `localThreshold` AND the estimated driver heap of collecting
    * it ([[heapEstimate]]) is at most `localByteBudget`; otherwise
    * distributed. Both figures are known before any union-find runs.
    */
  def componentsSized(edges: DataFrame, maxIter: Int = 50,
                      localThreshold: Long = 500000L,
                      localByteBudget: Long = 256L << 20): (DataFrame, Boolean) = {
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    // Edges already on the driver (a LocalRelation, as PageSynth.sameAs is)
    // are collected without a Spark job, and the gate and the union-find
    // read that one copy.
    val onDriver = e.queryExecution.optimizedPlan match {
      case _: LocalRelation =>
        val spark = e.sparkSession
        import spark.implicits._
        Some(e.as[(String, String)].collect())
      case _ => None
    }
    // Otherwise ONE gate job measures rows AND id characters (the row count
    // alone is only an ESTIMATE of driver memory — adversarially long ids
    // can blow the heap at a legal row count). Deliberately not a streamed
    // per-partition meter: toLocalIterator schedules one serial job per
    // partition (measured ~0.4 s of 5 ms jobs at 32 partitions), while
    // this agg is one distributed pass over the same data.
    val (rows, chars) = onDriver match {
      case Some(pairs) =>
        (pairs.length.toLong, pairs.iterator.map(p => (p._1.length + p._2.length).toLong).sum)
      case None =>
        val gate = e.agg(count(lit(1)),
          coalesce(sum(length(col("src")) + length(col("dst"))), lit(0L))).head()
        (gate.getLong(0), gate.getLong(1))
    }
    if (rows <= localThreshold && heapEstimate(rows, chars) <= localByteBudget)
      (componentsLocal(e, onDriver), true)
    else (componentsDistributed(e, maxIter), false)
  }

  /** Estimated JVM HEAP cost of collecting `rows` edges totalling `chars`
    * id characters: Strings store UTF-16 (2 B/char measured by length())
    * plus per-edge fixed overhead — two String headers (~48 B each), the
    * tuple (~24 B), the array slot, and the union-find map entries
    * (~100 B) ≈ 240 B/edge. length() counts chars, not octets, so the 2×
    * is the right UTF-16 multiplier regardless of the UTF-8 width. The
    * budget gates this ESTIMATE, not the raw character count — a 256 MB
    * budget therefore means roughly 256 MB of heap, not 1-1.5 GB.
    */
  private def heapEstimate(rows: Long, chars: Long): Long =
    chars * 2 + rows * 240

  /** Driver-side union-find for small graphs (single collect, or the
    * `collected` edges); [[componentsSized]]'s gate decides it fits.
    */
  private def componentsLocal(edges: DataFrame,
                              collected: Option[Array[(String, String)]]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = collected.getOrElse(edges.as[(String, String)].collect())
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    // Iterative find with path compression (no recursion — adversarial
    // union orders can build deep chains near the size threshold).
    def find(x: String): String = {
      var root = x
      while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val out = parent.keys.toSeq.map(k => (k, find(k)))
    spark.createDataset(out).toDF("id", "component")
  }

  /** Distributed large-star/small-star; correct at any scale. */
  def componentsDistributed(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    var e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var prev = checksum(e)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint()
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    // Converged state: every edge is (member, componentMin), member ≠ min.
    val members = e.select(col("src").as("id"), col("dst").as("component"))
    val reps = e.select(col("dst").as("id"), col("dst").as("component"))
      .distinct()
    members.union(reps).distinct()
  }
}
