package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Candidate-pair blocking: the one self-join behind every near-duplicate
  * pair producer ([[Dedup.ngramJaccardPairs]], [[Dedup.minhashLshPairs]],
  * [[Dedup.hammingPairs]], [[Dedup.minhashSketchPairs]],
  * [[Ann.cosineLshPairs]]). Items that share a block key are candidates,
  * and only candidates reach verification, never the cross product: the
  * blocking + per-block pair generation operator of *Parallel Duplicate
  * Detection in Adverse Drug Reaction Databases with Spark* (EDBT 2016).
  */
object Blocking {

  /** Verified candidate pairs over the items of `keyed`.
    *
    *  1. `keyed` (one row per item) is persisted for the call, so the block
    *     rows and any join back to it in `verify` read it once.
    *  2. `blocks(keyed)` explodes it to one row per (item, block key): the
    *     item's `id`, the block columns `on`, and any per-item payload
    *     columns the verify step reads.
    *  3. Self-join on `on` with `ia < ib`: `id` becomes `ia`/`ib`, and each
    *     payload column `c` becomes `c + "a"`/`c + "b"`.
    *  4. One row per candidate pair: `ia`, `ib`, `shared` (the number of
    *     block keys the pair shares) and the payload columns.
    *  5. `verify` maps the candidates to the result.
    *  6. The result is materialized before `keyed` is unpersisted, so it
    *     never recomputes over a dropped cache.
    */
  def pairs(keyed: DataFrame, on: Seq[String], blocks: DataFrame => DataFrame)(
      verify: DataFrame => DataFrame): DataFrame = {
    keyed.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = blocks(keyed)
      val payload = rows.columns.filterNot(c => c == "id" || on.contains(c))
      def side(s: String): DataFrame = rows.select(rows.columns.map {
        case "id" => col("id").as(s"i$s")
        case c if on.contains(c) => col(c)
        case c => col(c).as(c + s)
      }.toSeq: _*)
      val firsts = for (s <- Seq("a", "b"); c <- payload) yield first(col(c + s)).as(c + s)
      val cand = side("a").join(side("b"), on)
        .where(col("ia") < col("ib"))
        .groupBy(col("ia"), col("ib"))
        .agg(count(lit(1)).as("shared"), firsts: _*)
      verify(cand).localCheckpoint()
    } finally keyed.unpersist(blocking = false)
  }
}
