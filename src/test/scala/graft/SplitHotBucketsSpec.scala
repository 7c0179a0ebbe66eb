package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SplitHotBuckets
import graft.synth.Rng

/** The split decision of [[SplitHotBuckets]], fed synthetic map statistics:
  * bucket-major slot sizes in, contiguous one-bucket slot ranges out.
  */
class SplitHotBucketsSpec extends AnyFunSuite {

  test("light buckets keep one task each; only a bucket over a core's fair share splits") {
    // 4 buckets x 4 slots, 4 cores. Balanced: every bucket is exactly one
    // core's fair share, so no bucket splits.
    val balanced = Array.fill(16)(25L)
    assert(SplitHotBuckets.ranges(balanced, 4, 4, 4) ==
      Seq((0, 4), (4, 8), (8, 12), (12, 16)))
    // Bucket 0 holds 400 of 700 bytes: the fair share is 175, so it gets
    // ceil(400 / 175) = 3 ranges of its 4 slots; the rest one range each.
    val hub = Array.fill(4)(100L) ++ Array.fill(12)(25L)
    assert(SplitHotBuckets.ranges(hub, 4, 4, 4) ==
      Seq((0, 1), (1, 2), (2, 4), (4, 8), (8, 12), (12, 16)))
    // 16 cores, fair share 43.75: the hub's 9.1 shares clamp at its 4
    // slots, and each 100-byte bucket now splits 3 ways too.
    assert(SplitHotBuckets.ranges(hub, 4, 4, 16) == Seq((0, 1), (1, 2), (2, 3), (3, 4),
      (4, 5), (5, 6), (6, 8), (8, 9), (9, 10), (10, 12), (12, 13), (13, 14), (14, 16)))
    // One core: the whole shuffle is its fair share; nothing splits.
    assert(SplitHotBuckets.ranges(hub, 4, 4, 1).size == 4)
  }

  test("empty buckets get no task; an empty shuffle one range over every slot") {
    val sparse = Array(0L, 0L, 10L, 0L, 0L, 0L, 0L, 0L, 5L, 5L, 0L, 0L)
    assert(SplitHotBuckets.ranges(sparse, 6, 2, 2) == Seq((2, 4), (8, 10)))
    assert(SplitHotBuckets.ranges(Array.fill(8)(0L), 4, 2, 4) == Seq((0, 8)))
    assertThrows[IllegalArgumentException](SplitHotBuckets.ranges(Array.fill(7)(1L), 4, 2, 4))
  }

  test("random statistics: ranges cover every non-empty bucket once, one bucket each") {
    (0 until 200).foreach { t =>
      val n = 1 + Rng.nextInt(5L, t.toLong, 0L, 20)
      val s = 1 + Rng.nextInt(5L, t.toLong, 1L, 8)
      val cores = 1 + Rng.nextInt(5L, t.toLong, 2L, 32)
      val bytes = Array.tabulate(n * s)(i =>
        if (Rng.nextInt(5L, t.toLong, 3L + i, 4) == 0) 0L
        else Rng.nextInt(5L, t.toLong, 1000L + i, 10000).toLong)
      val total = bytes.sum
      val got = SplitHotBuckets.ranges(bytes, n, s, cores)
      if (total == 0L) assert(got == Seq((0, n * s)))
      else {
        got.foreach { case (a, b) => assert(a < b && a / s == (b - 1) / s, s"$got") }
        assert(got.map(_._1) == got.map(_._1).sorted)
        (0 until n).foreach { bucket =>
          val mine = got.filter(_._1 / s == bucket)
          val w = bytes.slice(bucket * s, (bucket + 1) * s).sum
          if (w == 0L) assert(mine.isEmpty)
          else {
            assert(mine.flatMap { case (a, b) => a until b } == (bucket * s until (bucket + 1) * s))
            val k = math.min(s, math.max(1, math.ceil(w / (total.toDouble / cores)).toInt))
            assert(mine.size == k, s"bucket $bucket: $mine")
          }
        }
      }
    }
  }
}
