package graft

import org.apache.spark.sql.functions.col

import graft.canon.ConnectedComponents
import graft.synth.Rng

/** CC correctness: closed-form fixtures (incl. the reference's own
  * 10-vertex line graph, /root/reference/tests/graph_loader.rs:121-150)
  * plus randomized comparison against a single-node union-find oracle and
  * invariance properties (FIXTURES.md §7).
  */
class ConnectedComponentsSpec extends SparkSpec {

  /** Runs BOTH strategies (driver union-find and distributed star rounds)
    * and asserts they agree before returning the result — every fixture in
    * this spec therefore covers the at-scale code path too.
    */
  private def cc(edges: Seq[(String, String)], parts: Int = 4): Map[String, String] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst").repartition(parts)
    val local = ConnectedComponents.components(df)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val dist = ConnectedComponents.componentsDistributed(
        df.where(col("src") =!= col("dst")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist == local, "distributed star algorithm diverged from union-find")
    local
  }

  /** Single-node union-find oracle. */
  private def oracle(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // Normalize: representative = min id in component.
    val groups = parent.keys.groupBy(find)
    groups.flatMap { case (_, ids) =>
      val m = ids.min
      ids.map(_ -> m)
    }.toMap
  }

  test("line graph 0-1-...-9 is a single component with rep 0") {
    val edges = (0 until 9).map(i => (f"v$i%02d", f"v${i + 1}%02d"))
    val got = cc(edges)
    assert(got.values.toSet == Set("v00"))
    assert(got.keySet == (0 to 9).map(i => f"v$i%02d").toSet)
  }

  test("star graph (1 hub, 50 spokes) is one component") {
    val edges = (1 to 50).map(i => (f"s$i%03d", "hub"))
    val got = cc(edges)
    assert(got.values.toSet == Set("hub")) // "hub" < "s001"
    assert(got.size == 51)
  }

  test("disjoint pairs and chains have closed-form components") {
    val pairs = (0 until 20).map(i => (f"p${2 * i}%03d", f"p${2 * i + 1}%03d"))
    val got = cc(pairs)
    assert(got.values.toSet.size == 20)
    (0 until 20).foreach { i =>
      assert(got(f"p${2 * i + 1}%03d") == f"p${2 * i}%03d")
    }
  }

  test("random graphs match the union-find oracle") {
    (0 until 3).foreach { trial =>
      val n = 120
      val edges = (0 until 260).map { j =>
        val a = Rng.nextInt(7L + trial, j.toLong, 0, n)
        val b = Rng.nextInt(7L + trial, j.toLong, 1, n)
        (f"n$a%04d", f"n$b%04d")
      }.filter { case (a, b) => a != b }
      assert(cc(edges, parts = 7) == oracle(edges), s"trial $trial")
    }
  }

  test("result invariant under edge orientation, order, and partitioning") {
    val edges = (0 until 150).map { j =>
      (f"x${Rng.nextInt(99L, j.toLong, 0, 80)}%03d",
       f"x${Rng.nextInt(99L, j.toLong, 1, 80)}%03d")
    }.filter { case (a, b) => a != b }
    val base = cc(edges, parts = 4)
    assert(cc(edges.map(_.swap), parts = 4) == base)
    assert(cc(edges.reverse, parts = 1) == base)
    assert(cc(edges, parts = 16) == base)
  }

  test("size gate: a starved byte budget plans distributed up front, same result") {
    import spark.implicits._
    val edges = (0 until 200).map { j =>
      (f"n${Rng.nextInt(7L, j.toLong, 0, 60)}%03d",
       f"n${Rng.nextInt(7L, j.toLong, 1, 60)}%03d")
    }.filter { case (a, b) => a != b }
    val df = edges.toDF("src", "dst").repartition(4)
    // Budget the local path can live within: local strategy chosen.
    val (primary, usedLocal) = ConnectedComponents.componentsSized(df)
    assert(usedLocal, "fixture should fit the local path")
    // Starve the byte budget: the row count alone would say "local", but
    // the gate's heap estimate exceeds the budget, so the SAME call plans
    // the distributed path before any union-find runs.
    val (distributed, stillLocal) =
      ConnectedComponents.componentsSized(df, localByteBudget = 64L)
    assert(!stillLocal, "starved budget must choose the distributed path")
    val p = primary.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val d = distributed.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d == p, "distributed result diverged from the local path")
  }

  test("edges already on the driver: gate and union-find run no Spark job, same components") {
    val edges = graft.synth.PageSynth.sameAs(spark).toDF("src", "dst")
    val ((local, fits), jobs) = withJobCount {
      val (df, fits) = ConnectedComponents.componentsSized(edges)
      (df.collect().map(r => r.getString(0) -> r.getString(1)).toMap, fits)
    }
    assert(fits)
    assert(jobs == 0, s"$jobs Spark job(s) for a driver-local edge list")
    val dist = ConnectedComponents.componentsDistributed(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(local == dist)
    // Over the row threshold or the byte budget it still goes distributed.
    Seq(ConnectedComponents.componentsSized(edges, localThreshold = 1L),
        ConnectedComponents.componentsSized(edges, localByteBudget = 64L)).foreach {
      case (df, fitsDriver) =>
        assert(!fitsDriver)
        assert(df.collect().map(r => r.getString(0) -> r.getString(1)).toMap == dist)
    }
  }

  test("sameAs fixture canonicalizes E01xx to E00xx") {
    val got = cc(graft.synth.PageSynth.sameAsPairs)
    (0 until graft.synth.PageSynth.DupRangeLen).foreach { i =>
      assert(got(f"E${i + 100}%04d") == f"E$i%04d")
      assert(got(f"E$i%04d") == f"E$i%04d")
    }
  }
}
