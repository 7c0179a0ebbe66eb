package graft

import org.apache.spark.sql.functions._

import graft.functions.DotProductExpr.dot_product

/** Native dot_product expression: exact equivalence (bitwise, via double
  * comparison of the identical left-fold) with the higher-order-function
  * chain it replaced in Ann.dot, including null/length-mismatch
  * propagation, under both codegen and interpreted evaluation.
  */
class DotProductExprSpec extends SparkSpec {

  private def hofDot(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  test("equals aggregate(zip_with(...)) on random vectors, bit for bit") {
    import spark.implicits._
    val rows = (0 until 500).map { i =>
      val d = 1 + (i % 7) * 13
      (i.toLong,
        Seq.tabulate(d)(j => graft.synth.Rng.nextDouble(7L, i.toLong, j.toLong) * 2 - 1),
        Seq.tabulate(d)(j => graft.synth.Rng.nextDouble(8L, i.toLong, j.toLong) * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"), dot_product(col("a"), col("b")).as("d"))
      .as[(Long, Double)].collect().toMap
    val want = df.select(col("id"), hofDot(col("a"), col("b")).as("d"))
      .as[(Long, Double)].collect().toMap
    // Exact comparison — the fold order is identical, so the doubles are
    // bit-identical, not merely close.
    assert(got == want)
  }

  test("null array, null element, and length mismatch all yield NULL (like the HOF chain)") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq[java.lang.Double](1.0, 2.0)), Some(Seq[java.lang.Double](3.0, 4.0))),
      (2L, None, Some(Seq[java.lang.Double](3.0, 4.0))), // null array
      (3L, Some(Seq[java.lang.Double](1.0, null)), Some(Seq[java.lang.Double](3.0, 4.0))), // null element
      (4L, Some(Seq[java.lang.Double](1.0, 2.0, 3.0)), Some(Seq[java.lang.Double](3.0, 4.0))) // length mismatch
    ).toDF("id", "a", "b")
    def collectBoth(c: org.apache.spark.sql.Column) =
      df.select(col("id"), c.as("d")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
    val got = collectBoth(dot_product(col("a"), col("b")))
    val want = collectBoth(hofDot(col("a"), col("b")))
    assert(got == want)
    assert(got(1L) == Some(11.0))
    assert(got(2L).isEmpty && got(3L).isEmpty && got(4L).isEmpty)
  }

  test("interpreted eval matches codegen (expression evaluated outside WSCG)") {
    import org.apache.spark.sql.GraftColumnBridge
    val expr = graft.functions.DotProductExpr(
      GraftColumnBridge.expression(typedLit(Seq(1.5, -2.0, 3.0))),
      GraftColumnBridge.expression(typedLit(Seq(2.0, 0.5, -1.0))))
    // Foldable constant: ConstantFolding runs nullSafeEval (interpreted).
    import spark.implicits._
    val viaPlan = Seq(1).toDF("x")
      .select(GraftColumnBridge.column(expr).as("d"))
      .as[Double].head()
    assert(viaPlan == (1.5 * 2.0) + (-2.0 * 0.5) + (3.0 * -1.0))
  }

  test("ann_brute_topk ranking is unchanged by the native dot (oracle shape)") {
    import spark.implicits._
    val vecs = (0L until 50L).map { i =>
      (i, Seq.tabulate(16)(j =>
        (graft.synth.Rng.nextDouble(11L, i, j.toLong) * 2 - 1).toFloat))
    }.toDF("vec_id", "embedding")
    val got = ops.Ann.bruteForceTopK(vecs, "vec_id", "embedding", 0L, 5)
      .as[(Long, Double)].collect().toSeq
    // Reference ranking computed driver-side with the same normalize+dot.
    val arr = vecs.as[(Long, Seq[Float])].collect().map { case (id, v) =>
      val d = v.map(_.toDouble).toArray
      val n = math.sqrt(d.map(x => x * x).sum)
      id -> d.map(_ / n)
    }.toMap
    val q = arr(0L)
    val want = arr.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        val dot = v.zip(q).map(p => p._1 * p._2).sum
        (id, BigDecimal(dot).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (id, c) => (-c, id) }.take(5)
    assert(got == want)
  }
}
