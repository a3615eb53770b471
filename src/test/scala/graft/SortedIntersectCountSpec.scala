package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pin for graft.plans.SortedIntersectCount (r16 optimization): the fused
  * merge-count must equal `size(array_intersect(a, b))` on every
  * sorted-unique input the hot paths feed it — including empty arrays,
  * disjoint sets, full overlap, negative hashes (sorted as signed longs,
  * the same order ShingleHashes/sort_array produce), and asymmetric
  * lengths. Checked in BOTH execution modes: whole-stage codegen (the
  * bench path) and interpreted eval (a projection wide enough is not
  * needed — forcing via a non-codegen wrapper would be artificial, so
  * the interpreted branch is pinned through the expression's eval). */
class SortedIntersectCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cases: Seq[(Array[Long], Array[Long])] = Seq(
    (Array.empty[Long], Array.empty[Long]),
    (Array.empty[Long], Array(1L, 2L, 3L)),
    (Array(1L, 2L, 3L), Array.empty[Long]),
    (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),
    (Array(1L, 3L, 5L), Array(2L, 4L, 6L)),
    (Array(-9L, -2L, 0L, 7L), Array(-2L, 7L, 8L)),
    (Array(Long.MinValue, -1L, Long.MaxValue), Array(Long.MinValue, Long.MaxValue)),
    (Array(1L), Array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)),
    (Array(2L, 4L, 6L, 8L, 10L, 12L), Array(3L, 4L, 5L, 6L))
  )

  test("fused count equals size(array_intersect) on sorted-unique arrays") {
    val df = cases.toDF("a", "b")
    val got = df.select(
        graft.plans.SketchFunctions.sortedIntersectCount(col("a"), col("b")).as("fused"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("generic"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(1),
        s"fused=${r.getLong(0)} generic=${r.getLong(1)}")
    }
  }

  test("interpreted eval matches set semantics") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    cases.foreach { case (a, b) =>
      val e = graft.plans.SortedIntersectCount(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          new GenericArrayData(a),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          new GenericArrayData(b),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)))
      val expected = a.toSet.intersect(b.toSet).size.toLong
      assert(e.eval(null) == expected, s"a=${a.toSeq} b=${b.toSeq}")
    }
  }

  test("null array inputs yield null, matching size(array_intersect) nullability") {
    val df = Seq((Some(Array(1L, 2L)), Option.empty[Array[Long]]))
      .toDF("a", "b")
    val r = df.select(
      graft.plans.SketchFunctions.sortedIntersectCount(col("a"), col("b"))).collect()
    assert(r.head.isNullAt(0))
  }
}
