package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.Coerce

class CoerceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val target = StructType(Seq(
    StructField("message_id", StringType),
    StructField("n", LongType),
    StructField("extra", DoubleType)))

  test("misfit quarantine: unparseable cells nulled + recorded with provenance") {
    val df = Seq(
      ("m1", "12"),      // castable string -> 12
      ("m2", "twelve"),  // misfit
      ("m3", null: String) // null passes through, no misfit
    ).toDF("message_id", "n")
    val r = Coerce.coerce(df, target, "tbl")
    val main = r.main.orderBy("message_id").collect()
    assert(main.map(_.getAs[Any]("n")).toSeq == Seq(12L, null, null))
    assert(main.forall(_.isNullAt(2))) // missing column added as null
    val mf = r.misfits.collect()
    assert(mf.length == 1)
    val m = mf.head
    assert(m.getAs[String]("message_id") == "m2")
    assert(m.getAs[String]("table_name") == "tbl")
    assert(m.getAs[String]("column_name") == "n")
    assert(m.getAs[String]("column_value") == "twelve")
    assert(m.getAs[String]("expected_data_type") == "int64")
    assert(m.getAs[String]("actual_data_type") == "string")
  }

  test("conservation: misfit count equals cells nulled by coercion") {
    val df = Seq(("a", "1"), ("b", "x"), ("c", "2"), ("d", "y"), ("e", "z"))
      .toDF("message_id", "n")
    val r = Coerce.coerce(df, target, "tbl")
    val nulled = r.main.filter(col("n").isNull).count()
    assert(r.misfits.count() == nulled)
    assert(nulled == 3)
  }

  test("within-family numeric mismatch passes through") {
    val df = Seq(("a", 1), ("b", 2)).toDF("message_id", "n") // int32 -> int64
    val r = Coerce.coerce(df, target, "tbl")
    assert(r.misfits.isEmpty)
    assert(r.main.schema("n").dataType == LongType)
  }

  test("misfitsPossible: false only when no present column changes type") {
    val same = Seq(("a", 1L)).toDF("message_id", "n")
    val r = Coerce.coerce(same, target, "tbl")
    assert(!r.misfitsPossible) // `extra` is missing, not mismatched
    assert(r.misfits.isEmpty)
    val changed = Seq(("a", "1")).toDF("message_id", "n")
    assert(Coerce.coerce(changed, target, "tbl").misfitsPossible)
  }

  test("addMissingColumns aligns to target with typed nulls") {
    val df = Seq(("a")).toDF("message_id")
    val out = Coerce.addMissingColumns(df, target)
    assert(out.columns.toSet == Set("message_id", "n", "extra"))
    assert(out.schema("extra").dataType == DoubleType)
  }

  test("boolean->int convention (O-17)") {
    val df = Seq(("a", Some(true)), ("b", Some(false)), ("c", None))
      .toDF("message_id", "b")
    val out = Coerce.castBooleanToInt(df).orderBy("message_id")
      .collect().map(_.getAs[Int]("b")).toSeq
    assert(out == Seq(1, 0, 0)) // null fills false per reference
  }
}
