package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Names

/** Schema-driven recursive JSON flatten with key decamelization.
  *
  * Behavioral spec (reference seghouse/util/json_util.py:1-24 +
  * send_to_warehouse.py:338): depth-first walk; nested object keys joined
  * with `_`; list elements flattened POSITIONALLY (`a: [x,y]` ->
  * `a_0_..., a_1_...`) so one input event stays exactly one output row (no
  * explode); each path segment is cleaned (strip, drop spaces, `:`->`_`,
  * `-`->`_`) and decamelized.
  *
  * Spark-first design: instead of the reference's per-row recursive dict
  * walk, we walk the *schema* once on the driver and emit one `select` whose
  * projection list Catalyst compiles into whole-stage codegen — zero
  * per-row interpretation, zero UDFs. Arrays use `element_at(col, i+1)`
  * up to the schema-known / observed max length; absent positions are null,
  * matching the reference (short lists simply produce fewer keys, which
  * later becomes NULL under the table-schema-wins alignment).
  *
  * At 100 TB this matters: the flatten is a pure narrow projection (no
  * shuffle), pushdown-friendly, and the only action ever run is one bounded
  * `max(size(...))` aggregate per array column that observes array lengths
  * (one cheap scan, map-side combined).
  */
object JsonFlatten {

  /** Default cap on positional array expansion to keep column count sane. */
  private val DefaultMaxArrayLen = 16

  private def seg(name: String): String = Names.decamelize(Names.cleanEventKey(name))

  /** Collect the flattened projection for a schema.
    *
    * @param arrayLens observed max length per (dotted) array path; paths not
    *                  present fall back to `DefaultMaxArrayLen`.
    */
  def flattenColumns(schema: StructType, arrayLens: Map[String, Int] = Map.empty): Seq[Column] = {

    def walk(dt: DataType, path: Seq[String], outName: String, c: Column): Seq[(String, Column)] =
      dt match {
        case st: StructType =>
          st.fields.toSeq.flatMap { f =>
            val nm = if (outName.isEmpty) seg(f.name) else outName + "_" + seg(f.name)
            walk(f.dataType, path :+ f.name, nm, c.getField(f.name))
          }
        case ArrayType(elem, _) =>
          val key = path.mkString(".")
          val n   = arrayLens.getOrElse(key, DefaultMaxArrayLen)
          (0 until n).flatMap { i =>
            // try_element_at: rows whose list is shorter than the observed
            // max yield NULL (ANSI-safe), matching the reference's
            // "short lists simply produce fewer keys" behavior.
            // The lookup path marks the position as '*' (not the concrete
            // index) so arrays nested inside arrays resolve the SAME keys
            // observeArrayLengths emits (e.g. 'a.*.b').
            walk(elem, path :+ "*", outName + "_" + i, try_element_at(c, lit(i + 1)))
          }
        case _ =>
          Seq(outName -> c)
      }

    schema.fields.toSeq.flatMap { f =>
      walk(f.dataType, Seq(f.name), seg(f.name), col(f.name))
    }.map { case (n, c) => c.as(n) }
  }

  /** Flatten a DataFrame, after one aggregate finds the true max length of
    * every (top-level-reachable) array column so the positional expansion
    * matches the reference exactly. */
  def flatten(df: DataFrame): DataFrame =
    df.select(flattenColumns(df.schema, observeArrayLengths(df)): _*)

  /** One pass computing max(size(arr)) for every array path in the schema.
    * Arrays nested under other arrays are sized via transform+max so the
    * whole observation stays a single map-side-combinable aggregate. */
  def observeArrayLengths(df: DataFrame): Map[String, Int] =
    observe(df).fold(Map.empty[String, Int])(_.arrayLens)

  /** What the array-length pass saw: its row count and the lengths. */
  final case class Observation(rows: Long, arrayLens: Map[String, Int])

  /** [[observeArrayLengths]] plus the number of rows the same pass saw, so
    * a caller can stop on an empty input without a second scan. None when
    * the schema has no array, and so no pass runs. */
  def observe(df: DataFrame): Option[Observation] = {
    def arrayPaths(dt: DataType, path: Seq[String], c: Column): Seq[(String, Column)] = dt match {
      case st: StructType =>
        st.fields.toSeq.flatMap(f => arrayPaths(f.dataType, path :+ f.name, c.getField(f.name)))
      case ArrayType(elem, _) =>
        val self = (path.mkString("."), size(c))
        // nested arrays: observe the max inner length across elements
        val inner = elem match {
          case ist: StructType =>
            ist.fields.toSeq.flatMap { f =>
              arrayPathsInArray(f.dataType, path :+ "*" :+ f.name, c, f.name)
            }
          case iat: ArrayType =>
            Seq((path :+ "*").mkString(".") -> array_max(transform(c, x => size(x))))
          case _ => Nil
        }
        self +: inner
      case _ => Nil
    }
    // arrays inside array<struct>: max over elements of size(field)
    def arrayPathsInArray(dt: DataType, path: Seq[String], arr: Column, field: String): Seq[(String, Column)] =
      dt match {
        case ArrayType(_, _) =>
          Seq(path.mkString(".") -> array_max(transform(arr, x => size(x.getField(field)))))
        case _ => Nil
      }

    val paths = df.schema.fields.toSeq.flatMap(f => arrayPaths(f.dataType, Seq(f.name), col(f.name)))
    if (paths.isEmpty) None
    else {
      val aggs = paths.map { case (p, c) => max(c).as(p) }
      val row  = df.agg(count(lit(1)), aggs: _*).head()
      Some(Observation(row.getLong(0), paths.zipWithIndex.map { case ((p, _), i) =>
        p -> (if (row.isNullAt(i + 1)) 0 else row.getInt(i + 1))
      }.toMap))
    }
  }
}
