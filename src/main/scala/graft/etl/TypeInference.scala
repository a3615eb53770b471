package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.EventSchema

/** Batch type inference mirroring the reference's first-non-null rule
  * (seghouse/util/dataframe_util.py:11-51): each column's type is decided by
  * its FIRST non-null value — float -> FLOAT64, int -> INT64, bool ->
  * BOOLEAN, str -> STRING (unless the column name is a known timestamp
  * field, handled upstream by name in Normalize.parseTimestamps).
  *
  * Spark's JSON reader has already unified each column to a single type; a
  * column whose values mixed numbers and strings arrives as StringType. To
  * reproduce the reference semantics (first value 12.5 makes the column
  * FLOAT64 and later "twelve" a quarantined misfit) we sniff the first
  * non-null value of every string column lexically and upgrade the target
  * type accordingly. Ledger note: a JSON *string* "12" is indistinguishable
  * from the number 12 after unification, so a numeric-looking first string
  * value also upgrades the column — the documented approximation.
  *
  * Determinism: the reference's "first non-null value" is well-defined
  * because it reads rows in file order; Spark's first(ignoreNulls) is
  * partition-layout-dependent. We pick deterministically instead:
  * min(struct(message_id, value)) per column when the batch carries
  * `message_id` (the Segment-spec stable row key), falling back to
  * min(value) otherwise — same answer on every run and every cluster
  * layout. Ledger note: "row with smallest message_id" rather than "first
  * in file order", a documented deterministic stand-in.
  *
  * Cost: ONE aggregate over the batch (map-side combinable, no shuffle of
  * the data itself). The load job folds this aggregate into its per-batch
  * [[BatchProfile]], so every table of a batch is typed by the same job.
  */
object TypeInference {

  private val LongPattern = "^[+-]?\\d{1,19}$".r

  private[etl] def sniff(v: String): DataType = v match {
    case null => StringType
    case s if s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false") => BooleanType
    case s if LongPattern.findFirstIn(s).isDefined =>
      try { s.toLong; LongType } catch { case _: NumberFormatException => StringType }
    case s =>
      // float-ish: accept only plain decimal/exponent forms, not "NaN"/"Infinity"
      if (s.matches("^[+-]?(\\d+\\.\\d*|\\.\\d+|\\d+)([eE][+-]?\\d+)?$"))
        DoubleType
      else StringType
  }

  /** The string columns whose first value decides their DDL type. */
  private[etl] def inferableColumns(schema: StructType, excludeCols: Set[String]): Seq[String] =
    schema.fields.toIndexedSeq
      .filter(f => f.dataType == StringType && !excludeCols(f.name))
      .map(_.name)

  /** The aggregate picking column `c`'s deterministic "first" value: min
    * over (stable key, value) structs, or over the bare value when the frame
    * has no `message_id`. min skips nulls, so only rows where the column is
    * non-null participate. Read the result back with [[firstValue]]. */
  private[etl] def firstValueAgg(c: String, hasStableKey: Boolean): Column = {
    val picked =
      if (hasStableKey) struct(col(EventSchema.MessageId).as("k"), col(c).as("v"))
      else struct(col(c).as("v"))
    min(when(col(c).isNotNull, picked))
  }

  private[etl] def firstValue(row: Row, i: Int): Option[String] =
    if (row.isNullAt(i)) None else Option(row.getStruct(i).getAs[String]("v"))

  /** `schema` with each column that has a first value upgraded per the type
    * that value sniffs as. Driver-side: the first values come from an
    * aggregate that already ran, over the inferable columns only. */
  private[etl] def refine(schema: StructType, first: String => Option[String]): StructType =
    StructType(schema.fields.map { f =>
      first(f.name).map(sniff).filter(_ != StringType)
        .fold(f)(dt => StructField(f.name, dt, nullable = true))
    })

  /** The batch schema with string columns upgraded per the first-non-null
    * rule. Non-string columns keep Spark's (already stricter) inference.
    * This is the ungrouped case of the aggregate [[BatchProfile]] runs per
    * table group. */
  def refineSchema(df: DataFrame, excludeCols: Set[String] = Set.empty): StructType = {
    val stringCols = inferableColumns(df.schema, excludeCols)
    if (stringCols.isEmpty) return df.schema
    val stable = df.columns.contains(EventSchema.MessageId)
    val aggs = stringCols.map(c => firstValueAgg(c, stable).as(c))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val firsts = stringCols.zipWithIndex.flatMap { case (c, i) => firstValue(row, i).map(c -> _) }.toMap
    refine(df.schema, firsts.get)
  }
}
