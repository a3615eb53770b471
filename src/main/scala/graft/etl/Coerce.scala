package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.model.EventSchema

/** Null repair, schema alignment, and table-schema-authoritative type
  * coercion with a misfit (dead-letter) side-output.
  *
  * Behavioral spec (reference O-15..O-19):
  *  - seghouse/util/dataframe_util.py:63-64   NaN->NULL (native in Spark)
  *  - seghouse/util/dataframe_util.py:67-89   default fills / bool->int
  *  - seghouse/util/dataframe_util.py:92-96   add missing columns as NULL
  *  - seghouse/util/dataframe_util.py:99-185  fix_data_types: the TABLE
  *    schema wins; each cell is cast to the table's type; a failed cast
  *    nulls the cell and emits a misfit record with full provenance.
  *
  * Spark-first design: the reference pivots the frame to row dicts and
  * loops cell-by-cell in Python. Here the whole operator is ONE projection:
  * per mismatched column we compute `try_cast` once, and a misfit-struct
  * array built from the same expressions is exploded into the side-output.
  * The intermediate is persisted so main + misfits cost a single scan
  * (SURVEY §7.3 hard part 3). Everything is codegen'd, narrow, and
  * distributed — no driver-side loops, no UDFs.
  */
object Coerce {

  /** Main output + dead-letter side output. Call `unpersist()` when both
    * outputs have been consumed. `misfitsPossible` is false when no target
    * column's type differs from the batch's: no cell can fail its cast, so
    * `misfits` is empty by construction and callers may skip it. */
  final case class CoerceResult(main: DataFrame, misfits: DataFrame, intermediate: DataFrame,
      misfitsPossible: Boolean) {
    def unpersist(): Unit = { intermediate.unpersist(); () }
  }

  private val MisfitArrCol = "__graft_misfits"

  private def typeName(dt: DataType): String = dt match {
    case StringType    => "string"
    case LongType      => "int64"
    case IntegerType   => "int32"
    case ShortType     => "int16"
    case ByteType      => "int8"
    case DoubleType    => "double"
    case FloatType     => "float"
    case BooleanType   => "boolean"
    case TimestampType => "datetime"
    case DateType      => "date"
    case other         => other.simpleString
  }

  private def numericFamily(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("int")
    case FloatType | DoubleType                        => Some("float")
    case _: DecimalType                                => Some("decimal")
    case _                                             => None
  }

  /** O-18: add every target column absent from the batch as all-NULL of the
    * target type (reference dataframe_util.py:92-96). */
  def addMissingColumns(df: DataFrame, target: StructType): DataFrame = {
    val present = df.columns.toSet
    val missing = target.fields.filterNot(f => present(f.name))
    missing.foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** O-17: ClickHouse-UInt8 boolean convention: fillna(false) then int cast
    * (reference dataframe_util.py:85-89). The parquet sink keeps native
    * booleans, so this is opt-in for sinks that need the convention. */
  def castBooleanToInt(df: DataFrame): DataFrame =
    df.schema.fields.filter(_.dataType == BooleanType).foldLeft(df) { (d, f) =>
      d.withColumn(f.name, coalesce(col(f.name), lit(false)).cast(IntegerType))
    }

  /** O-16: default fills (implemented but dormant by default, matching the
    * reference where only the boolean fill is live — clickhouse.py:197-198). */
  def fillDefaults(df: DataFrame): DataFrame = {
    val fills: Map[String, Any] = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name -> "_default"
      case f if numericFamily(f.dataType).contains("int") => f.name -> 0L
      case f if numericFamily(f.dataType).contains("float") => f.name -> 0.0
    }.toMap
    df.na.fill(fills)
  }

  /** O-19: coerce `df` to `target` (the authoritative table schema), adding
    * missing columns, try_cast-ing every mismatched column, and quarantining
    * failed cells into a misfit side-output.
    *
    * Within-family numeric mismatches (int<->int, float<->float) are plain
    * pass-through casts in the reference (data_type.py:28-42); we still use
    * try_cast so a genuine overflow becomes a misfit instead of a silent
    * wrap — recorded in the semantics ledger.
    */
  def coerce(
      df: DataFrame,
      target: StructType,
      tableName: String,
      persistIntermediate: Boolean = true
  ): CoerceResult = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap

    val casted: Seq[Column] = target.fields.toIndexedSeq.map { f =>
      actual.get(f.name) match {
        case None                         => lit(null).cast(f.dataType).as(f.name)
        case Some(a) if a == f.dataType   => col(f.name)
        case Some(_)                      => col(f.name).try_cast(f.dataType).as(f.name)
      }
    }

    // provenance key: message_id when the batch carries one, else null
    // (misfits remain attributable via table/column/value)
    val messageIdCol: Column =
      if (actual.contains(EventSchema.MessageId)) col(EventSchema.MessageId).cast(StringType)
      else lit(null).cast(StringType)

    val misfitStructs: Seq[Column] = target.fields.toIndexedSeq.flatMap { f =>
      actual.get(f.name) match {
        case Some(a) if a != f.dataType =>
          val src = col(f.name)
          val ok  = src.try_cast(f.dataType)
          Some(
            when(src.isNotNull && ok.isNull,
              struct(
                messageIdCol.as(EventSchema.MessageId),
                lit(tableName).as("table_name"),
                lit(f.name).as("column_name"),
                src.cast(StringType).as("column_value"),
                lit(typeName(f.dataType)).as("expected_data_type"),
                lit(typeName(a)).as("actual_data_type")
              )))
        case _ => None
      }
    }

    val withArr =
      if (misfitStructs.isEmpty) df.withColumn(MisfitArrCol, array().cast(ArrayType(EventSchema.MisfitSchema)))
      else df.withColumn(MisfitArrCol, filter(array(misfitStructs: _*), x => x.isNotNull))

    // with no misfit struct the main output is the only consumer: nothing
    // to share, so nothing to persist
    val inter =
      if (persistIntermediate && misfitStructs.nonEmpty) withArr.persist(StorageLevel.MEMORY_AND_DISK)
      else withArr

    val mainClean = inter.select(casted: _*)
    val misfits = inter
      .select(explode(col(MisfitArrCol)).as("m"))
      .select(col("m.*"))

    CoerceResult(mainClean, misfits, inter, misfitsPossible = misfitStructs.nonEmpty)
  }
}
