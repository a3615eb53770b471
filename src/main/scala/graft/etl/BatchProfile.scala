package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.EventSchema._

/** What one table of a batch holds, as far as its DDL is concerned: the row
  * count, the non-null count of every column, and the deterministic first
  * value of every inferable string column ([[TypeInference]]). */
final case class ColumnStats(rows: Long, nonNull: Map[String, Long], first: Map[String, String]) {

  /** §1.2: the columns of `schema` that are null in every row. */
  def deadColumns(schema: StructType): Seq[String] =
    schema.fieldNames.toIndexedSeq.filter(c => nonNull.getOrElse(c, 0L) == 0L)

  /** The first-non-null refinement of `schema`, exactly what
    * `TypeInference.refineSchema` computes on this table's own frame with
    * the exclusions the profile was built with. */
  def refinedSchema(schema: StructType): StructType =
    TypeInference.refine(schema, first.get)
}

/** The batch-level profile behind every store decision of the load job.
  *
  * Reference: the loader infers each table's DDL inside one pandas pass per
  * file (seghouse/util/dataframe_util.py:11-51). Here ONE grouped aggregate
  * over the persisted flat batch yields the same facts for every table at
  * once: `rollup(type, normalized event name)` groups hold the row count,
  * `count(c)` for every column, and the first-value aggregate for every
  * inferable string column. The subtotal per `type` describes the type's
  * table; a (track, event) group describes that event's table. Subtotal rows
  * are told apart from genuine null keys with `grouping_id()`. Emptiness,
  * all-null columns, refined schemas and the event-name list all come from
  * this one result on the driver; no per-table job probes the batch.
  */
final class BatchProfile private (
    val rows: Long,
    byType: Map[String, ColumnStats],
    byEvent: Map[String, ColumnStats]
) {

  /** The stats of the rows whose `type` is `t`; None when there are none. */
  def ofType(t: String): Option[ColumnStats] = byType.get(t)

  /** The stats of the track rows whose normalized event name is `e`. */
  def ofEvent(e: String): Option[ColumnStats] = byEvent.get(e)

  /** The distinct normalized track event names, nulls skipped, in Spark's
    * string order — the reference's `sorted(tracks.event.unique())`
    * (send_to_warehouse.py:215). */
  def eventNames: Seq[String] =
    byEvent.keys.toSeq.sortWith((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
}

object BatchProfile {

  /** Profiles `flat` in one Spark job. First values are computed for the
    * string columns not in `excludeCols`; the event columns are always
    * excluded, because the tracks tables carry a rewritten `event` and a
    * copied `original_event`. */
  def apply(flat: DataFrame, excludeCols: Set[String]): BatchProfile = {
    val columns   = flat.columns.toIndexedSeq
    val inferable = TypeInference.inferableColumns(flat.schema, excludeCols + EventCol + OriginalEventCol)
    val stable    = columns.contains(MessageId)
    val hasEvent  = columns.contains(EventCol)

    val eventKey: Column =
      if (hasEvent) when(col(TypeCol) === lit("track"), Normalize.normalizeEventNameCol(col(EventCol)))
      else lit(null).cast(StringType)
    val aggs: Seq[Column] =
      (count(lit(1)) +: columns.map(c => count(col(c)))) ++
        inferable.map(c => TypeInference.firstValueAgg(c, stable))
    val result = flat
      .rollup(col(TypeCol).as("__profile_type"), eventKey.as("__profile_event"))
      .agg(grouping_id(), aggs: _*)
      .collect()

    // result row: type, event, grouping id, rows, counts..., first values...
    def stats(r: Row, track: Boolean): ColumnStats = {
      val counts = columns.zipWithIndex.map { case (c, i) => c -> r.getLong(4 + i) }.toMap
      val firsts = inferable.zipWithIndex.flatMap { case (c, i) =>
        TypeInference.firstValue(r, 4 + columns.size + i).map(c -> _)
      }.toMap
      // a tracks frame's original_event is a copy of the raw event column
      val withOriginal = if (track && hasEvent) counts + (OriginalEventCol -> counts(EventCol)) else counts
      ColumnStats(r.getLong(3), withOriginal, firsts)
    }
    val typed = result.iterator.filter(r => r.getLong(2) == 1L && !r.isNullAt(0))
      .map(r => r.getString(0) -> stats(r, r.getString(0) == "track")).toMap
    val events = result.iterator
      .filter(r => r.getLong(2) == 0L && r.getString(0) == "track" && !r.isNullAt(1))
      .map(r => r.getString(1) -> stats(r, track = true)).toMap
    val total = result.find(_.getLong(2) == 3L).map(_.getLong(3)).getOrElse(0L)
    new BatchProfile(total, typed, events)
  }
}
