package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.EventSchema

/** O-12/O-13: the six-way type split and per-event filters.
  *
  * Reference: seghouse/jobs/send_to_warehouse.py:357-368 — six equality
  * predicates on `type`; rows with any other type are silently dropped.
  *
  * Scale note: each stream is a lazy filter over the SAME parsed batch, and
  * none of them is scanned to decide anything: the load job persists the
  * batch and takes row counts, all-null columns and the event-name list
  * from one [[BatchProfile]] aggregate. Each stream is read once, by its
  * table's write. The filters themselves are narrow and pushdown-eligible.
  */
object TypeSplit {

  /** type value -> filtered stream. Drops unknown types by construction. */
  def breakDownByType(df: DataFrame): Map[String, DataFrame] =
    EventSchema.EventTypes.map { t =>
      t -> df.filter(col(EventSchema.TypeCol) === lit(t))
    }.toMap

  /** O-13: the stream of one normalized track event name (the names come
    * from `BatchProfile.eventNames`). */
  def filterEvent(tracks: DataFrame, eventName: String): DataFrame =
    tracks.filter(col(EventSchema.EventCol) === lit(eventName))
}
