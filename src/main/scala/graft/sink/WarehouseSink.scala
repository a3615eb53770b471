package graft.sink

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.EventSchema._

/** The parquet lakehouse storage under [[Warehouse]]'s load protocol
  * (reference O-24, O-25, O-22).
  *
  * Physical layout mirrors what the reference delegates to ClickHouse
  * MergeTree: date partitioning (`PARTITION BY toDate(timestamp)`,
  * clickhouse.py:86) becomes `partitionBy(event_date)`, and the
  * `(timestamp, message_id)` sort key (clickhouse.py:87) becomes
  * `sortWithinPartitions` — giving parquet row-group locality /
  * min-max-pruning on the same keys CH clusters on. The reference's
  * copy/pivot-to-rows insert dance disappears: one aligned projection + one
  * distributed partitioned write.
  */
final class WarehouseSink(val catalog: TableCatalog) extends Warehouse {

  private val PartitionCol = "event_date"

  override def createDatabase(db: String): Unit = catalog.createDatabase(db)

  override def ensureTableStructure(db: String, t: String, schema: StructType): StructType =
    catalog.ensureTableStructure(db, t, schema)

  /** Date-partitioned, sort-key-clustered append (O-24/O-25). */
  override protected def append(df: DataFrame, db: String, t: String): Unit =
    layout(df).mode("append").parquet(catalog.tablePath(db, t))

  /** The MergeTree layout: `partitionBy(to_date(timestamp))`, sorted on
    * `(timestamp, message_id)` within each partition; a table without a
    * timestamp (misfits) is written as is. */
  private def layout(df: DataFrame): DataFrameWriter[Row] =
    if (!df.columns.contains(Timestamp)) df.write
    else df.withColumn(PartitionCol, to_date(col(Timestamp)))
      .sortWithinPartitions(col(Timestamp), col(MessageId))
      .write.partitionBy(PartitionCol)

  /** O-22, deferred half: the explicit analog of ClickHouse's background
    * merge for `ReplacingMergeTree() ORDER BY (timestamp, message_id)`
    * tables. Appends are blind (same as CH inserts); duplicates from
    * re-delivered batches are collapsed HERE, on demand — run it like
    * `OPTIMIZE TABLE ... FINAL`. The rewrite restores the physical layout
    * too (date partitioning + sort-key clustering), so it doubles as the
    * small-files/ordering maintenance pass. Returns rows removed. */
  def compact(spark: SparkSession, db: String, t: String): Long = {
    val current = catalog.read(spark, db, t)
    if (current.schema.fields.isEmpty) return 0L
    // table-specific CH sort key: misfits dedup on their identity triple
    // (clickhouse.py:222-233), everything else on (timestamp, message_id)
    val wantedKeys =
      if (t == MisfitsTable) Seq(MessageId, "table_name", "column_name")
      else Seq(Timestamp, MessageId)
    val dedupKeys = wantedKeys.filter(current.columns.contains)
    if (dedupKeys.size != wantedKeys.size) return 0L
    // `replaceTableContents` finishes the staged write before it touches
    // the table, so the dedup reads the current files straight into the
    // new ones; both row counts come from parquet footers
    val before = SnapshotSink.parquetRows(spark, current.inputFiles.toSeq)
    replaceTableContents(spark, db, t) { tmp =>
      layout(current.dropDuplicates(dedupKeys)).mode("overwrite").parquet(tmp)
      before - SnapshotSink.parquetRows(spark, parquetFiles(spark, tmp))
    }
  }

  /** The data files of a freshly written table directory (its partition
    * subdirectories included). */
  private def parquetFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
  }

  /** Stage-then-swap replacement of a table directory, preserving the
    * catalog's authoritative schema marker. Returns what `write` returns. */
  private def replaceTableContents[T](spark: SparkSession, db: String, t: String)(
      write: String => T): T = {
    val target = catalog.tablePath(db, t)
    val tmp    = target + "__staged"
    val out = write(tmp)
    val tgtPath = new org.apache.hadoop.fs.Path(target)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    // resolve the FS from the path's own scheme (s3a://, hdfs://, file://),
    // not the cluster default FS
    val fs = tgtPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaJson = catalog.describe(db, t)
    if (fs.exists(tgtPath)) fs.delete(tgtPath, true)
    fs.rename(tmpPath, tgtPath)
    schemaJson.foreach(s => catalog.ensureTableStructure(db, t, s))
    out
  }

  override protected def currentUsers(spark: SparkSession, db: String): Option[DataFrame] =
    Some(catalog.read(spark, db, UsersTable))

  /** The users table is small relative to events (bounded by |distinct
    * users|), so read-merge-overwrite per batch is the right trade (SURVEY
    * §7.3 hard part 2). Stage-then-swap: the new table is written in
    * full to a staging dir, so a crash while writing leaves the old users
    * table whole. The swap itself is not atomic (parquet has no
    * transactional replace): it deletes the old dir, then renames the
    * staged one into place, and a crash between the two leaves no users
    * table at all, which the next batch rebuilds from its own rows alone.
    * ROADMAP item 2 tracks the fix. */
  override protected def replaceUsers(db: String, winners: DataFrame): Unit =
    replaceTableContents(winners.sparkSession, db, UsersTable)(tmp =>
      winners.write.mode("overwrite").parquet(tmp))
}
