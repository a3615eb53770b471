package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Coerce, Dedup}
import graft.model.EventSchema._

/** The warehouse load path (reference O-24, O-25, O-31, O-32, O-28/O-21).
  *
  * Physical layout mirrors what the reference delegates to ClickHouse
  * MergeTree: date partitioning (`PARTITION BY toDate(timestamp)`,
  * clickhouse.py:86) becomes `partitionBy(event_date)`, and the
  * `(timestamp, message_id)` sort key (clickhouse.py:87) becomes
  * `sortWithinPartitions` — giving parquet row-group locality /
  * min-max-pruning on the same keys CH clusters on.
  *
  * Insert protocol (clickhouse.py:193-215): the table schema is
  * authoritative; the batch is aligned (missing columns added as NULL),
  * coerced with misfit quarantine, then appended. The reference's
  * copy/pivot-to-rows dance disappears: one aligned projection + one
  * distributed partitioned write.
  */
final class WarehouseSink(val catalog: TableCatalog) extends Warehouse {

  private val PartitionCol = "event_date"

  override def createDatabase(db: String): Unit = catalog.createDatabase(db)

  override def ensureStructure(db: String, t: String, ddlSchema: StructType): Unit = {
    catalog.ensureTableStructure(db, t, ddlSchema); ()
  }

  /** O-31: insert a batch into `db.t`, evolving the schema (append-only) and
    * quarantining coercion failures into the misfits table. Returns the
    * number of misfit rows written. The caller decides emptiness: an empty
    * batch still ensures the table's structure and appends no rows. */
  override def insertDf(
      spark: SparkSession,
      db: String,
      t: String,
      batch: DataFrame,
      partitionByDate: Boolean = true,
      ddlSchema: Option[StructType] = None
  ): Long = {
    val authoritative = catalog.ensureTableStructure(db, t, ddlSchema.getOrElse(batch.schema))
    val result        = Coerce.coerce(batch, authoritative, t)
    try {
      val misfitCount = writeMisfits(spark, db, result)
      val withPart =
        if (partitionByDate && authoritative.fieldNames.contains(Timestamp))
          result.main.withColumn(PartitionCol, to_date(col(Timestamp)))
        else result.main
      val writer =
        if (withPart.columns.contains(PartitionCol))
          withPart
            .sortWithinPartitions(col(Timestamp), col(MessageId))
            .write.partitionBy(PartitionCol)
        else withPart.write
      writer.mode("append").parquet(catalog.tablePath(db, t))
      misfitCount
    } finally result.unpersist()
  }

  /** O-32: lazy-create + append the misfits dead-letter table (deduped on
    * its CH sort key first, O-23). A coercion that cannot misfit costs no
    * pass at all. */
  def writeMisfits(spark: SparkSession, db: String, coerced: Coerce.CoerceResult): Long = {
    if (!coerced.misfitsPossible) return 0L
    val deduped = Dedup.dedupMisfits(coerced.misfits).persist()
    try {
      val n = deduped.count()
      if (n > 0) {
        catalog.ensureTableStructure(db, MisfitsTable, deduped.schema)
        deduped.write.mode("append").parquet(catalog.tablePath(db, MisfitsTable))
      }
      n
    } finally { deduped.unpersist(); () }
  }

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
    val deduped = current.dropDuplicates(dedupKeys)
      .localCheckpoint(true) // materialize before replacing the source files
    val before = current.count()
    val after  = deduped.count()
    val withPart =
      if (deduped.columns.contains(PartitionCol)) deduped
      else if (deduped.columns.contains(Timestamp))
        deduped.withColumn(PartitionCol, to_date(col(Timestamp)))
      else deduped
    val writer =
      if (withPart.columns.contains(PartitionCol) && dedupKeys.contains(Timestamp))
        withPart.sortWithinPartitions(col(Timestamp), col(MessageId))
          .write.partitionBy(PartitionCol)
      else withPart.write
    replaceTableContents(spark, db, t)(tmp => writer.mode("overwrite").parquet(tmp))
    before - after
  }

  /** Stage-then-swap replacement of a table directory, preserving the
    * catalog's authoritative schema marker. */
  private def replaceTableContents(spark: SparkSession, db: String, t: String)(
      write: String => Unit): Unit = {
    val target = catalog.tablePath(db, t)
    val tmp    = target + "__staged"
    write(tmp)
    val tgtPath = new org.apache.hadoop.fs.Path(target)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    // resolve the FS from the path's own scheme (s3a://, hdfs://, file://),
    // not the cluster default FS
    val fs = tgtPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaJson = catalog.describe(db, t)
    if (fs.exists(tgtPath)) fs.delete(tgtPath, true)
    fs.rename(tmpPath, tgtPath)
    schemaJson.foreach(s => catalog.ensureTableStructure(db, t, s))
    ()
  }

  /** O-21/O-28: last-write-wins users upsert — the ReplacingMergeTree(ver)
    * equivalent. Read current users ∪ incoming, keep the max-`ver` row per
    * user_id, atomically replace. The users table is small relative to
    * events (bounded by |distinct users|), so read-merge-overwrite per
    * batch is the right trade (SURVEY §7.3 hard part 2). The caller
    * decides whether `identities` carries any user_id. */
  override def upsertUsers(spark: SparkSession, db: String, identities: DataFrame): Unit = {
    val incoming = Dedup.usersFromIdentities(identities)
    val authoritative = catalog.ensureTableStructure(db, UsersTable, incoming.schema)
    val result        = Coerce.coerce(incoming, authoritative, UsersTable)
    try {
      writeMisfits(spark, db, result)
      val existing = catalog.read(spark, db, UsersTable)
      val aligned =
        if (existing.schema.fields.isEmpty) result.main
        else {
          val exCoerced = Coerce.coerce(Coerce.addMissingColumns(existing, authoritative),
            authoritative, UsersTable, persistIntermediate = false)
          exCoerced.main.unionByName(result.main, allowMissingColumns = true)
        }
      val winners = Dedup.lastWriteWins(aligned, Seq(UserId), Ver, Seq(col(MessageId).desc))
      // stage-then-swap: parquet has no transactional replace; a crash
      // never leaves a truncated users table
      replaceTableContents(spark, db, UsersTable)(tmp =>
        winners.write.mode("overwrite").parquet(tmp))
    } finally result.unpersist()
  }
}
