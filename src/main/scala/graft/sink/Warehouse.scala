package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.etl.{Coerce, Dedup}
import graft.model.EventSchema._

/** Abstract warehouse surface (reference seghouse/warehouse/warehouse.py:
  * 1-60) and its load protocol, written once: ensure the table's structure,
  * coerce the batch to the authoritative schema, quarantine misfits, write
  * (clickhouse.py:193-233). Implementations keep only their storage —
  * the four primitives below: parquet lakehouse ([[WarehouseSink]]), JDBC
  * ([[JdbcWarehouse]]) and ClickHouse ([[ClickHouseWarehouse]]). The job
  * layer fans every batch out to all configured warehouses (O-34). */
trait Warehouse {
  def createDatabase(db: String): Unit

  /** DDL only: create `db.t` if absent and evolve it (append-only, O-27/
    * O-30) to cover `schema`. Returns the post-evolution authoritative
    * schema. The job layer also calls it alone for the O-35 quirk, where
    * the reference ensures the groups/aliases tables' structure and then
    * inserts those rows into `identities` (send_to_warehouse.py:273-296). */
  def ensureTableStructure(db: String, t: String, schema: StructType): StructType

  /** Append rows already coerced to `db.t`'s schema. */
  protected def append(df: DataFrame, db: String, t: String): Unit

  /** The stored users to merge with an incoming batch, or None when the
    * store resolves versions itself. */
  protected def currentUsers(spark: SparkSession, db: String): Option[DataFrame]

  /** Make `winners` (one row per user_id) the users table's contents. */
  protected def replaceUsers(db: String, winners: DataFrame): Unit

  /** O-31: insert one batch; the table schema is authoritative, misfits are
    * quarantined. `ddlSchema` overrides the schema used for table creation/
    * evolution (first-non-null inference); returns the misfit row count.
    * The batch is not probed for rows: the caller skips empty batches, and
    * an empty one still ensures the table's structure. */
  final def insertDf(
      spark: SparkSession,
      db: String,
      t: String,
      batch: DataFrame,
      ddlSchema: Option[StructType] = None
  ): Long = {
    val authoritative = ensureTableStructure(db, t, ddlSchema.getOrElse(batch.schema))
    val result        = Coerce.coerce(batch, authoritative, t)
    try {
      val misfitCount = writeMisfits(db, result)
      append(result.main, db, t)
      misfitCount
    } finally result.unpersist()
  }

  /** O-21/O-28: last-write-wins users upsert, the ReplacingMergeTree(ver)
    * equivalent. Current users ∪ incoming, the max-`ver` row per user_id
    * replaces the table. Like `insertDf`, it runs whatever it is given; the
    * caller skips batches without a user_id. */
  final def upsertUsers(spark: SparkSession, db: String, identities: DataFrame): Unit = {
    val incoming      = Dedup.usersFromIdentities(identities)
    val authoritative = ensureTableStructure(db, UsersTable, incoming.schema)
    val result        = Coerce.coerce(incoming, authoritative, UsersTable)
    try {
      writeMisfits(db, result)
      val aligned = currentUsers(spark, db) match {
        case Some(existing) if existing.columns.nonEmpty =>
          Coerce.coerce(Coerce.addMissingColumns(existing, authoritative), authoritative,
            UsersTable, persistIntermediate = false).main
            .unionByName(result.main, allowMissingColumns = true)
        case _ => result.main
      }
      replaceUsers(db, Dedup.lastWriteWins(aligned, Seq(UserId), Ver, Seq(col(MessageId).desc)))
    } finally result.unpersist()
  }

  /** O-32: lazy-create + append the misfits dead-letter table (deduped on
    * its CH sort key first, O-23). A coercion that cannot misfit costs no
    * pass at all. */
  private def writeMisfits(db: String, coerced: Coerce.CoerceResult): Long = {
    if (!coerced.misfitsPossible) return 0L
    val deduped = Dedup.dedupMisfits(coerced.misfits).persist()
    try {
      val n = deduped.count()
      if (n > 0) {
        ensureTableStructure(db, MisfitsTable, deduped.schema)
        append(deduped, db, MisfitsTable)
      }
      n
    } finally { deduped.unpersist(); () }
  }
}

/** Reference seghouse/warehouse/factory.py:4-13. */
object WarehouseFactory {
  def parquet(root: String): Warehouse = new WarehouseSink(new TableCatalog(root))

  /** Typed-dict dispatch — the config-file path (factory.py:4-8 plus the
    * connection keys ClickHouse reads, clickhouse.py:43-48). Two extra
    * types beyond the reference ("parquet" lakehouse, generic "jdbc")
    * cover this engine's native sinks. */
  def fromConf(conf: Map[String, String]): Warehouse = {
    def req(k: String): String = conf.getOrElse(k,
      throw new IllegalArgumentException(s"warehouse conf needs '$k': $conf"))
    conf.getOrElse("type", "") match {
      case "clickhouse" =>
        // the reference defaults to 9000 (clickhouse.py:44) for its NATIVE
        // protocol client; this sink speaks JDBC-over-HTTP, whose server
        // port is 8123 — porting 9000 unchanged would break every config
        // that omits the port
        val port = conf.getOrElse("port", "8123")
        val props = Map("user" -> req("user"), "password" -> req("password"))
        new ClickHouseWarehouse(
          s"jdbc:clickhouse://${req("host")}:$port", props, conf.get("cluster"))
      case "parquet" => parquet(req("root"))
      case "jdbc"    => new JdbcWarehouse(req("url"), conf - "type" - "url")
      case other => throw new IllegalArgumentException(
        s"Unable to get warehouse of type $other") // factory.py:8 message
    }
  }
}
