package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.etl.{Coerce, Dedup}
import graft.model.EventSchema._
import graft.util.Par

/** One table's share of a batch load: the rows for `table`, the schema its
  * DDL is created or evolved from (the rows' own by default), and an O-35
  * table whose structure is ensured from the same schema without receiving
  * the rows (the reference ensures the groups/aliases tables and then
  * inserts those rows into `identities`, send_to_warehouse.py:273-296). */
final case class TableLoad(
    table: String,
    batch: DataFrame,
    ddlSchema: Option[StructType] = None,
    structureTable: Option[String] = None
)

/** Abstract warehouse surface (reference seghouse/warehouse/warehouse.py:
  * 1-60) and its load protocol, written once (clickhouse.py:193-233) and
  * run over a whole batch by [[load]]: ensure every table's structure and
  * coerce every table to its authoritative schema on the driver, write the
  * batch's misfits once, then run the table appends and the users upsert
  * as overlapped branches. Implementations keep only their storage — the
  * four primitives below: parquet lakehouse ([[WarehouseSink]]), JDBC
  * ([[JdbcWarehouse]]) and ClickHouse ([[ClickHouseWarehouse]]). The job
  * layer fans every batch out to all configured warehouses (O-34). */
trait Warehouse {
  def createDatabase(db: String): Unit

  /** DDL only: create `db.t` if absent and evolve it (append-only, O-27/
    * O-30) to cover `schema`. Returns the post-evolution authoritative
    * schema. [[load]] also calls it alone for a [[TableLoad]]'s
    * `structureTable` (the O-35 quirk). */
  def ensureTableStructure(db: String, t: String, schema: StructType): StructType

  /** Append rows already coerced to `db.t`'s schema. */
  protected def append(df: DataFrame, db: String, t: String): Unit

  /** The stored users to merge with an incoming batch, or None when the
    * store resolves versions itself. */
  protected def currentUsers(spark: SparkSession, db: String): Option[DataFrame]

  /** Make `winners` (one row per user_id) the users table's contents. */
  protected def replaceUsers(db: String, winners: DataFrame): Unit

  /** O-31, O-32, O-21: load one batch. Returns the misfit rows written.
    *  1. On the driver, in the order given: ensure each table's structure
    *     (its `structureTable` first) and coerce its rows to the
    *     authoritative schema; the same for the users stream of
    *     `identities`. The table schema wins; a cell that does not fit it
    *     becomes a misfit (O-19).
    *  2. Run the branches through [[graft.util.Par]], longest chain first:
    *     the users read-merge-replace, the misfits of every table and of
    *     users (one dedup, one count, one append), then one branch per
    *     destination table. Loads that share a destination (identify,
    *     group and alias rows all land in `identities`) append in order
    *     inside one branch: two concurrent appends into one parquet
    *     directory would share its `_temporary`.
    *
    * Coercion caches nothing: the inputs are projections of the job's
    * persisted batch, so the misfit pass and the append each re-project
    * it. The batch is not probed for rows: the caller skips empty tables,
    * and an empty one still ensures its structure. A failed branch cancels
    * its siblings and fails the load with its own exception. */
  final def load(
      spark: SparkSession,
      db: String,
      tables: Seq[TableLoad],
      identities: Option[DataFrame]
  ): Long = {
    val coerced = tables.map { l =>
      val ddl = l.ddlSchema.getOrElse(l.batch.schema)
      l.structureTable.foreach(ensureTableStructure(db, _, ddl))
      l.table -> Coerce.coerce(l.batch, ensureTableStructure(db, l.table, ddl), l.table)
    }
    val users = identities.map { ids =>
      val incoming      = Dedup.usersFromIdentities(ids)
      val authoritative = ensureTableStructure(db, UsersTable, incoming.schema)
      authoritative -> Coerce.coerce(incoming, authoritative, UsersTable)
    }
    val misfits = (coerced.map(_._2) ++ users.map(_._2)).filter(_.misfitsPossible).map(_.misfits)

    val usersBranch = users.map { case (authoritative, incoming) =>
      () => { upsert(spark, db, authoritative, incoming.main); 0L }
    }
    val misfitsBranch =
      if (misfits.isEmpty) None else Some(() => writeMisfits(db, misfits.reduce(_ union _)))
    val tableBranches = coerced.map(_._1).distinct.map { t =>
      () => { coerced.collect { case (`t`, r) => append(r.main, db, t) }; 0L }
    }
    Par.parMap(usersBranch.toSeq ++ misfitsBranch ++ tableBranches)(_()).sum
  }

  /** O-31: insert one table's batch — [[load]] with one table. `ddlSchema`
    * overrides the schema used for table creation/evolution (first-non-null
    * inference); returns the misfit row count. */
  final def insertDf(
      spark: SparkSession,
      db: String,
      t: String,
      batch: DataFrame,
      ddlSchema: Option[StructType] = None
  ): Long = load(spark, db, Seq(TableLoad(t, batch, ddlSchema)), None)

  /** O-21/O-28: last-write-wins users upsert — [[load]] with no table.
    * Like `insertDf`, it runs whatever it is given; the caller skips
    * batches without a user_id. */
  final def upsertUsers(spark: SparkSession, db: String, identities: DataFrame): Unit = {
    load(spark, db, Nil, Some(identities))
    ()
  }

  /** The ReplacingMergeTree(ver) equivalent: current users ∪ incoming, the
    * max-`ver` row per user_id replaces the table. */
  private def upsert(spark: SparkSession, db: String, authoritative: StructType,
      incoming: DataFrame): Unit = {
    val aligned = currentUsers(spark, db) match {
      case Some(existing) if existing.columns.nonEmpty =>
        Coerce.coerce(Coerce.addMissingColumns(existing, authoritative), authoritative, UsersTable).main
          .unionByName(incoming, allowMissingColumns = true)
      case _ => incoming
    }
    replaceUsers(db, Dedup.lastWriteWins(aligned, Seq(UserId), Ver, Seq(col(MessageId).desc)))
  }

  /** O-32: lazy-create + append the misfits dead-letter table (deduped on
    * its CH sort key first, O-23). */
  private def writeMisfits(db: String, misfits: DataFrame): Long = {
    val deduped = Dedup.dedupMisfits(misfits).persist()
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
