package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Abstract warehouse surface (reference seghouse/warehouse/warehouse.py:
  * 1-60): create database, schema-evolving batch insert with misfit
  * quarantine, last-write-wins users upsert. Implementations: parquet
  * lakehouse ([[WarehouseSink]]) and JDBC ([[JdbcWarehouse]]). The job
  * layer fans every batch out to all configured warehouses (O-34). */
trait Warehouse {
  def createDatabase(db: String): Unit

  /** Insert one batch; table schema is authoritative, misfits quarantined.
    * `ddlSchema` overrides the schema used for table creation/evolution
    * (first-non-null inference); returns misfit row count. Implementations
    * do not probe the batch for rows: the caller skips empty batches, and
    * an empty one still ensures the table's structure. */
  def insertDf(
      spark: SparkSession,
      db: String,
      t: String,
      batch: DataFrame,
      ddlSchema: Option[org.apache.spark.sql.types.StructType] = None
  ): Long

  /** ReplacingMergeTree(ver)-equivalent users upsert. Like `insertDf`, it
    * runs whatever it is given; the caller skips batches without a user_id. */
  def upsertUsers(spark: SparkSession, db: String, identities: DataFrame): Unit

  /** DDL-only: create `db.t` if absent and evolve it (append-only) to cover
    * `ddlSchema`, WITHOUT inserting anything. Exists for the O-35 quirk,
    * where the reference ensures the groups/aliases tables' structure and
    * then inserts those rows into `identities`
    * (send_to_warehouse.py:273-296). */
  def ensureStructure(db: String, t: String,
      ddlSchema: org.apache.spark.sql.types.StructType): Unit
}

/** Reference seghouse/warehouse/factory.py:4-13. */
object WarehouseFactory {
  def parquet(root: String): Warehouse = new WarehouseSink(new TableCatalog(root))
  def jdbc(url: String, props: Map[String, String] = Map.empty): Warehouse =
    new JdbcWarehouse(url, props)

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
      case "jdbc"    => jdbc(req("url"), conf - "type" - "url")
      case other => throw new IllegalArgumentException(
        s"Unable to get warehouse of type $other") // factory.py:8 message
    }
  }
}
