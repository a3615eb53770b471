package graft.sink

import java.sql.{Connection, DriverManager}
import java.util.Properties

import scala.collection.mutable
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.model.EventSchema._

/** JDBC warehouse sink — the "Structured Streaming + JDBC sink" shape:
  * [[Warehouse]]'s schema-evolving load protocol, with DDL running
  * over a JDBC connection exactly like the reference drives ClickHouse
  * (CREATE SCHEMA / CREATE TABLE IF missing / metadata describe / ALTER
  * TABLE ADD COLUMN — clickhouse.py:59-191), and data lands via Spark's
  * distributed JDBC writer (each partition opens its own connection, so
  * the insert parallelism scales with the cluster, unlike the reference's
  * single synchronous socket).
  *
  * ANSI-leaning DDL, validated against embedded Derby in the test suite;
  * `typeSql` is the single dialect hook a ClickHouse/Postgres deployment
  * would override.
  */
class JdbcWarehouse(
    url: String,
    extraProps: Map[String, String] = Map.empty
) extends Warehouse {

  private def props: Properties = {
    val p = new Properties()
    extraProps.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  /** Connection factory (protocol-test hook: a spec can substitute a
    * recording fake connection and assert the emitted statement sequence
    * without a live server). */
  protected def connect(): Connection = DriverManager.getConnection(url, props)

  protected def withConn[T](f: Connection => T): T =
    Using.resource(connect())(f)

  protected def exec(sql: String): Unit = withConn { c =>
    Using.resource(c.createStatement())(_.executeUpdate(sql)); ()
  }

  protected def q(ident: String): String = "\"" + ident + "\""

  /** Database-name normalization (dialect hook). Derby/ANSI metadata is
    * case-folding, so the base uppercases; case-sensitive dialects
    * (ClickHouse) pass names through untouched. */
  protected def dbName(db: String): String = db.toUpperCase

  /** Spark type -> SQL column type (dialect hook). */
  protected def typeSql(dt: DataType): String = dt match {
    case StringType    => "VARCHAR(4096)"
    case LongType      => "BIGINT"
    case IntegerType   => "INTEGER"
    case ShortType     => "SMALLINT"
    case ByteType      => "SMALLINT"
    case DoubleType    => "DOUBLE"
    case FloatType     => "REAL"
    case BooleanType   => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case DateType      => "DATE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(
      s"no JDBC mapping for ${other.simpleString} (flatten removes nesting upstream)")
  }

  override def createDatabase(db: String): Unit = withConn { c =>
    val exists = Using.resource(
      c.getMetaData.getSchemas(null, dbName(db))) { rs => rs.next() }
    if (!exists) {
      Using.resource(c.createStatement())(_.executeUpdate(s"CREATE SCHEMA ${q(dbName(db))}"))
    }
    ()
  }

  protected def tableRef(db: String, t: String): String =
    s"${q(dbName(db))}.${q(t)}"

  /** DESCRIBE via JDBC metadata -> authoritative schema, or None. */
  def describe(db: String, t: String): Option[StructType] = withConn { c =>
    val cols = mutable.ArrayBuffer[StructField]()
    Using.resource(c.getMetaData.getColumns(null, dbName(db), t, null)) { rs =>
      while (rs.next()) {
        val name = rs.getString("COLUMN_NAME")
        val sqlType = rs.getInt("DATA_TYPE")
        cols += StructField(name, fromSqlType(sqlType,
          rs.getInt("COLUMN_SIZE"), rs.getInt("DECIMAL_DIGITS")))
      }
    }
    if (cols.isEmpty) None else Some(StructType(cols.toSeq))
  }

  private def fromSqlType(t: Int, size: Int, scale: Int): DataType = t match {
    case java.sql.Types.VARCHAR | java.sql.Types.CLOB | java.sql.Types.CHAR
       | java.sql.Types.LONGVARCHAR => StringType
    case java.sql.Types.BIGINT    => LongType
    case java.sql.Types.INTEGER   => IntegerType
    case java.sql.Types.SMALLINT  => ShortType
    case java.sql.Types.DOUBLE | java.sql.Types.FLOAT => DoubleType
    case java.sql.Types.REAL      => FloatType
    case java.sql.Types.BOOLEAN | java.sql.Types.BIT => BooleanType
    case java.sql.Types.TIMESTAMP => TimestampType
    case java.sql.Types.DATE      => DateType
    case java.sql.Types.DECIMAL | java.sql.Types.NUMERIC => DecimalType(size.min(38), scale)
    case _ => StringType
  }

  /** CREATE TABLE statement (dialect hook — ClickHouse substitutes full
    * MergeTree DDL with ENGINE/PARTITION BY/ORDER BY clauses here). */
  protected def createTableSql(db: String, t: String, batchSchema: StructType): String = {
    val colsSql = batchSchema.fields
      .map(f => s"${q(f.name)} ${typeSql(f.dataType)}").mkString(", ")
    s"CREATE TABLE ${tableRef(db, t)} ($colsSql)"
  }

  /** ALTER TABLE ADD COLUMN statement (dialect hook). */
  protected def addColumnSql(db: String, t: String, f: StructField): String =
    s"ALTER TABLE ${tableRef(db, t)} ADD COLUMN ${q(f.name)} ${typeSql(f.dataType)}"

  /** CREATE TABLE if absent (memoized), then ALTER TABLE ADD COLUMN for
    * every new column — append-only evolution, O-27/O-30. Returns the
    * post-evolution schema. */
  override def ensureTableStructure(db: String, t: String, batchSchema: StructType): StructType = {
    // not memoized, same reasoning as TableCatalog.ensureTableStructure:
    // the describe must stay fresh under concurrent evolution
    describe(db, t) match {
      case None =>
        exec(createTableSql(db, t, batchSchema))
        batchSchema
      case Some(existing) =>
        // JDBC metadata uppercases unquoted... we quote, so names match
        val known = existing.fieldNames.toSet
        val newCols = batchSchema.fields.filterNot(f => known(f.name))
        newCols.foreach(f => exec(addColumnSql(db, t, f)))
        StructType(existing.fields ++ newCols)
    }
  }

  protected def jdbcWrite(df: DataFrame, db: String, t: String): Unit =
    df.write.mode("append").jdbc(url, tableRef(db, t), props)

  def read(spark: SparkSession, db: String, t: String): DataFrame =
    spark.read.jdbc(url, tableRef(db, t), props)

  override protected def append(df: DataFrame, db: String, t: String): Unit =
    jdbcWrite(df, db, t)

  override protected def currentUsers(spark: SparkSession, db: String): Option[DataFrame] =
    Some(read(spark, db, UsersTable))

  /** Stage-then-swap: land the winners in a staging table via the
    * distributed writer, then replace the live table's rows in ONE
    * transaction — a crash mid-upsert cannot leave users empty (the parquet
    * sink swaps directories for the same reason; the reference never
    * truncates, ReplacingMergeTree does the replacement server-side). */
  override protected def replaceUsers(db: String, winners: DataFrame): Unit = {
    val staged = winners.localCheckpoint(true) // materialize BEFORE touching the sink table
    val stage = UsersTable + "__stage"
    if (describe(db, stage).isDefined) exec(s"DROP TABLE ${tableRef(db, stage)}")
    exec(createTableSql(db, stage, staged.schema))
    jdbcWrite(staged, db, stage)
    val colList = staged.schema.fieldNames.map(q).mkString(", ")
    withConn { c =>
      c.setAutoCommit(false)
      try {
        Using.resource(c.createStatement()) { st =>
          st.executeUpdate(s"DELETE FROM ${tableRef(db, UsersTable)}")
          st.executeUpdate(
            s"INSERT INTO ${tableRef(db, UsersTable)} ($colList) " +
              s"SELECT $colList FROM ${tableRef(db, stage)}")
        }
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
      finally c.setAutoCommit(true)
      Using.resource(c.createStatement())(_.executeUpdate(s"DROP TABLE ${tableRef(db, stage)}"))
    }
  }
}
