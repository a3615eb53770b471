package graft.sink

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Append-only schema-evolving table catalog over a parquet directory tree.
  *
  * The reference leans on ClickHouse DDL for all of this: CREATE DATABASE
  * (clickhouse.py:59-66), CREATE TABLE IF NOT EXISTS with a memo set
  * (clickhouse.py:69-93), DESCRIBE TABLE (clickhouse.py:137-144) and
  * ALTER TABLE ADD COLUMN IF NOT EXISTS (clickhouse.py:185-191). Over a
  * Spark-managed lakehouse we own the authoritative schema ourselves
  * (SURVEY §7.3 hard part 1): each table directory carries a
  * `_schema.json` (Spark `StructType.json`), evolution is append-only
  * union-widening (columns are never dropped or retyped — reference
  * send_to_warehouse.py:298-307), and the table schema wins over the batch
  * at insert time (coercion handled by etl.Coerce).
  *
  * All catalog operations are driver-side metadata: no data job is launched
  * by ensure/describe/evolve, matching the "created_tables memo" round-trip
  * avoidance (clickhouse.py:39,71-72).
  *
  * All path I/O goes through the Hadoop `FileSystem`/`FileContext` API
  * resolved from the ROOT's scheme, so the catalog works unchanged on
  * `file://`, `hdfs://` and `s3a://` roots — never java.nio, which would
  * pin the lakehouse to the driver's local disk.
  */
final class TableCatalog(val root: String) {

  /** Hadoop conf of the active session when there is one (so fs.s3a.* etc.
    * settings apply); a vanilla Configuration otherwise (local FS). */
  private def conf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fs: FileSystem = new Path(root).getFileSystem(conf)

  def databasePath(db: String): String         = s"$root/$db"
  def tablePath(db: String, t: String): String = s"$root/$db/$t"
  private def schemaFile(db: String, t: String) = new Path(s"${tablePath(db, t)}/_schema.json")
  // the non-atomic fallback swap (below) parks the old schema here so the
  // authoritative schema is never absent-with-no-trace mid-swap
  private def backupFile(db: String, t: String) = new Path(s"${tablePath(db, t)}/._schema.json.bak")

  /** O-26: CREATE DATABASE IF NOT EXISTS. */
  def createDatabase(db: String): Unit = {
    fs.mkdirs(new Path(databasePath(db)))
    ()
  }

  def tableExists(db: String, t: String): Boolean =
    fs.exists(schemaFile(db, t)) || fs.exists(backupFile(db, t))

  /** O-29: DESCRIBE TABLE — the authoritative schema, or None. A reader
    * that races the fallback swap (schema file momentarily absent between
    * the two renames) falls back to the parked backup; if BOTH lookups
    * miss, the main file is re-read once more — a false "nonexistent" now
    * requires two full swap windows to interleave one read apart, which a
    * driver-side metadata pair cannot straddle in practice (the window is
    * two renames wide). The residual race is inherent to a
    * non-transactional store and is documented rather than denied. */
  def describe(db: String, t: String): Option[StructType] = {
    def readFile(p: Path): Option[StructType] =
      try Some(DataType.fromJson(SnapshotSink.readSmall(fs, p)).asInstanceOf[StructType])
      catch { case _: java.io.FileNotFoundException => None }
    readFile(schemaFile(db, t))
      .orElse(readFile(backupFile(db, t)))
      .orElse(readFile(schemaFile(db, t)))
  }

  private def writeSchema(db: String, t: String, s: StructType): Unit = {
    val dir = new Path(tablePath(db, t))
    fs.mkdirs(dir)
    // write-then-rename so a concurrent reader never sees a torn schema
    // file; Options.Rename.OVERWRITE is atomic on HDFS/local (best-effort
    // copy-replace on object stores, where the schema file is tiny anyway)
    val tmp = new Path(s"${tablePath(db, t)}/._schema.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(s.json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // FileContext gives atomic rename-with-overwrite, but a scheme can
    // have a FileSystem impl without an AbstractFileSystem binding
    // (UnsupportedFileSystemException) — fall back to a two-rename swap on
    // the ALREADY-RESOLVED fs, never to the default FileContext, which
    // would target the wrong filesystem with a confusing error. The swap
    // parks the current schema as a backup first (not delete-then-rename):
    // the old schema survives a writer crash mid-swap, and describe()
    // reads the backup during the window where the main file is absent.
    try {
      val fc = FileContext.getFileContext(new Path(root).toUri, conf)
      fc.rename(tmp, schemaFile(db, t), Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        val dst = schemaFile(db, t)
        val bak = backupFile(db, t)
        if (fs.exists(dst)) {
          fs.delete(bak, false)
          if (!fs.rename(dst, bak))
            throw new java.io.IOException(s"could not park $dst as $bak")
        }
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"could not move $tmp into place")
        fs.delete(bak, false)
    }
    ()
  }

  /** O-27/O-30: ensure the table exists and contains every column of
    * `batchSchema`; new columns are appended (never retyped/dropped).
    * Returns the post-evolution authoritative schema.
    *
    * Deliberately NOT memoized (the reference keeps a `created_tables`
    * set to skip CREATE round-trips, clickhouse.py:39,71-72): here the
    * existence check IS the authoritative-schema read — one tiny
    * metadata file — and it must stay FRESH, because a concurrent batch
    * may have evolved the table since this writer last saw it; a memo
    * that skips the read would re-introduce the lost-column race the
    * per-table lock exists to prevent. */
  def ensureTableStructure(db: String, t: String, batchSchema: StructType): StructType = {
    val lock = TableCatalog.evolutionLock(root, db, t)
    lock.synchronized {
      describe(db, t) match {
        case None =>
          writeSchema(db, t, batchSchema)
          batchSchema
        case Some(existing) =>
          val known   = existing.fieldNames.toSet
          val newCols = batchSchema.fields.filterNot(f => known(f.name))
          if (newCols.isEmpty) existing
          else {
            val evolved = StructType(existing.fields ++ newCols)
            writeSchema(db, t, evolved)
            evolved
          }
      }
    }
  }

  /** Read a table back under its authoritative schema: parts written
    * before the last evolution simply lack the newer columns -> NULL, and
    * no job merges the parts' footers. Partition directories (event_date)
    * are still discovered and appended. A table without a catalog schema
    * falls back to merging the footers.
    * (Companion-held evolution locks live in [[TableCatalog$]].) */
  def read(spark: SparkSession, db: String, t: String): DataFrame = {
    val p       = new Path(tablePath(db, t))
    val hasData = fs.exists(p) && fs.listStatus(p).exists { st =>
      val name = st.getPath.getName
      name.endsWith(".parquet") ||
        (st.isDirectory && !name.startsWith("_") && !name.startsWith("."))
    }
    val schema = describe(db, t)
    if (!hasData)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.getOrElse(new StructType()))
    else schema match {
      case Some(s) => spark.read.schema(s).parquet(tablePath(db, t))
      case None    => spark.read.option("mergeSchema", "true").parquet(tablePath(db, t))
    }
  }
}

object TableCatalog {
  // one lock per (root, db, table) held JVM-WIDE, not per catalog
  // instance: evolution is a read-modify-write of _schema.json, and two
  // unserialized writers that both read the base schema would each
  // persist only their own new columns — last-writer-WINS must still be
  // last-writer-carries-the-UNION. Catalog instances are constructed
  // freely (Warehouse.parquet builds one per call), so the lock registry
  // must outlive them. In-process writers (concurrent batches/streams on
  // one driver — the deployment shape here and in the reference)
  // serialize on this; writers on DIFFERENT drivers need an external
  // arbiter (a real metastore / lock service) — the documented limit of
  // a file-backed catalog, same as Hive-less parquet tables generally.
  private val evolutionLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[sink] def evolutionLock(root: String, db: String, t: String): Object =
    evolutionLocks.computeIfAbsent(s"$root|$db|$t", _ => new Object)
}
