package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.etl.{BatchProfile, ColumnStats, Normalize, TypeSplit}
import graft.ingest.{JsonFlatten, Readers}
import graft.model.EventSchema._
import graft.sink.TableLoad
import graft.util.Names

/** Job configuration (reference seghouse/config/configuration.py:22-45):
  * skip-fields dropped after flatten, extra timezone columns derived from
  * `timestamp`, and one or more warehouse sink roots (multi-warehouse
  * fan-out, O-34). */
final case class JobConf(
    skipFields: Seq[String] = Nil,
    extraTimestamps: Map[String, String] = Map.empty,
    warehouseRoots: Seq[String] = Nil,
    /** Typed warehouse dicts (configuration.py:27) from a config file or a
      * `--jdbc-url` flag, dispatched by [[graft.sink.WarehouseFactory.fromConf]]. */
    warehouseConfs: Seq[Map[String, String]] = Nil
)

/** EP-1: the full ingestion dataflow, Spark-native.
  *
  * Reference pipeline (seghouse/jobs/send_to_warehouse.py:104-143):
  * per-file sequential parse -> flatten -> drop -> 6-way split -> extra
  * timestamps -> per-table store. Here the WHOLE input directory is one
  * distributed read (file-splitting replaces the reference's <100-file
  * sequential loop), and the parsed+flattened batch is persisted once. One
  * grouped aggregate over it ([[graft.etl.BatchProfile]]) then decides the
  * whole fan-out on the driver: which tables have rows, which columns are
  * all-null, each table's refined DDL schema and the event-name list. The
  * job turns the profile into one [[graft.sink.TableLoad]] per stored table
  * and hands the whole list to each sink's `load`: the sink ensures and
  * coerces every table on the driver, writes the batch's misfits once,
  * and runs the table appends and the users upsert as overlapped branches.
  *
  * Quirks preserved (semantics ledger, SURVEY §7.3): groups and aliases are
  * structure-checked against their own table names but INSERTED INTO
  * `identities` (reference send_to_warehouse.py:280,296 — O-35); a track
  * event whose normalized name collides with a reserved table name gets an
  * `esc_` prefix (O-33); unknown `type` values are silently dropped (O-12).
  */
final class SendToWarehouseJob(
    spark: SparkSession,
    conf: JobConf,
    namespace: String
) {
  import SendToWarehouseJob.InferenceExcluded

  val schema: String = Names.decamelize(namespace)

  private val sinks: Seq[graft.sink.Warehouse] =
    conf.warehouseRoots.map(graft.sink.WarehouseFactory.parquet) ++
      conf.warehouseConfs.map(graft.sink.WarehouseFactory.fromConf)

  def execute(sourceDir: String): Unit = {
    val raw = Readers.ndjson(spark, sourceDir)
    if (raw.isEmpty) return
    processBatch(raw)
  }

  /** The batch core, reused verbatim by the streaming variant's
    * foreachBatch. An empty batch stores nothing. */
  def processBatch(raw: DataFrame): Unit = {
    val input = raw.drop("_corrupt_record")
    // the array-length observation is the first pass over the source and
    // counts its rows: an empty batch stops there
    val observed = JsonFlatten.observe(input)
    if (observed.exists(_.rows == 0L)) return
    val lens = observed.fold(Map.empty[String, Int])(_.arrayLens)
    val flat = normalizeFlat(input.select(JsonFlatten.flattenColumns(input.schema, lens): _*))
    // the one physical-plan decision (SURVEY §4): persist the parsed batch
    // so the profile and every table write scan it once
    flat.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val profile = BatchProfile(flat, InferenceExcluded)
      if (profile.rows == 0L) return
      sinks.foreach(_.createDatabase(schema))
      val byType = TypeSplit.breakDownByType(flat)

      val loads = Seq.newBuilder[TableLoad]
      profile.ofType("identify").foreach(loads += tableLoad(IdentitiesTable, byType("identify"), _))
      profile.ofType("track").foreach(loads ++= trackLoads(byType("track"), _, profile))
      profile.ofType("screen").foreach(loads += tableLoad(ScreensTable, byType("screen"), _))
      profile.ofType("page").foreach(loads += tableLoad(PagesTable, byType("page"), _))
      // O-35 quirk: the reference ensures the groups/aliases TABLES' own
      // structure (DDL side effect, send_to_warehouse.py:273-296) and then
      // inserts the rows into identities — so the warehouse ends up with
      // (possibly empty) groups/aliases tables evolved to the batch schema,
      // AND the rows in identities.
      profile.ofType("group").foreach(
        loads += tableLoad(IdentitiesTable, byType("group"), _, structureTable = Some(GroupsTable)))
      profile.ofType("alias").foreach(
        loads += tableLoad(IdentitiesTable, byType("alias"), _, structureTable = Some(AliasesTable)))
      val users = profile.ofType("identify")
        .filter(_.nonNull.getOrElse(UserId, 0L) > 0L).map(_ => byType("identify"))
      val tables = loads.result()
      sinks.foreach(_.load(spark, schema, tables, users))
    } finally { flat.unpersist(); () }
  }

  /** Parse/flatten/normalize one raw NDJSON batch into the flat event frame:
    * O-4/O-5 flatten+decamelize, O-6 skip-fields, O-8 timestamp parse,
    * O-10 extra timezones, O-11 epoch millis. */
  def normalize(raw: DataFrame): DataFrame =
    normalizeFlat(JsonFlatten.flatten(raw.drop("_corrupt_record")))

  private def normalizeFlat(flat: DataFrame): DataFrame = {
    val dropped    = Normalize.dropSkipFields(flat, conf.skipFields)
    val parsed     = Normalize.parseTimestamps(dropped)
    val withExtra  = Normalize.extraTimestamps(parsed, conf.extraTimestamps)
    Normalize.withUnixMillis(withExtra)
  }

  /** One non-empty table's load. §1.2: columns entirely null in this table
    * do not take part in its DDL; the reference's first-non-null inference
    * (dataframe_util.py:43-51) types the new columns, then the authoritative
    * table schema wins at insert time and non-conforming cells become
    * misfits (O-19). Both come from the batch profile, not from a scan. */
  private def tableLoad(table: String, df: DataFrame, stats: ColumnStats,
      structureTable: Option[String] = None): TableLoad = {
    val pruned = df.drop(stats.deadColumns(df.schema): _*)
    TableLoad(table, pruned, Some(stats.refinedSchema(pruned.schema)), structureTable)
  }

  private def trackLoads(tracksRaw: DataFrame, stats: ColumnStats, profile: BatchProfile): Seq[TableLoad] = {
    if (!tracksRaw.columns.contains(EventCol)) return Seq(tableLoad(TracksTable, tracksRaw, stats))
    val tracks = Normalize.normalizeEventName(tracksRaw)
    // shared tracks table takes the allowlist+prefix projection (O-7)
    tableLoad(TracksTable, Normalize.selectTracksColumns(tracks, conf.extraTimestamps.keys.toSeq), stats) +:
      // O-33: per-event-name fan-out; reserved-name collision -> esc_ prefix
      profile.eventNames.flatMap { e =>
        val tableName = if (DefaultTables.contains(e)) s"esc_$e" else e
        profile.ofEvent(e).map(tableLoad(tableName, TypeSplit.filterEvent(tracks, e), _))
      }
  }
}

object SendToWarehouseJob {

  /** Columns that keep their reader type: identifiers and discriminators
    * are strings whatever their first value looks like. */
  val InferenceExcluded: Set[String] = Set(MessageId, "anonymous_id", UserId, "ip", "channel",
    "write_key", TypeCol, EventCol, OriginalEventCol)
}
