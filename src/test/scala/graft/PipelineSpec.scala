package graft

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{JobConf, SendToWarehouseJob}
import graft.sink.TableCatalog

/** End-to-end golden test over a synthetic Segment NDJSON fixture —
  * mirrors FIXTURES.md §B: all six types + unknown type + adversarial
  * coercion rows + reserved-name event + skip_fields + LWW users. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def envelope(id: String, typ: String, userId: String, ts: String, extra: String = ""): String =
    s"""{"messageId":"$id","anonymousId":"a-1","userId":"$userId","type":"$typ",""" +
      s""""timestamp":"$ts","receivedAt":"2024-01-01T00:10:01.000Z","sentAt":"2024-01-01T00:09:59.000Z",""" +
      s""""ip":"10.0.0.1","channel":"mobile","writeKey":"wk-android"$extra}"""

  private val fixtureLines = Seq(
    // track with nested properties + positional array + name needing O-9
    envelope("m-001", "track", "u-1", "2024-01-01T00:09:58.778Z",
      ""","event":"Product Added&Removed","properties":{"cartValue":12.5,"items":[{"sku":"s1"},{"sku":"s2"}]}"""),
    // track whose normalized event collides with reserved table name -> esc_users
    envelope("m-002", "track", "u-1", "2024-01-01T00:11:00.000Z",
      ""","event":"Users","properties":{"cartValue":7}"""),
    // coercion: cartValue as unparseable string in a third track of same event
    envelope("m-003", "track", "u-2", "2024-01-01T00:12:00.000Z",
      ""","event":"Product Added&Removed","properties":{"cartValue":"twelve"}"""),
    // identifies: two rows same user, different ts -> LWW winner is later
    envelope("m-004", "identify", "u-1", "2024-01-01T00:05:00.000Z",
      ""","traits":{"email":"x@y.z","planTier":1}"""),
    envelope("m-005", "identify", "u-1", "2024-01-01T00:20:00.000Z",
      ""","traits":{"email":"x2@y.z","planTier":2}"""),
    envelope("m-006", "page", "u-3", "2024-01-01T00:13:00.000Z",
      ""","name":"Home","properties":{"path":"/home"}"""),
    envelope("m-007", "screen", "u-3", "2024-01-01T00:14:00.000Z",
      ""","name":"Main""""),
    // groups/aliases -> identities (O-35 quirk)
    envelope("m-008", "group", "u-4", "2024-01-01T00:15:00.000Z",
      ""","groupId":"g-1","traits":{"org":"acme"}"""),
    envelope("m-009", "alias", "u-5", "2024-01-01T00:16:00.000Z",
      ""","previousId":"u-old""""),
    // unknown type silently dropped (O-12)
    envelope("m-010", "bogus", "u-6", "2024-01-01T00:17:00.000Z"),
    // duplicate messageId+timestamp (O-22 dedup semantics downstream)
    envelope("m-001", "track", "u-1", "2024-01-01T00:09:58.778Z",
      ""","event":"Product Added&Removed","properties":{"cartValue":12.5}"""),
    // skip_fields target
    envelope("m-011", "track", "u-7", "2024-01-01T00:18:00.000Z",
      ""","event":"checkoutStarted","properties":{"secretToken":"shh"}""")
  )

  private def writeFixture(dir: Path, name: String, lines: Seq[String]): Unit = {
    Files.write(dir.resolve(name),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  test("full batch pipeline: split, normalize, fan-out, misfits, users LWW, evolution") {
    val src = Files.createTempDirectory("graft_src")
    val wh  = Files.createTempDirectory("graft_wh")
    writeFixture(src, "batch1.json", fixtureLines)

    val conf = JobConf(
      skipFields = Seq("properties_secret_token"),
      extraTimestamps = Map("ny_time" -> "America/New_York"),
      warehouseRoots = Seq(wh.toString))
    val job = new SendToWarehouseJob(spark, conf, "MyApp")
    assert(job.schema == "my_app")
    job.execute(src.toString)

    val cat = new TableCatalog(wh.toString)
    def read(t: String) = cat.read(spark, "my_app", t)

    // tracks: 5 track rows (incl. duplicate m-001)
    val tracks = read("tracks")
    assert(tracks.count() == 5)
    assert(tracks.columns.contains("original_event"))
    val eventNames = tracks.select("event").distinct().collect().map(_.getString(0)).toSet
    assert(eventNames == Set("product_addedand_removed", "users", "checkout_started"))
    // skip field dropped
    assert(!tracks.columns.contains("properties_secret_token"))
    // extra timestamp present
    assert(tracks.columns.contains("ny_time"))
    assert(tracks.columns.contains("unix_timestamp_in_millis"))

    // per-event fan-out with esc_ collision
    assert(read("esc_users").count() == 1)
    assert(read("product_addedand_removed").count() == 3)
    assert(read("checkout_started").count() == 1)

    // identities: 2 identify + 1 group + 1 alias (O-35)
    assert(read("identities").count() == 4)
    // ...including the reference's DDL side effect: the groups/aliases
    // tables exist, evolved to the batch schema, but hold no rows
    // (send_to_warehouse.py:273-296)
    assert(cat.describe("my_app", "groups").exists(_.fieldNames.contains("group_id")))
    assert(cat.describe("my_app", "aliases").exists(_.fieldNames.contains("previous_id")))
    assert(read("groups").count() == 0)
    assert(read("aliases").count() == 0)

    // pages/screens
    assert(read("pages").count() == 1)
    assert(read("screens").count() == 1)

    // users LWW: u-1 winner has plan tier 2
    val users = read("users")
    val u1 = users.filter(users("user_id") === "u-1").collect()
    assert(u1.length == 1)
    assert(u1.head.getAs[Long]("traits_plan_tier") == 2L)

    // misfits: cartValue "twelve" quarantined (table schema says double)
    val misfits = read("misfits")
    val mf = misfits.collect()
    assert(mf.exists(r => r.getAs[String]("message_id") == "m-003"
      && r.getAs[String]("column_name") == "properties_cart_value"))

    // schema evolution: second batch introduces a new column
    val src2 = Files.createTempDirectory("graft_src2")
    writeFixture(src2, "batch2.json", Seq(
      envelope("m-100", "track", "u-9", "2024-01-02T00:00:00.000Z",
        ""","event":"checkoutStarted","properties":{"couponCode":"NEW10"}""")))
    job.execute(src2.toString)
    val evolved = read("checkout_started")
    assert(evolved.columns.contains("properties_coupon_code"))
    assert(evolved.count() == 2)
    // old row has null for the new column
    assert(evolved.filter(evolved("properties_coupon_code").isNull).count() == 1)

    // users idempotence: re-ingesting batch1 leaves users unchanged
    val before = read("users").collect().map(_.toString).sorted.toSeq
    job.execute(src.toString)
    val after = read("users").collect().map(_.toString).sorted.toSeq
    assert(before == after)

    // event tables: appends are blind (CH insert semantics) — the
    // re-ingest doubled tracks; compact() is the explicit merge (O-22)
    val sink = new graft.sink.WarehouseSink(cat)
    // 5 track rows from batch1 (m-001 twice) + 1 from batch2 + 5 re-ingest
    val dupTracks = read("tracks").count()
    assert(dupTracks == 11)
    val removed = sink.compact(spark, "my_app", "tracks")
    assert(removed == 6) // survivors: m-001, m-002, m-003, m-011, m-100
    val compacted = read("tracks")
    assert(compacted.count() == 5)
    assert(compacted.select("message_id", "timestamp").distinct().count() == 5)
    // partition layout survives the rewrite
    assert(compacted.columns.contains("event_date") ||
      java.nio.file.Files.list(java.nio.file.Paths.get(cat.tablePath("my_app", "tracks")))
        .anyMatch(p => p.getFileName.toString.startsWith("event_date=")))
    // compacting an already-clean table removes nothing
    assert(sink.compact(spark, "my_app", "tracks") == 0L)
  }

  test("compact on re-delivered rows returns the removed count from footers, with no count or checkpoint job") {
    val src = Files.createTempDirectory("graft_src_compact")
    val wh  = Files.createTempDirectory("graft_wh_compact")
    writeFixture(src, "b.json", fixtureLines.take(3))
    val job = new SendToWarehouseJob(spark, JobConf(warehouseRoots = Seq(wh.toString)), "redo")
    job.execute(src.toString)
    job.execute(src.toString) // the same file delivered twice
    val cat = new TableCatalog(wh.toString)
    assert(cat.read(spark, "redo", "tracks").count() == 6)

    val (removed, jobs) =
      JobRecorder.record(spark)(new graft.sink.WarehouseSink(cat).compact(spark, "redo", "tracks"))
    assert(removed == 3L)
    assert(cat.read(spark, "redo", "tracks").count() == 3)
    // the rewrite alone: its shuffle stage (adaptive execution runs it as
    // its own job) and the write; no count or checkpoint job before it
    val seen = JobRecorder.stageNames(jobs)
    info(s"${seen.size} jobs:\n${seen.mkString("\n")}")
    assert(seen.nonEmpty && seen.size <= 2, seen.mkString("\n"))
    assert(!seen.exists(j => j.contains("count at") || j.contains("localCheckpoint at")), seen.mkString("\n"))
  }

  test("identify, group and alias rows of one batch all reach identities, with no _temporary left") {
    val src = Files.createTempDirectory("graft_src_ident")
    val wh  = Files.createTempDirectory("graft_wh_ident")
    val identifies = (1 to 3).map(i => envelope(s"i-$i", "identify", s"u-$i",
      s"2024-01-01T00:0$i:00.000Z", s""","traits":{"email":"u$i@x.y"}"""))
    val groups = (1 to 2).map(i => envelope(s"g-$i", "group", s"u-$i",
      s"2024-01-01T00:1$i:00.000Z", s""","groupId":"g-$i","traits":{"org":"o$i"}"""))
    val aliases = (1 to 2).map(i => envelope(s"a-$i", "alias", s"u-$i",
      s"2024-01-01T00:2$i:00.000Z", s""","previousId":"old-$i""""))
    writeFixture(src, "b.json", identifies ++ groups ++ aliases)
    new SendToWarehouseJob(spark, JobConf(warehouseRoots = Seq(wh.toString)), "ns").execute(src.toString)

    val ids = new TableCatalog(wh.toString).read(spark, "ns", "identities")
    assert(ids.count() == identifies.size + groups.size + aliases.size)
    assert(ids.select("message_id").collect().map(_.getString(0)).toSet ==
      (Seq("i-1", "i-2", "i-3", "g-1", "g-2", "a-1", "a-2")).toSet)
    val walk = Files.walk(wh)
    try assert(!walk.iterator().asScala.exists(_.getFileName.toString == "_temporary"))
    finally walk.close()
  }

  test("catalog works against a scheme-qualified file:/// URI root (Hadoop FS path)") {
    // exercises the FileSystem/FileContext code path a deployer hits with
    // s3a:// or hdfs:// roots — no java.nio shortcuts survive this
    val src = Files.createTempDirectory("graft_src_uri")
    val wh  = Files.createTempDirectory("graft_wh_uri")
    writeFixture(src, "b.json", fixtureLines.take(5))
    val uriRoot = wh.toUri.toString.stripSuffix("/") // file:///tmp/...
    assert(uriRoot.startsWith("file:///"))
    val job = new SendToWarehouseJob(spark, JobConf(warehouseRoots = Seq(uriRoot)), "uri_ns")
    job.execute(src.toString)
    val cat = new TableCatalog(uriRoot)
    assert(cat.read(spark, "uri_ns", "tracks").count() == 3)
    // evolution + describe + users swap all work through the FS API
    assert(cat.describe("uri_ns", "users").exists(_.fieldNames.contains("user_id")))
    val sink = new graft.sink.WarehouseSink(cat)
    assert(sink.compact(spark, "uri_ns", "tracks") == 0L)
  }

  test("multi-warehouse fan-out writes identical tables to every sink") {
    val src = Files.createTempDirectory("graft_src_mw")
    val wh1 = Files.createTempDirectory("graft_wh1")
    val wh2 = Files.createTempDirectory("graft_wh2")
    writeFixture(src, "b.json", fixtureLines.take(3))
    val job = new SendToWarehouseJob(spark,
      JobConf(warehouseRoots = Seq(wh1.toString, wh2.toString)), "ns")
    job.execute(src.toString)
    val c1 = new TableCatalog(wh1.toString).read(spark, "ns", "tracks").count()
    val c2 = new TableCatalog(wh2.toString).read(spark, "ns", "tracks").count()
    assert(c1 == 3 && c2 == 3)
  }
}
