package graft

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{BatchProfile, ColumnStats, Normalize, TypeInference, TypeSplit}
import graft.jobs.{JobConf, SendToWarehouseJob}
import graft.model.EventSchema._
import graft.sink.{TableCatalog, WarehouseSink}
import graft.util.Names

/** The load job takes every store decision from one grouped aggregate
  * (`BatchProfile`). These specs hold it to the per-table computations it
  * replaced, bound the jobs a batch may cost, and pin the sink contract that
  * goes with it: the job, not the sink, decides emptiness. */
class BatchProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def line(fields: String): String =
    s"""{"anonymousId":"a","timestamp":"2024-02-01T00:00:00.000Z",$fields}"""

  private val fixture = Seq(
    // an event whose message_id is all-null; its first `code` (min value) is numeric
    line(""""type":"track","event":"No Id","properties":{"code":"x1","qty":"5"}"""),
    line(""""type":"track","event":"No Id","properties":{"code":"9","qty":"seven"}"""),
    // "Order Done" and "OrderDone" both normalize to order_done; the
    // smallest message_id (a-1) holds text, so code stays a string there
    line(""""messageId":"b-1","type":"track","event":"Order Done","properties":{"code":"42","onlyHere":"7"}"""),
    line(""""messageId":"a-1","type":"track","event":"OrderDone","properties":{"code":"abc"}"""),
    line(""""messageId":"c-1","type":"track","event":"Order Done","properties":{"code":"1.5","flag":"true"}"""),
    // a track row with a null event
    line(""""messageId":"d-1","type":"track","properties":{"code":"zzz"}"""),
    // a null type and an unknown type
    line(""""messageId":"e-1","properties":{"code":"3"}"""),
    line(""""messageId":"f-1","type":"weird","properties":{"code":"4"}"""),
    // onlyHere is null in every identify row but not in the order_done rows
    line(""""messageId":"g-1","type":"identify","userId":"u1","traits":{"code":"text","n":"12"}"""),
    line(""""messageId":"g-0","type":"identify","traits":{"code":"11"}"""),
    line(""""messageId":"h-1","type":"page","properties":{"code":"2","items":[{"sku":"s1"}]}""")
  )

  private def writeDir(lines: Seq[String]): Path = {
    val dir = Files.createTempDirectory("graft_profile_src")
    Files.write(dir.resolve("b.json"), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    dir
  }

  private def flatOf(lines: Seq[String]): DataFrame =
    new SendToWarehouseJob(spark, JobConf(), "ns").normalize(spark.read.json(writeDir(lines).toString))

  /** count(c) per column, computed directly on `df`. */
  private def directDead(df: DataFrame): Seq[String] = {
    val row = df.agg(count(lit(1)), df.columns.toIndexedSeq.map(c => count(col(c))): _*).head()
    df.columns.toIndexedSeq.zipWithIndex.collect { case (c, i) if row.getLong(i + 1) == 0L => c }
  }

  /** The profile's view of one table against the same facts computed on the
    * table's own frame. */
  private def assertAgrees(name: String, df: DataFrame, stats: Option[ColumnStats]): Unit = {
    val excl = SendToWarehouseJob.InferenceExcluded
    assert(stats.isEmpty == df.isEmpty, s"$name: emptiness")
    stats.foreach { s =>
      assert(s.rows == df.count(), s"$name: rows")
      val dead = s.deadColumns(df.schema)
      assert(dead == directDead(df), s"$name: all-null columns")
      val pruned = df.drop(dead: _*)
      assert(s.refinedSchema(pruned.schema) == TypeInference.refineSchema(pruned, excl),
        s"$name: refined schema")
    }
  }

  test("profile-derived dead columns, schemas, emptiness and event names equal per-table scans") {
    val flat = flatOf(fixture).persist()
    try {
      val profile = BatchProfile(flat, SendToWarehouseJob.InferenceExcluded)
      assert(profile.rows == fixture.size)
      val byType = TypeSplit.breakDownByType(flat)
      EventTypes.foreach(t => assertAgrees(t, byType(t), profile.ofType(t)))

      val tracks = Normalize.normalizeEventName(byType("track"))
      assertAgrees("tracks table", Normalize.selectTracksColumns(tracks, Nil), profile.ofType("track"))
      val direct = tracks.select(EventCol).distinct().orderBy(EventCol)
        .collect().flatMap(r => Option(r.getString(0))).toSeq
      assert(profile.eventNames == direct)
      assert(direct == Seq("no_id", "order_done"))
      direct.foreach(e => assertAgrees(e, TypeSplit.filterEvent(tracks, e), profile.ofEvent(e)))

      // the fixture's cases actually bite
      val noId = profile.ofEvent("no_id").get
      assert(noId.deadColumns(flat.schema).contains(MessageId))
      val noIdTable = TypeSplit.filterEvent(tracks, "no_id")
      assert(noId.refinedSchema(noIdTable.schema)("properties_code").dataType == LongType)
      val orderDone = TypeSplit.filterEvent(tracks, "order_done")
      assert(profile.ofEvent("order_done").get.refinedSchema(orderDone.schema)(
        "properties_code").dataType == StringType)
      assert(profile.ofEvent("order_done").get.rows == 3L)
      assert(!profile.ofEvent("order_done").get.deadColumns(flat.schema).contains("properties_only_here"))
      assert(profile.ofType("identify").get.deadColumns(flat.schema).contains("properties_only_here"))
      assert(profile.ofType("identify").get.nonNull(UserId) == 1L)
      assert(profile.ofType("screen").isEmpty)
    } finally { flat.unpersist(); () }
  }

  test("an empty batch profiles to no rows and stores nothing") {
    val flat = flatOf(fixture)
    val profile = BatchProfile(flat.limit(0), SendToWarehouseJob.InferenceExcluded)
    assert(profile.rows == 0L)
    assert(EventTypes.forall(t => profile.ofType(t).isEmpty) && profile.eventNames.isEmpty)

    val wh = Files.createTempDirectory("graft_profile_empty")
    new SendToWarehouseJob(spark, JobConf(warehouseRoots = Seq(wh.toString)), "Empty")
      .processBatch(spark.read.json(writeDir(fixture).toString).limit(0))
    assert(Option(wh.toFile.listFiles).forall(_.isEmpty))
  }

  private def track(id: String, event: String, qty: String) = line(
    s""""messageId":"$id","userId":"u-$id","type":"track","event":"$event","properties":{"qty":"$qty"}""")

  /** Runs `lines` as one batch with adaptive execution off, as in a
    * streaming micro-batch, where Structured Streaming turns it off and one
    * query is one job. Returns the stored tables, each job's stage names
    * and the warehouse root. */
  private def processCountingJobs(lines: Seq[String], namespace: String): (Seq[String], Seq[String], Path) = {
    val raw = spark.read.json(writeDir(lines).toString).persist()
    raw.count()
    val wh = Files.createTempDirectory("graft_profile_jobs")
    val job = new SendToWarehouseJob(spark, JobConf(warehouseRoots = Seq(wh.toString)), namespace)

    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (_, jobs) =
      try JobRecorder.record(spark)(job.processBatch(raw))
      finally {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        raw.unpersist()
      }

    val db = wh.resolve(Names.decamelize(namespace)).toFile
    val stored = db.listFiles.filter(_.isDirectory).filter { t =>
      Files.walk(t.toPath).anyMatch(_.toString.endsWith(".parquet"))
    }.map(_.getName).sorted.toSeq
    (stored, JobRecorder.stageNames(jobs), db.toPath)
  }

  /** The bounds every batch keeps: at most 2 + 3 jobs per stored table in
    * all, and tighter, so that one probe per table cannot hide under that
    * bound: outside the sinks only the batch's own passes run (array
    * observation, profile), and a sink pays one write per table plus the
    * batch's one misfit pass. The load protocol runs at Warehouse.scala,
    * the parquet writes at WarehouseSink.scala. */
  private def assertJobBounds(stored: Seq[String], seen: Seq[String]): Unit = {
    val listing = s"${seen.size} jobs for ${stored.size} tables:\n${seen.mkString("\n")}"
    assert(seen.nonEmpty)
    assert(seen.size <= 2 + 3 * stored.size, listing)
    val (sinkJobs, batchJobs) = seen.partition(_.matches("(?s).* at Warehouse(Sink)?\\.scala:.*"))
    assert(batchJobs.size <= 2, listing)
    assert(sinkJobs.size <= 2 * stored.size, listing)
  }

  test("a batch costs at most 2 + 3 jobs per stored table") {
    val lines = Seq(
      track("t1", "Alpha", "1"), track("t2", "Alpha", "2"), track("t3", "Beta", "3"),
      track("t4", "Beta", "four"), track("t5", "Gamma", "5"),
      line(""""messageId":"i1","userId":"u1","type":"identify","traits":{"plan":"pro"}"""))
    val (stored, seen, _) = processCountingJobs(lines, "Jobs")
    assert(stored == Seq("alpha", "beta", "gamma", "identities", "misfits", "tracks", "users"))
    assertJobBounds(stored, seen)
  }

  test("a batch whose every event table drifts writes its misfits with one count and one write job") {
    val lines = Seq(
      track("t1", "Alpha", "1"), track("t2", "Alpha", "two"), track("t3", "Beta", "3"),
      track("t4", "Beta", "four"), track("t5", "Gamma", "5"), track("t6", "Gamma", "six"),
      line(""""messageId":"i1","userId":"u1","type":"identify","traits":{"plan":"pro"}"""))
    val (stored, seen, db) = processCountingJobs(lines, "Drift")
    assert(stored == Seq("alpha", "beta", "gamma", "identities", "misfits", "tracks", "users"))
    assertJobBounds(stored, seen)
    val misfits = new TableCatalog(db.getParent.toString).read(spark, "drift", MisfitsTable)
    // each drifted cell is quarantined for its event table (the shared
    // tracks table does not carry properties)
    assert(misfits.groupBy("table_name").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("alpha" -> 1L, "beta" -> 1L, "gamma" -> 1L))
    // one dedup/count job for the whole batch's misfits (the write job
    // lists the count's shuffle stage too, as skipped)...
    assert(seen.count(_.split('+').forall(_.startsWith("count at Warehouse.scala:"))) <= 1,
      seen.mkString("\n"))
    // ...and one write job: a write job's files share its job id
    val files = Files.list(db.resolve(MisfitsTable)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    assert(files.map(_.split("-").slice(2, 7).mkString("-")).distinct.size == 1, files.mkString("\n"))
  }

  test("sink contract: an empty frame appends no rows but ensures the table's structure") {
    val root = Files.createTempDirectory("graft_profile_sink").toString
    val catalog = new TableCatalog(root)
    val sink = new WarehouseSink(catalog)
    sink.createDatabase("ns")
    val schema = StructType(Seq(
      StructField(MessageId, StringType),
      StructField(Timestamp, TimestampType),
      StructField("n", LongType)))
    val one = spark.createDataFrame(
      java.util.List.of(Row("m1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L)), schema)
    assert(sink.insertDf(spark, "ns", "t", one) == 0L)

    val wider = schema.add(StructField("extra", StringType))
    val empty = spark.createDataFrame(java.util.List.of[Row](), wider)
    assert(sink.insertDf(spark, "ns", "t", empty) == 0L)
    assert(catalog.describe("ns", "t").map(_.fieldNames.toSeq).contains(wider.fieldNames.toSeq))
    assert(catalog.read(spark, "ns", "t").count() == 1L)

    val fresh = spark.createDataFrame(java.util.List.of[Row](), schema)
    assert(sink.insertDf(spark, "ns", "fresh", fresh) == 0L)
    assert(catalog.describe("ns", "fresh").isDefined)
    assert(catalog.read(spark, "ns", "fresh").count() == 0L)
    assert(!catalog.tableExists("ns", MisfitsTable))
  }
}
