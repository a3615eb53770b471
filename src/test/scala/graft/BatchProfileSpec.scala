package graft

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{BatchProfile, ColumnStats, Normalize, TypeInference, TypeSplit}
import graft.jobs.{JobConf, SendToWarehouseJob}
import graft.model.EventSchema._
import graft.sink.{TableCatalog, WarehouseSink}

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

  test("a batch costs at most 2 + 3 jobs per stored table") {
    def track(id: String, event: String, qty: String) = line(
      s""""messageId":"$id","userId":"u-$id","type":"track","event":"$event","properties":{"qty":"$qty"}""")
    val lines = Seq(
      track("t1", "Alpha", "1"), track("t2", "Alpha", "2"), track("t3", "Beta", "3"),
      track("t4", "Beta", "four"), track("t5", "Gamma", "5"),
      line(""""messageId":"i1","userId":"u1","type":"identify","traits":{"plan":"pro"}"""))
    val raw = spark.read.json(writeDir(lines).toString).persist()
    raw.count()
    val wh = Files.createTempDirectory("graft_profile_jobs")
    val job = new SendToWarehouseJob(spark, JobConf(warehouseRoots = Seq(wh.toString)), "Jobs")

    val group = "batch-profile-spec-" + System.nanoTime()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.map(_.name).mkString("+"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    // as in a streaming micro-batch, where Structured Streaming turns
    // adaptive execution off and one query is one job
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      sc.setJobGroup(group, "processBatch job count")
      job.processBatch(raw)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      sc.clearJobGroup()
      // let the bus deliver the last job starts before reading the count
      Thread.sleep(500)
      sc.removeSparkListener(listener)
      raw.unpersist()
    }

    val db = wh.resolve("jobs").toFile
    val stored = db.listFiles.filter(_.isDirectory).filter { t =>
      Files.walk(t.toPath).anyMatch(_.toString.endsWith(".parquet"))
    }.map(_.getName).sorted.toSeq
    assert(stored == Seq("alpha", "beta", "gamma", "identities", "misfits", "tracks", "users"))
    val seen = jobs.toArray.toSeq.map(_.toString)
    val listing = s"${seen.size} jobs for ${stored.size} tables:\n${seen.mkString("\n")}"
    assert(seen.nonEmpty)
    assert(seen.size <= 2 + 3 * stored.size, listing)
    // tighter, so that one probe per table cannot hide under the bound
    // above: outside the sinks only the batch's own passes run (array
    // observation, profile), and a sink pays one write per table plus a
    // misfit pass where a column changes type
    val (sinkJobs, batchJobs) = seen.partition(_.contains("WarehouseSink.scala"))
    assert(batchJobs.size <= 2, listing)
    assert(sinkJobs.size <= 2 * stored.size, listing)
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
