package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{PortableSketch, SketchFunctions}
import graft.sink.SnapshotSink

/** The Spark jobs each `SnapshotSink` write entry point runs on a fixed
  * small fixture. Each bound is the count the store ran before its writes
  * shared one commit path, so a refactor of that path cannot quietly
  * re-add a count, a stats pass or a checkpoint. The footer fast paths
  * (driver-side parquet footer reads instead of a count or stats job) are
  * what keeps the plain and stats commits at these numbers. */
class SnapshotCommitCostSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpRoot() =
    java.nio.file.Files.createTempDirectory("snapshot_cost").toString

  private def assertJobs(what: String, bound: Int)(body: => SnapshotSink.Snapshot): SnapshotSink.Snapshot = {
    val (s, jobs) = JobRecorder.record(spark)(body)
    val n = jobs.size
    info(s"$what: $n jobs (bound $bound)")
    assert(n <= bound, s"$what ran $n Spark jobs, more than $bound")
    s
  }

  private def h(s: String) = PortableSketch.md5Long(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def keys = SketchFunctions.portableHash64(array(col("e").cast("string")))

  /** 80 rows, entity `e` = id / 10, `day` = id: four entity-bucketed files. */
  private def dual(root: String): Unit = {
    val rows = spark.range(80).select(expr("id DIV 10").as("e"), col("id").as("day"), col("id").as("v"))
    SnapshotSink.commitIndexed(rows.repartition(4, col("e")), root, Seq("day"), Some((keys, 64L, 0.01)))
    ()
  }

  private def slab(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") * 2).as("m")).repartitionByRange(4, col("k"))

  test("plain commit and append each run one write job and count rows from footers") {
    val root = tmpRoot()
    val s1 = assertJobs("commit", 1)(SnapshotSink.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root))
    val s2 = assertJobs("append", 1)(SnapshotSink.append(Seq((3L, "c")).toDF("k", "v"), root))
    assert(s1.rows == 2L && s2.rows == 3L)
  }

  test("footer-path commitWithStats and appendWithStats run no stats or count job") {
    val root = tmpRoot()
    val s1 = assertJobs("commitWithStats", 4)(SnapshotSink.commitWithStats(slab(0, 100), root, Seq("k")))
    val s2 = assertJobs("appendWithStats", 5)(SnapshotSink.appendWithStats(slab(100, 200), root, Seq("k")))
    assert(s1.rows == 100L && s2.rows == 200L)
  }

  test("commitIndexed with sum columns") {
    val root = tmpRoot()
    val s = assertJobs("commitIndexed+sumCols", 9)(
      SnapshotSink.commitIndexed(slab(0, 100), root, Seq("k"), None, Seq("m")))
    assert(s.rows == 100L)
  }

  test("deleteMatching and upsertKeyed on a dual-indexed lineage") {
    val root = tmpRoot()
    dual(root)
    val d = assertJobs("deleteMatching", 15)(
      SnapshotSink.deleteMatching(spark, root, h("3"), col("e") === 3L, keys, 64L, statsCols = Seq("day")))
    assert(d.rows == 70L)
    val batch = Seq((2L, 999L, 777L), (100L, 5L, 1L)).toDF("e", "day", "v")
    val u = assertJobs("upsertKeyed", 18)(
      SnapshotSink.upsertKeyed(spark, root, batch, Seq("e", "v"), "day", Nil, keys, 64L, statsCols = Seq("day")))
    assert(u.rows == 72L)
  }

  test("expireBelow: no-op and boundary expiries on a stats lineage and a dual-indexed one") {
    val root = tmpRoot()
    SnapshotSink.commitWithStats(slab(0, 100), root, Seq("k"))
    val noop = assertJobs("expireBelow no-op", 7)(SnapshotSink.expireBelow(spark, root, "k", -5L, Seq("k")))
    assert(noop.rows == 100L)
    val cut = assertJobs("expireBelow boundary", 9)(SnapshotSink.expireBelow(spark, root, "k", 30L, Seq("k")))
    assert(cut.rows == 70L)
    val dualRoot = tmpRoot()
    dual(dualRoot)
    val sk = Some((keys, 64L, 0.01))
    val dualNoop = assertJobs("expireBelow no-op, dual", 11)(
      SnapshotSink.expireBelow(spark, dualRoot, "day", -5L, Seq("day"), setKeys = sk))
    assert(dualNoop.rows == 80L)
    val dualCut = assertJobs("expireBelow boundary, dual", 15)(
      SnapshotSink.expireBelow(spark, dualRoot, "day", 35L, Seq("day"), setKeys = sk))
    assert(dualCut.rows == 45L)
  }
}
