package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Single-copy source guards, no Spark: main code builds its session and
  * releases retained blocks only through `graft.util.GraftSession`, so
  * Bench, Verify and the tools cannot drift apart in config again; and the
  * warehouse load protocol lives only in `graft.sink.Warehouse`, so the
  * parquet, JDBC and ClickHouse sinks cannot drift apart in it again;
  * driver threads come only from `graft.util.Par`'s bounded pool; and the
  * snapshot store and the state rollup each commit through one path. */
class SessionGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val factory = Paths.get("graft/util/GraftSession.scala")

  private def filesMentioning(token: String): Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the project root: $root not found")
    val walk = Files.walk(root)
    try walk.iterator().asScala.toList
      .filter(p => Files.isRegularFile(p) && Files.readString(p).contains(token))
      .map(root.relativize)
    finally walk.close()
  }

  test("SparkSession.builder appears only in GraftSession") {
    assert(filesMentioning("SparkSession.builder") == Seq(factory))
  }

  test("getPersistentRDDs appears only in GraftSession") {
    assert(filesMentioning("getPersistentRDDs") == Seq(factory))
  }

  test("thread pools are made only in Par, whose pool is bounded") {
    assert(filesMentioning("Executors.new") == Seq(Paths.get("graft/util/Par.scala")))
  }

  test("StateRollup has one foreachBatch; renameOrThrow is called only from the store's temp-file-and-rename helper") {
    def read(rel: String) = Files.readString(root.resolve(rel))
    assert("\\.foreachBatch".r.findAllIn(read("graft/streaming/StateRollup.scala")).size == 1)
    val store = Paths.get("graft/sink/SnapshotSink.scala")
    assert(filesMentioning("renameOrThrow(") == Seq(store))
    // every call (not the definition) sits inside writeNoClobber's body
    val src = read(store.toString)
    val definition = src.indexOf("private def renameOrThrow(") + "private def ".length
    val calls = "renameOrThrow\\(".r.findAllMatchIn(src).map(_.start).filter(_ != definition).toSeq
    val helper = src.indexOf("private def writeNoClobber(")
    val helperEnd = src.indexOf("\n  }\n", helper)
    assert(helper >= 0 && calls.nonEmpty && calls.forall(i => i > helper && i < helperEnd), calls)
  }

  test("misfit dedup and the users stream appear only in the Warehouse load protocol") {
    val protocol = Seq(Paths.get("graft/sink/Warehouse.scala"))
    assert(filesMentioning("Dedup.dedupMisfits") == protocol)
    assert(filesMentioning("Dedup.usersFromIdentities") == protocol)
  }
}
