package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sink.SnapshotSink

class SnapshotSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpRoot() =
    java.nio.file.Files.createTempDirectory("snapshot_sink").toString

  test("commit/read round-trip; versions advance; old snapshots stay readable") {
    val root = tmpRoot()
    val s1 = SnapshotSink.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    assert(s1.version == 1 && s1.rows == 2)
    val s2 = SnapshotSink.commit(Seq((3L, "c")).toDF("k", "v"), root)
    assert(s2.version == 2 && s2.rows == 1)
    assert(SnapshotSink.versions(spark, root) == Seq(1, 2))
    // latest = v2; v1 still readable (reader/writer isolation)
    assert(SnapshotSink.read(spark, root).collect().map(_.getLong(0)).toSet == Set(3L))
    assert(SnapshotSink.read(spark, root, Some(1))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // history: one metadata-only row per version
    assert(SnapshotSink.history(spark, root)
      .select("version", "n_rows").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted == Seq((1, 2L), (2, 1L)))
  }

  test("orphan data files and un-renamed manifests are invisible to readers") {
    val root = tmpRoot()
    SnapshotSink.commit(Seq((1L, "a")).toDF("k", "v"), root)
    // a dead executor's leftover: a VALID parquet file the manifest
    // never saw — a directory-listing reader would include it
    Seq((99L, "orphan")).toDF("k", "v")
      .write.parquet(s"$root/data/orphan-job")
    // a crashed commit: manifest written but never renamed
    val crashed = new java.io.File(s"$root/_manifests/v2.json.tmp")
    val w = new java.io.FileWriter(crashed)
    w.write("""{"version":2,"rows":99,"files":["/nowhere"]}"""); w.close()

    assert(SnapshotSink.versions(spark, root) == Seq(1))
    val got = SnapshotSink.read(spark, root).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L)) // the orphan row 99 never appears
    // and the next commit skips the crashed version cleanly
    val s2 = SnapshotSink.commit(Seq((2L, "b")).toDF("k", "v"), root)
    assert(s2.version == 2)
    assert(SnapshotSink.read(spark, root).collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("vacuum retires old snapshots, sweeps orphans and crashed commits, keeps the latest readable") {
    val root = tmpRoot()
    SnapshotSink.commit(Seq((1L, "a")).toDF("k", "v"), root)
    SnapshotSink.commit(Seq((2L, "b")).toDF("k", "v"), root)
    Seq((99L, "orphan")).toDF("k", "v").write.parquet(s"$root/data/orphan-job")
    val w = new java.io.FileWriter(s"$root/_manifests/v9.json.tmp")
    w.write("{}"); w.close()

    // grace 0: this test's orphans are known-dead, sweep them now
    val dropped = SnapshotSink.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(dropped == Seq(1))
    assert(SnapshotSink.versions(spark, root) == Seq(2))
    assert(SnapshotSink.read(spark, root).collect().map(_.getLong(0)).toSet == Set(2L))
    // exactly one data subdir (v2's) survives; orphan + v1 dirs are gone
    val dataDirs = new java.io.File(s"$root/data").listFiles().map(_.getName).toSeq
    assert(dataDirs.size == 1)
    assert(!new java.io.File(s"$root/_manifests/v9.json.tmp").exists())
    intercept[IllegalArgumentException](SnapshotSink.read(spark, root, Some(1)))
    intercept[IllegalArgumentException](SnapshotSink.vacuum(spark, root, keepLast = 0))
  }

  test("vacuum spares young unreferenced dirs (in-flight commit protection)") {
    val root = tmpRoot()
    SnapshotSink.commit(Seq((1L, "a")).toDF("k", "v"), root)
    SnapshotSink.commit(Seq((2L, "b")).toDF("k", "v"), root)
    // a commit in flight: data written seconds ago, manifest not yet
    // renamed — indistinguishable from a crash except by age
    Seq((77L, "inflight")).toDF("k", "v").write.parquet(s"$root/data/inflight-job")
    SnapshotSink.vacuum(spark, root, keepLast = 1) // default 1 h grace
    val dataDirs = new java.io.File(s"$root/data").listFiles().map(_.getName).toSeq
    assert(dataDirs.contains("inflight-job")) // spared: younger than grace
    assert(dataDirs.size == 2) // v1's dir retired (dropped manifests delete at any age)
    assert(SnapshotSink.versions(spark, root) == Seq(2))
  }

  test("manifest file lists round-trip paths containing commas and quotes") {
    val json = """{"version":1,"rows":3,"files":["/a/p,1.parquet","/b \"q\" c.parquet","/plain.parquet"]}"""
    assert(SnapshotSink.decodeManifest(json).files ==
      Seq("/a/p,1.parquet", "/b \"q\" c.parquet", "/plain.parquet"))
    assert(SnapshotSink.decodeManifest("""{"version":1,"rows":0,"files":[]}""").files.isEmpty)
    // the codec writes the same text back: same keys, same order
    assert(SnapshotSink.encodeManifest(SnapshotSink.decodeManifest(json)) == json)
    // a manifest without its files list is refused, not read as empty
    intercept[com.fasterxml.jackson.databind.JsonMappingException](
      SnapshotSink.decodeManifest("""{"version":1,"rows":0}"""))
  }

  test("a root named with a comma, a quote and a backslash round-trips") {
    val root = tmpRoot() + "/a,\"b\"\\c"
    val s1 = SnapshotSink.commit(Seq((1L, "a")).toDF("k", "v"), root)
    val s2 = SnapshotSink.append(Seq((2L, "b")).toDF("k", "v"), root)
    assert(s2.version == 2 && s2.rows == 2 && s1.files.toSet.subsetOf(s2.files.toSet))
    assert(SnapshotSink.snapshot(spark, root) == s2)
    SnapshotSink.publish(spark, root, 1)
    assert(SnapshotSink.publishedVersion(spark, root).contains(1))
    assert(SnapshotSink.readPublished(spark, root).collect().map(_.getLong(0)).toSet == Set(1L))
    assert(SnapshotSink.read(spark, root).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("append: add-files commit reuses prior data files; vacuum keeps shared dirs") {
    val root = tmpRoot()
    val s1 = SnapshotSink.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    val s2 = SnapshotSink.append(Seq((3L, "c")).toDF("k", "v"), root)
    assert(s2.version == 2 && s2.rows == 3)
    // v2 references v1's files VERBATIM plus the batch's — no rewrite
    assert(s1.files.toSet.subsetOf(s2.files.toSet))
    assert((s2.files.toSet -- s1.files.toSet).nonEmpty)
    assert(SnapshotSink.read(spark, root).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L))
    // v1 still reads alone (time travel over an append lineage)
    assert(SnapshotSink.read(spark, root, Some(1))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // a third append, then vacuum to the latest: v1/v2 manifests drop,
    // but v1's data dir is SHARED with the kept v3 manifest — it must
    // survive, and the kept snapshot must stay fully readable
    SnapshotSink.append(Seq((4L, "d")).toDF("k", "v"), root)
    SnapshotSink.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(SnapshotSink.versions(spark, root) == Seq(3))
    assert(SnapshotSink.read(spark, root).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))
    // append onto an empty root behaves like a first commit
    val root2 = tmpRoot()
    assert(SnapshotSink.append(Seq((9L, "z")).toDF("k", "v"), root2).version == 1)
  }

  test("schema can evolve between versions; each version reads back with its own schema") {
    val root = tmpRoot()
    SnapshotSink.commit(Seq((1L, "a")).toDF("k", "v"), root)
    // v2 adds a column — manifest isolation means v1 readers see v1's
    // schema, v2 readers v2's; no cross-version file mixing can occur
    SnapshotSink.commit(Seq((2L, "b", 9.5)).toDF("k", "v", "w"), root)
    assert(SnapshotSink.read(spark, root, Some(1)).columns.toSeq == Seq("k", "v"))
    assert(SnapshotSink.read(spark, root, Some(2)).columns.toSeq == Seq("k", "v", "w"))
    assert(SnapshotSink.read(spark, root).collect().head.getDouble(2) == 9.5)
  }

  test("guards: reading an empty root or an uncommitted version raises") {
    val root = tmpRoot()
    intercept[IllegalArgumentException](SnapshotSink.read(spark, root))
    SnapshotSink.commit(Seq((1L, "a")).toDF("k", "v"), root)
    intercept[IllegalArgumentException](SnapshotSink.read(spark, root, Some(7)))
  }

  test("zone maps: commitWithStats writes exact per-file bounds; readPruned skips files losslessly") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot()
    // 100 rows over k=0..99, range-clustered into 10 files → each file
    // covers a tight disjoint k-range, the layout pruning needs
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") % 7).as("v"))
    val snap = SnapshotSink.commitWithStats(
      df.repartitionByRange(10, col("k")), root, Seq("k"))
    assert(snap.rows == 100 && snap.files.size == 10)

    val st = SnapshotSink.statsTable(spark, root)
    assert(st.count() == 10)
    assert(st.columns.toSet == Set("file", "rows", "k__min", "k__max", "k__nulls"))
    // bounds tile [0,99] exactly, no overlaps lost rows
    assert(st.agg(sum("rows")).head.getLong(0) == 100L)
    assert(st.agg(min("k__min"), max("k__max")).head() match {
      case r => r.getLong(0) == 0L && r.getLong(1) == 99L
    })

    // a 10-wide probe keeps ~1-2 of 10 files and still answers exactly
    val pr = SnapshotSink.readPruned(spark, root, "k", 40L, 49L)
    assert(pr.totalFiles == 10 && pr.keptFiles < 10)
    assert(pr.df.agg(count(lit(1)), sum("k")).head() match {
      case r => r.getLong(0) == 10L && r.getLong(1) == (40L to 49L).sum
    })
    // out-of-range probe: every file pruned, schema intact, zero rows
    val none = SnapshotSink.readPruned(spark, root, "k", 1000L, 2000L)
    assert(none.keptFiles == 0 && none.df.count() == 0L)
    assert(none.df.columns.toSeq == Seq("k", "v"))
  }

  test("zone maps: appendWithStats extends the sidecar O(batch); vacuum sweeps retired and orphan sidecars") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot()
    SnapshotSink.commitWithStats(
      spark.range(0, 50).select(col("id").as("k")).repartitionByRange(5, col("k")),
      root, Seq("k"))
    val s2 = SnapshotSink.appendWithStats(
      spark.range(50, 100).select(col("id").as("k")).repartitionByRange(5, col("k")),
      root, Seq("k"))
    assert(s2.version == 2 && s2.rows == 100)
    // v2 sidecar covers BOTH batches' files; v1's is untouched
    assert(SnapshotSink.statsTable(spark, root, Some(1)).count() == 5)
    assert(SnapshotSink.statsTable(spark, root, Some(2)).count() == 10)
    // pruning works across the append boundary
    val pr = SnapshotSink.readPruned(spark, root, "k", 90L, 99L)
    assert(pr.totalFiles == 10 && pr.keptFiles < 10 && pr.df.count() == 10L)

    // an orphan sidecar from a crashed commit + vacuum: retired v1
    // sidecar and the orphan both go; the kept version's stays
    new java.io.File(s"$root/_manifests/v9.stats").mkdirs()
    SnapshotSink.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(!new java.io.File(s"$root/_manifests/v1.stats").exists())
    assert(!new java.io.File(s"$root/_manifests/v9.stats").exists())
    assert(SnapshotSink.statsTable(spark, root).count() == 10)
    intercept[IllegalArgumentException](
      SnapshotSink.statsTable(spark, root, Some(1)))
  }

  test("compact: rewrites the tip as fewer range-clustered files; rows identical; old version travels; vacuum reclaims") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot()
    // three appended batches, each internally clustered — across
    // batches every file's k-range overlaps (the small-file shape)
    (0 until 3).foreach { b =>
      val batch = spark.range(0, 300).filter(col("id") % 3 === b)
        .select(col("id").as("k")).repartitionByRange(4, col("k"))
      if (b == 0) SnapshotSink.commitWithStats(batch, root, Seq("k"))
      else SnapshotSink.appendIndexed(batch, root, Seq("k"), None)
    }
    assert(SnapshotSink.snapshot(spark, root).files.size == 12)
    // pre-compaction: a narrow probe keeps a file from EVERY batch
    val before = SnapshotSink.readPruned(spark, root, "k", 100L, 124L)
    assert(before.keptFiles >= 3)

    val c = SnapshotSink.compact(spark, root, targetFiles = 4,
      clusterCol = Some("k"), statsCols = Seq("k"))
    assert(c.version == 4 && c.rows == 300 && c.files.size == 4)
    // identical rows, tighter layout: the same probe now keeps 1 file
    val after = SnapshotSink.readPruned(spark, root, "k", 100L, 124L)
    assert(after.totalFiles == 4 && after.keptFiles == 1)
    assert(after.df.agg(sum("k")).head().getLong(0) ==
      before.df.agg(sum("k")).head().getLong(0))
    assert(SnapshotSink.read(spark, root).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 300L).toSeq)
    // the pre-compaction version still reads until vacuumed...
    assert(SnapshotSink.read(spark, root, Some(3)).count() == 300)
    // ...and vacuum to the compacted tip reclaims every small-file dir
    SnapshotSink.vacuum(spark, root, keepLast = 1, orphanGraceMs = 0L)
    assert(SnapshotSink.versions(spark, root) == Seq(4))
    val dataDirs = new java.io.File(s"$root/data").listFiles().map(_.getName)
    assert(dataDirs.length == 1)
    assert(SnapshotSink.read(spark, root).count() == 300)
  }

  test("metadata-only aggregate: contained files served from the sidecar, only boundary files scanned") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot()
    // k = 0..99 over 10 tight files; measure m = k * 0.5 (exact in
    // decimal(18,6)); nulls planted to prove sum skips them
    val df = spark.range(100).select(col("id").as("k"),
      when(col("id") % 10 === 9, lit(null)).otherwise(col("id") / lit(2.0)).as("m"))
    SnapshotSink.commitIndexed(df.repartitionByRange(10, col("k")), root,
      Seq("k"), None, sumCols = Seq("m"))
    // [15, 74]: files [20,29]..[60,69] fully contained (5), [10,19] and
    // [70,79] are boundary (2), the rest pruned outright
    val served = SnapshotSink.aggRangeFromStats(spark, root, "k", 15L, 74L, "m")
    assert(served.totalFiles == 10 && served.metaFiles == 5 && served.scanFiles == 2)
    val r = served.df.head()
    val expect = df.filter(col("k").between(15L, 74L))
      .agg(count(col("k")), sum(col("m").cast("decimal(18,6)"))).head()
    assert(r.getLong(0) == expect.getLong(0))
    assert(r.getDecimal(1).compareTo(expect.getDecimal(1)) == 0)
    // fully-contained range: zero files scanned
    val all = SnapshotSink.aggRangeFromStats(spark, root, "k", 0L, 99L, "m")
    assert(all.scanFiles == 0 && all.metaFiles == 10)
    assert(all.df.head().getLong(0) == 100L)
    // empty range: nothing served, n = 0
    val none = SnapshotSink.aggRangeFromStats(spark, root, "k", 500L, 600L, "m")
    assert(none.metaFiles == 0 && none.scanFiles == 0)
    assert(none.df.head().getLong(0) == 0L)
    // measure not committed in sumCols → pointed error
    val e = intercept[IllegalArgumentException](
      SnapshotSink.aggRangeFromStats(spark, root, "k", 0L, 9L, "k"))
    assert(e.getMessage.contains("sumCols"))
  }

  test("metadata-only aggregate: null range-column rows demote their file to a scan (no overcount)") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot()
    // k = 0..39 over 4 files; one row in the [10,19] file has k = NULL —
    // that file's min/max still read [10,19], so a naive 'contained'
    // test would serve its sidecar rows (including the null row the
    // residual filter excludes) from metadata and overcount
    val df = spark.range(40).select(
      when(col("id") === 15L, lit(null)).otherwise(col("id")).as("k"),
      col("id").as("m"))
    SnapshotSink.commitIndexed(
      df.repartitionByRange(4, col("k")), root, Seq("k"), None, Seq("m"))
    val served = SnapshotSink.aggRangeFromStats(spark, root, "k", 0L, 39L, "m")
    // the null-carrying file must SCAN; pure files still serve from metadata
    assert(served.scanFiles == 1 && served.metaFiles == 3)
    val r = served.df.head()
    assert(r.getLong(0) == 39L) // 40 rows minus the null-k row
    assert(r.getDecimal(1).longValueExact() == (0L until 40L).sum - 15L)
  }

  test("appendIndexed and compact carry measure sums; schema drift is refused loudly") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot()
    def slab(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") * 2).as("m"))
    SnapshotSink.commitIndexed(slab(0, 50).repartitionByRange(2, col("k")),
      root, Seq("k"), None, Seq("m"))
    // append extends the sum sidecar when the same sumCols are passed
    SnapshotSink.appendIndexed(slab(50, 100).repartitionByRange(2, col("k")),
      root, Seq("k"), None, Seq("m"))
    val a = SnapshotSink.aggRangeFromStats(spark, root, "k", 0L, 99L, "m")
    assert(a.df.head().getDecimal(1).longValueExact() == (0L until 100L).map(_ * 2).sum)
    // dropping sumCols on append is refused with a pointed message
    val e = intercept[IllegalArgumentException](
      SnapshotSink.appendIndexed(slab(100, 110), root, Seq("k"), None))
    assert(e.getMessage.contains("schema mismatch"))
    // compaction re-derives the sum sidecar for the new layout
    SnapshotSink.compact(spark, root, targetFiles = 2,
      clusterCol = Some("k"), statsCols = Seq("k"), sumCols = Seq("m"))
    val c = SnapshotSink.aggRangeFromStats(spark, root, "k", 0L, 49L, "m")
    assert(c.df.head().getDecimal(1).longValueExact() == (0L until 50L).map(_ * 2).sum)
  }

  test("maintenance ops keep BOTH sidecars on a dual-indexed lineage") {
    import org.apache.spark.sql.functions._
    import graft.plans.{PortableSketch, SketchFunctions}
    def h(s: String) = PortableSketch.md5Long(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def keys = SketchFunctions.portableHash64(array(col("e").cast("string")))
    val sk = Some((keys, 64L, 0.01))
    val root = tmpRoot()
    val rows = spark.range(80).select(expr("id DIV 10").as("e"),
      col("id").as("day"), col("id").as("v"))
    SnapshotSink.commitIndexed(rows.repartition(4, col("e")), root,
      Seq("day"), sk)
    // delete keeps the zone maps alive (statsCols passed through)
    SnapshotSink.deleteMatching(spark, root, h("3"), col("e") === 3L,
      keys, 64L, statsCols = Seq("day"))
    assert(SnapshotSink.readPruned(spark, root, "day", 0L, 9L).df.count() == 10L)
    assert(SnapshotSink.readSetPruned(spark, root, h("2")).df
      .filter(col("e") === 2L).count() == 10L)
    // upsert likewise
    SnapshotSink.upsertKeyed(spark, root,
      spark.range(1).select(lit(2L).as("e"), lit(999L).as("day"), lit(777L).as("v")),
      Seq("e", "v"), "day", Nil, keys, 64L, statsCols = Seq("day"))
    assert(SnapshotSink.readPruned(spark, root, "day", 999L, 999L).df.count() == 1L)
    // TTL keeps the set index alive (setKeys passed through)
    SnapshotSink.expireBelow(spark, root, "day", 40L, Seq("day"), setKeys = sk)
    assert(SnapshotSink.readSetPruned(spark, root, h("6")).df
      .filter(col("e") === 6L).count() == 10L)
    // refusing a dual lineage without the rebuild params is loud
    val e1 = intercept[IllegalArgumentException](
      SnapshotSink.deleteMatching(spark, root, h("5"), col("e") === 5L, keys, 64L))
    assert(e1.getMessage.contains("statsCols"))
    val e2 = intercept[IllegalArgumentException](
      SnapshotSink.expireBelow(spark, root, "day", 50L, Seq("day")))
    assert(e2.getMessage.contains("setKeys"))
  }

  test("one sidecar rule: an op on a prior version must pass exactly its index parameters") {
    import org.apache.spark.sql.functions._
    def keys = graft.plans.SketchFunctions.portableHash64(array(col("e").cast("string")))
    val sk = Some((keys, 64L, 0.01))
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(expr("id DIV 10").as("e"), col("id").as("day"))
    // a lineage built with stats AND a set index keeps both: extending it
    // with stats alone would commit a version without the set index
    val dual = tmpRoot()
    SnapshotSink.commitIndexed(rows(0, 40).repartition(2, col("e")), dual, Seq("day"), sk)
    val e1 = intercept[IllegalArgumentException](
      SnapshotSink.appendWithStats(rows(40, 60), dual, Seq("day")))
    assert(e1.getMessage.contains("setKeys"))
    // a plain append onto an indexed lineage is refused the same way
    val e2 = intercept[IllegalArgumentException](SnapshotSink.append(rows(40, 60), dual))
    assert(e2.getMessage.contains("statsCols"))
    // nothing was committed by the refused ops; the full form still extends it
    assert(SnapshotSink.versions(spark, dual) == Seq(1))
    val s2 = SnapshotSink.appendIndexed(rows(40, 60), dual, Seq("day"), sk)
    assert(s2.version == 2 && s2.rows == 60L)
    assert(SnapshotSink.readSetPruned(spark, dual, graft.plans.PortableSketch.md5Long(
      "5".getBytes(java.nio.charset.StandardCharsets.UTF_8))).df.filter(col("e") === 5L).count() == 10L)
    // a lineage without a set index cannot be given one by a maintenance op
    val statsOnly = tmpRoot()
    SnapshotSink.commitWithStats(rows(0, 40).repartitionByRange(2, col("day")), statsOnly, Seq("day"))
    val e3 = intercept[IllegalArgumentException](
      SnapshotSink.expireBelow(spark, statsOnly, "day", 10L, Seq("day"), setKeys = sk))
    assert(e3.getMessage.contains("no set index"))
    assert(SnapshotSink.versions(spark, statsOnly) == Seq(1))
  }

  test("expireBelow: whole files drop from the manifest with zero I/O; only the boundary file rewrites") {
    import org.apache.spark.sql.functions._
    val root = tmpRoot()
    // k = 0..99 over 10 tight files; a null-k row rides along to prove
    // the strict-< null convention (null-k rows are kept)
    val df = spark.range(100)
      .select(when(col("id") === 7L, lit(null)).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val s1 = SnapshotSink.commitWithStats(
      df.repartitionByRange(10, col("k")), root, Seq("k"))
    // cutoff 35: files [0..9],[10..19],[20..29] drop whole, [30..39]
    // straddles (rewrite), [40..] carry — the null row's file rewrites
    // or carries depending on where range partitioning put it
    val s2 = SnapshotSink.expireBelow(spark, root, "k", 35L, Seq("k"))
    assert(s2.version == 2)
    val carried = s1.files.toSet intersect s2.files.toSet
    assert(carried.size >= 6) // at least [40..99]'s six files verbatim
    assert((s1.files.toSet -- s2.files.toSet).size >= 3) // dropped + boundary
    val left = SnapshotSink.read(spark, root)
    assert(left.filter(col("k").isNotNull && col("k") < 35L).count() == 0)
    assert(left.filter(col("k").isNull).count() == 1) // null kept
    assert(s2.rows == 100L - 34L) // k in 0..34 minus the null twin (id 7)
    // the new sidecar still prunes correctly on the survivor range
    val pr = SnapshotSink.readPruned(spark, root, "k", 90L, 99L)
    assert(pr.keptFiles <= 2 && pr.df.count() == 10L)
    // pre-expiry version still time-travels
    assert(SnapshotSink.read(spark, root, Some(1)).count() == 100L)
    // expiring below the table minimum is a no-op version (all carry)
    val s3 = SnapshotSink.expireBelow(spark, root, "k", -5L, Seq("k"))
    assert(s3.rows == s2.rows)
    // expiry column must be a stats column
    intercept[IllegalArgumentException](
      SnapshotSink.expireBelow(spark, root, "v", 0L, Seq("k")))
  }

  test("multi-range pruning: z-ordered layout prunes on both dims; x-sorted layout only on x") {
    import org.apache.spark.sql.functions._
    import graft.operators.ZOrder
    // a 32×32 grid, one row per cell — 16 files either z-clustered or
    // x-clustered; probe = an 8×8 corner box
    val grid = spark.range(1024).select(
      (col("id") % 32).as("x"), expr("id DIV 32").as("y"), col("id").as("v"))
    val rootZ = tmpRoot()
    SnapshotSink.commitWithStats(
      grid.repartitionByRange(16, ZOrder.zValue(col("x"), col("y"))),
      rootZ, Seq("x", "y"))
    val rootX = tmpRoot()
    SnapshotSink.commitWithStats(
      grid.repartitionByRange(16, col("x")), rootX, Seq("x", "y"))
    val ranges = Seq(("x", 0L, 7L), ("y", 0L, 7L))
    val z = SnapshotSink.readPrunedRanges(spark, rootZ, ranges)
    val x = SnapshotSink.readPrunedRanges(spark, rootX, ranges)
    // z-layout: the corner box lives in O(1) z-contiguous files; the
    // x-layout keeps every file overlapping x∈[0,7] (each spans all y)
    assert(z.keptFiles < x.keptFiles)
    assert(z.keptFiles <= 4)
    // both answer exactly
    val want = grid.filter(col("x") <= 7 && col("y") <= 7)
      .agg(sum("v")).head().getLong(0)
    assert(z.df.agg(sum("v")).head().getLong(0) == want)
    assert(x.df.agg(sum("v")).head().getLong(0) == want)
    // degenerate single range ≡ readPruned
    val one = SnapshotSink.readPrunedRanges(spark, rootX, Seq(("x", 0L, 7L)))
    assert(one.keptFiles == SnapshotSink.readPruned(spark, rootX, "x", 0L, 7L).keptFiles)
  }

  test("zone maps: footer-stats fast path matches the distributed stats pass exactly (nulls, ints, string fallback)") {
    import org.apache.spark.sql.functions._
    // a long column WITH nulls and an int column: both footer-eligible;
    // the footer path must reproduce the distributed pass bit-for-bit
    val df = spark.range(100).select(
      when(col("id") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("k"),
      (col("id") % 7).cast("int").as("i"),
      concat(lit("s"), col("id")).as("s"))
    val rootA = tmpRoot()
    val snapA = SnapshotSink.commitWithStats(
      df.repartitionByRange(5, col("k")), rootA, Seq("k", "i"))
    assert(snapA.rows == 100)
    val stA = SnapshotSink.statsTable(spark, rootA)
    assert(stA.columns.toSet == Set("file", "rows",
      "k__min", "k__max", "k__nulls", "i__min", "i__max", "i__nulls"))
    assert(stA.agg(sum("rows")).head.getLong(0) == 100L)
    assert(stA.agg(sum("k__nulls")).head.getLong(0) == 10L)
    assert(stA.agg(min("k__min"), max("k__max")).head() match {
      case r => r.getLong(0) == 1L && r.getLong(1) == 99L
    })
    assert(stA.agg(min("i__min"), max("i__max")).head() match {
      case r => r.getInt(0) == 0 && r.getInt(1) == 6
    })
    // per-file values equal the distributed aggregate recomputed per file
    val recomputed = spark.read.parquet(snapA.files: _*)
      .select(input_file_name().as("file"), col("k"), col("i"))
      .groupBy("file").agg(count(lit(1L)).as("rows"),
        min("k").as("k__min"), max("k").as("k__max"),
        sum(col("k").isNull.cast("long")).as("k__nulls"),
        min("i").as("i__min"), max("i").as("i__max"),
        sum(col("i").isNull.cast("long")).as("i__nulls"))
    def norm(d: org.apache.spark.sql.DataFrame) = d.collect().map { r =>
      // the two paths render the same local path as file:/ vs file:///
      (new org.apache.hadoop.fs.Path(r.getString(0)).toString,
        r.toSeq.drop(1).toList)
    }.sortBy(_._1).toList
    assert(norm(stA.select(recomputed.columns.map(col): _*)) == norm(recomputed))
    // a STRING stats column is footer-ineligible (truncation risk): the
    // commit must fall back to the distributed pass and still be exact
    val rootB = tmpRoot()
    SnapshotSink.commitWithStats(df.repartition(3), rootB, Seq("s"))
    val stB = SnapshotSink.statsTable(spark, rootB)
    assert(stB.agg(sum("rows")).head.getLong(0) == 100L)
    assert(stB.agg(min("s__min")).head.getString(0) == "s0")
  }

  test("readPrunedBoth: range and membership prunes intersect across sidecar path forms") {
    import org.apache.spark.sql.functions._
    // dual-indexed commit: zone map over k (footer path: file:/ form),
    // Bloom set index over ids (stats pass: file:/// form) — the
    // intersection must match on CANONICAL paths, not raw strings
    val root = tmpRoot()
    val df = spark.range(100).select(col("id").as("k"), col("id").as("u"))
    SnapshotSink.commitIndexed(
      df.repartitionByRange(10, col("k")), root, Seq("k"),
      Some((graft.plans.SketchFunctions.portableHash64(
        array(col("u").cast("string"))), 50L, 0.01)))
    val h = graft.plans.PortableSketch.md5Long(
      "41".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val pr = SnapshotSink.readPrunedBoth(spark, root, "k", 40L, 49L, h)
    assert(pr.keptFiles >= 1 && pr.keptFiles < pr.totalFiles)
    assert(pr.df.filter(col("u") === 41L).count() == 1L)
  }

  test("zone maps: a version committed without stats refuses statsTable with a pointed message") {
    val root = tmpRoot()
    SnapshotSink.commit(Seq((1L, "a")).toDF("k", "v"), root)
    val e = intercept[IllegalArgumentException](SnapshotSink.statsTable(spark, root))
    assert(e.getMessage.contains("commitWithStats"))
  }

  test("write-audit-publish: staged versions invisible, pointer sequenced, rollback works") {
    val root = tmpRoot()
    // nothing published yet
    assert(SnapshotSink.publishedVersion(spark, root).isEmpty)
    intercept[IllegalStateException](SnapshotSink.readPublished(spark, root))
    // cannot publish what is not committed
    intercept[IllegalArgumentException](SnapshotSink.publish(spark, root, 1))

    SnapshotSink.commit(Seq((1L, 10L)).toDF("k", "v"), root) // v1
    SnapshotSink.publish(spark, root, 1)
    assert(SnapshotSink.publishedVersion(spark, root).contains(1))

    // stage v2: COMMITTED (time travel sees it) but NOT published
    SnapshotSink.commit(Seq((1L, 10L), (2L, -5L)).toDF("k", "v"), root)
    assert(SnapshotSink.versions(spark, root) == Seq(1, 2))
    assert(SnapshotSink.readPublished(spark, root).count() == 1) // still v1

    // audit passes on a fixed v3 -> promote; published readers move
    SnapshotSink.commit(Seq((1L, 10L), (2L, 5L)).toDF("k", "v"), root)
    val staged = SnapshotSink.read(spark, root)
    assert(staged.filter(org.apache.spark.sql.functions.col("v") < 0).count() == 0)
    SnapshotSink.publish(spark, root, 3)
    assert(SnapshotSink.publishedVersion(spark, root).contains(3))
    assert(SnapshotSink.readPublished(spark, root).count() == 2)

    // rollback = publishing an OLDER version again; the pointer history
    // grows (sequenced files), never rewrites
    SnapshotSink.publish(spark, root, 1)
    assert(SnapshotSink.publishedVersion(spark, root).contains(1))
    assert(SnapshotSink.readPublished(spark, root).count() == 1)
  }

  test("concurrent committers on one root: every returned commit is its own; a lost rename throws") {
    val root = tmpRoot()
    var lost = 0
    (1 to 5).foreach { round =>
      val frames = Seq(1L, 2L).map(k => Seq((round * 10L + k, s"t$k")).toDF("k", "v"))
      val start = new java.util.concurrent.CountDownLatch(1)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, SnapshotSink.Snapshot]]()
      val threads = frames.map { df =>
        val t = new Thread(() => {
          start.await()
          results.add(try Right(SnapshotSink.commit(df, root)) catch { case e: Throwable => Left(e) })
          ()
        })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join())
      val outcomes = results.toArray.toSeq.map(_.asInstanceOf[Either[Throwable, SnapshotSink.Snapshot]])
      assert(outcomes.size == 2)
      outcomes.foreach {
        case Right(s) => assert(SnapshotSink.snapshot(spark, root, Some(s.version)).files == s.files)
        case Left(e)  =>
          assert(e.isInstanceOf[IllegalStateException], e)
          lost += 1
      }
      assert(outcomes.exists(_.isRight))
    }
    val committed = SnapshotSink.versions(spark, root)
    assert(committed == (1 to committed.size))
    assert(committed.size + lost == 10)
  }

  test("cdc: keyed I/D/U delta between any two versions; unchanged rows omitted") {
    val root = tmpRoot()
    SnapshotSink.commit(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), root)
    SnapshotSink.commit(Seq((1L, 10L), (2L, 25L), (4L, 40L)).toDF("k", "v"), root)
    val delta = SnapshotSink.cdc(spark, root, 1, 2, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // k=1 unchanged (omitted); k=2 updated (TO payload); k=3 deleted
    // (FROM payload); k=4 inserted
    assert(delta == Set(("U", 2L, 25L), ("D", 3L, 30L), ("I", 4L, 40L)))
    // schema mismatch rejected loudly
    SnapshotSink.commit(Seq((1L, "x")).toDF("k", "w"), root)
    intercept[IllegalArgumentException](
      SnapshotSink.cdc(spark, root, 2, 3, Seq("k")))
  }
}
