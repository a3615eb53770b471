package graft.sink

import com.fasterxml.jackson.annotation.JsonPropertyOrder
import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MANIFEST-COMMITTED parquet snapshots — atomic dataset publication
  * without a table format. A 100 TB write that dies halfway must leave
  * readers on either the previous snapshot or the new one, never a mix —
  * and a parquet DIRECTORY cannot promise that: part-files from dead
  * executors, speculative duplicates and half-finished jobs are
  * indistinguishable from committed data in a listing. The fix is the
  * one every table format (Iceberg/Delta/Hudi) builds on: readers list
  * a MANIFEST, not the directory, and commit = one atomic rename of the
  * manifest into place.
  *
  * Layout under the snapshot root:
  *   data/<token>/part-*.parquet   — each commit writes a FRESH subdir
  *   _manifests/v<N>.json          — `{"version":N,"rows":R,"files":[...]}`
  *                                   (the [[Snapshot]]); rename-committed
  *   _published/p<S>.json          — `{"seq":S,"version":N}`; see [[publish]]
  *
  * Commit protocol: write data files → write `v<N>.<uuid>.json.tmp` →
  * rename to `v<N>.json` (atomic on HDFS/posix). A crash before the
  * rename leaves orphan data files and a `.tmp` — both invisible to
  * readers, who only trust fully-renamed manifests. The latest snapshot IS
  * max(N) over committed manifests, so there is no second pointer file to
  * race on. The version counter is read-allocate-rename: when concurrent
  * committers pick the same N, one rename wins and the others throw
  * rather than report a commit they did not make; readers need no
  * coordination at any concurrency.
  *
  * Scale notes: the manifest holds file PATHS (O(files), KBs–MBs at
  * 100 TB with sane file sizing) — never row data; the row count comes
  * from parquet footers (a metadata-only job, no data scan); old
  * snapshots stay readable until their data subdirs are vacuumed, which
  * is what makes reader/writer isolation free. */
object SnapshotSink {

  /** A committed version; its manifest is this case class as JSON, in
    * the key order below. */
  @JsonPropertyOrder(Array("version", "rows", "files"))
  final case class Snapshot(version: Int, files: Seq[String], rows: Long)

  /** A publish pointer: its sequence number and the version it names. */
  private final case class Pointer(seq: Int, version: Int)

  /** The one JSON codec of manifests and publish pointers; a file that
    * lacks a field fails to decode rather than reading as empty. */
  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES).build()

  private[graft] def encodeManifest(s: Snapshot): String = json.writeValueAsString(s)
  private[graft] def decodeManifest(text: String): Snapshot = json.readValue(text, classOf[Snapshot])

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "_manifests")

  /** Path-canonical string form — sidecar file strings come from
    * `input_file_name()` (`file:///…`) while manifest files come from
    * `Path.toString` (`file:/…`); every cross-comparison goes through
    * this or victim files silently mismatch (the q154 lesson). */
  private def canon(p: String): String = new Path(p).toString

  /** Total of a sidecar frame's `rows` column (0 for an empty frame). */
  private def totalRows(sidecar: DataFrame): Long =
    Option(sidecar.agg(sum("rows")).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)

  /** Committed versions, ascending (fully-renamed manifests only). */
  def versions(spark: SparkSession, root: String): Seq[Int] =
    numbered(spark, manifestDir(root), "v")

  /** The numbers `N` of the fully-renamed `<prefix>N.json` files in `dir`,
    * ascending — committed manifests or publish pointers; temp files never
    * match. */
  private def numbered(spark: SparkSession, dir: Path, prefix: String): Seq[Int] = {
    val f = fs(spark, dir)
    val name = (prefix + "(\\d+)\\.json").r
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case name(n) => n.toInt }
      .sorted
  }

  /** Parquet files (or sidecar dirs) read by their literal paths: a
    * manifest names files, not glob patterns, so a root whose name holds
    * `\`, `[` or `{` must not be expanded as one. */
  private def readParquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("__globPaths__", "false").parquet(paths: _*)

  /** A small metadata file's contents: a manifest, a publish pointer or
    * a [[TableCatalog]] schema. */
  private[sink] def readSmall(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Write `body` to this committer's own temp file, then rename-commit it
    * as `dir/<name>.json`. Two committers that picked the same name never
    * write or rename each other's temp file; the `.json.tmp` ending is what
    * [[vacuum]] sweeps, and [[numbered]]'s listing never sees it. */
  private def writeNoClobber(
      spark: SparkSession, dir: Path, name: String, body: String, what: String): Unit = {
    val f = fs(spark, dir)
    f.mkdirs(dir)
    val tmp = new Path(dir, s"$name.${java.util.UUID.randomUUID()}.json.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    renameOrThrow(f, tmp, new Path(dir, s"$name.json"), what)
  }

  /** Rename-commit `tmp` as `fin`, never over an existing file: the
    * committer that loses the race for `fin` throws. The explicit check
    * covers filesystems whose rename would replace the target (the local
    * one); committers in this JVM run check and rename under one lock, and
    * across processes the guarantee is the filesystem's (HDFS rename
    * refuses an existing target atomically). */
  private def renameOrThrow(f: org.apache.hadoop.fs.FileSystem, tmp: Path, fin: Path,
      what: String): Unit = synchronized {
    if (f.exists(fin) || !f.rename(tmp, fin)) {
      f.delete(tmp, false)
      throw new IllegalStateException(s"$what failed: cannot rename $tmp to $fin")
    }
  }

  /** Write `df`'s data files into a fresh data subdir — NO manifest yet,
    * so nothing is visible to readers. Returns the file list. */
  private def writeFiles(df: DataFrame, root: String): Seq[String] = {
    val spark = df.sparkSession
    val token = java.util.UUID.randomUUID().toString.take(12)
    val dataPath = new Path(new Path(root, "data"), token)
    df.write.parquet(dataPath.toString)
    val f = fs(spark, dataPath)
    f.listStatus(dataPath).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
  }

  /** A set index's build parameters: the keys column, the expected
    * distinct keys per file and the false-positive rate. */
  private type SetKeys = (org.apache.spark.sql.Column, Long, Double)

  /** THE COMMIT PATH every write takes. The new version lists `carried`
    * (files of `prior`, kept verbatim) plus `newFiles` (just written,
    * still invisible); `prior = None` starts the lineage afresh as the
    * next free version. One rule derives what the version records:
    *
    *  - Sidecars. A sidecar row is a per-file fact, so the new version's
    *    sidecar is the prior's rows for the carried files ∪ fresh rows for
    *    the new files. A lineage keeps the sidecars it was first committed
    *    with: an op on a prior version must pass exactly that version's
    *    index parameters (its `statsCols` and `sumCols` when it carries a
    *    zone map, `setKeys` when it carries a set index, neither when it
    *    does not), or it is refused before anything is committed.
    *  - Row count. Prior rows + the new files' footer count when every
    *    prior file is carried and the footers answer (≤ 64 files, no Spark
    *    job); otherwise the new sidecar's total; otherwise a count.
    *
    * The sidecars are written BEFORE the manifest rename, so an
    * unreferenced sidecar from a crashed commit is invisible (readers
    * resolve sidecars through the committed version number) and is swept
    * by [[vacuum]] after the orphan grace. */
  private def commitVersion(
      spark: SparkSession, root: String, prior: Option[Snapshot],
      carried: Seq[String], newFiles: Seq[String],
      statsCols: Seq[String], sumCols: Seq[String],
      setKeys: Option[SetKeys]): Snapshot = {
    val version = prior.fold(versions(spark, root).lastOption.getOrElse(0))(_.version) + 1
    val priorStats = prior.map(p => statsDir(root, p.version)).filter(d => fs(spark, d).exists(d))
    val priorSet = prior.map(p => setIndexDir(root, p.version)).filter(d => fs(spark, d).exists(d))
    prior.foreach { p =>
      require(priorStats.isEmpty || statsCols.nonEmpty,
        "lineage carries a zone-map sidecar — pass its statsCols (and " +
          "sumCols) so this op can extend it")
      require(priorStats.nonEmpty || statsCols.isEmpty,
        s"prior snapshot v${p.version} has no zone-map sidecar to extend " +
          "(committed without stats — use commitWithStats/commitIndexed)")
      require(priorSet.isEmpty || setKeys.nonEmpty,
        "lineage carries a set index — pass setKeys (keys column, " +
          "expectedPerFile, fpp) so this op can extend it")
      require(priorSet.nonEmpty || setKeys.isEmpty,
        s"prior snapshot v${p.version} has no set index to extend " +
          "(committed without one — use commitWithSetIndex/commitIndexed)")
    }
    val allCarried = prior.forall(_.files.size == carried.size)
    // the prior's sidecar rows for the carried files
    def carriedRows(dir: Path): DataFrame = {
      val side = readParquet(spark, dir.toString)
      if (allCarried) side
      else {
        val keep = carried.map(canon)
        side.filter(udf((f: String) => canon(f)).apply(col("file")).isin(keep: _*))
      }
    }
    val freshStats =
      if (statsCols.isEmpty || newFiles.isEmpty) None
      else Some(fileStats(spark, newFiles, statsCols, sumCols))
    val stats = if (statsCols.isEmpty) None else {
      val prev = priorStats.map { d =>
        val rows = carriedRows(d)
        // an extension must keep the lineage's statsCols/sumCols, or a
        // sum-carrying lineage silently becomes unappendable
        val want = statsColumns(statsCols, sumCols)
        require(rows.columns.toSet == want,
          s"stats sidecar schema mismatch: prior has " +
            s"[${rows.columns.sorted.mkString(",")}], this op computes " +
            s"[${want.toSeq.sorted.mkString(",")}] — pass the lineage's " +
            "original statsCols and sumCols")
        rows
      }
      (prev ++ freshStats.map(_._1)).reduceOption(_ unionByName _)
    }
    val index = setKeys.flatMap { case (keys, expectedPerFile, fpp) =>
      val fresh =
        if (newFiles.isEmpty) None
        else Some(computeSetIndex(spark, newFiles, keys, expectedPerFile, fpp))
      (priorSet.map(carriedRows) ++ fresh).reduceOption(_ unionByName _)
    }
    val sidecars = (stats.map(_ -> statsDir(root, version)).toSeq ++
      index.map(_ -> setIndexDir(root, version))).map { case (d, p) => (d.coalesce(1), p) }
    val priorRows = prior.fold(0L)(_.rows)
    val footerRows =
      if (!allCarried) None
      else if (newFiles.isEmpty) Some(priorRows)
      else freshStats.flatMap(_._2).orElse(footerFileStats(spark, newFiles, Nil).map(_._2))
        .map(priorRows + _)
    val (rows, toWrite) = footerRows match {
      case Some(n) => (n, sidecars)
      case None => sidecars match {
        case (first, p) +: rest =>
          val cp = first.localCheckpoint(true)
          (totalRows(cp), (cp, p) +: rest)
        case _ =>
          (if (allCarried) priorRows + parquetRows(spark, newFiles)
            else parquetRows(spark, carried ++ newFiles), Nil)
      }
    }
    toWrite.foreach { case (d, p) => d.write.mode("overwrite").parquet(p.toString) }
    val committed = Snapshot(version, (carried ++ newFiles).sorted, rows)
    writeNoClobber(spark, manifestDir(root), s"v$version", encodeManifest(committed), "snapshot commit")
    committed
  }

  /** Exact row count of parquet `files` from their footers: on the driver
    * up to 64 files (no Spark job — driver-serial footer I/O stays
    * bounded), a distributed footer-only count above. */
  private[sink] def parquetRows(spark: SparkSession, files: Seq[String]): Long =
    if (files.isEmpty) 0L
    else footerFileStats(spark, files, Nil).fold(readParquet(spark, files: _*).count())(_._2)

  /** The latest committed snapshot, if any. */
  private def latest(spark: SparkSession, root: String): Option[Snapshot] =
    versions(spark, root).lastOption.map(readManifest(spark, root, _))

  /** Write `df` as the next snapshot version and commit it atomically.
    * Returns the committed snapshot descriptor. */
  def commit(df: DataFrame, root: String): Snapshot =
    commitVersion(df.sparkSession, root, None, Nil, writeFiles(df, root), Nil, Nil, None)

  /** APPEND `df` as the next snapshot version WITHOUT rewriting existing
    * data: the batch lands in a fresh data subdir and the new manifest
    * references the previous version's files PLUS the new ones — an
    * add-files commit, O(batch) write I/O per append instead of the
    * O(table) rewrite a read-union-recommit costs. This is how a
    * corpus-sized table (e.g. an ANN signature index, q143) grows
    * incrementally; state-sized tables can afford either. Readers of
    * prior versions are untouched (their file lists never change). A
    * lineage that carries sidecars is refused: extend it with
    * [[appendIndexed]]. */
  def append(df: DataFrame, root: String): Snapshot = {
    val spark = df.sparkSession
    val prior = latest(spark, root)
    // batch data lands invisibly first; the ONE manifest rename then
    // publishes prior files + batch files together
    commitVersion(spark, root, prior, prior.fold(Seq.empty[String])(_.files),
      writeFiles(df, root), Nil, Nil, None)
  }

  /** Read `v`'s manifest directly — the caller vouches `v` is committed
    * (no directory re-listing; [[history]] reads V manifests off ONE
    * listing instead of V+1). */
  private def readManifest(spark: SparkSession, root: String, v: Int): Snapshot = {
    val p = new Path(manifestDir(root), s"v$v.json")
    decodeManifest(readSmall(fs(spark, p), p))
  }

  /** The committed snapshot descriptor for `version` (default: latest). */
  def snapshot(spark: SparkSession, root: String, version: Option[Int] = None): Snapshot = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed snapshots under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"snapshot v$v not committed (have ${vs.mkString(",")})")
    readManifest(spark, root, v)
  }

  /** DESCRIBE HISTORY analog: one row per committed version —
    * `(version, n_files, n_rows)` — read from the manifests alone
    * (metadata-only; no data I/O). The audit surface a lineage needs:
    * which commit grew the table, what a vacuum would retire, where a
    * time-travel read lands. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    versions(spark, root) // ONE listing; then one manifest read per version
      .map { v =>
        val s = readManifest(spark, root, v)
        (v, s.files.size, s.rows)
      }
      .toDF("version", "n_files", "n_rows")
  }

  private def publishDir(root: String) = new Path(root, "_published")

  /** WRITE–AUDIT–PUBLISH promotion: mark a COMMITTED version as the one
    * published readers see. Commits are the WRITE, the caller's checks
    * between commit and this call are the AUDIT, and this pointer is
    * the PUBLISH — staged versions stay invisible to
    * [[readPublished]] until promoted (the Iceberg WAP discipline on
    * this store). The pointer advances by the manifest rename
    * discipline (write temp, atomic rename), and pointer files are
    * SEQUENCED, never overwritten, so the publish history — including
    * rollbacks to an older version — is itself auditable. */
  def publish(spark: SparkSession, root: String, version: Int): Unit = {
    require(versions(spark, root).contains(version),
      s"cannot publish uncommitted version $version")
    val seq = numbered(spark, publishDir(root), "p").lastOption.getOrElse(0) + 1
    writeNoClobber(spark, publishDir(root), s"p$seq",
      json.writeValueAsString(Pointer(seq, version)), "publish")
  }

  /** The currently published version (highest-sequence pointer), or
    * None when nothing has been published yet. */
  def publishedVersion(spark: SparkSession, root: String): Option[Int] =
    numbered(spark, publishDir(root), "p").lastOption.map { seq =>
      val p = new Path(publishDir(root), s"p$seq.json")
      json.readValue(readSmall(fs(spark, p), p), classOf[Pointer]).version
    }

  /** Read through the published pointer — what a downstream consumer
    * sees; staged (committed-but-unpublished) versions are invisible. */
  def readPublished(spark: SparkSession, root: String): DataFrame = {
    val v = publishedVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"nothing published at $root"))
    read(spark, root, Some(v))
  }

  /** CHANGE DATA CAPTURE between two committed versions, keyed:
    * `I` inserted, `D` deleted, `U` updated (same key, different
    * non-key payload); unchanged rows are omitted. Payload columns
    * come from the TO side for I/U and the FROM side for D — the
    * minimal keyed delta an incremental downstream consumer replays
    * instead of re-reading the table. One full-outer join on the key
    * (both sides are manifest reads, so CDC between ANY two versions
    * costs two snapshot scans regardless of how many commits lie
    * between them). */
  def cdc(spark: SparkSession, root: String, fromV: Int, toV: Int,
          keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val from = read(spark, root, Some(fromV))
    val to = read(spark, root, Some(toV))
    require(from.columns.sorted.sameElements(to.columns.sorted),
      s"cdc requires matching schemas, got ${from.columns.toSeq} vs ${to.columns.toSeq}")
    require(keyCols.nonEmpty && keyCols.forall(from.columns.contains),
      "key columns must exist")
    val others = from.columns.filterNot(keyCols.contains).toSeq
    val f = from.select(keyCols.map(col) :+
      struct(others.map(col): _*).as("_vf"): _*)
    val t = to.select(keyCols.map(col) :+
      struct(others.map(col): _*).as("_vt"): _*)
    f.join(t, keyCols, "full_outer")
      .withColumn("op",
        when(col("_vf").isNull, "I")
          .when(col("_vt").isNull, "D")
          .when(col("_vf") =!= col("_vt"), "U"))
      .filter(col("op").isNotNull)
      .withColumn("_v", coalesce(col("_vt"), col("_vf")))
      .select(col("op") +: keyCols.map(col) ++:
        others.map(o => col(s"_v.$o").as(o)): _*)
  }

  /** Read a committed snapshot BY ITS MANIFEST — orphan files in the
    * data directories are invisible by construction. */
  def read(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame =
    readParquet(spark, filled(spark, root, version).files: _*)

  /** [[snapshot]], refusing a version without files. */
  private def filled(spark: SparkSession, root: String, version: Option[Int]): Snapshot = {
    val s = snapshot(spark, root, version)
    require(s.files.nonEmpty, s"snapshot v${s.version} has no files")
    s
  }

  // ===== Zone maps: per-file min/max stats sidecar + pruned reads =====
  //
  // The data-skipping half of the ClickHouse sort-key story the reference
  // leans on (`reference/seghouse/warehouse/clickhouse.py:86-87` —
  // `PARTITION BY toDate(timestamp) ORDER BY (timestamp, message_id)`
  // exists precisely so the server can skip granules by primary-key
  // range): a snapshot committed through [[commitWithStats]] carries a
  // QUERYABLE parquet sidecar of per-file bounds, and [[readPruned]]
  // drops every file whose [min,max] cannot intersect the predicate
  // BEFORE Spark ever lists it. Layout clustering is the caller's lever —
  // `repartitionByRange` on the stats column gives tight disjoint
  // per-file ranges (the ZOrder module's multi-column variant composes
  // the same way), after which an equality/range probe touches O(1)
  // files out of O(table).
  //
  // Scale notes: the stats job replaces the plain-commit count pass (one
  // column-pruned, map-side-combined aggregate over the just-written
  // batch — O(batch) like the count it replaces, and it yields the row
  // count for free); the sidecar is O(files × statsCols) parquet — at a
  // million files it is itself a well-formed small table, which is why
  // it is stored as parquet and not folded into the JSON manifest.

  private def statsDir(root: String, version: Int) =
    new Path(manifestDir(root), s"v$version.stats")

  /** Fixed-point type for per-file measure sums: exact, mergeable
    * across files (decimal addition is associative — the property the
    * metadata-only aggregate path rests on), and wide enough that
    * file-level partials never overflow. */
  private val SumDec = "decimal(30,6)"

  /** The zone-map sidecar's columns for `statsCols` and `sumCols`. */
  private def statsColumns(statsCols: Seq[String], sumCols: Seq[String]): Set[String] =
    (Seq("file", "rows") ++ statsCols.flatMap(c => Seq(s"${c}__min", s"${c}__max", s"${c}__nulls")) ++
      sumCols.map(m => s"${m}__sum")).toSet

  /** One row per data file: `file`, `rows`, and for each stats column
    * `<c>__min` / `<c>__max` / `<c>__nulls` in the column's NATIVE type
    * (parquet preserves it, so pruning comparisons never round-trip
    * through strings), and for each sum column `<m>__sum` in [[SumDec]].
    * Exact bounds — computed from the committed rows themselves; the
    * footer path below is the driver-side twin. */
  private def computeFileStats(
      spark: SparkSession, files: Seq[String], statsCols: Seq[String],
      sumCols: Seq[String] = Seq.empty): DataFrame = {
    val base = readParquet(spark, files: _*)
      .select(input_file_name().as("file") +:
        (statsCols ++ sumCols).distinct.map(col): _*)
    val aggs = count(lit(1L)).as("rows") +: (statsCols.flatMap(c => Seq(
      min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"),
      sum(col(c).isNull.cast("long")).as(s"${c}__nulls"))) ++
      sumCols.map(m =>
        sum(col(m).cast("decimal(18,6)")).cast(SumDec).as(s"${m}__sum")))
    base.groupBy("file").agg(aggs.head, aggs.tail: _*)
  }

  /** Driver-side zone-map sidecar from parquet FOOTER column statistics —
    * the stats twin of the r16 footer row count (guide §6: the commit's
    * stats job was one more scheduled Spark pass RE-READING the batch it
    * just wrote; for state-sized commits the footers already hold exact
    * per-column min/max/null_count). Taken only when it is provably
    * EXACT and driver-cheap: ≤ 64 files (bounded driver I/O, same bound
    * as the footer row count), no sum columns (footers carry no sums),
    * every stats column stored as a plain non-repeated INT32/INT64
    * (parquet integer statistics are exact; string/binary footer stats
    * may be truncated and are refused), and every row group actually
    * carrying statistics. Anything else returns None and the caller
    * falls back to the distributed stats pass — so the sidecar CONTENT
    * is identical either way, by parquet's metadata contract.
    * Zero-row files get no sidecar row, exactly like the Spark path's
    * groupBy over an empty scan. Returns (sidecar frame, total rows);
    * with no stats columns it is the footer row count of `files`. */
  private def footerFileStats(
      spark: SparkSession, files: Seq[String],
      statsCols: Seq[String]): Option[(DataFrame, Long)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    if (files.isEmpty || files.size > 64) return None
    val conf = spark.sessionState.newHadoopConf()
    val colTypes = scala.collection.mutable.LinkedHashMap.empty[String, PrimitiveTypeName]
    val rowsOut = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var total = 0L
    for (p <- files) {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(p), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        for (c <- statsCols) {
          val f = schema.getFields.toArray.collectFirst {
            case t: org.apache.parquet.schema.Type if t.getName == c => t }
          val prim = f match {
            case Some(t) if t.isPrimitive && !t.isRepetition(
                org.apache.parquet.schema.Type.Repetition.REPEATED) &&
                t.getLogicalTypeAnnotation == null &&
                (t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 ||
                  t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT32) =>
              t.asPrimitiveType.getPrimitiveTypeName
            case _ => return None // not an exact-footer-stats column type
          }
          if (colTypes.getOrElseUpdate(c, prim) != prim) return None
        }
        val blocks = r.getFooter.getBlocks
        val fileRows = r.getRecordCount
        total += fileRows
        if (fileRows > 0L) {
          val vals = statsCols.flatMap { c =>
            var mn: Comparable[Any] = null
            var mx: Comparable[Any] = null
            var nulls = 0L
            val it = blocks.iterator()
            while (it.hasNext) {
              val b = it.next()
              val cc = b.getColumns.toArray.collectFirst {
                case m: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
                  if m.getPath == org.apache.parquet.hadoop.metadata.ColumnPath.get(c) => m }
                .getOrElse(return None)
              val st = cc.getStatistics
              if (st == null || !st.isNumNullsSet) return None // stats absent — fall back
              nulls += st.getNumNulls
              if (st.hasNonNullValue) {
                val bmn = st.genericGetMin.asInstanceOf[Comparable[Any]]
                val bmx = st.genericGetMax.asInstanceOf[Comparable[Any]]
                if (mn == null || bmn.compareTo(mn) < 0) mn = bmn
                if (mx == null || bmx.compareTo(mx) > 0) mx = bmx
              }
            }
            Seq(mn, mx, java.lang.Long.valueOf(nulls))
          }
          rowsOut += org.apache.spark.sql.Row.fromSeq(
            Seq(p, java.lang.Long.valueOf(fileRows)) ++ vals)
        }
      } finally r.close()
    }
    import org.apache.spark.sql.types._
    val valueType: PrimitiveTypeName => DataType = {
      case PrimitiveTypeName.INT64 => LongType
      case _                       => IntegerType
    }
    val schema = StructType(
      Seq(StructField("file", StringType), StructField("rows", LongType)) ++
        statsCols.flatMap { c =>
          val t = valueType(colTypes(c))
          Seq(StructField(s"${c}__min", t), StructField(s"${c}__max", t),
            StructField(s"${c}__nulls", LongType))
        })
    import scala.jdk.CollectionConverters._
    Some((spark.createDataFrame(rowsOut.toSeq.asJava, schema), total))
  }

  /** The stats sidecar for freshly written `files`: footer-exact driver
    * path when eligible, the distributed pass otherwise. The second
    * element is the total row count when the footer path supplied it. */
  private def fileStats(
      spark: SparkSession, files: Seq[String], statsCols: Seq[String],
      sumCols: Seq[String]): (DataFrame, Option[Long]) =
    (if (sumCols.isEmpty) footerFileStats(spark, files, statsCols) else None) match {
      case Some((df, total)) => (df, Some(total))
      case None => (computeFileStats(spark, files, statsCols, sumCols), None)
    }

  /** [[commit]], plus a zone-map sidecar over `statsCols`. The row count
    * comes from the parquet footers or the same single stats pass (no
    * separate count job). */
  def commitWithStats(df: DataFrame, root: String, statsCols: Seq[String]): Snapshot = {
    require(statsCols.nonEmpty, "commitWithStats needs at least one stats column")
    commitIndexed(df, root, statsCols, None)
  }

  /** [[append]], plus a zone-map sidecar: the new version's sidecar is
    * the prior sidecar's rows (stats are per-file facts — files never
    * change once committed) plus the batch's freshly computed rows, so an
    * append costs O(batch) stats work + O(files) sidecar metadata, never
    * a table re-scan. The prior version must carry stats over the same
    * columns and no set index (extend a dual-indexed lineage with
    * [[appendIndexed]]). */
  def appendWithStats(df: DataFrame, root: String, statsCols: Seq[String]): Snapshot = {
    require(statsCols.nonEmpty, "appendWithStats needs at least one stats column")
    appendIndexed(df, root, statsCols, None)
  }

  /** The zone-map sidecar of `version` (default latest) as a DataFrame —
    * stats are themselves a queryable table. Fails with a pointed message
    * for versions committed without stats. */
  def statsTable(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame = {
    val s = snapshot(spark, root, version)
    val p = statsDir(root, s.version)
    require(fs(spark, p).exists(p),
      s"snapshot v${s.version} has no zone-map sidecar (committed without " +
        "stats — use commitWithStats/appendWithStats)")
    readParquet(spark, p.toString)
  }

  final case class PrunedRead(
      df: DataFrame, keptFiles: Int, totalFiles: Int,
      files: Seq[String] = Seq.empty)

  /** Read `version` (default latest) with files pruned by the zone map:
    * keep only files whose [min,max] on `c` can intersect [lo, hi], then
    * apply the residual `lo <= c <= hi` filter (pruning is file-granular;
    * the predicate still runs — and pushes down to row groups — inside
    * kept files). All-null files are pruned: a range predicate is
    * null-rejecting. The kept/total counts are returned for audit.
    *
    * The kept-file list is collected on the driver — O(files) metadata,
    * the same order every manifest read already costs; a deployment with
    * millions of files would push this selection into a join against the
    * sidecar table instead. */
  def readPruned(
      spark: SparkSession, root: String, c: String, lo: Any, hi: Any,
      version: Option[Int] = None): PrunedRead =
    readPrunedRanges(spark, root, Seq((c, lo, hi)), version)

  /** Conjunctive multi-range pruned read: keep only files whose bounds
    * can intersect EVERY `(column, lo, hi)` range, then apply the full
    * residual conjunction. This is the read side of a Z-ORDERED layout
    * (`operators/ZOrder.zValue`): z-contiguous files span a narrow
    * range of BOTH interleaved dimensions, so a two-predicate probe
    * prunes multiplicatively where a single-column sort layout prunes
    * on its sort key only — the Delta/Iceberg `OPTIMIZE ZORDER BY`
    * serve, on the same sidecar [[readPruned]] uses. */
  def readPrunedRanges(
      spark: SparkSession, root: String, ranges: Seq[(String, Any, Any)],
      version: Option[Int] = None): PrunedRead = {
    require(ranges.nonEmpty, "readPrunedRanges needs at least one range")
    val s = filled(spark, root, version)
    prunedRead(spark, s, keptByRanges(spark, root, s.version, ranges), Some(inRanges(ranges)))
  }

  /** The rows inside every `(column, lo, hi)` range. */
  private def inRanges(ranges: Seq[(String, Any, Any)]): org.apache.spark.sql.Column =
    ranges.map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _)

  /** The zone-map kept-file list for the conjunction of `ranges` on
    * `version` — shared by the range and the set-composite reads, so the
    * composite path intersects LISTS instead of constructing and
    * discarding DataFrames. */
  private def keptByRanges(
      spark: SparkSession, root: String, version: Int,
      ranges: Seq[(String, Any, Any)]): Seq[String] = {
    val keep = ranges.map { case (c, lo, hi) =>
      val mn = col(s"${c}__min")
      val mx = col(s"${c}__max")
      mn.isNotNull && mx.isNotNull && !(mn > lit(hi) || mx < lit(lo))
    }.reduce(_ && _)
    statsTable(spark, root, Some(version))
      .filter(keep).select("file").collect().map(_.getString(0)).toSeq.sorted
  }

  /** The tail every pruned read shares: the kept files with the
    * `residual` filter, or — when every file is pruned — an empty read
    * that keeps the snapshot's schema. */
  private def prunedRead(
      spark: SparkSession, s: Snapshot, kept: Seq[String],
      residual: Option[org.apache.spark.sql.Column]): PrunedRead = {
    val df =
      if (kept.isEmpty) readParquet(spark, s.files: _*).filter(lit(false))
      else residual.foldLeft(readParquet(spark, kept: _*))(_ filter _)
    PrunedRead(df, kept.size, s.files.size, kept)
  }

  // ===== Set skipping index: per-file Bloom sidecar + pruned reads =====
  //
  // Zone maps skip on RANGE (and need a clustered layout); the set index
  // skips on MEMBERSHIP and needs none — ClickHouse's `tokenbf_v1`
  // secondary index, here at file grain: each data file carries one
  // Bloom filter over a caller-defined per-row hash SET (token hashes
  // for full-text probes, user-id hashes for point lookups), and a probe
  // reads only files whose filter might contain the hash. No false
  // negatives ⇒ pruning is lossless for any predicate that IMPLIES
  // "some row's key set contains h"; false positives only add files.
  // Built by one map-side-combined BloomSetAgg pass (each partition
  // ships one filter per file to the shuffle — state-sized, like the
  // zone-map stats job it runs beside).

  private def setIndexDir(root: String, version: Int) =
    new Path(manifestDir(root), s"v$version.setidx")

  /** One set-index row per file of `files`: `(file, rows, bloom)`. */
  private def computeSetIndex(
      spark: SparkSession, files: Seq[String],
      keys: org.apache.spark.sql.Column, expectedPerFile: Long,
      fpp: Double): DataFrame = {
    require(expectedPerFile > 0, "expectedPerFile must be positive")
    readParquet(spark, files: _*)
      .select(input_file_name().as("file"), keys.as("ks"))
      .groupBy("file")
      .agg(count(lit(1L)).as("rows"),
        graft.plans.BloomSetAgg.bloomSetAgg(col("ks"), expectedPerFile, fpp).as("bloom"))
  }

  /** [[commitWithStats]]'s sibling for membership probes: commit `df`
    * with a per-file Bloom sidecar over `keys` (a LongType or
    * ARRAY<BIGINT> column computed FROM the written columns, e.g.
    * `portableHash64(tokens(col("text")))`). `expectedPerFile` sizes
    * each filter (distinct keys per file; ~1.2 KB per 1k keys at 1%). */
  def commitWithSetIndex(
      df: DataFrame, root: String, keys: org.apache.spark.sql.Column,
      expectedPerFile: Long, fpp: Double = 0.01): Snapshot =
    commitIndexed(df, root, Seq.empty, Some((keys, expectedPerFile, fpp)))

  /** Commit with BOTH sidecars — range zone maps over `statsCols` AND a
    * membership Bloom over `setKeys` — the primary-plus-secondary-index
    * serve (cluster on time, point-probe on entity): a probe constrained
    * on both dimensions reads only the INTERSECTION of each index's kept
    * files ([[readPruned]] ∩ [[readSetPruned]] file sets via
    * [[readPrunedBoth]]). Both sidecars derive from one column-pruned
    * pass over the just-written batch. Either index list may be empty /
    * None — [[commitWithStats]] and [[commitWithSetIndex]] are the
    * single-index specializations. */
  def commitIndexed(
      df: DataFrame, root: String, statsCols: Seq[String],
      setKeys: Option[(org.apache.spark.sql.Column, Long, Double)],
      sumCols: Seq[String] = Seq.empty): Snapshot = {
    require(statsCols.nonEmpty || setKeys.nonEmpty,
      "commitIndexed needs at least one index (stats columns or set keys)")
    require(sumCols.isEmpty || statsCols.nonEmpty,
      "sumCols ride the zone-map sidecar — statsCols must be non-empty")
    commitVersion(df.sparkSession, root, None, Nil, writeFiles(df, root),
      statsCols, sumCols, setKeys)
  }

  /** [[appendWithStats]]'s generalization to both sidecars: add-files
    * append under the one sidecar rule of the commit path — the new
    * version's zone map and set index are the prior version's rows
    * (per-file facts both — files never change once committed, so prior
    * sidecar rows carry over verbatim) plus the batch's fresh rows;
    * O(batch) index work + O(files) sidecar metadata per append. The
    * lineage keeps the sidecars it was first committed with: the append
    * must pass exactly the prior version's index parameters — `statsCols`
    * and `sumCols` if it carries a zone map, `setKeys` if it carries a set
    * index, neither if it does not — or it is refused. An empty batch
    * commits nothing and returns the prior snapshot. */
  def appendIndexed(
      df: DataFrame, root: String, statsCols: Seq[String],
      setKeys: Option[(org.apache.spark.sql.Column, Long, Double)],
      sumCols: Seq[String] = Seq.empty): Snapshot = {
    require(statsCols.nonEmpty || setKeys.nonEmpty,
      "appendIndexed needs at least one index (stats columns or set keys)")
    require(sumCols.isEmpty || statsCols.nonEmpty,
      "sumCols ride the zone-map sidecar — statsCols must be non-empty")
    val spark = df.sparkSession
    val prior = latest(spark, root)
    val files = writeFiles(df, root)
    prior.filter(_ => files.isEmpty).getOrElse(
      commitVersion(spark, root, prior, prior.fold(Seq.empty[String])(_.files), files,
        statsCols, sumCols, setKeys))
  }

  /** Read `version` (default latest) pruned by BOTH indexes: files must
    * survive the zone-map range test on `c` ∈ [lo, hi] AND the set-index
    * membership probe for `h`. The range residual is applied; the
    * caller re-applies its exact membership predicate (same soundness
    * contract as [[readSetPruned]]). */
  def readPrunedBoth(
      spark: SparkSession, root: String, c: String, lo: Any, hi: Any, h: Long,
      version: Option[Int] = None): PrunedRead = {
    val s = filled(spark, root, version)
    // intersect CANONICAL paths: the two sidecars may render the same
    // file in different URI forms (footer-stats path: Path.toString
    // `file:/…`; set-index path: input_file_name() `file:///…`) — the
    // q154 lesson applied to a cross-SIDECAR comparison
    val setCanon = keptBySet(spark, root, s.version, Array(h)).map(canon).toSet
    val range = Seq((c, lo, hi))
    val kept = keptByRanges(spark, root, s.version, range)
      .filter(f => setCanon.contains(canon(f)))
    prunedRead(spark, s, kept, Some(inRanges(range)))
  }

  /** The set-index kept-file list on `version`: files whose filter might
    * contain any of `hs`. */
  private def keptBySet(
      spark: SparkSession, root: String, version: Int, hs: Array[Long]): Seq[String] = {
    val p = setIndexDir(root, version)
    require(fs(spark, p).exists(p),
      s"snapshot v$version has no set index (committed without one — " +
        "use commitWithSetIndex)")
    readParquet(spark, p.toString).select("file", "bloom").collect()
      .filter(r => graft.plans.BloomSetAgg.mightContainAny(r.getAs[Array[Byte]]("bloom"), hs))
      .map(_.getString(0)).toSeq.sorted
  }

  /** Read `version` (default latest) keeping only files whose set index
    * might contain `h`. SOUND ONLY for predicates that require some
    * row's key set to contain `h` (the caller re-applies the exact
    * predicate; a pruned file provably has no such row). Per-file probe
    * runs on the driver over the sidecar — metadata-scale, like the
    * zone-map path. */
  def readSetPruned(
      spark: SparkSession, root: String, h: Long,
      version: Option[Int] = None): PrunedRead = {
    val s = filled(spark, root, version)
    prunedRead(spark, s, keptBySet(spark, root, s.version, Array(h)), None)
  }

  /** METADATA-ONLY AGGREGATE SERVING — the endgame of the zone-map
    * sidecar: `count(*)` and `sum(measure)` over `lo ≤ c ≤ hi` answered
    * by PARTITIONING THE FILE SET, not the rows. Files fully CONTAINED
    * in the range (min ≥ lo ∧ max ≤ hi) contribute their sidecar `rows`
    * and `measure__sum` — no data read at all; only BOUNDARY files
    * (overlapping but not contained) are scanned with the residual
    * filter. On a range-clustered layout a 100 TB table answers a
    * window aggregate from KBs of sidecar plus ≤2 boundary-file scans —
    * ClickHouse's partition-pruned count with the sum riding along.
    * Exact because per-file sums are fixed-point decimals (associative
    * addition) computed from the same committed rows; requires the
    * snapshot to carry `measure` in `sumCols` at commit time.
    *
    * Returns one row `(n, sum)` — `sum` in the sidecar's DECIMAL type;
    * plus the audit counts (metadata-served / scanned / total files).
    * One SQL-semantics edge: an all-null measure yields SUM() = NULL in
    * SQL but 0 here (the metadata path cannot distinguish "no rows"
    * from "all null") — callers with nullable measures own that
    * convention. */
  final case class AggServed(df: DataFrame, metaFiles: Int, scanFiles: Int, totalFiles: Int)

  def aggRangeFromStats(
      spark: SparkSession, root: String, c: String, lo: Any, hi: Any,
      measure: String, version: Option[Int] = None): AggServed = {
    val s = filled(spark, root, version)
    val st = statsTable(spark, root, Some(s.version))
    require(st.columns.contains(s"${measure}__sum"),
      s"snapshot v${s.version} has no per-file sums for '$measure' " +
        "(pass it in sumCols at commit time)")
    val mn = col(s"${c}__min")
    val mx = col(s"${c}__max")
    val overlaps = mn.isNotNull && mx.isNotNull && !(mn > lit(hi) || mx < lit(lo))
    // metadata-only service requires EVERY row of the file to satisfy
    // the range — null-c rows are invisible to min/max but rejected by
    // the residual filter, so a null-carrying file must scan (the same
    // null guard expireBelow's whole-file drop uses)
    val contained = overlaps && mn >= lit(lo) && mx <= lit(hi) &&
      col(s"${c}__nulls") === lit(0L)
    val parts = st.select(col("file"), col("rows"), col(s"${measure}__sum").as("msum"),
        overlaps.as("ov"), contained.as("cont"))
      .filter(col("ov")).collect()
    val (meta, boundary) = parts.partition(_.getAs[Boolean]("cont"))
    val metaN = meta.map(_.getAs[Long]("rows")).sum
    val metaSum = meta.map(r => Option(r.getAs[java.math.BigDecimal]("msum")))
      .flatten.foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
    val metaDf = spark.range(1).select(
      lit(metaN).as("n"), lit(metaSum).cast(SumDec).as("s"))
    val scanned =
      if (boundary.isEmpty) metaDf.filter(lit(false))
      else readParquet(spark, boundary.map(_.getString(0)).toIndexedSeq.sorted: _*)
        .filter(col(c) >= lit(lo) && col(c) <= lit(hi))
        .agg(count(lit(1L)).as("n"),
          sum(col(measure).cast("decimal(18,6)")).cast(SumDec).as("s"))
    val out = metaDf.unionByName(scanned)
      .agg(sum("n").cast("long").as("n"), sum("s").cast(SumDec).as("sum"))
    AggServed(out, meta.length, boundary.length, s.files.size)
  }

  /** TARGETED DELETE — the lakehouse DELETE with the Bloom set index
    * doing the file targeting, and the store-side half of the q124
    * right-to-be-forgotten pass: only files whose set index might
    * contain `h` are rewritten (minus rows where `pred` is strictly
    * TRUE — null predicates keep their rows, the IS DISTINCT FROM
    * convention a deletion wants); every other file is carried into the
    * next version VERBATIM, so the write cost is O(victim files), not
    * O(table) — on an entity-bucketed 100 TB layout, deleting one user
    * touches the handful of files that user ever landed in. Soundness
    * is the set-index contract: `pred` must imply "this row's key set
    * contains h", so an untouched file provably holds no matching rows.
    * The set-index sidecar carries over untouched files' rows and
    * recomputes rewritten ones (with `keys`/`expectedPerFile`/`fpp` —
    * same parameters as the original commit); prior versions still
    * time-travel to the pre-deletion data until vacuumed (retention is
    * the compliance clock: vacuum after the grace window IS the
    * physical erasure). Requires a set-indexed lineage; zone-map-only
    * lineages would rewrite blind (no targeting) and are refused. */
  def deleteMatching(
      spark: SparkSession, root: String, h: Long,
      pred: org.apache.spark.sql.Column,
      keys: org.apache.spark.sql.Column,
      expectedPerFile: Long, fpp: Double = 0.01,
      statsCols: Seq[String] = Seq.empty,
      sumCols: Seq[String] = Seq.empty): Snapshot = {
    val s = snapshot(spark, root)
    val hitFiles = keptBySet(spark, root, s.version, Array(h))
    if (hitFiles.isEmpty) return s // nothing can match — no new version
    val hitCanon = hitFiles.map(canon).toSet
    val survivors = readParquet(spark, hitFiles: _*)
      .filter(!coalesce(pred, lit(false)))
      .coalesce(hitFiles.size)
    commitVersion(spark, root, Some(s), s.files.filterNot(f => hitCanon.contains(canon(f))),
      writeFiles(survivors, root), statsCols, sumCols, Some((keys, expectedPerFile, fpp)))
  }

  /** RANGE EXPIRY — ClickHouse's `TTL … DELETE` / `DROP PARTITION` on
    * the zone-mapped store: retire every row with `c < cutoff`. The
    * zone maps make this ALMOST FREE on a range-clustered layout —
    * files wholly below the cutoff are simply omitted from the next
    * manifest (a metadata-only drop, no I/O at all; at 100 TB, daily
    * TTL = dropping one day's files from the manifest), files wholly at
    * or above it carry verbatim, and only the straddling boundary files
    * (≤ the cluster overlap, usually 1) rewrite with the residual
    * filter. All-null-`c` files cannot be classified and are rewritten
    * (the filter keeps null-`c` rows — strict `c < cutoff` deletion,
    * same null convention as [[deleteMatching]]). Sidecar rows carry
    * for kept files and recompute for rewritten ones — pass the same
    * `statsCols`/`sumCols`/`setKeys` the lineage was committed with (the
    * commit path refuses anything else); prior versions time-travel until
    * vacuum, which is the retention/erasure clock. */
  def expireBelow(
      spark: SparkSession, root: String, c: String, cutoff: Any,
      statsCols: Seq[String], sumCols: Seq[String] = Seq.empty,
      setKeys: Option[(org.apache.spark.sql.Column, Long, Double)] = None): Snapshot = {
    require(statsCols.contains(c), s"expiry column '$c' must be a stats column")
    val s = snapshot(spark, root)
    val st = statsTable(spark, root, Some(s.version))
    val mn = col(s"${c}__min")
    val mx = col(s"${c}__max")
    // a whole-file drop must prove EVERY row matches `c < cutoff` —
    // null-c rows are invisible to min/max but kept by the strict-<
    // policy, so any file carrying nulls can at most be rewritten;
    // whole-file keeps are safe with nulls (null rows are kept anyway)
    val parts = st.select(col("file"),
        (mx.isNotNull && mx < lit(cutoff) &&
          col(s"${c}__nulls") === lit(0L)).as("drop"),
        (mn.isNotNull && mn >= lit(cutoff)).as("keep"))
      .collect()
    val keepCanon = parts.filter(_.getAs[Boolean]("keep"))
      .map(r => canon(r.getString(0))).toSet
    // dropped files need no action at all — they are simply absent from
    // the next manifest; boundary = neither kept nor dropped
    val boundary = parts
      .filter(r => !r.getAs[Boolean]("keep") && !r.getAs[Boolean]("drop"))
      .map(_.getString(0)).toSeq.sorted
    val newFiles =
      if (boundary.isEmpty) Seq.empty[String]
      else writeFiles(
        readParquet(spark, boundary: _*)
          .filter(col(c).isNull || col(c) >= lit(cutoff))
          .coalesce(boundary.size),
        root)
    commitVersion(spark, root, Some(s), s.files.filter(f => keepCanon.contains(canon(f))),
      newFiles, statsCols, sumCols, setKeys)
  }

  /** KEYED UPSERT — the ReplacingMergeTree merge made explicit on the
    * store (the reference's users table IS `ReplacingMergeTree ORDER BY
    * user_id`, `reference/seghouse/warehouse/clickhouse.py:113-117`):
    * batch rows replace same-key stored rows by last-write-wins, new
    * keys insert, and only the files whose set index might contain a
    * batch key are rewritten — O(victim files + batch), never O(table).
    * The per-file test is a multi-probe of the file's Bloom against the
    * batch's distinct key hashes (driver-side, files × batch-keys —
    * metadata × batch, the "batch ≪ table" shape every upsert assumes;
    * the batch's distinct hashes are collected, which is the same
    * bound). Rewrite = LWW over (hit-file rows ∪ batch) via
    * `etl.Dedup.lastWriteWins` — the q14/O-21 semantics; Bloom false
    * positives only widen the rewrite set, and a key in NO file is
    * simply inserted (it rides the union). Batch schema must match the
    * stored schema (unionByName). Prior versions time-travel. */
  def upsertKeyed(
      spark: SparkSession, root: String, batch: DataFrame,
      keyCols: Seq[String], verCol: String,
      tieBreak: Seq[org.apache.spark.sql.Column],
      keys: org.apache.spark.sql.Column,
      expectedPerFile: Long, fpp: Double = 0.01,
      statsCols: Seq[String] = Seq.empty,
      sumCols: Seq[String] = Seq.empty): Snapshot = {
    require(keyCols.nonEmpty, "upsertKeyed needs key columns")
    val s = snapshot(spark, root)
    // the batch's distinct key hashes — bounded by the batch
    val ksDf = batch.select(keys.as("ks"))
    val hashes: Array[Long] = (ksDf.schema("ks").dataType match {
      case org.apache.spark.sql.types.ArrayType(_, _) =>
        ksDf.select(explode(col("ks")).as("h"))
      case _ => ksDf.select(col("ks").as("h"))
    }).filter(col("h").isNotNull).distinct().collect().map(_.getLong(0))
    val hitFiles = keptBySet(spark, root, s.version, hashes)
    val hitCanon = hitFiles.map(canon).toSet
    val stored =
      if (hitFiles.isEmpty) batch.filter(lit(false))
      else readParquet(spark, hitFiles: _*)
    val resolved = graft.etl.Dedup.lastWriteWins(
      stored.unionByName(batch), keyCols, verCol, tieBreak)
      .coalesce(math.max(1, hitFiles.size))
    commitVersion(spark, root, Some(s), s.files.filterNot(f => hitCanon.contains(canon(f))),
      writeFiles(resolved, root), statsCols, sumCols, Some((keys, expectedPerFile, fpp)))
  }

  /** COMPACTION — the explicit form of ClickHouse's background part
    * merge (MergeTree's whole operating principle, the reference's
    * warehouse): rewrite the current version's data as `targetFiles`
    * files and publish the result as the NEXT version of the same
    * lineage. An append-heavy ingest (q143/q146/appendIndexedBatches)
    * accumulates small files; compaction restores read efficiency and —
    * with `clusterCol` — re-establishes the global sort-key layout that
    * per-batch clustering only approximates (each batch was internally
    * clustered; compaction interleaves them back into tight disjoint
    * ranges, which is exactly what a MergeTree merge does to sorted
    * parts). Costs O(table) I/O by definition; rows are bit-identical.
    * Readers are never disturbed: the old version keeps its files until
    * vacuumed, the new version is one manifest rename away. Sidecars
    * (`statsCols` / `setKeys`) are recomputed for the new layout. */
  def compact(
      spark: SparkSession, root: String, targetFiles: Int,
      clusterCol: Option[String] = None,
      statsCols: Seq[String] = Seq.empty,
      setKeys: Option[(org.apache.spark.sql.Column, Long, Double)] = None,
      sumCols: Seq[String] = Seq.empty): Snapshot = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val s = snapshot(spark, root)
    require(s.files.nonEmpty, s"snapshot v${s.version} has no files to compact")
    val df = readParquet(spark, s.files: _*)
    val laid = clusterCol match {
      case Some(c) => df.repartitionByRange(targetFiles, col(c))
      case None => df.coalesce(targetFiles)
    }
    if (statsCols.nonEmpty || setKeys.nonEmpty)
      commitIndexed(laid, root, statsCols, setKeys, sumCols)
    else commit(laid, root)
  }

  /** Retire everything but the last `keepLast` snapshots: drops their
    * manifests, then deletes every `data/` subdirectory no kept manifest
    * references — which also sweeps crashed-commit orphans and
    * `.tmp` manifests. Readers of kept snapshots are untouched (their
    * files are never deleted); readers of dropped snapshots race with
    * the delete exactly as they would with any retention policy, which
    * is why `keepLast` exists. Returns the dropped version numbers.
    *
    * In-flight-commit safety (r7 advisor finding): a commit between
    * "data written" and "manifest renamed" looks exactly like a crashed
    * orphan, so a concurrent vacuum could delete its data and the later
    * manifest rename would still succeed — a committed snapshot pointing
    * at nothing. Two guards close the race without coordination:
    * unreferenced dirs YOUNGER than `orphanGraceMs` are skipped (no real
    * commit takes that long between write and rename), and the manifest
    * set is RE-READ after listing so a dir claimed by a manifest
    * committed mid-vacuum is spared regardless of age. Dirs referenced
    * only by DROPPED manifests are retired deliberately and deleted at
    * any age. */
  def vacuum(
      spark: SparkSession,
      root: String,
      keepLast: Int = 1,
      orphanGraceMs: Long = 3600000L
  ): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the latest snapshot")
    require(orphanGraceMs >= 0L, "orphanGraceMs must be >= 0")
    val vs = versions(spark, root)
    val dropped = vs.dropRight(keepLast)
    val kept = vs.takeRight(keepLast)
    def dirsOf(versions: Seq[Int]): Set[String] = versions
      .flatMap(v => snapshot(spark, root, Some(v)).files)
      .map(f => new Path(f).getParent.toString).toSet
    val keptDirs = dirsOf(kept)
    val droppedDirs = dirsOf(dropped) -- keptDirs
    val dataDir = new Path(root, "data")
    val f = fs(spark, dataDir)
    if (f.exists(dataDir)) {
      val candidates = f.listStatus(dataDir).toSeq
        .filterNot(st => keptDirs.contains(st.getPath.toString))
      // re-read AFTER the listing: a manifest committed while we listed
      // may reference a dir that looked orphaned a moment ago (the
      // to-be-dropped manifests don't count — their dirs ARE retired)
      val droppedSet = dropped.toSet
      val nowReferenced = dirsOf(versions(spark, root).filterNot(droppedSet))
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      candidates
        .filterNot(st => nowReferenced.contains(st.getPath.toString))
        .filter(st => droppedDirs.contains(st.getPath.toString) ||
          st.getModificationTime <= cutoff)
        .foreach(st => f.delete(st.getPath, true))
    }
    val mdir = manifestDir(root)
    dropped.foreach { v =>
      f.delete(new Path(mdir, s"v$v.json"), false)
      f.delete(statsDir(root, v), true)    // retired zone-map sidecar
      f.delete(setIndexDir(root, v), true) // retired set-index sidecar
    }
    if (f.exists(mdir)) {
      // .tmp manifests get the same grace as orphan data dirs: a young
      // .tmp may be a commit BETWEEN write and rename — sweeping it would
      // fail that commit's rename (the same race the data-dir grace
      // closes; only crashed commits leave an OLD .tmp behind)
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      f.listStatus(mdir).toSeq
        .filter(st => st.getPath.getName.endsWith(".json.tmp") &&
          st.getModificationTime <= cutoff)
        .foreach(st => f.delete(st.getPath, false))
      // orphan sidecars (stats/set-index written, manifest rename never
      // happened) get the same crashed-commit treatment: invisible to
      // readers, swept once they outlive the grace
      val committed = versions(spark, root).toSet
      f.listStatus(mdir).toSeq
        .filter { st =>
          val n = st.getPath.getName
          n.matches("v\\d+\\.(stats|setidx)") &&
            !committed.contains(
              n.stripPrefix("v").replaceAll("\\.(stats|setidx)$", "").toInt) &&
            st.getModificationTime <= cutoff
        }
        .foreach(st => f.delete(st.getPath, true))
    }
    dropped
  }
}
