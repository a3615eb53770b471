package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Cardinality, CountMin}
import graft.sink.SnapshotSink

/** STREAMING INGESTION for the stored-state rollup (q136's write path as
  * a Structured Streaming job): each micro-batch's per-day KMV states
  * are MERGED into the snapshot-committed state table — KMV closure
  * makes the merge associative, so the accumulated store equals the
  * states one all-at-once batch build would produce no matter how the
  * stream chops the data (asserted by the StreamingSpec twin). Trailing
  * windows are then answered from the store by
  * [[Cardinality.trailingDistinctFromStates]] without ever rescanning
  * events — the ClickHouse AggregatingMergeTree deployment loop
  * (reference seghouse delegates rollups to exactly this warehouse
  * shape; see `reference/seghouse/warehouse/clickhouse.py:81-88`),
  * rebuilt native.
  *
  * foreachBatch rather than a stateful aggregation: the state lives in
  * the SNAPSHOT TABLE (readable by any engine, mergeable across
  * clusters), not in the stream's checkpoint.
  *
  * REPLAY SAFETY: foreachBatch is at-least-once — after a crash between
  * a successful commit and the checkpoint's offset write, the same
  * micro-batch re-runs. KMV's merge is idempotent (`merge(s, s) = s`),
  * but count-min's is ADDITION, which double-counts on replay — so every
  * ingestion here commits through one guard that records the committed
  * batch id in a marker file (`_batches/b<id>`, written AFTER the
  * snapshot commit) and skips a batch id already marked. The marker can
  * lag the commit by a crash (commit landed, marker didn't): the replay
  * then re-merges that one batch — harmless for KMV, and for CM this is
  * the standard
  * at-least-once residual that an exactly-once deployment closes by
  * making the marker write part of the commit (single-committer rename,
  * same journal). Markers are tiny and bounded by batch count.
  *
  * Scale shape: per micro-batch, one map-side-combined scan down to
  * state-sized rows per day, one state-sized merge against the stored
  * table — events never accumulate anywhere. */
object StateRollup {

  private def batchMarker(root: String, id: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root, "_batches"), s"b$id")

  /** The one replay-guarded micro-batch committer behind every ingestion
    * here: persist the batch, skip a batch id already marked and an empty
    * batch, `commit` it, mark its id, then retire all but the last
    * `keepVersions` snapshots. */
  private def guardedCommits(
      stream: DataFrame, root: String, checkpointDir: String,
      trigger: Trigger, keepVersions: Int)(commit: DataFrame => Unit): StreamingQuery = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // persist: the emptiness probe and the commit must not re-read
        // the source twice per trigger
        val b = batch.persist()
        try {
          val spark = b.sparkSession
          val marker = batchMarker(root, batchId)
          val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(marker) && b.take(1).nonEmpty) {
            commit(b)
            fs.mkdirs(marker.getParent)
            fs.create(marker, true).close()
            if (keepVersions != Int.MaxValue)
              SnapshotSink.vacuum(spark, root, keepLast = keepVersions)
            ()
          }
        } finally { b.unpersist(); () }
      }
      .trigger(trigger)
      .start()
  }

  /** Start an AvailableNow/continuous ingestion of `stream` (must carry
    * `dayCol` and `valueCol`) that folds each micro-batch's daily KMV
    * states into the snapshot root. One snapshot version per micro-batch
    * with non-null values.
    *
    * Each commit is a full (state-sized — ≤ k longs per day) copy of the
    * merged table, so a long-running stream retires old versions as it
    * goes: `keepVersions` snapshots are retained and older ones vacuumed
    * after every commit (readers of the retained versions are never
    * affected; in-flight commits are protected by vacuum's grace
    * period). Set `keepVersions = Int.MaxValue` to keep the whole
    * lineage (e.g. for time-travel tests). */
  def appendDailyKmvStates(
      stream: DataFrame,
      valueCol: String,
      dayCol: String,
      k: Int,
      root: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      keepVersions: Int = 3
  ): StreamingQuery = {
    guardedCommits(stream.filter(col(valueCol).isNotNull), root, checkpointDir,
        trigger, keepVersions) { b =>
      val spark = b.sparkSession
      val states = Cardinality.kmvSketches(b, valueCol, dayCol, k)
        .withColumnRenamed("segment", "day")
      SnapshotSink.commit(
        if (SnapshotSink.versions(spark, root).isEmpty) states
        else Cardinality.mergeKmvStates(SnapshotSink.read(spark, root), states, k),
        root)
    }
  }

  /** CORPUS-TABLE maintenance twin: where the two state variants fold
    * micro-batches into state-SIZED tables, this one GROWS a corpus-sized
    * table — each micro-batch lands as an add-files append
    * ([[SnapshotSink.appendWithStats]]: O(batch) write I/O, prior files
    * referenced verbatim) with the zone-map sidecar extended in the same
    * pass, so the store stays range-skippable ([[SnapshotSink.readPruned]])
    * while it grows. `clusterCol` range-clusters each batch's files so
    * their bounds are tight (the ClickHouse ORDER BY discipline applied
    * per part, q144's layout lever); un-clustered batches still index,
    * they just prune less. Appends are NOT idempotent (a replayed batch
    * would duplicate rows), so the batch-id marker guard is load-bearing
    * here, like the CM variant. Retention: an append lineage's old
    * versions share data files with the tip, so vacuum here only retires
    * manifests + sidecars — data dirs referenced by the kept tip always
    * survive. */
  def appendIndexedBatches(
      stream: DataFrame,
      statsCols: Seq[String],
      root: String,
      checkpointDir: String,
      clusterCol: Option[String] = None,
      filesPerBatch: Int = 1,
      trigger: Trigger = Trigger.AvailableNow(),
      keepVersions: Int = 3
  ): StreamingQuery = {
    require(statsCols.nonEmpty, "appendIndexedBatches needs stats columns")
    require(filesPerBatch >= 1, "filesPerBatch must be >= 1")
    guardedCommits(stream, root, checkpointDir, trigger, keepVersions) { b =>
      val laid = clusterCol match {
        case Some(c) => b.repartitionByRange(filesPerBatch, col(c))
        case None => b.coalesce(filesPerBatch)
      }
      SnapshotSink.appendWithStats(laid, root, statsCols)
    }
  }

  /** STREAMING KEYED UPSERT — the reference's whole pipeline shape
    * (stream → users table, `ReplacingMergeTree ORDER BY user_id`) on
    * the snapshot store: each micro-batch upserts through
    * [[SnapshotSink.upsertKeyed]], so only files whose Bloom index
    * might contain a batch key rewrite — per-trigger cost O(victim
    * files + batch) while the stored table stays globally LWW-correct
    * (upsert associativity: argmax of argmaxes). LWW makes replay
    * IDEMPOTENT in content (a re-run batch re-resolves to the same
    * winners), but the marker guard still skips it to avoid burning a
    * version + rewrite per replay. The first batch bootstraps the
    * lineage with a keyed commit. */
  def upsertKeyedStream(
      stream: DataFrame,
      keyCols: Seq[String],
      verCol: String,
      tieBreak: Seq[org.apache.spark.sql.Column],
      keys: org.apache.spark.sql.Column,
      expectedPerFile: Long,
      root: String,
      checkpointDir: String,
      buckets: Int = 8,
      trigger: Trigger = Trigger.AvailableNow(),
      keepVersions: Int = 3
  ): StreamingQuery = {
    guardedCommits(stream, root, checkpointDir, trigger, keepVersions) { b =>
      val spark = b.sparkSession
      if (SnapshotSink.versions(spark, root).isEmpty) {
        val winners = graft.etl.Dedup.lastWriteWins(b, keyCols, verCol, tieBreak)
        SnapshotSink.commitWithSetIndex(
          winners.repartition(buckets, keyCols.map(col): _*),
          root, keys, expectedPerFile)
      } else {
        SnapshotSink.upsertKeyed(spark, root, b, keyCols, verCol,
          tieBreak, keys, expectedPerFile)
      }
    }
  }

  /** The COUNT-MIN twin of [[appendDailyKmvStates]]: each micro-batch's
    * per-day CM state rows fold into the stored table by ADDITION
    * ([[CountMin.mergeDailyStates]] — linear sketch, exact for ANY
    * split of the stream, split days included, so unlike the day-grain
    * candidate tables this ingestion needs no alignment between
    * micro-batch boundaries and days). Same commit/marker/retention
    * semantics as the KMV variant; the batch-id marker matters MORE
    * here because addition is not idempotent (see the replay-safety
    * note above). `valueCol` is normalized to non-null strings here
    * (the [[CountMin.trailingHeavyHitters]] convention). */
  def appendDailyCmStates(
      stream: DataFrame,
      valueCol: String,
      dayCol: String,
      depth: Int,
      width: Int,
      root: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      keepVersions: Int = 3
  ): StreamingQuery = {
    guardedCommits(stream.filter(col(valueCol).isNotNull), root, checkpointDir,
        trigger, keepVersions) { b =>
      val spark = b.sparkSession
      val nn = b.select(col(dayCol).as("d"), col(valueCol).cast("string").as("v"))
      val states = CountMin.dailyStates(nn, "v", "d", depth, width)
      SnapshotSink.commit(
        if (SnapshotSink.versions(spark, root).isEmpty) states
        else CountMin.mergeDailyStates(SnapshotSink.read(spark, root), states),
        root)
    }
  }
}
