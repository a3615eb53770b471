package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The program's layers, named after the packages under `graft/`. A job
  * belongs to the layer of the innermost `graft.` frame of the call site
  * that submitted it; `graft.util` helpers are skipped over. */
object Layers {
  val All: Seq[String] = Seq("ingest", "etl", "jobs", "sink", "streaming", "operators")

  /** Jobs the benchmark itself submits (warm-up, schema sniffing). */
  val Bench = "bench"
  val Unattributed = "unattributed"

  /** `benchCalls` is the layer of jobs whose innermost non-Spark frame is
    * the benchmark itself, acting on a DataFrame the program returned. */
  def of(frames: Seq[String], benchCalls: String = Bench): String = {
    val graftFrames = frames.filter(f => f.startsWith("graft.") && !f.startsWith("graft.util."))
    graftFrames.headOption match {
      case Some(f) if f.startsWith("graft.ingest.")    => "ingest"
      case Some(f) if f.startsWith("graft.etl.")       => "etl"
      case Some(f) if f.startsWith("graft.jobs.")      => "jobs"
      case Some(f) if f.startsWith("graft.sink.")      => "sink"
      case Some(f) if f.startsWith("graft.streaming.") => "streaming"
      case Some(f) if f.startsWith("graft.SparkEntry") || f.startsWith("graft.operators.") ||
                      f.startsWith("graft.plans.") || f.startsWith("graft.functions.") => "operators"
      case Some(_) => Unattributed
      case None if frames.exists(_.startsWith("perfbench.")) => benchCalls
      case None => Unattributed
    }
  }
}

/** One finished Spark job as the trace saw it. */
final case class JobRec(
    id: Int,
    startMs: Long,
    endMs: Long,
    executionId: Option[Long],
    batchId: Option[Long],
    frames: Seq[String],
    plan: String,
    layer: String,
    stages: Int,
    tasks: Int,
    taskMs: Long,
    gcMs: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    scopes: Set[String]
) {
  def ms: Long = endMs - startMs
  def isWrite: Boolean = plan.contains("InsertIntoHadoopFsRelationCommand")
  /** Table a write job lands in: the last path segment of its output
    * directory, with the stage-then-swap suffix removed. */
  def writeTable: Option[String] =
    if (!isWrite) None
    else "(?s)\\) Execute InsertIntoHadoopFsRelationCommand\\n.*?Arguments: ([^,\\s]+)".r.findFirstMatchIn(plan)
      .map(_.group(1).split('/').last.stripSuffix("__staged"))
  /** The root operator of the physical plan, under any adaptive wrapper. */
  def rootOp: String = plan.split("\n").iterator.map(_.trim)
    .dropWhile(l => l.startsWith("==") || l.startsWith("AdaptiveSparkPlan") || l.startsWith("+- =="))
    .nextOption().getOrElse("").stripPrefix("* ").takeWhile(_ != ' ')
  def scansRaw: Boolean = scopes.exists(s => s.startsWith("Scan json") || s.startsWith("Scan text"))
  def runsStateOp: Boolean = scopes.exists(_.contains("Deduplicat"))
}

/** Job-attribution listener, registered by the benchmark for traced runs.
  *
  * A job's call site comes from its SQL execution (`spark.sql.execution.id`
  * -> `SparkListenerSQLExecutionStart.details`), because jobs that adaptive
  * execution submits run on pool threads whose own stack says nothing about
  * the caller. Jobs outside any SQL execution fall back to their own stage
  * call site. Write executions also report exact output file and byte
  * counts through driver accumulator updates. */
final class Trace(benchCalls: String) extends SparkListener {
  private final class Exec(val frames: Seq[String], var plan: String) {
    val metricNames = mutable.Map.empty[Long, String]
    val values = mutable.Map.empty[String, Long]
  }
  private final class Open(val start: Long, val execId: Option[Long], val batchId: Option[Long],
      val frames: Seq[String]) {
    var stages, tasks = 0
    var taskMs, gcMs, shuffle, spill = 0L
    val scopes = mutable.Set.empty[String]
  }

  private var busyNs = 0L
  /** Runs one listener callback under the lock, adding its time to `busyS`. */
  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  private val execs = mutable.Map.empty[Long, Exec]
  private val open = mutable.Map.empty[Int, Open]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobRec]
  /** Cached partitions per RDD id, from block updates. */
  private val cached = mutable.Map.empty[Int, mutable.Set[Int]]

  private def framesOf(details: String): Seq[String] =
    details.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)

  private def collectMetrics(p: SparkPlanInfo, into: mutable.Map[Long, String]): Unit = {
    p.metrics.foreach(m => into(m.accumulatorId) = m.name)
    p.children.foreach(collectMetrics(_, into))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = timed {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        val x = new Exec(framesOf(e.details), e.physicalPlanDescription)
        collectMetrics(e.sparkPlanInfo, x.metricNames)
        execs(e.executionId) = x
      case e: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(e.executionId).foreach { x =>
          x.plan = e.physicalPlanDescription
          collectMetrics(e.sparkPlanInfo, x.metricNames)
        }
      case e: SparkListenerDriverAccumUpdates =>
        execs.get(e.executionId).foreach { x =>
          e.accumUpdates.foreach { case (id, v) =>
            x.metricNames.get(id).foreach(n => x.values(n) = x.values.getOrElse(n, 0L) + v)
          }
        }
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val execId = prop("spark.sql.execution.id").map(_.toLong)
    val batchId = prop("streaming.sql.batchId").map(_.toLong)
    val frames = execId.flatMap(execs.get).map(_.frames)
      .orElse(prop("callSite.long").map(framesOf))
      .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.map(s => framesOf(s.details)).getOrElse(Nil))
    open(e.jobId) = new Open(e.time, execId, batchId, frames)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  /** Records the operator scopes a submitted stage computes. A stage lists
    * its whole narrow lineage, but the part above a fully cached RDD is not
    * computed again, so those scopes are left out. */
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stageJob.get(e.stageInfo.stageId).flatMap(open.get).foreach { o =>
      o.stages += 1
      val rdds = e.stageInfo.rddInfos
      val byId = rdds.map(r => r.id -> r).toMap
      val full = rdds.filter(r => r.storageLevel.isValid &&
        cached.get(r.id).exists(_.size >= r.numPartitions)).map(_.id)
      val skipped = mutable.Set.empty[Int]
      def above(id: Int): Unit = byId.get(id).foreach(_.parentIds.foreach { p =>
        if (skipped.add(p)) above(p)
      })
      full.foreach(above)
      rdds.filterNot(r => skipped(r.id)).foreach(r => r.scope.foreach(s => o.scopes += s.name))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    e.blockUpdatedInfo.blockId match {
      case org.apache.spark.storage.RDDBlockId(rdd, part) =>
        val parts = cached.getOrElseUpdate(rdd, mutable.Set.empty)
        if (e.blockUpdatedInfo.storageLevel.isValid) parts += part else parts -= part
      case _ =>
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (j <- stageJob.get(e.stageId); o <- open.get(j); m <- Option(e.taskMetrics)) {
      o.tasks += 1
      o.taskMs += m.executorRunTime
      o.gcMs += m.jvmGCTime
      o.shuffle += m.shuffleWriteMetrics.bytesWritten
      o.spill += m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    open.remove(e.jobId).foreach { o =>
      val plan = o.execId.flatMap(execs.get).map(_.plan).getOrElse("")
      done += JobRec(e.jobId, o.start, e.time, o.execId, o.batchId, o.frames, plan,
        Layers.of(o.frames, benchCalls), o.stages, o.tasks, o.taskMs, o.gcMs, o.shuffle, o.spill, o.scopes.toSet)
    }
  }

  /** Finished jobs, in end order. */
  def jobs: Seq[JobRec] = synchronized(done.toList)

  /** Summed driver-side metric `name` over the SQL executions of `jobs`
    * (each execution counted once). */
  def execMetric(jobs: Seq[JobRec], name: String): Long = synchronized {
    jobs.flatMap(_.executionId).distinct.flatMap(execs.get).map(_.values.getOrElse(name, 0L)).sum
  }

  /** Time the listener spent in its callbacks: the work tracing adds. */
  def busyS: Double = synchronized(busyNs / 1e9)
}

/** Cached RDD data held at once (memory plus disk), and its peak since the
  * last `reset`. Registered on every run: persist choices trade memory for
  * time, and this makes the trade visible. Broadcast blocks are left out:
  * they are freed by the garbage-collector-driven cleaner, so their
  * lifetime says nothing about the program's persist choices. */
final class StorageWatch extends SparkListener {
  private val sizes = mutable.Map.empty[String, Long]
  private var current = 0L
  private var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val id = i.blockId.name
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      current += now - sizes.getOrElse(id, 0L)
      if (now == 0L) sizes.remove(id) else sizes(id) = now
      peakBytes = math.max(peakBytes, current)
    }
  }

  /** Unpersisting drops an RDD's blocks without a block update, so they are
    * released here. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    sizes.keys.filter(_.startsWith(prefix)).toSeq.foreach { id =>
      current -= sizes(id)
      sizes.remove(id)
    }
  }

  def reset(): Unit = synchronized { peakBytes = current }
  def peak: Long = synchronized(peakBytes)
}
