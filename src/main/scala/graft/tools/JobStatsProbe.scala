package graft.tools

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.util.GraftSession

/** Dev-only per-query probe (guide §1: decide whether a slow query is
  * overhead-bound — many tiny jobs/stages — or compute-bound, and whether
  * a hot key skews it, before touching it). For every sf dir given as an
  * argument and every query named in `SPARK_GRAFT_PROBE_QUERIES`, it runs
  * the real `SparkEntry.queries` body twice, under Bench's session config
  * and `count()` action so its numbers are comparable to the bench
  * artifact, and prints per run:
  *   - wall seconds, jobs, stages, tasks, summed executor task time, GC
  *     time and shuffle read/write;
  *   - how many partitions AQE split as skewed in the final plan
  *     (`skew=true` markers);
  *   - a skew table for every stage with at least 2 tasks and 50 ms of
  *     task time: tasks, total/max/median task time, and the max/median
  *     ratio of task time and of shuffle-read bytes. Straggler-free
  *     stages sit near 1-3× at local shuffle sizes; the byte ratio tells
  *     data skew from scheduling noise.
  * Run:
  *   SPARK_GRAFT_PROBE_QUERIES=q250_bfs_layers,... \
  *     scripts/graft-java.sh graft.tools.JobStatsProbe sfDir...
  * To A/B a setting, add `JAVA_TOOL_OPTIONS=-Dspark.k=v`. Not part of any
  * gate. */
object JobStatsProbe {

  private final case class TaskRec(stage: Int, runMs: Long, gcMs: Long, readB: Long, writeB: Long)

  /** The jobs started and tasks finished since the last [[drain]]. */
  private final class Records extends SparkListener {
    private var jobs = 0
    private val tasks = ArrayBuffer.empty[TaskRec]
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null)
        tasks += TaskRec(t.stageId, m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
    }
    /** Takes the records. The listener bus is async and its flush is
      * private to Spark; a short settle is enough for a local run. */
    def drain(): (Int, Seq[TaskRec]) = {
      Thread.sleep(500)
      synchronized {
        val out = (jobs, tasks.toList)
        jobs = 0; tasks.clear()
        out
      }
    }
  }

  private def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.length / 2)

  private def printSkew(tasks: Seq[TaskRec]): Unit =
    tasks.groupBy(_.stage).toSeq.sortBy(_._1).foreach { case (stage, obs) =>
      val d = obs.map(_.runMs)
      val b = obs.map(_.readB)
      if (obs.length >= 2 && d.sum >= 50) {
        val tRatio = d.max.toDouble / math.max(median(d), 1L)
        val bRatio = b.max.toDouble / math.max(median(b), 1L)
        println(f"  $stage%7d ${obs.length}%6d ${d.sum / 1e3}%8.2f ${d.max}%8d ${median(d)}%8d " +
          f"$tRatio%8.2f ${b.max}%10d ${median(b)}%10d $bRatio%8.2f")
      }
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobStatsProbe <sfDir>...")
    val queries = sys.env.getOrElse("SPARK_GRAFT_PROBE_QUERIES", "q250_bfs_layers")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.local()
    val records = new Records
    spark.sparkContext.addSparkListener(records)
    spark.range(1000000L).selectExpr("sum(id)").collect()

    for (dir <- args) {
      println(s"\n== $dir ==")
      println(f"${"query"}%-32s rep ${"wall_s"}%8s ${"jobs"}%5s ${"stgs"}%5s ${"tasks"}%6s " +
        f"${"taskT_s"}%8s ${"gc_s"}%6s ${"shRd_MB"}%8s ${"shWr_MB"}%8s ${"skew"}%4s")
      println(f"  ${"stage"}%7s ${"tasks"}%6s ${"sum_s"}%8s ${"max_ms"}%8s ${"med_ms"}%8s " +
        f"${"t_ratio"}%8s ${"shuf_max"}%10s ${"shuf_med"}%10s ${"b_ratio"}%8s")
      for (q <- queries; rep <- 1 to 2) {
        records.drain()
        val t0 = System.nanoTime()
        val run = Try { val df = graft.SparkEntry.queries(q)(spark, dir); (df, df.count()) }
        val wall = (System.nanoTime() - t0) / 1e9
        val (jobs, tasks) = records.drain()
        run match {
          case Success((df, n)) =>
            val skewSplits = df.queryExecution.executedPlan.collect {
              case a: AdaptiveSparkPlanExec => "skew=true".r.findAllIn(a.executedPlan.toString).size
            }.sum
            println(f"$q%-32s  $rep  $wall%8.3f $jobs%5d ${tasks.map(_.stage).distinct.size}%5d " +
              f"${tasks.size}%6d ${tasks.map(_.runMs).sum / 1e3}%8.2f ${tasks.map(_.gcMs).sum / 1e3}%6.2f " +
              f"${tasks.map(_.readB).sum / 1e6}%8.1f ${tasks.map(_.writeB).sum / 1e6}%8.1f " +
              f"$skewSplits%4d  ($n rows)")
            printSkew(tasks)
          case Failure(e) =>
            println(s"$q rep$rep FAILED: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}")
        }
        GraftSession.release(spark)
      }
    }
    spark.stop()
  }
}
