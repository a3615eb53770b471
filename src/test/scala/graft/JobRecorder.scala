package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records the Spark jobs a block of spec code starts. */
object JobRecorder {

  /** Runs `body` under a job group of its own and returns its result with
    * the start event of every job the group started, in start order. The
    * listener bus is drained before the events are read, so no job start
    * is still in flight. */
  def record[T](spark: SparkSession)(body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val group = "job-recorder-" + System.nanoTime()
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          starts.add(e)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "recorded jobs")
      val out = try body finally sc.clearJobGroup()
      TestBusDrain.drain(sc)
      (out, starts.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Each recorded job as its stage names joined by `+`. */
  def stageNames(starts: Seq[SparkListenerJobStart]): Seq[String] =
    starts.map(_.stageInfos.map(_.name).mkString("+"))
}
