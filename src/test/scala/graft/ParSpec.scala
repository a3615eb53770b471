package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Par

/** `Par.parMap` runs a bounded number of branches at once, and a failing
  * branch cancels the Spark jobs of its siblings before its own exception
  * is rethrown. */
class ParSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("20 branches never run more than MaxThreads at once, and results keep their order") {
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    val out = Par.parMap(1 to 20) { i =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(30)
      running.decrementAndGet()
      i * i
    }
    assert(out == (1 to 20).map(i => i * i))
    assert(Par.MaxThreads == 4)
    assert(peak.get() <= Par.MaxThreads)
    assert(peak.get() > 1, "the branches overlapped")
  }

  test("a failing branch rethrows its own exception and cancels a sibling's running job") {
    val sc = spark.sparkContext
    val SleeperName = "par-spec-sleeper-" + System.nanoTime()
    val sleeperJobs = ConcurrentHashMap.newKeySet[Int]()
    val ends = new ConcurrentHashMap[Int, SparkListenerJobEnd]()
    val started = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.rddInfos.exists(_.name == SleeperName))) {
          sleeperJobs.add(e.jobId)
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sleeperJobs.contains(e.jobId)) ends.put(e.jobId, e)
    }
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      val thrown = intercept[IllegalStateException] {
        Par.parMap(Seq("sleeper", "thrower")) {
          case "sleeper" =>
            // each task sleeps until the job is cancelled (or 60 s pass)
            sc.parallelize(1 to 2, 2).mapPartitions { it =>
              val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
              while (!TaskContext.get().isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
              it
            }.setName(SleeperName).count()
          case _ =>
            assert(started.await(30, TimeUnit.SECONDS), "the sibling's job started")
            throw new IllegalStateException("boom")
        }
      }
      assert(thrown.getMessage == "boom")
      assert((System.nanoTime() - t0) / 1e9 < 30, "the sibling did not run to its deadline")
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (ends.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(sleeperJobs.size == 1)
      val end = ends.values.iterator.next()
      end.jobResult match {
        case JobFailed(e) => assert(e.getMessage.toLowerCase.contains("cancel"), e.getMessage)
        case other        => fail(s"the sibling's job was not cancelled: $other")
      }
    } finally sc.removeSparkListener(listener)
  }
}
