package graft.util

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark actions from driver threads (optimization
  * guide §2.6: actions are only sequential because the driver calls them
  * sequentially; submitting independent jobs concurrently lets the
  * scheduler back-fill cores left idle by another branch's straggler
  * tail or single-task stages). Used by multi-branch queries whose
  * branches share only already-materialized (checkpointed) inputs, and by
  * the warehouse load protocol, one branch per destination table — each
  * branch is a pure function of its inputs, so evaluation order cannot
  * change any result; only wall-clock changes.
  *
  * At most [[MaxThreads]] branches run at once, whatever the branch count
  * (the load fan-out passes one branch per event table, which a real
  * workspace has hundreds of); branches start in the order given, so a
  * caller puts its longest chain first. Each branch runs under its own
  * Spark job tag (`SparkContext.addJobTag`, not `setJobGroup`: the
  * caller's job group — a streaming query's run id — stays inherited, so
  * stopping the query still cancels the branch's jobs). On the first
  * branch failure, branches not yet started are dropped, every sibling's
  * running jobs are cancelled through its tag until it returns, and the
  * failure is rethrown with its ORIGINAL exception (unwrapped from
  * ExecutionException), so error behavior matches the sequential form the
  * branches replaced. */
object Par {

  /** The most branches that run at once: enough to fill a straggler tail,
    * not so many that they fight for the driver and the cores. */
  val MaxThreads = 4

  private val calls = new AtomicLong()

  def parMap[A, B](in: Seq[A])(f: A => B): Seq[B] = {
    if (in.size <= 1) return in.map(f)
    val sc: Option[SparkContext] =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val call = calls.incrementAndGet()
    val tags = in.indices.map(i => s"graft-par-$call-$i")
    // threads are made here, by the caller, so they inherit its local
    // properties (job group, streaming batch id, active session)
    val pool = Executors.newFixedThreadPool(math.min(in.size, MaxThreads))
    val done = new ExecutorCompletionService[B](pool)
    try {
      val futures: IndexedSeq[Future[B]] = in.toIndexedSeq.zip(tags).map { case (a, tag) =>
        done.submit(new Callable[B] {
          override def call(): B = {
            sc.foreach(_.addJobTag(tag))
            try f(a) finally sc.foreach(_.removeJobTag(tag))
          }
        })
      }
      var remaining = futures.size
      while (remaining > 0) {
        val next = done.take()
        remaining -= 1
        try next.get()
        catch {
          case e: ExecutionException =>
            futures.foreach(_.cancel(false)) // drop the branches not yet started
            pool.shutdown()
            val siblings = tags.patch(futures.indexOf(next), Nil, 1)
            // a sibling between two jobs starts its next one after the first
            // cancel, so cancel again until every sibling has returned
            do sc.foreach(s => siblings.foreach(s.cancelJobsWithTag))
            while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
            throw e.getCause
        }
      }
      futures.map(_.get())
    } finally { pool.shutdownNow(); () }
  }
}
