package graft.sink

import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, Executors}

import org.apache.spark.sql.SparkSession

/** Ordered map over INDEPENDENT Spark actions through a small fixed pool
  * (opt guide §2.6 "overlap independent jobs"): Spark's scheduler runs
  * concurrent jobs FIFO, so a later action's tasks back-fill executors
  * freed by the current action's tail. 2-4 jobs in flight is plenty —
  * enough to fill the tail, not so many that they fight for cores.
  *
  * Failure contract: every closure runs under one Spark job tag, and the
  * FIRST failure (in completion order, not input order) cancels every
  * job carrying that tag (tasks interrupted) before the pool threads
  * are interrupted — no Spark job outlives the thrown call — and the
  * ORIGINAL exception propagates, never the pool's ExecutionException
  * wrapper, so callers/tests that match on exception types see exactly
  * what a sequential loop would have thrown. */
private[graft] object Par {
  def map[A, B](spark: SparkSession, xs: Seq[A], maxThreads: Int = 4)(
      f: A => B): Seq[B] = {
    if (xs.size <= 1) return xs.map(f)
    val sc = spark.sparkContext
    val tag = "graft-par-" + java.util.UUID.randomUUID()
    val pool = Executors.newFixedThreadPool(math.min(maxThreads, xs.size))
    val done = new ExecutorCompletionService[(Int, B)](pool)
    try {
      xs.zipWithIndex.foreach { case (x, i) =>
        done.submit(new Callable[(Int, B)] {
          def call(): (Int, B) = {
            sc.addJobTag(tag)
            sc.setInterruptOnCancel(true)
            try (i, f(x)) finally sc.removeJobTag(tag)
          }
        })
      }
      val out = scala.collection.mutable.Map.empty[Int, B]
      xs.indices.foreach { _ =>
        try { val (i, b) = done.take().get(); out(i) = b }
        catch {
          case e: ExecutionException =>
            sc.cancelJobsWithTag(tag)
            throw Option(e.getCause).getOrElse(e)
        }
      }
      xs.indices.map(out)
    } finally pool.shutdownNow() // interrupts stragglers on failure;
    // a no-op after success (every closure already completed)
  }
}
