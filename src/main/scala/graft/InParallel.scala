package graft

import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, ExecutorService, Executors, Future, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The engine's one driver-side fan-out helper: independent store
  * builds ([[apply]]) and per-file commit metadata work — footer
  * reads, staging renames, segment puts ([[map]]) — all run through
  * it, so there is one pool discipline and one failure contract.
  *
  * Fewer than 2 items run sequentially on the caller's thread (no pool
  * spin-up for the common one-file commit); otherwise a pool of
  * min(16, n) threads runs every item, so commit latency is
  * ~ceil(files/16) round-trips instead of files round-trips.
  *
  * FAILURE CONTRACT: the FIRST arm to fail (in completion order, not
  * submission order) ends the call —
  *  - every other arm's future is cancelled with interrupt, and the
  *    pool is shut down with `shutdownNow` and awaited, so no arm is
  *    still running when the exception reaches the caller (a caller's
  *    rollback — SnapshotStore's segment rollback — can never race a
  *    still-running arm that recreates a file it just deleted);
  *  - when a SparkContext is active each arm runs under its own job
  *    tag, and the siblings' tags are cancelled, so Spark jobs an arm
  *    already submitted stop instead of running on;
  *  - the arm's ORIGINAL exception is rethrown: the pool's
  *    ExecutionException is unwrapped, so a
  *    [[graft.sources.SnapshotStore.ConcurrentCommitException]] keeps
  *    its type for the store's retry-on-conflict doctrine, and a
  *    require's IllegalArgumentException reaches the caller as itself.
  *
  * Session-conf safety for concurrent writers is the writers' own
  * concern: SnapshotStore scopes its parquet-writer conf through a
  * reference-counted save/restore. InParallelSpec pins the contract. */
object InParallel {

  /** Run two independent steps concurrently; both results, or the
    * first failure under the contract above. */
  def apply[A, B](fa: => A, fb: => B): (A, B) = {
    val out = map(Seq[() => Any](() => fa, () => fb))(_())
    (out(0).asInstanceOf[A], out(1).asInstanceOf[B])
  }

  /** `items.map(f)` on a bounded pool, results in `items` order. */
  def map[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.lengthCompare(2) < 0) items.map(f)
    else {
      val sc = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext).filterNot(_.isStopped)
      val run = java.util.UUID.randomUUID().toString
      val tags = items.indices.map(i => s"graft-parallel-$run-$i")
      val pool = Executors.newFixedThreadPool(math.min(16, items.size))
      val done = new ExecutorCompletionService[(Int, B)](pool)
      val futures: Seq[Future[(Int, B)]] =
        items.zipWithIndex.map { case (it, i) =>
          done.submit(new Callable[(Int, B)] {
            def call(): (Int, B) = (i, tagged(sc, tags(i))(f(it)))
          })
        }
      try {
        val out = new Array[Any](items.size)
        items.indices.foreach { _ =>
          try { val (i, b) = done.take().get(); out(i) = b }
          catch {
            case e: ExecutionException =>
              stopAll(futures, sc, tags, pool)
              throw Option(e.getCause).getOrElse(e)
            case e: InterruptedException => // the caller was interrupted
              stopAll(futures, sc, tags, pool)
              throw e
          }
        }
        out.toSeq.asInstanceOf[Seq[B]]
      } finally pool.shutdownNow()
    }

  private def tagged[B](sc: Option[SparkContext], tag: String)(body: => B): B =
    sc match {
      case None => body
      case Some(c) =>
        c.addJobTag(tag)
        try body finally c.removeJobTag(tag)
    }

  /** Cancel every arm (thread interrupt + its Spark jobs) and wait
    * until all of them have returned. */
  private def stopAll(futures: Seq[Future[_]], sc: Option[SparkContext],
                      tags: Seq[String], pool: ExecutorService): Unit = {
    futures.foreach(_.cancel(true))
    sc.foreach(c => tags.foreach(t => c.cancelJobsWithTag(t)))
    pool.shutdownNow()
    var interrupted = false
    while (!pool.isTerminated)
      try pool.awaitTermination(1, TimeUnit.SECONDS)
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
