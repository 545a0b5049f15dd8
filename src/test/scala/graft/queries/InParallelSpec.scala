package graft.queries

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.{InParallel, SparkTestBase}

/** Failure semantics of the engine's one fan-out helper
  * ([[graft.InParallel]]):
  *
  *  (a) a [[graft.sources.SnapshotStore.ConcurrentCommitException]]
  *      thrown inside an arm surfaces TYPED — not wrapped in the
  *      pool's ExecutionException — so a caller honoring the store's
  *      documented retry-on-ConcurrentCommit doctrine still catches it;
  *  (b) the sibling arm has already STOPPED when the failure reaches
  *      the caller (interrupted, cancelled and awaited — never left
  *      running fire-and-forget);
  *  (c) the success path returns every result in order;
  *  (d) when one of N file-writing arms throws, no file appears after
  *      the helper returns — a caller's rollback cannot race an arm;
  *  (e) Spark jobs a sibling already submitted are cancelled through
  *      its job tag, not left running on the executors.
  *
  * (a)–(d) are pure threading; only (e) touches the session. */
class InParallelSpec extends SparkTestBase {

  test("(a) ConcurrentCommitException surfaces typed through inParallel") {
    val boom = intercept[graft.sources.SnapshotStore.ConcurrentCommitException] {
      InParallel(
        { Thread.sleep(30)
          throw new graft.sources.SnapshotStore.ConcurrentCommitException(
            "lost the race") },
        { Thread.sleep(200); 42 })
    }
    assert(boom.getMessage.contains("lost the race"))
  }

  test("(b) a failing arm interrupts its sibling") {
    val interrupted = new AtomicBoolean(false)
    val finished = new AtomicBoolean(false)
    intercept[IllegalStateException] {
      InParallel(
        try { Thread.sleep(5000); finished.set(true); 1 }
        catch { case _: InterruptedException => interrupted.set(true); 0 },
        { Thread.sleep(30); throw new IllegalStateException("arm b died") })
    }
    // no poll: the helper returns only after every arm has stopped
    assert(interrupted.get() && !finished.get(),
      "sibling was still running (or ran to completion) at the throw")
  }

  test("(c) both results return on success") {
    assert(InParallel(1 + 1, "x" * 2) === ((2, "xx")))
    assert(InParallel.map(1 to 40)(_ * 3) === (1 to 40).map(_ * 3))
  }

  test("(d) one of N file-writing arms throws: no file appears after " +
      "the helper returns") {
    val dir = java.nio.file.Files.createTempDirectory("inparallel")
    def listed() = {
      val s = java.nio.file.Files.list(dir)
      try s.toArray.length finally s.close()
    }
    intercept[IllegalStateException] {
      InParallel.map(0 until 8) { i =>
        if (i == 0) {
          Thread.sleep(20)
          throw new IllegalStateException("arm 0 died")
        }
        // a non-interruptible stretch of work, then the write — the
        // shape of a segment put already past its last blocking call
        val until = System.nanoTime() + (40L + 15L * i) * 1000000L
        while (System.nanoTime() < until) {}
        java.nio.file.Files.write(dir.resolve(s"seg-$i"), Array[Byte](1))
      }
    }
    // the caller's rollback, exactly as SnapshotStore.commit runs it
    java.nio.file.Files.list(dir).toArray.foreach(p =>
      java.nio.file.Files.delete(p.asInstanceOf[java.nio.file.Path]))
    Thread.sleep(300) // longer than any arm's remaining work
    assert(listed() === 0, "an arm wrote a file after the helper returned")
  }

  test("(e) a failing arm cancels the Spark jobs its sibling submitted") {
    val sc = spark.sparkContext
    val jobStarted = new CountDownLatch(1)
    val tagged = new ConcurrentLinkedQueue[Int]()
    val failedJobs = new ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => Option(p.getProperty("spark.job.tags"))
            .exists(_.contains("graft-parallel-")))) {
          tagged.add(e.jobId); jobStarted.countDown()
        }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (e.jobResult != org.apache.spark.scheduler.JobSucceeded)
          failedJobs.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      intercept[IllegalStateException] {
        InParallel(
          // tasks that run ~20 s unless killed
          spark.range(0, 4, 1, 4).rdd.map { x =>
            val until = System.nanoTime() + 20000000000L
            while (System.nanoTime() < until &&
                   !org.apache.spark.TaskContext.get().isInterrupted())
              Thread.sleep(20)
            x
          }.count(),
          { jobStarted.await(30, TimeUnit.SECONDS)
            throw new IllegalStateException("arm b died") })
      }
      assert(!tagged.isEmpty, "the sibling's job carried no InParallel tag")
      // the cancel is delivered through the scheduler's event loop
      val deadline = System.nanoTime() + 10000000000L
      while (!failedJobs.containsAll(tagged) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(failedJobs.containsAll(tagged),
        s"tagged jobs $tagged were not cancelled (failed: $failedJobs)")
      assert((System.nanoTime() - t0) / 1e9 < 15.0,
        "the sibling's job ran to completion")
    } finally sc.removeSparkListener(listener)
  }
}
