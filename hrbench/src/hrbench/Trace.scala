package hrbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, TaskFailedReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds so that spans taken
  * here and intervals reported by Spark's listeners share one clock. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startUs: Long, endUs: Long) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "layer" -> layer, "start_us" -> startUs,
    "end_us" -> endUs)
}

/** Span recorder for the benchmark's own calls into the program. With
  * tracing off, `span` only runs the body: no clock reads beyond the op
  * timer, no allocation of span records. */
final class Tracer(val enabled: Boolean) {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Long]()
  val spans = new ConcurrentLinkedQueue[Span]()

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = if (stack.isEmpty) 0L else stack.top
      val t0 = nowUs
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans.add(Span(id, parent, name, layer, t0, nowUs))
      }
    }
}

/** Engine-side counters, registered by the benchmark on a traced run:
  * Spark jobs and tasks (with each task's duration) from a SparkListener, Catalyst phase intervals from
  * `QueryExecution.tracker` through a QueryExecutionListener. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  /** Wall time of every finished task, in ms. */
  val taskMs = new ConcurrentLinkedQueue[Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private def add(k: String, v: Long): Unit =
    counters.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  def snapshot: Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.get }.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
    jobs.add(Map("job" -> e.jobId, "start_us" -> t0 * 1000L,
      "end_us" -> e.time * 1000L))
    add("jobs", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (e.taskInfo != null) taskMs.add(e.taskInfo.duration)
    e.reason match {
      case Success =>
      case _: TaskFailedReason => add("failed_tasks", 1)
      case _ =>
    }
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phases.add(Map("phase" -> phase, "start_us" -> s.startTimeMs * 1000L,
        "end_us" -> s.endTimeMs * 1000L))
    }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Wall-clock stack sampler: every `periodMs` it takes the stacks of the
  * driver thread and of Spark's running task threads and charges the sample
  * to the first frame outside the JDK and the Scala library: its
  * `graft.<layer>` package (`graft` for the package's root objects), or
  * `spark` for any other code. That is self time: work Spark does under a
  * program call is Spark's. Runs only on traced runs. */
final class StackSampler(driver: Thread, periodMs: Long) extends Thread("hrbench-sampler") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var active = false
  val counts = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private def charge(k: String): Unit =
    counts.computeIfAbsent(k, _ => new AtomicLong()).incrementAndGet()

  private val library = Seq("java.", "javax.", "jdk.", "sun.", "scala.")

  private def layerOf(stack: Array[StackTraceElement]): String =
    stack.iterator.map(_.getClassName)
      .find(c => !library.exists(c.startsWith))
      .collect { case c if c.startsWith("graft.") =>
        val rest = c.stripPrefix("graft.")
        val dot = rest.indexOf('.')
        if (dot < 0) "graft" else rest.substring(0, dot)
      }.getOrElse("spark")

  /** Live threads, without their stacks (taking every stack at once would
    * stop the whole JVM at a safepoint on each sample). */
  private def threads(): Array[Thread] = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val buf = new Array[Thread](g.activeCount * 2 + 16)
    buf.take(g.enumerate(buf, true))
  }

  override def run(): Unit =
    while (running) {
      if (active) {
        charge(s"driver.${layerOf(driver.getStackTrace)}")
        threads().foreach { t =>
          if (t.getName.startsWith("Executor task launch worker") &&
              t.getState == Thread.State.RUNNABLE) {
            val st = t.getStackTrace
            if (st.nonEmpty) charge(s"task.${layerOf(st)}")
          }
        }
      }
      Thread.sleep(periodMs)
    }

  def shutdown(): Unit = { running = false; join() }

  def snapshotMs: Map[String, Long] =
    counts.asScala.map { case (k, v) => k -> v.get * periodMs }.toMap
}
