package hrbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload in this process and writes
  * every op's latency and observed answer to a JSON file. The runner
  * (`run.py`) generates the inputs before this JVM starts, checks the
  * answers against its own expected values and prints the metrics.
  *
  * Run layout: set-up (session creation plus one warm pass, timed from JVM
  * start), then timed passes until `seconds` have elapsed and `min-passes`
  * ran. With `--trace 1` the window is split into untraced, traced
  * (spans, listeners and the stack sampler on) and untraced passes, so the
  * tracing overhead is measured in the same process.
  *
  * Usage: hrbench.Main --workload <hr_etl|store_queries>
  *   --input <dir> --work <dir> --out <file> --seconds <s> --trace <0|1>
  *   [--min-passes <n>] [--queries q1,q2,...]
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val minPasses = args.getOrElse("min-passes", "1").toInt
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val passes = ArrayBuffer[Map[String, Any]]()
    val off = new Tracer(false)
    val spark = Session.create(cores, args("work"))
    val wl = Workload(args("workload"), spark, args("input"), args("work"),
      args)
    wl.prepare()
    passes += runPass(wl, off, "warm")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    /** Timed passes until `secs` have elapsed and `min` passes ran. */
    def window(secs: Double, tr: Tracer, phase: String, min: Int): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < min || (System.nanoTime() - t0) / 1e9 < secs) {
        passes += runPass(wl, tr, phase)
        n += 1
      }
    }

    var traceOut: Map[String, Any] = Map.empty
    if (!trace) window(seconds, off, "timed", minPasses)
    else {
      // one more warm pass, then untraced, traced, traced, untraced: a
      // fresh JVM's second pass is still much slower than its later ones,
      // and the symmetric order cancels the remaining drift out of the
      // traced-minus-untraced overhead
      passes += runPass(wl, off, "warm")
      window(seconds / 4, off, "timed", 1)
      val tracer = new Tracer(true)
      val engine = new EngineListener
      val sampler = new StackSampler(Thread.currentThread(), 20L)
      engine.register(spark)
      sampler.start()
      sampler.active = true
      window(seconds / 2, tracer, "traced", 2)
      sampler.active = false
      org.apache.spark.BusDrain(spark.sparkContext)
      engine.unregister(spark)
      sampler.shutdown()
      window(seconds / 4, off, "timed", 1)
      traceOut = Map(
        "spans" -> tracer.spans.toArray.toSeq.map(_.asInstanceOf[Span].toMap),
        "jobs" -> engine.jobs.toArray.toSeq,
        "phases" -> engine.phases.toArray.toSeq,
        "task_ms" -> engine.taskMs.toArray.toSeq,
        "counters" -> engine.snapshot,
        "samples_ms" -> sampler.snapshotMs,
        "cores" -> cores)
    }
    Session.stop(spark)

    val result = Map(
      "workload" -> wl.name, "cores" -> cores, "setup_s" -> setupS,
      "passes" -> passes.toSeq,
      "trace" -> traceOut)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(args("out")), result)
  }

  /** One pass of the workload: its ops, then (outside the op timers) a full
    * GC so the pass's live heap can be read. */
  def runPass(wl: Workload, tr: Tracer, phase: String): Map[String, Any] = {
    val t0 = tr.nowUs
    val ops = tr.span(s"pass.${wl.name}", "bench")(wl.pass(tr))
    val t1 = tr.nowUs
    val extra = wl.afterPass()
    // twice, with a pause between: the second collection also reclaims the
    // blocks Spark's ContextCleaner releases once the first has run
    System.gc()
    Thread.sleep(200)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Map("phase" -> phase, "ops" -> ops, "start_us" -> t0, "end_us" -> t1,
      "heap_mb" -> heap / 1048576.0, "extra" -> extra)
  }
}

/** The session every workload runs in: the settings of `graft.Bench`
  * (local[nproc], shuffle partitions = nproc, GraftExtensions, codegen
  * cache size, maxPartitionBytes, nanosAsLong, UTC), with the warehouse
  * and Spark's local dir moved into the run's own work directory. */
object Session {
  def create(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("hrbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
