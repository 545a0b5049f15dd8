package graft.tools

import org.apache.spark.sql.SparkSession

/** Write the `.explain("formatted")` output of queries to
  * `$SPARK_GRAFT_PLANS_DIR/<query>_<suffix>.txt` (default
  * `target/plans`) —
  * `Test/runMain graft.tools.PlanSnap <suffix> <q1> [q2 ...]`.
  * Bench-identical session confs (32 cpus unless SPARK_GRAFT_CPUS);
  * the plan is the AQE-finalized executed plan after running the
  * query once, matching what the bench actually executes.
  *
  * The dump is normalised so that two checkouts' dumps diff directly:
  * expression ids (`#12`), exchange plan ids (`plan_id=7`), RDD ids
  * and call-site lines of checkpointed scans (`RDD[179] at
  * localCheckpoint at X.scala:352`) and the per-JVM identities of
  * lambdas and objects (`$$Lambda/0x…@1a2b`) are stripped — session
  * counters and source positions, none a property of the plan. */
object PlanSnap {

  def normalise(plan: String): String =
    plan
      .replaceAll("#\\d+", "")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("(\\.scala):\\d+", "$1")
      .replaceAll("\\$\\$Lambda[$/\\w]*", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{4,}\\b", "@")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanSnap <suffix> <query>...")
    val suffix = args.head
    val names = args.tail.toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "target/plans")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.allQueries(name)(spark, dir)
      df.foreach((_: org.apache.spark.sql.Row) => ()) // finalize AQE
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        normalise(formatted).getBytes("UTF-8"))
      println(s"[plansnap] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
