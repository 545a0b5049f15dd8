package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Replicate an sf directory's tables K times for a scaling run —
  * `Test/runMain graft.tools.Replicate <sfDir> <K> <outDir>`. Fact
  * tables' long key columns shift by `i * 1e8` in replica `i`;
  * dimension tables (nation, region) are written once, unreplicated;
  * document texts are copied verbatim, so every text gains K exact
  * copies (adversarial for the dedup candidate paths). An `outDir`
  * whose every table already has `_SUCCESS` is left as it is.
  *
  * Bench then times the queries over the replica:
  * `SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_BENCH_OUT=<outDir>.json
  * tools/bench.sh q_a q_b`. */
object Replicate {

  private val Offset = 100000000L // key offset per replica

  /** Tables whose long key columns shift per replica; dims stay fixed. */
  val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "nation" -> Seq(),
    "region" -> Seq())

  private def replicate(df: DataFrame, cols: Seq[String], k: Int): DataFrame =
    if (cols.isEmpty) df // dimension: stays fixed, never duplicated
    else (0 until k).map { i =>
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * Offset)))
    }.reduce(_ unionAll _)

  /** Write every table of `sfDir` replicated `k` times under `outDir`,
    * unless `outDir` is already complete. */
  def run(spark: SparkSession, sfDir: String, k: Int, outDir: String): Unit = {
    val complete = keyCols.keys.forall(t =>
      new java.io.File(s"$outDir/$t.parquet/_SUCCESS").exists())
    if (!complete) keyCols.foreach { case (t, cols) =>
      replicate(Tables.table(spark, sfDir, t), cols, k)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Replicate <sfDir> <K> <outDir>")
    val spark = SparkSession.builder()
      .master("local[*]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args(0), args(1).toInt, args(2))
    spark.stop()
  }
}
