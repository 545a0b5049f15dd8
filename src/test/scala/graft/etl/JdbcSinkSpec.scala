package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** Drives the JDBC truncate-then-insert sink against embedded Derby (the
  * only database available offline): a rewrite must replace, not append —
  * the reference's idempotent-load property (load.py:29-47). */
class JdbcSinkSpec extends SparkTestBase {
  import spark.implicits._

  test("jdbc sink writes, truncate-rewrites idempotently, and reads back") {
    val dbDir = Files.createTempDirectory("derby").toString
    val url = s"jdbc:derby:$dbDir/hrdb;create=true"
    val sample = Tables.table(spark, sf0001, "customer")
      .select($"c_custkey", $"c_name", $"c_acctbal")

    HrPipeline.writeJdbcTable(sample, "customer_mirror", url)
    val first = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "customer_mirror").load()
    assert(first.count() === sample.count())

    // rewrite: truncate + insert, NOT append — count must not double
    HrPipeline.writeJdbcTable(sample, "customer_mirror", url)
    val second = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "customer_mirror").load()
    assert(second.count() === sample.count())
    assert(second.agg(sum($"c_acctbal")).collect()(0).getDouble(0)
      === sample.agg(sum($"c_acctbal")).collect()(0).getDouble(0))
  }

  test("the star-schema load fans its six truncate-loads out concurrently " +
      "and stays idempotent") {
    val dbDir = Files.createTempDirectory("derby_star").toString
    val url = s"jdbc:derby:$dbDir/hrdb;create=true"
    def t(name: String, cols: String*) =
      Tables.table(spark, sf0001, name).select(cols.map(col): _*)
    val out = HrPipeline.Outputs(
      dimDepartments = t("region", "r_regionkey", "r_name"),
      dimEmployees = t("nation", "n_nationkey", "n_name"),
      factReviews = t("customer", "c_custkey", "c_acctbal"),
      factAssignments = t("orders", "o_orderkey", "o_totalprice"),
      summaryDeptMetrics = t("supplier", "s_suppkey", "s_acctbal"),
      summaryEmpPerformance = t("part", "p_partkey", "p_retailprice"),
      projectWorkload = t("region", "r_regionkey"),
      dqChecks = t("region", "r_regionkey"))
    val tables = Seq("dim_departments" -> out.dimDepartments,
      "dim_employees" -> out.dimEmployees,
      "fact_performance_reviews" -> out.factReviews,
      "fact_project_assignments" -> out.factAssignments,
      "summary_dept_metrics" -> out.summaryDeptMetrics,
      "summary_emp_performance" -> out.summaryEmpPerformance)
    val want = tables.map { case (n, df) => n -> df.count() }.toMap
    def loaded() = tables.map { case (n, _) =>
      n -> spark.read.format("jdbc").option("url", url)
        .option("dbtable", n).load().count() }.toMap
    // first run creates the six tables, the second truncates and
    // re-inserts them — both through the one concurrent loop
    HrPipeline.writeJdbc(out, url, "app", "app", None)
    assert(loaded() === want)
    HrPipeline.writeJdbc(out, url, "app", "app", None)
    assert(loaded() === want)
  }
}

