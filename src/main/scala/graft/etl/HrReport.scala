package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's "business insights" report queries (reference
  * reporting.py:83-110) — top-k selections over the summary marts, plus
  * report assembly. Each insight is a limit-k over an ordered aggregate;
  * at scale this is a TakeOrderedAndProject, not a full sort.
  */
object HrReport {

  /** T2: top department by average salary (reporting.py:85-87). */
  def highestAvgSalaryDept(deptSummary: DataFrame): DataFrame =
    deptSummary
      .orderBy(col("avg_salary").desc_nulls_last, col("department_id"))
      .select(col("department_name"), col("avg_salary"))
      .limit(1)

  /** T3: top-5 employees by average rating, names joined (reporting.py:90-93). */
  def topRatedEmployees(empPerformance: DataFrame, k: Int = 5): DataFrame =
    empPerformance
      .filter(col("avg_rating").isNotNull)
      .orderBy(col("avg_rating").desc_nulls_last, col("employee_id"))
      .select(col("name"), col("avg_rating"))
      .limit(k)

  /** T4: department with most active projects (reporting.py:96-98). */
  def mostActiveProjectsDept(deptSummary: DataFrame): DataFrame =
    deptSummary
      .orderBy(col("active_projects").desc_nulls_last, col("department_id"))
      .select(col("department_name"), col("active_projects"))
      .limit(1)

  /** T5: longest-tenured employee (reporting.py:101-103). */
  def longestTenure(empPerformance: DataFrame): DataFrame =
    empPerformance
      .orderBy(col("tenure_years").desc_nulls_last, col("employee_id"))
      .select(col("name"), col("tenure_years"))
      .limit(1)

  /** A5: global average project duration (reporting.py:108-110). */
  def avgProjectDuration(projectWorkload: DataFrame): DataFrame =
    projectWorkload.agg(
      bround(avg(col("project_duration_days")), 1).as("avg_project_duration_days"))

  /** Assemble the text report (reporting.py:5-123) from the marts. The
    * insight queries each collect at most k rows, all five concurrently
    * through [[graft.InParallel.map]]. */
  def summaryReport(spark: SparkSession, deptSummary: DataFrame,
                    empPerformance: DataFrame,
                    projectWorkload: DataFrame): String = {
    // the five insights read independent stored marts: one concurrent
    // round of collects, results in input order
    val Seq(salary, rated, active, tenure, duration) = graft.InParallel.map(
      Seq(highestAvgSalaryDept(deptSummary), topRatedEmployees(empPerformance),
        mostActiveProjectsDept(deptSummary), longestTenure(empPerformance),
        avgProjectDuration(projectWorkload)))(_.collect())
    val topSalary = salary.headOption
      .map(r => f"${r.getString(0)} ($$${r.getDouble(1)}%,.2f)").getOrElse("n/a")
    val topRated = rated
      .map(r => s"${r.getString(0)} (${r.getDouble(1)})").mkString(", ")
    val mostActive = active.headOption
      .map(r => s"${r.getString(0)} (${r.getLong(1)} active)").getOrElse("n/a")
    val longest = tenure.headOption
      .map(r => s"${r.getString(0)} (${r.getDouble(1)} years)").getOrElse("n/a")
    val avgDur = duration.headOption
      .map(r => s"${r.getDouble(0)} days").getOrElse("n/a")
    s"""HR ANALYTICS SUMMARY
       |====================
       |Highest avg salary dept : $topSalary
       |Top rated employees     : $topRated
       |Most active projects    : $mostActive
       |Longest tenure          : $longest
       |Avg project duration    : $avgDur
       |""".stripMargin
  }
}
