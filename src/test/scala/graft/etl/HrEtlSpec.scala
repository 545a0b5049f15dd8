package graft.etl

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, count, countDistinct,
  lit, sum, when}
import graft.SparkTestBase

/** Mirrors the reference's own unit tests (reference test_etl.py:6-67) on
  * the FIXTURES.md §A.2/§A.3 inline fixture, plus the edge rows its tests
  * missed (null status, ghost department, keyed dedup, self-review).
  */
class HrEtlSpec extends SparkTestBase {
  import spark.implicits._

  val asOf: Date = Date.valueOf("2026-01-01")

  def d(s: String): Date = Date.valueOf(s)

  lazy val employees: DataFrame = Seq(
    (1L, "Alice", Option(101L), 40000.0, d("2020-01-01"), None: Option[Long], "Y", "active"),
    (2L, "Bob", Option(101L), 70000.0, d("2021-01-01"), Option(1L), "N", "inactive"),
    (3L, "Charlie", Option(102L), 100000.0, d("2019-01-01"), Option(1L), "Y", "active"),
    // edge rows (FIXTURES.md §A.3)
    (4L, "Dana", Option(101L), 0.0, d("2022-01-01"), Option(1L), "N", "active"),     // zero salary -> dropped
    (5L, "Eve", None, 50000.0, d("2018-06-15"), Option(1L), "X", "active"),          // ghost dept, bad bonus flag
    (6L, "Frank", Option(102L), 80000.0, d("2023-03-01"), Option(1L), "Y", null)     // null status -> KEPT (pandas !=)
  ).toDF("employee_id", "name", "department_id", "salary", "hire_date",
    "manager_id", "bonus_eligible", "status")

  lazy val departments: DataFrame = Seq(
    (101L, "hr", "NYC", 100000.0, Option(1L)),
    (102L, "tech", "SF", 200000.0, Option(3L)),
    (105L, "operations", "LA", 50000.0, None: Option[Long])                          // 0 employees -> null-fill path
  ).toDF("department_id", "name", "location", "budget", "manager_id")

  lazy val reviews: DataFrame = Seq(
    (1L, 1L, d("2025-01-01"), 4.6, Option(3L)),
    (2L, 1L, d("2025-06-01"), 3.6, Option(3L)),
    (3L, 3L, d("2025-01-01"), 3.0, Option(3L)),   // self-review
    (4L, 3L, d("2025-01-01"), 2.0, Option(1L)),   // duplicate (emp, date) -> dropped (keep review_id 3)
    (5L, 5L, d("2025-01-01"), 9.9, Option(1L)),   // out-of-range -> dropped
    (6L, 5L, d("2025-02-01"), 2.5, Option(1L)),
    (7L, 5L, d("2025-01-01"), 3.3, Option(1L))    // dup of review 5: dedup keeps 5, THEN range filter kills the group
  ).toDF("review_id", "employee_id", "review_date", "rating", "reviewer_id")

  lazy val projects: DataFrame = Seq(
    (1L, "Apollo", 101L, d("2025-01-01"), Option(d("2025-12-31")), Option(36500.0), "completed"),
    (2L, "Borealis", 102L, d("2025-06-01"), None: Option[Date], Option(73000.0), "in_progress"), // open-ended -> active
    (3L, "Ceres", 102L, d("2025-01-01"), Option(d("2024-01-01")), Option(1000.0), "completed"),  // end<start -> dropped
    (4L, "Draco", 101L, d("2025-01-01"), Option(d("2026-06-30")), None: Option[Double], "in_progress") // null budget -> dropped
  ).toDF("project_id", "project_name", "department_id", "start_date",
    "end_date", "budget", "status")

  lazy val assignments: DataFrame = Seq(
    (1L, 1L, 1L, "dev", 60.0, d("2025-01-01"), Option(d("2025-12-31"))),
    (2L, 3L, 2L, "lead", 80.0, d("2025-06-01"), None: Option[Date]),
    (3L, 3L, 1L, "dev", 120.0, d("2025-01-01"), None: Option[Date])   // >100 -> dropped
  ).toDF("assignment_id", "employee_id", "project_id", "role",
    "allocation_percentage", "start_date", "end_date")

  lazy val out: HrPipeline.Outputs = HrPipeline.build(
    spark, employees, departments, reviews, projects, assignments, asOf)

  test("cleaning drops inactive and zero-salary but keeps null status (F1/F2)") {
    val names = out.dimEmployees.select("name").as[String].collect().toSet
    assert(names === Set("Alice", "Charlie", "Eve", "Frank"))
  }

  test("salary buckets hit the reference's boundaries (E5)") {
    val buckets = out.dimEmployees
      .select($"name", $"salary_bucket").as[(String, String)].collect().toMap
    assert(buckets("Alice") === "Low")      // 40000 < 50000
    assert(buckets("Eve") === "Medium")     // 50000 <= 80000 (boundary: not Low)
    assert(buckets("Frank") === "Medium")   // 80000 is still Medium (<=)
    assert(buckets("Charlie") === "High")
  }

  test("ghost department becomes sentinel -1 and 'Unknown' name (E1/E11)") {
    val eve = out.summaryEmpPerformance.filter($"name" === "Eve").collect()(0)
    assert(eve.getAs[Long]("department_id") === -1L)
    assert(eve.getAs[String]("department_name") === "Unknown")
  }

  test("bonus flag maps Y/N to 1/0 and unknown to null (E3)") {
    val flags = out.dimEmployees.select($"name", $"bonus_eligible")
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(flags("Alice") === Some(1))
    assert(flags("Eve") === None)
  }

  test("keyed dedup keeps first by review_id within (employee, date) (D2)") {
    val kept = out.factReviews.filter($"employee_id" === 3L)
      .select("review_id").as[Long].collect().toSet
    assert(kept === Set(3L))
  }

  test("dedup happens BEFORE the range filter (reference transform.py:38-42)") {
    // review 5 (9.9, first by id) wins the dedup over review 7 (3.3),
    // then the range filter removes it — the whole (emp 5, Jan 1) group
    // must vanish, not fall back to review 7.
    val kept = out.factReviews.filter($"employee_id" === 5L)
      .select("review_id").as[Long].collect().toSet
    assert(kept === Set(6L))
  }

  test("null status counts as an enum violation, pandas ~isin semantics") {
    val enumCheck = out.dqChecks.filter($"table_name" === "employees" &&
      $"detail" === "status_enum").collect()(0)
    assert(enumCheck.getAs[Long]("violations") === 1L)   // Frank's null status
  }

  test("avg_salary stays null for employee-less departments (no 0.0 fill)") {
    val ops = out.summaryDeptMetrics
      .filter($"department_name" === "Operations").collect()(0)
    assert(ops.isNullAt(ops.fieldIndex("avg_salary")))
  }

  test("self-review flag with null-to-false semantics (E6)") {
    val m = out.factReviews.select($"review_id", $"is_self_review")
      .as[(Long, Boolean)].collect().toMap
    assert(m(3L) === true)
    assert(m(1L) === false)
  }

  test("dept summary: counts, averages, empty-side null-fill (A1/A2/J1/J2/E12)") {
    val rows = out.summaryDeptMetrics.collect()
      .map(r => r.getAs[String]("department_name") -> r).toMap
    val hr = rows("Hr")
    assert(hr.getAs[Long]("total_employees") === 1L)        // only Alice survives
    assert(hr.getAs[Double]("avg_salary") === 40000.0)
    assert(hr.getAs[Long]("active_projects") === 0L)        // Apollo ended before asOf
    assert(hr.getAs[Double]("total_budget") === 0.0)
    val tech = rows("Tech")
    assert(tech.getAs[Long]("active_projects") === 1L)      // open-ended Borealis
    assert(tech.getAs[Double]("total_budget") === 73000.0)
    val ops = rows("Operations")
    assert(ops.getAs[Long]("total_employees") === 0L)       // left-join null-fill
  }

  test("dept summary with an EMPTY projects side (reference test_etl.py:56-67)") {
    val emptyProjects = projects.filter(col("project_id") < 0)
    val summary = HrAggregates.deptSummary(
      HrTransform.normalizeDepartments(departments),
      HrTransform.cleanEmployees(employees, asOf),
      HrTransform.cleanProjects(emptyProjects, asOf), asOf)
    val hr = summary.filter($"department_name" === "Hr").collect()(0)
    assert(hr.getAs[Long]("total_employees") === 1L)
    assert(hr.getAs[Double]("avg_salary") === 40000.0)
    assert(hr.getAs[Long]("active_projects") === 0L)
    assert(hr.getAs[Double]("total_budget") === 0.0)
  }

  test("emp performance: avg/latest rating via max_by (A3)") {
    val alice = out.summaryEmpPerformance.filter($"name" === "Alice").collect()(0)
    assert(alice.getAs[Double]("avg_rating") === 4.1)       // bround((4.6+3.6)/2, 2)
    assert(alice.getAs[Double]("latest_rating") === 3.6)    // later review_date wins
    assert(alice.getAs[Long]("review_count") === 2L)
  }

  test("project workload: countDistinct + null-fill (A4/J5)") {
    val rows = out.projectWorkload.collect()
      .map(r => r.getAs[Long]("project_id") -> r).toMap
    assert(rows(1L).getAs[Long]("total_team_size") === 1L)  // 120% row dropped
    assert(rows(2L).getAs[Long]("total_team_size") === 1L)
  }

  // The reference's one-action-per-check DQ API (validation.py:7-57),
  // the reference "single-pass DQ…" compares the build's check rows to.

  /** One check result: (table_name, check_name, detail, violations). */
  private def result(table: String, check: String, detail: String,
                     violations: Long): DataFrame =
    Seq((table, check, detail, violations))
      .toDF("table_name", "check_name", "detail", "violations")

  /** reference validation.py:7-26 (check_completeness): null PK, duplicate
    * PK, per-required-column nulls, missing columns. */
  private def checkCompleteness(df: DataFrame, table: String, pk: String,
                                required: Seq[String]): DataFrame = {
    val missing = (pk +: required).filterNot(df.columns.contains)
    val missingDf = missing.map(c => result(table, "missing_column", c, 1L))
    if (!df.columns.contains(pk))
      return missingDf.reduce(_ union _)
    val presentReq = required.filter(df.columns.contains)
    val aggs =
      sum(when(col(pk).isNull, 1L).otherwise(0L)).as("null_pk") +:
        (count(col(pk)) - countDistinct(col(pk))).as("dup_pk") +:
        presentReq.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val checks =
      result(table, "null_pk", pk, row.getAs[Long]("null_pk")) +:
        result(table, "duplicate_pk", pk, row.getAs[Long]("dup_pk")) +:
        presentReq.map(c =>
          result(table, "null_required", c, row.getAs[Long](s"null_$c")))
    (checks ++ missingDf).reduce(_ union _)
  }

  /** reference validation.py:28-45 (check_consistency): FK values (minus
    * the -1 sentinel) not present in the parent — a distributed anti-join,
    * never a collected key set. */
  private def checkConsistency(child: DataFrame, childFk: String,
                               parent: DataFrame, parentPk: String,
                               childTable: String): DataFrame = {
    val bad =
      if (!child.columns.contains(childFk) || !parent.columns.contains(parentPk)) 0L
      else child
        .filter(col(childFk).isNotNull && col(childFk) =!= -1)
        .select(col(childFk).as("__fk")).distinct()
        .join(parent.select(col(parentPk).as("__pk")),
          col("__fk") === col("__pk"), "left_anti")
        .count()
    result(childTable, "fk_consistency", s"$childFk->$parentPk", bad)
  }

  /** reference validation.py:47-57 (check_accuracy): violations are rows
    * where `~condition` holds; pandas boolean masks coerce NaN comparisons
    * to False, so a null-valued condition IS a violation here — matching
    * `df[~condition]` exactly. Call sites that need pandas' positive-mask
    * semantics instead (nulls NOT violations, reference validation.py:85-87)
    * pre-coalesce their condition. */
  private def checkAccuracy(df: DataFrame, table: String,
                            validCond: org.apache.spark.sql.Column,
                            label: String): DataFrame = {
    val bad = df.filter(!coalesce(validCond, lit(false))).count()
    result(table, "accuracy", label, bad)
  }

  test("validation: completeness flags a null name (reference test_etl.py:43-54)") {
    val withNull = employees.withColumn("name",
      org.apache.spark.sql.functions.when($"employee_id" === 1L, null)
        .otherwise($"name"))
    val checks = checkCompleteness(withNull, "employees",
      "employee_id", Seq("name", "salary", "hire_date"))
    val nullName = checks.filter($"check_name" === "null_required" &&
      $"detail" === "name").collect()(0)
    assert(nullName.getAs[Long]("violations") === 1L)
  }

  test("validation: FK anti-join catches unknown employee (J6)") {
    val badReviews = Seq((7L, 999L, d("2025-01-01"), 3.0, Option(1L)))
      .toDF("review_id", "employee_id", "review_date", "rating", "reviewer_id")
    val check = checkConsistency(badReviews, "employee_id",
      out.dimEmployees, "employee_id", "performance_reviews")
    assert(check.collect()(0).getAs[Long]("violations") === 1L)
  }

  test("dq stats aggregate (main.py:135-140)") {
    val stats = HrValidate.dqStats(out.dqChecks).collect()(0)
    assert(stats.getAs[Long]("total_checks") > 0L)
    assert(stats.getAs[Long]("passed") + stats.getAs[Long]("failed")
      === stats.getAs[Long]("total_checks"))
  }

  test("report insights (T2-T5/A5)") {
    val report = HrReport.summaryReport(spark, out.summaryDeptMetrics,
      out.summaryEmpPerformance, out.projectWorkload)
    assert(report.contains("Tech"))          // highest avg salary = Charlie's dept
    assert(report.contains("Alice"))         // top rated
  }

  test("single-pass DQ: identical check rows, one action per validated table") {
    val cleanProjects = HrTransform.cleanProjects(projects, asOf)
    def rows(df: DataFrame) = df.collect().toSeq.map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    // the reference's one-action-per-check suite (validation.py:63-135),
    // composed from the per-check API above, in the reference's order
    val emp = out.dimEmployees
    val perCheck = Seq(
      checkCompleteness(emp, "employees", "employee_id",
        Seq("name", "salary", "hire_date")),
      checkConsistency(emp, "department_id", out.dimDepartments,
        "department_id", "employees"),
      checkAccuracy(emp, "employees",
        col("status").isin("active", "inactive", "terminated", "leave"),
        "status_enum"),
      checkAccuracy(emp, "employees",
        !coalesce(col("status") === "active" && col("salary") <= 0, lit(false)),
        "active_salary_positive"),
      checkCompleteness(out.factReviews, "performance_reviews",
        "review_id", Seq("employee_id", "rating", "review_date")),
      checkConsistency(out.factReviews, "employee_id", emp,
        "employee_id", "performance_reviews"),
      checkAccuracy(out.factReviews, "performance_reviews",
        col("rating").between(1.0, 5.0), "rating_range"),
      checkConsistency(out.factAssignments, "project_id",
        cleanProjects, "project_id", "project_assignments"),
      checkConsistency(out.factAssignments, "employee_id", emp,
        "employee_id", "project_assignments"),
      checkAccuracy(out.factAssignments, "project_assignments",
        col("allocation_percentage").between(0, 100), "allocation_range"),
      checkCompleteness(cleanProjects, "projects", "project_id",
        Seq("project_name", "start_date")),
      checkAccuracy(cleanProjects, "projects",
        col("budget").isNull || col("budget") > 0, "budget_null_or_positive")
    ).reduce(_ union _)
    // build's check rows equal the per-check suite's, row for row
    assert(rows(out.dqChecks) === rows(perCheck))

    val actions = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { actions.incrementAndGet(); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val sp = HrValidate.validateAllSinglePass(spark, out.dimEmployees,
      out.dimDepartments, out.factReviews, cleanProjects, out.factAssignments)
    // the 4 aggregations are synchronous; listener events are async — poll,
    // then grace-sleep so a hypothetical 5th event would still be counted
    val deadline = System.currentTimeMillis() + 10000
    while (actions.get < 4 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    Thread.sleep(250)
    spark.listenerManager.unregister(l)
    assert(actions.get === 4)
    assert(rows(sp) === rows(perCheck))
  }

  test("build materializes every output: no plan reads the inputs again") {
    def read(t: String) = HrPipeline.readCsv(spark, rawCsvDir, t)
    val built = HrPipeline.build(spark, read("employees"),
      read("departments"), read("performance_reviews"), read("projects"),
      read("project_assignments"), asOf)
    val tables = Seq(built.dimDepartments, built.dimEmployees,
      built.factReviews, built.factAssignments, built.summaryDeptMetrics,
      built.summaryEmpPerformance, built.projectWorkload)
    object Plans extends org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper
    tables.foreach { df =>
      val leaves = Plans.collectLeaves(df.queryExecution.executedPlan)
      assert(leaves.nonEmpty && leaves.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec]),
        s"an output still scans its lineage:\n${df.queryExecution.executedPlan}")
    }
    // the check rows are literal values, computed during build
    assert(Plans.collectLeaves(built.dqChecks.queryExecution.executedPlan)
      .forall(_.isInstanceOf[
        org.apache.spark.sql.execution.LocalTableScanExec]))
  }

  /** The three fixture tables written as raw CSVs for the CLI entries. */
  lazy val rawCsvDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("hr_entry_raw").toString
    Seq("employees" -> employees, "departments" -> departments,
      "performance_reviews" -> reviews, "projects" -> projects,
      "project_assignments" -> assignments).foreach { case (name, df) =>
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("header", "true").option("dateFormat", "yyyy-MM-dd")
        .csv(s"$dir/$name.csv")
    }
    dir
  }

  test("entry point 2: transform + validate with previews (transform.py main)") {
    val preview = HrTransformDemo.run(spark, rawCsvDir, asOf)
    assert(preview.contains("validation:"))
    assert(preview.contains("[dept_summary] 3 rows"))
    assert(preview.contains("[emp_performance]"))
    assert(preview.contains("[project_workload]"))
    // Frank's null status is a known violation in this fixture
    assert(preview.contains("employees.accuracy(status_enum): 1 violations"))
  }

  test("entry point 3: transform + load without report (load.py main)") {
    val outDir = java.nio.file.Files.createTempDirectory("hr_entry_out").toString
    val dbDir = java.nio.file.Files.createTempDirectory("hr_entry_db").toString
    val url = s"jdbc:derby:$dbDir/hr;create=true"
    HrLoadDemo.run(spark, rawCsvDir, outDir, asOf, Some(url))

    // processed zone holds the six aligned tables
    val dim = spark.read.option("header", "true")
      .csv(s"$outDir/processed/dim_employees")
    assert(dim.count() === 4)   // Alice, Charlie, Eve, Frank survive cleaning
    // the JDBC load shipped the same rows
    val loaded = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "dim_employees").load()
    assert(loaded.count() === 4)
    // and the reference's FK indexes exist on the sink (S7);
    // createIndexes is idempotent — a second run must not throw
    HrPipeline.createIndexes(url)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      // Spark passes the table name through unquoted -> Derby uppercases
      val rs = conn.getMetaData.getIndexInfo(null, null, "DIM_EMPLOYEES",
        false, false)
      var idx = Set.empty[String]
      while (rs.next()) Option(rs.getString("INDEX_NAME")).foreach(idx += _)
      assert(idx.exists(_.toUpperCase.contains("DEPARTMENT_ID")),
        s"no department_id index among $idx")
    } finally conn.close()
  }
}
