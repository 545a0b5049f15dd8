package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's data-quality suite (reference validation.py) as
  * DataFrame queries returning violation counts — one row per check —
  * instead of side-effecting issue strings, so checks compose and stay
  * distributed (each is a single aggregation or anti-join; no collect of
  * data rows).
  */
object HrValidate {

  /** Check rows: (table, check, detail, violations). */
  private type Check = (String, String, String, Long)

  /** Check rows as one local relation. */
  private def checkRows(spark: SparkSession, rows: Seq[Check]): DataFrame = {
    import spark.implicits._
    rows.toDF("table_name", "check_name", "detail", "violations")
  }

  /** One table's whole check set in ONE action. The reference runs one
    * action per check (validation.py:7-57: check_completeness,
    * check_consistency, check_accuracy); this folds every completeness
    * and accuracy aggregate into a single `agg`, and each FK check in as
    * a left join against the parent's DISTINCT keys (distinct, so child
    * rows never multiply; violations = countDistinct of unmatched keys,
    * exactly the anti-join count). Emits the same (table, check, detail,
    * violations) rows as the per-check suite, in the same order, as
    * plain values — HrEtlSpec "single-pass DQ…" keeps that suite as its
    * reference and pins the equality.
    *
    * @param pk       None = no completeness block (e.g. assignments)
    * @param fks      (childFk, parentTable, parentPk) triples
    * @param accuracy (validCond, label) pairs — violations are rows
    *                 where `~condition` holds, as in pandas' boolean
    *                 masks, so a null-valued condition IS a violation
    */
  private def singlePassChecks(df: DataFrame, table: String,
                               pk: Option[String], required: Seq[String],
                               fks: Seq[(String, DataFrame, String)],
                               accuracy: Seq[(org.apache.spark.sql.Column,
                                 String)]): Seq[Check] = {
    val pkPresent = pk.filter(df.columns.contains)
    val missing = (pk.toSeq ++ required).filterNot(df.columns.contains)
    val presentReq = required.filter(df.columns.contains)
    val validFks = fks.zipWithIndex.filter { case ((fk, parent, ppk), _) =>
      df.columns.contains(fk) && parent.columns.contains(ppk) }
    val joined = validFks.foldLeft(df) { case (d, ((fk, parent, ppk), i)) =>
      d.join(parent.select(col(ppk).as(s"__pk_$i")).distinct(),
        col(fk) === col(s"__pk_$i"), "left")
    }
    val aggs: Seq[org.apache.spark.sql.Column] =
      pkPresent.toSeq.flatMap(p => Seq(
        sum(when(col(p).isNull, 1L).otherwise(0L)).as("null_pk"),
        (count(col(p)) - countDistinct(col(p))).as("dup_pk")) ++
        presentReq.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"))) ++
      validFks.map { case ((fk, _, _), i) =>
        countDistinct(when(col(fk).isNotNull && col(fk) =!= -1
          && col(s"__pk_$i").isNull, col(fk))).as(s"fk_$i") } ++
      accuracy.zipWithIndex.map { case ((cond, _), i) =>
        sum(when(!coalesce(cond, lit(false)), 1L).otherwise(0L)).as(s"acc_$i") }
    val row =
      if (aggs.isEmpty) null
      else joined.agg(aggs.head, aggs.tail: _*).collect()(0)
    val completeness = (pkPresent match {
      case Some(p) =>
        (table, "null_pk", p, row.getAs[Long]("null_pk")) +:
          (table, "duplicate_pk", p, row.getAs[Long]("dup_pk")) +:
          presentReq.map(c =>
            (table, "null_required", c, row.getAs[Long](s"null_$c")))
      case None => Nil
    }) ++ missing.map(c => (table, "missing_column", c, 1L))
    val fkRows = fks.zipWithIndex.map { case ((fk, _, ppk), i) =>
      val v = if (validFks.exists(_._2 == i)) row.getAs[Long](s"fk_$i") else 0L
      (table, "fk_consistency", s"$fk->$ppk", v) }
    val accRows = accuracy.zipWithIndex.map { case ((_, label), i) =>
      (table, "accuracy", label, row.getAs[Long](s"acc_$i")) }
    completeness ++ fkRows ++ accRows
  }

  /** The whole build-time DQ suite (reference validation.py:63-135:
    * validate_employees, _reviews, _assignments, _projects) in four
    * actions total — one per validated table, run concurrently — with
    * check rows in the reference's table and check order, returned as
    * one local relation (reading them runs no job). */
  def validateAllSinglePass(spark: SparkSession, employees: DataFrame,
                            departments: DataFrame, reviews: DataFrame,
                            projects: DataFrame, assignments: DataFrame)
      : DataFrame = checkRows(spark,
    graft.InParallel.map(Seq[() => Seq[Check]](
      // pandas `~status.isin(...)` counts a NaN status as invalid
      // (validation.py:74-78) — so no isNull escape on status_enum;
      // active_salary_positive is a positive-mask check
      // (validation.py:85-87): `(status=='active') & (salary<=0)` is
      // False for NaN in pandas, so nulls are NOT violations — the
      // bad-mask is coalesced before negating
      () => singlePassChecks(employees, "employees",
        Some("employee_id"), Seq("name", "salary", "hire_date"),
        Seq(("department_id", departments, "department_id")),
        Seq(
          (col("status").isin("active", "inactive", "terminated", "leave"),
            "status_enum"),
          (!coalesce(col("status") === "active" && col("salary") <= 0,
            lit(false)), "active_salary_positive"))),
      () => singlePassChecks(reviews, "performance_reviews",
        Some("review_id"), Seq("employee_id", "rating", "review_date"),
        Seq(("employee_id", employees, "employee_id")),
        Seq((col("rating").between(1.0, 5.0), "rating_range"))),
      () => singlePassChecks(assignments, "project_assignments",
        None, Nil,
        Seq(("project_id", projects, "project_id"),
          ("employee_id", employees, "employee_id")),
        Seq((col("allocation_percentage").between(0, 100),
          "allocation_range"))),
      () => singlePassChecks(projects, "projects",
        Some("project_id"), Seq("project_name", "start_date"), Nil,
        Seq((col("budget").isNull || col("budget") > 0,
          "budget_null_or_positive")))
    ))(_()).flatten)

  /** reference main.py:135-140: aggregate pass/fail stats over a unioned
    * check DataFrame. */
  def dqStats(checks: DataFrame): DataFrame =
    checks.agg(
      count(lit(1)).as("total_checks"),
      sum(when(col("violations") === 0, 1L).otherwise(0L)).as("passed"),
      sum(when(col("violations") > 0, 1L).otherwise(0L)).as("failed"))
}
