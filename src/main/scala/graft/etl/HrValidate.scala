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

  /** One check result. */
  private def result(spark: SparkSession, table: String, check: String,
                     detail: String, violations: Long): DataFrame =
    checkRows(spark, Seq((table, check, detail, violations)))

  /** reference validation.py:7-26 (check_completeness): null PK, duplicate
    * PK, per-required-column nulls, missing columns. */
  def checkCompleteness(spark: SparkSession, df: DataFrame, table: String,
                        pk: String, required: Seq[String]): DataFrame = {
    val missing = (pk +: required).filterNot(df.columns.contains)
    val missingDf = missing.map(c =>
      result(spark, table, "missing_column", c, 1L))
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
      result(spark, table, "null_pk", pk, row.getAs[Long]("null_pk")) +:
        result(spark, table, "duplicate_pk", pk, row.getAs[Long]("dup_pk")) +:
        presentReq.map(c =>
          result(spark, table, "null_required", c, row.getAs[Long](s"null_$c")))
    (checks ++ missingDf).reduce(_ union _)
  }

  /** reference validation.py:28-45 (check_consistency): FK values (minus
    * the -1 sentinel) not present in the parent — a distributed anti-join,
    * never a collected key set. */
  def checkConsistency(spark: SparkSession, child: DataFrame, childFk: String,
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
    result(spark, childTable, "fk_consistency", s"$childFk->$parentPk", bad)
  }

  /** reference validation.py:47-57 (check_accuracy): violations are rows
    * where `~condition` holds; pandas boolean masks coerce NaN comparisons
    * to False, so a null-valued condition IS a violation here — matching
    * `df[~condition]` exactly. Call sites that need pandas' positive-mask
    * semantics instead (nulls NOT violations, reference validation.py:85-87)
    * pre-coalesce their condition. */
  def checkAccuracy(spark: SparkSession, df: DataFrame, table: String,
                    validCond: org.apache.spark.sql.Column,
                    label: String): DataFrame = {
    val bad = df.filter(!coalesce(validCond, lit(false))).count()
    result(spark, table, "accuracy", label, bad)
  }

  /** One table's whole check set in ONE action: the per-check API above
    * mirrors the reference's one-action-per-check shape; this folds every
    * completeness and accuracy aggregate into a single `agg`, and each FK
    * check in as a left join against the parent's DISTINCT keys
    * (distinct, so child rows never multiply; violations = countDistinct
    * of unmatched keys, exactly the anti-join count). Emits the same
    * (table, check, detail, violations) rows as [[checkCompleteness]],
    * [[checkConsistency]] and [[checkAccuracy]] called in turn, in the
    * same order (HrEtlSpec pins it), as plain values.
    *
    * @param pk       None = no completeness block (e.g. assignments)
    * @param fks      (childFk, parentTable, parentPk) triples
    * @param accuracy (validCond, label) pairs — checkAccuracy semantics
    *                 (a null-valued condition IS a violation)
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
