package graft.operators

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** Batch maintenance for the incremental-dedup history indexes — the
  * production op the r18 verdict named as the missing piece: every
  * ingest round ADMITS rows against a bucketed history
  * (q_dedup_incremental / q_semdedup_incremental / the media band
  * indexes, LayoutSpec's one-exchange pins), and those admitted rows
  * must re-enter the bucketed layout before the NEXT round — without
  * rewriting a 100 TB history nightly.
  *
  * The op is [[Upsert]]'s insert-only specialization, append-shaped:
  * the history indexes are INSERT-ONLY under keep-first semantics
  * (matched keys keep the target row — exactly Upsert's keep-target
  * arm — and only unmatched update rows insert), so the full-outer
  * join a general MERGE pays collapses to an anti-join of the
  * increment plus a bucket-aligned APPEND. Spark bucketed tables
  * accept same-spec appends as new per-bucket files: the table's
  * hash-distribution contract survives (reads stay exchange-free on
  * the bucket key; only the per-bucket SORT guarantee is file-local,
  * which none of the one-exchange pins rely on), and the write cost
  * is one shuffle OF THE INCREMENT into bucket files — never a
  * history rewrite. IndexCompactSpec re-pins the next increment's
  * one-exchange plan against the compacted table; its cost measured
  * flat across 64× history growth (SCALING.md, round 19).
  */
object IndexCompact {

  /** Merge `admits` into the bucketed history `table` under keep-first
    * semantics: rows whose `keys` already exist in the table are
    * dropped (first writer wins — re-admitting an already-indexed
    * fingerprint is a no-op, so the op is idempotent per round), the
    * rest append in the table's own bucket layout. Returns the number
    * of rows appended.
    *
    * The anti-join plans ONE exchange (the increment) against the
    * bucketed table — same shape as the admit query itself — and the
    * append shuffles only those survivors into bucket files. Column
    * order aligns to the table schema. */
  /** @param keys       the IDENTITY columns (keep-first grain) — the
    *                    anti-join keys
    * @param bucketCols  the table's physical bucket spec; must equal
    *                    what the table was written with (Spark verifies
    *                    the append) — defaults to `keys`, but a
    *                    composite-identity index bucketed on a prefix
    *                    (e.g. band rows keyed (band_idx, band_val,
    *                    hist_id) in a (band_idx, band_val)-bucketed
    *                    layout) passes its own spec */
  def compact(spark: SparkSession, table: String, admits: DataFrame,
              keys: Seq[String], buckets: Int = 8,
              bucketCols: Seq[String] = Nil): Long = {
    require(keys.nonEmpty, "compact needs at least one key column")
    val bcols = if (bucketCols.nonEmpty) bucketCols else keys
    // a PRIOR round's append must be visible to THIS round's anti-join
    // even when the session cached the table's file listing (a caller
    // compacting once per round otherwise reads a stale pre-append
    // listing)
    spark.catalog.refreshTable(table)
    val target = spark.table(table)
    val missing = target.columns.filterNot(admits.columns.contains)
    require(missing.isEmpty,
      s"admits frame lacks index columns: ${missing.mkString(", ")}")
    // the admitted count rides the write job as an observed metric
    // (r20): the old localCheckpoint + write + count shape paid two
    // extra Spark jobs per op (a blocking materialization, then a count over the
    // blocks) purely so the count would see exactly the written rows —
    // observe() reports exactly the rows that flowed into the write,
    // by construction, with zero extra passes (IndexCompactSpec pins
    // the value against a read-back count). The write's own
    // QueryExecution is captured so a missing metric can be told apart
    // from a plan AQE proved empty ([[observedRows]]).
    val name = s"index_compact_${java.util.UUID.randomUUID()}"
    val fresh = admits
      .select(target.columns.map(col): _*)
      .join(target, keys, "left_anti")
      .observe(name, count(lit(1)).as("rows"))
    val written = Promise[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.logical.exists {
              case c: CollectMetrics => c.name == name
              case _ => false
            }) written.trySuccess(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val qe =
      try {
        fresh.write
          .mode(SaveMode.Append)
          .bucketBy(buckets, bcols.head, bcols.tail: _*)
          .sortBy(bcols.head, bcols.tail: _*)
          .format("parquet")
          .saveAsTable(table)
        // listener events are delivered asynchronously, in order
        Await.result(written.future, 5.minutes)
      } finally spark.listenerManager.unregister(listener)
    // ...and THIS append must be visible to the session's next reader
    // (the next round, the caller's read-back) even where the relation
    // cache kept the pre-append listing
    spark.catalog.refreshTable(table)
    observedRows(qe, name)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The `rows` metric the CollectMetrics node `name` observed during
    * `qe`. An absent metric is 0 ONLY when the executed plan shows AQE
    * removed that node — its input plan carried it, its final plan does
    * not, which happens when a stage below it materialized empty and
    * the subtree was replaced by an empty relation. Any other absence
    * (a write path or Spark version that stops delivering the metric)
    * throws instead of passing for "nothing appended". */
  private[graft] def observedRows(qe: QueryExecution, name: String): Long =
    qe.observedMetrics.get(name) match {
      case Some(row) => row.getAs[Long]("rows")
      case None if aqeRemoved(qe.executedPlan, name) => 0L
      case None => throw new IllegalStateException(
        s"observed metric $name was not delivered, and AQE did not " +
          "remove its CollectMetrics node:\n" + qe.executedPlan)
    }

  private def aqeRemoved(plan: SparkPlan, name: String): Boolean = {
    def observes(p: SparkPlan) = Plans.find(p) {
      case c: CollectMetricsExec => c.name == name
      case _ => false
    }.isDefined
    Plans.collect(plan) { case a: AdaptiveSparkPlanExec => a }
      .exists(a => observes(a.inputPlan) && !observes(a.executedPlan))
  }
}
