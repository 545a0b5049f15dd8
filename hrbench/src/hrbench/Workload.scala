package hrbench

import java.io.File
import java.sql.{Date, DriverManager}

import scala.collection.mutable.ArrayBuffer
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{HrPipeline, HrReport, HrValidate}
import graft.sources.SnapshotStore

/** One workload: `prepare` loads what set-up needs, `pass` runs one fixed
  * sequence of public calls and returns one record per call. */
abstract class Workload(val name: String, spark: SparkSession) {
  def prepare(): Unit = ()
  def pass(tr: Tracer): Seq[Map[String, Any]]
  /** Bookkeeping after a pass, outside every op timer. */
  def afterPass(): Map[String, Any] = Map.empty

  /** Time `body` as one op; `obs` turns its value into the observed answer
    * outside the timer. A throw is recorded, never rethrown. */
  protected def op[T](tr: Tracer, opName: String, kind: String,
                      layer: String)(body: => T)(obs: T => Map[String, Any])
      : Map[String, Any] = {
    val t0 = System.nanoTime()
    val res =
      try Right(tr.span(opName, layer)(body))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val base = Map("op" -> opName, "kind" -> kind, "ms" -> ms)
    res match {
      case Right(v) =>
        try base + ("obs" -> obs(v))
        catch { case e: Throwable => base + ("error" -> describe(e)) }
      case Left(e) => base + ("error" -> describe(e))
    }
  }

  protected def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  protected def du(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length
    walk(new File(path))
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, input: String, work: String,
            args: Map[String, String]): Workload = name match {
    case "hr_etl" => new HrEtl(spark, input, work)
    case "store_queries" =>
      new Composite("store_queries", spark,
        Seq(new SnapshotMaint(spark, input, work),
          new CorpusQueries(spark, input, work,
            args("queries").split(",").toSeq)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Several workloads run back to back as one pass. */
final class Composite(name: String, spark: SparkSession, parts: Seq[Workload])
    extends Workload(name, spark) {
  override def prepare(): Unit = parts.foreach(_.prepare())
  def pass(tr: Tracer): Seq[Map[String, Any]] = parts.flatMap(_.pass(tr))
  override def afterPass(): Map[String, Any] =
    parts.map(_.afterPass()).reduce(_ ++ _)
}

/** The paper's pipeline at scale: stage, build, DQ stats, the CSV, parquet
  * and JDBC sinks, the JDBC indexes and the report, in that order. */
final class HrEtl(spark: SparkSession, input: String, work: String)
    extends Workload("hr_etl", spark) {
  private val raw = s"$input/hr"
  private val staging = s"$work/hr/staging"
  private val out = s"$work/hr/out"
  private val url = "jdbc:derby:memory:hrbench;create=true"
  private val tables = Seq("dim_departments", "dim_employees",
    "fact_performance_reviews", "fact_project_assignments",
    "summary_dept_metrics", "summary_emp_performance")

  private def jdbcCounts(): Map[String, Long] = {
    val conn = DriverManager.getConnection(url)
    try tables.map { t =>
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
      try { rs.next(); t -> rs.getLong(1) } finally rs.close()
    }.toMap
    finally conn.close()
  }

  def pass(tr: Tracer): Seq[Map[String, Any]] = {
    val ops = ArrayBuffer[Map[String, Any]]()
    ops += op(tr, "stage", "commit", "etl")(
      HrPipeline.stage(spark, raw, staging))(t => Map("tables" -> t.size))
    var outs: HrPipeline.Outputs = null
    ops += op(tr, "build", "other", "etl") {
      def read(t: String) = HrPipeline.readCsv(spark, staging, t)
      HrPipeline.build(spark, read("employees"), read("departments"),
        read("performance_reviews"), read("projects"),
        read("project_assignments"), Date.valueOf("2026-01-01"))
    } { o =>
      outs = o
      Map("checks" -> o.dqChecks.collect().toSeq.map(r =>
        Seq(r.getString(0), r.getString(1), r.getString(2), r.getLong(3))))
    }
    ops += op(tr, "validate", "read", "etl")(
      HrValidate.dqStats(outs.dqChecks).collect()(0))(r =>
      Map("dq_stats" -> Seq(r.getLong(0), r.getLong(1), r.getLong(2))))
    ops += op(tr, "sink_csv", "commit", "etl")(
      HrPipeline.writeCsv(outs, s"$out/csv"))(_ => Map())
    val volume = graft.operators.Metrics.attach(spark)
    ops += op(tr, "sink_parquet", "commit", "etl")(
      HrPipeline.writeParquet(outs, s"$out/parquet")) { _ =>
      org.apache.spark.BusDrain(spark.sparkContext)
      Map("rows" -> tables.map(t => t -> volume.rows(s"sink_$t")).toMap)
    }
    spark.listenerManager.unregister(volume)
    ops += op(tr, "sink_jdbc", "commit", "etl")(
      HrPipeline.writeJdbc(outs, url, "app", "app", None))(_ =>
      Map("rows" -> jdbcCounts()))
    ops += op(tr, "indexes", "other", "etl")(HrPipeline.createIndexes(url))(_ =>
      Map())
    ops += op(tr, "report", "read", "etl")(
      HrReport.summaryReport(spark, outs.summaryDeptMetrics,
        outs.summaryEmpPerformance, outs.projectWorkload))(s =>
      Map("report" -> s.split("\n").toSeq))
    ops.toSeq
  }

  override def afterPass(): Map[String, Any] =
    Map("bytes_written" -> (du(staging) + du(s"$out/csv") + du(s"$out/parquet")))
}

/** The snapshot store's commit protocol under a fixed op plan read from
  * `<input>/store/plan.txt` (one op per line: `<op> [dataset|op-index]`). */
final class SnapshotMaint(spark: SparkSession, input: String, work: String)
    extends Workload("snapshot_maint", spark) {
  private val keys = Seq("g", "doc_id")
  private val plan: Seq[Array[String]] = {
    val src = Source.fromFile(s"$input/store/plan.txt")
    try src.getLines().filter(_.nonEmpty).map(_.split(" ")).toSeq
    finally src.close()
  }
  private var data: Map[String, DataFrame] = Map.empty
  private var root: String = _
  private var passNo = 0

  override def prepare(): Unit = {
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("doc_id", LongType), StructField("pt", IntegerType)))
    data = plan.filter(_.length > 1).map(_(1)).filter(_.exists(_.isLetter))
      .distinct.map { d =>
        d -> spark.read.option("header", "true").schema(schema)
          .csv(s"$input/store/$d.csv").localCheckpoint()
      }.toMap
  }

  /** (count, sum h1, sum h2) of the rows: the order-insensitive digest
    * `gen_store.digest` computes for the expected key sets. */
  private val digestCols = {
    val a = pmod(conv(col("g"), 16, 10).cast("long"), lit(1000000007L))
    val h1 = pmod(a * 1000003L + col("doc_id"), lit(2147483647L))
    val h2 = pmod(col("doc_id") * 1000033L + a * 31L + col("pt").cast("long"),
      lit(2147483629L))
    Seq(count(lit(1)), coalesce(sum(h1), lit(0L)), coalesce(sum(h2), lit(0L)))
  }

  private def digest(df: DataFrame): Seq[Long] = {
    val r = df.agg(digestCols.head, digestCols.tail: _*).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def digestBy(df: DataFrame, by: String): Map[String, Seq[Long]] =
    df.groupBy(by).agg(digestCols.head, digestCols.tail: _*).collect()
      .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap

  private def dataFiles(): Int =
    SnapshotStore.current(spark, root).files.count(!_.startsWith("-"))

  private def fileCount(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    walk(new File(path))
  }

  def pass(tr: Tracer): Seq[Map[String, Any]] = {
    if (root != null) deleteTree(new File(root))
    passNo += 1
    root = s"$work/store/p$passNo"
    val versionAfter = ArrayBuffer[Long]()
    var version = 0L
    val ops = ArrayBuffer[Map[String, Any]]()
    def commit[T](opName: String)(body: => (T, SnapshotStore.Snapshot))(
        obs: T => Map[String, Any]): Map[String, Any] = {
      val before = if (tr.enabled) (du(root), fileCount(root)) else (0L, 0L)
      val rec = op(tr, opName, "commit", "sources")(body) { case (v, s) =>
        version = s.version
        obs(v)
      }
      if (!tr.enabled) rec
      else rec ++ Map("bytes" -> (du(root) - before._1),
        "files" -> (fileCount(root) - before._2))
    }
    def read(opName: String)(body: => DataFrame): Map[String, Any] =
      op(tr, opName, "read", "sources")(digest(body))(d => Map("digest" -> d))
    plan.foreach { step =>
      ops += (step(0) match {
        case "init" =>
          commit("init")(((), SnapshotStore.init(spark, root, data(step(1)),
            "pt")))(_ => Map())
        case "compact" =>
          commit("compact")(SnapshotStore.compact(spark, root, data(step(1)),
            keys, "pt"))(n => Map("admitted" -> n))
        case "stage_deletes" =>
          commit("stage_deletes")(((), SnapshotStore.stageDeletes(spark, root,
            data(step(1)), keys)))(_ => Map())
        case "retract" =>
          commit("retract") {
            val (p, n, s) = SnapshotStore.retract(spark, root, data(step(1)),
              keys, "pt")
            ((p, n), s)
          }(v => Map("removed" -> v._2))
        case "bin_pack" =>
          commit("bin_pack") {
            val (p, f, s) = SnapshotStore.binPack(spark, root)
            ((p, f), s)
          }(_ => Map())
        case "read" => read("read")(SnapshotStore.read(spark, root))
        case "read_mor" => read("read_mor")(SnapshotStore.readMor(spark, root, keys))
        case "read_at" =>
          read("read_at")(SnapshotStore.readAt(spark, root,
            versionAfter(step(1).toInt)))
        case "diff" =>
          op(tr, "diff", "other", "sources") {
            digestBy(SnapshotStore.diff(spark, root,
              versionAfter(step(1).toInt), version, keys), "change_type")
          }(m => Map("changes" -> m))
        case "vacuum" =>
          val pre = if (tr.enabled) Map("live_files" -> dataFiles(),
            "manifest_bytes" -> du(s"$root/_manifests")) else Map.empty
          val written = du(root)
          op(tr, "vacuum", "other", "sources")(
            SnapshotStore.vacuum(spark, root))(n => Map("deleted" -> n)) ++
            pre ++ Map("bytes_written" -> written)
        case other => throw new IllegalArgumentException(s"unknown op $other")
      })
      versionAfter += version
    }
    ops.toSeq
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** A fixed list of `SparkEntry.allQueries` entries over the generated
  * corpus, each built and counted like `graft.Bench` does. */
final class CorpusQueries(spark: SparkSession, input: String, work: String,
                          names: Seq[String])
    extends Workload("corpus_queries", spark) {
  private val dir = s"$input/corpus"
  private val all = graft.SparkEntry.allQueries
  private val writers = Set("q_index_compact", "q_index_retract")

  /** The catalog tables the table-path index ops write each pass. */
  override def afterPass(): Map[String, Any] =
    Map("bytes_written" -> du(s"$work/warehouse"))

  /** The query's answer as (row count, order-insensitive hash) over every
    * column of every row. One path with tracing on or off: build the
    * answer Dataset (the query call and its eager side effects, plus
    * analysis), force its physical plan, then run it. */
  def pass(tr: Tracer): Seq[Map[String, Any]] =
    names.map { n =>
      val fn = all(n)
      op(tr, n, if (writers(n)) "commit" else "read", "queries") {
        val a = tr.span("build", "queries") {
          val df = fn(spark, dir)
          val h = xxhash64(to_json(struct(col("*")))).cast(DecimalType(38, 0))
          df.agg(count(lit(1)), coalesce(sum(h), lit(0).cast(DecimalType(38, 0))))
        }
        tr.span("plan", "queries")(a.queryExecution.executedPlan)
        tr.span("exec", "queries")(a.head())
      }(r => Map("rows" -> r.getLong(0), "hash" -> r.getDecimal(1).toPlainString))
    }
}
