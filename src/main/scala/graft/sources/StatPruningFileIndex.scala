package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** Manifest-stat file skipping wired into the DEFAULT read path (the
  * r18 verdict's missing #3): [[SnapshotStore.readRange]] proved the
  * per-file bounds pay, but a reader using `read().filter(...)` or SQL
  * over a registered version view scanned every file and relied on
  * parquet footers. This FileIndex is the seam Spark's own planner
  * already provides for exactly this (`FileSourceStrategy` hands the
  * pushed data filters to `FileIndex.listFiles`): it resolves the
  * snapshot's exact file list like any `spark.read.parquet(files)`
  * call, then drops every file whose manifest bounds PROVE disjoint
  * from the pushed predicates — so pruning now reaches every consumer,
  * DataFrame or SQL, without the caller knowing the API exists.
  *
  * Conservative by construction: only top-level conjuncts of the
  * shapes `col (=|>|>=|<|<=) literal`, the reversed literal-first
  * forms, and `col IN (literals)` tighten bounds; literals are
  * rendered through Catalyst's own string `Cast` (the exact rendering
  * the bounds were written in — dates as `2024-01-01`, not epoch
  * days), and anything unrenderable or unrecognized simply prunes
  * nothing. Every data file must have a manifest stat
  * ([[SnapshotStore.read]] passes one per file); a file without one
  * fails the scan, naming the file. Correctness never
  * depends on the skipping — the planner still applies the full
  * predicates to whatever is read (SnapshotStatsSpec pins the scan's
  * file count through a `spark.sql` WHERE on a registered view;
  * q_index_snapshot_statprune carries the DuckDB oracle unchanged).
  */
private[graft] class StatPruningFileIndex(
    spark: SparkSession,
    dataFiles: Seq[Path],
    parameters: Map[String, String],
    pinnedSchema: StructType,
    stats: Map[String, SnapshotStore.FileStat],
    knownStatuses: Seq[FileStatus])
  extends InMemoryFileIndex(spark, dataFiles, parameters,
    Some(pinnedSchema),
    // r19: the manifest already knows every file (and its exact
    // length), so planning must not re-discover it — a prefilled
    // status cache answers every root-path lookup and the parallel
    // file-listing Spark JOB InMemoryFileIndex launches above the
    // discovery threshold (one per store read, measured 0.14-0.26s
    // each on the bench) never runs
    StatPruningFileIndex.prefilled(dataFiles, knownStatuses), None, None) {

  private val tz = spark.sessionState.conf.sessionLocalTimeZone

  /** `pt=3/tag-part-....parquet` — the manifest's relative-name grain. */
  private def relOf(p: Path): String =
    s"${p.getParent.getName}/${p.getName}"

  private def render(l: Literal): Option[String] =
    if (l.value == null) None
    else scala.util.Try(
      Option(Cast(l, StringType, Option(tz)).eval(null)).map(_.toString))
      .toOption.flatten

  /** (column, lo, hi) constraints a single pushed conjunct implies. */
  private def boundsOf(e: Expression)
      : Seq[(String, Option[String], Option[String])] = e match {
    case EqualTo(a: AttributeReference, l: Literal) =>
      render(l).map(v => (a.name, Some(v): Option[String],
        Some(v): Option[String])).toSeq
    case EqualTo(l: Literal, a: AttributeReference) =>
      render(l).map(v => (a.name, Some(v): Option[String],
        Some(v): Option[String])).toSeq
    case EqualNullSafe(a: AttributeReference, l: Literal) =>
      render(l).map(v => (a.name, Some(v): Option[String],
        Some(v): Option[String])).toSeq
    case GreaterThan(a: AttributeReference, l: Literal) =>
      render(l).map(v => (a.name, Some(v): Option[String], None)).toSeq
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      render(l).map(v => (a.name, Some(v): Option[String], None)).toSeq
    case LessThan(a: AttributeReference, l: Literal) =>
      render(l).map(v => (a.name, None, Some(v): Option[String])).toSeq
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      render(l).map(v => (a.name, None, Some(v): Option[String])).toSeq
    case GreaterThan(l: Literal, a: AttributeReference) =>
      render(l).map(v => (a.name, None, Some(v): Option[String])).toSeq
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      render(l).map(v => (a.name, None, Some(v): Option[String])).toSeq
    case LessThan(l: Literal, a: AttributeReference) =>
      render(l).map(v => (a.name, Some(v): Option[String], None)).toSeq
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      render(l).map(v => (a.name, Some(v): Option[String], None)).toSeq
    case In(a: AttributeReference, list)
        if list.nonEmpty && list.forall(_.isInstanceOf[Literal]) =>
      dtOf(a.name).toSeq.flatMap { dt =>
        val rendered = list.flatMap(l => render(l.asInstanceOf[Literal]))
        if (rendered.size != list.size) Seq.empty
        else {
          // min/max under the SAME order statCmp compares in — an
          // unorderable rendering keeps the constraint out entirely
          val sorted = scala.util.Try(rendered.sortWith((x, y) =>
            SnapshotStore.statCmp(dt, x, y).map(_ < 0)
              .getOrElse(throw new IllegalStateException("unorderable"))))
          sorted.toOption.map(s =>
            (a.name, Some(s.head): Option[String],
              Some(s.last): Option[String])).toSeq
        }
      }
    case _ => Seq.empty
  }

  private def dtOf(name: String): Option[DataType] =
    pinnedSchema.fields.find(_.name == name).map(_.dataType)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    val constraints = dataFilters.flatMap(boundsOf)
      .flatMap { case (c, lo, hi) => dtOf(c).map(dt => (c, dt, lo, hi)) }
    if (constraints.isEmpty) base
    else base.map { pd =>
      pd.copy(files = pd.files.filter { f =>
        val st = stats.getOrElse(relOf(f.getPath),
          throw new IllegalStateException(s"no manifest stat for data " +
            s"file ${f.getPath} (key ${relOf(f.getPath)})"))
        constraints.forall { case (c, dt, lo, hi) =>
          SnapshotStore.statOverlapOne(st, c, dt, lo, hi)
        }
      })
    }.filter(_.files.nonEmpty)
  }
}

private[graft] object StatPruningFileIndex {
  /** A [[FileStatusCache]] that already holds every root path's status
    * (the manifest is the source of truth; see the class doc). */
  private def prefilled(paths: Seq[Path],
      statuses: Seq[FileStatus]): FileStatusCache = {
    require(paths.length == statuses.length,
      s"${paths.length} paths vs ${statuses.length} statuses")
    val m = paths.zip(statuses).toMap
    new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        m.get(path).map(Array(_))
      override def putLeafFiles(path: Path,
          leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
  }
}
