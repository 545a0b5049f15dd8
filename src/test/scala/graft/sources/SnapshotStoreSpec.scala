package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import graft.sources.SnapshotStore.ConcurrentCommitException

/** The atomic-snapshot store's contract — the claims are about what a
  * READER can ever observe, which a catalog-table fold (dynamic
  * overwrite, then directory drops) cannot guarantee:
  *
  *  (a) correctness: init/compact/retract produce exactly the
  *      keep-first / anti-join set algebra (the lifecycle queries'
  *      hash-match seals this against the DuckDB oracle), for
  *      composite identities and escaped string routing values too;
  *  (b) ISOLATION: a reader that resolved a snapshot before a
  *      maintenance cycle reads exactly that version's rows after the
  *      cycle committed — pre-state or post-state, never a mix — and
  *      every intermediate version stays readable until vacuum;
  *  (c) untouched partitions carry the IDENTICAL files across a
  *      retraction (relative-path set equality — files are immutable,
  *      so identical paths prove identical bytes);
  *  (d) an all-victims partition's files leave the manifest in the
  *      same one commit that publishes the survivors — there is no
  *      directory-delete step to half-apply;
  *  (e) CONCURRENCY: a writer committing from a stale base is refused
  *      (optimistic version check) — the single-writer contract the
  *      live ingest loop assumed, enforced by the store;
  *  (f) a mistyped caller routing column (LONG vs the store's INT)
  *      coerces through the semi-join instead of silently missing
  *      every partition;
  *  (g) vacuum reclaims exactly the unreferenced files and retired
  *      manifests, leaving the retained versions bit-identical.
  */
class SnapshotStoreSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def freshRoot(): String =
    Files.createTempDirectory("snapstore").resolve("store").toString

  /** (g, doc_id, pt) fixture: victim 99 spans pt 0/1/2; pt 2 is
    * victim-only (all-dead); pt 3..7 untouched. */
  private def baseRows = {
    val rows =
      Seq(("g000", 99L), ("g000", 500L), ("g008", 99L), ("g008", 501L),
        ("g001", 99L), ("g001", 502L), ("g009", 503L),
        ("g002", 99L), ("g010", 99L)) ++
        (3 to 7).flatMap(k =>
          Seq((f"g$k%03d", 600L + k), (f"g${k + 8}%03d", 700L + k)))
    rows.toDF("g", "doc_id")
      .withColumn("pt", (substring($"g", 2, 3).cast("int") % 8))
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame) =
    df.select($"g", $"doc_id").as[(String, Long)].collect().toSet

  test("init/compact/retract round-trip: keep-first admits, " +
      "partition-pruned retraction, all-dead partition files dropped " +
      "in the same commit") {
    val root = freshRoot()
    val v1 = SnapshotStore.init(spark, root, baseRows, "pt")
    assert(v1.version === 1L)
    assert(rowSet(SnapshotStore.read(spark, root)) === rowSet(baseRows))

    // keep-first: re-admitting every base row + two new rows appends
    // exactly the two
    val admits = baseRows.unionByName(
      Seq(("g003", 900L), ("g011", 901L)).toDF("g", "doc_id")
        .withColumn("pt", (substring($"g", 2, 3).cast("int") % 8)))
    val (n, v2) = SnapshotStore.compact(spark, root, admits,
      Seq("g", "doc_id"), "pt")
    assert(n === 2L)
    assert(v2.version === 2L)
    assert(v2.files.toSet.intersect(v1.files.toSet) === v1.files.toSet,
      "compact must carry every prior file forward untouched")

    val dead = baseRows.filter($"doc_id" === 99L)
    val (rewritten, removed, v3) = SnapshotStore.retract(spark, root,
      dead, Seq("g", "doc_id"), "pt")
    assert(rewritten === 3 && removed === 5L)
    val expect = rowSet(admits.filter($"doc_id" =!= 99L))
    assert(rowSet(SnapshotStore.read(spark, root)) === expect)

    // (c) untouched partitions: identical relative paths across retract
    def dirOf(f: String) = f.takeWhile(_ != '/')
    val affectedDirs = Set("pt=0", "pt=1", "pt=2")
    assert(v3.files.filterNot(f => affectedDirs(dirOf(f))).toSet
      === v2.files.filterNot(f => affectedDirs(dirOf(f))).toSet,
      "unaffected partitions' files changed across the retraction")
    // (d) all-victims pt=2 gone from the manifest in the same commit
    assert(!v3.files.exists(_.startsWith("pt=2/")),
      "all-victims partition still referenced after the retraction")
    assert(SnapshotStore.read(spark, root).filter($"pt" === 2).count() === 0)
  }

  test("reader isolation: a snapshot resolved before the maintenance " +
      "cycle reads exactly its version after the cycle — every version " +
      "exact, never a mix") {
    val root = freshRoot()
    SnapshotStore.init(spark, root, baseRows, "pt")
    // the in-flight reader resolves v1 NOW...
    val readerView = SnapshotStore.current(spark, root)

    // ...while maintenance runs a full compact+retract cycle
    val admits = Seq(("g003", 900L)).toDF("g", "doc_id")
      .withColumn("pt", lit(3))
    SnapshotStore.compact(spark, root, admits, Seq("g", "doc_id"), "pt")
    SnapshotStore.retract(spark, root,
      baseRows.filter($"doc_id" === 99L), Seq("g", "doc_id"), "pt")

    // the reader's view is still EXACTLY pre-cycle
    assert(rowSet(SnapshotStore.read(spark, root, readerView))
      === rowSet(baseRows),
      "in-flight reader observed a maintenance cycle")
    // and each committed version reads as exactly itself
    assert(rowSet(SnapshotStore.read(spark, root,
      SnapshotStore.snapshotAt(spark, root, 2L)))
      === rowSet(baseRows) + (("g003", 900L)))
    assert(rowSet(SnapshotStore.read(spark, root))
      === (rowSet(baseRows) + (("g003", 900L)))
        .filterNot(_._2 == 99L))
  }

  test("optimistic concurrency: a commit from a stale base is refused") {
    val root = freshRoot()
    val v1 = SnapshotStore.init(spark, root, baseRows, "pt")
    // writer B lands version 2 first
    SnapshotStore.compact(spark, root,
      Seq(("g003", 900L)).toDF("g", "doc_id").withColumn("pt", lit(3)),
      Seq("g", "doc_id"), "pt")
    // writer A, still holding base v1, tries to publish ITS version 2
    val ex = intercept[ConcurrentCommitException] {
      SnapshotStore.commit(spark, root, v1.files, v1)
    }
    assert(ex.getMessage.contains("concurrent"))
    // the store is untouched by the refused commit
    assert(SnapshotStore.current(spark, root).version === 2L)
  }

  test("a session with speculation on is refused before either v2 " +
      "staging write lands a file") {
    val root = freshRoot()
    SnapshotStore.init(spark, root, baseRows, "pt")
    def files(): Set[String] = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try { import scala.jdk.CollectionConverters._
        it.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(_.toString).toSet }
      finally it.close()
    }
    val before = files()
    // spark.speculation is a context conf the session API refuses to
    // set; flip the live context conf (the one the scheduler reads) for
    // the length of this case only
    val conf = classOf[org.apache.spark.SparkContext].getMethod("conf")
      .invoke(spark.sparkContext).asInstanceOf[org.apache.spark.SparkConf]
    conf.set("spark.speculation", "true")
    try {
      val admits = Seq(("g003", 900L)).toDF("g", "doc_id")
        .withColumn("pt", lit(3))
      val viaCompact = intercept[IllegalArgumentException] {
        SnapshotStore.compact(spark, root, admits, Seq("g", "doc_id"), "pt")
      }
      val viaStage = intercept[IllegalArgumentException] {
        SnapshotStore.stageDeletes(spark, root,
          baseRows.filter($"doc_id" === 99L).select($"g", $"doc_id"),
          Seq("g", "doc_id"))
      }
      Seq(viaCompact, viaStage).foreach(e =>
        assert(e.getMessage.contains("spark.speculation=false")))
    } finally conf.remove("spark.speculation")
    assert(files() === before, "a refused op left files behind")
    assert(SnapshotStore.current(spark, root).version === 1L)
  }

  test("mistyped routing column coerces through the semi-join instead " +
      "of missing every partition") {
    val root = freshRoot()
    SnapshotStore.init(spark, root,
      Seq(("g-a", 99L, 0), ("g-a", 500L, 0), ("g-b", 501L, 0))
        .toDF("g", "doc_id", "pt"), "pt")
    val (rewritten, removed, _) = SnapshotStore.retract(spark, root,
      Seq(("g-a", 99L)).toDF("g", "doc_id").withColumn("pt", lit(0L)),
      Seq("g", "doc_id"), "pt") // LONG routing value vs the store's INT
    assert(rewritten === 1 && removed === 1L)
    assert(rowSet(SnapshotStore.read(spark, root))
      === Set(("g-a", 500L), ("g-b", 501L)))
  }

  test("merge-on-read: staged deletes are atomically visible to readMor, " +
      "invisible to the physical view, and fold to the identical store") {
    val root = freshRoot()
    SnapshotStore.init(spark, root, baseRows, "pt")
    val dead = baseRows.filter($"doc_id" === 99L).select($"g", $"doc_id")
    val want = rowSet(baseRows.filter($"doc_id" =!= 99L))

    val staged = SnapshotStore.stageDeletes(spark, root, dead,
      Seq("g", "doc_id"))
    assert(staged.version === 2L, "staging must be one atomic commit")
    // deletion-aware readers see the deletes immediately...
    assert(rowSet(SnapshotStore.readMor(spark, root, Seq("g", "doc_id")))
      === want)
    // ...the physical view is untouched (zero data files rewritten)...
    assert(rowSet(SnapshotStore.read(spark, root)) === rowSet(baseRows))
    assert(staged.files.filterNot(_.startsWith("-")).toSet
      === SnapshotStore.snapshotAt(spark, root, 1L).files.toSet,
      "staging a delete-list touched data files")

    // ...and the fold makes the physical view equal the MOR view in ONE
    // commit, clearing the staged entries
    val (rewritten, removed, folded) = SnapshotStore.foldStagedDeletes(
      spark, root, Seq("g", "doc_id"), "pt")
    assert(rewritten === 3 && removed === 5L)
    assert(folded.version === 3L)
    assert(!folded.files.exists(_.startsWith("-")),
      "staged delete entries survived the fold")
    assert(rowSet(SnapshotStore.read(spark, root)) === want,
      "MOR != COW after the fold")
    // untouched partitions carry identical files across the whole cycle
    def dirOf(f: String) = f.takeWhile(_ != '/')
    val affectedDirs = Set("pt=0", "pt=1", "pt=2", "deletes")
    assert(folded.files.filterNot(f => affectedDirs(dirOf(f))).toSet
      === SnapshotStore.snapshotAt(spark, root, 1L).files
        .filterNot(f => affectedDirs(dirOf(f))).toSet)
    // vacuum retires the delete file with the old versions
    assert(SnapshotStore.vacuum(spark, root, keepVersions = 1) > 0)
    assert(rowSet(SnapshotStore.read(spark, root)) === want)
    // idempotence: folding with nothing staged is a no-op
    val (r2, n2, s2) = SnapshotStore.foldStagedDeletes(
      spark, root, Seq("g", "doc_id"), "pt")
    assert(r2 === 0 && n2 === 0L && s2.version === folded.version)
  }

  test("commit arbitration is the atomic claim: 16 racers from one base " +
      "produce exactly one version through the real arm, while a " +
      "non-atomic arm (the object-store TOCTOU shape) lets many through") {
    val root = freshRoot()
    val v1 = SnapshotStore.init(spark, root, baseRows, "pt")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // the HAZARD, via an injected arm: exists-then-create with the
    // check and the create not atomic — exactly what the old protocol's
    // exists-then-rename amounted to, and what an S3-style store's
    // unconditional PUT gives you. Under a real race, MANY writers pass
    // such a check: whichever publish primitive follows is then
    // arbitrating on unspecified filesystem semantics (S3A's
    // copy+delete rename overwrites; this local FS happens to refuse;
    // the FileSystem contract promises neither).
    class NonAtomicArm extends SnapshotStore.ClaimArm {
      val granted = new java.util.concurrent.atomic.AtomicInteger(0)
      def claim(cfs: org.apache.hadoop.fs.FileSystem,
                p: org.apache.hadoop.fs.Path): Boolean =
        if (cfs.exists(p)) false
        else { Thread.sleep(10); cfs.create(p, true).close()
               granted.incrementAndGet(); true }
    }
    val hazard = new NonAtomicArm
    val hazardPath = new org.apache.hadoop.fs.Path(root, "_hazard_claim")
    val hazardThreads = (0 until 16).map { _ =>
      new Thread(() => { hazard.claim(fs, hazardPath); () })
    }
    hazardThreads.foreach(_.start()); hazardThreads.foreach(_.join())
    assert(hazard.granted.get() > 1,
      s"the non-atomic arm granted ${hazard.granted.get()} claims — " +
        "expected the race to expose multiple grants; if this is ever 1 " +
        "by luck, widen the sleep, don't weaken the real-arm assertion")

    // the FIX: the same 16-way race through the REAL protocol — exactly
    // one exclusive-create claim wins, 15 throw, the winner's manifest
    // is intact
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 16).map { i =>
      new Thread(() =>
        try {
          SnapshotStore.commit(spark, root, v1.files, v1)
          results.add(s"win-$i")
        } catch {
          case _: ConcurrentCommitException => results.add(s"refused-$i")
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (wins, refused) = results.asScala.toSeq.partition(_.startsWith("win"))
    assert(wins.size === 1 && refused.size === 15,
      s"claim arbitration failed: $wins / $refused")
    assert(SnapshotStore.current(spark, root).version === 2L)
    assert(SnapshotStore.snapshotAt(spark, root, 2L).files.toSet
      === v1.files.toSet, "the racing losers corrupted the winner's manifest")
    assert(rowSet(SnapshotStore.read(spark, root)) === rowSet(baseRows))
  }

  test("crash window: a claim whose writer died before publishing blocks " +
      "the version loudly; breakClaim clears it, but refuses to touch a " +
      "published version's claim") {
    val root = freshRoot()
    val v1 = SnapshotStore.init(spark, root, baseRows, "pt")
    // simulate the crash: claim version 2 and die before the rename
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SnapshotStore.ExclusiveCreateClaim.claim(fs,
      new org.apache.hadoop.fs.Path(s"$root/_manifests/v000000002.claim")))
    // every committer from base 1 is now refused — fail-stop
    intercept[ConcurrentCommitException] {
      SnapshotStore.commit(spark, root, v1.files, v1)
    }
    // the operator confirms the writer is dead and breaks the claim
    assert(SnapshotStore.breakClaim(spark, root, 2L))
    val v2 = SnapshotStore.commit(spark, root, v1.files, v1)
    assert(v2.version === 2L)
    // a PUBLISHED version's claim is history, not a stale lock
    intercept[IllegalArgumentException] {
      SnapshotStore.breakClaim(spark, root, 2L)
    }
  }

  test("vacuum's grace window protects an in-flight writer's staged " +
      "files: age-blind reclamation would publish dangling manifests") {
    val root = freshRoot()
    SnapshotStore.init(spark, root, baseRows, "pt")
    SnapshotStore.retract(spark, root,
      baseRows.filter($"doc_id" === 99L), Seq("g", "doc_id"), "pt")
    val want = rowSet(baseRows.filter($"doc_id" =!= 99L))

    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // age the store's real history two hours into the past...
    val old = System.currentTimeMillis() - 2 * 3600 * 1000L
    val dataRoot = new org.apache.hadoop.fs.Path(root, "data")
    fs.listStatus(dataRoot).filter(_.isDirectory).foreach { d =>
      fs.listStatus(d.getPath).foreach(f => fs.setTimes(f.getPath, old, -1))
    }
    // ...and plant the in-flight writer: a fresh staged file no manifest
    // references yet (exactly what exists between writeData and commit)
    val inflight = new org.apache.hadoop.fs.Path(dataRoot,
      "pt=0/inflight-tag-part-0.parquet")
    val o = fs.create(inflight, false); o.write(Array[Byte](1, 2, 3)); o.close()

    val reclaimed = SnapshotStore.vacuum(spark, root, keepVersions = 1,
      graceMs = 3600 * 1000L)
    assert(reclaimed > 0, "the aged unreferenced files were not reclaimed")
    assert(fs.exists(inflight),
      "vacuum reclaimed a concurrent writer's staged-but-uncommitted file " +
        "inside the grace window — its commit would publish dangling entries")
    assert(rowSet(SnapshotStore.read(spark, root)) === want)
    // single-writer mode (grace 0) reclaims the orphan
    assert(SnapshotStore.vacuum(spark, root, keepVersions = 1) >= 1)
    assert(!fs.exists(inflight))
  }

  test("NULL routing values: retraction rewrites the default partition " +
      "instead of orphaning it (isin drops nulls; String.valueOf built a " +
      "literal pt=null directory)") {
    val root = freshRoot()
    // pt is a nullable INT with a real null partition
    val rows = Seq(("g-a", 99L, Some(0)), ("g-a", 500L, Some(0)),
      ("g-n", 99L, None), ("g-n", 501L, None), ("g-m", 502L, None),
      ("g-b", 503L, Some(1)))
      .toDF("g", "doc_id", "pt")
    val v1 = SnapshotStore.init(spark, root, rows, "pt")
    assert(v1.files.exists(_.startsWith("pt=__HIVE_DEFAULT_PARTITION__/")),
      "fixture degenerate: no default-partition file was written")
    assert(rowSet(SnapshotStore.read(spark, root)) === rowSet(rows))

    // retract keys routed to pt=0 AND pt=null
    val dead = rows.filter($"doc_id" === 99L)
    val (rewritten, removed, v2) = SnapshotStore.retract(spark, root,
      dead, Seq("g", "doc_id"), "pt")
    assert(rewritten === 2 && removed === 2L,
      s"null partition missed: rewritten=$rewritten removed=$removed")
    assert(rowSet(SnapshotStore.read(spark, root))
      === rowSet(rows.filter($"doc_id" =!= 99L)))
    // the default partition's OLD files left the manifest and its
    // survivors landed as NEW files — no orphaned pt=null directory
    val oldNullFiles = v1.files.filter(
      _.startsWith("pt=__HIVE_DEFAULT_PARTITION__/")).toSet
    assert(v2.files.toSet.intersect(oldNullFiles).isEmpty,
      "retraction carried the null partition's dead files forward")
    assert(v2.files.exists(_.startsWith("pt=__HIVE_DEFAULT_PARTITION__/")),
      "the null partition's survivors were not rewritten")
    // and the MOR arm routes null partitions the same way
    SnapshotStore.stageDeletes(spark, root,
      rows.filter($"doc_id" === 501L).select($"g", $"doc_id"),
      Seq("g", "doc_id"))
    val (r2, n2, _) = SnapshotStore.foldStagedDeletes(spark, root,
      Seq("g", "doc_id"), "pt")
    assert(r2 === 1 && n2 === 1L)
    assert(rowSet(SnapshotStore.read(spark, root))
      === rowSet(rows.filter($"doc_id" =!= 99L && $"doc_id" =!= 501L)))
  }

  test("composite-identity retraction (the media band-index shape), " +
      "through retract and through the staged-delete fold") {
    // band rows: identity = (band_idx, band_val, hist_id), routed on
    // band_val — every band_val is shared by ~14 history items, so only
    // the full composite key names a victim
    val keys = Seq("band_idx", "band_val", "hist_id")
    val rows = (0 until 100).flatMap(i => (0 until 4).map(b =>
        (b, (i % 7).toLong * 16 + b, i.toLong)))
      .toDF("band_idx", "band_val", "hist_id")
      .withColumn("pt", ($"band_val" % 8).cast("int"))
    // takedown of history item 7: its 4 band rows, across 4 partitions
    val dead = rows.filter($"hist_id" === 7L)
    def bands(df: org.apache.spark.sql.DataFrame) =
      df.select(keys.map(col): _*).as[(Int, Long, Long)].collect().toSet
    val want = bands(rows.filter($"hist_id" =!= 7L))

    val direct = freshRoot()
    SnapshotStore.init(spark, direct, rows, "pt")
    val (rewritten, removed, _) =
      SnapshotStore.retract(spark, direct, dead, keys, "pt")
    assert(rewritten === 4 && removed === 4L)
    assert(bands(SnapshotStore.read(spark, direct)) === want)

    val staged = freshRoot()
    SnapshotStore.init(spark, staged, rows, "pt")
    SnapshotStore.stageDeletes(spark, staged, dead, keys)
    assert(bands(SnapshotStore.readMor(spark, staged, keys)) === want)
    val (foldRewritten, foldRemoved, _) =
      SnapshotStore.foldStagedDeletes(spark, staged, keys, "pt")
    assert(foldRewritten === 4 && foldRemoved === 4L)
    assert(bands(SnapshotStore.read(spark, staged)) === want)
  }

  test("all-victims partition with a string routing value needing path " +
      "escaping leaves the manifest, through retract and through the " +
      "staged-delete fold") {
    // 'k:1' needs Spark's partition-path escaping (dir pt=k%3A1): a raw
    // s"$partCol=$v" prefix would match no file, keeping the
    // 'forgotten' rows in the store
    val rows = Seq(("g-x", 7L, "k:1"), ("g-y", 8L, "plain"))
      .toDF("g", "doc_id", "pt")
    val dead = rows.filter($"doc_id" === 7L)
    val escaped = "pt=k%3A1/"
    def check(root: String, op: String => (Int, Long, SnapshotStore.Snapshot)) = {
      val v1 = SnapshotStore.init(spark, root, rows, "pt")
      assert(v1.files.exists(_.startsWith(escaped)),
        s"fixture degenerate: no $escaped file in ${v1.files}")
      val (rewritten, removed, snap) = op(root)
      assert(rewritten === 1 && removed === 1L)
      assert(!snap.files.exists(_.startsWith(escaped)),
        s"the all-victims partition kept its files: ${snap.files}")
      assert(rowSet(SnapshotStore.read(spark, root)) === Set(("g-y", 8L)),
        "rows of the escaped-path all-victims partition resurfaced")
    }
    check(freshRoot(), root =>
      SnapshotStore.retract(spark, root, dead, Seq("g", "doc_id"), "pt"))
    check(freshRoot(), { root =>
      SnapshotStore.stageDeletes(spark, root, dead, Seq("g", "doc_id"))
      SnapshotStore.foldStagedDeletes(spark, root, Seq("g", "doc_id"), "pt")
    })
  }

  test("schema evolution: add-column commits widen the pin per-version; " +
      "time travel reads the exact pre-evolution schema, new versions " +
      "null-backfill old files, collisions are refused") {
    import org.apache.spark.sql.types.{IntegerType, StructField}
    val root = freshRoot()
    SnapshotStore.init(spark, root, baseRows, "pt")           // v1
    SnapshotStore.compact(spark, root,
      Seq(("g003", 900L)).toDF("g", "doc_id").withColumn("pt", lit(3)),
      Seq("g", "doc_id"), "pt")                               // v2
    val v2rows = rowSet(baseRows) + (("g003", 900L))

    val v3 = SnapshotStore.evolve(spark, root,
      Seq(StructField("score", IntegerType)))                 // v3
    assert(v3.version === 3L)
    assert(v3.files.toSet
      === SnapshotStore.snapshotAt(spark, root, 2L).files.toSet,
      "evolution rewrote data files")

    // the widened schema keeps the partition column LAST
    val cur = SnapshotStore.read(spark, root)
    assert(cur.columns.toSeq === Seq("g", "doc_id", "score", "pt"))
    // every pre-evolution file null-backfills
    assert(cur.filter($"score".isNotNull).count() === 0)
    assert(rowSet(cur) === v2rows)

    // TIME TRAVEL: versions 1 and 2 read under the exact original schema
    Seq(1L, 2L).foreach { v =>
      val tt = SnapshotStore.readAt(spark, root, v)
      assert(tt.columns.toSeq === Seq("g", "doc_id", "pt"),
        s"version $v leaked the evolved schema")
    }
    assert(rowSet(SnapshotStore.readAt(spark, root, 1L)) === rowSet(baseRows))

    // post-evolution writes carry the column; old rows stay null
    SnapshotStore.compact(spark, root,
      Seq(("g012", 902L, 7)).toDF("g", "doc_id", "score")
        .withColumn("pt", lit(4)),
      Seq("g", "doc_id"), "pt")                               // v4
    val scored = SnapshotStore.read(spark, root)
    assert(scored.filter($"score" === 7).count() === 1L)
    assert(scored.count() === v2rows.size + 1)

    // a retraction touching an old file keeps the widened schema whole
    SnapshotStore.retract(spark, root,
      baseRows.filter($"doc_id" === 99L), Seq("g", "doc_id"), "pt") // v5
    val afterRetract = SnapshotStore.read(spark, root)
    assert(afterRetract.columns.toSeq === Seq("g", "doc_id", "score", "pt"))
    assert(rowSet(afterRetract)
      === (v2rows + (("g012", 902L))).filterNot(_._2 == 99L))

    // add-only discipline: collisions refused, nothing committed
    val before = SnapshotStore.current(spark, root).version
    intercept[IllegalArgumentException] {
      SnapshotStore.evolve(spark, root,
        Seq(StructField("doc_id", IntegerType)))
    }
    assert(SnapshotStore.current(spark, root).version === before)
  }

  test("SQL front door: a registered version view answers spark.sql " +
      "with exactly the pinned version, and later commits don't move it") {
    val root = freshRoot()
    SnapshotStore.init(spark, root, baseRows, "pt")
    SnapshotStore.registerVersionView(spark, root, "snap_spec_v1", 1L)
    val viaSql = spark.sql(
      "SELECT g, doc_id FROM snap_spec_v1").as[(String, Long)].collect().toSet
    assert(viaSql === rowSet(SnapshotStore.readAt(spark, root, 1L)))

    // maintenance advances the store; the registered view stays pinned
    SnapshotStore.compact(spark, root,
      Seq(("g003", 900L)).toDF("g", "doc_id").withColumn("pt", lit(3)),
      Seq("g", "doc_id"), "pt")
    SnapshotStore.retract(spark, root,
      baseRows.filter($"doc_id" === 99L), Seq("g", "doc_id"), "pt")
    assert(spark.sql("SELECT g, doc_id FROM snap_spec_v1")
      .as[(String, Long)].collect().toSet === rowSet(baseRows),
      "the pinned SQL view moved under maintenance")
    // re-registering at current picks up the new version
    SnapshotStore.registerVersionView(spark, root, "snap_spec_cur")
    assert(spark.sql("SELECT g, doc_id FROM snap_spec_cur")
      .as[(String, Long)].collect().toSet
      === (rowSet(baseRows) + (("g003", 900L))).filterNot(_._2 == 99L))
    spark.catalog.dropTempView("snap_spec_v1")
    spark.catalog.dropTempView("snap_spec_cur")
  }

  test("bin-packing consolidates fragmented partitions to one file in " +
      "one commit, changes no row, keeps single-file partitions' exact " +
      "files, and leaves pre-pack versions readable until vacuum") {
    val root = freshRoot()
    // three disjoint ingest commits fragment pt 0..7 (every slice
    // routes rows into most partitions); the lone pt=9 row lands in
    // ONE commit only — its partition must stay untouched
    val slices = Seq(
      baseRows.filter($"doc_id" % 3 === 0),
      baseRows.filter($"doc_id" % 3 === 1),
      baseRows.filter($"doc_id" % 3 === 2))
    SnapshotStore.init(spark, root, slices.head, "pt")
    slices.tail.foreach(sl =>
      SnapshotStore.compact(spark, root, sl, Seq("g", "doc_id"), "pt"))
    SnapshotStore.compact(spark, root,
      Seq(("g-lone", 950L)).toDF("g", "doc_id").withColumn("pt", lit(9)),
      Seq("g", "doc_id"), "pt")
    val before = SnapshotStore.current(spark, root)
    val want = rowSet(SnapshotStore.read(spark, root, before))
    def dirOf(f: String) = f.takeWhile(_ != '/')
    val fragDirs = before.files.groupBy(dirOf).filter(_._2.size >= 2).keySet
    assert(fragDirs.size >= 3, s"fixture degenerate: $fragDirs")
    val loneFiles = before.files.filter(dirOf(_) == "pt=9")
    assert(loneFiles.size === 1, "fixture degenerate: pt=9 fragmented")

    val (packed, replaced, after) = SnapshotStore.binPack(spark, root)
    assert(packed === fragDirs.size)
    assert(replaced ===
      before.files.count(f => fragDirs.contains(dirOf(f))))
    // one file per packed partition, not one row changed
    val afterByDir = after.files.groupBy(dirOf)
    fragDirs.foreach(d => assert(afterByDir(d).size === 1,
      s"$d still fragmented: ${afterByDir(d)}"))
    assert(rowSet(SnapshotStore.read(spark, root)) === want,
      "packing changed the store's content")
    // the single-file partition kept its EXACT file — immutability
    // makes the name identity a content proof
    assert(afterByDir("pt=9") === loneFiles,
      "an already-packed partition was rewritten")
    // reader isolation across the pack: the pre-pack version still
    // reads its exact fragments...
    assert(rowSet(SnapshotStore.read(spark, root, before)) === want)
    // ...until vacuum reclaims them (the replaced fragment count)
    assert(SnapshotStore.vacuum(spark, root, keepVersions = 1)
      === replaced)
    intercept[Exception] {
      SnapshotStore.read(spark, root,
        SnapshotStore.snapshotAt(spark, root, before.version)).collect()
    }
    // idempotence: a fully-packed store is a commitless no-op
    val (p2, r2, s2) = SnapshotStore.binPack(spark, root)
    assert(p2 === 0 && r2 === 0 && s2.version === after.version)
  }

  test("vacuum reclaims unreferenced files and retired manifests; " +
      "retained versions stay exact") {
    val root = freshRoot()
    SnapshotStore.init(spark, root, baseRows, "pt")
    SnapshotStore.retract(spark, root,
      baseRows.filter($"doc_id" === 99L), Seq("g", "doc_id"), "pt")
    val want = rowSet(baseRows.filter($"doc_id" =!= 99L))
    val deleted = SnapshotStore.vacuum(spark, root, keepVersions = 1)
    assert(deleted > 0, "vacuum found nothing despite a retraction")
    assert(rowSet(SnapshotStore.read(spark, root)) === want,
      "vacuum damaged the current version")
    intercept[Exception] {
      SnapshotStore.read(spark, root,
        SnapshotStore.snapshotAt(spark, root, 1L)).collect()
    }
  }

  test("a manifest in a form the writer never produces is refused at " +
      "parse time, naming the file: no header, a bare pointer, a " +
      "segment row without its byte length") {
    val root = freshRoot()
    SnapshotStore.init(spark, root, baseRows, "pt")
    val rootManifest = "_manifests/v000000001.manifest"
    def body(r: String, rel: String) =
      new String(Files.readAllBytes(java.nio.file.Paths.get(r, rel)), "UTF-8")
    val segRel = "_manifests/" + body(root, rootManifest).split("\n")
      .find(_.startsWith("@")).get.split("\t")(1)
    // a copy of the store with `rel` rewritten by `edit`; the refusal
    // must name the edited file
    def refusedAfter(rel: String)(edit: String => String): Unit = {
      val copy = freshRoot()
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(root), new java.io.File(copy))
      val edited = edit(body(copy, rel))
      assert(edited !== body(copy, rel), s"the edit left $rel unchanged")
      Files.write(java.nio.file.Paths.get(copy, rel), edited.getBytes("UTF-8"))
      val ex = intercept[IllegalStateException] {
        SnapshotStore.snapshotAt(spark, copy, 1L)
      }
      assert(ex.getMessage.contains(rel.split("/").last), ex.getMessage)
    }
    // the flat file list: the data files, one per line, no header
    val files = SnapshotStore.snapshotAt(spark, root, 1L).files
    refusedAfter(rootManifest)(_ => files.mkString("", "\n", "\n"))
    // `@<ref>` without its `<encDir>\t` qualifier
    refusedAfter(rootManifest)(_.split("\n").map(l =>
      if (l.startsWith("@")) "@" + l.split("\t")(1) else l)
      .mkString("", "\n", "\n"))
    // `rows` without `:bytes`
    refusedAfter(segRel)(_.split("\n").map(l =>
      if (l.startsWith("#")) l
      else l.split("\t", -1).toSeq match {
        case rel +: rowsTok +: rest =>
          (rel +: rowsTok.takeWhile(_ != ':') +: rest).mkString("\t")
      }).mkString("", "\n", "\n"))
  }

  test("commit refuses a data file without stats before it claims: the " +
      "version and the segment listing stay unchanged") {
    val root = freshRoot()
    val v1 = SnapshotStore.init(spark, root, baseRows, "pt")
    val manifests = new java.io.File(root, "_manifests")
    def segments = new java.io.File(manifests, "segments").list().toSet
    val segsBefore = segments
    val ghost = "pt=0/ghost.parquet"
    val ex = intercept[IllegalArgumentException] {
      SnapshotStore.commit(spark, root, v1.files :+ ghost, v1)
    }
    assert(ex.getMessage.contains(ghost), ex.getMessage)
    assert(SnapshotStore.current(spark, root).version === 1L)
    assert(!new java.io.File(manifests, "v000000002.claim").exists(),
      "the refused commit claimed version 2")
    assert(segments === segsBefore, "the refused commit wrote segments")
  }

  test("a store write leaves the session's parquet timestamp type as it " +
      "found it: a never-set key stays unset, a user's value comes back") {
    val key = "spark.sql.parquet.outputTimestampType"
    val s = spark.newSession()
    def rows = s.range(40).selectExpr("cast(id as string) AS g",
      "id AS doc_id", "cast(id % 4 AS int) AS pt")
    assert(!s.sessionState.conf.contains(key))
    SnapshotStore.init(s, freshRoot(), rows, "pt")
    assert(!s.sessionState.conf.contains(key),
      s"the store write left $key set to ${s.conf.get(key)}")
    s.conf.set(key, "TIMESTAMP_MILLIS")
    SnapshotStore.init(s, freshRoot(), rows, "pt")
    assert(s.sessionState.conf.contains(key))
    assert(s.conf.get(key) === "TIMESTAMP_MILLIS")
  }
}
