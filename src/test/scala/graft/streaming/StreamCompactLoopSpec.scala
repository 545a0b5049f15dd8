package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{SparkTestBase, Tables}
import graft.streaming.StageFiles.stageFile

/** The closed ingest-maintenance loop's contract
  * ([[DocStream.ingestCompactLoopSnapshot]]): each micro-batch's admits
  * commit to the history store BEFORE the next batch runs, so
  *
  *  - a REPLAY of an earlier batch's documents admits zero of them
  *    (cross-batch dedup by the loop, with no streaming state), while
  *    genuinely new documents all land;
  *  - the final store equals keep-first over history ∪ all arrivals,
  *    including a writer that commits between batches;
  *  - per-batch admit counts surface through the observability hook;
  *  - a reader pinned at a version is unaffected by later commits, and
  *    scheduled packing bounds the per-batch file accretion. */
class StreamCompactLoopSpec extends SparkTestBase {
  import spark.implicits._

  test("the snapshot-backed loop: per-batch atomic commits, keep-first " +
      "across batches, interloper commits between batches tolerated") {
    import graft.sources.SnapshotStore
    val root = Files.createTempDirectory("loop_snap").resolve("store")
      .toString
    val docs = Tables.table(spark, sf0001, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    def fps(slice: Int) = docs.filter($"doc_id" % 3 === slice)
      .select($"doc_id",
        coalesce(graft.Clean.fingerprint($"text"), lit("")).as("fp"))
      .groupBy($"fp").agg(min($"doc_id").as("owner_id"))
      .withColumn("pt",
        pmod(xxhash64($"fp"), lit(16L)).cast("int"))
    SnapshotStore.init(spark, root, fps(0), "pt")

    val dir = Files.createTempDirectory("loop_snap_src")
    stageFile(docs.filter($"doc_id" % 3 === 1), dir, "b0.parquet",
      1700000000000L)
    // an INTERLOPING writer lands a version while the loop is between
    // batches — the loop's next batch must build on it, not clobber it
    val interloper = Seq(("interloper-fp", 999999L))
      .toDF("fp", "owner_id")
      .withColumn("pt", pmod(xxhash64($"fp"), lit(16L)).cast("int"))

    val admits = collection.mutable.ArrayBuffer.empty[Long]
    val q1 = DocStream.ingestCompactLoopSnapshot(spark,
        DocStream.readDocs(spark, dir.toString), root,
        onBatch = n => admits.synchronized { admits += n })
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("loop_snap_ckpt1").toString)
      .start()
    q1.awaitTermination()

    SnapshotStore.compact(spark, root, interloper, Seq("fp"), "pt")

    stageFile(docs.filter($"doc_id" % 3 =!= 0), dir, "b1.parquet",
      1700000100000L)
    val q2 = DocStream.ingestCompactLoopSnapshot(spark,
        DocStream.readDocs(spark, dir.toString), root,
        onBatch = n => admits.synchronized { admits += n })
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("loop_snap_ckpt2").toString)
      .start()
    q2.awaitTermination()

    // final state = keep-first over history, batch 1, interloper,
    // batch 2 — in commit order (the second loop run replays b0 then
    // adds b1; the replay admits zero by keep-first)
    val b2fps = docs.filter($"doc_id" % 3 =!= 0)
      .select($"doc_id",
        coalesce(graft.Clean.fingerprint($"text"), lit("")).as("fp"))
      .groupBy($"fp").agg(min($"doc_id").as("owner_id"))
    val afterB1 = fps(0).drop("pt")
      .unionByName(fps(1).drop("pt")
        .join(fps(0), Seq("fp"), "left_anti"))
    val expect = afterB1
      .unionByName(interloper.drop("pt")
        .join(afterB1, Seq("fp"), "left_anti"))
    val expectAll = expect
      .unionByName(b2fps.join(expect, Seq("fp"), "left_anti"))
      .as[(String, Long)].collect().toSet
    val got = SnapshotStore.read(spark, root)
      .select($"fp", $"owner_id").as[(String, Long)].collect().toSet
    assert(got === expectAll,
      s"missing=${(expectAll diff got).take(3)} extra=${(got diff expectAll).take(3)}")
    // the replayed b0 slice contributed ZERO in the second run's batch
    val want1 = fps(1).join(fps(0), Seq("fp"), "left_anti").count()
    assert(admits.head === want1)
    assert(admits.sum === expectAll.size - fps(0).count() - 1,
      "per-batch admit accounting diverged")
    // every maintenance step was one atomic version
    assert(SnapshotStore.current(spark, root).version >= 3L)
  }

  test("the consumer contract: a reader pinned at version N — DataFrame " +
      "or SQL view — is unaffected by K later loop commits, and vacuum's " +
      "retention window bounds exactly how long the pin stays answerable") {
    import graft.sources.SnapshotStore
    val root = Files.createTempDirectory("loop_snap_pin").resolve("store")
      .toString
    val docs = Tables.table(spark, sf0001, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    def fps(pred: org.apache.spark.sql.Column) = docs.filter(pred)
      .select($"doc_id",
        coalesce(graft.Clean.fingerprint($"text"), lit("")).as("fp"))
      .groupBy($"fp").agg(min($"doc_id").as("owner_id"))
      .withColumn("pt", pmod(xxhash64($"fp"), lit(16L)).cast("int"))
    SnapshotStore.init(spark, root, fps($"doc_id" % 4 === 0), "pt")

    // the long-running training job pins its corpus version NOW —
    // BOTH faces: the DataFrame pin and the SQL view
    val pinned = SnapshotStore.current(spark, root)
    SnapshotStore.registerVersionView(spark, root, "pin_spec_train",
      pinned.version)
    val want = SnapshotStore.read(spark, root, pinned)
      .select($"fp", $"owner_id").as[(String, Long)].collect().toSet

    // ...while the live ingest loop advances the store K=4 commits
    // (3 micro-batches + 1 interloping maintenance commit), vacuuming
    // with a retention window that KEEPS the pinned version readable
    val dir = Files.createTempDirectory("loop_snap_pin_src")
    stageFile(docs.filter($"doc_id" % 4 === 1), dir, "b0.parquet",
      1700000000000L)
    stageFile(docs.filter($"doc_id" % 4 === 2), dir, "b1.parquet",
      1700000100000L)
    stageFile(docs.filter($"doc_id" % 4 === 3), dir, "b2.parquet",
      1700000200000L)
    val q = DocStream.ingestCompactLoopSnapshot(spark,
        DocStream.readDocs(spark, dir.toString), root,
        vacuumEvery = 1, vacuumKeep = 8)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("loop_snap_pin_ckpt").toString)
      .start()
    q.awaitTermination()
    SnapshotStore.compact(spark, root,
      Seq(("pin-interloper", 999999L)).toDF("fp", "owner_id")
        .withColumn("pt", pmod(xxhash64($"fp"), lit(16L)).cast("int")),
      Seq("fp"), "pt")
    assert(SnapshotStore.current(spark, root).version >= pinned.version + 4,
      "fixture degenerate: the loop advanced fewer commits than claimed")

    // the pinned reader re-reads its EXACT version after every commit —
    // the reproducibility contract q_index_snapshot_timetravel oracles
    val gotDf = SnapshotStore.readAt(spark, root, pinned.version)
      .select($"fp", $"owner_id").as[(String, Long)].collect().toSet
    assert(gotDf === want, "the pinned DataFrame view drifted under the loop")
    val gotSql = spark.sql(
      "SELECT fp, owner_id FROM pin_spec_train")
      .as[(String, Long)].collect().toSet
    assert(gotSql === want, "the pinned SQL view drifted under the loop")

    // vacuum honoring the retention window: keep enough versions and the
    // pin survives; tighten past it and the pin is REFUSED (loudly dead,
    // not silently wrong) — the grace contract's two sides
    SnapshotStore.vacuum(spark, root, keepVersions = 8)
    assert(SnapshotStore.readAt(spark, root, pinned.version)
      .select($"fp", $"owner_id").as[(String, Long)].collect().toSet === want)
    SnapshotStore.vacuum(spark, root, keepVersions = 1)
    intercept[Exception] {
      SnapshotStore.readAt(spark, root, pinned.version).collect()
    }
    spark.catalog.dropTempView("pin_spec_train")
  }

  test("scheduled packing inside the loop: the accreted per-batch files " +
      "consolidate without changing a row, and the loop keeps admitting " +
      "across its own packs") {
    import graft.sources.SnapshotStore
    val root = Files.createTempDirectory("loop_snap_pack").resolve("store")
      .toString
    val docs = Tables.table(spark, sf0001, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    def fps(slice: Int) = docs.filter($"doc_id" % 4 === slice)
      .select($"doc_id",
        coalesce(graft.Clean.fingerprint($"text"), lit("")).as("fp"))
      .groupBy($"fp").agg(min($"doc_id").as("owner_id"))
      .withColumn("pt", pmod(xxhash64($"fp"), lit(8L)).cast("int"))
    SnapshotStore.init(spark, root, fps(0), "pt")

    val dir = Files.createTempDirectory("loop_snap_pack_src")
    (1 to 3).foreach(sl =>
      stageFile(docs.filter($"doc_id" % 4 === sl), dir,
        s"b${sl - 1}.parquet", 1700000000000L + sl * 100000))
    // pack after every second batch, never vacuum (so the spec can see
    // both the fragments' history and the packed present)
    val q = DocStream.ingestCompactLoopSnapshot(spark,
        DocStream.readDocs(spark, dir.toString), root, parts = 8,
        vacuumEvery = 0, packEvery = 2)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("loop_snap_pack_ckpt").toString)
      .start()
    q.awaitTermination()

    // keep-first over init + the three batches, in order
    val expect = (1 to 3).foldLeft(fps(0).drop("pt")) { (acc, sl) =>
      acc.unionByName(fps(sl).drop("pt").join(acc, Seq("fp"), "left_anti"))
    }.as[(String, Long)].collect().toSet
    val got = SnapshotStore.read(spark, root)
      .select($"fp", $"owner_id").as[(String, Long)].collect().toSet
    assert(got === expect, "packing inside the loop changed the store")
    // the scheduled pack engaged: no partition holds more than the
    // files accreted SINCE its last pack (2 batches' worth), strictly
    // fewer than the 4 unpacked commits would have left
    val byDir = SnapshotStore.current(spark, root).files
      .groupBy(_.takeWhile(_ != '/'))
    val maxFiles = byDir.values.map(_.size).max
    assert(maxFiles <= 2,
      s"scheduled packing never engaged: $byDir")
  }
}
