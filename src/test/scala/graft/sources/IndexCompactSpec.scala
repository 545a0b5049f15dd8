package graft.sources

import graft.{SparkTestBase, Tables}
import graft.operators.IndexCompact

/** The index-maintenance op's contract, measured where it matters:
  * after [[IndexCompact.compact]] appends a round's admits into the
  * bucketed fingerprint history, (a) the table contents equal the
  * keep-first union an oracle certifies, (b) re-compacting the same
  * admits appends NOTHING (idempotence — re-runs of a failed round are
  * safe), and (c) THE point of the exercise: the NEXT increment's
  * anti-join against the compacted table still plans exactly ONE
  * exchange — Spark's bucketed scan keeps its hash-distribution
  * contract across appended per-bucket files, so the LayoutSpec
  * one-exchange pin survives maintenance instead of silently decaying
  * into a full re-shuffle after the first nightly append. */
class IndexCompactSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("compact appends exactly the unseen keys, idempotently, and the " +
      "next increment still anti-joins on one exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.table(spark, sf0001, "documents")
        .select($"doc_id",
          coalesce(graft.Clean.fingerprint($"text"), lit("")).as("fp"))
      // three generations: history (%3==0 docs), round-1 admits
      // (%3==1), round-2 increment (%3==2)
      def gen(k: Int) = docs.filter($"doc_id" % 3 === k)
        .groupBy($"fp").agg(min($"doc_id").as("owner_id"))
      Layout.writeBucketed(gen(0), "fp_idx_spec", "fp")
      val before = spark.table("fp_idx_spec").count()

      val appended = IndexCompact.compact(
        spark, "fp_idx_spec", gen(1), Seq("fp"))
      val expect = gen(0).unionByName(
          gen(1).join(gen(0), Seq("fp"), "left_anti"))
        .as[(String, Long)].collect().toSet
      val got = spark.table("fp_idx_spec")
        .as[(String, Long)].collect().toSet
      assert(got === expect)
      assert(appended === got.size - before)
      assert(appended > 0, "fixture degenerate: no new keys admitted")

      // idempotence: the same admits again add nothing
      assert(IndexCompact.compact(
        spark, "fp_idx_spec", gen(1), Seq("fp")) === 0L)
      assert(spark.table("fp_idx_spec").count() === got.size)

      // the re-pin: round 2's admit anti-join (raw increment rows, the
      // LayoutSpec device) against the COMPACTED table — history base
      // plus appended bucket files — plans one exchange, the
      // increment's, with the history still read in place as a
      // bucketed scan
      val survivors = docs.filter($"doc_id" % 3 === 2)
        .join(spark.table("fp_idx_spec"), Seq("fp"), "left_anti")
      survivors.count() // finalize AQE
      val plan = survivors.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles === 1,
        s"expected 1 exchange (increment only) after compaction:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"history side lost its bucketed scan after the append:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS fp_idx_spec")
    }
  }

  test("compact handles composite identity over a prefix bucket spec " +
      "(the media band-index shape)") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // band rows: identity = (band_idx, band_val, hist_id), physical
      // layout bucketed on the (band_idx, band_val) probe key
      def rows(ids: Range) = ids.flatMap(i =>
        (0 until 4).map(b => (b, (i % 7).toLong * 16 + b, i.toLong)))
        .toDF("band_idx", "band_val", "hist_id")
      rows(0 until 300).write.mode("overwrite")
        .bucketBy(8, "band_idx", "band_val")
        .sortBy("band_idx", "band_val")
        .format("parquet").saveAsTable("band_idx_spec")
      val before = spark.table("band_idx_spec").count()
      // admits overlap the history on 100 items and add 100 new ones —
      // the overlapping TRIPLES must drop, the new ones append
      val appended = IndexCompact.compact(
        spark, "band_idx_spec", rows(200 until 400),
        keys = Seq("band_idx", "band_val", "hist_id"),
        bucketCols = Seq("band_idx", "band_val"))
      assert(appended === 400L) // 100 new items x 4 bands
      assert(spark.table("band_idx_spec").count() === before + 400)
      val expect = rows(0 until 400).as[(Int, Long, Long)].collect().toSet
      assert(spark.table("band_idx_spec")
        .as[(Int, Long, Long)].collect().toSet === expect)
      // idempotent; and the next increment's probe join on the bucket
      // key still reads the history in place
      assert(IndexCompact.compact(spark, "band_idx_spec",
        rows(200 until 400), Seq("band_idx", "band_val", "hist_id"),
        bucketCols = Seq("band_idx", "band_val")) === 0L)
      val probe = rows(400 until 410)
        .join(spark.table("band_idx_spec"), Seq("band_idx", "band_val"))
      probe.count()
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"band history lost its bucketed scan after the append:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS band_idx_spec")
    }
  }

  test("a missing observed metric throws unless AQE removed its node") {
    // AQE removes the node: the stage under the repartition runs empty
    // (rand() < -1 cannot be folded away at plan time), so the aggregate
    // over it becomes an empty relation and the CollectMetrics node
    // inside that stage is gone from the final plan
    val removed = spark.range(0, 1000, 1, 4).filter(rand(7) < -1.0)
      .observe("spec_rows_removed", count(lit(1)).as("rows"))
      .repartition(4, $"id").groupBy($"id").count()
    assert(removed.collect().isEmpty)
    val qe = removed.queryExecution
    assert(!qe.observedMetrics.contains("spec_rows_removed"),
      s"fixture degenerate: the metric was delivered\n${qe.executedPlan}")
    assert(IndexCompact.observedRows(qe, "spec_rows_removed") === 0L)

    // nothing removed it and nothing delivered it: fail loudly, never 0
    val plain = spark.range(10).toDF()
    plain.collect()
    val e = intercept[IllegalStateException] {
      IndexCompact.observedRows(plain.queryExecution, "spec_rows_missing")
    }
    assert(e.getMessage.contains("spec_rows_missing"))
  }
}

