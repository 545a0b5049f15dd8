package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.{SparkTestBase, Tables}
import graft.streaming.StageFiles.stageFile

/** The streaming IVF-PQ serving face ([[DocStream.annSearchPq]]) must
  * agree with the batch index row for row when the stream replays the
  * batch query's probe set: q_ann_ivfpq's probes (vec_id < 10) arrive
  * as two mtime-ordered micro-batches, the CODE-ONLY corpus index and
  * the trained codebook are staged exactly as production stages them
  * (the codebook through a disk [[graft.sources.Artifacts]]
  * round-trip — bit-lossless, all longs), and the served (query, rank,
  * neighbor, adist) rows must equal the batch pipeline's — which the
  * DuckDB oracle hash-matches — while the face keeps ZERO state rows. */
class AnnPqStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def corpusVecs = Tables.table(spark, sf0001, "embeddings")

  private lazy val books: Seq[(Int, Int, Seq[Long])] = {
    import graft.queries.{PqQueries, SimilarityQueries}
    PqQueries.pqCodebooks(SimilarityQueries.semDedupInput(spark, sf0001))
  }

  private lazy val cents: Seq[(Int, Seq[Double])] =
    graft.queries.SimilarityQueries.semCentroids(
      16, graft.queries.PqQueries.PqM * graft.queries.PqQueries.PqSubDim)

  test("streamed top-5 equals the batch q_ann_ivfpq ranking on the " +
      "replayed probe set, under a DISK-staged codebook, with zero state") {
    val artDir = Files.createTempDirectory("pq_artifacts").toString
    graft.sources.Artifacts.writeCodebook(books, spark, artDir)
    val staged = graft.sources.Artifacts.readCodebook(spark, artDir)
    assert(staged === books) // the handoff is bit-lossless (all longs)

    val dir = Files.createTempDirectory("vecs_stream_pq")
    stageFile(corpusVecs.filter($"vec_id" < 5), dir, "b0.parquet",
      1700000000000L)
    stageFile(corpusVecs.filter($"vec_id" >= 5 && $"vec_id" < 10),
      dir, "b1.parquet", 1700000100000L)

    val index = DocStream.prepareAnnIndexPq(corpusVecs, cents, staged)
    try {
      // the served index is code-only: no raw-vector column survives
      assert(index.columns.toSet === Set("cell", "vec_id", "poss"))
      val out = DocStream.annSearchPq(spark,
        DocStream.readEmbeddings(spark, dir.toString), index, cents,
        staged).toDF()
      val q = EventStream.runToMemory(out, "ann_pq_serve",
        OutputMode.Append())
      q.processAllAvailable()
      val stateRows = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsTotal).foldLeft(0L)(math.max)
      q.stop()
      assert(stateRows === 0L, "serving face must keep no state")

      val got = spark.table("ann_pq_serve")
        .select($"query_id", $"rank", $"neighbor_id", $"adist")
        .as[(Long, Int, Long, Long)].collect().toSet
      val want = graft.SparkEntry.queries("q_ann_ivfpq")(spark, sf0001)
        .as[(Long, Int, Long, Long)].collect().toSet
      assert(got === want)
      // non-vacuous: every probe was served
      assert(got.map(_._1) === (0L until 10L).toSet)
      got.groupBy(_._1).foreach { case (qid, rows) =>
        assert(rows.map(_._2) === (1 to rows.size).toSet, s"ranks of $qid")
      }
    } finally index.unpersist()
  }

  test("the RESIDUAL face: streamed top-5 equals the batch " +
      "q_ann_ivfpq_res ranking under BOTH disk-staged codebooks, with " +
      "zero state") {
    import graft.queries.{PqQueries, SimilarityQueries}
    val ticked = SimilarityQueries.withTicks(
        SimilarityQueries.semDedupInput(spark, sf0001))
      .select($"vec_id", $"tv")
    val coarse = PqQueries.trainBooksOn(ticked, 1,
      PqQueries.PqM * PqQueries.PqSubDim, PqQueries.CoarseK,
      PqQueries.PqIters)
    val rbooks = PqQueries.trainBooksOn(
      PqQueries.residualFrame(ticked, coarse)
        .select($"vec_id", $"rv".as("tv")),
      PqQueries.PqM, PqQueries.PqSubDim, PqQueries.PqK, PqQueries.PqIters)

    // the nightly double-trainer's handoff: two all-long parquet tables
    val artDir = Files.createTempDirectory("pqres_artifacts").toString
    graft.sources.Artifacts.writeCodebook(coarse, spark, s"$artDir/coarse")
    graft.sources.Artifacts.writeCodebook(rbooks, spark, s"$artDir/residual")
    val stagedC = graft.sources.Artifacts.readCodebook(spark, s"$artDir/coarse")
    val stagedR = graft.sources.Artifacts.readCodebook(spark,
      s"$artDir/residual")
    assert(stagedC === coarse && stagedR === rbooks)

    val dir = Files.createTempDirectory("vecs_stream_pqres")
    stageFile(corpusVecs.filter($"vec_id" < 5), dir, "b0.parquet",
      1700000000000L)
    stageFile(corpusVecs.filter($"vec_id" >= 5 && $"vec_id" < 10),
      dir, "b1.parquet", 1700000100000L)

    val index = DocStream.prepareAnnIndexPqRes(corpusVecs, stagedC, stagedR)
    try {
      assert(index.columns.toSet === Set("cell", "vec_id", "poss"))
      val out = DocStream.annSearchPqRes(spark,
        DocStream.readEmbeddings(spark, dir.toString), index, stagedC,
        stagedR).toDF()
      val q = EventStream.runToMemory(out, "ann_pqres_serve",
        OutputMode.Append())
      q.processAllAvailable()
      val stateRows = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsTotal).foldLeft(0L)(math.max)
      q.stop()
      assert(stateRows === 0L, "serving face must keep no state")

      val got = spark.table("ann_pqres_serve")
        .select($"query_id", $"rank", $"neighbor_id", $"adist")
        .as[(Long, Int, Long, Long)].collect().toSet
      val want = graft.SparkEntry.queries("q_ann_ivfpq_res")(spark, sf0001)
        .as[(Long, Int, Long, Long)].collect().toSet
      assert(got === want)
      assert(got.map(_._1) === (0L until 10L).toSet)

      // k = 0 is a valid 'no results' request on both PQ faces, as on
      // annSearch: zero hits per probe, no exception in the serve task
      val pqIndex = DocStream.prepareAnnIndexPq(corpusVecs, cents, books)
      try Seq(
        "ann_pq_k0" -> DocStream.annSearchPq(spark,
          DocStream.readEmbeddings(spark, dir.toString), pqIndex, cents,
          books, k = 0),
        "ann_pqres_k0" -> DocStream.annSearchPqRes(spark,
          DocStream.readEmbeddings(spark, dir.toString), index, stagedC,
          stagedR, k = 0)
      ).foreach { case (sink, served) =>
        val q0 = EventStream.runToMemory(served.toDF(), sink,
          OutputMode.Append())
        q0.processAllAvailable(); q0.stop()
        assert(spark.table(sink).count() === 0L, sink)
      } finally pqIndex.unpersist()
    } finally index.unpersist()
  }

  test("a probe that is not a corpus member is served from the code " +
      "index alone (no self-exclusion dependency, no raw-vector read)") {
    val dir = Files.createTempDirectory("vecs_stream_pq_ext")
    // re-key probe 0 far outside the corpus id space
    stageFile(corpusVecs.filter($"vec_id" === 0)
        .withColumn("vec_id", lit(100000L)),
      dir, "b0.parquet", 1700000000000L)
    val index = DocStream.prepareAnnIndexPq(corpusVecs, cents, books)
    try {
      val out = DocStream.annSearchPq(spark,
        DocStream.readEmbeddings(spark, dir.toString), index, cents,
        books).toDF()
      val q = EventStream.runToMemory(out, "ann_pq_serve_ext",
        OutputMode.Append())
      q.processAllAvailable(); q.stop()
      val got = spark.table("ann_pq_serve_ext")
        .select($"query_id", $"rank", $"neighbor_id", $"adist")
        .as[(Long, Int, Long, Long)].collect()
      assert(got.length === 5)
      assert(got.forall(_._1 == 100000L))
      // identical embedding to corpus vec 0, which is NOT excluded for
      // a foreign query id — its reconstruction is the probe's own
      // cells, so it must surface as the top neighbor
      assert(got.find(_._2 == 1).map(_._3).contains(0L))
    } finally index.unpersist()
  }
}
