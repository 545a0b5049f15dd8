package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.{SparkTestBase, Tables}
import graft.streaming.StageFiles.stageFile

/** Every live media-dedup face ([[DocStream.mediaDedup]] under a banded
  * codec, [[DocStream.frameDedup]] under a frame codec) must agree with
  * its batch twin (the codec's q_media_*_incremental) when the stream
  * replays the batch query's increment: every arriving payload is
  * judged against the STATIC history index only, so the admitted sets
  * must be identical across micro-batch boundaries — with zero state
  * rows. One replay loop runs over the codec table; each test below is
  * one row of it. */
class MediaStreamSpec extends SparkTestBase {
  import spark.implicits._
  import graft.queries.MediaQueries

  /** One codec's live face: `index` builds the cached history index
    * from the history docs, `face` streams the arrivals against it,
    * `query` names the batch twin, and `extra` runs the row's further
    * checks on the sink table and the admitted set. */
  private case class Replay(tag: String, query: String,
      index: DataFrame => DataFrame,
      face: (DataFrame, DataFrame) => DataFrame,
      extra: (DataFrame, Set[Long]) => Unit = (_, _) => ())

  private def band(tag: String, c: MediaQueries.BandCodec, query: String) =
    Replay(tag, query, DocStream.prepareMediaIndex(_, c),
      (arrivals, index) =>
        DocStream.mediaDedup(spark, arrivals, index, c).toDF())

  private def frame(tag: String, c: MediaQueries.FrameCodec, query: String) =
    Replay(tag, query, DocStream.prepareFrameIndex(_, c),
      (arrivals, index) =>
        DocStream.frameDedup(spark, arrivals, index, c).toDF())

  private val replays: Seq[(String, Seq[Replay])] = Seq(
    // the byte-grid aHash face, whose batch twin the DuckDB oracle
    // hash-matches: every arrival is also judged exactly once
    ("streamed media dedup equals the batch incremental on the " +
      "replayed increment, across micro-batches, with zero state") -> Seq(
      band("phash", MediaQueries.Phash, "q_media_phash_incremental")
        .copy(extra = (sink, _) => {
          val docs = Tables.table(spark, sf0001, "documents")
          val all = sink.select($"item_id").as[Long].collect()
          assert(all.length === all.distinct.length)
          assert(all.length === docs.filter($"doc_id" % 10 === 0 &&
            $"text".isNotNull && length($"text") > 0).count())
        })),
    // every arrival wraps into a genuine RIFF container and WavCodec
    // parses it inside the stateless decode pass
    ("the REAL-decoder stream face equals its batch incremental on " +
      "the replayed increment, across micro-batches, with zero state") ->
      Seq(band("wav", MediaQueries.Wav, "q_media_wav_incremental")),
    // the image twin: genuine 24-bpp BMPs through BmpCodec
    ("the BMP stream face equals its batch incremental on the " +
      "replayed increment, across micro-batches, with zero state") ->
      Seq(band("bmp", MediaQueries.Bmp, "q_media_bmp_incremental")),
    // the compressed-codec twins: genuine PNG/JPEG containers (the
    // JDK's real inflate / IDCT paths) or format-7 µ-law WAVs (the real
    // G.711 expansion); the jpeg pin is the rows-only face's
    // batch/stream agreement anchor
    ("the compressed-format stream faces (PNG/JPEG/µ-law) equal their " +
      "batch incrementals on the replayed increment, with zero state") ->
      Seq(band("png", MediaQueries.Png, "q_media_png_incremental"),
        band("jpeg", MediaQueries.Jpeg, "q_media_jpeg_incremental"),
        band("ulaw", MediaQueries.Ulaw, "q_media_ulaw_incremental")),
    // the video twin at the frame-signature grain: exact aligned
    // (frame_idx, sig) collisions against the static index decide
    // admission, and rejections carry blame with at least the admit
    // threshold
    ("the AVI stream face equals its batch incremental on the " +
      "replayed increment, across micro-batches, with zero state") -> Seq(
      frame("avi", MediaQueries.Avi, "q_media_avi_incremental")
        .copy(extra = (sink, _) => {
          val rejected = sink.filter(!$"admitted")
          assert(rejected.filter($"dup_of".isNull ||
            $"matched" < MediaQueries.VideoMinMatched).count() === 0L)
        })),
    // the compressed-video twin: each '00dc' frame decodes through the
    // real JPEG pipeline; the lossless twin agrees on this corpus — the
    // anchor relationship of the rows-only family, checked live
    ("the MJPEG stream face equals its batch incremental on the " +
      "replayed increment, with zero state") -> Seq(
      frame("mjpeg", MediaQueries.Mjpeg, "q_media_avi_mjpeg_incremental")
        .copy(extra = (_, admitted) => {
          val lossless = graft.SparkEntry.queries("q_media_avi_incremental")(
              spark, sf0001)
            .as[Long].collect().toSet
          assert(admitted === lossless,
            "the MJPEG and lossless admit sets diverged on the twin corpus")
        }))
  )

  for ((name, codecs) <- replays) test(name) {
    val dir = Files.createTempDirectory("media_stream_inc")
    val docs = Tables.table(spark, sf0001, "documents")
    // the batch query's split: history = doc_id % 10 <> 0; the
    // increment replays as TWO micro-batches
    stageFile(docs.filter($"doc_id" % 10 === 0 && $"doc_id" < 250),
      dir, "b0.parquet", 1700000000000L)
    stageFile(docs.filter($"doc_id" % 10 === 0 && $"doc_id" >= 250),
      dir, "b1.parquet", 1700000100000L)

    for (r <- codecs) {
      val index = r.index(docs.filter($"doc_id" % 10 =!= 0))
      try {
        val sink = s"media_dedup_${r.tag}"
        val q = EventStream.runToMemory(
          r.face(DocStream.readDocs(spark, dir.toString), index), sink,
          OutputMode.Append())
        q.processAllAvailable()
        val stateRows = q.recentProgress
          .flatMap(p => Option(p.stateOperators).toSeq.flatten)
          .map(_.numRowsTotal).foldLeft(0L)(math.max)
        q.stop()
        assert(stateRows === 0L,
          s"the ${r.tag} verdict face must keep no state")

        val admitted = spark.table(sink)
          .filter($"admitted").select($"item_id").as[Long].collect().toSet
        val want = graft.SparkEntry.queries(r.query)(spark, sf0001)
          .as[Long].collect().toSet
        assert(admitted === want,
          s"${r.tag} stream face diverges from ${r.query}")
        r.extra(spark.table(sink), admitted)
      } finally index.unpersist()
    }
  }

  test("planted fixture: byte-copy and near variant rejected with " +
      "blame, both judged against the banded history") {
    val base = "the quick brown fox jumps over the lazy dog " * 5
    val near = base.replaceFirst("quick", "QUICK") // Hamming 3, shares band 3
    val far = "ZZZZ    aaaa    " * 14              // Hamming 32 from base
    def docsOf(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .select($"doc_id", $"text", lit("en").as("lang"),
          lit("s1").as("source"), length($"text").cast("long").as("n_chars"))
    val hist = docsOf(Seq((1L, base), (4L, far)))
    val dir = Files.createTempDirectory("media_stream_fx")
    stageFile(docsOf(Seq((10L, base), (13L, near), (14L, far))),
      dir, "b0.parquet", 1700000000000L)

    val index = DocStream.prepareMediaIndex(hist, MediaQueries.Phash)
    try {
      val out = DocStream.mediaDedup(spark,
        DocStream.readDocs(spark, dir.toString), index,
        MediaQueries.Phash).toDF()
      val q = EventStream.runToMemory(out, "media_dedup_fx",
        OutputMode.Append())
      q.processAllAvailable(); q.stop()
      val got = spark.table("media_dedup_fx")
        .select($"item_id", $"admitted", $"dup_of", $"hamming")
        .collect()
        .map(r => r.getAs[Long]("item_id") ->
          (r.getAs[Boolean]("admitted"),
            Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue),
            Option(r.getAs[java.lang.Long]("hamming")).map(_.longValue)))
        .toMap
      assert(got(10L) === ((false, Some(1L), Some(0L)))) // byte copy
      assert(got(13L) === ((false, Some(1L), Some(3L)))) // near variant
      assert(got(14L) === ((false, Some(4L), Some(0L)))) // copy of far
    } finally index.unpersist()
  }
}
