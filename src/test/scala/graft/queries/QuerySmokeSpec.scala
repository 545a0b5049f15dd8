package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Every declared query must run at sf0.001; row-returning queries must
  * return rows (the driver's t1 smoke does the same for `entry`). */
class QuerySmokeSpec extends SparkTestBase {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query carries an oracle or is on the documented rows-only list") {
    // The driver records only a weak rows>0 check for oracle-less queries,
    // so shipping one by OMISSION must fail here. Additions to this list
    // need what its members have: seeded hashing that no external engine
    // replays, plus an external anchor (a *_sql twin running the same
    // pipeline under an oracle-able hash family, a recursive-CTE twin, or
    // a quantitative error-bound spec).
    // (The trained-quantizer trio — q_ann_ivf, q_semdedup_trained,
    // q_semdedup_incremental_trained — left this list in r12: the
    // fixed-point tick trainer made the whole training loop
    // SQL-replayable, so they now carry hard oracles.)
    // (q_dedup_clusters and q_ann_lsh left this list in r18: their SQL
    // twins carry the hard oracle for the identical pipelines, so the
    // seeded faces moved to SparkEntry.allQueries-only — still benched,
    // probed, and spec-pinned, no longer dumped as rows-only entries.)
    val rowsOnly = Set(
      "q_dedup_minhash_lsh",   // twin: q_dedup_minhash_sql (green)
      "q_dedup_simhash",       // twin: q_dedup_simhash_sql (green)
      "q_agg_approx_distinct", // HLL: 3*rsd error-bound spec
      "q_agg_approx_quantiles",// GK: rank-error-bound spec
      // the LOSSY-codec faces: no SQL replay of a DCT codec exists IN
      // PRINCIPLE. Anchors: q_media_png_dedup/_incremental are the
      // hash-matched LOSSLESS twins of the identical pipeline (same
      // grid, same device, swap the codec — identical 16-pair verdict
      // set at sf0.01), q_media_jpeg_decode hash-matches the round
      // trip's geometry + error-bound certification, ImageIoCodecSpec
      // pins the planted re-encode fixture inside the measured ring,
      // and MediaStreamSpec pins batch/stream agreement
      "q_media_jpeg_dedup",
      "q_media_jpeg_incremental",
      // the MJPEG video face rides the same lossy-codec adjudication:
      // q_media_avi_dedup is the hash-matched LOSSLESS twin of the
      // identical container+device pipeline (swap the frame codec),
      // q_media_avi_mjpeg_decode hash-matches the container geometry +
      // per-frame error-bound certification, and AviMjpegSpec pins the
      // planted re-encode fixture (q=0.8 recovered, q=0.7 boundary
      // escape measured) and twin-verdict agreement
      "q_media_avi_mjpeg_dedup",
      // the ingest face rides the same adjudication: the lossless
      // q_media_avi_incremental is the hash-matched twin of the
      // identical admit pipeline, and DocStream.frameDedup under the
      // Mjpeg codec is the live twin (MediaStreamSpec pins stream ==
      // batch on a replayed split)
      "q_media_avi_mjpeg_incremental"
    )
    val unanchored = SparkEntry.queries.keySet
      .diff(SparkEntry.oracleSql.keySet).diff(rowsOnly)
    assert(unanchored.isEmpty,
      s"queries with neither oracle nor rows-only rationale: $unanchored")
    val stale = rowsOnly.diff(SparkEntry.queries.keySet) ++
      rowsOnly.intersect(SparkEntry.oracleSql.keySet)
    assert(stale.isEmpty, s"stale rows-only entries: $stale")
  }

  test("internal-only production variants stay benchable and dump-free") {
    val internal = SparkEntry.allQueries.keySet.diff(SparkEntry.queries.keySet)
    assert(internal === Set("q_dedup_clusters", "q_ann_lsh"), internal)
    // and never grow an oracle silently (an oracle would mean they
    // belong back in the dumped set)
    assert(internal.intersect(SparkEntry.oracleSql.keySet).isEmpty)
  }

  SparkEntry.allQueries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty)
      // near-dup candidate queries may legitimately return zero pairs
      val mayBeEmpty = Set("q_dedup_ngram_jaccard", "q_dedup_minhash_lsh",
        "q_dedup_simhash", "q_dedup_embedding", "q_anti_fk",
        "q_dedup_containment",
        // the real-decode signatures' measured rings (WavMaxHamming /
        // BmpMaxHamming / UlawMaxHamming scaladocs) hold pairs at
        // sf0.01; the 50-doc corpus may have none
        "q_media_wav_dedup", "q_media_bmp_dedup", "q_media_ulaw_dedup",
        "q_media_png_dedup", "q_media_jpeg_dedup",
        "q_media_avi_mjpeg_dedup")
      if (!mayBeEmpty.contains(name)) assert(df.count() > 0, s"$name empty")
      else assert(df.count() >= 0)
    }
  }
}
