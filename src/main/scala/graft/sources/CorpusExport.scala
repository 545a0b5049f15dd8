package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The training-data EXPORT path — q_shard_assign's scaladoc promise
  * made real: at scale the per-shard `pos` window becomes write-time
  * `sortWithinPartitions` into per-shard files, and training order is
  * implicit in FILE ORDER. This object materializes exactly that
  * layout, so "the designed 100 TB route" is the implemented one:
  *
  *  - every document gets the deterministic md5 shuffle key
  *    ([[graft.queries.CurationQueries.shuffleKey]] — the SAME
  *    definition q_shard_assign reports, so the report IS the
  *    export's manifest);
  *  - `repartition(shard)` puts each shard's rows in one task (one
  *    parquet file per shard directory — the property that makes file
  *    order well-defined);
  *  - `sortWithinPartitions(shard, key, doc_id)` orders each file by
  *    the shuffle key, destroying crawl-order locality exactly as the
  *    assignment query specifies;
  *  - `partitionBy(shard)` gives readers per-shard directories: a
  *    1000-worker training job reads shard directories independently,
  *    no coordination, reproducible order.
  *
  * No global sort anywhere: the one exchange is the shard
  * repartition, and each task sorts only its own shard's slice —
  * at 100 TB the shard count rises so slices stay spillable, nothing
  * else changes (the q_shard_assign scale note, now executable).
  * CorpusExportSpec proves the contract: per-shard FILE ORDER read
  * back equals q_shard_assign's `pos` order, bit-for-bit. */
object CorpusExport {

  /** The export MANIFEST (q_corpus_export): one row per shard with doc
    * count, character mass, and an md5 chain over the shard's doc_ids in
    * training order — the audit record that proves a written corpus is
    * the one the assignment specifies. The chain replays
    * [[writeSharded]]'s exact order ((shuffle key, doc_id) ascending =
    * q_shard_assign's `pos` order), so comparing this frame against
    * chains computed from the written files' FILE ORDER (CorpusExportSpec
    * does exactly that) certifies the layout end to end, and the DuckDB
    * oracle replays the whole manifest in SQL — the export path's output
    * contract sits under the same hash gate as every query.
    *
    * Scale shape: ONE exchange (the shard groupBy — same key the export
    * write itself shuffles on) and a per-shard sort of the collected
    * (key, doc_id) pairs inside the agg buffer. The buffer holds one
    * shard's id list — bounded because shard COUNT scales with the
    * corpus (the q_shard_assign sizing rule: thousands of shards at
    * 100 TB keeps each slice task-sized); at true scale the production
    * variant folds the chain incrementally at write time per file and
    * this query remains the independent audit over the same arithmetic. */
  def manifest(docs: DataFrame, shards: Int = 16): DataFrame =
    docs
      .select(col("doc_id"),
        coalesce(length(col("text")), lit(0)).cast("long").as("__chars"))
      .withColumn("__key", graft.queries.CurationQueries.shuffleKey)
      .withColumn("shard",
        pmod(col("__key"), lit(shards.toLong)).cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__chars")).as("char_mass"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("__key"), col("doc_id")))),
            x => x.getField("doc_id").cast("string")),
          ",")).as("id_chain_md5"))
      .orderBy("shard")

  /** Right-to-be-forgotten on the EXPORTED corpus — the
    * [[SnapshotStore.retract]] fold specialized to the training
    * files themselves: remove `deadIds` from a [[writeSharded]] layout
    * rewriting ONLY their shards. The shuffle key is deterministic in
    * doc_id, so the delete-list NAMES its shard directories (the
    * partition-routing property retraction rests on); each affected
    * shard is re-written through the exact writeSharded order
    * (repartition + sortWithinPartitions on the recomputed key), so
    * per-shard FILE ORDER remains the q_shard_assign order restricted
    * to survivors — the training-order contract survives the deletion
    * (ForgetExportSpec pins both: untouched shards byte-identical,
    * rewritten shards still file-ordered). Shards whose every doc dies
    * have their directories dropped (dynamic overwrite would keep
    * them). Returns the number of shards rewritten or dropped. */
  def forgetDocs(outDir: String, deadIds: DataFrame,
                 shards: Int = 16): Int = {
    val spark = deadIds.sparkSession
    val affected = deadIds
      .withColumn("__key", graft.queries.CurationQueries.shuffleKey)
      .select(pmod(col("__key"), lit(shards.toLong)).cast("int").as("shard"))
      .distinct().collect().map(_.getInt(0))
    if (affected.isEmpty) return 0
    val survivors = spark.read.parquet(outDir)
      .filter(col("shard").isin(affected.toIndexedSeq: _*))
      .join(deadIds.select(col("doc_id")), Seq("doc_id"), "left_anti")
      // sever lineage from the files the overwrite replaces
      .localCheckpoint()
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      survivors
        .withColumn("__key", graft.queries.CurationQueries.shuffleKey)
        .repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col("__key"), col("doc_id"))
        .drop("__key")
        .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(outDir)
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val alive = survivors.select(col("shard")).distinct().collect()
      .map(_.getInt(0)).toSet
    val fullyDead = affected.filterNot(alive)
    if (fullyDead.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(outDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fullyDead.foreach { v =>
        // verified delete: a shard directory that survives would keep
        // serving training files containing the to-be-forgotten docs —
        // fail loudly rather than report the forget as done
        val dir = new org.apache.hadoop.fs.Path(root, s"shard=$v")
        if (fs.exists(dir))
          require(fs.delete(dir, true),
            s"failed to drop all-victims shard directory $dir")
        require(!fs.exists(dir),
          s"all-victims shard directory survived the forget: $dir")
      }
    }
    affected.length
  }

  /** Write `docs` (any frame with a doc_id column) as a sharded,
    * shuffle-ordered parquet corpus under `outDir`. */
  def writeSharded(docs: DataFrame, outDir: String,
                   shards: Int = 16): Unit =
    docs
      .withColumn("__key", graft.queries.CurationQueries.shuffleKey)
      .withColumn("shard",
        pmod(col("__key"), lit(shards.toLong)).cast("int"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("__key"), col("doc_id"))
      .drop("__key")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(outDir)
}
