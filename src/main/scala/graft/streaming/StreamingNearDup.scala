package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.dedup.MinHash

/** Streaming near-duplicate suppression: the ingest-time counterpart of the
  * batch [[MinHash]] pair-finder, for "drop documents that near-dup match
  * anything already ingested" pipelines.
  *
  * Shape: `foreachBatch` + a persistent parquet band-key index. Per
  * micro-batch the batch pair-finder's per-document banding kernel
  * ([[MinHash.bandKeys]]) runs unchanged, new docs' band keys are equi-joined
  * against the index, matching docs are dropped as near-dups, survivors'
  * keys are appended to the index.
  *
  * Scale rationale: the index holds `numBands` longs per surviving doc —
  * O(corpus), but columnar, partitioned, and only ever touched by
  * broadcast/shuffle equi-joins on a single long column; state never lives
  * on the driver or in executor heap (unlike a `flatMapGroupsWithState`
  * formulation, whose per-key state store would hold the same data with far
  * more overhead and no reusability outside the one query). The index is
  * also directly usable by batch jobs — ingest and backfill share one
  * near-dup horizon. Within a batch, the FIRST doc (min id) of a colliding
  * group survives, matching the batch pair-finder's keep-lowest convention.
  *
  * At-least-once note: a batch replayed after a crash between `process` and
  * the index append re-emits its survivors (the contract of every
  * foreachBatch sink); making the append atomic with the sink write is the
  * caller's transactional-sink concern, same as the reference's ack model.
  */
object StreamingNearDup {

  /** Wire a doc stream through near-dup suppression into `process`.
    *
    * @param indexPath parquet directory holding seen band keys (created on
    *                  first batch; pre-seed it from a batch job to carry an
    *                  existing corpus horizon)
    * @param process   sink for each micro-batch's surviving (novel) docs
    */
  def foreachDedupedBatch(stream: DataFrame, idCol: String, textCol: String,
                          indexPath: String, shingleN: Int = 3,
                          numHashes: Int = 64, numBands: Int = 16)(
      process: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val bands = MinHash.bandKeys(batch, idCol, textCol, shingleN, numHashes, numBands)
        .persist()
      try {
        // distinguish "no index yet" (first batch) from a genuine read
        // failure: swallowing the latter would silently skip the vs-index
        // check and pollute the index with near-dups of ingested docs
        val indexHadoopPath = new org.apache.hadoop.fs.Path(indexPath)
        val fs = indexHadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val seen: Option[DataFrame] =
          if (fs.exists(indexHadoopPath)) Some(spark.read.parquet(indexPath)) else None

        // dropped if any band key collides with the index or with an
        // earlier (lower-id) doc of this same batch
        val dupVsIndex = seen.map(s =>
            bands.join(s.hint("shuffle_hash"), Seq("band", "band_key"), "left_semi")
              .select(col("id")).distinct())
          .getOrElse(bands.select(col("id")).limit(0))
        val firstPerBucket = bands.groupBy(col("band"), col("band_key"))
          .agg(min(col("id")).as("keep_id"))
        val dupInBatch = bands.join(firstPerBucket, Seq("band", "band_key"))
          .filter(col("id") > col("keep_id"))
          .select(col("id")).distinct()
        val dupIds = dupVsIndex.unionByName(dupInBatch).distinct()

        val survivors = batch.join(dupIds.withColumnRenamed("id", idCol),
          Seq(idCol), "left_anti")
        process(survivors, batchId)

        bands.join(dupIds, Seq("id"), "left_anti")
          .select(col("band"), col("band_key"))
          .write.mode(SaveMode.Append).parquet(indexPath)
      } finally bands.unpersist()
    }
}
