package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.CorpusDrift

/** Streaming incremental novelty — the ingest-time lift of the batch
  * first-seen pipeline (q136/q146): every micro-batch of documents is
  * scored against the first-seen shingle index accumulated from all
  * PRIOR batches ([[graft.ops.CorpusDrift.noveltyAgainstIndexBloom]] —
  * the bloom pre-strike path, so a mostly-novel crawl batch skips the
  * index join for its miss rows), then contributes its own first-seen
  * delta to the index.
  *
  * Cross-batch state lives in storage (a [[DeltaStore]] delta
  * directory folded by min(first_doc)), not the state store — the
  * first-seen index is corpus-vocabulary-sized and must outlive any
  * watermark, the same reasoning as [[NearDupStream.dedupOnIngest]]'s
  * history. For doc_ids that increase monotonically across batches,
  * the unioned per-batch scores equal the one-shot
  * [[graft.ops.CorpusDrift.ngramNovelty]] over the concatenated corpus
  * (the batch-kernel identity is spec-proven; the spec here drives it
  * through a real checkpointed stream, replays included).
  *
  * Exactly-once by deterministic rewrite: a replayed micro-batch
  * overwrites its own `batch_id=` partitions in both the index and the
  * score output, and scoring reads only partitions with
  * `batch_id < current` — so a batch that crashed between its two
  * writes replays byte-identically (its own half-written delta can
  * never leak into its own history view).
  */
object NoveltyStream {

  /** Score a streaming (doc_id, text) frame against the accumulated
    * first-seen index and maintain the index, via foreachBatch.
    * Per-doc novelty rows land in `outDir/batch_id=<k>`; the index
    * deltas in `indexDir/batch_id=<k>`.
    */
  def scoreAndIndex(docs: DataFrame, indexDir: String, outDir: String,
                    checkpointDir: String, n: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scoreBatch(batch, batchId, indexDir, outDir, n)
      }
      .outputMode("update")
      .start()

  /** One micro-batch of [[scoreAndIndex]], named so replay idempotence
    * is directly testable.
    */
  private[streaming] def scoreBatch(batch: DataFrame, batchId: Long,
                                    indexDir: String, outDir: String,
                                    n: Int): Unit = {
    val spark = batch.sparkSession
    val index = readFirstSeen(spark, indexDir, beforeBatch = Some(batchId))
    DeltaStore.writeBatch(CorpusDrift.noveltyAgainstIndexBloom(index, batch, n),
      outDir, batchId)
    DeltaStore.writeBatch(CorpusDrift.buildFirstSeen(batch, n),
      indexDir, batchId)
  }

  /** Current first-seen view of the streaming-maintained index:
    * min(first_doc) per shingle hash over the delta partitions
    * (min is the idempotent fold — leftover superseded partitions
    * after a compaction crash change nothing). `beforeBatch` excludes
    * partitions at or past a batch id — the replay guard: a batch
    * scoring itself must not see its own (possibly half-written)
    * delta. An absent index is a valid empty index (nothing has been
    * seen), unlike the band index.
    */
  def readFirstSeen(spark: SparkSession, indexDir: String,
                    beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.readScopedOr(spark, indexDir, beforeBatch,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("sh",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("first_doc",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("batch_id",
            org.apache.spark.sql.types.LongType))))
      .groupBy(col("sh")).agg(min(col("first_doc")).as("first_doc"))

  /** Fold delta partitions into `batch_id=0` with the min merge.
    * `keepLatest = true` is LOAD-BEARING here: the newest partition
    * may belong to a batch whose checkpoint has not committed, and
    * folding it away would defeat the `batch_id < current` replay
    * guard — the replayed batch would find its own shingles in
    * batch 0 and score n_novel = 0 (spec-pinned).
    */
  def compactFirstSeen(spark: SparkSession, indexDir: String): Unit =
    DeltaStore.compact(spark, indexDir, raw =>
      raw.groupBy(col("sh")).agg(min(col("first_doc")).as("first_doc")),
      keepLatest = true)
}
