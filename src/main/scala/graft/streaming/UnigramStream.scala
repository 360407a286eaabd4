package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.UnigramLm

/** Streaming unigram-tokenizer statistics — the ingest-time lift of
  * q192: every micro-batch of documents folds its (source, word)
  * occurrence counts into the cumulative store. That one table is the
  * unigram pipeline's COMPLETE sufficient statistic (word frequencies,
  * the piece vocabulary and its cut, the micro-nat lp map, every
  * Viterbi segmentation, and the per-source rollup all derive from
  * it), so maintaining the store IS maintaining the tokenizer;
  * [[currentSegmentation]] rebuilds the q192 report from accumulated
  * state without a corpus rescan. (The same table also feeds q194's
  * comparison — BPE merges train from its word marginals.)
  *
  * State shape is [[NbStream]]/[[KnStream]]'s vocabulary-keyed
  * id-index, keyed by (source, word): per key TOUCHED by a batch, the
  * CUMULATIVE count through that batch, latest-wins on batch_id —
  * O(delta)-written and leftover-suffix-proof, reads semi-joined on
  * the batch's keys BELOW the latest-wins window. Batch counting is
  * the batch kernel's own single definition
  * ([[UnigramLm.sourceWordCounts]]). Replay/crash contract is
  * [[NoveltyStream]]'s.
  *
  * PARITY (spec-pinned, bit-exact): after batch k the streamed store
  * equals [[UnigramLm.sourceWordCounts]] over the concatenation of
  * batches 0..k, and [[currentSegmentation]] equals the batch kernel
  * [[UnigramLm.unigramSegmentation]] over that prefix — same vocab
  * cut, same DP, same exact integers.
  */
object UnigramStream {

  private val swSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("word", StringType),
    StructField("swn", LongType),
    StructField("batch_id", LongType)))

  def monitor(docs: DataFrame, swDir: String,
              checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        updateBatch(batch, batchId, swDir)
      }
      .outputMode("update")
      .start()

  /** One micro-batch, named so replay idempotence is directly
    * testable. Batch cost: one pass over the batch (tokenize + count)
    * and one scoped store read semi-joined to the batch's keys — the
    * accumulated corpus is never rescanned.
    */
  private[streaming] def updateBatch(batch: DataFrame, batchId: Long,
                                     swDir: String): Unit = {
    val spark = batch.sparkSession
    val bc = UnigramLm.sourceWordCounts(batch)
    DeltaStore.writeBatch(
      DeltaStore.addToPrevious(spark, swDir, batchId, swSchema, bc,
        Seq("source", "word"), Seq("swn")).repartition(1),
      swDir, batchId)
  }

  /** Current cumulative (source, word) counts: latest-wins per key.
    * An absent store is a valid empty corpus.
    */
  def readCounts(spark: SparkSession, swDir: String,
                 beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.latestPerKey(
        DeltaStore.readScopedOr(spark, swDir, beforeBatch, swSchema),
        Seq("source", "word"))
      .select(col("source"), col("word"), col("swn"))

  /** The q192 report rebuilt from accumulated state — the batch
    * kernel's own derivation chain over the streamed counts.
    */
  def currentSegmentation(spark: SparkSession, swDir: String): DataFrame =
    UnigramStream.rebuild(spark, swDir, UnigramLm.segmentationFromCounts)

  /** The q199 hard-EM round rebuilt from accumulated state — the
    * streaming twin of [[UnigramLm.emSegmentation]], through the ONE
    * shared derivation ([[UnigramLm.emFromCounts]]). The (source,
    * word) count store is the EM round's complete sufficient
    * statistic too: the E-step runs over word TYPES (vocabulary-
    * bounded — never the accumulated corpus), so deriving it at read
    * time costs a type-table pass, not a rescan; folding per-batch
    * E-step counts instead would pin the store to ONE vocabulary
    * epoch, breaking the retrain-from-current-counts semantics q199
    * ships. Bit-exact parity with the batch kernel over the
    * concatenated prefix is spec-pinned through replay, compaction,
    * and the crash-backup window (UnigramStreamSpec).
    */
  def currentEmSegmentation(spark: SparkSession, swDir: String): DataFrame =
    UnigramStream.rebuild(spark, swDir, UnigramLm.emFromCounts)

  private def rebuild(spark: SparkSession, swDir: String,
                      chain: DataFrame => DataFrame): DataFrame =
    chain(readCounts(spark, swDir))

  /** Fold the store into `batch_id=0`: latest-wins PER KEY. */
  def compact(spark: SparkSession, swDir: String,
              onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, swDir,
      DeltaStore.latestPerKey(_, Seq("source", "word"))
        .select(col("source"), col("word"), col("swn")),
      keepLatest = true, onDelete = onDelete)
}
