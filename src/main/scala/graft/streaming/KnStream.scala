package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.TextAnalytics

/** Streaming Kneser–Ney trainer — the ingest-time lift of q189's
  * interpolated-KN fluency scorer: every micro-batch of documents
  * folds its bigram counts into the cumulative (w1, w2, c12) store.
  * The per-bigram counts are the trainer's COMPLETE sufficient
  * statistic (context totals c1, the N1+ successor/predecessor
  * distinct counts, and the type total NN all re-derive from the
  * count table), so maintaining the one store IS maintaining the
  * model; scoring any candidate frame against the accumulated model
  * is [[scoreCurrent]].
  *
  * State shape is [[NbStream]]'s vocabulary-keyed id-index, keyed by
  * the bigram: per (w1, w2) TOUCHED by a batch, the CUMULATIVE count
  * through that batch, latest-wins on batch_id — O(delta)-written and
  * leftover-suffix-proof, with reads semi-joined on the batch's
  * bigrams BELOW the latest-wins window (the join key is the
  * partition key, so it commutes; each batch sorts only touched
  * bigrams, never the bigram vocabulary).
  *
  * Batch bigram extraction/counting is the batch kernel's OWN
  * single-definition chain ([[TextAnalytics.knBigrams]] →
  * [[TextAnalytics.knCounts]]) — that shared definition is what makes
  * stream == batch parity bit-exact. Replay/crash contract is
  * [[NoveltyStream]]'s (`batch_id < current` scoped reads,
  * deterministic partition overwrite, `keepLatest` compaction).
  *
  * PARITY (spec-pinned, bit-exact): after batch k the streamed store
  * equals [[TextAnalytics.knCounts]] over the concatenation of
  * batches 0..k, and [[scoreCurrent]] over that prefix equals the
  * batch kernel [[TextAnalytics.knBigramLogProb]] over it — same
  * derived statistics, same exact micro-nat scores.
  */
object KnStream {

  private val countsSchema = StructType(Seq(
    StructField("w1", StringType),
    StructField("w2", StringType),
    StructField("c12", LongType),
    StructField("batch_id", LongType)))

  /** Train on a streaming (doc_id, text, ...) frame: per micro-batch
    * the updated touched-bigram counts land in `countsDir/batch_id=<k>`.
    */
  def monitor(docs: DataFrame, countsDir: String,
              checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        updateBatch(batch, batchId, countsDir)
      }
      .outputMode("update")
      .start()

  /** One micro-batch, named so replay idempotence is directly
    * testable. Batch cost: one pass over the batch (tokenize + bigram
    * rollup) and one scoped store read semi-joined to the batch's
    * bigrams — the accumulated corpus is never rescanned.
    */
  private[streaming] def updateBatch(batch: DataFrame, batchId: Long,
                                     countsDir: String): Unit = {
    val spark = batch.sparkSession
    val bc = TextAnalytics.knCounts(TextAnalytics.knBigrams(
      batch.select(col("doc_id"), TextAnalytics.toks(col("text")).as("t"))))
    DeltaStore.writeBatch(
      DeltaStore.addToPrevious(spark, countsDir, batchId, countsSchema, bc,
        Seq("w1", "w2"), Seq("c12")).repartition(1),
      countsDir, batchId)
  }

  /** Current cumulative bigram counts: latest-wins per (w1, w2) over
    * the visible partitions. An absent store is a valid empty model.
    */
  def readCounts(spark: SparkSession, countsDir: String,
                 beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.latestPerKey(
        DeltaStore.readScopedOr(spark, countsDir, beforeBatch, countsSchema),
        Seq("w1", "w2"))
      .select(col("w1"), col("w2"), col("c12"))

  /** Score candidates against the ACCUMULATED model: the batch
    * kernel's exact scoring chain
    * ([[TextAnalytics.knScoreFromCounts]]) with the streamed counts
    * as the sufficient statistic. Passing the full seen corpus as
    * `docs` reproduces the batch kernel over it bit-exactly
    * (spec-pinned); fresh candidates take the kernel's documented
    * unseen-bigram backoff arms.
    */
  def scoreCurrent(spark: SparkSession, docs: DataFrame,
                   countsDir: String): DataFrame = {
    val d = docs.select(col("doc_id"), TextAnalytics.toks(col("text")).as("t"))
    TextAnalytics.knScoreFromCounts(d, TextAnalytics.knBigrams(d),
      readCounts(spark, countsDir))
  }

  /** Fold the store into `batch_id=0`: latest-wins PER KEY (each
    * partition holds full cumulative counts for its touched bigrams).
    * `keepLatest = true`: updates read `batch_id < current`.
    */
  def compact(spark: SparkSession, countsDir: String,
              onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, countsDir,
      DeltaStore.latestPerKey(_, Seq("w1", "w2"))
        .select(col("w1"), col("w2"), col("c12")),
      keepLatest = true, onDelete = onDelete)
}
