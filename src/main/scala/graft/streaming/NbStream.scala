package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.TextAnalytics

/** Streaming Naive Bayes trainer — the ingest-time lift of q178's
  * exact-arithmetic quality classifier: every micro-batch of documents
  * updates the per-token class counts and the class-prior document
  * counts, so the learned gate is always trained on everything seen
  * WITHOUT a corpus rescan. The counts are the trainer's complete
  * sufficient statistic (smoothing totals, vocabulary size V, and the
  * prior all re-derive from them), so maintaining the two stores IS
  * maintaining the classifier; scoring any candidate frame against the
  * accumulated model is one narrow pass over the candidates
  * ([[scoreCurrent]]).
  *
  * Two pieces of [[DeltaStore]] state, each in the crash discipline
  * its size demands:
  *
  *  - `tokensDir` — vocabulary-keyed (w, c_pos, c_neg): per token
  *    TOUCHED by a batch, the CUMULATIVE counts through that batch,
  *    latest-wins on batch_id ([[ContractStream]]'s id-index shape:
  *    vocabulary grows with the corpus, so full per-batch snapshots
  *    are off the table and sum-of-deltas would double-count under the
  *    store's tolerated leftover-suffix crash window; per-key
  *    latest-wins cumulative rows are both O(delta)-written and
  *    leftover-proof). Reads semi-join on the batch's tokens BELOW the
  *    latest-wins window (the key is the partition key, so it commutes
  *    — each batch sorts only touched tokens, never the vocabulary).
  *  - `priorDir` — the (npd, nnd) document counts, a one-row FULL
  *    cumulative snapshot per batch ([[DriftStream]]'s histogram
  *    shape).
  *
  * Batch featurization/labelling is the batch kernel's OWN
  * single-definition chain ([[TextAnalytics.nbBase]] →
  * [[TextAnalytics.nbOccurrences]] → [[TextAnalytics.nbTokenCounts]] /
  * [[TextAnalytics.nbPriorCounts]]) — that shared definition is what
  * makes stream == batch parity bit-exact. Replay/crash contract is
  * [[NoveltyStream]]'s (`batch_id < current` scoped reads,
  * deterministic partition overwrite, `keepLatest` compaction).
  *
  * PARITY (spec-pinned, bit-exact): after batch k the streamed token
  * store equals [[TextAnalytics.nbTokenCounts]] over the concatenation
  * of batches 0..k (and the prior store its [[TextAnalytics.nbPriorCounts]]),
  * and [[scoreCurrent]] over that prefix equals the batch kernel's
  * [[TextAnalytics.nbScoreFromCounts]] over it — same llr table, same
  * prior, same exact micro-nat scores.
  */
object NbStream {

  private val tokensSchema = StructType(Seq(
    StructField("w", StringType),
    StructField("c_pos", LongType),
    StructField("c_neg", LongType),
    StructField("batch_id", LongType)))

  private val priorSchema = StructType(Seq(
    StructField("npd", LongType),
    StructField("nnd", LongType),
    StructField("batch_id", LongType)))

  /** Train on a streaming (doc_id, text, source) frame: per
    * micro-batch the updated touched-token counts land in
    * `tokensDir/batch_id=<k>` and the cumulative prior counts in
    * `priorDir/batch_id=<k>`.
    */
  def monitor(docs: DataFrame, tokensDir: String, priorDir: String,
              checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        updateBatch(batch, batchId, tokensDir, priorDir)
      }
      .outputMode("update")
      .start()

  /** One micro-batch, named so replay idempotence is directly
    * testable. Batch cost: one pass over the batch (featurize + token
    * rollup), one scoped store read semi-joined to the batch's tokens,
    * and a one-row prior read — the accumulated corpus is never
    * rescanned and the vocabulary is never fully sorted.
    */
  private[streaming] def updateBatch(batch: DataFrame, batchId: Long,
                                     tokensDir: String, priorDir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // evaluated by three consumers (the merge's token counts, the
    // semi-join's distinct tokens, the prior head) — persist so the
    // tokenize/featurize/label kernel runs once per batch
    val base = TextAnalytics.nbBase(batch).persist()
    try {
    val btc = TextAnalytics.nbTokenCounts(TextAnalytics.nbOccurrences(base))
    DeltaStore.writeBatch(
      DeltaStore.addToPrevious(spark, tokensDir, batchId, tokensSchema, btc,
        Seq("w"), Seq("c_pos", "c_neg")).repartition(1),
      tokensDir, batchId)
    // sum over an EMPTY batch aggregates to NULL — an empty batch
    // contributes zero documents to either class
    val bp = TextAnalytics.nbPriorCounts(base).head()
    val (bpd, bnd) =
      (if (bp.isNullAt(0)) 0L else bp.getLong(0),
        if (bp.isNullAt(1)) 0L else bp.getLong(1))
    val (ppd, pnd) = readPrior(spark, priorDir, Some(batchId))
    DeltaStore.writeBatch(
      Seq((ppd + bpd, pnd + bnd)).toDF("npd", "nnd").coalesce(1),
      priorDir, batchId)
    } finally
      // in finally: a failed write replays the batch in the same
      // session, and each attempt would otherwise pin another copy
      base.unpersist()
  }

  /** Current cumulative token counts: latest-wins per token over the
    * visible partitions. An absent store is a valid empty model.
    */
  def readTokenCounts(spark: SparkSession, tokensDir: String,
                      beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.latestPerKey(
        DeltaStore.readScopedOr(spark, tokensDir, beforeBatch, tokensSchema),
        Seq("w"))
      .select(col("w"), col("c_pos"), col("c_neg"))

  /** Current cumulative (npd, nnd) prior counts — latest-wins snapshot
    * (driver-side: the store is one row per batch by design).
    */
  private[streaming] def readPrior(spark: SparkSession, priorDir: String,
                                   beforeBatch: Option[Long] = None): (Long, Long) =
    DeltaStore.collectLatestSnapshot(spark, priorDir, beforeBatch, priorSchema,
        Seq("npd", "nnd"))
      .headOption.fold((0L, 0L))(r => (r.getLong(0), r.getLong(1)))

  /** Score + label candidates against the ACCUMULATED model: the
    * batch kernel's exact scoring chain
    * ([[TextAnalytics.nbScoreFromCounts]]) with the streamed counts as
    * the sufficient statistic. Passing the full seen corpus as `docs`
    * reproduces the batch kernel over it bit-exactly (spec-pinned); a
    * gate typically passes just the newest candidates and keeps the
    * trainer streaming.
    */
  def scoreCurrent(spark: SparkSession, docs: DataFrame,
                   tokensDir: String, priorDir: String): DataFrame = {
    import spark.implicits._
    val base = TextAnalytics.nbBase(docs)
    val occ = TextAnalytics.nbOccurrences(base)
    val (npd, nnd) = readPrior(spark, priorDir)
    TextAnalytics.nbScoreFromCounts(base, occ,
      readTokenCounts(spark, tokensDir),
      Seq((npd, nnd)).toDF("npd", "nnd"))
  }

  /** Fold the token store into `batch_id=0`: latest-wins PER KEY (each
    * partition holds full cumulative counts for its touched tokens).
    * `keepLatest = true`: updates read `batch_id < current`.
    */
  def compactTokens(spark: SparkSession, tokensDir: String,
                    onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, tokensDir,
      DeltaStore.latestPerKey(_, Seq("w"))
        .select(col("w"), col("c_pos"), col("c_neg")),
      keepLatest = true, onDelete = onDelete)

  /** Fold the prior store: whole-snapshot latest-wins. */
  def compactPrior(spark: SparkSession, priorDir: String,
                   onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, priorDir,
      DeltaStore.latestSnapshot(_, Seq("npd", "nnd")),
      keepLatest = true, onDelete = onDelete)
}
