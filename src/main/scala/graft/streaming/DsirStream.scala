package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.CurationOps

/** Streaming DSIR state — the ingest-time lift of the q176
  * importance-resampling selector: every micro-batch of documents
  * updates the hashed-bigram bucket counts (raw occurrences +
  * Gopher-target occurrences), so the likelihood-ratio reference a
  * selection needs is always current WITHOUT a corpus rescan. The
  * counts are the complete sufficient statistic of q176's weights
  * (totals and smoothing re-derive from them), so maintaining the
  * bucket table IS maintaining the selector; scoring any candidate
  * frame against the accumulated reference is then one narrow pass
  * over the candidates ([[selectCurrent]]).
  *
  * Cross-batch state is bucket-count-sized (≤ nBuckets rows of two
  * counters) — exactly [[DriftStream]]'s histogram shape, and it
  * inherits that store discipline verbatim: each `batch_id=<k>`
  * partition holds the FULL CUMULATIVE counts through batch k,
  * latest-wins on read (a sum-of-deltas fold would double-count under
  * DeltaStore's tolerated leftover-suffix crash window; a leftover
  * cumulative snapshot is itself valid), updates read strictly
  * `batch_id < current` so a crash-replayed batch lands
  * byte-identically, and compaction keeps the newest (possibly
  * uncommitted) snapshot out of the fold (`keepLatest`).
  *
  * Batch featurization is the batch kernel's OWN single-definition
  * chain ([[CurationOps.dsirBase]] → [[CurationOps.dsirBigrams]] →
  * [[CurationOps.dsirBucketCounts]]) — that shared definition is what
  * makes stream == batch parity bit-exact.
  *
  * PARITY (spec-pinned, bit-exact): after batch k the streamed bucket
  * table equals [[CurationOps.dsirBucketCounts]] over the
  * concatenation of batches 0..k, and [[selectCurrent]] over that
  * prefix equals [[CurationOps.dsirSelect]] over it — same weights,
  * same Gumbel keys, same top-k.
  */
object DsirStream {

  private val bucketsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cnt_r",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cnt_t",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("batch_id",
      org.apache.spark.sql.types.LongType)))

  /** Maintain the bucket reference over a streaming
    * (doc_id, text, source) frame: per micro-batch the updated
    * cumulative counts land in `bucketsDir/batch_id=<k>`.
    */
  def monitor(docs: DataFrame, bucketsDir: String, checkpointDir: String,
              nBuckets: Int = CurationOps.dsirBuckets): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        updateBatch(batch, batchId, bucketsDir, nBuckets)
      }
      .outputMode("update")
      .start()

  /** One micro-batch, named so replay idempotence is directly
    * testable. ONE pass over the batch (the shared featurize +
    * bucket-count chain) plus one bucket-sized store read; the merge
    * happens on the driver (the store is bucket-count-sized by
    * design — [[DriftStream]]'s argument). Empty batches persist the
    * unchanged reference.
    */
  private[streaming] def updateBatch(batch: DataFrame, batchId: Long,
                                     bucketsDir: String, nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val hb: Map[Long, (Long, Long)] = CurationOps
      .dsirBucketCounts(CurationOps.dsirBigrams(CurationOps.dsirBase(batch), nBuckets))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // driver-side latest-wins over the scoped read (the replay guard)
    val ref: Map[Long, (Long, Long)] = DeltaStore
      .collectLatestSnapshot(spark, bucketsDir, Some(batchId), bucketsSchema,
        Seq("bucket", "cnt_r", "cnt_t"))
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val combined = (ref.keySet ++ hb.keySet).toSeq.sorted.map { b =>
      val (pr, pt) = ref.getOrElse(b, (0L, 0L))
      val (br, bt) = hb.getOrElse(b, (0L, 0L))
      (b, pr + br, pt + bt)
    }
    DeltaStore.writeBatch(
      combined.toDF("bucket", "cnt_r", "cnt_t").coalesce(1),
      bucketsDir, batchId)
  }

  /** Current bucket reference: the LATEST cumulative snapshot among
    * visible partitions (`beforeBatch` is the replay guard). An absent
    * store is a valid empty reference (no evidence yet).
    */
  def readBuckets(spark: SparkSession, bucketsDir: String,
                  beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.readLatestSnapshot(spark, bucketsDir, beforeBatch,
      bucketsSchema, Seq("bucket", "cnt_r", "cnt_t"))

  /** Score + select candidates against the ACCUMULATED reference: the
    * batch kernel's exact selection chain
    * ([[CurationOps.dsirSelectFromCounts]]) with the streamed counts
    * as the sufficient statistic. Passing the full seen corpus as
    * `docs` reproduces [[CurationOps.dsirSelect]] over it bit-exactly
    * (spec-pinned); a pipeline typically passes just the newest
    * candidates and keeps the reference streaming.
    */
  def selectCurrent(spark: SparkSession, docs: DataFrame, bucketsDir: String,
                    nBuckets: Int = CurationOps.dsirBuckets,
                    k: Int = CurationOps.dsirK): DataFrame = {
    val base = CurationOps.dsirBase(docs)
    val bg = CurationOps.dsirBigrams(base, nBuckets)
    CurationOps.dsirSelectFromCounts(base, bg,
      readBuckets(spark, bucketsDir), nBuckets, k)
  }

  /** Fold the store into `batch_id=0`: whole-snapshot latest-wins (the
    * [[DriftStream]] histogram fold). `keepLatest = true`: updates
    * read `batch_id < current`, so the newest (possibly uncommitted)
    * snapshot must keep its provenance out of batch 0.
    */
  def compactBuckets(spark: SparkSession, bucketsDir: String,
                     onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, bucketsDir,
      DeltaStore.latestSnapshot(_, Seq("bucket", "cnt_r", "cnt_t")),
      keepLatest = true, onDelete = onDelete)
}
