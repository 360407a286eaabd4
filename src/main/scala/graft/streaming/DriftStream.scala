package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming distribution-drift monitor — the ingest-time lift of the
  * batch chi-square drift query (q151): every micro-batch of documents
  * is scored against the length-distribution accumulated from all
  * batches up to and INCLUDING itself (exactly q151's source-vs-corpus
  * semantics, with "source" = this batch and "corpus" = everything
  * seen so far), then persists the updated reference. A feed that
  * suddenly ships truncated or concatenated documents shows up as a
  * chi² spike on the batch where it happens — while the reference
  * never has to be rebuilt from a corpus rescan.
  *
  * Cross-batch state is the bucketed histogram — BUCKET-count-sized
  * (hundreds of rows), not corpus-sized — persisted in a
  * [[DeltaStore]] where each `batch_id=<k>` partition holds the FULL
  * CUMULATIVE histogram through batch k and reads take the latest
  * partition (latest-wins). NOT per-batch deltas summed on read: sum
  * is not an idempotent fold, so DeltaStore's tolerated crash window
  * (compaction dying during its trailing per-partition deletes leaves
  * already-folded partitions behind) would double-count those batches;
  * under latest-wins every leftover is itself a complete valid
  * snapshot, and because DeltaStore deletes folded partitions
  * OLDEST-FIRST the leftovers are always the NEWEST folded snapshots —
  * the max-batch_id partition a read picks is never staler than the
  * batch_id=0 fold (spec-pinned with a simulated mid-delete crash at
  * double-digit batch ids). Cumulative snapshots
  * cost bucket-count rows per batch — the mergeable-histogram size
  * argument (q142), spent on crash-safety instead of space.
  *
  * Scoring reads only partitions with `batch_id < current` and a
  * replayed batch overwrites its own partition, so the replay contract
  * is [[NoveltyStream]]'s: byte-identical replay, compaction keeps the
  * latest (possibly uncommitted) delta out of the fold (`keepLatest`).
  *
  * PARITY (spec-pinned, bit-exact): the streamed chi² of batch k
  * equals the `source = <tag k>` row of
  * [[graft.ops.CorpusDrift.sourceLengthDrift]] run over the
  * concatenation of batches 0..k with each batch tagged as its own
  * source — same term formula, same ordered-bucket fold, evaluated
  * here from the incremental reference instead of a corpus rescan.
  */
object DriftStream {

  /** Monitor a streaming (doc_id, n_chars) frame: per micro-batch, a
    * one-row chi² score lands in `outDir/batch_id=<k>` and the updated
    * cumulative histogram in `refDir/batch_id=<k>`.
    */
  def monitor(docs: DataFrame, refDir: String, outDir: String,
              checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scoreBatch(batch, batchId, refDir, outDir)
      }
      .outputMode("update")
      .start()

  /** QUALITY drift monitor over a streaming (doc_id, text) frame: the
    * q163 axis instead of q151's — each batch's quality-score DECILE
    * histogram is chi²-scored against the distribution accumulated so
    * far, catching a feed that starts shipping boilerplate long
    * before its length histogram moves. Same state machine, store,
    * replay guard, and crash contract as [[monitor]]; only the
    * bucketing differs, and it is the single-definition
    * [[graft.ops.TextAnalytics.qualityScoreDecile]] expression the
    * batch kernel uses — which is what makes stream==batch parity
    * bit-exact (spec-pinned like the length monitor's).
    */
  def monitorQuality(docs: DataFrame, refDir: String, outDir: String,
                     checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scoreQualityBatch(batch, batchId, refDir, outDir)
      }
      .outputMode("update")
      .start()

  /** EMBEDDING drift monitor over a streaming (vec_id, embedding)
    * frame: the q197 axis — each batch's IVF-cell occupancy histogram
    * is chi²-scored against the distribution accumulated so far,
    * catching coverage drift of the vector space (new vectors crowding
    * into cells the quantizer/probe depths weren't tuned on) at ingest
    * time. The quantizer is FROZEN and passed in (`centers` — the
    * q171/q174 serving contract: re-deriving it per batch would make
    * every historical cell id meaningless); bucketing is the batch
    * kernel's own assignment map, which is what makes parity with
    * [[graft.ops.CorpusDrift.embeddingCellDrift]] bit-exact
    * (spec-pinned like the length/quality monitors). Same state
    * machine, store shape, replay guard, and crash contract as
    * [[monitor]].
    */
  def monitorEmbedding(vecs: DataFrame, centers: Array[Array[Double]],
                       refDir: String, outDir: String,
                       checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scoreEmbeddingBatch(batch, batchId, centers, refDir, outDir)
      }
      .outputMode("update")
      .start()

  /** One micro-batch of [[monitorEmbedding]]. */
  private[streaming] def scoreEmbeddingBatch(batch: DataFrame, batchId: Long,
                                             centers: Array[Array[Double]],
                                             refDir: String,
                                             outDir: String): Unit =
    scoreBatchWith(batch, batchId, refDir, outDir,
      df => cellHistogram(df, centers))

  /** q197's IVF-cell bucketing of a (vec_id, embedding) frame to
    * (bucket, c) — the batch kernel's assignment convention (null
    * vectors excluded, the shared argmin against the frozen centers).
    */
  private[streaming] def cellHistogram(vecs: DataFrame,
                                       centers: Array[Array[Double]])
      : DataFrame =
    graft.cluster.KMeansAssign.assignMap(
        vecs.select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .filter(col("v").isNotNull),
        centers, "v")
      .select(col("center_id").cast("bigint").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).cast("bigint").as("c"))

  /** One micro-batch of [[monitor]], named so replay idempotence is
    * directly testable. ONE pass over the batch (its histogram
    * aggregation) and one bucket-sized store read — the reference and
    * the combined spine then live on the driver, so the scoring plan
    * never re-reads parquet or re-aggregates the batch. Empty batches
    * score nothing and persist the unchanged reference.
    */
  private[streaming] def scoreBatch(batch: DataFrame, batchId: Long,
                                    refDir: String, outDir: String): Unit =
    scoreBatchWith(batch, batchId, refDir, outDir, histogram)

  /** One micro-batch of [[monitorQuality]]. */
  private[streaming] def scoreQualityBatch(batch: DataFrame, batchId: Long,
                                           refDir: String, outDir: String): Unit =
    scoreBatchWith(batch, batchId, refDir, outDir, qualityHistogram)

  private def scoreBatchWith(batch: DataFrame, batchId: Long,
                             refDir: String, outDir: String,
                             bucketOf: DataFrame => DataFrame): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val hb: Map[Long, Long] = bucketOf(batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side latest-wins: the store is bucket-count-sized by
    // design, so the hot path takes the one-collect form
    val ref: Map[Long, Long] = DeltaStore
      .collectLatestSnapshot(spark, refDir, Some(batchId), refSchema,
        Seq("bucket", "c"))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // combined = reference + this batch: q151's "corpus includes the
    // source", which also guarantees e_b > 0 for every batch bucket
    val combined: Seq[(Long, Long)] = (ref.keySet ++ hb.keySet).toSeq.sorted
      .map(k => k -> (ref.getOrElse(k, 0L) + hb.getOrElse(k, 0L)))
    val nDocs = hb.values.sum
    val nTot = combined.map(_._2).sum
    val score =
      if (nDocs == 0L) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], scoreSchema)
      else {
        // MIRROR of sourceLengthDrift's term + fold over the combined
        // bucket spine: e = n_docs·c_b/N as doubles in the same op
        // order, zero-observed buckets paying their full e_b penalty,
        // terms folded in bucket order from 0.0 — bit-equal by
        // construction to the batch kernel over the tagged prefix
        // corpus (spec-pinned)
        val e = lit(nDocs.toDouble) * col("c").cast("double") / lit(nTot.toDouble)
        combined.map { case (b, c) => (b, c, hb.get(b)) }
          .toDF("bucket", "c", "o")
          .select(col("bucket"),
            ((coalesce(col("o"), lit(0L)).cast("double") - e)
              * (coalesce(col("o"), lit(0L)).cast("double") - e) / e).as("term"))
          .agg(sort_array(collect_list(struct(col("bucket"), col("term"))))
            .as("ts"))
          .select(
            lit(nDocs).as("n_docs"),
            lit(nTot).as("n_total"),
            lit(combined.size.toLong - 1L).as("dof"),
            aggregate(col("ts"), lit(0.0),
              (acc, t) => acc + t.getField("term")).as("chi2"))
      }
    DeltaStore.writeBatch(score, outDir, batchId)
    DeltaStore.writeBatch(combined.toDF("bucket", "c").coalesce(1),
      refDir, batchId)
  }

  private val scoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_total",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dof",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("chi2",
      org.apache.spark.sql.types.DoubleType)))

  private val refSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("c",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("batch_id",
      org.apache.spark.sql.types.LongType)))

  /** q151's 200-char bucketing of an (n_chars) frame to (bucket, c) —
    * the batch kernel's single-definition bucket + junk guard
    * ([[graft.ops.CorpusDrift.lengthBucketed]]), so stream == batch
    * parity survives junk rows too.
    */
  private[streaming] def histogram(docs: DataFrame): DataFrame =
    graft.ops.CorpusDrift.lengthBucketed(docs)
      .select(col("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).cast("bigint").as("c"))

  /** q163's quality-score-decile bucketing of a (text) frame to
    * (bucket, c) — the batch kernel's exact expression (zero-token
    * docs dropped, as there).
    */
  private[streaming] def qualityHistogram(docs: DataFrame): DataFrame =
    docs
      .filter(size(graft.ops.TextAnalytics.toks(col("text"))) > 0)
      .select(graft.ops.TextAnalytics.qualityScoreDecile(col("text")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).cast("bigint").as("c"))

  /** Current reference histogram: the LATEST cumulative snapshot among
    * the visible partitions (latest-wins — see the class doc for why
    * not a sum of deltas). `beforeBatch` excludes partitions at or
    * past a batch id — the replay guard ([[DeltaStore.readScopedOr]]).
    * An absent store is a valid empty reference.
    */
  def readHistogram(spark: SparkSession, refDir: String,
                    beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.readLatestSnapshot(spark, refDir, beforeBatch, refSchema,
      Seq("bucket", "c"))

  /** Fold delta partitions into `batch_id=0` with the latest-wins
    * merge (each partition is a complete cumulative snapshot, so the
    * fold just keeps the newest one). `keepLatest = true` for the same
    * reason as [[NoveltyStream.compactFirstSeen]]: the newest
    * partition may belong to an uncommitted batch, and folding it into
    * batch 0 would put the batch's own contribution inside the
    * reference its replay reads.
    */
  def compactHistogram(spark: SparkSession, refDir: String,
                       onDelete: org.apache.hadoop.fs.Path => Unit = _ => ())
      : Unit =
    DeltaStore.compact(spark, refDir,
      DeltaStore.latestSnapshot(_, Seq("bucket", "c")),
      keepLatest = true, onDelete = onDelete)
}
