package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ops.Dedup

/** Streaming maintenance of the q202 decontamination Bloom filter —
  * benchmark documents arrive continuously (a new eval suite version,
  * a freshly-registered benchmark) and the gate's broadcast bitmap
  * must stay current without re-shingling history.
  *
  * The state is the filter's packed words: a FIXED-SIZE
  * (BloomBits/64 rows) frame, merged by bitwise OR — a MONOTONE
  * merge, the one state class the streaming family did not yet have
  * (DeltaStore stores so far fold by latest-wins or additive counts).
  * Monotonicity is also the filter's honest limitation, stated here
  * once: bits are only ever SET — removing a benchmark doc requires a
  * rebuild (q202's batch path), exactly as for any production Bloom
  * filter. Takedown events therefore have no streaming form on this
  * store by design.
  *
  * Per micro-batch: shingle the batch docs with the batch kernel's
  * own [[Dedup.shingleSet4]], fold them into packed words with
  * [[Dedup.bloomWords]] (driver-side, bounded by the filter size —
  * never by the batch), OR into the previous snapshot, write the new
  * snapshot as the batch's partition. State is cumulative-snapshot
  * per batch (the DriftStream shape): the newest partition IS the
  * filter, any crashed-compaction leftover is a valid older filter,
  * and replay overwrites the batch's own partition deterministically
  * (the OR of a replayed batch into the PREVIOUS snapshot is
  * byte-identical because the scoped read excludes the batch's own
  * partition).
  *
  * PARITY (spec-pinned, bit-exact): after every batch,
  * [[readWords]] == [[Dedup.bloomWords]] over the UNION of all
  * delivered batches' shingles — and therefore [[flagFromStream]]
  * == the batch gate [[Dedup.bloomFlag]] under that filter.
  */
object BloomStream {

  private val wordSchema = StructType(Seq(
    StructField("word_idx", IntegerType),
    StructField("bits", LongType),
    StructField("batch_id", LongType)))

  /** Maintain the filter over a streaming (doc_id, text) frame of
    * BENCHMARK documents.
    */
  def maintain(benchDocs: DataFrame, wordsDir: String,
               checkpointDir: String): StreamingQuery =
    benchDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, wordsDir)
      }
      .outputMode("update")
      .start()

  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      wordsDir: String): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    val batchWords = Dedup.bloomWords(
      Dedup.shingleSet4(spark, batch.select(col("doc_id"), col("text")))
        .select(col("sh")).distinct())
    // HOT-PATH read: one collect, max batch picked driver-side —
    // readWords' form stays for the reporting/serving APIs
    val prev = new Array[Long](Dedup.BloomBits / 64)
    DeltaStore.collectLatestSnapshot(spark, wordsDir, Some(batchId), wordSchema,
        Seq("word_idx", "bits"))
      .foreach(r => prev(r.getInt(0)) = r.getLong(1))
    val merged = prev.zip(batchWords).map { case (a, b) => a | b }
    import spark.implicits._
    DeltaStore.writeBatch(
      merged.toSeq.zipWithIndex.map { case (w, i) => (i, w) }
        .toDF("word_idx", "bits")
        .repartition(1),
      wordsDir, batchId)
  }

  /** The current packed filter (all-zero when the store is absent —
    * the empty filter flags nothing, Bloom's no-false-negative vacuous
    * case).
    *
    * Serving reads OR the TWO newest snapshots, not just the newest:
    * a maintainer crash mid-write can leave a TORN newest partition
    * whose missing word rows would read as zero bits — false
    * negatives through the gate, violating the filter's
    * no-false-negative contract for already-committed benchmarks
    * until stream replay rewrites the partition. Snapshots are
    * cumulative and the merge is monotone OR (snapshot N ⊇ N−1
    * bitwise), so in the healthy case the OR is bit-identical to the
    * newest snapshot alone (the parity spec still holds exactly), and
    * under a torn newest it restores every bit committed through
    * N−1 — the torn rows contribute only valid extra bits from the
    * unacknowledged batch.
    */
  def readWords(spark: SparkSession, wordsDir: String,
                beforeBatch: Option[Long] = None): Array[Long] = {
    // ONE Spark action AND a bounded driver read: the two newest
    // snapshots are selected Spark-side by a dense_rank over
    // batch_id, so only 2 x BloomBits/64 rows ever reach the driver —
    // a whole-store collect would grow linearly with stream age until
    // compaction, and the earlier distinct-then-filter pair of
    // actions doubled the read cost. The single-partition window is
    // fine here: the store is (BloomBits/64) x snapshot-count rows of
    // three scalars, snapshot-bounded, never corpus-sized.
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("batch_id").desc)
    val rows = DeltaStore.readScopedOr(spark, wordsDir, beforeBatch, wordSchema)
      .select(col("batch_id").cast("long").as("batch_id"),
        col("word_idx"), col("bits"))
      .withColumn("__r", dense_rank().over(w)).filter(col("__r") <= 2)
      .select(col("word_idx"), col("bits"))
      .collect()
    val words = new Array[Long](Dedup.BloomBits / 64)
    rows.foreach(r => words(r.getInt(0)) |= r.getLong(1))
    words
  }

  /** The q202 gate against the streamed filter: adds `bloom_hit` to a
    * (doc_id, sh) shingle frame through the ONE batch kernel.
    */
  def flagFromStream(spark: SparkSession, shingled: DataFrame,
                     wordsDir: String): DataFrame =
    Dedup.bloomFlag(shingled, readWords(spark, wordsDir))

  /** Fold the store to one snapshot: the newest partition already IS
    * the state (cumulative snapshots), so the fold is latest-wins.
    */
  def compactWords(spark: SparkSession, wordsDir: String,
                   onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, wordsDir,
      DeltaStore.latestSnapshot(_, Seq("word_idx", "bits")),
      keepLatest = true, onDelete = onDelete)
}
