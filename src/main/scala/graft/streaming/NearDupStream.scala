package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.ops.Dedup

/** Streaming near-duplicate detection — the curation-on-ingest lift of
  * the batch MinHash-LSH dedup path.
  *
  * Two complementary operators:
  *  - [[lshBucketAnchors]]: bounded-state LSH bucket index. Every
  *    (band, band_sig) bucket remembers the FIRST document that landed
  *    in it (the anchor); each arriving document emits one row per
  *    band with that bucket's anchor. A document is a near-dup
  *    CANDIDATE iff any of its rows has `anchor_id != doc_id` — the
  *    exact streaming analogue of "shares an LSH bucket with an
  *    earlier doc" in the batch `minhashCandidates` join. Bucket state
  *    expires `bucketTtl` past the watermark, so state is bounded by
  *    the dedup horizon, not the stream length.
  *  - [[dedupOnIngest]]: exact-key dedup against an UNBOUNDED history
  *    via foreachBatch + the batch bloom-prefiltered
  *    [[graft.ops.Dedup.dedupAgainstHistory]], with the history store
  *    growing as batches commit. This is the production shape when the
  *    dedup horizon must outlive any watermark: cross-batch state
  *    lives in storage (keys + bloom), not in the state store.
  *
  * Engine restriction, by design: an aggregation cannot chain after
  * `flatMapGroupsWithState` in append mode, so the per-document fold
  * of [[lshBucketAnchors]] rows ("any band anchored elsewhere?")
  * happens in the consumer — typically a `foreachBatch` that routes
  * candidates to exact verification (the same two-stage contract as
  * the batch path: LSH proposes, Jaccard disposes).
  */
object NearDupStream {

  case class BandRow(doc_id: Long, ts: Timestamp, route: String, band: Int,
                     band_sig: Long)
  case class BucketState(anchorId: Long, lastMs: Long)
  case class BucketHit(doc_id: Long, route: String, band: Int, band_sig: Long,
                       anchor_id: Long)

  /** Stateful LSH bucket index over a stream of (doc_id, ts, text).
    *
    * Band keys are derived with the identical codegen arithmetic as
    * the batch path (Dedup.bandSignatures), so a stream and a batch
    * over the same rows propose the same candidates. State per bucket
    * is ONE (anchor_id, lastMs) pair; buckets die via event-time
    * timeout once the watermark passes `lastMs + bucketTtl` — after
    * that, a recurrence of the same content re-anchors to itself
    * (bounded-state recall horizon, the documented trade).
    *
    * `route` = the q213/q214 script-routed form (the r14 verdict's
    * #3 gap: the batch chain routed scripts but the stream shingled
    * whitespace tokens only, so a CJK/Thai/kana doc arriving on the
    * stream was invisible to the near-dup gate the batch would
    * catch). Band keys come from Dedup.routedBandSignatures — the
    * identical kernels and route predicate as the batch — and
    * `route` joins the bucket GROUPING KEY, so word and char buckets
    * are disjoint state spaces. Unrouted streams carry the constant
    * route '-' (one state key shape, zero behavior change).
    */
  def lshBucketAnchors(spark: SparkSession, docs: DataFrame,
                       nHashes: Int = 32, bandSize: Int = 4,
                       shingleSize: Int = 3,
                       watermarkDelay: String = "10 minutes",
                       bucketTtlMs: Long = 3600L * 1000L,
                       fold: Boolean = false,
                       route: Boolean = false): Dataset[BucketHit] = {
    import spark.implicits._
    // fold = the q207 normalized form: ONE codegen expression
    // (Dedup.foldTextCol, the exact batch transform) ahead of the
    // band keys, so a case/diacritic-disguised recurrence anchors to
    // the original's bucket — stream gate == the batch
    // foldedMinhashSignatures gate, spec-pinned in NearDupStreamSpec
    val wm = docs.withWatermark("ts", watermarkDelay)
    val bands = (if (route)
        Dedup.routedBandSignatures(wm, nHashes, bandSize, shingleSize,
          fold = fold, keep = Seq("ts"))
      else {
        val src = if (fold) Dedup.foldTextCol(wm) else wm
        Dedup.bandSignatures(src, nHashes, bandSize, shingleSize,
          keep = Seq("ts")).withColumn("route", lit("-"))
      })
      .select(col("doc_id"), col("ts"), col("route"), col("band"),
        col("band_sig"))
      .as[BandRow]
    bands
      .groupByKey(r => (r.route, r.band, r.band_sig))
      .flatMapGroupsWithState[BucketState, BucketHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (String, Int, Long), rows: Iterator[BandRow], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // micro-batch rows are unordered: anchor = earliest
            // (ts, doc_id) — deterministic under replay
            val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            val st = state.getOption.getOrElse(
              BucketState(sorted.head.doc_id, sorted.head.ts.getTime))
            val lastMs = math.max(st.lastMs, sorted.last.ts.getTime)
            state.update(BucketState(st.anchorId, lastMs))
            // shared watermark-clamped timeout (ms deadline -> micros;
            // exact multiple, so the helper's ceil is a no-op)
            EventStreams.setEventTimeTimeout(state,
              (lastMs + bucketTtlMs) * 1000L)
            sorted.iterator.map(r =>
              BucketHit(r.doc_id, r.route, r.band, r.band_sig, st.anchorId))
          }
      }
  }

  /** Exact-key streaming dedup against an unbounded, storage-backed
    * history. Per micro-batch: dedup within the batch (deterministic
    * keep: the row-wise minimum over all columns per key), drop keys
    * already in STRICTLY OLDER batches of the history via the
    * bloom-prefiltered batch operator (history never shuffles), then
    * commit survivors to `outDir` and their keys to `historyDir`, both
    * under `batch_id=N` directories overwritten on replay. Excluding
    * the current batch's own history partition from the read plus the
    * deterministic keep make the pair of writes idempotent under
    * checkpoint-recovery replay (effectively-once).
    */
  def dedupOnIngest(docs: DataFrame, keyCol: String,
                    historyDir: String, outDir: String, checkpointDir: String,
                    expectedItems: Long = 1000000L,
                    fpp: Double = 0.03): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, keyCol, historyDir, outDir,
          expectedItems, fpp)
      }
      .outputMode("update")
      .start()

  /** One micro-batch of [[dedupOnIngest]], named so the replay contract
    * is directly testable: calling it twice with the same batchId must
    * write identical data (crash-recovery replays the last uncommitted
    * batch).
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      keyCol: String, historyDir: String,
                                      outDir: String, expectedItems: Long,
                                      fpp: Double): Unit = {
        val spark = batch.sparkSession
        // in-batch exact dedup, DETERMINISTIC representative: the
        // row-wise minimum over all columns per key, so a replayed
        // batch re-emits byte-identical survivors even when the same
        // key arrives with different payloads
        val others = batch.columns.filter(_ != keyCol).map(col).toSeq
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol)).orderBy(others: _*)
        val inBatch =
          if (others.isEmpty) batch.dropDuplicates(keyCol)
          else batch.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        // Replay safety: read ONLY batches strictly older than this
        // one. A crash after the history write but before the
        // streaming checkpoint commits replays this batchId — if the
        // history read included the batch's own keys, the replay would
        // dedup the batch against itself, emit zero survivors, and
        // overwrite both outputs with empty data.
        val priorBatches = DeltaStore.partitionsBefore(spark, historyDir, batchId)
        val survivors =
          if (priorBatches.nonEmpty)
            Dedup.dedupAgainstHistory(inBatch,
              spark.read.parquet(priorBatches: _*), keyCol, expectedItems, fpp)
          else inBatch
        // cache: referenced by both the data write and the key write
        survivors.persist()
        try {
          DeltaStore.writeBatch(survivors, outDir, batchId)
          DeltaStore.writeBatch(survivors.select(col(keyCol)), historyDir, batchId)
        } finally survivors.unpersist(blocking = false)
  }

  /** Streaming maintenance of a PERSISTED LSH band index — the
    * perpetual-ingest lift of [[graft.ops.Dedup.upsertBandIndex]].
    * Each micro-batch computes band signatures for ITS OWN rows only
    * (one winner per doc_id, the upsert rule) and lands them in a
    * `batch_id=N` partition: O(delta) work and I/O per batch, never a
    * rewrite of the accumulated index, and wholesale partition
    * overwrite makes checkpoint-recovery replay idempotent (the
    * [[dedupOnIngest]] contract). Re-ingested doc_ids supersede older
    * versions at READ time ([[readBandIndex]] keeps each doc's rows
    * from its highest batch only — MERGE-on-read);
    * [[compactBandIndex]] folds history into one partition when the
    * partition count or the read-side winner join grows too costly.
    */
  def maintainBandIndex(docs: DataFrame, indexDir: String, checkpointDir: String,
                        nHashes: Int = 32, bandSize: Int = 4,
                        shingleSize: Int = 3,
                        fold: Boolean = false,
                        route: Boolean = false): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        indexBatch(batch, batchId, indexDir, nHashes, bandSize, shingleSize,
          fold, route)
      }
      .outputMode("update")
      .start()

  /** One micro-batch of [[maintainBandIndex]], named so replay
    * idempotence is directly testable. With `fold` set the index
    * stores NORMALIZED band keys (Dedup.foldTextCol ahead of the
    * signature kernel — the q207 form); with `route` set it stores
    * SCRIPT-ROUTED band keys with the route column (the q213/q214
    * form — a streamed CJK/Thai/kana doc lands char-gram keys the
    * batch routed chain would propose). Probes against a folded or
    * routed index must pass the same flags to
    * [[graft.ops.Dedup.probeBandIndex]].
    */
  private[streaming] def indexBatch(batch: DataFrame, batchId: Long,
                                    indexDir: String, nHashes: Int,
                                    bandSize: Int, shingleSize: Int,
                                    fold: Boolean = false,
                                    route: Boolean = false): Unit = {
    // upsert into an EMPTY index = the batch's own winner-per-doc_id
    // band rows, computed with the exact upsertBandIndex code path
    // (fold/route applied INSIDE upsertBandIndex — the single
    // definition the batch lifecycle uses; the empty index must carry
    // the ROUTED schema when routing, or the merge union would fail)
    val emptyIdx =
      if (route) Dedup.routedBandSignatures(batch.limit(0), nHashes, bandSize,
        shingleSize)
      else Dedup.bandSignatures(batch.limit(0), nHashes, bandSize, shingleSize)
    val delta = Dedup.upsertBandIndex(
      emptyIdx, batch, nHashes, bandSize, shingleSize, route = route,
      fold = fold)
    DeltaStore.writeBatch(delta, indexDir, batchId)
  }

  /** Current view of a streaming-maintained band index: all delta
    * partitions, each doc represented by its LATEST batch's rows
    * (merge-on-read — one per-doc window over the index, the cost
    * compaction amortizes away). Feed this to
    * [[graft.ops.Dedup.probeBandIndex]].
    */
  def readBandIndex(spark: SparkSession, indexDir: String): DataFrame =
    mergeOnRead(DeltaStore.readRaw(spark, indexDir)
      // empty/missing: fail as before (an absent band index is a call
      // error, not an empty index — probeBandIndex has no useful
      // zero-state)
      .getOrElse(spark.read.parquet(indexDir)))

  /** Latest-batch-wins view of a (…, doc_id, batch_id) delta union:
    * each doc keeps ALL its band rows from its newest batch.
    */
  private def mergeOnRead(all: DataFrame): DataFrame =
    DeltaStore.latestSnapshot(all,
      "doc_id" +: all.columns.filterNot(Set("doc_id", "batch_id")), "doc_id")

  /** Fold the delta partitions present AT ENTRY into `batch_id=0`,
    * dropping superseded rows — [[DeltaStore.compact]] with the
    * latest-batch-wins merge; the crash contract (snapshot-only
    * deletes, sibling-backup swap, read-only reader recovery) is the
    * store's, shared with the novelty index.
    */
  def compactBandIndex(spark: SparkSession, indexDir: String): Unit =
    DeltaStore.compact(spark, indexDir, mergeOnRead)
}
