package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.cluster.KMeansAssign
import graft.ops.Similarity

/** Streaming IVF index maintenance — the q174 upsert / q181 delete
  * lifecycle lifted to micro-batches, closing the ANN story's
  * streaming gap the way [[ClusterStream]] closed near-dup's: vectors
  * (and takedowns) arrive continuously, the serving index is always
  * current, and nothing ever re-reads or re-shuffles history.
  *
  * The coarse quantizer is FROZEN input (the q174 serving contract:
  * re-quantizing on ingest would invalidate every persisted cell), so
  * per-batch work is PURE per-row: winner-dedup the batch, assign
  * non-null vectors with the batch kernel's own broadcast
  * [[KMeansAssign.assignMap]], record all-null ids as takedown
  * tombstones. One [[DeltaStore]] state dir of
  * (cid, cv, center_id, deleted, batch_id) rows, per-key latest-wins
  * on cid — a re-ingested id's new assignment (or tombstone) shadows
  * its old row by fold, never by rewrite.
  *
  * Event contract per micro-batch row (vec_id, v):
  *  - v non-null: upsert (MERGE — delta wins over any stored row);
  *  - v null: takedown of vec_id (the q181 tombstone event);
  *  - same id delivered twice in a batch (at-least-once transport):
  *    deterministic winner = row-min NON-NULL vector (min ignores
  *    nulls — an upsert beats a same-batch takedown, the
  *    upsertBandIndex winner rule applied to the mixed case); an id
  *    whose batch rows are ALL null is a takedown.
  *
  * Replay is recompute-from-batch-alone (the band-index argument: the
  * maintainer never reads the store), so every write is a
  * deterministic overwrite of the batch's own partition and
  * compaction may fold ALL partitions (keepLatest = false); folded
  * tombstones are DROPPED — the fold leaves exactly one row per key,
  * so no older row remains for a dropped tombstone to shadow.
  *
  * PARITY (spec-pinned, bit-exact): after batch k the served cells
  * equal the BATCH lifecycle folded in batch order —
  * `deleteFromIvfIndex(upsertIvfCells(...))` per batch — AND the
  * from-scratch rebuild `assignMap` over the latest-wins live corpus;
  * [[knnFromStream]] equals [[Similarity.searchIvfIndex]] over that
  * rebuilt index.
  */
object IvfStream {

  private val cellSchema = StructType(Seq(
    StructField("cid", LongType),
    StructField("cv", ArrayType(DoubleType)),
    StructField("center_id", IntegerType),
    StructField("deleted", BooleanType),
    StructField("batch_id", LongType)))

  /** Maintain the cell view over a streaming (vec_id, v) frame. */
  def maintain(vecs: DataFrame, centers: Array[Array[Double]],
               cellsDir: String, checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, centers, cellsDir)
      }
      .outputMode("update")
      .start()

  /** One micro-batch, named so replay idempotence is directly
    * testable. Empty batches write nothing.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      centers: Array[Array[Double]],
                                      cellsDir: String): Unit = {
    if (batch.isEmpty) return
    // min ignores nulls: the non-null row-min vector wins; null only
    // when every delivery of the id in this batch was a takedown
    val winners = batch.select(col("vec_id"), col("v"))
      .groupBy(col("vec_id")).agg(min(col("v")).as("v"))
    val assigned = KMeansAssign.assignMap(
        winners.filter(col("v").isNotNull)
          .select(col("vec_id").as("cid"), col("v").cast("array<double>").as("cv")),
        centers, "cv")
      .drop("dist")
      .withColumn("deleted", lit(false))
    val cidType = assigned.schema("center_id").dataType
    val dels = winners.filter(col("v").isNull)
      .select(col("vec_id").as("cid"),
        lit(null).cast(ArrayType(DoubleType)).as("cv"),
        lit(null).cast(cidType).as("center_id"),
        lit(true).as("deleted"))
    DeltaStore.writeBatch(assigned.unionByName(dels).repartition(1),
      cellsDir, batchId)
  }

  /** Current live cells (cid, cv, center_id): per-key latest-wins,
    * tombstoned ids absent — the [[Similarity.IvfIndex]] cells shape,
    * directly servable.
    */
  def readCells(spark: SparkSession, cellsDir: String,
                beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.latestPerKey(
        DeltaStore.readScopedOr(spark, cellsDir, beforeBatch, cellSchema),
        Seq("cid"))
      .filter(!col("deleted"))
      .select(col("cid"), col("cv"), col("center_id"))

  /** Serve top-k from the streamed state: the shared batch serve join
    * ([[Similarity.searchIvfIndex]] — probe the frozen quantizer,
    * exact-rescore inside probed cells) over [[readCells]].
    */
  def knnFromStream(spark: SparkSession, cellsDir: String,
                    centers: Array[Array[Double]], queries: DataFrame,
                    k: Int, nProbe: Int = 3): DataFrame =
    Similarity.searchIvfIndex(spark,
      Similarity.IvfIndex(centers, readCells(spark, cellsDir)), queries, k,
      nProbe)

  /** Fold the store: per-key latest-wins, folded tombstones dropped
    * (see the object scaladoc for why that is safe). keepLatest =
    * false — replay recomputes from batch data alone, so no partition
    * needs to survive for a provenance guard (the band-index
    * compaction argument).
    */
  def compactCells(spark: SparkSession, cellsDir: String,
                   onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, cellsDir, raw =>
      DeltaStore.latestPerKey(raw, Seq("cid"))
        .filter(!col("deleted"))
        // tombstone ROWS are dropped; the deleted COLUMN stays (all
        // false) so the folded partition keeps the store schema —
        // readCells filters on it unconditionally
        .select(col("cid"), col("cv"), col("center_id"),
          lit(false).as("deleted")),
      keepLatest = false, onDelete = onDelete)
}
