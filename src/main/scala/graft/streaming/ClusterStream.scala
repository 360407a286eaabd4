package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Dedup

/** Streaming near-dup CLUSTER maintenance — the q198 lifecycle lifted
  * to micro-batches, closing the dedup pipeline's streaming story
  * end-to-end: [[NearDupStream]] proposes candidates at ingest, this
  * maintains the VERIFIED component view those candidates feed,
  * without ever re-running global union-find or re-scanning history
  * content.
  *
  * Three [[DeltaStore]] state dirs:
  *  - `sigDir` — per-doc MinHash signatures, PER-KEY cumulative rows
  *    latest-wins on batch_id (the ContractStream id-index shape): a
  *    re-ingested doc_id's new signature shadows its old one;
  *  - `pairsDir` — the verified-pair EDGE store as a cumulative
  *    whole-snapshot per batch (latest-wins; near-dup edges are
  *    heavy-hitter-sized relative to the corpus — the q85 collect
  *    argument — so a snapshot per batch is the crash-simple form);
  *  - `compDir` — the (doc_id, component) view, cumulative
  *    whole-snapshot per batch.
  *
  * Per micro-batch: winner-dedup the batch per doc_id (the
  * upsertBandIndex row-min rule), sign it with the batch kernel's own
  * [[Dedup.minhashSignatures]], find candidates by the band equi-join
  * of batch bands against the accumulated signature view (bands derive
  * from signatures via the shared [[Dedup.bandsFromSignatures]] — the
  * q45 formula), verify by MinHash slot agreement ≥ 0.7 (the
  * [[Dedup.verifiedPairs]] criterion, evaluated over latest
  * signatures), then merge through the q198 kernel
  * [[Dedup.upsertComponents]]: the batch's ids strike their old edges
  * (delta wins), verified new edges come in, and only touched
  * components recompute.
  *
  * The signature view is one per-key latest-wins fold over the store
  * per batch (the NearDupStream `readBandIndex` mergeOnRead precedent;
  * a production deployment keys this store externally and the fold
  * becomes point lookups). No sort ever runs over the corpus: the
  * candidate join is band-keyed, verification touches candidate
  * partners only, and the component recompute is region-local.
  *
  * Replay/crash contract: scoped reads (`batch_id < current`), every
  * write a deterministic overwrite of the batch's own partition,
  * keepLatest compaction — the shared DeltaStore discipline.
  *
  * Event contract per row (doc_id, text): non-null text upserts
  * (row-min winner on duplicate delivery); an id whose batch rows are
  * ALL null text is a TAKEDOWN — signature tombstoned (null-mh row,
  * shadowed out by the latest-wins fold and garbage-collected at
  * compaction), incident edges struck, vertex dropped from the
  * component view (the IvfStream takedown convention, so the
  * near-dup and ANN maintenance stories share one event shape).
  *
  * PARITY (spec-pinned, bit-exact): the component view after batch k
  * equals `connectedComponents(verifiedPairs(minhashSignatures(D_k)))`
  * where D_k is the prefix corpus with later batches winning
  * re-ingested doc_ids and taken-down ids REMOVED — the batch
  * near-dup pipeline over the logically-current corpus.
  */
object ClusterStream {

  private val sigSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("mh",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)),
    org.apache.spark.sql.types.StructField("batch_id",
      org.apache.spark.sql.types.LongType)))

  private val pairSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("d1",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("d2",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("batch_id",
      org.apache.spark.sql.types.LongType)))

  private val compSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("component",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("batch_id",
      org.apache.spark.sql.types.LongType)))

  /** Maintain the cluster view over a streaming (doc_id, text) frame. */
  def maintain(docs: DataFrame, sigDir: String, pairsDir: String,
               compDir: String, checkpointDir: String,
               minAgree: Double = 0.7): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, sigDir, pairsDir, compDir, minAgree)
      }
      .outputMode("update")
      .start()

  /** One micro-batch, named so replay idempotence is directly
    * testable. Empty batches write nothing (their replay is trivially
    * idempotent and the stores stay as-of the last real batch).
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
                                      sigDir: String, pairsDir: String,
                                      compDir: String,
                                      minAgree: Double = 0.7): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) return
    // at-least-once ingest can deliver one doc_id twice in a batch:
    // deterministic winner = row-min NON-NULL text (min ignores nulls
    // — an upsert beats a same-batch takedown, the IvfStream mixed-
    // delivery rule); an id whose batch rows are ALL null text is a
    // TAKEDOWN (the right-to-be-forgotten event): its signature is
    // tombstoned, its edges struck, its vertex dropped from the view
    val winners = batch.select(col("doc_id"), col("text"))
      .groupBy(col("doc_id")).agg(min(col("text")).as("text"))
    val batchSigs = Dedup.minhashSignatures(
        winners.filter(col("text").isNotNull))
      .localCheckpoint(false)
    val downs = winners.filter(col("text").isNull).select(col("doc_id"))
    // ids this batch speaks for — upserts AND takedowns both shadow
    // history (the strike set for edges/signatures alike)
    val allIds = winners.select(col("doc_id"))
    // accumulated signature view: per-doc latest-wins over the scoped
    // store (re-ingested ids in THIS batch shadow their stored rows
    // via the anti-join, not the window — the batch never sorts with
    // the history); null-mh rows are takedown tombstones from earlier
    // batches and carry no signature
    val prevSigs = DeltaStore.latestPerKey(
        DeltaStore.readScopedOr(spark, sigDir, Some(batchId), sigSchema),
        Seq("doc_id"))
      .filter(col("mh").isNotNull)
      .select(col("doc_id"), col("mh"))
    val curSigs = prevSigs
      .join(allIds, Seq("doc_id"), "left_anti")
      .unionByName(batchSigs)
      .localCheckpoint(false)
    // candidates: batch bands vs the full current band view (batch
    // included — batch-internal pairs count), restricted to pairs
    // touching the batch; band keys from the ONE shared derivation
    val allBands = Dedup.bandsFromSignatures(curSigs)
    val batchBands = Dedup.bandsFromSignatures(batchSigs)
    val cand = batchBands.toDF("bd", "band", "sig")
      .join(allBands.toDF("od", "band2", "sig2"),
        col("band") === col("band2") && col("sig") === col("sig2") &&
          col("bd") =!= col("od"))
      .select(least(col("bd"), col("od")).as("d1"),
        greatest(col("bd"), col("od")).as("d2"))
      .distinct()
    // verification: THE shared slot-agreement criterion
    // (Dedup.verifyCandidates — the exact half of verifiedPairs the
    // batch pipeline runs), over the LATEST signatures, candidate
    // partners only
    val newPairs = Dedup.verifyCandidates(cand, curSigs, minAgree = minAgree)
    // merge through the q198 kernel: every id the batch speaks for
    // (upserted OR taken down) strikes its old edges, new verified
    // edges come in, touched components recompute — a taken-down
    // vertex has no new edges, so it drops out of the recomputed
    // region (upsertComponents' struck-id-loses-all-edges rule)
    val prevPairs = DeltaStore.latestSnapshot(
      DeltaStore.readScopedOr(spark, pairsDir, Some(batchId), pairSchema),
      Seq("d1", "d2"))
    val prevComp = DeltaStore.latestSnapshot(
      DeltaStore.readScopedOr(spark, compDir, Some(batchId), compSchema),
      Seq("v", "component"))
    val mergedComp = Dedup.upsertComponents(prevPairs, prevComp,
        allIds, newPairs)
      .localCheckpoint(false)
    // the merged EDGE store: kept non-batch edges + new verified edges
    // (exactly upsertComponents' strike rule, re-stated on the store)
    val mergedPairs = prevPairs
      .join(allIds.toDF("x1"), col("d1") === col("x1"), "left")
      .join(allIds.toDF("x2"), col("d2") === col("x2"), "left")
      .filter(col("x1").isNull && col("x2").isNull)
      .select(col("d1"), col("d2"))
      .unionByName(newPairs)
      .localCheckpoint(false)
    // takedowns land as null-mh tombstone rows so the latest-wins fold
    // shadows the old signature
    DeltaStore.writeBatch(
      batchSigs
        .unionByName(downs.select(col("doc_id"),
          lit(null).cast(sigSchema("mh").dataType).as("mh")))
        .repartition(1),
      sigDir, batchId)
    DeltaStore.writeBatch(mergedPairs.repartition(1), pairsDir, batchId)
    DeltaStore.writeBatch(mergedComp.repartition(1), compDir, batchId)
  }

  /** Current component view (latest snapshot; absent store = empty). */
  def readComponents(spark: SparkSession, compDir: String,
                     beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.readLatestSnapshot(spark, compDir, beforeBatch, compSchema,
      Seq("v", "component"))

  /** Current verified-pair edge store (latest snapshot). */
  def readPairs(spark: SparkSession, pairsDir: String,
                beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.readLatestSnapshot(spark, pairsDir, beforeBatch, pairSchema,
      Seq("d1", "d2"))

  /** Fold the signature store: per-doc latest-wins (the ContractStream
    * id-index fold). keepLatest for the shared replay reason.
    * Takedown tombstones (null mh) whose turn came up latest are
    * DROPPED from the fold — the fold leaves one row per key, so no
    * older signature remains for a dropped tombstone to shadow (the
    * IvfStream compaction argument); the mh column itself stays.
    */
  def compactSigs(spark: SparkSession, sigDir: String,
                  onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, sigDir,
      DeltaStore.latestPerKey(_, Seq("doc_id"))
        .filter(col("mh").isNotNull)
        .select(col("doc_id"), col("mh")),
      keepLatest = true, onDelete = onDelete)

  /** Fold the pair store: whole-snapshot latest-wins. */
  def compactPairs(spark: SparkSession, pairsDir: String,
                   onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, pairsDir,
      DeltaStore.latestSnapshot(_, Seq("d1", "d2")),
      keepLatest = true, onDelete = onDelete)

  /** Fold the component store: whole-snapshot latest-wins. */
  def compactComponents(spark: SparkSession, compDir: String,
                        onDelete: org.apache.hadoop.fs.Path => Unit = _ => ())
      : Unit =
    DeltaStore.compact(spark, compDir,
      DeltaStore.latestSnapshot(_, Seq("v", "component")),
      keepLatest = true, onDelete = onDelete)
}
