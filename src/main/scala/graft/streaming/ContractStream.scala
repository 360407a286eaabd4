package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming data-contract gate — the ingest-time lift of the batch
  * contract audit (q152): every micro-batch of documents updates the
  * per-source violation counters (null text, n_chars mismatch, lang
  * domain, doc_id uniqueness, clean rows) so a feed that starts
  * shipping junk is NAMED on the batch where it happens, without ever
  * rescanning the accumulated corpus.
  *
  * The three row-local checks flag with the batch kernel's OWN
  * single-definition expressions ([[graft.ops.CurationOps.vNull]]/
  * vLen/vLang) — that shared definition is what makes stream == batch
  * parity bit-exact. The fourth check, doc_id uniqueness, is
  * inherently global and RETROACTIVE: when a duplicate of doc X
  * arrives in batch k, X's first row (batch j < k, possibly another
  * source) also becomes a violation, and if it was clean it stops
  * being clean. The gate maintains that exactly through two pieces of
  * [[DeltaStore]] state:
  *
  *  - `idsDir` — the id index: per (doc_id, source) key TOUCHED by a
  *    batch, the CUMULATIVE row count `n` and row-local-clean count
  *    `rc` through that batch, latest-wins on batch_id (the
  *    DriftStream cumulative-snapshot argument, applied per key: a
  *    sum-of-deltas fold would double-count under the store's
  *    tolerated leftover-suffix crash window; a latest-wins key fold
  *    does not). Corpus-keyed but O(delta) per batch: only touched
  *    keys are read (one semi-join) and written.
  *  - `reportDir` — the per-source counter table, a FULL cumulative
  *    snapshot per batch (source-count-sized rows, latest-wins —
  *    exactly DriftStream's histogram shape).
  *
  * Per batch the dup/clean transitions are computed from the touched
  * keys alone: with P = an id's total row count before the batch and
  * T after, its rows count toward n_dup_id iff the total exceeds one
  * (q152's window semantics — ALL rows of a duplicated id, the first
  * occurrence included), so
  *   Δdup(s)   = Σ_keys [T>1]·n(k,s) − [P>1]·p_n(k,s)
  *   Δclean(s) = Σ_keys [T=1]·rc(k,s) − [P=1]·p_rc(k,s)
  * — exact integer deltas, no corpus pass. NULL doc_id rows form one
  * key group (Spark's window and DuckDB's PARTITION BY both group
  * NULLs), which the null-safe (<=>) joins preserve.
  *
  * Replay/crash contract is [[NoveltyStream]]'s: the maintainer reads
  * state strictly `batch_id < current` and overwrites its own
  * partitions deterministically, so a crash-replayed batch lands
  * byte-identically; compaction keeps the latest (possibly
  * uncommitted) delta out of the fold (`keepLatest`).
  *
  * PARITY (spec-pinned, bit-exact): the report after batch k equals
  * [[graft.ops.CurationOps.dataContract]] over the concatenation of
  * batches 0..k.
  */
object ContractStream {

  private val idsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n", LongType),
    StructField("rc", LongType),
    StructField("batch_id", LongType)))

  private val reportSchema = StructType(Seq(
    StructField("source", StringType),
    StructField("n_rows", LongType),
    StructField("n_null_text", LongType),
    StructField("n_len_mismatch", LongType),
    StructField("n_bad_lang", LongType),
    StructField("n_dup_id", LongType),
    StructField("n_clean", LongType),
    StructField("batch_id", LongType)))

  private val reportCols = reportSchema.fieldNames.toSeq.filter(_ != "batch_id")

  /** Monitor a streaming (doc_id, text, lang, source, n_chars) frame:
    * per micro-batch, the updated id index lands in
    * `idsDir/batch_id=<k>` and the full per-source counter snapshot in
    * `reportDir/batch_id=<k>`.
    */
  def monitor(docs: DataFrame, idsDir: String, reportDir: String,
              checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        scoreBatch(batch, batchId, idsDir, reportDir)
      }
      .outputMode("update")
      .start()

  /** One micro-batch, named so replay idempotence is directly
    * testable. Batch cost: one pass over the batch (flags + per-key
    * rollup), one scoped store read semi-joined to the batch's ids,
    * and source-sized driver state — the accumulated corpus is never
    * rescanned.
    */
  private[streaming] def scoreBatch(batch: DataFrame, batchId: Long,
                                    idsDir: String, reportDir: String): Unit = {
    val spark = batch.sparkSession
    import graft.ops.CurationOps.{vLang, vLen, vNull}
    val flagged = batch.select(
      col("doc_id"), col("source"),
      vNull(col("text")).as("v_null"),
      vLen(col("text"), col("n_chars")).as("v_len"),
      vLang(col("lang")).as("v_lang"))
      .withColumn("rclean",
        when(col("v_null") + col("v_len") + col("v_lang") === 0, 1L)
          .otherwise(0L))
      // three consumers (the incr rollup, bkey, bids) — persist so the
      // batch is scanned and flagged once per trigger
      .persist()
    // batch per-key contributions
    val bkey = flagged.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).cast("long").as("b_n"),
        sum(col("rclean")).cast("long").as("b_rc"))
    // previous cumulative state for the batch's ids only, touched on
    // doc_id alone (an id's rows under OTHER sources matter for its
    // total), latest-wins per (doc_id, source) key
    val prevTouched = DeltaStore.readTouched(spark, idsDir, batchId, idsSchema,
        bkey.select(col("doc_id")), Seq("doc_id", "source"))
      .select(col("doc_id"), col("source"),
        col("n").as("p_n"), col("rc").as("p_rc"))
    // merge: full outer on the null-safe key, sides classified by
    // PRESENCE markers (key nullness would misfile NULL-doc_id junk)
    val merged = prevTouched
      .select(col("doc_id").as("p_doc"), col("source").as("p_src"),
        col("p_n"), col("p_rc"), lit(1).as("p_m"))
      .join(bkey
          .select(col("doc_id").as("b_doc"), col("source").as("b_src"),
            col("b_n"), col("b_rc")),
        col("p_doc") <=> col("b_doc") && col("p_src") <=> col("b_src"), "full")
      .select(
        when(col("p_m").isNotNull, col("p_doc")).otherwise(col("b_doc")).as("doc_id"),
        when(col("p_m").isNotNull, col("p_src")).otherwise(col("b_src")).as("source"),
        (coalesce(col("p_n"), lit(0L)) + coalesce(col("b_n"), lit(0L))).as("n"),
        (coalesce(col("p_rc"), lit(0L)) + coalesce(col("b_rc"), lit(0L))).as("rc"),
        coalesce(col("p_n"), lit(0L)).as("p_n"),
        coalesce(col("p_rc"), lit(0L)).as("p_rc"))
      // evaluated twice (deltas collect + the ids write) — persist so
      // the scoped read / window / full-outer merge runs once per batch
      .persist()
    try {
    // per-source row-local increments (source-sized)
    val incr = flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("d_rows"), sum(col("v_null")).as("d_null"),
        sum(col("v_len")).as("d_len"), sum(col("v_lang")).as("d_lang"))
      .collect()
      .map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // dup/clean transitions from per-id totals before (P) and after (T)
    val wid = Window.partitionBy(col("doc_id"))
    val deltas = merged
      .withColumn("t_tot", sum(col("n")).over(wid))
      .withColumn("p_tot", sum(col("p_n")).over(wid))
      .select(col("source"),
        (when(col("t_tot") > 1, col("n")).otherwise(lit(0L))
          - when(col("p_tot") > 1, col("p_n")).otherwise(lit(0L))).as("d_dup"),
        (when(col("t_tot") === 1, col("rc")).otherwise(lit(0L))
          - when(col("p_tot") === 1, col("p_rc")).otherwise(lit(0L))).as("d_clean"))
      .groupBy(col("source"))
      .agg(sum(col("d_dup")).as("d_dup"), sum(col("d_clean")).as("d_clean"))
      .collect()
      .map(r => Option(r.getString(0)) -> ((r.getLong(1), r.getLong(2)))).toMap
    // previous report snapshot (latest-wins, replay-guarded; the
    // store is source-count-sized by design)
    val prevRep: Map[Option[String], (Long, Long, Long, Long, Long, Long)] =
      DeltaStore.collectLatestSnapshot(spark, reportDir, Some(batchId),
          reportSchema, reportCols)
        .map(r => Option(r.getString(0)) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6)))).toMap
    val sources = prevRep.keySet ++ incr.keySet ++ deltas.keySet
    val report = sources.toSeq
      .map { s =>
        val (pr, pn, pl, pg, pd, pc) = prevRep.getOrElse(s, (0L, 0L, 0L, 0L, 0L, 0L))
        val (ir, in, il, ig) = incr.getOrElse(s, (0L, 0L, 0L, 0L))
        val (dd, dc) = deltas.getOrElse(s, (0L, 0L))
        (s.orNull, pr + ir, pn + in, pl + il, pg + ig, pd + dd, pc + dc)
      }
    import spark.implicits._
    DeltaStore.writeBatch(
      merged.select(col("doc_id"), col("source"), col("n"), col("rc"))
        .repartition(1),
      idsDir, batchId)
    DeltaStore.writeBatch(report.toDF(reportCols: _*).coalesce(1),
      reportDir, batchId)
    } finally {
      // unpersist in finally: a failed write replays the batch in the
      // same session, and each failed attempt would otherwise leave
      // another cached copy pinned
      merged.unpersist()
      flagged.unpersist()
    }
  }

  /** Current per-source contract report: the latest cumulative
    * snapshot among visible partitions (`beforeBatch` is the replay
    * guard). An absent store is a valid empty report.
    */
  def readReport(spark: SparkSession, reportDir: String,
                 beforeBatch: Option[Long] = None): DataFrame =
    DeltaStore.readLatestSnapshot(spark, reportDir, beforeBatch, reportSchema,
      reportCols)

  /** Fold the id index into `batch_id=0`: latest-wins PER KEY on
    * batch_id (each partition holds full cumulative counts for its
    * touched keys). `keepLatest = true`: the maintainer reads
    * `batch_id < current`, so the newest (possibly uncommitted)
    * partition must keep its provenance out of batch 0.
    */
  def compactIds(spark: SparkSession, idsDir: String,
                 onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, idsDir,
      DeltaStore.latestPerKey(_, Seq("doc_id", "source"))
        .select(col("doc_id"), col("source"), col("n"), col("rc")),
      keepLatest = true, onDelete = onDelete)

  /** Fold the report store: whole-snapshot latest-wins (the
    * DriftStream histogram fold over the report columns).
    */
  def compactReport(spark: SparkSession, reportDir: String,
                    onDelete: org.apache.hadoop.fs.Path => Unit = _ => ()): Unit =
    DeltaStore.compact(spark, reportDir,
      DeltaStore.latestSnapshot(_, reportCols),
      keepLatest = true, onDelete = onDelete)
}
