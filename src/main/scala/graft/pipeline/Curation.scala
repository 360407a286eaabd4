package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import graft.Checkpoints
import graft.ops.{Dedup, TextAnalytics}

/** End-to-end training-data curation: the composition every individual
  * operator exists to serve. One call takes a raw documents table
  * through quality scoring -> language filter -> exact dedup ->
  * MinHash-LSH near-dup removal, and reports per-stage counts.
  *
  * Scale shape: stages 1-2 are narrow (scan speed); exact dedup is one
  * exchange on the text hash; near-dup is the narrow signature pass +
  * one band equi-join. A call runs two actions, each materializing a
  * local checkpoint hash-partitioned on doc_id: the exact-dedup output
  * and the returned frame. Per-stage counts are `observe` metrics of
  * those two actions, so no stage pays a count job of its own.
  */
object Curation {

  case class Report(input: Long, afterQuality: Long, afterLang: Long,
                    afterExact: Long, afterNearDup: Long,
                    afterBalance: Long)

  /** @param docs        (doc_id, text, lang, ...) table
    * @param minTokens   quality floor: minimum whitespace tokens
    * @param maxPunctRatio quality ceiling on punctuation density
    * @param keepLangs   language allowlist (empty = keep all)
    * @param minSigAgreement fraction of MinHash slots that must agree
    *        before a candidate pair counts as a near-dup (MinHash slot
    *        agreement is an unbiased Jaccard estimate, so 0.7 ~ Jaccard
    *        0.7) — raw LSH band collisions alone would delete
    *        non-duplicates on false positives
    * @param maxPerSource 0 = no balancing; otherwise cap each source at
    *        this many docs, chosen by the deterministic sampling hash
    *        (reproducible on any engine, no RNG) — the source-mix
    *        balancing stage of a training corpus
    * @return (curated docs, per-stage report). The curated frame is a
    *         local checkpoint, already materialized by the action whose
    *         observed metrics report its size: its plan is a single RDD
    *         scan, so a later query over it neither recomputes nor
    *         re-renders the stages that built it, and the scan states
    *         its hash partitioning on doc_id, so a later per-document
    *         aggregate or join on doc_id (a BM25 build's postings and
    *         document lengths) does not exchange it. `Dataset.unpersist()`
    *         does not free a checkpoint — call
    *         [[graft.Checkpoints.release]] when done with the frame, or
    *         its blocks stay until the RDD is garbage-collected;
    *         reading the frame after release throws. The intermediate
    *         checkpoints are released before returning, and the call
    *         adds no entry to the session's cache manager, so
    *         concurrent calls share nothing.
    */
  // withColumn REPLACES same-named columns silently: a caller frame
  // that already carries one of the pipeline's internal temp columns
  // would be corrupted, so fail loudly up front (same contract as
  // Cdc.applyCdc's uniquified rank column, enforced by rejection here
  // because FIVE temps would otherwise all need uniquifying).
  private val reservedCols =
    Seq("_n_tokens", "_punct_ratio", "_est_jaccard", "_hkey", "_rn")
  private def requireNoReservedColumns(docs: org.apache.spark.sql.DataFrame): Unit = {
    val clash = docs.columns.toSet.intersect(reservedCols.toSet)
    require(clash.isEmpty,
      s"columns ${clash.mkString(", ")} are reserved by the curation " +
        "pipeline; rename them before calling curate")
  }

  /** Stage-1 quality filter (narrow, scan speed). Exposed so the q132
    * aux-artifact builder replays the identical prefix of the pipeline
    * that `curate` runs.
    */
  def qualityStage(docs: DataFrame, minTokens: Int,
                   maxPunctRatio: Double): DataFrame = {
    val toks = TextAnalytics.toks(col("text"))
    docs
      .withColumn("_n_tokens", size(toks))
      .withColumn("_punct_ratio",
        TextAnalytics.punctChars(col("text")) / greatest(length(col("text")), lit(1)))
      .filter(col("_n_tokens") >= minTokens
        && col("_punct_ratio") <= maxPunctRatio)
      .drop("_n_tokens", "_punct_ratio")
  }

  /** Stage-3 exact dedup (keep lowest doc_id per exact text, one
    * exchange) — the ONE definition of the keeper policy, shared by
    * [[curate]] and [[exactStage]]; a second copy could silently fork
    * from the q132 oracle prefix that [[exactStage]] exists to pin.
    */
  private def exactDedup(langed: DataFrame): DataFrame = {
    val exactKeep = langed
      .groupBy(col("text").as("_t"))
      .agg(min(col("doc_id")).as("_keep"))
      .select(col("_keep").as("doc_id"))
    langed.join(exactKeep, "doc_id")
  }

  /** Stage-2 language allowlist (narrow; empty = keep all). */
  private def langStage(quality: DataFrame, keepLangs: Seq[String]): DataFrame =
    if (keepLangs.isEmpty) quality
    else quality.filter(col("lang").isin(keepLangs: _*))

  /** Stage-5 optional source balancing (`maxPerSource` = 0 returns the
    * frame itself): a deterministic per-source cap — a partitioned
    * window over the arithmetic sample hash, no RNG, so the kept set
    * is stable across runs and engines.
    */
  private def balanceStage(deduped: DataFrame, maxPerSource: Int): DataFrame =
    if (maxPerSource <= 0) deduped
    else {
      require(deduped.columns.contains("source"),
        "maxPerSource balancing needs a 'source' column")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("_hkey"), col("doc_id"))
      deduped
        .withColumn("_hkey", graft.ops.Sampling.hkey(col("doc_id")))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= maxPerSource)
        .drop("_hkey", "_rn")
    }

  /** Stage-4 verified near-dup strike set over the exact-deduped
    * frame's SIGNATURES (checkpoint them — the shingle+MinHash kernel
    * is the pipeline's priciest narrow op and three consumers read the
    * frame): the shared [[Dedup.verifiedPairs]] criterion, higher
    * doc_id of each verified pair returned distinct.
    */
  private def nearDupIds(sigs: DataFrame, nHashes: Int,
                         minSigAgreement: Double, bandSize: Int): DataFrame =
    Dedup.verifiedPairs(sigs, nHashes, bandSize, minSigAgreement)
      .select(col("d2").as("doc_id")).distinct()

  /** Stages 1-3 (quality -> language -> exact dedup), the deterministic
    * prefix whose MinHash signatures the q132 oracle consumes.
    */
  def exactStage(docs: DataFrame, minTokens: Int, maxPunctRatio: Double,
                 keepLangs: Seq[String]): DataFrame =
    exactDedup(langStage(qualityStage(docs, minTokens, maxPunctRatio), keepLangs))

  def curate(spark: SparkSession, docs: DataFrame,
             minTokens: Int = 8, maxPunctRatio: Double = 0.2,
             keepLangs: Seq[String] = Nil,
             nHashes: Int = 32, bandSize: Int = 4,
             minSigAgreement: Double = 0.7,
             maxPerSource: Int = 0): (DataFrame, Report) = {
    requireNoReservedColumns(docs)
    // Stage counts are observe() metrics that ride the two
    // materializations below: no count() job per stage. Names are
    // unique per call: two calls in flight with the same observation
    // names never finish.
    val call = java.util.UUID.randomUUID()
    val (oIn, oQuality, oLang, oExact, oNearDup, oBalance) = {
      def o(stage: String) = Observation(s"curate_${stage}_$call")
      (o("input"), o("quality"), o("lang"), o("exact"), o("neardup"), o("balance"))
    }
    val n = count(lit(1)).as("n")

    // 1-3. quality (narrow), language allowlist (narrow), exact dedup
    // (one exchange). Action 1 materializes the exact-dedup output,
    // partitioned on doc_id: the signature pass and the final anti-join
    // both reread it, the anti-join without exchanging it, and the
    // first four observations fire on it.
    val quality = qualityStage(docs.observe(oIn, n), minTokens, maxPunctRatio)
      .observe(oQuality, n)
    val langed = langStage(quality, keepLangs).observe(oLang, n)
    val exact = Shim.hashPartitionedCheckpoint(exactDedup(langed).observe(oExact, n),
      Seq("doc_id"), eager = true)

    // 4. near-dup: LSH candidates VERIFIED by signature agreement
    // (estimated Jaccard), then drop the higher doc_id of each pair.
    // Signatures checkpointed lazily: the kernel runs once, inside
    // action 2, not once per consumer.
    val sigs = Dedup.minhashSignatures(exact, nHashes).localCheckpoint(false)
    val nearDeduped = exact
      .join(nearDupIds(sigs, nHashes, minSigAgreement, bandSize),
        Seq("doc_id"), "left_anti")
      .observe(oNearDup, n)

    // 5. optional source balancing. Action 2 materializes the returned
    // frame as a checkpoint, not a cache: a cached frame keeps the plan
    // that built it, and every later query over it renders that whole
    // tree again when its execution starts and on each adaptive-plan
    // update. Observations are read only after both actions returned.
    val curated =
      try Shim.hashPartitionedCheckpoint(
        balanceStage(nearDeduped, maxPerSource).observe(oBalance, n), Seq("doc_id"),
        eager = true)
      finally { Checkpoints.release(sigs); Checkpoints.release(exact) }

    def metric(o: Observation): Long = o.get("n").asInstanceOf[Long]
    (curated, Report(metric(oIn), metric(oQuality), metric(oLang),
      metric(oExact), metric(oNearDup), metric(oBalance)))
  }

  /** Benchmark decontamination: drop corpus documents sharing at least
    * `minShared` distinct word `n`-gram shingles with a held-out
    * benchmark/eval set — the train/test-overlap removal every
    * pretraining pipeline runs before training.
    *
    * Scale shape: benchmarks are small by nature, so their distinct
    * shingle set is BROADCAST; the corpus streams through one narrow
    * shingle explode + a broadcast join — the 100 TB side never
    * shuffles. Contaminated doc ids (a sliver) come back as a second
    * broadcast for the anti-join.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String = "text", n: Int = 4,
                    minShared: Long = 1L): DataFrame = {
    val benchShingles = benchmark
      .select(explode(array_distinct(Dedup.shingles(col(textCol), n))).as("sh"))
      .distinct()
    val contaminated = corpus
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shingles(col(textCol), n))).as("sh"))
      .join(broadcast(benchShingles), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"))
    corpus.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
  }
}
