package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalytics}

/** End-to-end training-data curation: the composition every individual
  * operator exists to serve. One call takes a raw documents table
  * through quality scoring -> language filter -> exact dedup ->
  * MinHash-LSH near-dup removal, and reports per-stage counts.
  *
  * Scale shape: stages 1-2 are narrow (scan speed); exact dedup is one
  * exchange on the text hash; near-dup is the narrow signature pass +
  * one band equi-join. Nothing in the pipeline collects to the driver
  * except the final stage-count aggregates.
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
    *         local checkpoint, already materialized by the count that
    *         reports its size: its plan is a single RDD scan, so a later
    *         query over it neither recomputes nor re-renders the stages
    *         that built it. `Dataset.unpersist()` does not free a
    *         checkpoint — call [[release]] when done with the frame, or
    *         its blocks stay until the RDD is garbage-collected; reading
    *         the frame after [[release]] throws. Earlier stage caches
    *         are released before returning.
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
        "pipeline; rename them before calling curate/curateObserved")
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
    * exchange) — the ONE definition of the keeper policy; a second
    * copy in either curate variant could silently fork from the q132
    * oracle prefix that [[exactStage]] exists to pin.
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
    * frame's SIGNATURES (cache them — the shingle+MinHash kernel is
    * the pipeline's priciest narrow op and three consumers read the
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
    val input = docs.count()

    // 1. quality: narrow per-doc metrics, no shuffle
    val quality = qualityStage(docs, minTokens, maxPunctRatio)
    val afterQuality = quality.count()

    // 2. language allowlist (narrow); an empty allowlist returns the
    // quality frame itself, whose count is already known
    val langed = langStage(quality, keepLangs)
    val afterLang = if (langed eq quality) afterQuality else langed.count()

    // 3. exact dedup (one exchange). Cache: stage 4's signature pass
    // and the final anti-join both reread this frame.
    val exact = exactDedup(langed).cache()
    val afterExact = exact.count()

    // 4. near-dup: LSH candidates VERIFIED by signature agreement
    // (estimated Jaccard), then drop the higher doc_id of each pair.
    // Signatures cached: the kernel runs once, not once per consumer.
    val sigs = Dedup.minhashSignatures(exact, nHashes).cache()
    val nearDeduped = exact
      .join(nearDupIds(sigs, nHashes, minSigAgreement, bandSize),
        Seq("doc_id"), "left_anti")

    // 5. optional source balancing. The returned frame is checkpointed,
    // not cached: a cached frame keeps the plan that built it (with the
    // nested `exact` and `sigs` caches), and every later query over it
    // renders that whole tree again when its execution starts and on
    // each adaptive-plan update. Each count pins its stage, so neither
    // balancing nor the caller recomputes the LSH stage.
    val (curated, afterNearDup, afterBalance) =
      if (maxPerSource <= 0) {
        val curated = nearDeduped.localCheckpoint(false)
        val n = curated.count()
        sigs.unpersist(blocking = false)
        (curated, n, n)
      } else {
        val deduped = nearDeduped.cache()
        val afterNearDup = deduped.count()
        sigs.unpersist(blocking = false)
        val curated = balanceStage(deduped, maxPerSource).localCheckpoint(false)
        val afterBalance = curated.count()
        deduped.unpersist(blocking = false)
        (curated, afterNearDup, afterBalance)
      }
    exact.unpersist(blocking = false)

    (curated,
      Report(input, afterQuality, afterLang, afterExact, afterNearDup, afterBalance))
  }

  /** Frees the blocks of the frame [[curate]] returned: a local
    * checkpoint is a persisted RDD behind the frame's `LogicalRDD` root,
    * which `Dataset.unpersist()` does not touch. Pass curate's frame
    * itself, not a frame derived from it (anything else is left alone).
    * Reading the frame after release throws: a local checkpoint cannot
    * be recomputed.
    */
  def release(curated: DataFrame): Unit =
    curated.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
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

  /** [[curate]] with ZERO bookkeeping actions: stage counts ride as
    * `observe` metrics computed DURING the caller's one materialization
    * instead of six standalone count() jobs. At 100 TB each count() in
    * [[curate]] is a full pass over a stage's input — the observed
    * variant's accounting is free (a running aggregate inside the
    * already-executing plan).
    *
    * Same stages and policies as [[curate]] (quality -> language ->
    * exact dedup -> verified near-dup -> optional balance; the exact
    * and final frames are cached, earlier caches released by the
    * caller via the returned frame's lifecycle).
    *
    * @return (curated frame, report thunk). The thunk BLOCKS until an
    *         action has run over the returned frame (e.g.
    *         `curated.count()` or the caller's write) — call it after
    *         materializing, not before.
    */
  def curateObserved(spark: SparkSession, docs: DataFrame,
                     minTokens: Int = 8, maxPunctRatio: Double = 0.2,
                     keepLangs: Seq[String] = Nil,
                     nHashes: Int = 32, bandSize: Int = 4,
                     minSigAgreement: Double = 0.7,
                     maxPerSource: Int = 0): (DataFrame, () => Report) = {
    requireNoReservedColumns(docs)
    import org.apache.spark.sql.Observation
    val oIn = Observation("curate_input")
    val oQuality = Observation("curate_quality")
    val oLang = Observation("curate_lang")
    val oExact = Observation("curate_exact")
    val oNearDup = Observation("curate_neardup")
    val oBalance = Observation("curate_balance")
    val n = count(lit(1)).as("n")

    // the SAME stage definitions curate/exactStage run — observe nodes
    // wrap them rather than re-spelling their bodies (a drifted inline
    // copy here once tripled the places a stage fix had to land)
    val quality = qualityStage(docs.observe(oIn, n), minTokens, maxPunctRatio)
      .observe(oQuality, n)
    val langed = langStage(quality, keepLangs).observe(oLang, n)
    // cache ABOVE the observe: the consumers (signature pass, final
    // anti-join) share one computation, so each stage metric fires
    // exactly once — on the cache build
    val exact = exactDedup(langed).observe(oExact, n).cache()
    // signatures cached lazily (curateObserved runs ZERO bookkeeping
    // actions — an eager checkpoint here would break that contract);
    // lifecycle rides the returned frame's, like `exact`
    val sigs = Dedup.minhashSignatures(exact, nHashes).cache()
    val deduped = exact
      .join(nearDupIds(sigs, nHashes, minSigAgreement, bandSize),
        Seq("doc_id"), "left_anti")
      .observe(oNearDup, n)
    // cached, not checkpointed like curate's result: the observe
    // metrics ride the query that builds this cache. Behind a lazy
    // checkpoint, CollectMetrics would run inside another query's RDD
    // and the observations would never be fulfilled.
    val curated = balanceStage(deduped, maxPerSource)
      .observe(oBalance, n).cache()

    def metric(o: Observation): Long =
      o.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
    (curated, () => Report(metric(oIn), metric(oQuality), metric(oLang),
      metric(oExact), metric(oNearDup), metric(oBalance)))
  }
}
