package graft.ops

import org.apache.spark.sql.functions._

/** Corpus-distribution comparison and novelty scoring: the monitoring
  * side of a training-data pipeline. Source mixes drift between crawl
  * snapshots, and a refreshed corpus is only worth re-training on if it
  * actually contains new text — these operators quantify both, exactly
  * (integer/decimal arithmetic end-to-end, doubles only in the final
  * literal-identical normalization on both engines).
  */
object CorpusDrift {

  import TextAnalytics.toks
  import Dedup.shingles

  private val duckToks = TwinSql.toksSql

  def all: Seq[QueryDef] = Seq(q134, q136, q146, q151, q156, q163, q197, q201)

  /** Pairwise source-distribution divergence (q134): for every source
    * pair, the L1 distance between their unigram distributions —
    * sum_t |c1(t)/N1 - c2(t)/N2| in [0,2] — the drift metric a corpus
    * monitor tracks between snapshots/domains. Computed EXACTLY by
    * cross-multiplication: the common-denominator numerator
    * sum_t |c1*N2 - c2*N1| stays in DECIMAL(38,0) (BIGINT products of
    * 100 TB-scale token counts overflow 64 bits; 38 digits cannot),
    * and only the final normalization divides as DOUBLE with the same
    * literal formula in both engines. Terms present in one source only
    * never materialize as join rows: their total contribution is
    * N2*(N1 - S1shared) + N1*(N2 - S2shared), recovered from the
    * shared-term sums alone. EVERY source pair emits a row: pairs
    * sharing no vocabulary — the MOST divergent case, which a monitor
    * must see, not infer from absence — surface with shared_terms = 0
    * and l1 = 2.0 via a left join from the S x S source-pair spine
    * (an S-row broadcast nested loop; S is a pipeline constant).
    *
    * Scale: one exchange builds (source, term, c); the self-join keys
    * on term, whose fan-out per term is bounded by the number of
    * sources — a pipeline-level constant (tens), so the pair blow-up is
    * C(S,2)-bounded per term, never corpus-sized. Totals are an
    * S-row aggregate, broadcast onto the pair rows.
    */
  val q134: QueryDef = QueryDef.sql(
    "q134_source_divergence",
    s"""WITH tc AS (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest($duckToks) AS term FROM documents)
       |  GROUP BY source, term),
       |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY source),
       |pair AS (
       |  SELECT a.source AS s1, b.source AS s2,
       |    CAST(count(*) AS BIGINT) AS shared_terms,
       |    sum(CAST(a.c AS HUGEINT)) AS s1b,
       |    sum(CAST(b.c AS HUGEINT)) AS s2b,
       |    sum(abs(CAST(a.c AS HUGEINT) * t2.n - CAST(b.c AS HUGEINT) * t1.n)) AS cross_num
       |  FROM tc a
       |  JOIN tc b ON a.term = b.term AND a.source < b.source
       |  JOIN tot t1 ON t1.source = a.source
       |  JOIN tot t2 ON t2.source = b.source
       |  GROUP BY s1, s2)
       |SELECT t1.source AS s1, t2.source AS s2,
       |  CAST(COALESCE(pair.shared_terms, 0) AS BIGINT) AS shared_terms,
       |  CAST(CAST(COALESCE(cross_num, 0)
       |      + CAST(t2.n AS HUGEINT) * (t1.n - COALESCE(s1b, 0))
       |      + CAST(t1.n AS HUGEINT) * (t2.n - COALESCE(s2b, 0)) AS DOUBLE)
       |    / (CAST(t1.n AS DOUBLE) * CAST(t2.n AS DOUBLE)) AS DOUBLE) AS l1
       |FROM tot t1
       |JOIN tot t2 ON t1.source < t2.source
       |LEFT JOIN pair ON pair.s1 = t1.source AND pair.s2 = t2.source
       |ORDER BY s1, s2""".stripMargin) { (s, dir) =>
    sourceDivergence(Tables.documents(s, dir)).orderBy(col("s1"), col("s2"))
  }

  /** The q134 kernel over any (source, text) frame; unsorted output. */
  def sourceDivergence(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tc = docs
      .select(col("source"), explode(toks(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).cast("bigint").as("c"))
    val tot = tc.groupBy(col("source"))
      .agg(sum(col("c")).cast("bigint").as("n"))
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val pair = tc.toDF("s1", "term", "c1")
      .join(tc.toDF("s2", "term2", "c2"),
        col("term") === col("term2") && col("s1") < col("s2"))
      .join(broadcast(tot.toDF("ts1", "tn1")), col("ts1") === col("s1"))
      .join(broadcast(tot.toDF("ts2", "tn2")), col("ts2") === col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(
        count(lit(1)).cast("bigint").as("shared_terms"),
        sum(col("c1").cast(d38)).as("s1b"),
        sum(col("c2").cast(d38)).as("s2b"),
        sum(abs(col("c1").cast(d38) * col("tn2") - col("c2").cast(d38) * col("tn1")))
          .as("cross_num"))
    // S x S pair spine (S-row broadcast nested loop, S = source count
    // — a pipeline constant): zero-shared-vocabulary pairs, the
    // maximally divergent case, must EMIT (shared_terms=0, l1=2.0)
    // rather than vanish from the monitor's view
    val spine = broadcast(tot.toDF("s1", "n1"))
      .join(broadcast(tot.toDF("s2", "n2")), col("s1") < col("s2"))
    spine.join(pair, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"),
        coalesce(col("shared_terms"), lit(0L)).as("shared_terms"),
        ((coalesce(col("cross_num"), lit(0).cast(d38))
            + col("n2").cast(d38) * (col("n1") - coalesce(col("s1b"), lit(0).cast(d38)))
            + col("n1").cast(d38) * (col("n2") - coalesce(col("s2b"), lit(0).cast(d38)))).cast("double")
          / (col("n1").cast("double") * col("n2").cast("double"))).as("l1"))
  }

  /** Per-document n-gram novelty (q136): the fraction of a document's
    * distinct 8-token shingles whose FIRST corpus occurrence (lowest
    * doc_id) is that document — the "how much genuinely new text does
    * this doc add" score used for dedup-aware sampling and snapshot
    * value estimation (a doc of all-novel shingles scores 1.0; a pure
    * re-crawl scores 0.0). Shingling matches [[Dedup.shingles]]'
    * min-1-window semantics: a doc shorter than 8 tokens contributes
    * its whole text as one shingle, so every non-empty doc is scored.
    *
    * Scale: distinct (doc, shingle) is one exchange; first-occurrence
    * is a min aggregate on shingle, and the flag join keys on the same
    * shingle hash — Catalyst reuses the exchange for the aggregate and
    * the join probe side, so the corpus shuffles on shingle once plus
    * the final per-doc rollup. No window over the whole corpus, no
    * sort until the bounded output.
    */
  val q136: QueryDef = QueryDef.sql(
    "q136_ngram_novelty",
    s"""WITH d AS (
       |  SELECT doc_id, t, len(t) AS n
       |  FROM (SELECT doc_id, $duckToks AS t FROM documents)
       |  WHERE len(t) > 0),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(t[i + 1 : i + 8], ' ') AS sh
       |  FROM (SELECT doc_id, t,
       |          unnest(range(0, greatest(n - 8, 0) + 1)) AS i
       |        FROM d)),
       |firsts AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh),
       |agg AS (
       |  SELECT s.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_shingles,
       |    CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_novel
       |  FROM sh s JOIN firsts f ON f.sh = s.sh
       |  GROUP BY s.doc_id)
       |SELECT doc_id, n_shingles, n_novel,
       |  CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
       |FROM agg
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    ngramNovelty(Tables.documentsFan(s, dir)).orderBy(col("doc_id"))
  }

  /** The q136 kernel over any (doc_id, text) frame; unsorted output.
    * Docs with no tokens vanish (no shingles, no score).
    *
    * Two exchanges total: per-doc shingle dedup happens NARROWLY
    * (array_distinct on the shingle array before the explode — no
    * corpus-wide distinct exchange), first-occurrence is an
    * unordered-frame window min on the single shingle exchange (no
    * separate aggregate + probe-side re-exchange), and the per-doc
    * rollup is the second exchange. A naive
    * distinct -> groupBy -> join formulation costs four.
    *
    * The corpus-sized exchange ships xxhash64(shingle) — 8 bytes per
    * row instead of the ~60-byte raw 8-gram string (measured ~5x
    * serialized-exchange reduction at 100x, PLANS.md) — while the
    * DuckDB twin keys on the raw string: identical modulo a 64-bit
    * collision, which the hash compare would SURFACE as a mismatch,
    * not mask (the q45/q113 argument).
    */
  def ngramNovelty(docs: org.apache.spark.sql.DataFrame,
                   n: Int = 8): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
    docs
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text"), n))).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sh"))
      .withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .cast("bigint").as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
  }

  // -----------------------------------------------------------------
  // Incremental novelty: the production mode. A perpetual ingest keeps
  // a first-seen shingle index and scores each batch against it,
  // instead of re-running q136 over the whole corpus per snapshot.
  // -----------------------------------------------------------------

  /** First-seen shingle index over a corpus: (sh, first_doc) with
    * sh = xxhash64 of the shingle and first_doc = the lowest doc_id
    * containing it. The persisted state of the incremental novelty
    * pipeline — hash keys make the stored index and every exchange
    * against it 8 bytes per shingle instead of the raw n-gram string
    * (collision-tolerant by the same 64-bit argument as q136 itself).
    */
  def buildFirstSeen(docs: org.apache.spark.sql.DataFrame,
                     n: Int = 8): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text"), n))).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sh"))
      .groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))

  /** Merge a delta corpus into a first-seen index WITHOUT rescanning
    * history. min is commutative and associative, so any fold order of
    * any batch split equals the full rebuild (spec-proven, N-delta).
    *
    * Scale: shingling touches only the delta; the merge is one
    * exchange of index ∪ delta-index rows on sh. With the index
    * persisted bucketed by sh, the history side co-locates and only
    * the delta moves.
    */
  def upsertFirstSeen(index: org.apache.spark.sql.DataFrame,
                      deltaDocs: org.apache.spark.sql.DataFrame,
                      n: Int = 8): org.apache.spark.sql.DataFrame =
    index.unionByName(buildFirstSeen(deltaDocs, n))
      .groupBy(col("sh")).agg(min(col("first_doc")).as("first_doc"))

  /** Score a batch's novelty against the accumulated index: a shingle
    * is novel for a doc when it misses the index AND the doc is its
    * first occurrence WITHIN the batch. For doc_ids that increase
    * monotonically across batches (an ingest's natural order), folding
    * [[upsertFirstSeen]] between batches and unioning these per-batch
    * scores reproduces [[ngramNovelty]] over the concatenated corpus
    * exactly (spec-proven).
    *
    * Scale: the batch side carries its window and the join on one sh
    * exchange (partitioning reused); the index side streams into the
    * join without ever being re-shingled.
    */
  def noveltyAgainstIndex(index: org.apache.spark.sql.DataFrame,
                          batchDocs: org.apache.spark.sql.DataFrame,
                          n: Int = 8): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
    batchDocs
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text"), n))).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sh"))
      .withColumn("batch_first", min(col("doc_id")).over(w))
      .join(index.select(col("sh"), lit(true).as("__seen")), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_shingles"),
        sum(when(col("__seen").isNull && col("batch_first") === col("doc_id"),
            1L).otherwise(0L))
          .cast("bigint").as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
  }

  /** [[noveltyAgainstIndex]] with a map-side Bloom pre-strike — the
    * mostly-NOVEL-batch fast path (a fresh crawl of genuinely new
    * content). Exact same output as the plain kernel (spec-proven):
    *
    *  1. a Bloom filter of the index's shingle hashes builds map-side
    *     (treeAggregate — the index is scanned once, never shuffled);
    *  2. every batch shingle probes the broadcast bloom NARROWLY.
    *     Bloom-MISS rows are certainly absent from the index — they
    *     skip the index join entirely and pay only a window over
    *     their own (miss-sized) exchange for within-batch
    *     first-occurrence;
    *  3. only bloom-HIT rows — true re-occurrences plus an fpp sliver
    *     — pay the exact left join against the index; their
    *     within-batch window rides the same sh exchange the join
    *     needs (one exchange for both).
    *
    * The probe is per-shingle deterministic, so ALL occurrences of a
    * shingle land on one side and each side's within-batch min is the
    * true batch_first — exactness does not depend on the bloom's fpp.
    *
    * Wire volume: a mostly-novel batch ships its (tiny) hit sliver to
    * the index join instead of every row; a mostly-DUP batch (steady
    * re-crawl) is hit-dominated and the exact join stays batch-sized —
    * irreducible with one-sided bloom certainty, see PLANS.md ("q136
    * at 100x").
    */
  def noveltyAgainstIndexBloom(index: org.apache.spark.sql.DataFrame,
                               batchDocs: org.apache.spark.sql.DataFrame,
                               n: Int = 8,
                               expectedItems: Long = 1000000L,
                               fpp: Double = 0.03): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
    // stat.bloomFilter NPEs on a ZERO-ROW frame (its treeAggregate
    // never creates a filter to serialize) — an empty index means
    // nothing can be seen, which the plain kernel handles with no
    // bloom at all
    val bloom =
      try index.stat.bloomFilter("sh", math.max(expectedItems, 1L), fpp)
      catch { case _: NullPointerException => null }
    if (bloom == null) return noveltyAgainstIndex(index, batchDocs, n)
    // checkpoint: BOTH branches below consume this frame, and uncached
    // each would re-run the scan + regex shingle + hash kernel — the
    // operator's dominant CPU cost, paid twice (the q153/q160 lesson)
    val rows = batchDocs
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("text"), n))).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sh"))
      .withColumn("__hit",
        coalesce(graft.functions.functions.bloom_might_contain(col("sh"), bloom),
          lit(false)))
      .localCheckpoint(false)
    val miss = rows.filter(!col("__hit"))
      .withColumn("batch_first", min(col("doc_id")).over(w))
      .select(col("doc_id"),
        (col("batch_first") === col("doc_id")).as("__novel"))
    val hit = rows.filter(col("__hit"))
      .withColumn("batch_first", min(col("doc_id")).over(w))
      .join(index.select(col("sh"), lit(true).as("__seen")), Seq("sh"), "left")
      .select(col("doc_id"),
        (col("__seen").isNull && col("batch_first") === col("doc_id")).as("__novel"))
    miss.unionByName(hit)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_shingles"),
        sum(when(col("__novel"), 1L).otherwise(0L))
          .cast("bigint").as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
  }

  /** Incremental novelty, oracle-checked end to end (q146): a 40/60
    * modulo split of the documents fixture plays history vs incoming
    * batch — [[buildFirstSeen]] indexes the history, then
    * [[noveltyAgainstIndexBloom]] scores the batch against it (bloom
    * pre-strike included, so the production path — map-side bloom
    * build, narrow probe, miss rows skipping the index join — is what
    * the DuckDB hash-compare certifies, not just the plain kernel).
    * The modulo split is scale-factor independent and interleaves
    * history and batch doc_ids, exercising both bloom sides: shared
    * boilerplate shingles HIT, fresh content MISSES. The twin re-derives
    * the history shingle set and batch-first occurrences over raw
    * shingle strings where Spark keys xxhash64 — identical modulo a
    * 64-bit collision the hash compare would surface, not mask.
    */
  val q146: QueryDef = QueryDef.sql(
    "q146_incremental_novelty",
    s"""WITH d AS (
       |  SELECT doc_id, t, len(t) AS n
       |  FROM (SELECT doc_id, $duckToks AS t FROM documents)
       |  WHERE len(t) > 0),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(t[i + 1 : i + 8], ' ') AS sh
       |  FROM (SELECT doc_id, t,
       |          unnest(range(0, greatest(n - 8, 0) + 1)) AS i
       |        FROM d)),
       |hist AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 5 < 2),
       |b AS (SELECT doc_id, sh FROM sh WHERE doc_id % 5 >= 2),
       |firsts AS (SELECT sh, min(doc_id) AS batch_first FROM b GROUP BY sh),
       |agg AS (
       |  SELECT b.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_shingles,
       |    CAST(sum(CASE WHEN h.sh IS NULL AND f.batch_first = b.doc_id
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
       |  FROM b
       |  JOIN firsts f ON f.sh = b.sh
       |  LEFT JOIN hist h ON h.sh = b.sh
       |  GROUP BY b.doc_id)
       |SELECT doc_id, n_shingles, n_novel,
       |  CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
       |FROM agg
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documentsFan(s, dir)
    val index = buildFirstSeen(docs.filter(col("doc_id") % 5 < 2))
    noveltyAgainstIndexBloom(index, docs.filter(col("doc_id") % 5 >= 2))
      .orderBy(col("doc_id"))
  }

  /** Per-source length-distribution drift (q151): the chi-square
    * goodness-of-fit statistic of each source's doc-length histogram
    * (200-char buckets) against the corpus-wide distribution —
    * Σ_b (o_b - e_b)²/e_b with e_b = n_s·c_b/N. The monitor question
    * "which source's output suddenly looks different?" answered with
    * a statistic that is PURE rational arithmetic over exact integer
    * counts (unlike PSI/KL, whose ln() differs across libm
    * implementations and would break the bit-exact oracle).
    *
    * Zero-observed buckets contribute their full e_b penalty, so the
    * per-source fold runs over the complete source × corpus-bucket
    * spine (S·B rows, both pipeline constants) — built broadcast ×
    * broadcast like q134's pair spine, never touching corpus-sized
    * data. The corpus pass itself is one map-side-combined count to B
    * rows plus one to S·B rows. Fold order is pinned by an ordered
    * bucket list on both engines (q120's blocked-mean discipline), so
    * the chi² doubles hash-match.
    */
  /** Per-source QUALITY-score drift (q163): the q151 chi² machinery
    * pointed at the q109 classifier's score deciles instead of doc
    * lengths — "which source's quality distribution suddenly looks
    * different from the corpus?", the monitor a curation pipeline
    * wants on the very score its q93/q98 gates act on (a feed that
    * starts shipping boilerplate shifts its score mass down long
    * before its LENGTH histogram moves). Buckets are q158's fixed
    * deciles; the statistic is pure rational arithmetic over integer
    * counts (the q151 argument), and the score itself is the
    * single-definition classifierZ/rationalSigmoid pair, so all three
    * quality consumers (gate, audit, drift) grade the same number.
    *
    * Scale: ONE narrow pass to (source, decile), then the shared
    * broadcast S×B spine — B is exactly 10 here, so the spine is even
    * smaller than q151's.
    */
  val q163: QueryDef = QueryDef.sql(
    "q163_quality_drift",
    s"""WITH f AS (
       |  SELECT source,
       |    ${TwinSql.nTokens("t")} AS nt,
       |    ${TwinSql.punctRatio("text")} AS punct_ratio,
       |    ${TwinSql.digitRatio("text")} AS digit_ratio,
       |    ${TwinSql.stopRatio("t")} AS stop_ratio
       |  FROM (SELECT source, text, $duckToks AS t FROM documents)),
       |b AS (
       |  SELECT source,
       |    CAST(floor((${TwinSql.rationalSigmoid("z")}) * 10.0) AS BIGINT) AS bucket
       |  FROM (
       |    SELECT source,
       |      ${TwinSql.classifierZ("stop_ratio", "nt", "punct_ratio", "digit_ratio")} AS z
       |    FROM f WHERE nt > 0)),
       |${TwinSql.chiSquareSql}
       |SELECT source, n_docs,
       |  CAST((SELECT count(*) FROM cb) - 1 AS BIGINT) AS dof,
       |  list_sum(list(term ORDER BY bucket)) AS chi2
       |FROM terms
       |GROUP BY source, n_docs
       |ORDER BY source""".stripMargin) { (s, dir) =>
    qualityScoreDrift(Tables.documentsFan(s, dir)).orderBy(col("source"))
  }

  /** The q163 kernel over any (source, text) frame; unsorted output.
    * Score deciles from the single-definition
    * [[TextAnalytics.qualityScoreDecile]] expression (also the
    * streaming monitor's bucketing — parity depends on it), then the
    * shared [[chiSquareByBucket]] spine.
    */
  def qualityScoreDrift(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    chiSquareByBucket(docs
      .filter(size(toks(col("text"))) > 0)
      .select(col("source"),
        TextAnalytics.qualityScoreDecile(col("text")).as("bucket")))

  val q151: QueryDef = QueryDef.sql(
    "q151_source_length_drift",
    s"""WITH b AS (
       |  SELECT source, n_chars // 200 AS bucket FROM documents
       |  WHERE n_chars >= 0),
       |${TwinSql.chiSquareSql}
       |SELECT source, n_docs,
       |  CAST((SELECT count(*) FROM cb) - 1 AS BIGINT) AS dof,
       |  list_sum(list(term ORDER BY bucket)) AS chi2
       |FROM terms
       |GROUP BY source, n_docs
       |ORDER BY source""".stripMargin) { (s, dir) =>
    sourceLengthDrift(Tables.documents(s, dir)).orderBy(col("source"))
  }

  /** The q151 kernel over any (source, n_chars) frame; unsorted
    * output. [[graft.streaming.DriftStream]] reproduces these chi²
    * doubles BIT-EXACTLY from incremental histogram state (same
    * term formula, same ordered-bucket fold) — parity is spec-pinned.
    */
  def sourceLengthDrift(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    chiSquareByBucket(lengthBucketed(docs).select(col("source"), col("bucket")))

  /** q151's 200-char length bucket + its junk guard — THE single
    * definition shared by the batch kernel and DriftStream.histogram
    * (the twin repeats the same WHERE + `//`). The guard excludes junk
    * rows (NULL or negative n_chars): Spark `div` truncates negatives
    * toward zero where DuckDB `//` floors (-1 div 200 = 0 vs -1), and
    * a NULL bucket would fold nulls-FIRST in sort_array but nulls-LAST
    * in the twin's ORDER BY — either way the chi² doubles diverge, so
    * junk must never reach the spine (on either engine: identical
    * exclusion both sides).
    */
  private[graft] def lengthBucketed(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.where(col("n_chars") >= 0)
      .withColumn("bucket", expr("n_chars div 200"))

  /** The q151 chi² spine over ANY (source, bucket) frame — THE single
    * definition of the term formula, the broadcast S×B spine (zero-
    * observed buckets paying their full e_b penalty), and the
    * ordered-bucket fold, consumed by q151 (length buckets), q163
    * (quality-score deciles), and — through sourceLengthDrift — the
    * DriftStream parity contract.
    */
  def chiSquareByBucket(b: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cb = b.groupBy(col("bucket")).agg(count(lit(1)).cast("bigint").as("c"))
    val sb = b.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).cast("bigint").as("o"))
    val ns = b.groupBy(col("source")).agg(count(lit(1)).cast("bigint").as("n_docs"))
    val tot = b.agg(count(lit(1)).cast("bigint").as("n"))
    val nb = cb.agg(count(lit(1)).cast("bigint").as("nb"))
    val e = col("n_docs").cast("double") * col("c").cast("double") / col("n").cast("double")
    val spine = broadcast(ns).crossJoin(broadcast(cb)).crossJoin(broadcast(tot))
    spine.join(sb, Seq("source", "bucket"), "left")
      .select(col("source"), col("n_docs"), col("bucket"),
        ((coalesce(col("o"), lit(0L)).cast("double") - e)
          * (coalesce(col("o"), lit(0L)).cast("double") - e) / e).as("term"))
      .groupBy(col("source"), col("n_docs"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("term")))).as("ts"))
      .crossJoin(broadcast(nb))
      .select(col("source"), col("n_docs"),
        (col("nb") - 1L).cast("bigint").as("dof"),
        aggregate(col("ts"), lit(0.0),
          (acc, t) => acc + t.getField("term")).as("chi2"))
  }

  /** Corpus snapshot diff (q156): the crawl-to-crawl change report —
    * given two corpus versions, per source: how many docs were added,
    * removed, changed, unchanged, and the net token delta. The
    * complement of q103 (which APPLIES a change log): here there is no
    * log, only two snapshots, and the diff must be DERIVED — the audit
    * a pipeline runs before deciding whether a refreshed crawl is
    * worth re-processing (q136/q146 answer "is the text new"; q156
    * answers "what happened to the feed"). Fixture versions are
    * deterministic slices: A = doc_id < 450, B = doc_id >= 50 with
    * every doc_id % 7 == 3 doc revised (a modulus coprime to the fixture's source = doc_id % 20 assignment, so changes hit every source).
    *
    * Scale: ONE full-outer equi-join on doc_id (both sides hash to the
    * same partitioning) + a source-sized rollup; the change test
    * compares xxhash64(text) so at 100 TB the join can carry (id,
    * source, hash, token count) projections, never full text twice —
    * the DuckDB twin compares raw strings (q136's collision-surfaces-
    * as-mismatch argument). Token counts are narrow; all outputs
    * integers.
    */
  val q156: QueryDef = QueryDef.sql(
    "q156_snapshot_diff",
    s"""WITH va AS (
       |  SELECT doc_id, source, text FROM documents WHERE doc_id < 450),
       |vb AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 7 = 3 THEN text || ' [rev2]' ELSE text END AS text
       |  FROM documents WHERE doc_id >= 50),
       |j AS (
       |  SELECT COALESCE(vb.source, va.source) AS source,
       |    CASE WHEN va.doc_id IS NULL THEN 'added'
       |         WHEN vb.doc_id IS NULL THEN 'removed'
       |         WHEN va.text IS DISTINCT FROM vb.text THEN 'changed'
       |         ELSE 'unchanged' END AS status,
       |    COALESCE(len(${TwinSql.toksOf("va.text")}), 0) AS tok_a,
       |    COALESCE(len(${TwinSql.toksOf("vb.text")}), 0) AS tok_b
       |  FROM va FULL OUTER JOIN vb ON va.doc_id = vb.doc_id)
       |SELECT source,
       |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
       |  CAST(sum(tok_b - tok_a) AS BIGINT) AS tok_delta
       |FROM j
       |GROUP BY source
       |ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val va = docs.filter(col("doc_id") < 450)
      .select(col("doc_id"), col("source"), col("text"))
    val vb = docs.filter(col("doc_id") >= 50)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 3, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
    snapshotDiff(va, vb).orderBy(col("source"))
  }

  /** The q156 kernel over two (doc_id, source, text) snapshots;
    * unsorted output.
    */
  def snapshotDiff(va: org.apache.spark.sql.DataFrame,
                   vb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def nTok(c: org.apache.spark.sql.Column) =
      coalesce(size(toks(c)), lit(-1)) // size(null) is -1 already; unify
    // presence is a row property, not a text property: a present row
    // with NULL text must not read as absent (the twin keys on
    // doc_id IS NULL), so explicit flags ride through the join, and
    // the change test is NULL-SAFE (<=> on hashes here, IS DISTINCT
    // FROM on raw text in the twin) so null-vs-text reads as changed
    val a = va.select(col("doc_id"), col("source").as("src_a"),
      col("text").as("text_a"), lit(true).as("in_a"))
    val b = vb.select(col("doc_id"), col("source").as("src_b"),
      col("text").as("text_b"), lit(true).as("in_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("src_b"), col("src_a")).as("source"),
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .when(!(xxhash64(col("text_a")) <=> xxhash64(col("text_b"))), "changed")
          .otherwise("unchanged").as("status"),
        greatest(nTok(col("text_a")), lit(0)).cast("bigint").as("tok_a"),
        greatest(nTok(col("text_b")), lit(0)).cast("bigint").as("tok_b"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L))
          .cast("bigint").as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L))
          .cast("bigint").as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L))
          .cast("bigint").as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L))
          .cast("bigint").as("n_unchanged"),
        sum(col("tok_b") - col("tok_a")).cast("bigint").as("tok_delta"))
  }

  /** Embedding-space drift monitor (q197): chi² of the IVF-cell
    * occupancy histogram of a CURRENT embedding window against a
    * REFERENCE window — the q151/q163 drift spine pointed at the
    * vector axis. Coverage drift (a feed whose new vectors crowd into
    * different coarse cells than the corpus the quantizer and the ANN
    * operating points were tuned on) is invisible to every text-side
    * monitor and silently degrades q53/q150/q180 serving (probe depths
    * calibrated on the old occupancy); this is the readout that
    * catches it. Centroid-level shift is deliberately expressed as
    * CELL-OCCUPANCY shift: cell counts are exact integers the chi²
    * spine consumes with no float mean anywhere (a per-dimension float
    * centroid would need an ordered fold per dim for cross-engine
    * determinism and says less about serving than the cells do).
    *
    * Windows: ref = vec_id % 10 < 8, cur = the rest — the
    * deterministic SF-proportional stand-in for "yesterday's snapshot
    * vs today's ingest" (a real deployment keys the windows on ingest
    * time; the split is a parameter, not a semantic). Assignment is
    * the q171/q174 serving convention: frozen lloydIters=1 quantizer
    * (first-8 by vec_id), null-vector junk excluded, the shared
    * argmin. Both windows are scored against the combined occupancy
    * (q151's source-vs-corpus semantics — e_b > 0 guaranteed); the
    * `cur` row is the drift readout and `ref`'s chi² is the
    * self-consistency baseline.
    *
    * Scale: assignment is the zero-shuffle broadcast map; the
    * histogram partial-aggregates to K cells map-side; the chi² runs
    * on the 2×K spine. [[graft.streaming.DriftStream.monitorEmbedding]]
    * maintains the same histogram incrementally (bit-exact parity,
    * spec-pinned like the length/quality monitors).
    */
  def embeddingCellDrift(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.cluster.KMeansAssign
    val e = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val centers = KMeansAssign.lloydCenters(e, 8, iters = 1, "vec_id", "v")
    chiSquareByBucket(
      KMeansAssign.assignMap(e, centers, "v")
        .select(
          when(pmod(col("vec_id"), lit(10)) < 8, lit("ref"))
            .otherwise(lit("cur")).as("source"),
          col("center_id").cast("bigint").as("bucket")))
      .select(col("source").as("win"), col("n_docs").as("n_vecs"),
        col("dof"), col("chi2"))
  }

  val q197: QueryDef = QueryDef.sql(
    "q197_embedding_cell_drift",
    s"""WITH ctr AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS center_id, embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8)),
       |base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |asg AS (
       |  SELECT vec_id, center_id FROM (
       |    SELECT base.vec_id, ctr.center_id,
       |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
       |        ${TwinSql.distZ("base.v", "ctr.cv")}, ctr.center_id) AS rn
       |    FROM base CROSS JOIN ctr) WHERE rn = 1),
       |b AS (
       |  SELECT CASE WHEN vec_id % 10 < 8 THEN 'ref' ELSE 'cur' END AS source,
       |    CAST(center_id AS BIGINT) AS bucket
       |  FROM asg),
       |${TwinSql.chiSquareSql}
       |SELECT source AS win, n_docs AS n_vecs,
       |  CAST((SELECT count(*) FROM cb) - 1 AS BIGINT) AS dof,
       |  list_sum(list(term ORDER BY bucket)) AS chi2
       |FROM terms
       |GROUP BY source, n_docs
       |ORDER BY win""".stripMargin) { (s, dir) =>
    embeddingCellDrift(Tables.embeddings(s, dir)).orderBy(col("win"))
  }

  /** Per-cell embedding drift drilldown (q201): q197 says THAT the
    * vector space drifted (one chi² per window); this says WHERE —
    * per IVF cell, the reference and current occupancy (exact
    * integers), each window's share, the share delta, and the cell's
    * own chi² contribution from the current window. The cells with
    * the largest terms are the ones whose q53/q150 probe behavior the
    * drift actually changes — the readout that turns q197's alarm
    * into an action (re-train the quantizer, re-tune nprobe, or
    * quarantine the feed crowding one cell).
    *
    * Same assignment, windows, and exactness contract as q197 (one
    * deliberate exception class: share/term columns are per-ROW
    * literal double formulas over exact integers — no fold anywhere,
    * so no ordered-fold machinery is needed). Empty-window guards
    * return 0.0 shares (CASE, both engines).
    *
    * Scale: q197's shape — broadcast assignment map, K-cell map-side
    * aggregate, one-row totals broadcast onto K rows.
    */
  def embeddingCellDriftDetail(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.cluster.KMeansAssign
    val e = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    val centers = KMeansAssign.lloydCenters(e, 8, iters = 1, "vec_id", "v")
    val counts = KMeansAssign.assignMap(e, centers, "v")
      .select(col("center_id").cast("bigint").as("cell"),
        when(pmod(col("vec_id"), lit(10)) < 8, 1L).otherwise(0L).as("isr"))
      .groupBy(col("cell"))
      .agg(sum(col("isr")).cast("bigint").as("n_ref"),
        (count(lit(1)) - sum(col("isr"))).cast("bigint").as("n_cur"))
    val tot = counts.agg(
      sum(col("n_ref")).cast("bigint").as("tr"),
      sum(col("n_cur")).cast("bigint").as("tc"))
    val c = (col("n_ref") + col("n_cur")).cast("double")
    val n = (col("tr") + col("tc")).cast("double")
    val e_cur = col("tc").cast("double") * c / n
    counts.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_ref"), col("n_cur"),
        when(col("tr") > 0L,
          col("n_ref").cast("double") / col("tr").cast("double"))
          .otherwise(lit(0.0)).as("share_ref"),
        when(col("tc") > 0L,
          col("n_cur").cast("double") / col("tc").cast("double"))
          .otherwise(lit(0.0)).as("share_cur"),
        (when(col("tc") > 0L,
          col("n_cur").cast("double") / col("tc").cast("double"))
          .otherwise(lit(0.0))
          - when(col("tr") > 0L,
              col("n_ref").cast("double") / col("tr").cast("double"))
              .otherwise(lit(0.0))).as("share_delta"),
        ((col("n_cur").cast("double") - e_cur)
          * (col("n_cur").cast("double") - e_cur) / e_cur).as("term_cur"))
  }

  val q201: QueryDef = QueryDef.sql(
    "q201_embedding_drift_cells",
    s"""WITH ctr AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS center_id, embedding AS cv
       |  FROM (SELECT vec_id, embedding FROM embeddings
       |        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8)),
       |base AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |asg AS (
       |  SELECT vec_id, center_id FROM (
       |    SELECT base.vec_id, ctr.center_id,
       |      row_number() OVER (PARTITION BY base.vec_id ORDER BY
       |        ${TwinSql.distZ("base.v", "ctr.cv")}, ctr.center_id) AS rn
       |    FROM base CROSS JOIN ctr) WHERE rn = 1),
       |counts AS (
       |  SELECT CAST(center_id AS BIGINT) AS cell,
       |    CAST(sum(CASE WHEN vec_id % 10 < 8 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_ref,
       |    CAST(sum(CASE WHEN vec_id % 10 < 8 THEN 0 ELSE 1 END) AS BIGINT)
       |      AS n_cur
       |  FROM asg GROUP BY center_id),
       |tot AS (
       |  SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
       |    CAST(sum(n_cur) AS BIGINT) AS tc
       |  FROM counts)
       |SELECT cell, n_ref, n_cur,
       |  CASE WHEN tr > 0 THEN CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE)
       |       ELSE 0.0 END AS share_ref,
       |  CASE WHEN tc > 0 THEN CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE)
       |       ELSE 0.0 END AS share_cur,
       |  CASE WHEN tc > 0 THEN CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE)
       |       ELSE 0.0 END
       |    - CASE WHEN tr > 0 THEN CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE)
       |           ELSE 0.0 END AS share_delta,
       |  (CAST(n_cur AS DOUBLE)
       |     - CAST(tc AS DOUBLE) * CAST(n_ref + n_cur AS DOUBLE)
       |       / CAST(tr + tc AS DOUBLE))
       |  * (CAST(n_cur AS DOUBLE)
       |     - CAST(tc AS DOUBLE) * CAST(n_ref + n_cur AS DOUBLE)
       |       / CAST(tr + tc AS DOUBLE))
       |  / (CAST(tc AS DOUBLE) * CAST(n_ref + n_cur AS DOUBLE)
       |     / CAST(tr + tc AS DOUBLE)) AS term_cur
       |FROM counts CROSS JOIN tot
       |ORDER BY cell""".stripMargin) { (s, dir) =>
    embeddingCellDriftDetail(Tables.embeddings(s, dir)).orderBy(col("cell"))
  }
}
