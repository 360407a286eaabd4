package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document/text analytics over the `documents` table: token statistics,
  * term frequencies, quality scoring, language-ID — the per-document
  * scoring surface a training-data pipeline runs before filtering.
  * All per-doc metrics are narrow (no shuffle): at 100 TB they run at
  * scan speed; only the corpus-level term-frequency query shuffles, and
  * only after map-side partial aggregation.
  */
object TextAnalytics {

  /** Whitespace tokens with empties dropped — the engine-neutral
    * tokenizer used by every oracle-checked text query. Java's \s is
    * exactly [ \t\n\x0B\f\r] (matching the reference's split); the
    * DuckDB twin ([[TwinSql.toksSql]]) spells that class explicitly
    * because RE2's \s omits vertical tab.
    */
  def toks(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  private val duckToks = TwinSql.toksSql

  /** Fixed stopword probe list for quality scoring (tiny; a literal
    * array here, the IN-list [[TwinSql]] renders for the twins).
    */
  private[ops] val probeStops = Seq("the", "a", "an", "and", "of", "to", "is", "in", "it", "on")

  /** The document-quality features of a token array `t` ([[toks]]) or
    * the raw `text` — ONE definition each; the DuckDB twins call the
    * same-named fragments in [[TwinSql]]. Counters are null-guarded
    * (null text yields NULL, as the twins' len(NULL) does, never
    * size(null) = -1) and int; callers cast where they ship them.
    */
  private[ops] def nTokens(t: Column): Column = when(t.isNotNull, size(t))
  private[ops] def sumLen(t: Column): Column =
    aggregate(t, lit(0L), (a, x) => a + length(x).cast("bigint"))
  private[ops] def nAlpha(t: Column): Column =
    when(t.isNotNull, size(filter(t, x => x.rlike("[A-Za-z]"))))
  private[ops] def nStop(t: Column): Column = {
    val stopsArr = array(probeStops.map(lit): _*)
    when(t.isNotNull, size(filter(t, x => array_contains(stopsArr, x))))
  }
  private[ops] def stopRatio(t: Column): Column = nStop(t) / nTokens(t)
  private[graft] def punctChars(text: Column): Column =
    length(text) - length(regexp_replace(text, "\\p{P}", ""))
  private[ops] def punctRatio(text: Column): Column = punctChars(text) / length(text)
  private[ops] def digitRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[0-9]", ""))) / length(text)

  /** The [[gopherRuleFlags]] inputs as bigint columns nt, sl, na, ns. */
  private[ops] def gopherCounters(t: Column): Seq[Column] = Seq(
    nTokens(t).cast("bigint").as("nt"), sumLen(t).as("sl"),
    nAlpha(t).cast("bigint").as("na"), nStop(t).cast("bigint").as("ns"))

  /** The q23 composite quality score over the ratio features. */
  private[ops] def qscore(punct: Column, digit: Column, nTokens: Column,
                          stop: Column): Column =
    (lit(1.0) - punct) * (lit(1.0) - digit) * least(lit(1.0), nTokens / 64.0) *
      (lit(0.5) + stop)

  /** The q109 linear-classifier logit — THE single definition of the
    * demo weights, consumed by q109 and the q158 calibration audit
    * (which exists to audit exactly this score: a second copy could
    * silently drift and the audit would keep grading the stale
    * formula with every test green). Callers pass their own feature
    * columns; the expression tree is identical wherever it is built.
    */
  private[ops] def classifierZ(stopRatio: Column, nTokens: Column,
                               punctRatio: Column, digitRatio: Column): Column =
    lit(-2.0) + stopRatio * 6.0 + least(lit(1.0), nTokens / 64.0) * 2.0 -
      punctRatio * 8.0 - digitRatio * 4.0

  /** q109's squash: the RATIONAL sigmoid 0.5 + 0.5·z/(1+|z|) (IEEE-
    * exact on both engines, unlike libm exp — see q109's scaladoc).
    */
  private[ops] def rationalSigmoid(z: Column): Column =
    lit(0.5) + lit(0.5) * (z / (lit(1.0) + abs(z)))

  /** q126's four Gopher rules over the per-doc integer counters —
    * (count, wordlen, alpha, stop) in that order; single definition
    * consumed by the q126 report and, through [[gopherPass]], every
    * Gopher label.
    */
  private[ops] def gopherRuleFlags(nt: Column, sl: Column,
                                   na: Column, ns: Column): Seq[Column] = Seq(
    nt >= 50L && nt <= 100000L,
    lit(3L) * nt <= sl && sl <= lit(10L) * nt,
    lit(10L) * na >= lit(8L) * nt,
    ns >= 2L)

  /** All four [[gopherRuleFlags]] hold. */
  private[ops] def gopherPass(nt: Column, sl: Column, na: Column, ns: Column): Column =
    gopherRuleFlags(nt, sl, na, ns).reduce(_ && _)

  /** The q163 quality-score DECILE of a raw text column — the same
    * ratio formulas qualityBase computes, squashed through the
    * single-definition [[classifierZ]]/[[rationalSigmoid]] pair and
    * floored into 0..9. One definition for the batch drift kernel
    * (q163) and the streaming quality monitor
    * ([[graft.streaming.DriftStream.monitorQuality]]), whose parity
    * is bit-exact only because they bucket with the same expression.
    * NaN on zero-token docs (0/0 stop ratio) — callers filter those
    * out first, as q158/q163 do.
    */
  private[graft] def qualityScoreDecile(text: Column): Column = {
    val t = toks(text)
    floor(rationalSigmoid(classifierZ(stopRatio(t), nTokens(t).cast("bigint"),
      punctRatio(text), digitRatio(text))) * 10.0)
      .cast("bigint")
  }

  def all: Seq[QueryDef] =
    Seq(q21, q22, q23, q24, q38, q39, q86, q88, q109, q116, q121, q126, q127,
      q129, q142, q145, q147, q148, q158, q167, q175, q178, q186, q187, q189,
      q191)

  /** Per-document token statistics. */
  val q21: QueryDef = QueryDef.sql(
    "q21_doc_token_stats",
    s"""SELECT doc_id,
       |  CAST(len(t) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
       |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_token_len,
       |  n_chars,
       |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) / CAST(len(t) AS BIGINT) AS avg_token_len
       |FROM (SELECT doc_id, n_chars, $duckToks AS t FROM documents)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sumLen = aggregate(transform(col("t"), x => length(x)), lit(0), (a, x) => a + x)
      .cast("bigint")
    Tables.documentsFan(s, dir)
      .select(col("doc_id"), col("n_chars"), toks(col("text")).as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("bigint").as("n_tokens"),
        size(array_distinct(col("t"))).cast("bigint").as("n_distinct"),
        sumLen.as("sum_token_len"),
        col("n_chars"),
        (sumLen / size(col("t")).cast("bigint")).as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  /** Corpus term frequency, top 20. Scale: partial-aggregates per
    * partition before the single exchange on term.
    */
  val q22: QueryDef = QueryDef.sql(
    "q22_word_freq",
    s"""SELECT term, count(*) AS n
       |FROM (SELECT unnest($duckToks) AS term FROM documents)
       |GROUP BY term
       |ORDER BY n DESC, term
       |LIMIT 20""".stripMargin) { (s, dir) =>
    Tables.documentsFan(s, dir)
      .select(explode(toks(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(20)
  }

  /** Per-doc quality base shared by q23 and the quantile filter (q93):
    * ratio columns plus the composite qscore, all narrow column
    * arithmetic whose literal formula the DuckDB twins render through
    * TwinSql's same-named fragments, so the doubles hash-match.
    */
  def qualityBase(docs: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    docs
      .select(Seq(col("doc_id"), col("lang"), col("source"), col("text"),
        toks(col("text")).as("t")) ++ extra.map(col): _*)
      .select(
        Seq(col("doc_id"), col("lang"), col("source")) ++ extra.map(col) ++ Seq(
          // null text (loader junk row) must surface NULL counts, not
          // size(null) = -1 / a fake stop_ratio of (-1)/(-1) = 1.0 —
          // the twins' len(NULL) is NULL and NULL propagates to qscore
          nTokens(col("t")).cast("bigint").as("n_tokens"),
          punctRatio(col("text")).as("punct_ratio"),
          digitRatio(col("text")).as("digit_ratio"),
          stopRatio(col("t")).as("stop_ratio")): _*)
      .withColumn("qscore", qscore(col("punct_ratio"), col("digit_ratio"),
        col("n_tokens"), col("stop_ratio")))
  }

  /** Quality scoring: punctuation/digit/stopword ratios and a composite
    * score — the classic pre-training heuristic filter, as pure column
    * arithmetic (identical literal formula on both engines).
    */
  val q23: QueryDef = QueryDef.sql(
    "q23_quality_score",
    s"""SELECT doc_id, n_tokens, punct_ratio, digit_ratio, stop_ratio,
       |  ${TwinSql.qscore("punct_ratio", "digit_ratio", "n_tokens", "stop_ratio")} AS qscore
       |FROM (
       |  SELECT doc_id,
       |    ${TwinSql.nTokens("t")} AS n_tokens,
       |    ${TwinSql.punctRatio("text")} AS punct_ratio,
       |    ${TwinSql.digitRatio("text")} AS digit_ratio,
       |    ${TwinSql.stopRatio("t")} AS stop_ratio
       |  FROM (SELECT doc_id, text, $duckToks AS t FROM documents))
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    qualityBase(Tables.documents(s, dir))
      .select(
        col("doc_id"), col("n_tokens"), col("punct_ratio"), col("digit_ratio"),
        col("stop_ratio"), col("qscore"))
      .orderBy(col("doc_id"))
  }

  /** Linear quality classifier (q109): the fastText/logistic-style
    * quality gate of a curation pipeline — a fixed-weight linear model
    * over the q23 heuristic features, squashed to (0,1) and
    * thresholded. The squash is the RATIONAL sigmoid
    * 0.5 + 0.5 * z/(1+|z|), not 1/(1+e^-z): libm exp differs across
    * engines in the last ulp, which would break the bit-exact oracle
    * hash, while add/mul/divide/abs are exactly specified by IEEE 754
    * — same doubles on Spark and DuckDB by construction. (Weights are
    * demo parameterization; a trained model plugs into the same
    * column expression.) Narrow scan-speed arithmetic; the only wide
    * op is the final ORDER BY.
    */
  val q109: QueryDef = QueryDef.sql(
    "q109_quality_classifier",
    s"""WITH f AS (
       |  SELECT doc_id,
       |    ${TwinSql.nTokens("t")} AS n_tokens,
       |    ${TwinSql.punctRatio("text")} AS punct_ratio,
       |    ${TwinSql.digitRatio("text")} AS digit_ratio,
       |    ${TwinSql.stopRatio("t")} AS stop_ratio
       |  FROM (SELECT doc_id, text, $duckToks AS t FROM documents)),
       |z AS (
       |  SELECT doc_id,
       |    ${TwinSql.classifierZ("stop_ratio", "n_tokens", "punct_ratio", "digit_ratio")} AS z
       |  FROM f)
       |SELECT doc_id, z,
       |  ${TwinSql.rationalSigmoid("z")} AS score,
       |  CAST(CASE WHEN ${TwinSql.rationalSigmoid("z")} >= 0.5
       |    THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM z
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val z = qualityBase(Tables.documentsFan(s, dir))
      .select(col("doc_id"),
        classifierZ(col("stop_ratio"), col("n_tokens"),
          col("punct_ratio"), col("digit_ratio")).as("z"))
    z.select(col("doc_id"), col("z"), rationalSigmoid(col("z")).as("score"))
      .withColumn("keep",
        when(col("score") >= 0.5, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** Corpus composition: counts and char volume by language and source. */
  val q24: QueryDef = QueryDef.sql(
    "q24_lang_source_stats",
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  sum(n_chars) / count(*) AS avg_chars
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")) / count(lit(1))).as("avg_chars"))
      .orderBy(col("lang"), col("source"))
  }

  /** Heuristic language-ID: function-word profiles per language scored
    * by token overlap, deterministic argmax (ties -> profile order).
    * Oracle-checked as q129: every score is an integer count (or a CJK
    * codepoint count) cast to double, so the DuckDB twin re-derives the
    * full argmax bit-exactly. Accuracy is bounded by the synthetic
    * corpus; the operator shape is what matters: one narrow pass,
    * profiles inlined as literals (broadcast-equivalent).
    */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une"),
    "zh" -> Seq.empty) // zh scored by CJK char presence instead

  def langId(docs: DataFrame): DataFrame = {
    val t = toks(lower(col("text")))
    // greatest() compares struct fields left to right: score first,
    // then an explicit priority so ties resolve to the EARLIEST profile
    // (without it they would resolve to the lexicographically largest
    // language code — every zero-signal doc would come out "zh").
    val scores = langProfiles.zipWithIndex.map { case ((lang, words), idx) =>
      val sc =
        if (words.isEmpty)
          // CJK codepoint density
          (length(col("text")) - length(regexp_replace(col("text"), "[\\x{4e00}-\\x{9fff}]", "")))
            .cast("double")
        else
          size(filter(t, x => array_contains(array(words.map(lit): _*), x))).cast("double")
      struct(sc.as("score"), lit(langProfiles.length - idx).as("prio"),
        lit(lang).as("lang"))
    }
    // null text (loader junk row) must predict NULL, not 'en' at a
    // phantom score of size(null) = -1.0 — mirrored in the twin's
    // leading `WHEN s_zh IS NULL THEN NULL` arm (s_zh is NULL iff
    // text is NULL)
    docs.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      when(col("text").isNotNull, greatest(scores: _*).getField("lang"))
        .as("predicted_lang"),
      when(col("text").isNotNull, greatest(scores: _*).getField("score"))
        .as("lang_score"))
  }

  /** q129: the language-ID pass as an oracle-checked query. The DuckDB
    * twin re-derives all five scores (function-word counts over the
    * same whitespace tokenizer; CJK codepoint count via global
    * regexp_replace) and replays the argmax as a cascading CASE, which
    * matches the Spark side's struct-greatest tie-break (earliest
    * profile wins on equal scores) because each CASE arm tests >= all
    * later arms. All scores are small integers cast to double, so the
    * hash comparison is exact. One narrow pass, no shuffle — at 100 TB
    * this runs at scan speed like every other per-doc scorer.
    */
  val q129: QueryDef = {
    val profs = langProfiles.filter(_._2.nonEmpty)
    def duckScore(words: Seq[String]): String = {
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(t, x -> list_contains($arr, x))) AS DOUBLE)"
    }
    val scoreSelects = profs.map { case (lang, words) =>
      s"${duckScore(words)} AS s_$lang"
    }.mkString(",\n       |    ")
    val langsInOrder = langProfiles.map(_._1) // en de es fr zh
    val caseArms = langsInOrder.init.zipWithIndex.map { case (lang, i) =>
      val laters = langsInOrder.drop(i + 1)
      val cond = laters.map(l => s"s_$lang >= s_$l").mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }.mkString("\n       |      ")
    QueryDef.sql(
      "q129_lang_id",
      s"""SELECT doc_id, labeled_lang, predicted_lang, lang_score FROM (
         |  SELECT doc_id, lang AS labeled_lang,
         |    CASE WHEN s_zh IS NULL THEN NULL
         |      $caseArms
         |      ELSE 'zh' END AS predicted_lang,
         |    CASE WHEN s_zh IS NULL THEN NULL
         |      ELSE greatest(s_en, s_de, s_es, s_fr, s_zh) END AS lang_score
         |  FROM (
         |    SELECT doc_id, lang,
         |    $scoreSelects,
         |    CAST(length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE) AS s_zh
         |    FROM (SELECT doc_id, lang, text,
         |      ${TwinSql.toksOf("lower(text)")} AS t
         |      FROM documents)))
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      langId(Tables.documentsFan(s, dir))
        .orderBy(col("doc_id"))
    }
  }

  /** Count of the most frequent element of a string array, in
    * O(n log n): sort the array, then a single linear fold tracking
    * (prev, current-run, best-run). Replaces the former
    * O(distinct x tokens) distinct-scan formulation — on a 100k-token
    * pathological document that was ~10^10 interpreted comparisons in
    * one task; this is ~100k. The fold's `run` starts at 0 so the
    * sentinel `prev = ""` is harmless even if a real token is "".
    */
  private[graft] def topTokenCount(t: Column): Column = {
    val s = array_sort(t)
    aggregate(
      s,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
  }

  /** Repetition metrics (q86) — the Gopher-rules boilerplate signals a
    * pre-training filter runs per document: duplicate-trigram fraction
    * (1 - distinct/total word 3-grams) and top-token fraction (share of
    * the most frequent token). Pure column arithmetic, narrow, scan
    * speed. The top-token count is a sorted-run-length fold
    * ([[topTokenCount]], O(n log n) per doc); the DuckDB twin reaches
    * the same integer via `list_aggregate(t, 'mode')` + one filter —
    * different linear path, identical count, so the doubles still
    * hash-match.
    */
  val q86: QueryDef = QueryDef.sql(
    "q86_repetition_stats",
    s"""SELECT doc_id,
       |  CAST(len(t) AS BIGINT) AS n_tokens,
       |  CAST(len(g) AS BIGINT) AS n_3grams,
       |  1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / CAST(len(g) AS DOUBLE)
       |    AS dup_3gram_ratio,
       |  CAST(len(list_filter(t, y -> y = list_aggregate(t, 'mode'))) AS DOUBLE)
       |    / CAST(len(t) AS DOUBLE) AS top_token_ratio
       |FROM (
       |  SELECT doc_id, t,
       |    list_transform(range(0, greatest(len(t) - 3, 0) + 1),
       |      i -> array_to_string(t[i+1:i+3], ' ')) AS g
       |  FROM (SELECT doc_id, $duckToks AS t FROM documents))
       |WHERE len(t) > 0
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = Tables.documentsFan(s, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("g",
        transform(sequence(lit(0), greatest(size(col("t")) - 3, lit(0))),
          i => concat_ws(" ", slice(col("t"), i + 1, lit(3)))))
      .filter(size(col("t")) > 0)
    base.select(
      col("doc_id"),
      size(col("t")).cast("bigint").as("n_tokens"),
      size(col("g")).cast("bigint").as("n_3grams"),
      (lit(1.0) - size(array_distinct(col("g"))).cast("double")
        / size(col("g")).cast("double")).as("dup_3gram_ratio"),
      (topTokenCount(col("t")).cast("double")
        / size(col("t")).cast("double")).as("top_token_ratio"))
      .orderBy(col("doc_id"))
  }

  /** BPE-ish token counting: letter-runs / digit-runs / single
    * punctuation, the pre-tokenizer shape of byte-pair encoders —
    * engine-neutral via identical regexes.
    */
  val q38: QueryDef = QueryDef.sql(
    "q38_bpe_token_count",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word_tokens,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"), lit(0)))
          .cast("bigint").as("n_bpe_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
          .cast("bigint").as("n_word_tokens"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .cast("bigint").as("n_number_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing (q88): assign each document to the fixed-size
    * token bin its START offset falls in within a deterministic
    * per-source stream — the concatenate-and-chunk packing a
    * pretraining pipeline runs to fill fixed-length contexts (docs may
    * span a boundary; the bin owns the doc that starts in it).
    *
    * Scale: the running sum is a window PARTITIONED by the stream key
    * (source), never global — each stream packs independently and in
    * parallel, which is also the semantics you want (shards of a
    * corpus pack separately). Deterministic: stream order is doc_id.
    */
  def packSequences(docs: DataFrame, targetTokens: Int,
                    streamCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(streamCol)).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col(streamCol), toks(col("text")).as("t"))
      .select(col("doc_id"), col(streamCol),
        // null text must not feed size(null) = -1 into the running sum
        // (it would shift every later doc's offset/bin where the twin's
        // SUM skips the NULL)
        when(col("t").isNotNull, size(col("t"))).cast("bigint").as("n_tokens"))
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin_id", floor(col("start_offset") / targetTokens))
  }

  val q88: QueryDef = QueryDef.sql(
    "q88_sequence_packing",
    s"""SELECT doc_id, source, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS start_offset,
       |  CAST(floor(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT)
       |    AS bin_id
       |FROM (
       |  SELECT doc_id, source, CAST(len($duckToks) AS BIGINT) AS n_tokens
       |  FROM documents)
       |ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
    packSequences(Tables.documents(s, dir), targetTokens = 512)
      .orderBy(col("source"), col("doc_id"))
  }

  /** Document fingerprinting: Karp-Rabin polynomial rolling hash over
    * the character stream, mod 1e9+7 — a content fingerprint any
    * engine can reproduce (unlike xxhash64). One narrow pass through
    * the codegen [[graft.functions.KarpRabinExpr]] kernel (a single
    * compiled fold over the UTF-8 bytes); the previous
    * `aggregate(regexp_extract_all(text, '.'), ...)` formulation
    * materialized a doc-length array of single-char strings per row
    * and folded it interpreted. The twin's RE2 `.` skips '\n' and
    * `ascii` is the code point — the kernel mirrors both exactly, so
    * the SQL is unchanged.
    */
  val q39: QueryDef = QueryDef.sql(
    "q39_doc_fingerprint",
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(regexp_extract_all(text, '.'),
      |                     c -> CAST(ascii(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        graft.functions.functions.karp_rabin_fingerprint(col("text"))
          .as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Statistical-LM fluency scoring ([[q116]]'s kernel): score each
    * document by its mean log-probability under an add-one-smoothed
    * bigram language model trained on the corpus itself — the
    * CCNet/KenLM-style perplexity filter (low avg logprob ≈ high
    * perplexity ≈ boilerplate/gibberish), with the n-gram LM standing
    * in for KenLM (same pipeline shape; a trained external LM plugs in
    * as a different lp table). P(w2|w1) = (c(w1w2)+1) / (c1(w1)+V)
    * where c1 counts w1 AS A CONTEXT (bigram-first occurrences, so
    * probabilities normalize per context) and V is corpus vocabulary.
    *
    * Float discipline: ln is rounded to 9 decimals per DISTINCT bigram
    * (the only transcendental, computed once on the vocabulary-sized
    * table, not per occurrence), per-doc logprobs fold in POSITION
    * order, and the mean divides by an exact integer count — fully
    * reproducible across engines and partitionings.
    *
    * Scale: bigram extraction is narrow; the LM build is one
    * partial+final aggregate to the distinct-bigram table (c1 rides
    * the same w1-partitioned output as a window — no second corpus
    * pass); scoring joins corpus bigrams to the LM on (w1,w2) — at
    * 100 TB the LM table is vocabulary²-bounded and heavy-hitter
    * skewed, which AQE skew-join handles; the per-doc fold is one
    * doc_id exchange of (pos, lp) pairs. Docs with <2 tokens emit
    * n_bigrams=0, avg_logprob=0.
    */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), toks(col("text")).as("t"))
    val vocab = d.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)
    val bg = d.filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("t")) - 2), i =>
          struct(i.cast("long").as("pos"),
            element_at(col("t"), i + 1).as("w1"),
            element_at(col("t"), i + 2).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.pos").as("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val lm = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy(col("w1"))))
      .withColumn("lp",
        round(log((col("c12") + lit(1.0)) / (col("c1") + lit(vocab.toDouble))), 9))
      .select(col("w1"), col("w2"), col("lp"))
    val scored = bg.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lp")))),
            x => x.getField("lp")),
          lit(0.0), (acc, x) => acc + x).as("s"))
    d.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).cast("bigint").as("n_bigrams"),
        coalesce(col("s") / col("n_bigrams").cast("double"), lit(0.0))
          .as("avg_logprob"))
  }

  /** Exact per-source length quantiles (q121): the data-card numbers —
    * p50/p90/p99 of the token-length distribution per source, computed
    * EXACTLY (value at rank ceil(q*n), ascending) with pure integer
    * arithmetic so both engines agree to the bit without touching
    * either engine's own quantile function (whose interpolation rules
    * differ). Ties are harmless: the VALUE at a rank is well-defined
    * whatever order equal lengths sort in.
    *
    * Scale: one exchange per source group + a within-group sort — the
    * honest cost of EXACT quantiles (rank selection needs a total
    * per-group order). At 100 TB you'd trade exactness for
    * `approx_percentile` (t-digest, mergeable, one pass); this is the
    * audited-exact variant a data card wants at report time.
    */
  val q121: QueryDef = QueryDef.sql(
    "q121_length_quantiles",
    s"""WITH t AS (
       |  SELECT source, CAST(len($duckToks) AS BIGINT) AS nt
       |  FROM documents),
       |r AS (
       |  SELECT source, nt,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY nt) AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM t)
       |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN nt END) AS BIGINT) AS p50,
       |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN nt END) AS BIGINT) AS p90,
       |  CAST(max(CASE WHEN rn = (99 * n + 99) // 100 THEN nt END) AS BIGINT) AS p99
       |FROM r GROUP BY source
       |ORDER BY source""".stripMargin) { (s, dir) =>
    lengthQuantiles(Tables.documents(s, dir))
  }

  /** The q121 kernel: exact p50/p90/p99 token-length quantiles per
    * source (value at rank ceil(q*n) over the ascending per-group
    * order, pure integer rank arithmetic).
    */
  def lengthQuantiles(docs: DataFrame): DataFrame = {
    // null text ranks as NULL LAST (DuckDB's default), never as a
    // phantom length of size(null) = -1 ranking FIRST and shifting
    // every real doc's rank (and hence each reported quantile) by one
    val t = docs
      .select(col("source"),
        when(col("text").isNotNull, size(toks(col("text"))))
          .cast("bigint").as("nt"))
    val wp = Window.partitionBy(col("source"))
    val r = t
      .withColumn("rn",
        row_number().over(wp.orderBy(col("nt").asc_nulls_last)).cast("bigint"))
      .withColumn("n", count(lit(1)).over(wp))
    r.groupBy(col("source"))
      .agg(max(col("n")).cast("bigint").as("n_docs"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("nt")))
          .cast("bigint").as("p50"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("nt")))
          .cast("bigint").as("p90"),
        max(when(col("rn") === expr("(99 * n + 99) div 100"), col("nt")))
          .cast("bigint").as("p99"))
      .orderBy(col("source"))
  }

  /** Approximate per-source length quantiles (q142): the documented
    * 100 TB companion to q121's exact kernel. Token lengths bucket into
    * fixed-width bins (width [[quantileBucketWidth]]); the reported
    * quantile is the INCLUSIVE UPPER EDGE of the first bucket whose
    * cumulative count reaches the exact rank ceil(q*n) — a
    * deterministic, engine-neutral definition (pure integer arithmetic,
    * no t-digest randomness, no interpolation rule to disagree on) with
    * a hard error bound: exact <= approx <= exact + width - 1
    * (spec-gated against q121 on the fixture).
    *
    * Scale: ONE map-side-combined aggregate produces the (source,
    * bucket) histogram — bucket-table-sized, NOT corpus-sized — then a
    * window + rollup over that tiny frame. No per-group sort of the
    * corpus (q121's honest exact cost); histograms are trivially
    * mergeable across snapshots, so a perpetual pipeline folds daily
    * bucket counts instead of re-scanning history.
    */
  val quantileBucketWidth = 16L

  val q142: QueryDef = QueryDef.sql(
    "q142_length_quantiles_approx",
    s"""WITH t AS (
       |  SELECT source, CAST(len($duckToks) AS BIGINT) AS nt
       |  FROM documents),
       |b AS (
       |  SELECT source, nt // 16 AS bkt, CAST(count(*) AS BIGINT) AS c
       |  FROM t GROUP BY source, bkt),
       |r AS (
       |  SELECT source, bkt, c,
       |    CAST(sum(c) OVER (PARTITION BY source ORDER BY bkt
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
       |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM b)
       |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
       |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN bkt * 16 + 15 END)
       |    AS BIGINT) AS p50_hi,
       |  CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN bkt * 16 + 15 END)
       |    AS BIGINT) AS p90_hi,
       |  CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bkt * 16 + 15 END)
       |    AS BIGINT) AS p99_hi
       |FROM r GROUP BY source
       |ORDER BY source""".stripMargin) { (s, dir) =>
    approxLengthQuantiles(Tables.documents(s, dir)).orderBy(col("source"))
  }

  /** The mergeable half of q142: per-(source, bucket) doc counts —
    * the persisted snapshot state a perpetual pipeline folds by
    * ADDITION (spec-gated: split-and-merge equals the single pass).
    */
  def lengthHistogram(docs: DataFrame,
                      width: Long = quantileBucketWidth): DataFrame =
    docs
      // null text buckets as NULL (the twin's nt // 16 of NULL), never
      // as (-1) div 16 = 0 — a junk row must not pollute the persisted
      // bucket-0 count that perpetual pipelines fold by addition
      .select(col("source"),
        when(col("text").isNotNull, size(toks(col("text"))))
          .cast("bigint").as("nt"))
      .select(col("source"), expr(s"nt div $width").as("bkt"))
      .groupBy(col("source"), col("bkt"))
      .agg(count(lit(1)).cast("bigint").as("c"))

  /** The rollup half of q142: quantiles from a (source, bkt, c)
    * histogram (bucket upper edge at rank ceil(q*n); same integer rank
    * math as [[lengthQuantiles]]). The input frame is bucket-table
    * sized, so the window + rollup are negligible at any corpus scale.
    */
  def quantilesFromHistogram(hist: DataFrame,
                             width: Long = quantileBucketWidth): DataFrame = {
    val ws = Window.partitionBy(col("source"))
    val r = hist
      .withColumn("cum",
        // NULL bucket (junk rows) cumulates LAST, matching DuckDB's
        // null order — first would shift every real bucket's cum by c
        sum(col("c")).over(ws.orderBy(col("bkt").asc_nulls_last)
          .rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"))
      .withColumn("n", sum(col("c")).over(ws).cast("bigint"))
    def edge = col("bkt") * width + (width - 1L)
    r.groupBy(col("source"))
      .agg(max(col("n")).cast("bigint").as("n_docs"),
        min(when(col("cum") >= expr("(n + 1) div 2"), edge))
          .cast("bigint").as("p50_hi"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), edge))
          .cast("bigint").as("p90_hi"),
        min(when(col("cum") >= expr("(99 * n + 99) div 100"), edge))
          .cast("bigint").as("p99_hi"))
  }

  /** The q142 kernel: histogram + rollup in one plan. */
  def approxLengthQuantiles(docs: DataFrame,
                            width: Long = quantileBucketWidth): DataFrame =
    quantilesFromHistogram(lengthHistogram(docs, width), width)

  /** q116: [[bigramLogProb]] over the documents table. The twin
    * re-trains the same LM in SQL — same smoothing, same context
    * counts, same rounded-ln-per-distinct-bigram, same position-order
    * fold — so the hash compare covers training and scoring alike.
    */
  val q116: QueryDef = QueryDef.sql(
    "q116_bigram_lm_score",
    s"""WITH d AS (SELECT doc_id, $duckToks AS t FROM documents),
       |v AS (
       |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
       |  FROM (SELECT unnest(t) AS w FROM d)),
       |bg AS (
       |  SELECT doc_id, k AS pos, t[k + 1] AS w1, t[k + 2] AS w2
       |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS k
       |        FROM d WHERE len(t) >= 2)),
       |lm AS (
       |  SELECT w1, w2,
       |    round(ln((CAST(c12 AS DOUBLE) + 1.0)
       |      / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE))), 9) AS lp
       |  FROM (
       |    SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12,
       |      CAST(sum(count(*)) OVER (PARTITION BY w1) AS BIGINT) AS c1
       |    FROM bg GROUP BY w1, w2) CROSS JOIN v),
       |sc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    list_sum(list(lp ORDER BY pos)) AS s
       |  FROM bg JOIN lm USING (w1, w2) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(sc.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(sc.s / CAST(sc.n_bigrams AS DOUBLE), 0.0) AS avg_logprob
       |FROM d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    bigramLogProb(Tables.documentsFan(s, dir)).orderBy(col("doc_id"))
  }

  /** Interpolated Kneser–Ney bigram scoring (q189): the standard
    * smoothing the CCNet/KenLM perplexity filter actually trains
    * (Kneser & Ney 1995; Chen & Goodman 1999) next to q116's add-one
    * baseline — absolute discount d = 3/4 off every seen bigram, the
    * freed mass backing off to the CONTINUATION unigram (how many
    * distinct contexts precede w2, not how often w2 occurs — the
    * "San Francisco" correction: frequent-but-predictable words stop
    * inflating the backoff).
    *
    *   P(w2|w1) = (c12 − 3/4)/c1 + (3/4)·(N1+(w1·)/c1)·(N1+(·w2)/NN)
    *
    * Because the corpus scores ITSELF, every scored bigram has
    * c12 ≥ 1 — no OOV branch, no max(·,0) clamp, and over a common
    * denominator the probability is the ratio of two exact BIGINTs:
    *
    *   num = (4·c12 − 3)·NN + 3·N1+(w1·)·N1+(·w2),  den = 4·c1·NN
    *
    * so ln goes through [[graft.ops.Sampling.lnMicro]] twice per
    * DISTINCT bigram (the q116/q176 discipline) and the per-doc score
    * is an INTEGER micro-nat sum — fold-order-free, unlike q116's
    * position-pinned float fold. avg_logprob divides the exact sum
    * once at the end.
    *
    * Scale: bigram extraction is narrow (array-local transform); the
    * count table is one partial+final (w1,w2) aggregate; c1/N1+(w1·)
    * ride ONE w1-partitioned window and N1+(·w2) one w2-partitioned
    * window — both over the vocabulary²-bounded pair table, never the
    * corpus; NN is a one-row broadcast (whitelisted scalar BNLJ);
    * scoring joins corpus bigrams to the LM on (w1,w2) (AQE handles
    * the heavy-hitter skew, q116's argument) and partial-aggregates
    * per doc.
    */
  /** The (doc_id, w1, w2) bigram occurrence stream of a (doc_id, t)
    * frame — ONE definition shared by the q189 batch kernel and
    * [[graft.streaming.KnStream]]'s per-batch counting (their parity
    * is bit-exact only because both sides extract with this exact
    * array-local transform).
    */
  private[graft] def knBigrams(d: DataFrame): DataFrame =
    d.filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - 1), i =>
          struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Per-bigram counts — the KN trainer's complete sufficient
    * statistic (context totals c1, successor/predecessor distinct
    * counts N1+, and the type total NN all re-derive from it), and
    * additive over batches (what [[graft.streaming.KnStream]]
    * maintains incrementally).
    */
  private[graft] def knCounts(bg: DataFrame): DataFrame =
    bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("bigint").as("c12"))

  /** Score documents given the trainer state: bigram counts `counts`
    * (from [[knCounts]] or the streaming store). Self-scoring hits
    * only the seen-bigram arm (the q189 contract); a candidate bigram
    * ABSENT from the counts — possible only against a streamed model
    * — takes the pure backoff mass when its context and continuation
    * are known, and contributes 0 micro-nats (no model evidence) when
    * either is unseen, instead of being silently dropped by an inner
    * join.
    *
    * `selfScoring = true` (the q189 batch path, where counts =
    * knCounts(bg) by construction so every scored pair is in the LM)
    * skips the two backoff-stat joins the unseen arms need — the two
    * paths are provably identical there, and the KnStream parity spec
    * pins exactly that: scoring the seen prefix through the
    * `selfScoring = false` path equals the batch kernel's output
    * bit-for-bit.
    */
  private[graft] def knScoreFromCounts(d: DataFrame, bg: DataFrame,
                                       counts: DataFrame,
                                       selfScoring: Boolean = false): DataFrame = {
    import graft.ops.Sampling.lnMicro
    val w1w = Window.partitionBy(col("w1"))
    val stats = counts
      .withColumn("c1", sum(col("c12")).over(w1w).cast("bigint"))
      .withColumn("n1f", count(lit(1)).over(w1w).cast("bigint"))
      .withColumn("n1b",
        count(lit(1)).over(Window.partitionBy(col("w2"))).cast("bigint"))
    val nn = counts.agg(count(lit(1)).cast("bigint").as("nn"))
    val lm = stats.crossJoin(broadcast(nn))
      .select(col("w1"), col("w2"),
        (lnMicro((lit(4L) * col("c12") - lit(3L)) * col("nn")
            + lit(3L) * col("n1f") * col("n1b"))
          - lnMicro(lit(4L) * col("c1") * col("nn"))).as("lp"))
    val withLp =
      if (selfScoring) bg.join(lm, Seq("w1", "w2"))
        .select(col("doc_id"), col("lp"))
      else {
        val w1s = counts.groupBy(col("w1"))
          .agg(sum(col("c12")).cast("bigint").as("f_c1"),
            count(lit(1)).cast("bigint").as("f_n1f"))
        val w2s = counts.groupBy(col("w2"))
          .agg(count(lit(1)).cast("bigint").as("f_n1b"))
        bg
          .join(lm, Seq("w1", "w2"), "left")
          .join(w1s, Seq("w1"), "left")
          .join(w2s, Seq("w2"), "left")
          .crossJoin(broadcast(nn))
          .select(col("doc_id"),
            coalesce(col("lp"),
              when(col("f_c1").isNotNull && col("f_n1b").isNotNull,
                lnMicro(lit(3L) * col("f_n1f") * col("f_n1b"))
                  - lnMicro(lit(4L) * col("f_c1") * col("nn")))
                .otherwise(lit(0L))).as("lp"))
      }
    val scored = withLp
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_bigrams"),
        sum(col("lp")).cast("bigint").as("s"))
    d.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("s"), lit(0L)).as("kn_sum_micro"),
        coalesce(col("s").cast("double")
            / (col("n_bigrams").cast("double") * lit(1000000.0)), lit(0.0))
          .as("avg_logprob"))
  }

  def knBigramLogProb(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), toks(col("text")).as("t"))
    val bg = knBigrams(d)
    knScoreFromCounts(d, bg, knCounts(bg), selfScoring = true)
  }

  /** The KN trainer CTE chain in twin SQL — defines d (tokenized
    * docs), bg (bigram instances), c/st/nn (sufficient statistics),
    * and lm (per-distinct-bigram micro-nat log prob, two lnMicro
    * calls). ONE definition consumed by the q189 twin and the q203
    * DoReMi twin: a drifted copy of the discount or continuation
    * counts in either would silently grade a different LM than the
    * engine trains. Callers append their own consumers after a comma.
    */
  private[ops] val knChainSql: String =
    s"""d AS (SELECT doc_id, $duckToks AS t FROM documents),
       |bg AS (
       |  SELECT doc_id, t[k + 1] AS w1, t[k + 2] AS w2
       |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS k
       |        FROM d WHERE len(t) >= 2)),
       |c AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM bg GROUP BY w1, w2),
       |st AS (
       |  SELECT w1, w2, c12,
       |    CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
       |    CAST(count(*) OVER (PARTITION BY w1) AS BIGINT) AS n1f,
       |    CAST(count(*) OVER (PARTITION BY w2) AS BIGINT) AS n1b
       |  FROM c),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM c),
       |lm AS (
       |  SELECT w1, w2,
       |    ${Sampling.duckLnMicro("(4 * c12 - 3) * nn + 3 * n1f * n1b")}
       |      - ${Sampling.duckLnMicro("4 * c1 * nn")} AS lp
       |  FROM st CROSS JOIN nn)""".stripMargin

  /** q189: [[knBigramLogProb]] over the documents table. The twin
    * re-trains the full KN model in SQL ([[knChainSql]] — same
    * discount, same continuation counts, same
    * two-lnMicro-per-distinct-bigram), so the hash compare covers
    * training and scoring alike.
    */
  val q189: QueryDef = QueryDef.sql(
    "q189_kneser_ney_score",
    s"""WITH $knChainSql,
       |sc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(lp) AS BIGINT) AS s
       |  FROM bg JOIN lm USING (w1, w2) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(sc.n_bigrams, 0) AS n_bigrams,
       |  COALESCE(sc.s, 0) AS kn_sum_micro,
       |  COALESCE(CAST(sc.s AS DOUBLE)
       |    / (CAST(sc.n_bigrams AS DOUBLE) * 1000000.0), 0.0) AS avg_logprob
       |FROM d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    knBigramLogProb(Tables.documentsFan(s, dir)).orderBy(col("doc_id"))
  }

  /** Rule-based quality gate (q126): the Gopher-style NAMED-RULE
    * filter (Rae et al., "Scaling Language Models: ... Gopher", 2021,
    * §A1.1 — published heuristics) as opposed to q23/q109's continuous
    * scores: each document either passes or trips specific rules
    * (token count in [50, 100k], mean word length in [3, 10], >= 80%
    * words containing a letter, >= 2 stopword hits), and the per-source
    * tally of WHICH rule fired is the actionable curation report
    * ("source X is 40% too-short docs, source Y is symbol soup").
    *
    * Every rule is a PURE INTEGER comparison — mean word length in
    * [3,10] is the rational 3*nt <= sum_len <= 10*nt, the 80% alpha
    * bound is 10*n_alpha >= 8*nt — so both engines compare exact
    * BIGINTs and the oracle needs no float discipline at all.
    *
    * Scale: per-doc counters are a narrow scan-speed map (one array
    * traversal per rule); the report is one partial+final aggregate to
    * source granularity. Nothing is corpus-wide.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("source"), toks(col("text")).as("t"))
      // null text yields NULL counters (rule flags NULL, counted as
      // neither pass nor fail — the twin's CASE semantics), never
      // size(null) = -1 counters that definitively FAIL three rules
      .select(col("source") +: gopherCounters(col("t")): _*)
      .select(Seq(col("source")) ++
        gopherRuleFlags(col("nt"), col("sl"), col("na"), col("ns"))
          .zip(Seq("r_count", "r_wordlen", "r_alpha", "r_stop"))
          .map { case (c, n) => c.as(n) }: _*)
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("r_count") && col("r_wordlen") && col("r_alpha") && col("r_stop"), 1L)
          .otherwise(0L)).as("n_pass"),
        sum(when(!col("r_count"), 1L).otherwise(0L)).as("fail_count"),
        sum(when(!col("r_wordlen"), 1L).otherwise(0L)).as("fail_wordlen"),
        sum(when(!col("r_alpha"), 1L).otherwise(0L)).as("fail_alpha"),
        sum(when(!col("r_stop"), 1L).otherwise(0L)).as("fail_stop"))
      .orderBy(col("source"))
  }

  val q126: QueryDef = QueryDef.sql(
    "q126_gopher_rules",
    s"""WITH d AS (
       |  SELECT source,
       |    ${TwinSql.gopherCounters("t")}
       |  FROM (SELECT source, $duckToks AS t FROM documents)),
       |r AS (
       |  SELECT source,
       |    ${TwinSql.gopherRuleFlags("nt", "sl", "na", "ns")
              .zip(Seq("r_count", "r_wordlen", "r_alpha", "r_stop"))
              .map { case (f, n) => s"($f) AS $n" }.mkString(",\n    ")}
       |  FROM d)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN r_count AND r_wordlen AND r_alpha AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |  CAST(sum(CASE WHEN NOT r_count THEN 1 ELSE 0 END) AS BIGINT) AS fail_count,
       |  CAST(sum(CASE WHEN NOT r_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordlen,
       |  CAST(sum(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
       |  CAST(sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop
       |FROM r GROUP BY source
       |ORDER BY source""".stripMargin) { (s, dir) =>
    gopherRules(Tables.documents(s, dir))
  }

  /** Classifier calibration audit (q158): reliability table + expected
    * calibration error (ECE) for the q109 quality classifier — the
    * q153 "audit the pipeline's own approximation" discipline applied
    * to the quality gate. q109's score feeds the q98 quota and q110
    * mixture math; if the score is miscalibrated (a "0.9" doc is good
    * only 60% of the time), those consumers silently skew. Predicted
    * probability is bucketed into fixed deciles; the observed-positive
    * label is the q126 Gopher all-rules pass (the fixture's label
    * proxy — a trained label column plugs into the same shape); each
    * bucket reports observed positive rate vs the bucket midpoint and
    * the ECE = Σ_b (n_b/N)·|mid_b − rate_b| over buckets.
    *
    * Midpoint-ECE (histogram binning), not mean-confidence-ECE: the
    * midpoint variant derives ENTIRELY from integer counts + literal
    * divisions (bit-exact across engines), where mean confidence
    * would sum corpus-many doubles in nondeterministic order. The ECE
    * fold runs over the ordered 10-bucket list (the q151 discipline).
    *
    * Scale: ONE narrow corpus pass computes score and label together
    * (both derive from the same token array), then one partial+final
    * aggregate to 10 bucket rows; everything after is bucket-sized.
    */
  val q158: QueryDef = QueryDef.sql(
    "q158_calibration_audit",
    s"""WITH f AS (
       |  SELECT doc_id,
       |    ${TwinSql.gopherCounters("t")},
       |    ${TwinSql.punctRatio("text")} AS punct_ratio,
       |    ${TwinSql.digitRatio("text")} AS digit_ratio
       |  FROM (SELECT doc_id, text, $duckToks AS t FROM documents)),
       |z AS (
       |  SELECT doc_id,
       |    ${TwinSql.classifierZ("(ns / nt)", "nt", "punct_ratio", "digit_ratio")} AS z,
       |    CAST(CASE WHEN ${TwinSql.gopherPass("nt", "sl", "na", "ns")}
       |      THEN 1 ELSE 0 END AS BIGINT) AS pos
       |  FROM f WHERE nt > 0),
       |b AS (
       |  SELECT CAST(floor((${TwinSql.rationalSigmoid("z")}) * 10.0) AS BIGINT)
       |           AS bucket,
       |         pos
       |  FROM z),
       |g AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(pos) AS BIGINT) AS n_pos
       |  FROM b GROUP BY bucket),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM g),
       |t AS (
       |  SELECT bucket, n_docs, n_pos,
       |    (CAST(bucket AS DOUBLE) + 0.5) / 10.0 AS conf_mid,
       |    CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pos_rate
       |  FROM g),
       |t2 AS (
       |  SELECT bucket, n_docs, n_pos, conf_mid, pos_rate,
       |    abs(conf_mid - pos_rate) AS abs_gap
       |  FROM t),
       |t3 AS (
       |  SELECT t2.*, CAST(n_docs AS DOUBLE) / CAST(tot.n AS DOUBLE) * abs_gap AS w_gap
       |  FROM t2, tot),
       |e AS (SELECT list_sum(list(w_gap ORDER BY bucket)) AS ece FROM t3)
       |SELECT bucket, n_docs, n_pos, conf_mid, pos_rate, abs_gap, ece
       |FROM t3, e
       |ORDER BY bucket""".stripMargin) { (s, dir) =>
    // ONE pass: q109's features and q126's rule counters off the same
    // token array (each twin CTE re-derives them separately — oracles
    // need equivalence, not the scale shape)
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), toks(col("text")).as("t"))
      .select(col("doc_id") +: gopherCounters(col("t")) :+
        punctRatio(col("text")).as("punct_ratio") :+
        digitRatio(col("text")).as("digit_ratio"): _*)
      .filter(col("nt") > 0)
    // the shared builders: q109's weights and q126's rules have ONE
    // definition each — the audit cannot drift from what it audits
    val zc = classifierZ(col("ns") / col("nt"), col("nt"),
      col("punct_ratio"), col("digit_ratio"))
    val posc = when(gopherPass(col("nt"), col("sl"), col("na"), col("ns")), 1L)
      .otherwise(0L)
    val sc = base.select(zc.as("z"), posc.as("pos"))
      .select(
        floor(rationalSigmoid(col("z")) * 10.0).cast("bigint").as("bucket"),
        col("pos"))
    val g = sc.groupBy(col("bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("pos")).cast("bigint").as("n_pos"))
    val tot = g.agg(sum(col("n_docs")).cast("bigint").as("n"))
    val t3 = g.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_docs"), col("n_pos"), col("n"),
        ((col("bucket").cast("double") + 0.5) / 10.0).as("conf_mid"),
        (col("n_pos").cast("double") / col("n_docs").cast("double")).as("pos_rate"))
      .withColumn("abs_gap", abs(col("conf_mid") - col("pos_rate")))
      .withColumn("w_gap",
        col("n_docs").cast("double") / col("n").cast("double") * col("abs_gap"))
    val e = t3
      .agg(sort_array(collect_list(struct(col("bucket"), col("w_gap")))).as("ws"))
      .select(aggregate(col("ws"), lit(0.0),
        (a, x) => a + x.getField("w_gap")).as("ece"))
    t3.crossJoin(broadcast(e))
      .select(col("bucket"), col("n_docs"), col("n_pos"), col("conf_mid"),
        col("pos_rate"), col("abs_gap"), col("ece"))
      .orderBy(col("bucket"))
  }

  /** Tie-corrected AUC per source over a (source, score, pos) frame —
    * the Mann-Whitney rank statistic computed EXACTLY: group by
    * (source, score), cumulative count of strictly-lower scores via
    * one window, then the doubled tie-averaged positive rank-sum
    * 2R₁ = Σ p_s·(2·cum_below + c_s + 1) in DECIMAL(38,0) (at 10¹²
    * docs/source the sum reaches ~n², past BIGINT), U₁ = R₁ −
    * n₁(n₁+1)/2, AUC = U₁/(n₁n₀) as ONE literal division. Average
    * ranks, not row_number: the q169 lesson — a positional tie-break
    * would fabricate discrimination inside tied scores. Sources with
    * no positives or no negatives report 0.0 (AUC undefined).
    */
  private[ops] def aucBySource(scored: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val g = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).cast("bigint").as("c"),
        sum(col("pos")).cast("bigint").as("p"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = g.withColumn("cb", coalesce(sum(col("c")).over(w), lit(0L)))
    val nPosD = col("n_pos").cast(d38)
    val u2 = col("r2") - nPosD * (nPosD + lit(1).cast(d38))
    cum.groupBy(col("source"))
      .agg(sum(col("p")).cast("bigint").as("n_pos"),
        (sum(col("c")) - sum(col("p"))).cast("bigint").as("n_neg"),
        sum(col("p").cast(d38)
          * (lit(2).cast(d38) * col("cb") + col("c") + lit(1).cast(d38)))
          .as("r2"))
      .select(col("source"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(u2.cast("double")
            / (lit(2.0) * col("n_pos").cast("double")
               * col("n_neg").cast("double")), 9))
          .otherwise(lit(0.0)).as("auc"))
  }

  /** Classifier DISCRIMINATION audit (q175): per source, the
    * tie-corrected AUC of the q109 quality score against the q126
    * Gopher-rule label proxy — does the gate RANK good docs above bad
    * ones, and does it do so equally across sources? The complement of
    * q158: calibration says the probabilities are honest, AUC says the
    * ordering is useful, and a source where AUC sags is one the q93
    * quantile filter silently treats worse (per-source thresholds cut
    * at the wrong docs even if globally calibrated). Same
    * single-definition score/label builders as q158 — the audit cannot
    * drift from what it audits.
    *
    * Scale: one narrow corpus pass to (source, score, pos), one
    * exchange to the (source, score) group counts, one per-source
    * window over DISTINCT scores, then S-row arithmetic — the rank
    * sort touches group rows, not documents.
    */
  def classifierDiscrimination(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("source"), col("text"), toks(col("text")).as("t"))
      .select(col("source") +: gopherCounters(col("t")) :+
        punctRatio(col("text")).as("punct_ratio") :+
        digitRatio(col("text")).as("digit_ratio"): _*)
      .filter(col("nt") > 0)
    aucBySource(base.select(col("source"),
      rationalSigmoid(classifierZ(col("ns") / col("nt"), col("nt"),
        col("punct_ratio"), col("digit_ratio"))).as("score"),
      when(gopherPass(col("nt"), col("sl"), col("na"), col("ns")), 1L)
        .otherwise(0L).as("pos")))
  }

  val q175: QueryDef = QueryDef.sql(
    "q175_discrimination_audit",
    s"""WITH f AS (
       |  SELECT source,
       |    ${TwinSql.gopherCounters("t")},
       |    ${TwinSql.punctRatio("text")} AS punct_ratio,
       |    ${TwinSql.digitRatio("text")} AS digit_ratio
       |  FROM (SELECT source, text, ${TwinSql.toksSql} AS t FROM documents)),
       |sc AS (
       |  SELECT source,
       |    ${TwinSql.rationalSigmoid("z")} AS score,
       |    pos
       |  FROM (
       |    SELECT source,
       |      ${TwinSql.classifierZ("(ns / nt)", "nt", "punct_ratio", "digit_ratio")} AS z,
       |      CAST(CASE WHEN ${TwinSql.gopherPass("nt", "sl", "na", "ns")}
       |        THEN 1 ELSE 0 END AS BIGINT) AS pos
       |    FROM f WHERE nt > 0)),
       |${TwinSql.aucChain("sc", "")}
       |SELECT source, n_pos, n_neg,
       |  ${TwinSql.aucSelect("n_pos", "n_neg", "r2")} AS auc
       |FROM a
       |ORDER BY source""".stripMargin) { (s, dir) =>
    classifierDiscrimination(Tables.documents(s, dir)).orderBy(col("source"))
  }

  /** Exact-arithmetic trainable quality classifier (q178): a
    * multinomial Naive Bayes gate TRAINED on the q126 Gopher label
    * proxy — the missing closure of the quality loop (q109's weights
    * are literals; q158/q175 audit the fixed gate but nothing LEARNS
    * weights from labels; a human-labeled column plugs into the same
    * shape). Training is token counting: per distinct token,
    * occurrences in Gopher-pass vs Gopher-fail documents; per-token
    * log-likelihood ratio with add-one smoothing
    * llr(w) = ln((c⁺+1)/(N⁺+V)) − ln((c⁻+1)/(N⁻+V)) factored into four
    * integer-argument [[graft.ops.Sampling.lnMicro]] terms (ln ONCE
    * per distinct token — the q116 discipline — and no cross-engine
    * product that could overflow); a document scores the class prior
    * plus the sum of its tokens' llr in exact micro-nat integers. The
    * report is the DISCRIMINATION comparison: per source, the q175
    * tie-corrected AUC of the learned score next to the fixed q109
    * gate's, against the same label — does learning beat the
    * hand-tuned weights, and where. In-sample by design (train and
    * audit on the same corpus — the fixture has no held-out label
    * set); the q155-style split supplies train/test frames when one
    * exists.
    *
    * Scale: ONE corpus pass to the (doc, pos) token stream; the token
    * count table is a partial+final aggregate to vocabulary size; the
    * scalar totals (V, N⁺, N⁻, doc counts) are one-row broadcasts
    * (whitelisted BNLJ); scoring joins the stream to the vocab-sized
    * llr table (heavy-hitter skew at corpus scale — AQE skew-join,
    * q116's argument) and partial-aggregates per doc. The AUC stage is
    * q175's: group rows, not documents, feed the rank windows.
    */
  /** The q178 candidate base: tokenized, featurized, Gopher-labelled
    * docs with > 0 tokens. SHARED KERNEL — one definition for the
    * batch audit and [[graft.streaming.NbStream]]'s incremental
    * trainer (their parity is bit-exact only because both sides
    * featurize and label with these exact expressions).
    */
  private[graft] def nbBase(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), col("text"), toks(col("text")).as("t"))
      .select(Seq(col("doc_id"), col("source"), col("t")) ++ gopherCounters(col("t")) :+
        punctRatio(col("text")).as("punct_ratio") :+
        digitRatio(col("text")).as("digit_ratio"): _*)
      .filter(col("nt") > 0)
      .withColumn("pos",
        when(gopherPass(col("nt"), col("sl"), col("na"), col("ns")), 1L).otherwise(0L))

  /** The (doc, label, token) occurrence stream of a base frame. */
  private[graft] def nbOccurrences(base: DataFrame): DataFrame =
    base.select(col("doc_id"), col("pos"), explode(col("t")).as("w"))

  /** Per-token class counts — the trainer's vocabulary-keyed
    * sufficient statistic, additive over batches (what
    * [[graft.streaming.NbStream]] maintains incrementally).
    */
  private[graft] def nbTokenCounts(occ: DataFrame): DataFrame =
    occ.groupBy(col("w"))
      .agg(sum(col("pos")).cast("bigint").as("c_pos"),
        (count(lit(1)) - sum(col("pos"))).cast("bigint").as("c_neg"))

  /** Per-class DOCUMENT counts (the prior's statistic — one row). */
  private[graft] def nbPriorCounts(base: DataFrame): DataFrame =
    base.agg(sum(col("pos")).cast("bigint").as("npd"),
      (count(lit(1)) - sum(col("pos"))).cast("bigint").as("nnd"))

  /** Score documents given the trainer state: token counts `tc` (from
    * [[nbTokenCounts]] or the streaming store — smoothing totals and
    * V re-derive from it, so counts are the complete sufficient
    * statistic) and the prior's doc counts. Returns
    * (doc_id, source, score, pos) rows in exact micro-nat integers.
    */
  private[graft] def nbScoreFromCounts(base: DataFrame, occ: DataFrame,
                                       tc: DataFrame,
                                       priorCounts: DataFrame): DataFrame = {
    import graft.ops.Sampling.lnMicro
    val scal = tc.agg(count(lit(1)).cast("bigint").as("v"),
      sum(col("c_pos")).cast("bigint").as("np"),
      sum(col("c_neg")).cast("bigint").as("nn"))
    val llr = tc.crossJoin(broadcast(scal))
      .select(col("w"),
        (lnMicro(col("c_pos") + lit(1L)) - lnMicro(col("np") + col("v"))
          - lnMicro(col("c_neg") + lit(1L)) + lnMicro(col("nn") + col("v")))
          .as("llr"))
    // class prior in the same micro-nat units; a one-class corpus gets
    // prior 0 (its AUC is 0.0/undefined downstream anyway — never an
    // infinite ln crossing the BIGINT cast differently per engine)
    val prior = priorCounts
      .select(when(col("npd") > 0 && col("nnd") > 0,
        lnMicro(col("npd")) - lnMicro(col("nnd"))).otherwise(lit(0L)).as("pr"))
    // tokens ABSENT from tc (possible when the counts are a streamed
    // model and occ holds fresh candidates) take the add-one-smoothed
    // count-zero llr — the same four-term formula at c_pos = c_neg = 0
    // — instead of being silently dropped by an inner join (which
    // would also drop whole all-unseen docs from the gate's output);
    // an EMPTY model (v = 0) contributes 0, not an engine-divergent
    // ln(0)
    val ds = occ.join(llr, Seq("w"), "left")
      .crossJoin(broadcast(scal))
      .select(col("doc_id"),
        coalesce(col("llr"),
          when(col("v") > 0,
            lnMicro(lit(0L) + lit(1L)) - lnMicro(col("np") + col("v"))
              - lnMicro(lit(0L) + lit(1L)) + lnMicro(col("nn") + col("v")))
            .otherwise(lit(0L))).as("llr"))
      .groupBy(col("doc_id"))
      .agg(sum(col("llr")).cast("bigint").as("s"))
    base.select(col("doc_id"), col("source"), col("pos"))
      .join(ds, Seq("doc_id"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"), col("source"),
        (col("s") + col("pr")).as("score"), col("pos"))
  }

  def nbClassifierAudit(docs: DataFrame): DataFrame = {
    val base = nbBase(docs)
    val occ = nbOccurrences(base)
    val nbScored = nbScoreFromCounts(base, occ, nbTokenCounts(occ),
      nbPriorCounts(base))
      .select(col("source"), col("score"), col("pos"))
    val fixedScored = base.select(col("source"),
      rationalSigmoid(classifierZ(col("ns") / col("nt"), col("nt"),
        col("punct_ratio"), col("digit_ratio"))).as("score"),
      col("pos"))
    aucBySource(nbScored)
      .select(col("source"), col("n_pos"), col("n_neg"), col("auc").as("auc_nb"))
      .join(aucBySource(fixedScored).select(col("source"), col("auc").as("auc_fixed")),
        Seq("source"))
  }

  /** The q178 twin's featurize/label/train/score CTE chain (f → lab →
    * occ → tc → scal → llr → dscal → prior → ds) — ONE definition,
    * interpolated into both the q178 discrimination audit and the
    * q186 disagreement audit: a drifted copy of the training
    * arithmetic in either would grade a different classifier than the
    * engine ships. In-sample by construction, so `ds` joins occ to
    * llr INNER (every token was trained on); the Spark kernel's
    * unseen-token smoothing arm is exercised only by streamed models.
    */
  private def nbTwinChainSql: String =
    s"""f AS (
       |  SELECT doc_id, source, t,
       |    ${TwinSql.gopherCounters("t")},
       |    ${TwinSql.punctRatio("text")} AS punct_ratio,
       |    ${TwinSql.digitRatio("text")} AS digit_ratio
       |  FROM (SELECT doc_id, source, text, $duckToks AS t FROM documents)
       |  WHERE len(t) > 0),
       |lab AS (
       |  SELECT doc_id, source, t, nt, ns, punct_ratio, digit_ratio,
       |    CAST(CASE WHEN ${TwinSql.gopherPass("nt", "sl", "na", "ns")}
       |      THEN 1 ELSE 0 END AS BIGINT) AS pos
       |  FROM f),
       |occ AS (SELECT doc_id, pos, unnest(t) AS w FROM lab),
       |tc AS (
       |  SELECT w, CAST(sum(pos) AS BIGINT) AS c_pos,
       |    CAST(count(*) - sum(pos) AS BIGINT) AS c_neg
       |  FROM occ GROUP BY w),
       |scal AS (
       |  SELECT CAST(count(*) AS BIGINT) AS v,
       |    CAST(sum(c_pos) AS BIGINT) AS np,
       |    CAST(sum(c_neg) AS BIGINT) AS nn
       |  FROM tc),
       |llr AS (
       |  SELECT w,
       |    ${Sampling.duckLnMicro("c_pos + 1")} - ${Sampling.duckLnMicro("np + v")}
       |      - ${Sampling.duckLnMicro("c_neg + 1")} + ${Sampling.duckLnMicro("nn + v")}
       |      AS llr
       |  FROM tc, scal),
       |dscal AS (
       |  SELECT CAST(sum(pos) AS BIGINT) AS npd,
       |    CAST(count(*) - sum(pos) AS BIGINT) AS nnd
       |  FROM lab),
       |prior AS (
       |  SELECT CASE WHEN npd > 0 AND nnd > 0
       |    THEN ${Sampling.duckLnMicro("npd")} - ${Sampling.duckLnMicro("nnd")}
       |    ELSE CAST(0 AS BIGINT) END AS pr
       |  FROM dscal),
       |ds AS (
       |  SELECT doc_id, CAST(sum(llr) AS BIGINT) AS s
       |  FROM occ JOIN llr USING (w) GROUP BY doc_id)""".stripMargin

  val q178: QueryDef = QueryDef.sql(
    "q178_nb_classifier_audit",
    s"""WITH $nbTwinChainSql,
       |nb AS (
       |  SELECT lab.source, ds.s + prior.pr AS score, lab.pos
       |  FROM lab JOIN ds USING (doc_id), prior),
       |fx AS (
       |  SELECT source,
       |    ${TwinSql.rationalSigmoid(
              TwinSql.classifierZ("(ns / nt)", "nt", "punct_ratio", "digit_ratio"))}
       |      AS score,
       |    pos
       |  FROM lab),
       |${TwinSql.aucChain("nb", "1")},
       |${TwinSql.aucChain("fx", "2")}
       |SELECT a1.source, a1.n_pos, a1.n_neg,
       |  ${TwinSql.aucSelect("a1.n_pos", "a1.n_neg", "a1.r2")} AS auc_nb,
       |  ${TwinSql.aucSelect("a2.n_pos", "a2.n_neg", "a2.r2")} AS auc_fixed
       |FROM a1 JOIN a2 ON a1.source = a2.source
       |ORDER BY a1.source""".stripMargin) { (s, dir) =>
    nbClassifierAudit(Tables.documentsFan(s, dir)).orderBy(col("source"))
  }

  /** Gate-disagreement audit (q186): the fixed q109 gate (z ≥ 0, i.e.
    * sigmoid score ≥ 0.5) and the trained q178 Naive Bayes gate
    * (log-odds ≥ 0 micro-nats) applied to the SAME documents, as a
    * per-source confusion: both-pass / fixed-only / nb-only /
    * both-fail counts, the disagreement share, and each gate's
    * agreement with the q126 Gopher label. q178's AUC says which gate
    * RANKS better; this says what each would actually DO to the
    * corpus — a high-disagreement source is where swapping gates
    * changes the recipe, and the correct-count columns say which gate
    * the label sides with there. Pure composition of the single-
    * definition kernels ([[nbBase]]/[[nbScoreFromCounts]] and
    * [[classifierZ]]); both thresholds are exact (z ≥ 0 is an IEEE
    * comparison of the literal-identical formula, the NB cut is an
    * integer sign test).
    *
    * Scale: the NB chain is q178's (one corpus pass + vocab-keyed
    * join); the fixed gate is row-local arithmetic on the same base;
    * the confusion is a partial+final aggregate to source granularity.
    */
  def gateDisagreement(docs: DataFrame): DataFrame = {
    val base = nbBase(docs)
    val occ = nbOccurrences(base)
    val nb = nbScoreFromCounts(base, occ, nbTokenCounts(occ),
      nbPriorCounts(base))
      .select(col("doc_id"), col("score").as("nbs"))
    val flags = base
      .select(col("doc_id"), col("source"), col("pos"),
        classifierZ(col("ns") / col("nt"), col("nt"),
          col("punct_ratio"), col("digit_ratio")).as("z"))
      .join(nb, Seq("doc_id"))
      .select(col("source"), col("pos"),
        when(col("z") >= 0.0, 1L).otherwise(0L).as("fx"),
        when(col("nbs") >= 0L, 1L).otherwise(0L).as("nbp"))
    flags.groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(col("fx") === 1L && col("nbp") === 1L, 1L).otherwise(0L))
          .cast("bigint").as("n_both_pass"),
        sum(when(col("fx") === 1L && col("nbp") === 0L, 1L).otherwise(0L))
          .cast("bigint").as("n_fixed_only"),
        sum(when(col("fx") === 0L && col("nbp") === 1L, 1L).otherwise(0L))
          .cast("bigint").as("n_nb_only"),
        sum(when(col("fx") === 0L && col("nbp") === 0L, 1L).otherwise(0L))
          .cast("bigint").as("n_both_fail"),
        sum(when(col("fx") === col("pos"), 1L).otherwise(0L))
          .cast("bigint").as("n_fixed_correct"),
        sum(when(col("nbp") === col("pos"), 1L).otherwise(0L))
          .cast("bigint").as("n_nb_correct"))
      .select(col("source"), col("n_docs"), col("n_both_pass"),
        col("n_fixed_only"), col("n_nb_only"), col("n_both_fail"),
        ((col("n_fixed_only") + col("n_nb_only")).cast("double")
          / col("n_docs").cast("double")).as("disagree_share"),
        col("n_fixed_correct"), col("n_nb_correct"))
  }

  val q186: QueryDef = QueryDef.sql(
    "q186_gate_disagreement",
    s"""WITH $nbTwinChainSql,
       |fl AS (
       |  SELECT lab.source, lab.pos,
       |    CASE WHEN ${TwinSql.classifierZ("(ns / nt)", "nt",
                "punct_ratio", "digit_ratio")} >= 0.0
       |      THEN 1 ELSE 0 END AS fx,
       |    CASE WHEN ds.s + prior.pr >= 0 THEN 1 ELSE 0 END AS nbp
       |  FROM lab JOIN ds USING (doc_id), prior),
       |c AS (
       |  SELECT source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN fx = 1 AND nbp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both_pass,
       |    CAST(sum(CASE WHEN fx = 1 AND nbp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fixed_only,
       |    CAST(sum(CASE WHEN fx = 0 AND nbp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_nb_only,
       |    CAST(sum(CASE WHEN fx = 0 AND nbp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_both_fail,
       |    CAST(sum(CASE WHEN fx = pos THEN 1 ELSE 0 END) AS BIGINT) AS n_fixed_correct,
       |    CAST(sum(CASE WHEN nbp = pos THEN 1 ELSE 0 END) AS BIGINT) AS n_nb_correct
       |  FROM fl GROUP BY source)
       |SELECT source, n_docs, n_both_pass, n_fixed_only, n_nb_only, n_both_fail,
       |  CAST(n_fixed_only + n_nb_only AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |    AS disagree_share,
       |  n_fixed_correct, n_nb_correct
       |FROM c
       |ORDER BY source""".stripMargin) { (s, dir) =>
    gateDisagreement(Tables.documentsFan(s, dir)).orderBy(col("source"))
  }

  /** Gate operating-point table (q191): the threshold sweep that turns
    * q175/q178's "which gate RANKS better" into "where do I CUT" —
    * for both shipped gates (the fixed q109 sigmoid and the trained
    * q178 NB log-odds) at every threshold k/20, k = 1..19, the full
    * confusion against the q126 Gopher label plus precision, recall,
    * and F1. The NB gate is swept in its NATIVE micro-nat log-odds
    * space: the cut for probability k/20 is ln(k/(20−k)) micro-nats =
    * lnMicro(k) − lnMicro(20−k), exact integers — never a sigmoid
    * materialized in floats. F1 is the SINGLE division
    * 2·tp/(2·tp+fp+fn) of exact BIGINTs (not the two-stage
    * 2PR/(P+R), whose intermediate rounding could diverge per
    * engine); precision/recall are likewise one division each, 0.0
    * when undefined.
    *
    * Pure composition of the single-definition kernels
    * ([[nbBase]]/[[nbScoreFromCounts]], [[classifierZ]]/
    * [[rationalSigmoid]]) — the sweep grades exactly the scores the
    * engine ships.
    *
    * Scale: both score passes are the audited q178/q109 chains; the
    * 19-row threshold spine multiplies doc-count rows (narrow,
    * pre-aggregation — map-side combine folds them before the one
    * exchange to 38 output rows).
    */
  def gateOperatingPoints(spark: SparkSession, docs: DataFrame): DataFrame = {
    import graft.ops.Sampling.lnMicro
    val base = nbBase(docs)
    val occ = nbOccurrences(base)
    val nb = nbScoreFromCounts(base, occ, nbTokenCounts(occ),
      nbPriorCounts(base))
      .select(col("pos"), col("score"))
    val fixed = base.select(col("pos"),
      rationalSigmoid(classifierZ(col("ns") / col("nt"), col("nt"),
        col("punct_ratio"), col("digit_ratio"))).as("score"))
    val spine = spark.range(1, 20).toDF("thr_num")
    val fx = fixed.crossJoin(broadcast(spine))
      .select(lit("fixed").as("gate"), col("thr_num"), col("pos"),
        when(col("score") >= col("thr_num").cast("double") / 20.0, 1L)
          .otherwise(0L).as("pred"))
    val nbp = nb.crossJoin(broadcast(spine))
      .select(lit("nb").as("gate"), col("thr_num"), col("pos"),
        when(col("score") >=
          lnMicro(col("thr_num")) - lnMicro(lit(20L) - col("thr_num")), 1L)
          .otherwise(0L).as("pred"))
    fx.union(nbp)
      .groupBy(col("gate"), col("thr_num"))
      .agg(
        sum(col("pred") * col("pos")).cast("bigint").as("tp"),
        sum(col("pred") * (lit(1L) - col("pos"))).cast("bigint").as("fp"),
        sum((lit(1L) - col("pred")) * col("pos")).cast("bigint").as("fn"),
        sum((lit(1L) - col("pred")) * (lit(1L) - col("pos"))).cast("bigint")
          .as("tn"))
      .select(col("gate"), col("thr_num").cast("bigint").as("thr_num"),
        (col("thr_num").cast("double") / 20.0).as("threshold"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .otherwise(lit(0.0)).as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .otherwise(lit(0.0)).as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          (lit(2L) * col("tp")).cast("double")
            / (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .otherwise(lit(0.0)).as("f1"))
  }

  val q191: QueryDef = QueryDef.sql(
    "q191_gate_operating_points",
    s"""WITH $nbTwinChainSql,
       |thr AS (SELECT CAST(unnest(range(1, 20)) AS BIGINT) AS thr_num),
       |fxp AS (
       |  SELECT 'fixed' AS gate, thr.thr_num, lab.pos,
       |    CASE WHEN ${TwinSql.rationalSigmoid(
                TwinSql.classifierZ("(ns / nt)", "nt",
                  "punct_ratio", "digit_ratio"))}
       |           >= CAST(thr.thr_num AS DOUBLE) / 20.0
       |      THEN 1 ELSE 0 END AS pred
       |  FROM lab CROSS JOIN thr),
       |nbp AS (
       |  SELECT 'nb' AS gate, thr.thr_num, lab.pos,
       |    CASE WHEN ds.s + prior.pr >=
       |        ${Sampling.duckLnMicro("thr.thr_num")}
       |          - ${Sampling.duckLnMicro("20 - thr.thr_num")}
       |      THEN 1 ELSE 0 END AS pred
       |  FROM lab JOIN ds USING (doc_id), prior CROSS JOIN thr),
       |u AS (SELECT * FROM fxp UNION ALL SELECT * FROM nbp),
       |c AS (
       |  SELECT gate, thr_num,
       |    CAST(sum(pred * pos) AS BIGINT) AS tp,
       |    CAST(sum(pred * (1 - pos)) AS BIGINT) AS fp,
       |    CAST(sum((1 - pred) * pos) AS BIGINT) AS fn,
       |    CAST(sum((1 - pred) * (1 - pos)) AS BIGINT) AS tn
       |  FROM u GROUP BY gate, thr_num)
       |SELECT gate, thr_num,
       |  CAST(thr_num AS DOUBLE) / 20.0 AS threshold,
       |  tp, fp, fn, tn,
       |  CASE WHEN tp + fp > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
       |    ELSE 0.0 END AS precision,
       |  CASE WHEN tp + fn > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
       |    ELSE 0.0 END AS recall,
       |  CASE WHEN 2 * tp + fp + fn > 0
       |    THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
       |    ELSE 0.0 END AS f1
       |FROM c
       |ORDER BY gate, thr_num""".stripMargin) { (s, dir) =>
    gateOperatingPoints(s, Tables.documentsFan(s, dir))
      .orderBy(col("gate"), col("thr_num"))
  }

  /** Per-source lexical statistics (q127): the data-card vocabulary
    * numbers — token count, type count, hapax-legomenon count, and the
    * derived type-token ratio, hapax share, and top-10-term mass.
    * TTR and hapax share flag templated/synthetic sources (tiny
    * vocabulary, no singletons); top-10 mass flags boilerplate-heavy
    * ones. Derived ratios are each ONE IEEE division of two exact
    * BIGINTs — bit-identical across engines with no rounding tricks.
    *
    * Scale: the (source, term) frequency table is a partial+final
    * aggregate (map-side combine takes the corpus-sized explode down
    * to per-partition vocabularies); everything after is
    * vocabulary-sized, and the top-10 rank window partitions by
    * source over that vocabulary table, never the corpus.
    */
  /** The (source, term) frequency table — ONE definition shared by the
    * q127 lexical stats and the q187 Zipf audit (its twin face is
    * [[tfCteSql]]): a drifted tokenization in either would grade a
    * different vocabulary than the other reports.
    */
  private[graft] def sourceTermFreq(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(toks(col("text"))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))

  /** [[sourceTermFreq]]'s DuckDB face (a CTE body). */
  private def tfCteSql: String =
    s"""SELECT source, term, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest($duckToks) AS term FROM documents)
       |  GROUP BY source, term""".stripMargin

  def lexicalStats(docs: DataFrame): DataFrame = {
    val tf = sourceTermFreq(docs)
    val w = Window.partitionBy(col("source")).orderBy(col("c").desc, col("term"))
    tf.withColumn("rk", row_number().over(w))
      .groupBy(col("source"))
      .agg(sum(col("c")).cast("bigint").as("n_tokens"),
        count(lit(1)).cast("bigint").as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).cast("bigint").as("n_hapax"),
        sum(when(col("rk") <= 10, col("c")).otherwise(0L)).cast("bigint").as("top10_mass"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types").cast("double") / col("n_tokens").cast("double")).as("ttr"),
        (col("n_hapax").cast("double") / col("n_types").cast("double")).as("hapax_share"),
        (col("top10_mass").cast("double") / col("n_tokens").cast("double")).as("top10_share"))
      .orderBy(col("source"))
  }

  val q127: QueryDef = QueryDef.sql(
    "q127_lexical_stats",
    s"""WITH tf AS (
       |  $tfCteSql),
       |rk AS (
       |  SELECT source, c,
       |    row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS rk
       |  FROM tf),
       |agg AS (
       |  SELECT source,
       |    CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |    CAST(sum(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS BIGINT) AS top10_mass
       |  FROM rk GROUP BY source)
       |SELECT source, n_tokens, n_types, n_hapax,
       |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
       |  CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_share,
       |  CAST(top10_mass AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top10_share
       |FROM agg
       |ORDER BY source""".stripMargin) { (s, dir) =>
    lexicalStats(Tables.documents(s, dir))
  }

  /** Per-source Zipf's-law audit (q187): the least-squares slope of
    * ln(term frequency) on ln(frequency rank) over each source's
    * vocabulary, with intercept (the ln of the Zipf constant, in
    * nats), r², and the absolute deviation from the canonical −1
    * slope. Natural text sits near slope −1 with high r²; a flat
    * slope (dev → 1) is templated/synthetic text whose terms are
    * near-uniform, and a low r² means no power law at all (e.g.
    * boilerplate mixed with noise) — the distributional complement of
    * q148's Heaps'-law vocabulary-growth curve and q127's scalar
    * ratios. Both logs go through [[graft.ops.Sampling.lnMicro]]
    * (one libm ln per (rank|count) value, rounded once to micro-nat
    * BIGINTs), the five regression sums are exact DECIMAL arithmetic
    * over those integers (micro-nat units cancel in the slope and r²;
    * the intercept divides back to nats once), and the q80 discipline
    * finishes: cast the exact sums to DOUBLE and run the literal-
    * identical formula on both engines, round 9.
    *
    * Scale: [[sourceTermFreq]] is a corpus-sized partial+final
    * aggregate; the rank window and regression sums run over the
    * vocabulary-sized frequency table, never the corpus.
    */
  def zipfAudit(docs: DataFrame): DataFrame = {
    import graft.ops.Sampling.lnMicro
    val w = Window.partitionBy(col("source")).orderBy(col("c").desc, col("term"))
    val xy = sourceTermFreq(docs)
      .withColumn("rk", row_number().over(w))
      .select(col("source"), col("c"),
        lnMicro(col("rk")).cast("decimal(19,0)").as("x"),
        lnMicro(col("c")).cast("decimal(19,0)").as("y"))
    val g = xy.groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_types"),
        sum(col("c")).cast("bigint").as("n_tokens"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("x") * col("x")).cast("double").as("sx2"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("y") * col("y")).cast("double").as("sy2"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
    val n = col("n_types").cast("double")
    val varX = n * col("sx2") - col("sx") * col("sx")
    val varY = n * col("sy2") - col("sy") * col("sy")
    val cov = n * col("sxy") - col("sx") * col("sy")
    val slope = cov / varX
    val fitOk = col("n_types") >= 2L && varX =!= 0.0
    g.select(col("source"), col("n_types"), col("n_tokens"),
      when(fitOk, round(slope, 9)).otherwise(lit(0.0)).as("slope"),
      when(fitOk, round(((col("sy") - col("sx") * slope) / n) / 1000000.0, 9))
        .otherwise(lit(0.0)).as("intercept"),
      when(fitOk && varY =!= 0.0, round((cov * cov) / (varX * varY), 9))
        .otherwise(lit(0.0)).as("r2"),
      when(fitOk, round(abs(slope + 1.0), 9)).otherwise(lit(1.0))
        .as("zipf_dev"))
  }

  val q187: QueryDef = QueryDef.sql(
    "q187_zipf_audit",
    s"""WITH tf AS (
       |  $tfCteSql),
       |rk AS (
       |  SELECT source, term, c,
       |    row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS rk
       |  FROM tf),
       |xy AS (
       |  SELECT source, c,
       |    CAST(${Sampling.duckLnMicro("rk")} AS DECIMAL(19,0)) AS x,
       |    CAST(${Sampling.duckLnMicro("c")} AS DECIMAL(19,0)) AS y
       |  FROM rk),
       |g AS (
       |  SELECT source,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(sum(x) AS DOUBLE) AS sx,
       |    CAST(sum(x * x) AS DOUBLE) AS sx2,
       |    CAST(sum(y) AS DOUBLE) AS sy,
       |    CAST(sum(y * y) AS DOUBLE) AS sy2,
       |    CAST(sum(x * y) AS DOUBLE) AS sxy
       |  FROM xy GROUP BY source)
       |SELECT source, n_types, n_tokens,
       |  CASE WHEN n_types >= 2
       |        AND (CAST(n_types AS DOUBLE) * sx2 - sx * sx) <> 0.0
       |    THEN round((CAST(n_types AS DOUBLE) * sxy - sx * sy)
       |      / (CAST(n_types AS DOUBLE) * sx2 - sx * sx), 9)
       |    ELSE 0.0 END AS slope,
       |  CASE WHEN n_types >= 2
       |        AND (CAST(n_types AS DOUBLE) * sx2 - sx * sx) <> 0.0
       |    THEN round(((sy - sx * ((CAST(n_types AS DOUBLE) * sxy - sx * sy)
       |        / (CAST(n_types AS DOUBLE) * sx2 - sx * sx)))
       |      / CAST(n_types AS DOUBLE)) / 1000000.0, 9)
       |    ELSE 0.0 END AS intercept,
       |  CASE WHEN n_types >= 2
       |        AND (CAST(n_types AS DOUBLE) * sx2 - sx * sx) <> 0.0
       |        AND (CAST(n_types AS DOUBLE) * sy2 - sy * sy) <> 0.0
       |    THEN round(((CAST(n_types AS DOUBLE) * sxy - sx * sy)
       |        * (CAST(n_types AS DOUBLE) * sxy - sx * sy))
       |      / ((CAST(n_types AS DOUBLE) * sx2 - sx * sx)
       |        * (CAST(n_types AS DOUBLE) * sy2 - sy * sy)), 9)
       |    ELSE 0.0 END AS r2,
       |  CASE WHEN n_types >= 2
       |        AND (CAST(n_types AS DOUBLE) * sx2 - sx * sx) <> 0.0
       |    THEN round(abs(((CAST(n_types AS DOUBLE) * sxy - sx * sy)
       |      / (CAST(n_types AS DOUBLE) * sx2 - sx * sx)) + 1.0), 9)
       |    ELSE 1.0 END AS zipf_dev
       |FROM g
       |ORDER BY source""".stripMargin) { (s, dir) =>
    zipfAudit(Tables.documents(s, dir)).orderBy(col("source"))
  }

  /** Lift-ranked collocation mining (q145): adjacent token pairs whose
    * observed frequency beats the independence expectation — lift =
    * N·c(a,b) / (c(a)·c(b)) — with min support 10, top 50 by
    * (lift desc, a, b). The PMI-family statistic a tokenizer/phrase
    * vocabulary builder runs over the corpus; lift IS exp(PMI), so the
    * ranking is PMI's, but it needs no logarithm — cross-engine floats
    * stay deterministic because each factor is an exact BIGINT cast to
    * DOUBLE and the (mul, mul, div) fold order is pinned on both
    * engines (and, unlike BIGINT n*cnt, the DOUBLE products cannot
    * overflow at any corpus size).
    *
    * Scale: ONE token-pair explode feeds ONE corpus-sized exchange
    * (partial+final count on (a, next)), where `next` is NULL at each
    * document's last token so the pair-count frame alone determines
    * unigram counts (c(x) = Σ_b cnt(x, b) — every occurrence of x
    * emits exactly one pair row) and the corpus total N. Everything
    * downstream — unigram rollup, scalar N, the support-filtered
    * candidate join — is vocabulary-sized or smaller. The scalar N
    * rides a one-row broadcast (BNLJ-whitelisted).
    */
  val q145: QueryDef = QueryDef.sql(
    "q145_collocations",
    s"""WITH d AS (SELECT $duckToks AS t FROM documents),
       |pr AS (
       |  SELECT unnest(list_transform(range(1, len(t) + 1),
       |    i -> struct_pack(a := t[i],
       |                     b := CASE WHEN i < len(t) THEN t[i+1] END))) AS s
       |  FROM d WHERE len(t) >= 1),
       |pc AS (SELECT s.a AS a, s.b AS b, CAST(count(*) AS BIGINT) AS cnt
       |       FROM pr GROUP BY 1, 2),
       |uni AS (SELECT a AS tok, CAST(sum(cnt) AS BIGINT) AS c FROM pc GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni)
       |SELECT a, b, cnt,
       |  (CAST(n AS DOUBLE) * CAST(cnt AS DOUBLE))
       |    / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
       |FROM pc CROSS JOIN tot
       |JOIN uni ua ON ua.tok = pc.a
       |JOIN uni ub ON ub.tok = pc.b
       |WHERE b IS NOT NULL AND cnt >= 10
       |ORDER BY lift DESC, a, b LIMIT 50""".stripMargin) { (s, dir) =>
    val pairs = Tables.documents(s, dir)
      .select(toks(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
      .select(explode(transform(sequence(lit(1), size(col("t"))),
        i => struct(element_at(col("t"), i).as("a"),
          when(i < size(col("t")), element_at(col("t"), i + 1)).as("b")))).as("s"))
      .groupBy(col("s.a").as("a"), col("s.b").as("b"))
      .agg(count(lit(1)).cast("bigint").as("cnt"))
      // vocabulary-sized; feeds three branches (unigrams, N, candidates)
      .localCheckpoint(eager = false)
    val uni = pairs.groupBy(col("a").as("tok"))
      .agg(sum(col("cnt")).cast("bigint").as("c"))
      .localCheckpoint(eager = false)
    val tot = uni.agg(sum(col("c")).cast("bigint").as("n"))
    pairs.filter(col("b").isNotNull && col("cnt") >= 10)
      .crossJoin(broadcast(tot))
      .join(uni.toDF("ta", "ca"), col("ta") === col("a"))
      .join(uni.toDF("tb", "cb"), col("tb") === col("b"))
      .select(col("a"), col("b"), col("cnt"),
        ((col("n").cast("double") * col("cnt").cast("double"))
          / (col("ca").cast("double") * col("cb").cast("double"))).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(50)
  }

  /** Sum over the runs of a sorted string array of run_length^2 — the
    * Simpson-index numerator Σ c_i² — in one O(n log n) array-local
    * pass (sort + linear fold), no per-doc exchange. The sentinel
    * prev = "" never matches a real token (toks filters empties), and
    * the run>0 guard makes the initial flush a no-op either way.
    */
  private[graft] def sumSqRunLengths(t: Column): Column = {
    val s = array_sort(t)
    aggregate(
      s,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("ss")),
      (acc, x) => {
        val same = x === acc.getField("prev")
        struct(
          x.as("prev"),
          when(same, acc.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          when(same, acc.getField("ss"))
            .otherwise(acc.getField("ss")
              + acc.getField("run") * acc.getField("run")).as("ss"))
      },
      acc => acc.getField("ss")
        + acc.getField("run") * acc.getField("run"))
  }

  /** Lexical diversity per document (q147): type-token ratio and the
    * Simpson diversity index 1 - Σ c_i²/n² — the probability two
    * independently drawn tokens differ. The repetition-quality signal
    * complementary to q86's top-token share: q86 catches one dominant
    * token, Simpson catches distributional collapse across the whole
    * vocabulary (a doc cycling 3 tokens evenly passes q86's threshold
    * yet scores Simpson ≈ 0.67 vs ≈ 1.0 for natural text).
    *
    * Scale: entirely array-local — Σ c_i² comes from a sorted-run
    * fold ([[sumSqRunLengths]]), types from array_distinct; NO
    * exchange at all before the output sort, so the query runs at
    * scan speed on any corpus. The DuckDB twin takes the orthodox
    * explode → GROUP BY path to the same integers; the doubles
    * hash-match because the final (1 - ss/(n·n)) formula is literal-
    * identical on both sides.
    */
  val q147: QueryDef = QueryDef.sql(
    "q147_lexical_diversity",
    s"""WITH d AS (SELECT doc_id, $duckToks AS t FROM documents),
       |cnt AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM d)
       |  GROUP BY doc_id, tok),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(c * c) AS BIGINT) AS ss
       |  FROM cnt GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_types,
       |  CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
       |  1.0 - CAST(ss AS DOUBLE)
       |    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS simpson
       |FROM agg
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documentsFan(s, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .select(
        col("doc_id"),
        size(col("t")).cast("bigint").as("n_tokens"),
        size(array_distinct(col("t"))).cast("bigint").as("n_types"),
        col("t"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        (lit(1.0) - sumSqRunLengths(col("t")).cast("double")
          / (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("simpson"))
      .orderBy(col("doc_id"))
  }

  /** Bucketed vocabulary-growth curve (q148): cumulative distinct
    * word types vs cumulative tokens as the corpus is consumed in
    * doc_id order, sampled at fixed 100-doc buckets — the Heaps'-law
    * audit a tokenizer-vocabulary sizing pass runs (V(n) ~ K·n^β;
    * a flattening curve says more data stops buying new vocabulary).
    *
    * Scale: a type's first occurrence is a min aggregate on the token
    * (ONE corpus-sized exchange); everything after is bucket-sized —
    * per-bucket new-type counts are vocabulary-sized before their
    * rollup, the token totals map-side combine to one row per bucket,
    * and the cumulative window runs over the bucket-count-sized frame
    * (thousands of rows at 100 TB, one partition is correct there —
    * the global-order window never touches corpus-sized data).
    */
  val q148: QueryDef = QueryDef.sql(
    "q148_vocab_growth",
    s"""WITH d AS (SELECT doc_id, $duckToks AS t FROM documents),
       |tok AS (SELECT doc_id, unnest(t) AS tok FROM d),
       |firsts AS (SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY tok),
       |nt AS (SELECT first_doc // 100 AS bucket,
       |         CAST(count(*) AS BIGINT) AS new_types
       |       FROM firsts GROUP BY 1),
       |tc AS (SELECT doc_id // 100 AS bucket,
       |         CAST(count(*) AS BIGINT) AS n_tokens
       |       FROM tok GROUP BY 1),
       |dc AS (SELECT doc_id // 100 AS bucket,
       |         CAST(count(*) AS BIGINT) AS n_docs
       |       FROM documents GROUP BY 1)
       |SELECT dc.bucket, dc.n_docs,
       |  COALESCE(tc.n_tokens, 0) AS n_tokens,
       |  COALESCE(nt.new_types, 0) AS new_types,
       |  CAST(sum(COALESCE(tc.n_tokens, 0)) OVER
       |    (ORDER BY dc.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cum_tokens,
       |  CAST(sum(COALESCE(nt.new_types, 0)) OVER
       |    (ORDER BY dc.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cum_types
       |FROM dc
       |LEFT JOIN tc ON tc.bucket = dc.bucket
       |LEFT JOIN nt ON nt.bucket = dc.bucket
       |ORDER BY dc.bucket""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    val nt = tok.groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(expr("first_doc div 100").as("bucket"))
      .agg(count(lit(1)).cast("bigint").as("new_types"))
    val tc = tok.groupBy(expr("doc_id div 100").as("bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_tokens"))
    val dc = docs.groupBy(expr("doc_id div 100").as("bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    dc.join(tc, Seq("bucket"), "left")
      .join(nt, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("bigint"))
      .withColumn("cum_types", sum(col("new_types")).over(w).cast("bigint"))
      .orderBy(col("bucket"))
  }

  /** Max consecutive immediate repetitions of any L-token block within
    * a token array: the largest r such that some block of L tokens
    * appears r times back-to-back ("na na na na" -> rep_1 = 4;
    * "ab ab ab" at L=2 -> 3). rep = 0 when the doc has < L tokens
    * (or null text), 1 when it has >= L but never repeats.
    *
    * Row-local and zero-exchange: stride-L equality eq[i] = (block at
    * i == block at i+L), with runs tracked per residue class mod L
    * (classes cannot interact, so the max over classes is the doc max)
    * -- executed by the codegen [[graft.functions.MaxRepeatRunExpr]]
    * kernel in one O(L*nt) JIT'd pass (the q39 lesson applied up
    * front; [[maxConsecRepInterpreted]] is the spec-pinned reference).
    */
  private def maxConsecRep(t: Column, nt: Column, L: Int): Column =
    when(nt >= 2 * L,
      lit(1) + graft.functions.functions.max_repeat_run(t, L))
      .otherwise(when(nt >= L, lit(1)).otherwise(lit(0)))
      .cast("bigint")

  /** The interpreted reference for [[maxConsecRep]]'s codegen kernel
    * (VectorOps.maxRepeatRun): ONE fold over positions 0..m carrying
    * L per-residue run counters (stride-L chains cannot interact
    * across residues mod L) plus the running best, slices compared
    * directly. Kept test-visible so the spec can pin kernel ==
    * reference on arbitrary token arrays. NOT used by q167: the
    * lambda-eval constant costs ~4s over the sf0.1 corpus (and the
    * nested-HOF variant that precomputes g/eq arrays is the q40
    * recompute trap -- O(nt^3), measured-then-killed; see PLANS.md).
    */
  private[graft] def maxConsecRepInterpreted(t: Column, nt: Column, L: Int): Column = {
    val m = nt - (2 * L)
    val init = struct(
      (0 until L).map(j => lit(0).as(s"run$j")) :+ lit(0).as("best"): _*)
    val best =
      aggregate(
        sequence(lit(0), m),
        init,
        (acc, i) => {
          val eqv = slice(t, i + 1, lit(L)) === slice(t, i + L + 1, lit(L))
          val cls = pmod(i, lit(L))
          def bumped(j: Int) =
            when(eqv, acc.getField(s"run$j") + 1).otherwise(lit(0))
          val newRuns = (0 until L).map { j =>
            when(cls === j, bumped(j)).otherwise(acc.getField(s"run$j"))
              .as(s"run$j")
          }
          val newBest = greatest(
            acc.getField("best") +:
              (0 until L).map(j => when(cls === j, bumped(j)).otherwise(lit(0))): _*)
          struct(newRuns :+ newBest.as("best"): _*)
        },
        acc => acc.getField("best"))
    when(nt >= 2 * L, lit(1) + best)
      .otherwise(when(nt >= L, lit(1)).otherwise(lit(0)))
      .cast("bigint")
  }

  /** Degenerate-repetition audit (q167): per document, the maximum
    * immediate-repetition run of 1-, 2-, and 3-token blocks, plus a
    * `looped` flag (rep_1 >= 5, or a phrase-level rep >= 3) — the
    * standard loop detector for model-generated or scraper-mangled
    * text ("the the the", "click here click here click here"), which
    * per-window dedup (q113/q166) does NOT catch when the loop is
    * shorter than the window and unique to one document. Pure narrow
    * pass; junk null-text rows report NULL n_tokens and rep 0.
    */
  def repetitionLoops(docs: DataFrame): DataFrame = {
    val d = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("nt", when(col("t").isNotNull, size(col("t"))))
    d.select(col("doc_id"),
      col("nt").cast("bigint").as("n_tokens"),
      maxConsecRep(col("t"), col("nt"), 1).as("rep_l1"),
      maxConsecRep(col("t"), col("nt"), 2).as("rep_l2"),
      maxConsecRep(col("t"), col("nt"), 3).as("rep_l3"))
      .withColumn("looped",
        col("rep_l1") >= 5 || col("rep_l2") >= 3 || col("rep_l3") >= 3)
  }

  /** q167: [[repetitionLoops]] over the documents table. The twin
    * re-derives each rep_L relationally: block strings per position,
    * TRUE stride-L equality rows by self-join, then gaps-and-islands
    * per (doc, i mod L) residue class — max island size == the fold's
    * best run (both count maximal chains of consecutive stride-L
    * equalities). Integer semantics throughout.
    */
  val q167: QueryDef = {
    def repCtes(l: Int): String =
      s"""gl$l AS (
         |  SELECT doc_id, k AS i, array_to_string(t[k + 1 : k + $l], chr(1)) AS g
         |  FROM (SELECT doc_id, t, unnest(range(0, nt - $l + 1)) AS k
         |        FROM dd WHERE nt >= $l)),
         |eq$l AS (
         |  SELECT a.doc_id, a.i
         |  FROM gl$l a JOIN gl$l b ON a.doc_id = b.doc_id AND b.i = a.i + $l
         |  WHERE a.g = b.g),
         |run$l AS (
         |  SELECT doc_id, max(cnt) AS mx FROM (
         |    SELECT doc_id, r, grp, count(*) AS cnt FROM (
         |      SELECT doc_id, i % $l AS r,
         |        (i // $l) - row_number()
         |          OVER (PARTITION BY doc_id, i % $l ORDER BY i) AS grp
         |      FROM eq$l)
         |    GROUP BY doc_id, r, grp)
         |  GROUP BY doc_id)""".stripMargin
    def repSel(l: Int): String =
      s"""CAST(CASE WHEN dd.nt >= ${2 * l} THEN 1 + COALESCE(run$l.mx, 0)
         |    WHEN dd.nt >= $l THEN 1 ELSE 0 END AS BIGINT) AS rep_l$l""".stripMargin
    QueryDef.sql(
      "q167_repetition_loops",
      s"""WITH d AS (
         |  SELECT doc_id, $duckToks AS t FROM documents),
         |dd AS (SELECT doc_id, t, len(t) AS nt FROM d),
         |${repCtes(1)},
         |${repCtes(2)},
         |${repCtes(3)}
         |SELECT doc_id, n_tokens, rep_l1, rep_l2, rep_l3,
         |  (rep_l1 >= 5 OR rep_l2 >= 3 OR rep_l3 >= 3) AS looped
         |FROM (
         |  SELECT dd.doc_id,
         |    CAST(dd.nt AS BIGINT) AS n_tokens,
         |    ${repSel(1)},
         |    ${repSel(2)},
         |    ${repSel(3)}
         |  FROM dd LEFT JOIN run1 USING (doc_id)
         |          LEFT JOIN run2 USING (doc_id)
         |          LEFT JOIN run3 USING (doc_id))
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      repetitionLoops(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }
  }
}
