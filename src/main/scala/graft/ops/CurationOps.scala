package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.MisraGriesAgg.misra_gries

/** Corpus-curation operators beyond the per-document analytics in
  * TextAnalytics: context-window chunking, PII redaction, corpus-
  * frequency scoring, per-language quality quantile filtering, mixture
  * rebalancing, and sketch-based heavy hitters — the transformations a
  * pretraining pipeline runs between "scored documents" and "training
  * sequences". All are oracle-checked (exact integer/engine-neutral
  * arithmetic; doubles only via literal-identical formulas).
  */
object CurationOps {

  import TextAnalytics.toks

  private val duckToks = TwinSql.toksSql

  def all: Seq[QueryDef] =
    Seq(q49, q90, q91, q92, q93, q94, q95, q104, q107, q108, q110, q113, q125, q166,
      q132, q140, q143, q144, q152, q154, q157, q159, q161, q168, q169, q176,
      q179, q182, q183, q184, q193, q203)

  /** Cross-document boilerplate removal (q49): the line-level dedup
    * step of CCNet/RefinedWeb-style curation — text fragments repeated
    * across many documents (headers, footers, navigation chrome) are
    * struck from every document while the per-document order of the
    * surviving text is preserved. The fixture corpus has no line
    * structure, so "fragment" here is a non-overlapping 3-token chunk;
    * a chunk is boilerplate when it appears in >= 3 distinct documents.
    *
    * Scale: chunking is narrow (scan speed); the boilerplate set is
    * df-thresholded, i.e. heavy-hitter-sized — orders of magnitude
    * smaller than the corpus — so the removal is a BROADCAST anti-join
    * and chunks never shuffle for it. The only wide ops are the two
    * partial+final aggregates (chunk df, per-doc reassembly). Per-doc
    * reassembly sorts a bounded per-document list (array_sort on the
    * collected (start, chunk) structs), never a global window.
    */
  val q49: QueryDef = QueryDef.sql(
    "q49_boilerplate_removal",
    s"""WITH d AS (
       |  SELECT doc_id, $duckToks AS t FROM documents),
       |s AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
       |ch AS (
       |  SELECT doc_id, start,
       |    array_to_string(t[start + 1 : start + 3], ' ') AS chunk
       |  FROM (SELECT doc_id, t, unnest(range(0, n, 3)) AS start FROM s)),
       |boiler AS (
       |  SELECT chunk FROM ch GROUP BY chunk
       |  HAVING count(DISTINCT doc_id) >= 3),
       |kept AS (
       |  SELECT doc_id, start, chunk FROM ch
       |  WHERE chunk NOT IN (SELECT chunk FROM boiler)),
       |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id),
       |ka AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(chunk, ' ' ORDER BY start) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(t.n_chunks AS BIGINT) AS n_chunks,
       |  CAST(t.n_chunks - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(ka.clean_text, '') AS clean_text
       |FROM tot t LEFT JOIN ka USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    val ch = Tables.documentsFan(s, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("n", size(col("t")).cast("bigint"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L), col("n") - 1, lit(3L))).as("start"))
      .select(col("doc_id"), col("start"),
        concat_ws(" ", slice(col("t"), (col("start") + 1).cast("int"), lit(3)))
          .as("chunk"))
    val boiler = ch.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 3)
      .select(col("chunk"))
    val kept = ch.join(broadcast(boiler), Seq("chunk"), "left_anti")
    val tot = ch.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    val ka = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ",
        transform(array_sort(collect_list(struct(col("start"), col("chunk")))),
          x => x.getField("chunk"))).as("clean_text"))
    tot.join(ka, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_chunks").cast("bigint").as("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L)))
          .cast("bigint").as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Context-window chunking (q90): split each document's token stream
    * into fixed windows of 32 tokens with stride 24 (8-token overlap),
    * the chunk shape retrieval/embedding pipelines feed to encoders.
    * Narrow: fan-out is bounded by per-doc length (no shuffle at all
    * before the result sort); at 100 TB this runs at scan speed.
    */
  val q90: QueryDef = QueryDef.sql(
    "q90_doc_chunking",
    s"""WITH d AS (
       |  SELECT doc_id, $duckToks AS t FROM documents),
       |s AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
       |c AS (
       |  SELECT doc_id, t, n, unnest(range(0, n, 24)) AS start
       |  FROM s)
       |SELECT doc_id,
       |  CAST(start // 24 AS BIGINT) AS chunk_id,
       |  array_to_string(t[start + 1 : start + 32], ' ') AS chunk_text,
       |  CAST(least(32, n - start) AS BIGINT) AS n_chunk_tokens
       |FROM c
       |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("n", size(col("t")).cast("bigint"))
      .filter(col("n") > 0)
      // starts 0, 24, 48, ... <= n-1 == DuckDB range(0, n, 24)
      .select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(24L))).as("start"))
      .select(
        col("doc_id"),
        expr("start div 24").as("chunk_id"),
        concat_ws(" ", slice(col("t"), (col("start") + 1).cast("int"), lit(32)))
          .as("chunk_text"),
        least(lit(32L), col("n") - col("start")).as("n_chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  // PII patterns: shared by the Spark and DuckDB sides (Java regex and
  // RE2 agree on these constructs — classes, bounded repeats, \b).
  private val emailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val phonePat = """\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"""
  private val ipPat = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""

  /** PII redaction (q91): scrub emails, phone numbers, and IPv4
    * addresses to typed placeholder tokens, counting the hits. The
    * input is synthesized deterministically from the customer table on
    * BOTH engines (the fixtures carry no real PII), so every pattern
    * demonstrably fires; the operator itself is the narrow redaction
    * chain a curation pipeline runs at scan speed over raw text.
    */
  val q91: QueryDef = QueryDef.sql(
    "q91_pii_redaction",
    s"""WITH notes AS (
       |  SELECT c_custkey,
       |    'contact ' || c_name || ' at user' || c_custkey ||
       |    '@example.com or +1-555-' ||
       |    lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
       |    ' from 10.0.' || (c_custkey % 256) || '.' || (c_custkey % 100)
       |      AS note
       |  FROM customer)
       |SELECT c_custkey,
       |  CAST(len(regexp_extract_all(note, '$emailPat')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(note, '$phonePat')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(note, '$ipPat')) AS BIGINT) AS n_ips,
       |  regexp_replace(regexp_replace(regexp_replace(note,
       |    '$emailPat', '<EMAIL>', 'g'),
       |    '$phonePat', '<PHONE>', 'g'),
       |    '$ipPat', '<IP>', 'g') AS clean_note
       |FROM notes
       |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val key = col("c_custkey")
    val note = concat(
      lit("contact "), col("c_name"), lit(" at user"), key.cast("string"),
      lit("@example.com or +1-555-"),
      lpad((key % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (key % 256).cast("string"), lit("."),
      (key % 100).cast("string"))
    Tables.customer(s, dir)
      .select(key, note.as("note"))
      .select(
        key,
        size(regexp_extract_all(col("note"), lit(emailPat), lit(0)))
          .cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("note"), lit(phonePat), lit(0)))
          .cast("bigint").as("n_phones"),
        size(regexp_extract_all(col("note"), lit(ipPat), lit(0)))
          .cast("bigint").as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("note"), emailPat, "<EMAIL>"),
            phonePat, "<PHONE>"),
          ipPat, "<IP>").as("clean_note"))
      .orderBy(key)
  }

  /** Corpus-frequency scoring (q92): join each token back to its
    * corpus-wide frequency and aggregate per document — the
    * frequency-profile signal (a perplexity proxy with integer-exact
    * arithmetic) behind "too rare = garbage / too common = boilerplate"
    * filters. Scale: the term-frequency table is vocabulary-sized, so
    * the join back is a BROADCAST (tokens never shuffle); the only
    * wide ops are the two partial+final aggregates. Doubles appear
    * only in the final single division (deterministic on both engines).
    */
  val q92: QueryDef = QueryDef.sql(
    "q92_token_rarity",
    s"""WITH tf AS (
       |  SELECT doc_id, unnest($duckToks) AS term FROM documents),
       |c AS (SELECT term, CAST(count(*) AS BIGINT) AS tfreq FROM tf GROUP BY term)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(tfreq) AS BIGINT) AS sum_freq,
       |  CAST(min(tfreq) AS BIGINT) AS min_freq,
       |  CAST(sum(tfreq) AS BIGINT) / CAST(count(*) AS BIGINT) AS avg_freq
       |FROM tf JOIN c USING (term)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val tf = Tables.documentsFan(s, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val c = tf.groupBy(col("term")).agg(count(lit(1)).as("tfreq"))
    tf.join(broadcast(c), "term")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("tfreq")).as("sum_freq"),
        min(col("tfreq")).as("min_freq"))
      .select(col("doc_id"), col("n_tokens"), col("sum_freq"), col("min_freq"),
        (col("sum_freq") / col("n_tokens")).as("avg_freq"))
      .orderBy(col("doc_id"))
  }

  /** Per-language quality quantile filter (q93): keep documents at or
    * above the 25th percentile of q23's quality score WITHIN their
    * language — quantile thresholds per stratum, not global, so a
    * low-resource language is not wiped out by a high-resource one's
    * score distribution. The window partitions by lang (never global);
    * ties break on doc_id so percent_rank is deterministic.
    */
  val q93: QueryDef = QueryDef.sql(
    "q93_quality_quantile_filter",
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    ${TwinSql.nTokens("t")} AS n_tokens,
       |    ${TwinSql.punctRatio("text")} AS punct_ratio,
       |    ${TwinSql.digitRatio("text")} AS digit_ratio,
       |    ${TwinSql.stopRatio("t")} AS stop_ratio
       |  FROM (SELECT doc_id, lang, text, $duckToks AS t FROM documents)),
       |q AS (
       |  SELECT doc_id, lang,
       |    ${TwinSql.qscore("punct_ratio", "digit_ratio", "n_tokens", "stop_ratio")} AS qscore
       |  FROM base),
       |r AS (
       |  SELECT doc_id, lang, qscore,
       |    percent_rank() OVER (PARTITION BY lang ORDER BY qscore, doc_id) AS pr
       |  FROM q)
       |SELECT doc_id, lang, qscore, pr
       |FROM r WHERE pr >= 0.25
       |ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
    // NULL qscores (junk null-text rows) must rank LAST to match
    // DuckDB's default null ordering (Spark's asc default is first)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("qscore").asc_nulls_last, col("doc_id"))
    TextAnalytics.qualityBase(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"), col("qscore"))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= 0.25)
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Mixture rebalancing (q94): downsample each source to match a
    * target mixture (sources src0-src9 weighted 7%, src10-src19 3% —
    * encoded as `length(source) = 4`, exact on this fixture's naming).
    * T = max total size s.t. every source can fill its share, computed
    * in pure integer arithmetic; each source keeps its first
    * floor(w*T/100) docs in deterministic hash order (Sampling.hkey, no
    * engine RNG). Scale: per-source counts are a partial+final agg;
    * the keep decision is a rank within each source partition against
    * a broadcast 20-row cap table — no global window anywhere.
    */
  val q94: QueryDef = QueryDef.sql(
    "q94_mixture_sampling",
    s"""WITH c AS (
      |  SELECT source, count(*) AS n_s,
      |    CASE WHEN length(source) = 4 THEN 7 ELSE 3 END AS wt
      |  FROM documents GROUP BY source),
      |t AS (SELECT min((n_s * 100) // wt) AS t_total FROM c),
      |k AS (
      |  SELECT source, CAST((wt * (SELECT t_total FROM t)) // 100 AS BIGINT) AS keep_n
      |  FROM c),
      |r AS (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY ${Sampling.duckHkey("doc_id")}, doc_id) AS rn
      |  FROM documents)
      |SELECT r.source, r.doc_id, CAST(r.rn AS BIGINT) AS rn, k.keep_n
      |FROM r JOIN k ON k.source = r.source
      |WHERE r.rn <= k.keep_n
      |ORDER BY r.source, r.rn""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val c = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"))
      .withColumn("wt", when(length(col("source")) === 4, 7L).otherwise(3L))
      .withColumn("cap", expr("(n_s * 100) div wt"))
    val t = c.agg(min(col("cap")).as("t_total"))
    val k = c.crossJoin(t)
      .select(col("source"), expr("(wt * t_total) div 100").as("keep_n"))
    val w = Window.partitionBy(col("source"))
      .orderBy(graft.ops.Sampling.hkey(col("doc_id")), col("doc_id"))
    docs
      .select(col("source"), col("doc_id"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .join(broadcast(k), "source")
      .filter(col("rn") <= col("keep_n"))
      .select(col("source"), col("doc_id"), col("rn"), col("keep_n"))
      .orderBy(col("source"), col("rn"))
  }

  /** Sketch-verified heavy hitters (q95): pass 1 folds the token
    * stream into a k=30-counter Misra-Gries summary (bounded memory,
    * mergeable partials — the shuffle carries at most k counters per
    * partition); pass 2 exactly counts ONLY the <= k candidates (a
    * narrow isin filter) and keeps those above the N/k frequency
    * threshold. The MG guarantee (every item with count > N/(k+1)
    * survives pass 1) makes the two-pass result EXACTLY equal to the
    * full group-by the oracle runs — that equality is what the hash
    * check proves. This is the 100 TB shape: the full-vocabulary
    * group-by never happens on the engine side.
    */
  val q95: QueryDef = QueryDef.sql(
    "q95_heavy_hitters",
    s"""WITH t AS (SELECT unnest($duckToks) AS term FROM documents),
       |tot AS (SELECT count(*) AS n FROM t)
       |SELECT term, CAST(count(*) AS BIGINT) AS cnt
       |FROM t GROUP BY term
       |HAVING count(*) * 30 > (SELECT n FROM tot)
       |ORDER BY cnt DESC, term""".stripMargin) { (s, dir) =>
    val terms = Tables.documents(s, dir)
      .select(explode(toks(col("text"))).as("term"))
    val sketch = terms
      .agg(misra_gries(col("term"), 30).as("cand"), count(lit(1)).as("n_total"))
      .head()
    val cand: Seq[String] = sketch.getSeq[String](0)
    val nTotal = sketch.getLong(1)
    terms
      .filter(col("term").isin(cand: _*))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 30 > nTotal)
      .orderBy(col("cnt").desc, col("term"))
  }

  /** HTML -> text extraction (q104): deterministic synthetic HTML
    * (tags, comment, style/script payloads, entity-encoded prose)
    * wrapped around each document, then recovered with
    * [[graft.text.TextExtract.stripHtml]]. The DuckDB twin wraps and
    * strips with the IDENTICAL RE2-safe pattern chain
    * (TextExtract.stripHtmlDuckSql), so the hash check proves the
    * extraction — tag removal, block-element drop, entity decode,
    * whitespace collapse — end to end. Narrow scan-speed strings;
    * no shuffle until the final ORDER BY.
    */
  val q104: QueryDef = QueryDef.sql(
    "q104_html_extract", {
      val html =
        """'<html><!-- id ' || CAST(doc_id AS VARCHAR) || ' --><head>' ||
          |'<style>p { color: red }</style></head><body><h1>' || source ||
          |'</h1><p class="main">' || text || '</p>' ||
          |'<p>Q&amp;A &lt;raw&gt; &quot;quoted&quot;&nbsp;&#39;s</p>' ||
          |'<script type="text/javascript">var x = 1 < 2;</script>' ||
          |'</body></html>'""".stripMargin.replace("\n", " ")
      s"""SELECT doc_id, ${graft.text.TextExtract.stripHtmlDuckSql(html)} AS extracted
         |FROM documents
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    val html = concat(
      lit("<html><!-- id "), col("doc_id").cast("string"),
      lit(" --><head><style>p { color: red }</style></head><body><h1>"),
      col("source"),
      lit("</h1><p class=\"main\">"), col("text"), lit("</p>"),
      lit("<p>Q&amp;A &lt;raw&gt; &quot;quoted&quot;&nbsp;&#39;s</p>"),
      lit("<script type=\"text/javascript\">var x = 1 < 2;</script>"),
      lit("</body></html>"))
    Tables.documentsFan(s, dir)
      .select(col("doc_id"),
        graft.text.TextExtract.stripHtml(html).as("extracted"))
      .orderBy(col("doc_id"))
  }

  /** Span-level exact dedup (q107): strike every repeat of a text span
    * wherever it occurs — across documents AND within one — keeping
    * only the globally FIRST occurrence (lowest (doc_id, start)). This
    * is the span analog of suffix-array dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"):
    * q49's boilerplate pass removes high-df chunks from everywhere,
    * while this keeps one copy of every chunk. Spans are the same
    * non-overlapping 3-token chunks as q49.
    *
    * Scale: chunking is narrow; the keep-first decision is a
    * row_number window PARTITIONED BY CHUNK — one content-keyed
    * exchange, each window group is just the identical copies of one
    * chunk (duplicate-count-sized, never corpus-sized). Per-doc
    * reassembly is a partial+final agg over bounded per-doc lists. No
    * broadcast, no window over the corpus.
    */
  val q107: QueryDef = QueryDef.sql(
    "q107_span_dedup",
    s"""WITH d AS (
       |  SELECT doc_id, $duckToks AS t FROM documents),
       |s AS (SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0),
       |ch AS (
       |  SELECT doc_id, start,
       |    array_to_string(t[start + 1 : start + 3], ' ') AS chunk
       |  FROM (SELECT doc_id, t, unnest(range(0, n, 3)) AS start FROM s)),
       |r AS (
       |  SELECT doc_id, start, chunk,
       |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, start) AS rn
       |  FROM ch),
       |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id),
       |ka AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(chunk, ' ' ORDER BY start) AS clean_text
       |  FROM r WHERE rn = 1 GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(t.n_chunks AS BIGINT) AS n_chunks,
       |  CAST(t.n_chunks - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_dups_removed,
       |  COALESCE(ka.clean_text, '') AS clean_text
       |FROM tot t LEFT JOIN ka USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    spanDedup(Tables.documents(s, dir)).orderBy(col("doc_id"))
  }

  /** Library form of q107's span dedup over any (doc_id, text) frame;
    * IDEMPOTENT (PropertiesSpec): surviving chunks are mid-doc
    * full-length except each doc's tail, so re-chunking the cleaned
    * text reproduces the surviving chunk sequence exactly and a second
    * pass removes nothing.
    */
  def spanDedup(docs: org.apache.spark.sql.DataFrame, n: Int = 3): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"chunk size must be >= 1, got $n")
    val ch = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("nt", size(col("t")).cast("bigint"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L), col("nt") - 1, lit(n.toLong))).as("start"))
      .select(col("doc_id"), col("start"),
        concat_ws(" ", slice(col("t"), (col("start") + 1).cast("int"), lit(n)))
          .as("chunk"))
    val w = Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("start"))
    val kept = ch.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val tot = ch.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    val ka = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ",
        transform(array_sort(collect_list(struct(col("start"), col("chunk")))),
          x => x.getField("chunk"))).as("clean_text"))
    tot.join(ka, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_chunks").cast("bigint").as("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L)))
          .cast("bigint").as("n_dups_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Bigram language-model table (q108): conditional continuation
    * probabilities P(w2 | w1) = pair_n / left_n with the top-3
    * continuations per head word over a frequent-head vocabulary
    * (left_n >= 100) — the count table KenLM-style n-gram training
    * starts from, and the engine-side statistic behind repetition and
    * perplexity-proxy filters.
    *
    * Scale: bigrams are built ARRAY-LOCALLY (transform over the token
    * array, no per-token window, no posexplode+self-join) so the
    * fan-out is narrow; counting is one partial+final agg on (w1,w2);
    * the head totals derive from the already-aggregated pair table
    * (vocabulary-sized, not corpus-sized), and the top-3 window
    * partitions by head word. The double division is exact IEEE on
    * both engines (long->double conversion + one divide).
    */
  val q108: QueryDef = QueryDef.sql(
    "q108_bigram_lm",
    s"""WITH d AS (SELECT $duckToks AS t FROM documents),
       |s AS (SELECT t FROM d WHERE len(t) >= 2),
       |bi AS (
       |  SELECT unnest(list_transform(range(1, len(t)),
       |    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS b
       |  FROM s),
       |c AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS pair_n FROM bi GROUP BY 1, 2),
       |l AS (SELECT w1, sum(pair_n) AS left_n FROM c GROUP BY w1),
       |r AS (
       |  SELECT c.w1, c.w2,
       |    CAST(c.pair_n AS BIGINT) AS pair_n,
       |    CAST(l.left_n AS BIGINT) AS left_n,
       |    CAST(c.pair_n AS DOUBLE) / CAST(l.left_n AS DOUBLE) AS cond_p,
       |    CAST(row_number() OVER (PARTITION BY c.w1
       |      ORDER BY c.pair_n DESC, c.w2) AS BIGINT) AS rnk
       |  FROM c JOIN l USING (w1))
       |SELECT w1, w2, pair_n, left_n, cond_p, rnk
       |FROM r WHERE left_n >= 100 AND rnk <= 3
       |ORDER BY w1, rnk""".stripMargin) { (s, dir) =>
    val bi = Tables.documents(s, dir)
      .select(toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("w1"),
          element_at(col("t"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_n"))
    // head totals as a window over the (vocabulary-sized) pair table:
    // a groupBy+join would re-run the whole bigram pipeline for the
    // totals branch (no exchange reuse across branches), and the
    // window rides the SAME w1 partitioning the rank below needs
    val wr = Window.partitionBy(col("w1"))
      .orderBy(col("pair_n").desc, col("w2"))
    c.withColumn("left_n", sum(col("pair_n")).over(Window.partitionBy(col("w1"))))
      .select(col("w1"), col("w2"),
        col("pair_n").cast("bigint").as("pair_n"),
        col("left_n").cast("bigint").as("left_n"),
        (col("pair_n").cast("double") / col("left_n").cast("double")).as("cond_p"),
        row_number().over(wr).cast("bigint").as("rnk"))
      .filter(col("left_n") >= 100 && col("rnk") <= 3)
      .orderBy(col("w1"), col("rnk"))
  }

  /** Temperature-scaled source mixture weights (q110): the multilingual
    * pretraining rebalance — sample source s proportional to
    * share^(1/T) with T=2, i.e. sqrt, which upweights small sources
    * (UNIMAX/mT5-style smoothing). Emitted per source: token count,
    * rel_weight = sqrt(share-of-largest), and boost = rel_weight /
    * share — the upsampling factor vs proportional sampling.
    *
    * sqrt because it is the T=2 temperature AND it is correctly
    * rounded per IEEE 754 on both engines (libm pow with fractional
    * exponents is not) — the oracle stays bit-exact. share is computed
    * against the LARGEST source, not the corpus sum: a sum of doubles
    * is order-dependent across engines, max is not.
    *
    * Scale: one partial+final agg to source granularity (narrow
    * after that — the source table is tiny), a 1-row max broadcast.
    */
  /** q110's temperature-weight chain — THE single definition of the
    * per-source token rollup, the n_tokens > 0 guard, the scalar max
    * broadcast, and the sqrt(share-of-largest) weight, consumed by
    * q110 and the q161 epoch planner (whose correctness claim is
    * "q110's weights": a second copy could silently drift). Returns
    * (source, n_tokens, max_n, weight).
    */
  private def sqrtSourceWeights(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // n_tokens > 0 guard (both engines, identically): an all-whitespace
    // source would make share 0/0 — NaN in Spark, engine-dependent in
    // DuckDB — so the oracle hash would diverge on such a corpus
    // null text contributes NULL (sum-skipped, the twin's len(NULL)
    // behavior), never size(null) = -1 silently shrinking a source's
    // token total — and with it every weight and epoch allocation
    val c = docs
      .select(col("source"),
        when(col("text").isNotNull, size(toks(col("text"))))
          .cast("bigint").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).cast("bigint").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val m = c.agg(max(col("n_tokens")).as("max_n"))
    c.crossJoin(broadcast(m))
      .withColumn("weight",
        sqrt(col("n_tokens").cast("double") / col("max_n").cast("double")))
  }

  val q110: QueryDef = QueryDef.sql(
    "q110_source_temperature",
    s"""WITH c AS (
       |  SELECT source, CAST(sum(len(t)) AS BIGINT) AS n_tokens
       |  FROM (SELECT source, $duckToks AS t FROM documents)
       |  GROUP BY source
       |  HAVING CAST(sum(len(t)) AS BIGINT) > 0),
       |m AS (SELECT max(n_tokens) AS max_n FROM c)
       |SELECT source, n_tokens,
       |  sqrt(CAST(n_tokens AS DOUBLE) / CAST(max_n AS DOUBLE)) AS rel_weight,
       |  sqrt(CAST(n_tokens AS DOUBLE) / CAST(max_n AS DOUBLE))
       |    / (CAST(n_tokens AS DOUBLE) / CAST(max_n AS DOUBLE)) AS boost
       |FROM c, m
       |ORDER BY source""".stripMargin) { (s, dir) =>
    val share = col("n_tokens").cast("double") / col("max_n").cast("double")
    sqrtSourceWeights(Tables.documents(s, dir))
      .select(col("source"), col("n_tokens"),
        col("weight").as("rel_weight"),
        (col("weight") / share).as("boost"))
      .orderBy(col("source"))
  }

  /** Classic interval union over (doc_id, start, e) span rows — a row
    * opens a new group iff it starts past the running max end of
    * everything before it; groups collapse to maximal [s, e) intervals.
    * THE single definition of span merging, shared by [[slidingSpanDedup]]
    * (q113) and [[duplicateTextFraction]] (q166) — the twins replay the
    * identical running-max window, and a second copy could drift.
    * Per-document window: doc-sized groups, never a corpus-wide sort.
    */
  private def mergeSpanIntervals(marked: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    marked
      .withColumn("mpe",
        max(col("e")).over(wd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newGrp",
        (col("mpe").isNull || col("start") > col("mpe")).cast("int"))
      .withColumn("grp",
        sum(col("newGrp")).over(wd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("start")).as("s"), max(col("e")).as("e"))
  }

  /** One row per `n`-token window of a tokenized frame `d`(doc_id, t,
    * nt): (doc_id, start, t) for every start of a document with at
    * least `n` tokens.
    */
  private def windowStarts(d: org.apache.spark.sql.DataFrame, n: Int)
      : org.apache.spark.sql.DataFrame =
    d.filter(col("nt") >= n)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("nt") - n)).as("start"),
        col("t"))

  /** The `n` tokens of the window at `start`, joined \u0001-separated
    * so token boundaries can't alias.
    */
  private def windowText(n: Int): org.apache.spark.sql.Column =
    concat_ws("\u0001", slice(col("t"), (col("start") + 1).cast("int"), lit(n)))

  /** The token n-gram occurrence frame (doc_id, start, g) of a
    * tokenized frame `d`(doc_id, t, nt), g the xxhash64 of the window
    * text — ONE definition under the span dedup, duplicate-fraction,
    * exact-substring and memorization operators. Each caller builds
    * its own `d`: their `nt` null guards differ on purpose.
    */
  private def ngramOccurrences(d: org.apache.spark.sql.DataFrame, n: Int)
      : org.apache.spark.sql.DataFrame =
    windowStarts(d, n)
      .select(col("doc_id"), col("start"), xxhash64(windowText(n)).as("g"))

  /** Sliding-window exact-substring dedup (q113) — the true Lee et al.
    * shape that q107's fixed-chunk pass approximates: EVERY n-token
    * window that occurs more than once in the corpus (across documents
    * or within one, at ANY offset) is a duplicated span; all
    * occurrences except the globally first (lowest (doc_id, start))
    * are removed, with overlapping marked windows merged into maximal
    * intervals so a long shared passage is cut once, not per-window.
    * Returns (doc_id, n_tokens, removed_tokens, clean_text).
    *
    * Scale: the gram table is O(corpus tokens) rows (same class as
    * every shingle operator here) keyed by xxhash64 of the window —
    * ONE content-keyed exchange; the keep/strike decision is a window
    * over each gram's occurrence list (duplicate-count-sized groups,
    * q107's adjudicated pattern). Interval merging is a per-document
    * running-max window (doc-sized groups), and reassembly is
    * ARRAY-LOCAL: the merged intervals ride back to the doc row as one
    * array and tokens are filtered in place — no per-token explode,
    * no re-aggregation exchange on the corpus.
    */
  def slidingSpanDedup(docs: org.apache.spark.sql.DataFrame,
                       n: Int = 8): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"window size must be >= 1, got $n")
    val d = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      // null text reports NULL n_tokens (the twin's len(NULL)), not
      // size(null) = -1 — this frame left-joins back as the output, so
      // unlike the nt >= n sites the junk row's nt IS emitted
      .withColumn("nt",
        when(col("t").isNotNull, size(col("t"))).cast("bigint"))
    // The oracle groups the RAW joined window string where we
    // equi-join its xxhash64 — identical modulo a 64-bit collision,
    // which the compare would surface, not mask (the q45 argument).
    val occ = ngramOccurrences(d, n)
    val wg = Window.partitionBy(col("g"))
    val marked = occ
      .withColumn("rn", row_number().over(wg.orderBy(col("doc_id"), col("start"))))
      .withColumn("cnt", count(lit(1)).over(wg))
      .filter(col("cnt") > 1 && col("rn") > 1)
      .select(col("doc_id"), col("start"), (col("start") + n).as("e"))
    val merged = mergeSpanIntervals(marked)
    val ivs = merged.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"),
        sum(col("e") - col("s")).as("removed"))
    d.join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("nt").as("n_tokens"),
        coalesce(col("removed"), lit(0L)).cast("bigint").as("removed_tokens"),
        concat_ws(" ",
          when(col("ivs").isNull, col("t")).otherwise(
            filter(col("t"), (_, i) =>
              !exists(col("ivs"), v =>
                i.cast("long") >= v.getField("s") && i.cast("long") < v.getField("e")))))
          .as("clean_text"))
  }

  /** q113: [[slidingSpanDedup]] over the documents table at n = 8.
    * The DuckDB twin re-derives the whole operator — sliding windows,
    * keep-first over raw window strings, interval union via the same
    * running-max window, and reassembly (by per-token anti-join rather
    * than the array-local filter; oracles need equivalence, not the
    * scale shape). Integer semantics throughout: no float risk.
    */
  val q113: QueryDef = QueryDef.sql(
    "q113_sliding_span_dedup",
    s"""WITH d AS (
       |  SELECT doc_id, $duckToks AS t FROM documents),
       |dd AS (SELECT doc_id, t, len(t) AS nt FROM d),
       |occ AS (
       |  SELECT doc_id, k AS start,
       |    array_to_string(t[k + 1 : k + 8], chr(1)) AS g
       |  FROM (SELECT doc_id, t, unnest(range(0, nt - 8 + 1)) AS k
       |        FROM dd WHERE nt >= 8)),
       |mk AS (
       |  SELECT doc_id, start, start + 8 AS e
       |  FROM (SELECT doc_id, start,
       |          row_number() OVER (PARTITION BY g ORDER BY doc_id, start) AS rn,
       |          count(*) OVER (PARTITION BY g) AS cnt
       |        FROM occ)
       |  WHERE cnt > 1 AND rn > 1),
       |mrg AS (
       |  SELECT doc_id, grp, min(start) AS s, max(e) AS e
       |  FROM (
       |    SELECT doc_id, start, e,
       |      sum(CASE WHEN mpe IS NULL OR start > mpe THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY doc_id ORDER BY start
       |              ROWS UNBOUNDED PRECEDING) AS grp
       |    FROM (
       |      SELECT doc_id, start, e,
       |        max(e) OVER (PARTITION BY doc_id ORDER BY start
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mpe
       |      FROM mk))
       |  GROUP BY doc_id, grp),
       |rem AS (
       |  SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS removed
       |  FROM mrg GROUP BY doc_id),
       |tok AS (
       |  SELECT doc_id, i, t[i] AS w
       |  FROM (SELECT doc_id, t, unnest(range(1, nt + 1)) AS i FROM dd)),
       |keep AS (
       |  SELECT tok.doc_id, tok.i, tok.w
       |  FROM tok LEFT JOIN mrg
       |    ON tok.doc_id = mrg.doc_id AND tok.i - 1 >= mrg.s AND tok.i - 1 < mrg.e
       |  WHERE mrg.s IS NULL),
       |ct AS (
       |  SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS clean_text
       |  FROM keep GROUP BY doc_id)
       |SELECT dd.doc_id,
       |  CAST(dd.nt AS BIGINT) AS n_tokens,
       |  COALESCE(rem.removed, 0) AS removed_tokens,
       |  COALESCE(ct.clean_text, '') AS clean_text
       |FROM dd LEFT JOIN rem USING (doc_id) LEFT JOIN ct USING (doc_id)
       |ORDER BY dd.doc_id""".stripMargin) { (s, dir) =>
    slidingSpanDedup(Tables.documentsFan(s, dir), n = 8).orderBy(col("doc_id"))
  }

  /** Per-document duplicate-text fraction (q166): the fraction of each
    * document's token positions covered by n-token windows that occur
    * more than once in the corpus — ALL occurrences marked, including
    * the first (unlike q113's keep-first removal: this is the MEASURE,
    * that is the CUT). The per-doc "how much of this is boilerplate /
    * shared passage" number a curation pipeline thresholds on before
    * paying for span surgery, and the doc-granular drilldown under
    * q162's per-source redundancy rollup.
    *
    * Scale: identical exchange classes to q113 — one content-keyed
    * gram exchange (count per gram, duplicate-count-sized groups), one
    * per-document interval-union window ([[mergeSpanIntervals]], the
    * shared single definition), then an array-free per-doc sum.
    */
  def duplicateTextFraction(docs: org.apache.spark.sql.DataFrame,
                            n: Int = 8): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"window size must be >= 1, got $n")
    val d = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("nt",
        when(col("t").isNotNull, size(col("t"))).cast("bigint"))
    val occ = ngramOccurrences(d, n)
    val wg = Window.partitionBy(col("g"))
    val marked = occ
      .withColumn("cnt", count(lit(1)).over(wg))
      .filter(col("cnt") > 1)
      .select(col("doc_id"), col("start"), (col("start") + n).as("e"))
    val cov = mergeSpanIntervals(marked)
      .groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s")).cast("bigint").as("dup"))
    d.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("nt").as("n_tokens"),
        coalesce(col("dup"), lit(0L)).cast("bigint").as("dup_tokens"),
        when(col("nt") > 0,
          coalesce(col("dup"), lit(0L)).cast("double") / col("nt").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** q166: [[duplicateTextFraction]] at n = 8. The twin replays the
    * whole derivation — windows, the cnt > 1 mark (NO keep-first rn
    * filter: both copies of a duplicated span count), the identical
    * running-max interval union, and the literal division — grouping
    * raw window strings where Spark equi-joins their xxhash64 (the
    * q45/q113 collision argument).
    */
  /** The q166 dup-fraction derivation as a reusable twin CTE chain,
    * ending in `dfrac(doc_id, n_tokens, dup_tokens, dup_frac)` — ONE
    * definition consumed by the q166 report and the q169 entanglement
    * audit, which RANKS the same per-doc fraction: a drifted copy of
    * the window/merge/division chain in either twin would silently
    * grade a different dedup measure than the engine ships.
    */
  private def dupFracChainSql: String =
    s"""d AS (
       |  SELECT doc_id, $duckToks AS t FROM documents),
       |dd AS (SELECT doc_id, t, len(t) AS nt FROM d),
       |occ AS (
       |  SELECT doc_id, k AS start,
       |    array_to_string(t[k + 1 : k + 8], chr(1)) AS g
       |  FROM (SELECT doc_id, t, unnest(range(0, nt - 8 + 1)) AS k
       |        FROM dd WHERE nt >= 8)),
       |mk AS (
       |  SELECT doc_id, start, start + 8 AS e
       |  FROM (SELECT doc_id, start,
       |          count(*) OVER (PARTITION BY g) AS cnt
       |        FROM occ)
       |  WHERE cnt > 1),
       |mrg AS (
       |  SELECT doc_id, grp, min(start) AS s, max(e) AS e
       |  FROM (
       |    SELECT doc_id, start, e,
       |      sum(CASE WHEN mpe IS NULL OR start > mpe THEN 1 ELSE 0 END)
       |        OVER (PARTITION BY doc_id ORDER BY start
       |              ROWS UNBOUNDED PRECEDING) AS grp
       |    FROM (
       |      SELECT doc_id, start, e,
       |        max(e) OVER (PARTITION BY doc_id ORDER BY start
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mpe
       |      FROM mk))
       |  GROUP BY doc_id, grp),
       |cov AS (
       |  SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS dup
       |  FROM mrg GROUP BY doc_id),
       |dfrac AS (
       |  SELECT dd.doc_id,
       |    CAST(dd.nt AS BIGINT) AS n_tokens,
       |    COALESCE(cov.dup, 0) AS dup_tokens,
       |    CASE WHEN dd.nt > 0
       |      THEN CAST(COALESCE(cov.dup, 0) AS DOUBLE) / CAST(dd.nt AS DOUBLE)
       |      ELSE 0.0 END AS dup_frac
       |  FROM dd LEFT JOIN cov USING (doc_id))""".stripMargin

  val q166: QueryDef = QueryDef.sql(
    "q166_dup_fraction",
    s"""WITH $dupFracChainSql
       |SELECT doc_id, n_tokens, dup_tokens, dup_frac
       |FROM dfrac
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    duplicateTextFraction(Tables.documentsFan(s, dir), n = 8).orderBy(col("doc_id"))
  }

  /** Variable-length exact-substring matches (q143) — the attribution
    * layer over q113's removal semantics, toward full Lee et al.
    * ExactSubstr: instead of only striking duplicated n-windows, report
    * the MAXIMAL variable-length matched spans with their source
    * location and exact length. Each duplicated n-token window is
    * anchored to its CANONICAL source — the globally first occurrence
    * of that window (lowest (doc_id, start), exactly q113's keep-first
    * rule) — and consecutive windows of one document anchored to the
    * same source document on the same DIAGONAL (constant start offset)
    * chain into one match: a run of k consecutive window positions is a
    * duplicated substring of exactly k + n - 1 tokens, byte-for-byte
    * shared with the source at the reported src_start. Only runs of
    * match_len >= minLen emit — the variable threshold (minLen = 12
    * over n = 8 windows in the registered query) that fixed-window
    * marking cannot express.
    *
    * Exactness contract: every reported span IS a real duplicated
    * substring of its source span (windows chain on one diagonal, so
    * the texts are identical token-wise). Spans are exact and maximal
    * for duplication AGAINST THE CANONICAL OCCURRENCE; a passage whose
    * windows have scattered first occurrences (each window first seen
    * in a different earlier doc) reports as its canonical-consistent
    * fragments rather than one long span — the anchored semantics that
    * keeps candidate generation linear where an all-pairs occurrence
    * join is quadratic in hot grams. At minLen = n the UNION of
    * reported spans covers exactly q113's struck windows (spec-gated).
    *
    * Scale: same two exchange classes as q113 — one content-keyed
    * exchange (gram hash) for the canonical-occurrence window, then a
    * (doc, src_doc, diagonal)-keyed exchange whose groups are
    * doc-bounded. No occurrence-pair join, no corpus-sized sort.
    */
  def exactSubstrSpans(docs: org.apache.spark.sql.DataFrame,
                       n: Int = 8,
                       minLen: Int = 12): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && minLen >= n, s"need 1 <= n <= minLen, got n=$n minLen=$minLen")
    val d = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("nt", size(col("t")).cast("bigint"))
    val occ = ngramOccurrences(d, n)
    // canonical source per gram: the globally-first occurrence (min
    // struct orders by (doc_id, start) lexicographically); unordered
    // frame = whole partition, so every row of the gram sees it
    val wg = Window.partitionBy(col("g"))
    val anchored = occ
      .withColumn("f", min(struct(col("doc_id"), col("start"))).over(wg))
      .filter(!(col("f.doc_id") === col("doc_id") && col("f.start") === col("start")))
      .select(col("doc_id"), col("start"),
        col("f.doc_id").as("src_doc"),
        (col("start") - col("f.start")).as("diag"))
    // consecutive starts in one (doc, src, diagonal) group share
    // (start - row_number): the classic gaps-and-islands key
    val wd = Window.partitionBy(col("doc_id"), col("src_doc"), col("diag"))
      .orderBy(col("start"))
    anchored
      .withColumn("grp", col("start") - row_number().over(wd))
      .groupBy(col("doc_id"), col("src_doc"), col("diag"), col("grp"))
      .agg(min(col("start")).as("s0"), count(lit(1)).as("k"))
      .filter(col("k") + (n - 1) >= minLen)
      .select(col("doc_id"),
        col("s0").cast("bigint").as("start"),
        (col("s0") + col("k") + (n - 1)).cast("bigint").as("end_tok"),
        col("src_doc"),
        (col("s0") - col("diag")).cast("bigint").as("src_start"),
        (col("k") + (n - 1)).cast("bigint").as("match_len"))
  }

  /** q143: [[exactSubstrSpans]] over the documents table (n = 8,
    * minLen = 12). The DuckDB twin replays the whole operator over RAW
    * window strings where Spark equi-groups their xxhash64 — identical
    * modulo a 64-bit collision, which the compare would surface, not
    * mask (the q45/q113 argument). Pure integer arithmetic throughout.
    */
  val q143: QueryDef = QueryDef.sql(
    "q143_exact_substr_spans",
    s"""WITH d AS (
       |  SELECT doc_id, $duckToks AS t FROM documents),
       |dd AS (SELECT doc_id, t, len(t) AS nt FROM d),
       |occ AS (
       |  SELECT doc_id, k AS start,
       |    array_to_string(t[k + 1 : k + 8], chr(1)) AS g
       |  FROM (SELECT doc_id, t, unnest(range(0, nt - 8 + 1)) AS k
       |        FROM dd WHERE nt >= 8)),
       |a AS (
       |  SELECT doc_id, start,
       |    first_value(doc_id) OVER w AS f_doc,
       |    first_value(start) OVER w AS f_start
       |  FROM occ
       |  WINDOW w AS (PARTITION BY g ORDER BY doc_id, start
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
       |m AS (
       |  SELECT doc_id, start, f_doc AS src_doc, start - f_start AS diag
       |  FROM a WHERE NOT (doc_id = f_doc AND start = f_start)),
       |r AS (
       |  SELECT doc_id, src_doc, diag,
       |    start - row_number() OVER (PARTITION BY doc_id, src_doc, diag
       |                               ORDER BY start) AS grp,
       |    start
       |  FROM m),
       |runs AS (
       |  SELECT doc_id, src_doc, diag, grp,
       |    min(start) AS s0, CAST(count(*) AS BIGINT) AS k
       |  FROM r GROUP BY doc_id, src_doc, diag, grp)
       |SELECT doc_id,
       |  CAST(s0 AS BIGINT) AS start,
       |  CAST(s0 + k + 7 AS BIGINT) AS end_tok,
       |  src_doc,
       |  CAST(s0 - diag AS BIGINT) AS src_start,
       |  CAST(k + 7 AS BIGINT) AS match_len
       |FROM runs WHERE k + 7 >= 12
       |ORDER BY doc_id, start, src_doc, src_start""".stripMargin) { (s, dir) =>
    exactSubstrSpans(Tables.documentsFan(s, dir), n = 8, minLen = 12)
      .orderBy(col("doc_id"), col("start"), col("src_doc"), col("src_start"))
  }

  /** Memorization-risk audit (q159) — the privacy complement of
    * q143/q144: those find text REPEATED ACROSS the corpus; this finds
    * n-token windows repeated `minReps`+ times WITHIN one document but
    * occurring in NO other document. Such spans are the memorization
    * hazard a dedup pass never touches: cross-doc dedup leaves them
    * alone (they are globally unique), yet their in-doc repetition
    * amplifies gradient weight on content only one document ever
    * contained — the classic extractable-memorization shape (unique
    * string, repeated context). A curation pipeline strikes or
    * downweights them before packing.
    *
    * Emits one row per (document, window content): the first in-doc
    * offset, the repeat count, and the raw span text.
    *
    * Scale: ONE content-keyed exchange — occurrences pre-partition on
    * the window hash, so both the per-(window, doc) count and the
    * per-window doc count are partition-local aggregates on that one
    * exchange (HashPartitioning(g) satisfies the (g, doc_id)
    * clustering). Survivors are audit-sized; the span text rejoins
    * array-locally on doc_id (the q150 raw-rejoins-on-survivors
    * discipline), so window strings never ride the corpus exchange.
    * The DuckDB twin replays the whole operator over RAW window
    * strings where Spark groups their xxhash64 — identical modulo a
    * 64-bit collision, which the compare would surface, not mask (the
    * q45/q113 argument).
    */
  def memorizationRisk(docs: org.apache.spark.sql.DataFrame,
                       n: Int = 8,
                       minReps: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && minReps >= 2,
      s"need n >= 1 and minReps >= 2, got n=$n minReps=$minReps")
    val d = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("nt", size(col("t")).cast("bigint"))
    val occ = ngramOccurrences(d, n)
      // the one exchange: both aggregates below cluster on prefixes of
      // (g, doc_id), so they run partition-local on this partitioning
      .repartition(col("g"))
    val perDoc = occ.groupBy(col("g"), col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("c"), min(col("start")).as("s0"))
    // nd == 1 => the group's single row IS the candidate, so min()
    // over the group reads that row's fields without a self-join
    val risky = perDoc.groupBy(col("g"))
      .agg(count(lit(1)).as("nd"),
        min(col("doc_id")).as("doc_id"),
        min(col("s0")).cast("bigint").as("start"),
        min(col("c")).as("n_reps"))
      .filter(col("nd") === 1L && col("n_reps") >= minReps.toLong)
      .select(col("doc_id"), col("start"), col("n_reps"))
    d.join(broadcast(risky), Seq("doc_id"))
      .select(col("doc_id"), col("start"), col("n_reps"),
        concat_ws(" ",
          slice(col("t"), (col("start") + 1).cast("int"), lit(n))).as("span_text"))
  }

  /** q159: [[memorizationRisk]] over the documents table (n = 4
    * windows, >= 2 in-doc repeats, no other document). n is a plan
    * parameter — a privacy pass on real data runs 50+-token windows;
    * the synthetic fixture only has in-doc-unique repeats this short.
    */
  val q159: QueryDef = QueryDef.sql(
    "q159_memorization_risk",
    s"""WITH d AS (
       |  SELECT doc_id, $duckToks AS t FROM documents),
       |dd AS (SELECT doc_id, t, len(t) AS nt FROM d),
       |occ AS (
       |  SELECT doc_id, k AS start,
       |    array_to_string(t[k + 1 : k + 4], chr(1)) AS g
       |  FROM (SELECT doc_id, t, unnest(range(0, nt - 4 + 1)) AS k
       |        FROM dd WHERE nt >= 4)),
       |pd AS (
       |  SELECT g, doc_id, CAST(count(*) AS BIGINT) AS c, min(start) AS s0
       |  FROM occ GROUP BY g, doc_id),
       |sv AS (
       |  SELECT g, count(*) AS nd, min(doc_id) AS doc_id,
       |    CAST(min(s0) AS BIGINT) AS start, min(c) AS n_reps
       |  FROM pd GROUP BY g)
       |SELECT sv.doc_id, sv.start, sv.n_reps,
       |  array_to_string(dd.t[sv.start + 1 : sv.start + 4], ' ') AS span_text
       |FROM sv JOIN dd ON dd.doc_id = sv.doc_id
       |WHERE sv.nd = 1 AND sv.n_reps >= 2
       |ORDER BY sv.doc_id, sv.start""".stripMargin) { (s, dir) =>
    memorizationRisk(Tables.documents(s, dir), n = 4, minReps = 2)
      .orderBy(col("doc_id"), col("start"))
  }

  /** Epoch-allocation planner (q161): turn a token budget, the
    * per-source token counts, and the q110 temperature weights into
    * per-source epoch counts with an over-repetition flag — the
    * planning readout q157 provides for sequence length, here for
    * mixing. alloc_s = budget · w_s / Σw; epochs_s = alloc_s /
    * n_tokens_s; sources scheduled past `maxEpochs` passes flag as
    * over-repeated (the Muennighoff et al. 2023 "repeating beyond ~4
    * epochs stops helping" rule of thumb) — the signal to either cap
    * the source (and re-spread its budget) or shrink its weight.
    *
    * Float discipline: weights are q110's sqrt (correctly rounded per
    * IEEE 754); the ONLY multi-term sum, Σw, folds over the ordered
    * source list (the q151 discipline — source count is tiny);
    * everything else is literal-identical mul/div on exact inputs, so
    * the doubles hash-match.
    *
    * Scale: one partial+final aggregate to source granularity; all
    * planning arithmetic is on the source-count-sized frame.
    */
  def epochAllocation(docs: org.apache.spark.sql.DataFrame,
                      budgetTokens: Long,
                      maxEpochs: Double = 4.0): org.apache.spark.sql.DataFrame = {
    val w = sqrtSourceWeights(docs)
      .select(col("source"), col("n_tokens"), col("weight"))
    val tw = w
      .agg(sort_array(collect_list(struct(col("source"), col("weight")))).as("ws"))
      .select(aggregate(col("ws"), lit(0.0),
        (a, x) => a + x.getField("weight")).as("wsum"))
    w.crossJoin(broadcast(tw))
      .select(col("source"), col("n_tokens"), col("weight"),
        (lit(budgetTokens.toDouble) * col("weight") / col("wsum")).as("alloc_tokens"),
        (lit(budgetTokens.toDouble) * col("weight") / col("wsum")
          / col("n_tokens").cast("double")).as("epochs"))
      .select(col("source"), col("n_tokens"), col("weight"),
        col("alloc_tokens"), col("epochs"),
        ceil(col("epochs")).cast("bigint").as("epochs_ceil"),
        when(col("epochs") > maxEpochs, 1L).otherwise(0L).as("over_repeated"))
      .orderBy(col("source"))
  }

  /** q161: [[epochAllocation]] at a 100k-token budget over the
    * documents table. The budget is a plan parameter (a real run
    * passes its own); 100k against the sf0.01 fixture's ~28k tokens
    * exercises both flag values — the smallest sources are upweighted
    * past 4 epochs while the rest stay under.
    */
  val q161: QueryDef = QueryDef.sql(
    "q161_epoch_allocation",
    s"""WITH c AS (
       |  SELECT source, CAST(sum(len(t)) AS BIGINT) AS n_tokens
       |  FROM (SELECT source, $duckToks AS t FROM documents)
       |  GROUP BY source
       |  HAVING CAST(sum(len(t)) AS BIGINT) > 0),
       |m AS (SELECT max(n_tokens) AS max_n FROM c),
       |w AS (
       |  SELECT source, n_tokens,
       |    sqrt(CAST(n_tokens AS DOUBLE) / CAST(max_n AS DOUBLE)) AS weight
       |  FROM c, m),
       |tw AS (SELECT list_sum(list(weight ORDER BY source)) AS wsum FROM w),
       |a AS (
       |  SELECT source, n_tokens, weight,
       |    100000.0 * weight / wsum AS alloc_tokens,
       |    100000.0 * weight / wsum / CAST(n_tokens AS DOUBLE) AS epochs
       |  FROM w, tw)
       |SELECT source, n_tokens, weight, alloc_tokens, epochs,
       |  CAST(ceil(epochs) AS BIGINT) AS epochs_ceil,
       |  CAST(CASE WHEN epochs > 4.0 THEN 1 ELSE 0 END AS BIGINT) AS over_repeated
       |FROM a
       |ORDER BY source""".stripMargin) { (s, dir) =>
    epochAllocation(Tables.documents(s, dir), budgetTokens = 100000L)
  }

  /** Deterministic training-order manifest (q183): the data-loader
    * CONTRACT — the exact (doc, epoch) multiset a training run feeds
    * and its exact global order, as a pure function of (corpus,
    * budget). q161 plans per-source epochs; this materializes the
    * plan: every tokenized doc of a scheduled source appears once per
    * FULL epoch, the fractional final epoch keeps a doc iff its
    * deterministic uniform key falls under the fraction (the q125
    * replayable-sampler discipline — so "0.4 extra epochs" is a fixed
    * reproducible 40% of docs, not an RNG draw), and the global
    * interleave order is a second multiplicative-hash key over the
    * keep key (a DIFFERENT multiplier: keep and order keys from the
    * same hash would sort all fractional-epoch survivors — small keep
    * keys by construction — to the front of the run). Reproducibility
    * is the point: a crashed run resumes from position p, an ablation
    * re-runs the identical byte order, and two engines derive the
    * same manifest — which is exactly what the oracle checks.
    *
    * Emits the first `k` manifest rows (the head a loader actually
    * reads first; positions are 1-based over the TOTAL order, and the
    * full manifest is the same query without the cut). Epochs pack
    * into a 16-bit field beside doc_id mod 2^26 — exact int64
    * arithmetic both engines, no overflow at any corpus size; epoch
    * counts past 65535 would alias (far beyond any real schedule).
    *
    * Scale: the q161 planner output broadcasts (source-sized); the
    * explode multiplies only narrow (doc_id, epoch) metadata rows;
    * the head is TakeOrderedAndProject (per-partition heaps, k rows
    * to the driver — no global sort exchange); the position window
    * runs over the k-row result only. The FULL manifest at scale is
    * the same plan with the cut replaced by a hash-bucketed write.
    */
  def trainingManifest(docs: org.apache.spark.sql.DataFrame,
                       budgetTokens: Long, k: Int): org.apache.spark.sql.DataFrame = {
    // the planner's over_repeated flag is deliberately NOT a cap here:
    // it is the q161 signal to re-plan (shrink the weight or the
    // budget), and the manifest materializes whatever plan it is given
    // — a silent cap would make the fed data diverge from the plan the
    // team reviewed
    val alloc = epochAllocation(docs, budgetTokens)
      .select(col("source").as("a_src"), col("epochs"), col("epochs_ceil"))
    val d = docs
      .select(col("doc_id"), col("source"),
        when(col("text").isNotNull, size(toks(col("text"))))
          .cast("bigint").as("nt"))
      // a loader skips empty records; a NULL-id junk row could not be
      // addressed by a resume position anyway — and its NULL hash keys
      // would sort nulls-FIRST in Spark but nulls-LAST in the twin,
      // breaking the cross-engine order contract this query exists for
      .filter(col("nt") > 0 && col("doc_id").isNotNull)
    val ex = d
      .join(broadcast(alloc), col("source") === col("a_src"))
      .select(col("doc_id"), col("source"), col("epochs"),
        explode(sequence(lit(1L), col("epochs_ceil"))).as("epoch"))
      .withColumn("ukey",
        Sampling.hkey(pmod(col("doc_id"), lit(67108864L)) * lit(65536L)
          + col("epoch")))
    val kept = ex.filter(
      col("epoch").cast("double") <= floor(col("epochs")) ||
        (col("ukey").cast("double") + lit(0.5)) / lit(4294967296.0)
          < (col("epochs") - floor(col("epochs"))))
      .withColumn("okey", Sampling.hkey(col("ukey")))
      .select(col("okey"), col("epoch"), col("doc_id"), col("source"))
      .orderBy(col("okey"), col("doc_id"), col("epoch"))
      .limit(k)
    kept
      .withColumn("pos", row_number().over(Window.orderBy(
        col("okey"), col("doc_id"), col("epoch"))))
      .select(col("pos").cast("bigint").as("pos"), col("epoch"),
        col("doc_id"), col("source"), col("okey"))
      .orderBy(col("pos"))
  }

  /** q183: [[trainingManifest]] at q161's 100k-token budget, first 200
    * positions. The oracle re-derives the entire chain from raw
    * parquet: the q161 plan, the epoch explode, the fractional-epoch
    * keep, both hash keys, and the global order.
    */
  val q183: QueryDef = QueryDef.sql(
    "q183_training_manifest",
    s"""WITH c AS (
       |  SELECT source, CAST(sum(len(t)) AS BIGINT) AS n_tokens
       |  FROM (SELECT source, $duckToks AS t FROM documents)
       |  GROUP BY source
       |  HAVING CAST(sum(len(t)) AS BIGINT) > 0),
       |m AS (SELECT max(n_tokens) AS max_n FROM c),
       |w AS (
       |  SELECT source, n_tokens,
       |    sqrt(CAST(n_tokens AS DOUBLE) / CAST(max_n AS DOUBLE)) AS weight
       |  FROM c, m),
       |tw AS (SELECT list_sum(list(weight ORDER BY source)) AS wsum FROM w),
       |a AS (
       |  SELECT source,
       |    100000.0 * weight / wsum / CAST(n_tokens AS DOUBLE) AS epochs,
       |    CAST(ceil(100000.0 * weight / wsum / CAST(n_tokens AS DOUBLE))
       |      AS BIGINT) AS epochs_ceil
       |  FROM w, tw),
       |d AS (
       |  SELECT doc_id, source, CAST(len($duckToks) AS BIGINT) AS nt
       |  FROM documents),
       |ex AS MATERIALIZED (
       |  -- MATERIALIZED: DuckDB 1.x hits an internal binder error
       |  -- ("Failed to bind column reference") when the unnest-derived
       |  -- epoch column flows un-materialized into kept's WHERE +
       |  -- nested-hash projection; the barrier sidesteps the optimizer
       |  -- bug without changing semantics
       |  SELECT d.doc_id, d.source, a.epochs,
       |    unnest(range(1, a.epochs_ceil + 1)) AS epoch
       |  FROM d JOIN a USING (source)
       |  WHERE d.nt > 0 AND d.doc_id IS NOT NULL),
       |uk AS (
       |  SELECT doc_id, source, epochs, epoch,
       |    ${Sampling.duckHkey("(doc_id % 67108864) * 65536 + epoch")} AS ukey
       |  FROM ex),
       |kept AS (
       |  SELECT doc_id, source, epoch,
       |    ${Sampling.duckHkey("ukey")} AS okey
       |  FROM uk
       |  WHERE CAST(epoch AS DOUBLE) <= floor(epochs)
       |     OR (CAST(ukey AS DOUBLE) + 0.5) / 4294967296.0
       |        < epochs - floor(epochs))
       |SELECT CAST(row_number() OVER (ORDER BY okey, doc_id, epoch) AS BIGINT)
       |    AS pos,
       |  CAST(epoch AS BIGINT) AS epoch, doc_id, source,
       |  CAST(okey AS BIGINT) AS okey
       |FROM kept
       |ORDER BY pos
       |LIMIT 200""".stripMargin) { (s, dir) =>
    trainingManifest(Tables.documents(s, dir), budgetTokens = 100000L, k = 200)
  }

  /** Corpus-wide LONGEST repeated substring (q144): the maximal L such
    * that some L-token window occurs at least twice anywhere in the
    * corpus (across documents or overlapping within one), plus the
    * lexicographically-smallest such window and its first two
    * occurrence locations — the suffix-array question ("what is the
    * single largest verbatim repeat in this corpus?") answered
    * Spark-idiomatically.
    *
    * Algorithm: "a duplicated L-window exists" is MONOTONE in L (every
    * prefix of a duplicated window is duplicated), so the driver
    * binary-searches L with one hash-probe job per step —
    * O(log maxDocLen) jobs, the BPE-style bounded driver-control
    * pattern. Each probe exchanges xxhash64(window) with map-side
    * partial counts (8-byte rows, per-task-distinct capped). Hash
    * collisions can only OVERSTATE a probe (false "dup exists"), so
    * the candidate is verified with RAW window strings and walked down
    * until a true duplicate confirms — the result is collision-exact.
    * The winner's occurrence list is duplicate-window-sized (tiny);
    * its window/pivot are negligible.
    *
    * Scale: log2(maxDocLen) corpus scans + hash exchanges; window
    * hashing is O(token bytes + tokens) per probe via the codegen
    * rolling-hash kernel ([[graft.functions.RollingWindowHashExpr]] —
    * each token hashed once, windows roll in O(1); the previous
    * slice+concat formulation was O(tokens·L) per probe). The
    * exact-verify pass at the found L is one string-keyed exchange.
    */
  def longestRepeatedSubstring(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // localCheckpoint (lazy): the binary search below re-reads this
    // frame once per probe — O(log maxDocLen) ~ 10+ times. Without it
    // every probe re-scanned and re-tokenized the whole corpus (the
    // exact loop-invariant-caching shape pageRank's edge persist
    // documents); with it the corpus is scanned and tokenized ONCE and
    // every probe reads the materialized token arrays (r15, guide §1.2
    // "don't compute things you throw away" / §5 persist-when-reused).
    // The fanout ahead of it spreads that one tokenize pass (and every
    // probe's rolling-hash work) across the machine on the
    // single-row-group fixture layout.
    val d = Tables.fanout(docs, col("doc_id"))
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("nt", size(col("t")).cast("bigint"))
      .filter(col("nt") >= 1)
      .localCheckpoint(false)
    // hash probe: the codegen rolling-hash kernel emits ALL window
    // hashes of a doc in O(token bytes + n) — the per-window
    // slice+concat+xxhash64 formulation re-reads len tokens per
    // window, O(n·len), which dominates probes at the large mid
    // values the binary search visits first. Exactness is unaffected:
    // equal windows always share a hash (probe can only OVERSTATE),
    // and the walk-down verifies on raw strings.
    def hasDup(len: Int, exact: Boolean): Boolean = {
      val probe =
        if (exact) windowStarts(d, len).select(windowText(len).as("g"))
        else d.filter(col("nt") >= len).select(
          explode(graft.functions.functions.rolling_window_hashes(col("t"), len))
            .as("g"))
      probe
        .groupBy(col("g")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).limit(1).count() > 0
    }
    // Batched hash probe: SEVERAL candidate lengths in ONE corpus pass
    // (r15, guide §1.2 "remove unnecessary passes"): per doc, each
    // length's rolling-hash array rides one exploded (L, hashes)
    // struct, and one (L, hash)-keyed count answers "dup at L?" for
    // every L at once. The kernel emits an empty array when nt < L, so
    // no per-length filter is needed. Returns the subset of `lens`
    // with a (hash-level) duplicate — same OVERSTATE-only contract as
    // hasDup(_, exact = false), so the walk-down verification below is
    // unchanged. Turns the O(log n) one-length-per-job binary search
    // into a 4-ary search with ~half the corpus passes; at 100 TB each
    // pass is a full corpus scan, which is the whole cost of this
    // operator.
    def dupsAt(lens: Seq[Int]): Set[Int] = {
      if (lens.isEmpty) return Set.empty
      val probes = array(lens.map(l =>
        struct(lit(l).as("L"),
          graft.functions.functions.rolling_window_hashes(col("t"), l)
            .as("hs"))): _*)
      d.select(explode(probes).as("p"))
        .select(col("p.L").as("L"), explode(col("p.hs")).as("g"))
        .groupBy(col("L"), col("g")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .select(col("L")).distinct()
        .as[Int].collect().toSet
    }
    val empty = Seq.empty[(Long, String, Long, Long, Long, Long, Long)]
      .toDF("match_len", "span_text", "d1", "s1", "d2", "s2", "n_occ")
    val maxLen = d.agg(max(col("nt"))).as[Option[Long]].head().getOrElse(0L)
    if (maxLen < 1 || !hasDup(1, exact = true)) return empty
    // invariant: a (hash-level) dup exists at lo and none can exist
    // above hi — true dup at L implies hash dup at L, so a FAILED hash
    // probe excludes true dups at that length. 4-ary search: probe the
    // three interior quartile points of (lo, hi] per pass (one batched
    // job, dupsAt), keep the largest succeeding cut as the new lo and
    // cap hi below the smallest failing cut. Each pass shrinks the
    // span to <= 1/4 + 1, so passes ~ log4(maxDocLen) — half the
    // corpus scans of the one-midpoint binary search this replaces
    // (result unchanged: same invariant, same exact walk-down below).
    var lo = 1
    var hi = maxLen.toInt
    while (lo < hi) {
      val span = hi - lo
      val cuts = (1 to 3).map(i => lo + (span * i + 3) / 4)
        .distinct.filter(c => c > lo && c <= hi).sorted
      val ok = dupsAt(cuts)
      lo = (cuts.filter(ok.contains) :+ lo).max
      hi = (cuts.filterNot(ok.contains).map(_ - 1) :+ hi).min
    }
    // hash collisions only overstate: walk down to the true maximum
    while (lo > 1 && !hasDup(lo, exact = true)) lo -= 1
    val L = lo
    val sub = windowStarts(d, L)
      .select(col("doc_id"), col("start"), windowText(L).as("s"))
    val winner = broadcast(
      sub.groupBy(col("s")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .agg(min(col("s")).as("ws")))
    val wAll = Window.orderBy(col("doc_id"), col("start"))
    sub.join(winner, col("s") === col("ws"))
      .select(col("doc_id"), col("start"), col("ws"))
      .withColumn("rn", row_number().over(wAll))
      .groupBy(col("ws"))
      .agg(
        max(when(col("rn") === 1, col("doc_id"))).cast("bigint").as("d1"),
        max(when(col("rn") === 1, col("start"))).cast("bigint").as("s1"),
        max(when(col("rn") === 2, col("doc_id"))).cast("bigint").as("d2"),
        max(when(col("rn") === 2, col("start"))).cast("bigint").as("s2"),
        count(lit(1)).cast("bigint").as("n_occ"))
      .select(lit(L.toLong).as("match_len"),
        translate(col("ws"), "\u0001", " ").as("span_text"),
        col("d1"), col("s1"), col("d2"), col("s2"), col("n_occ"))
  }

  /** q144: [[longestRepeatedSubstring]] over the documents table. The
    * DuckDB twin brute-forces the SAME answer from first principles —
    * every substring of every length, grouped, max duplicated length,
    * lexicographic-min winner, first-two occurrences — feasible at
    * oracle scale (sum nt^2/2 ~ 9e5 rows at sf0.01) precisely because
    * it does NOT use the binary search, making the oracle an
    * independent derivation rather than a replay.
    */
  val q144: QueryDef = QueryDef.sql(
    "q144_longest_repeated_substring",
    s"""WITH d AS (
       |  SELECT doc_id, $duckToks AS t FROM documents),
       |dd AS (SELECT doc_id, t, len(t) AS nt FROM d WHERE len(t) >= 1),
       |li AS (SELECT doc_id, t, nt, unnest(range(1, nt + 1)) AS L FROM dd),
       |pos AS (
       |  SELECT doc_id, t, L, unnest(range(0, nt - L + 1)) AS start
       |  FROM li),
       |sub AS (
       |  SELECT doc_id, L, start,
       |    array_to_string(t[start + 1 : start + L], chr(1)) AS s
       |  FROM pos),
       |dup AS (
       |  SELECT L, s FROM sub GROUP BY L, s HAVING count(*) >= 2),
       |ml AS (SELECT max(L) AS ml FROM dup),
       |ws AS (SELECT min(s) AS ws FROM dup JOIN ml ON dup.L = ml.ml),
       |occ AS (
       |  SELECT sub.doc_id, sub.start, ml.ml, ws.ws,
       |    row_number() OVER (ORDER BY sub.doc_id, sub.start) AS rn
       |  FROM sub JOIN ml ON sub.L = ml.ml JOIN ws ON sub.s = ws.ws)
       |SELECT CAST(ml AS BIGINT) AS match_len,
       |  replace(ws, chr(1), ' ') AS span_text,
       |  CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS d1,
       |  CAST(max(CASE WHEN rn = 1 THEN start END) AS BIGINT) AS s1,
       |  CAST(max(CASE WHEN rn = 2 THEN doc_id END) AS BIGINT) AS d2,
       |  CAST(max(CASE WHEN rn = 2 THEN start END) AS BIGINT) AS s2,
       |  CAST(count(*) AS BIGINT) AS n_occ
       |FROM occ GROUP BY ml, ws
       |ORDER BY match_len""".stripMargin) { (s, dir) =>
    longestRepeatedSubstring(Tables.documents(s, dir)).orderBy(col("match_len"))
  }

  /** Deterministic weighted sampling without replacement (q125):
    * Efraimidis–Spirakis A-ES ("Weighted random sampling with a
    * reservoir", IPL 2006) with the engine's deterministic hash as the
    * randomness source — each doc gets key u^(1/w) (equivalently
    * ln(u)/w, monotone) with u = (hkey+0.5)/2^32 in (0,1) and
    * w = token count, and the top-k keys ARE a weighted sample without
    * replacement: long documents proportionally more likely, yet the
    * selection is replayable byte-for-byte (audits, cross-run diffing,
    * incremental extension all need replayability — engine RNG gives
    * none). Zero-token docs carry zero weight and are excluded.
    *
    * Float discipline: ln is the one libm call, rounded to 9 decimals
    * on both engines (the q116 precedent — engines' ln may differ in
    * the last bit; the round collapses them), then ONE IEEE division
    * by the exact integer weight; ties on the rounded key break by
    * doc_id.
    *
    * Scale: the key is a narrow scan-speed map; top-k is
    * TakeOrderedAndProject — per-partition heaps, k rows to the
    * driver, NO global sort exchange (plan-gated in PlanAuditSpec's
    * cartesian/BNLJ walk and the SortAudit pattern: this query pays
    * zero range exchanges).
    */
  def weightedSample(docs: org.apache.spark.sql.DataFrame,
                     k: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("bigint").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("skey",
        round(log((Sampling.hkey(col("doc_id")).cast("double") + lit(0.5))
          / lit(4294967296.0)), 9) / col("n_tokens").cast("double"))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(k)

  val q125: QueryDef = QueryDef.sql(
    "q125_weighted_sample",
    s"""WITH t AS (
       |  SELECT doc_id, source, CAST(len($duckToks) AS BIGINT) AS n_tokens
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, source, n_tokens,
       |    round(ln((CAST(${Sampling.duckHkey("doc_id")} AS DOUBLE) + 0.5)
       |      / 4294967296.0), 9) / CAST(n_tokens AS DOUBLE) AS skey
       |  FROM t WHERE n_tokens > 0)
       |SELECT doc_id, source, n_tokens, skey
       |FROM k
       |ORDER BY skey DESC, doc_id
       |LIMIT 200""".stripMargin) { (s, dir) =>
    weightedSample(Tables.documents(s, dir), k = 200)
  }

  /** Per-domain curation rollup (q179): the "which domains to block"
    * readout — every curation signal this engine computes per
    * document, rolled up to the HOST of the document's URL: doc and
    * token counts, duplicated-text volume (the q166 chain), Gopher
    * failure share (q126's rules), and low-quality count (q109 score
    * decile ≤ 4). A crawl pipeline acts on domains, not documents —
    * one template-farm host shows up here as high dup_frac + high
    * gopher_fail_share and gets blocked at the frontier, which no
    * per-doc gate expresses. The fixture's documents carry no URL, so
    * one is synthesized deterministically from (source, doc_id) — the
    * q65 discipline — and split with the built-in `parse_url`
    * (codegen string op, no UDF); a real corpus's url column drops in
    * at the same spot.
    *
    * Composition of single definitions: the dup volume is q166's
    * [[duplicateTextFraction]] (Spark) / `dupFracChainSql` (twin);
    * the rules are [[TextAnalytics.gopherRuleFlags]]; the decile is
    * the q163/q158 classifierZ/rationalSigmoid pair. All counts are
    * integers; the two shares are literal divisions of exact BIGINTs.
    * Null text counts as a Gopher FAIL here (CASE falls to ELSE on
    * both engines — a junk doc is certainly not a pass), as neither
    * low-quality (no score exists) nor token volume (NULL skips sums).
    *
    * Scale: the dup chain is q166's (one content-keyed gram exchange
    * + the per-doc interval window); everything else is narrow per-doc
    * arithmetic joined doc-to-doc, and the rollup partial-aggregates
    * to host granularity — hosts are frontier-bounded (pipeline
    * constant scale), so the final exchange is metadata-sized.
    */
  def hostCurationRollup(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import TextAnalytics.{digitRatio, gopherCounters, gopherPass, punctRatio}
    val url = concat(lit("https://www."), col("source"), pmod(col("doc_id"), lit(3)),
      lit(".example.com/docs/d"), col("doc_id"), lit(".html"))
    val base = docs
      .select(col("doc_id"), col("source"), col("text"), toks(col("text")).as("t"))
      .select(Seq(col("doc_id"), parse_url(url, lit("HOST")).as("host")) ++
        gopherCounters(col("t")) :+
        punctRatio(col("text")).as("punct_ratio") :+
        digitRatio(col("text")).as("digit_ratio"): _*)
    val flagged = base.select(col("doc_id"), col("host"),
      when(gopherPass(col("nt"), col("sl"), col("na"), col("ns")), 0L)
        .otherwise(1L).as("gfail"),
      when(col("nt") > 0 &&
        floor(TextAnalytics.rationalSigmoid(
          TextAnalytics.classifierZ(col("ns") / col("nt"), col("nt"),
            col("punct_ratio"), col("digit_ratio"))) * 10.0).cast("bigint") <= 4L,
        1L).otherwise(0L).as("lowq"))
    val dup = duplicateTextFraction(docs, n = 8)
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"))
    flagged.join(dup, Seq("doc_id"))
      .groupBy(col("host"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).cast("bigint").as("n_tokens"),
        coalesce(sum(col("dup_tokens")), lit(0L)).cast("bigint").as("dup_tokens"),
        sum(col("gfail")).cast("bigint").as("n_gopher_fail"),
        sum(col("lowq")).cast("bigint").as("n_low_quality"))
      .select(col("host"), col("n_docs"), col("n_tokens"), col("dup_tokens"),
        when(col("n_tokens") > 0,
          col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"),
        col("n_gopher_fail"),
        (col("n_gopher_fail").cast("double") / col("n_docs").cast("double"))
          .as("gopher_fail_share"),
        col("n_low_quality"))
  }

  val q179: QueryDef = QueryDef.sql(
    "q179_host_curation_rollup",
    s"""WITH $dupFracChainSql,
       |h AS (
       |  SELECT doc_id,
       |    regexp_extract('https://www.' || source || ((doc_id % 3) + 3) % 3
       |        || '.example.com/docs/d' || doc_id || '.html',
       |      '^https://([^/]+)/', 1) AS host,
       |    ${TwinSql.gopherCounters("t")},
       |    ${TwinSql.punctRatio("text")} AS punct_ratio,
       |    ${TwinSql.digitRatio("text")} AS digit_ratio
       |  FROM (SELECT doc_id, source, text, $duckToks AS t FROM documents)),
       |m AS (
       |  SELECT h.host,
       |    CASE WHEN ${TwinSql.gopherPass("h.nt", "h.sl", "h.na", "h.ns")}
       |      THEN 0 ELSE 1 END AS gfail,
       |    CASE WHEN h.nt > 0 AND
       |        CAST(floor((${TwinSql.rationalSigmoid(
                  TwinSql.classifierZ("((h.ns) / (h.nt))", "h.nt",
                    "h.punct_ratio", "h.digit_ratio"))}) * 10.0) AS BIGINT) <= 4
       |      THEN 1 ELSE 0 END AS lowq,
       |    dfrac.n_tokens, dfrac.dup_tokens
       |  FROM h JOIN dfrac ON dfrac.doc_id = h.doc_id),
       |g AS (
       |  SELECT host,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(sum(dup_tokens), 0) AS BIGINT) AS dup_tokens,
       |    CAST(sum(gfail) AS BIGINT) AS n_gopher_fail,
       |    CAST(sum(lowq) AS BIGINT) AS n_low_quality
       |  FROM m GROUP BY host)
       |SELECT host, n_docs, n_tokens, dup_tokens,
       |  CASE WHEN n_tokens > 0
       |    THEN CAST(dup_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    ELSE 0.0 END AS dup_frac,
       |  n_gopher_fail,
       |  CAST(n_gopher_fail AS DOUBLE) / CAST(n_docs AS DOUBLE) AS gopher_fail_share,
       |  n_low_quality
       |FROM g
       |ORDER BY host""".stripMargin) { (s, dir) =>
    hostCurationRollup(Tables.documentsFan(s, dir)).orderBy(asc_nulls_last("host"))
  }

  /** Curation funnel / attrition audit (q182): the per-source "where
    * do my documents die" readout — every gate this engine ships,
    * applied in PIPELINE ORDER, with survivor counts after each stage:
    * raw → contract-clean (q152: row-local flags + the global dup-id
    * window) → exact dedup (q25's key, min-doc_id keep policy, over
    * contract survivors) → near-dup dedup (the q85/q162 Jaccard-0.7
    * component machinery over exact survivors, min-id representative
    * kept) → Gopher rules (q126) → quality classifier ≥ 0.5 (q109).
    * The per-gate reports (q152/q25/q162/q126/q109) each grade one
    * gate against the RAW corpus; a pipeline applies them in sequence,
    * and the attrition a stage shows then depends on everything
    * upstream of it — a source can look Gopher-clean overall yet lose
    * every surviving doc at the classifier. This is the report a
    * curation team actually reads before shipping a recipe, and the
    * only place the gate ORDER is data, not code.
    *
    * Pure composition of single definitions on BOTH engines:
    * [[vNull]]/[[vLen]]/[[vLang]] + the q152 dup window,
    * [[graft.ops.Dedup.jaccardPairs]] + connectedComponents (the one
    * cluster definition), the quality features and
    * [[TextAnalytics.gopherPass]], and the
    * [[TextAnalytics.classifierZ]]/[[TextAnalytics.rationalSigmoid]]
    * pair (TwinSql's same-named fragments on the twin). Counts are exact
    * integers; survival_frac is one literal division.
    *
    * Stage conventions: a stage-k flag REQUIRES the stage-(k-1) flag,
    * so the counts are monotone non-increasing by construction. The
    * exact-dup keep is `min(doc_id)` among CONTRACT SURVIVORS per key
    * (a junk copy never shadows a clean one); near-dup components are
    * computed over exact survivors only (striking a doc twice would
    * double-charge the funnel).
    *
    * Scale: one doc_id window + one content-key window (two exchanges
    * over the slice), narrow per-doc arithmetic, and a partial+final
    * rollup to source rows. The near-dup stage AS WRITTEN calls the
    * exact all-pairs [[graft.ops.Dedup.jaccardPairs]] verifier, so
    * this function expects a BOUNDED slice (it is the q85/q162
    * doc_id < 100 report shape); a corpus-scale funnel swaps that one
    * stage for minhashCandidates → jaccardPairs-on-candidates (the
    * q85-at-scale chain) with everything else unchanged.
    * Scope-bounded to the q85/q162 slice for the recursive-CTE oracle
    * — ScaleCheck-excluded for q153's bounded-slice reason (a 100x
    * probe confirms size-invariance).
    */
  def curationFunnel(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import TextAnalytics.{classifierZ, digitRatio, gopherPass, nAlpha, nStop, nTokens,
      punctRatio, rationalSigmoid, sumLen}
    val wid = Window.partitionBy(col("doc_id"))
    val wkey = Window.partitionBy(col("k2"))
    val flagged0 = docs
      .select(col("doc_id"), col("source"), col("text"), col("lang"),
        col("n_chars"), toks(col("text")).as("t"))
      .withColumn("id_cnt", count(lit(1)).over(wid))
      .withColumn("p1",
        when(vNull(col("text")) + vLen(col("text"), col("n_chars")) +
          vLang(col("lang")) +
          when(col("id_cnt") > 1, 1L).otherwise(0L) === 0, 1L).otherwise(0L))
      .withColumn("k2", substring(col("text"), 1, 30))
      .withColumn("p2",
        when(col("p1") === 1 && col("doc_id") ===
          min(when(col("p1") === 1, col("doc_id"))).over(wkey), 1L)
          .otherwise(0L))
    val comp = Dedup.connectedComponents(
      Dedup.jaccardPairs(flagged0.filter(col("p2") === 1)
        .select(col("doc_id"), col("text"))))
      .toDF("m_doc", "component")
    val flagged = flagged0
      .join(comp, col("doc_id") === col("m_doc"), "left")
      .withColumn("p3",
        when(col("p2") === 1 &&
          (col("component").isNull || col("component") === col("doc_id")), 1L)
          .otherwise(0L))
      .withColumn("nt", nTokens(col("t")).cast("bigint"))
      .withColumn("sl", sumLen(col("t")))
      .withColumn("na", nAlpha(col("t")).cast("bigint"))
      .withColumn("ns", nStop(col("t")).cast("bigint"))
      .withColumn("p4",
        when(col("p3") === 1 &&
          gopherPass(col("nt"), col("sl"), col("na"), col("ns")), 1L).otherwise(0L))
      .withColumn("punct_ratio", punctRatio(col("text")))
      .withColumn("digit_ratio", digitRatio(col("text")))
      .withColumn("p5",
        when(col("p4") === 1 &&
          rationalSigmoid(classifierZ(col("ns") / col("nt"), col("nt"),
            col("punct_ratio"), col("digit_ratio"))) >= 0.5, 1L).otherwise(0L))
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_raw"),
        sum(col("p1")).cast("bigint").as("n_contract"),
        sum(col("p2")).cast("bigint").as("n_exact"),
        sum(col("p3")).cast("bigint").as("n_neardup"),
        sum(col("p4")).cast("bigint").as("n_gopher"),
        sum(col("p5")).cast("bigint").as("n_final"))
      .select(col("source"), col("n_raw"), col("n_contract"), col("n_exact"),
        col("n_neardup"), col("n_gopher"), col("n_final"),
        (col("n_final").cast("double") / col("n_raw").cast("double"))
          .as("survival_frac"))
  }

  val q182: QueryDef = QueryDef.sql(
    "q182_curation_funnel",
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, source, text, lang, n_chars, $duckToks AS t
       |  FROM documents WHERE doc_id < 100),
       |c1 AS (
       |  SELECT *,
       |    CASE WHEN
       |        (CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)
       |      + (CASE WHEN text IS NOT NULL
       |               AND (n_chars IS NULL OR n_chars <> length(text))
       |          THEN 1 ELSE 0 END)
       |      + (CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr','zh')
       |          THEN 1 ELSE 0 END)
       |      + (CASE WHEN count(*) OVER (PARTITION BY doc_id) > 1
       |          THEN 1 ELSE 0 END) = 0
       |      THEN 1 ELSE 0 END AS p1
       |  FROM d),
       |c2 AS (
       |  SELECT *,
       |    CASE WHEN p1 = 1 AND doc_id =
       |        min(CASE WHEN p1 = 1 THEN doc_id END)
       |          OVER (PARTITION BY substring(text, 1, 30))
       |      THEN 1 ELSE 0 END AS p2
       |  FROM c1),
       |tt AS (
       |  SELECT DISTINCT doc_id, term FROM (
       |    SELECT doc_id, unnest(t) AS term FROM c2 WHERE p2 = 1)),
       |${TwinSql.overlapSql("tt", "term")},
       |${TwinSql.jaccPairsSql()},
       |${TwinSql.componentsSql},
       |f AS (
       |  SELECT c2.*, comp.cluster_id,
       |    CASE WHEN p2 = 1 AND (comp.cluster_id IS NULL
       |        OR comp.cluster_id = c2.doc_id)
       |      THEN 1 ELSE 0 END AS p3
       |  FROM c2 LEFT JOIN comp ON comp.doc_id = c2.doc_id),
       |g AS (
       |  SELECT f.*,
       |    ${TwinSql.gopherCounters("t")},
       |    ${TwinSql.punctRatio("text")} AS punct_ratio,
       |    ${TwinSql.digitRatio("text")} AS digit_ratio
       |  FROM f),
       |h AS (
       |  SELECT g.*,
       |    CASE WHEN p3 = 1 AND ${TwinSql.gopherPass("nt", "sl", "na", "ns")}
       |      THEN 1 ELSE 0 END AS p4
       |  FROM g),
       |i AS (
       |  SELECT h.*,
       |    CASE WHEN p4 = 1 AND (${TwinSql.rationalSigmoid(
              TwinSql.classifierZ("((h.ns) / (h.nt))", "h.nt",
                "h.punct_ratio", "h.digit_ratio"))}) >= 0.5
       |      THEN 1 ELSE 0 END AS p5
       |  FROM h)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_raw,
       |  CAST(sum(p1) AS BIGINT) AS n_contract,
       |  CAST(sum(p2) AS BIGINT) AS n_exact,
       |  CAST(sum(p3) AS BIGINT) AS n_neardup,
       |  CAST(sum(p4) AS BIGINT) AS n_gopher,
       |  CAST(sum(p5) AS BIGINT) AS n_final,
       |  CAST(sum(p5) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS survival_frac
       |FROM i
       |GROUP BY source
       |ORDER BY source""".stripMargin) { (s, dir) =>
    curationFunnel(Tables.documents(s, dir).filter(col("doc_id") < 100))
      .orderBy(asc_nulls_last("source"))
  }

  /** q176's knobs — interpolated into BOTH engine sides so the bucket
    * space and selection size cannot drift between them, and
    * private[graft] so [[graft.streaming.DsirStream]]'s defaults are
    * THESE values (a literal copy there would silently break the
    * spec-pinned stream == batch parity if either changed).
    */
  private[graft] val dsirBuckets = 256
  private[graft] val dsirK = 100

  /** DSIR-style importance resampling (q176): data SELECTION driven by
    * a TARGET distribution (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023 — hashed n-gram
    * importance weights + resampling). q94 samples by fixed mixture
    * weights and q125 by a quality weight; this is the op that
    * computes weights FROM data: every document's word bigrams hash
    * into `nBuckets` buckets, bucket probabilities are estimated with
    * add-one smoothing for the TARGET corpus (here: the q126
    * Gopher-pass docs — the fixture's stand-in for "looks like
    * Wikipedia"; any target doc set plugs into the same shape) and for
    * the RAW corpus, and a doc's importance weight is the sum of its
    * buckets' log likelihood ratios. Selection is sampling
    * ∝ exp(weight) WITHOUT replacement via the Gumbel-top-k identity
    * (Vieira 2014; Kool et al. 2019): top-k of weight + Gumbel(u) with
    * u from the engine's deterministic [[Sampling.hkey]] — exactly
    * q125's replayable A-ES machinery moved into log space, where the
    * DSIR weight already lives (no exp / no overflow, ever).
    *
    * Float discipline: ln appears ONLY via [[Sampling.lnMicro]] —
    * once per distinct bucket (4 integer-argument terms: the
    * likelihood ratio fully factored, so no BIGINT product can
    * overflow at any corpus size) and once per doc for the Gumbel key;
    * every sum, comparison, and the top-k ordering is exact 64-bit
    * integer arithmetic. Docs with < 2 tokens carry no features and
    * are not candidates (documented DSIR behavior: no evidence, no
    * weight).
    *
    * Scale: the bigram stream never shuffles — bucket counting
    * partial-aggregates map-side to `nBuckets` rows (ONE tiny
    * exchange), the lp table re-joins the stream as a broadcast, and
    * the per-doc rollup partial-aggregates to one row per doc before
    * its exchange. The totals are a one-row broadcast (whitelisted
    * BNLJ) against the bucket-sized frame only. Top-k is
    * TakeOrderedAndProject — per-partition heaps, k rows to the
    * driver, no global sort exchange.
    */
  /** The q176 candidate base: tokenized docs with ≥ 2 tokens and the
    * Gopher-label target flag. SHARED KERNEL — one definition for the
    * batch selection and [[graft.streaming.DsirStream]]'s incremental
    * bucket maintenance (their parity is bit-exact only because both
    * sides featurize with these exact expressions).
    */
  private[graft] def dsirBase(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import TextAnalytics.{gopherCounters, gopherPass}
    docs
      .select(col("doc_id"), col("source"), toks(col("text")).as("t"))
      .select(Seq(col("doc_id"), col("source"), col("t")) ++ gopherCounters(col("t")): _*)
      .filter(col("nt") >= 2)
      .withColumn("is_target",
        when(gopherPass(col("nt"), col("sl"), col("na"), col("ns")), 1L).otherwise(0L))
  }

  /** One bucket id per bigram OCCURRENCE: Karp-Rabin of "w1 w2" mod
    * `nBuckets` — the engine-neutral string hash (q39's kernel), so
    * the twin re-derives buckets from raw text instead of consuming a
    * dumped artifact. Shared by the batch and streaming sides.
    */
  private[graft] def dsirBigrams(base: org.apache.spark.sql.DataFrame,
                                 nBuckets: Int = dsirBuckets)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.functions.karp_rabin_fingerprint
    base.select(col("doc_id"), col("is_target"),
      explode(transform(sequence(lit(0), (col("nt") - 2).cast("int")), i =>
        pmod(karp_rabin_fingerprint(
          concat(element_at(col("t"), i + 1), lit(" "),
            element_at(col("t"), i + 2))), lit(nBuckets.toLong))))
        .as("bucket"))
  }

  /** Exact integer bucket counts (raw occurrences + target-labelled
    * occurrences) — the ONLY state DSIR selection needs from the
    * corpus, and the state [[graft.streaming.DsirStream]] maintains
    * incrementally (counts are additive over batches).
    */
  private[graft] def dsirBucketCounts(bg: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bg.groupBy(col("bucket"))
      .agg(count(lit(1)).cast("bigint").as("cnt_r"),
        sum(col("is_target")).cast("bigint").as("cnt_t"))

  /** The selection chain given a bucket-count table `g` (from
    * [[dsirBucketCounts]] or the streaming store — totals re-derive
    * from it, so counts are the complete sufficient statistic).
    */
  private[graft] def dsirSelectFromCounts(base: org.apache.spark.sql.DataFrame,
                                          bg: org.apache.spark.sql.DataFrame,
                                          g: org.apache.spark.sql.DataFrame,
                                          nBuckets: Int, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val tot = g.agg(sum(col("cnt_r")).cast("bigint").as("tot_r"),
      sum(col("cnt_t")).cast("bigint").as("tot_t"))
    // lp = ln p_target(b) − ln p_raw(b), add-one smoothed, factored to
    // four integer-argument lnMicro terms (never a cross-engine
    // product): ln((c_t+1)/(T+B)) − ln((c_r+1)/(R+B))
    val lp = g.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (Sampling.lnMicro(col("cnt_t") + lit(1L))
          - Sampling.lnMicro(col("tot_t") + lit(nBuckets.toLong))
          - Sampling.lnMicro(col("cnt_r") + lit(1L))
          + Sampling.lnMicro(col("tot_r") + lit(nBuckets.toLong))).as("lp_micro"))
    // buckets ABSENT from g (possible when the counts are a streamed
    // reference and bg holds fresh candidates) take the add-one-
    // smoothed count-zero ratio — the same four-term formula at
    // cnt_t = cnt_r = 0 — instead of being silently dropped by an
    // inner join (which would also drop all-unseen docs from the
    // candidate set); an EMPTY reference contributes 0, not an
    // engine-divergent ln(0)
    val scored = bg.join(broadcast(lp), Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        coalesce(col("lp_micro"),
          when(col("tot_r").isNotNull,
            Sampling.lnMicro(lit(0L) + lit(1L))
              - Sampling.lnMicro(col("tot_t") + lit(nBuckets.toLong))
              - Sampling.lnMicro(lit(0L) + lit(1L))
              + Sampling.lnMicro(col("tot_r") + lit(nBuckets.toLong)))
            .otherwise(lit(0L))).as("lp_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_grams"),
        sum(col("lp_micro")).cast("bigint").as("lw_micro"))
    val u = (Sampling.hkey(col("doc_id")).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    base.select(col("doc_id"), col("source"))
      .join(scored, Seq("doc_id"))
      .withColumn("key_micro",
        col("lw_micro") + round(-log(-log(u)) * lit(1000000.0)).cast("bigint"))
      .orderBy(col("key_micro").desc, col("doc_id"))
      .limit(k)
  }

  def dsirSelect(docs: org.apache.spark.sql.DataFrame,
                 nBuckets: Int = dsirBuckets,
                 k: Int = dsirK): org.apache.spark.sql.DataFrame = {
    val base = dsirBase(docs)
    val bg = dsirBigrams(base, nBuckets)
    dsirSelectFromCounts(base, bg, dsirBucketCounts(bg), nBuckets, k)
  }

  val q176: QueryDef = QueryDef.sql(
    "q176_dsir_selection",
    s"""WITH f AS (
       |  SELECT doc_id, source, t,
       |    ${TwinSql.gopherCounters("t")}
       |  FROM (SELECT doc_id, source, $duckToks AS t FROM documents)
       |  WHERE len(t) >= 2),
       |b AS (
       |  SELECT doc_id, source, t, nt,
       |    CAST(CASE WHEN ${TwinSql.gopherPass("nt", "sl", "na", "ns")}
       |      THEN 1 ELSE 0 END AS BIGINT) AS is_target
       |  FROM f),
       |bg AS (
       |  SELECT doc_id, is_target,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(regexp_extract_all(t[i + 1] || ' ' || t[i + 2], '.'),
       |                       c -> CAST(ascii(c) AS BIGINT))),
       |      (a, x) -> (a * 31 + x) % 1000000007) % $dsirBuckets AS bucket
       |  FROM (SELECT doc_id, is_target, t, unnest(range(0, nt - 1)) AS i FROM b)),
       |g AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS cnt_r,
       |         CAST(sum(is_target) AS BIGINT) AS cnt_t
       |  FROM bg GROUP BY bucket),
       |tot AS (
       |  SELECT CAST(sum(cnt_r) AS BIGINT) AS tot_r,
       |         CAST(sum(cnt_t) AS BIGINT) AS tot_t FROM g),
       |lp AS (
       |  SELECT bucket,
       |    ${Sampling.duckLnMicro("cnt_t + 1")}
       |      - ${Sampling.duckLnMicro(s"tot_t + $dsirBuckets")}
       |      - ${Sampling.duckLnMicro("cnt_r + 1")}
       |      + ${Sampling.duckLnMicro(s"tot_r + $dsirBuckets")} AS lp_micro
       |  FROM g, tot),
       |sc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |         CAST(sum(lp_micro) AS BIGINT) AS lw_micro
       |  FROM bg JOIN lp USING (bucket) GROUP BY doc_id),
       |keys AS (
       |  SELECT b.doc_id, b.source, sc.n_grams, sc.lw_micro,
       |    sc.lw_micro + CAST(round(-ln(-ln(
       |        (CAST(${Sampling.duckHkey("b.doc_id")} AS DOUBLE) + 0.5)
       |          / 4294967296.0)) * 1000000.0) AS BIGINT) AS key_micro
       |  FROM b JOIN sc USING (doc_id))
       |SELECT doc_id, source, n_grams, lw_micro, key_micro
       |FROM keys
       |ORDER BY key_micro DESC, doc_id
       |LIMIT $dsirK""".stripMargin) { (s, dir) =>
    dsirSelect(Tables.documentsFan(s, dir))
  }

  /** End-to-end curation pipeline (q132): the flagship
    * [[graft.pipeline.Curation.curate]] composition — quality
    * floor -> language allowlist -> exact dedup -> MinHash-LSH
    * near-dup removal (signature-verified, Jaccard >= 0.7) -> per-
    * source balance cap — oracle-checked END TO END. TWO-STAGE
    * ORACLE: the only engine-internal kernel is the xxhash64 MinHash
    * signature, so graft.Verify dumps the signature matrix computed
    * over the pipeline's deterministic exact-dedup prefix
    * (aux_cur_sig32, built by [[graft.pipeline.Curation.exactStage]]
    * — the same stages `curate` runs); DuckDB independently
    * re-derives EVERY stage: the token/punctuation quality gate, the
    * lang filter, min-doc_id exact dedup (cross-checking that the
    * artifact's input set equals its own derivation), the 8x4 band
    * self-join, the 32-slot signature-agreement verify, the anti-join,
    * and the hkey-ordered per-source cap.
    *
    * Scale: see the stage-by-stage notes on [[graft.pipeline.Curation]]
    * — narrow scans, one exchange per dedup stage, LSH banding instead
    * of all-pairs, and observe()-metrics instead of count() jobs.
    * The builder runs curate's two materializations; the query reads
    * the returned checkpoint.
    */
  val q132: QueryDef = QueryDef.sql(
    "q132_curation_pipeline",
    s"""WITH q AS (
       |  SELECT doc_id, text, lang, source FROM (
       |    SELECT doc_id, text, lang, source,
       |      len($duckToks) AS nt,
       |      ${TwinSql.punctChars("text")} / greatest(length(text), 1) AS pr
       |    FROM documents)
       |  WHERE nt >= 8 AND pr <= 0.2 AND lang IN ('en', 'fr', 'de')),
       |keep AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
       |e AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
       |${TwinSql.bandCandidatesSql("aux_cur_sig32")},
       |dup AS (
       |  SELECT DISTINCT d2 AS doc_id
       |  FROM cand
       |  JOIN s s1 ON s1.doc_id = cand.d1
       |  JOIN s s2 ON s2.doc_id = cand.d2
       |  WHERE list_sum(list_transform(range(1, 33),
       |      i -> CASE WHEN s1.mh[i] = s2.mh[i] THEN 1 ELSE 0 END)) / 32.0
       |    >= 0.7),
       |nd AS (SELECT * FROM e WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
       |bal AS (
       |  SELECT doc_id, lang, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY ${Sampling.duckHkey("doc_id")}, doc_id) AS rn
       |  FROM nd)
       |SELECT doc_id, lang, source FROM bal WHERE rn <= 10
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val (curated, _) = graft.pipeline.Curation.curate(
      s, Tables.documents(s, dir),
      minTokens = 8, maxPunctRatio = 0.2, keepLangs = Seq("en", "fr", "de"),
      nHashes = 32, bandSize = 4, minSigAgreement = 0.7, maxPerSource = 10)
    curated.select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Per-source dataset card (q140): the one-row-per-source summary a
    * curated corpus ships with — doc/token counts, exact-dup key
    * count, language spread, quality-score bounds, tokens per doc.
    * Every aggregate is engine-neutral by construction: counts and
    * sums are BIGINT, the quality bounds are min/max (order-free over
    * bit-identical doubles — a MEAN would sum doubles in engine-
    * specific order and break the hash), and the per-doc ratio divides
    * two BIGINTs with the same literal formula both sides.
    *
    * Scale: one partial+final aggregate pass keyed on source; the
    * dup-key count rides the same pass as count(DISTINCT) (Catalyst
    * expands to a two-phase distinct aggregate — still source-keyed,
    * no extra corpus exchange beyond it).
    */
  val q140: QueryDef = QueryDef.sql(
    "q140_dataset_card",
    s"""WITH base AS (
       |  SELECT source, lang, doc_id,
       |    substring(text, 1, 30) AS dkey,
       |    ${TwinSql.nTokens(duckToks)} AS nt,
       |    ${TwinSql.qscore(TwinSql.punctRatio("text"), TwinSql.digitRatio("text"),
              TwinSql.nTokens(duckToks), TwinSql.stopRatio(duckToks))} AS qscore
       |  FROM documents WHERE len($duckToks) > 0)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens,
       |  CAST(count(*) - count(DISTINCT dkey) AS BIGINT) AS n_dup_keys,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  min(qscore) AS min_q,
       |  max(qscore) AS max_q,
       |  CAST(sum(nt) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS tokens_per_doc
       |FROM base GROUP BY source
       |ORDER BY source""".stripMargin) { (s, dir) =>
    // dkey rides the quality pass as a passthrough column — ONE scan,
    // no self-join; the n_tokens > 0 guard mirrors the SQL's len > 0
    // (stop_ratio divides by token count on both engines)
    TextAnalytics.qualityBase(
        Tables.documents(s, dir)
          .withColumn("dkey", substring(col("text"), 1, 30)),
        extra = Seq("dkey"))
      .filter(col("n_tokens") > 0)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("n_tokens"),
        (count(lit(1)) - countDistinct(col("dkey"))).cast("bigint")
          .as("n_dup_keys"),
        countDistinct(col("lang")).cast("bigint").as("n_langs"),
        min(col("qscore")).as("min_q"),
        max(col("qscore")).as("max_q"))
      .withColumn("tokens_per_doc",
        col("n_tokens").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source"))
  }

  /** Context-length planning audit (q157): for each candidate maximum
    * sequence length, the padding and truncation cost of the
    * one-document-per-sequence regime (SFT/eval tokenization — q88's
    * greedy packing is the PRETRAINING regime where docs concatenate;
    * here each doc pads to L or truncates at L, and the planner picks
    * L to balance padding waste against truncated text). Per L:
    * sequence count, kept/padding/truncated token totals, and the two
    * waste fractions a capacity plan reads off.
    *
    * Scale: a narrow map emits |L| tiny rows per doc (the candidate
    * list is a literal), the rollup partial-aggregates to |L| rows —
    * scan-speed with a constant-size output. Integer counts
    * end-to-end; the two fractions are single literal-identical
    * divisions.
    */
  val q157: QueryDef = QueryDef.sql(
    "q157_padding_audit",
    s"""WITH n AS (
       |  SELECT CAST(len(t) AS BIGINT) AS n
       |  FROM (SELECT $duckToks AS t FROM documents)
       |  WHERE len(t) > 0),
       |x AS (
       |  SELECT l.max_len, n.n FROM n
       |  CROSS JOIN (SELECT unnest([64, 128, 256, 512]) AS max_len) l)
       |SELECT CAST(max_len AS BIGINT) AS max_len,
       |  CAST(count(*) AS BIGINT) AS n_seqs,
       |  CAST(sum(n) AS BIGINT) AS total_tokens,
       |  CAST(sum(least(n, max_len)) AS BIGINT) AS kept_tokens,
       |  CAST(sum(max_len - least(n, max_len)) AS BIGINT) AS padding_tokens,
       |  CAST(sum(greatest(n - max_len, 0)) AS BIGINT) AS truncated_tokens,
       |  CAST(sum(max_len - least(n, max_len)) AS DOUBLE)
       |    / CAST(count(*) * max_len AS DOUBLE) AS padding_frac,
       |  CAST(sum(greatest(n - max_len, 0)) AS DOUBLE)
       |    / CAST(sum(n) AS DOUBLE) AS truncated_frac
       |FROM x
       |GROUP BY max_len
       |ORDER BY max_len""".stripMargin) { (s, dir) =>
    paddingAudit(Tables.documents(s, dir)).orderBy(col("max_len"))
  }

  /** The q157 kernel over any (text) frame; unsorted output. Docs with
    * no tokens are not sequences and are excluded on both engines.
    */
  def paddingAudit(docs: org.apache.spark.sql.DataFrame,
                   candidateLens: Seq[Long] = Seq(64L, 128L, 256L, 512L))
      : org.apache.spark.sql.DataFrame = {
    val n = docs.select(size(toks(col("text"))).cast("bigint").as("n"))
      .filter(col("n") > 0)
    val kept = least(col("n"), col("max_len"))
    n.select(explode(array(candidateLens.map(lit): _*)).as("max_len"), col("n"))
      .groupBy(col("max_len"))
      .agg(
        count(lit(1)).cast("bigint").as("n_seqs"),
        sum(col("n")).cast("bigint").as("total_tokens"),
        sum(kept).cast("bigint").as("kept_tokens"),
        sum(col("max_len") - kept).cast("bigint").as("padding_tokens"),
        sum(greatest(col("n") - col("max_len"), lit(0L)))
          .cast("bigint").as("truncated_tokens"))
      .select(col("max_len"), col("n_seqs"), col("total_tokens"),
        col("kept_tokens"), col("padding_tokens"), col("truncated_tokens"),
        (col("padding_tokens").cast("double")
          / (col("n_seqs") * col("max_len")).cast("double")).as("padding_frac"),
        (col("truncated_tokens").cast("double")
          / col("total_tokens").cast("double")).as("truncated_frac"))
  }

  /** Data-contract validation (q152): the Deequ/dbt-test-style ingest
    * gate — every upstream feed promises a schema contract (text
    * present, n_chars consistent with text, lang in the declared
    * domain, doc_id unique) and this audit counts violations PER
    * SOURCE so a broken feed is named, not averaged away. Run before
    * anything downstream trusts the batch: a feed that starts
    * shipping null text or colliding doc_ids poisons dedup keys and
    * split stability (q99 keys on content, q25 on text hashes) long
    * before any quality metric notices.
    *
    * Scale: every check but uniqueness is a narrow row-local flag;
    * uniqueness is ONE exchange keyed doc_id (window count — no join
    * back), and the per-source rollup partial-aggregates to S rows.
    * Pure integer counts end-to-end, so the oracle comparison is
    * exact by construction. The contract constants are declared
    * literally on both engines.
    */
  val q152: QueryDef = QueryDef.sql(
    "q152_data_contract",
    """WITH f AS (
      |  SELECT source,
      |    CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END AS v_null,
      |    CASE WHEN text IS NOT NULL
      |           AND (n_chars IS NULL OR n_chars <> length(text))
      |      THEN 1 ELSE 0 END AS v_len,
      |    CASE WHEN lang IS NULL OR lang NOT IN ('de','en','es','fr','zh')
      |      THEN 1 ELSE 0 END AS v_lang,
      |    CASE WHEN count(*) OVER (PARTITION BY doc_id) > 1
      |      THEN 1 ELSE 0 END AS v_dup
      |  FROM documents)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(v_null) AS BIGINT) AS n_null_text,
      |  CAST(sum(v_len) AS BIGINT) AS n_len_mismatch,
      |  CAST(sum(v_lang) AS BIGINT) AS n_bad_lang,
      |  CAST(sum(v_dup) AS BIGINT) AS n_dup_id,
      |  CAST(sum(CASE WHEN v_null + v_len + v_lang + v_dup = 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
      |FROM f
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    dataContract(Tables.documents(s, dir)).orderBy(col("source"))
  }

  /** The q152 contract's declared language domain — one list for the
    * batch kernel and the streaming gate.
    */
  private[graft] val contractLangs = Seq("de", "en", "es", "fr", "zh")

  /** q152's three ROW-LOCAL violation flags — THE single definitions,
    * consumed by the batch kernel below and by the incremental gate
    * ([[graft.streaming.ContractStream]]), whose stream==batch parity
    * is bit-exact only because both sides flag with these exact
    * expressions. (The fourth check, doc_id uniqueness, is inherently
    * global — the batch kernel windows over the corpus, the stream
    * maintains the id index.)
    */
  private[graft] def vNull(text: org.apache.spark.sql.Column) =
    when(text.isNull || length(text) === 0, 1L).otherwise(0L)
  private[graft] def vLen(text: org.apache.spark.sql.Column,
                          nChars: org.apache.spark.sql.Column) =
    when(text.isNotNull && (nChars.isNull || nChars =!= length(text)), 1L)
      .otherwise(0L)
  private[graft] def vLang(lang: org.apache.spark.sql.Column) =
    when(lang.isNull || !lang.isin(contractLangs.map(x => x: Any): _*), 1L)
      .otherwise(0L)

  /** The q152 kernel over any (doc_id, text, lang, source, n_chars)
    * frame; unsorted output.
    */
  def dataContract(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
    docs
      .withColumn("id_cnt", count(lit(1)).over(w))
      .select(col("source"),
        vNull(col("text")).as("v_null"),
        vLen(col("text"), col("n_chars")).as("v_len"),
        vLang(col("lang")).as("v_lang"),
        when(col("id_cnt") > 1, 1L).otherwise(0L).as("v_dup"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast("bigint").as("n_rows"),
        sum(col("v_null")).cast("bigint").as("n_null_text"),
        sum(col("v_len")).cast("bigint").as("n_len_mismatch"),
        sum(col("v_lang")).cast("bigint").as("n_bad_lang"),
        sum(col("v_dup")).cast("bigint").as("n_dup_id"),
        sum(when(col("v_null") + col("v_len") + col("v_lang") + col("v_dup")
          === 0, 1L).otherwise(0L)).cast("bigint").as("n_clean"))
  }

  /** Cross-document boundary stitching (q154): boundary keys — the
    * first-2-token head and last-2-token tail of every document —
    * where some document's TAIL equals another document's HEAD. That
    * signature marks chunked extractions of one underlying text
    * (overlapping crawl fragments, paginated articles, sliding-window
    * re-chunking of an already-chunked corpus): content that is
    * contiguous in the source but entered the corpus as separate
    * "documents", which document-level dedup can never catch (the
    * fragments are not near-duplicates of EACH OTHER). Per key the
    * report carries how many docs end with it (n_tail), start with it
    * (n_head), both (n_self: head == tail, e.g. a doc that is one
    * repeated phrase), and the stitch-pair count
    * n_tail·n_head − n_self (self-stitches excluded); only keys with
    * actual stitch evidence emit.
    *
    * Scale: a narrow map emits ≤ 2 tiny (key, flags) rows per
    * document, then ONE exchange groups by the boundary string —
    * per-key state is three counters, group count is bounded by
    * 2·n_docs, and nothing corpus-text-sized ever moves. Pure integer
    * arithmetic end-to-end, so the oracle comparison is exact by
    * construction.
    */
  val q154: QueryDef = QueryDef.sql(
    "q154_boundary_stitch",
    s"""WITH d AS (
       |  SELECT doc_id, t FROM (SELECT doc_id, $duckToks AS t FROM documents)
       |  WHERE len(t) >= 2),
       |hk AS (
       |  SELECT doc_id,
       |    array_to_string(t[1 : 2], ' ') AS head,
       |    array_to_string(t[len(t) - 1 : len(t)], ' ') AS tail
       |  FROM d),
       |r AS (
       |  SELECT head AS key, 0 AS tl, 1 AS hd, 0 AS sf FROM hk WHERE head <> tail
       |  UNION ALL
       |  SELECT tail AS key, 1 AS tl, 0 AS hd, 0 AS sf FROM hk WHERE head <> tail
       |  UNION ALL
       |  SELECT head AS key, 1 AS tl, 1 AS hd, 1 AS sf FROM hk WHERE head = tail),
       |agg AS (
       |  SELECT key,
       |    CAST(sum(tl) AS BIGINT) AS n_tail,
       |    CAST(sum(hd) AS BIGINT) AS n_head,
       |    CAST(sum(sf) AS BIGINT) AS n_self
       |  FROM r GROUP BY key)
       |SELECT key, n_tail, n_head, n_self,
       |  n_tail * n_head - n_self AS stitch_pairs
       |FROM agg
       |WHERE n_tail * n_head - n_self > 0
       |ORDER BY key""".stripMargin) { (s, dir) =>
    boundaryStitch(Tables.documents(s, dir)).orderBy(col("key"))
  }

  /** The q154 kernel over any (doc_id, text) frame; unsorted output.
    * Docs with fewer than two tokens have no 2-token boundary and
    * vanish.
    */
  def boundaryStitch(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hk = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(
        concat_ws(" ", slice(col("t"), 1, 2)).as("head"),
        concat_ws(" ", slice(col("t"), -2, 2)).as("tail"))
    hk
      .select(explode(when(col("head") === col("tail"),
          array(struct(col("head").as("key"),
            lit(1L).as("tl"), lit(1L).as("hd"), lit(1L).as("sf"))))
        .otherwise(array(
          struct(col("head").as("key"),
            lit(0L).as("tl"), lit(1L).as("hd"), lit(0L).as("sf")),
          struct(col("tail").as("key"),
            lit(1L).as("tl"), lit(0L).as("hd"), lit(0L).as("sf")))))
        .as("r"))
      .select(col("r.key").as("key"), col("r.tl"), col("r.hd"), col("r.sf"))
      .groupBy(col("key"))
      .agg(
        sum(col("tl")).cast("bigint").as("n_tail"),
        sum(col("hd")).cast("bigint").as("n_head"),
        sum(col("sf")).cast("bigint").as("n_self"))
      .withColumn("stitch_pairs",
        col("n_tail") * col("n_head") - col("n_self"))
      .filter(col("stitch_pairs") > 0)
  }

  /** Cross-table referential-integrity audit (q168): the q152 ingest
    * contract applied ACROSS tables — per source, how many documents
    * have an embedding, how many are missing one, and how many
    * embeddings reference no document at all (orphans, reported as
    * their own '(orphan_embedding)' row). The audit a pipeline runs
    * after an embedding backfill before trusting ANN/dedup results:
    * missing embeddings silently shrink the dedup candidate space
    * (q50/q97 never see those docs) and orphans inflate index sizes,
    * and neither shows up in any single-table check.
    *
    * Scale: ONE full-outer equi-join on the id (both sides hash to
    * the same partitioning — the q156 shape), carrying only (id,
    * source) projections; the rollup partial-aggregates to S+1 rows.
    * Pure integer counts plus one guarded division.
    */
  def embeddingCoverage(docs: org.apache.spark.sql.DataFrame,
                        emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // side-presence MARKERS, not key nullness: a junk document row
    // (NULL doc_id — the loader convention) never joins, and testing
    // `doc_id IS NULL` would misfile it as an orphan EMBEDDING under
    // its own source; with markers it counts as a document of its
    // source that (factually) has no embedding. A junk embedding row
    // (NULL vec_id) is a real orphan: it references no document.
    val d = docs.select(col("doc_id"), col("source"), lit(1L).as("dp"))
    val e = emb.select(col("vec_id"), lit(1L).as("ep"))
    d.join(e, col("doc_id") === col("vec_id"), "full_outer")
      .groupBy(when(col("dp").isNull, lit("(orphan_embedding)"))
        .otherwise(coalesce(col("source"), lit("(null)"))).as("source"))
      .agg(
        sum(when(col("dp") === 1L, 1L).otherwise(0L))
          .cast("bigint").as("n_docs"),
        sum(when(col("dp") === 1L && col("ep") === 1L, 1L)
          .otherwise(0L)).cast("bigint").as("n_embedded"),
        sum(when(col("dp") === 1L && col("ep").isNull, 1L)
          .otherwise(0L)).cast("bigint").as("n_missing"),
        sum(when(col("dp").isNull, 1L).otherwise(0L))
          .cast("bigint").as("n_orphan"))
      .withColumn("coverage_frac",
        when(col("n_docs") > 0,
          col("n_embedded").cast("double") / col("n_docs").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Quality–duplication entanglement audit (q169): per source, the
    * Spearman rank correlation between the q109 quality score and the
    * q166 per-doc duplicate-text fraction. The two gates of a curation
    * pipeline are tuned independently (quality keeps "good" docs, dedup
    * strikes repeated text) on the assumption that they are roughly
    * orthogonal; if |rho| runs high, quality-filtering silently shifts
    * the corpus's duplication statistics (and dedup shifts its quality
    * mix), so the q98 quota / q110 mixture math calibrated on the full
    * corpus no longer describes what survives both gates. The q158
    * "audit the pipeline's own gates" discipline applied to the gates'
    * INDEPENDENCE rather than either gate alone.
    *
    * Spearman, not Pearson, and deterministically so: ranks are
    * row_number over (value, doc_id) — distinct integers, no tie
    * averaging — so Σd² is exact integer arithmetic and rho is ONE
    * literal division; Pearson would sum corpus-many doubles in
    * nondeterministic order (the q80 lesson: only DECIMAL sums and
    * final-formula doubles cross engines bit-exactly). Both ranked
    * values are themselves bit-exact across engines (q109's score and
    * q166's dup_frac hash-match), so the orderings agree. d² is
    * squared in DECIMAL(19,0)·(19,0) → (38,0): at 10¹² docs per source
    * Σd² reaches n³ ~ 10³⁶, past BIGINT but inside DECIMAL(38,0).
    * Zero-token docs (score would be 0/0) are excluded; junk rows drop
    * with them. Sources with n < 2, or where EITHER side is constant
    * (min == max — e.g. every dup_frac 0.0 in a post-dedup source),
    * report rho 0.0: Spearman is undefined at zero variance, and the
    * doc_id tie-break must not fabricate an ordering there.
    *
    * Scale: the dup side is q166's kernel (one content-keyed gram
    * exchange); the rank stage is ONE exchange on source carrying
    * (doc_id, source, score, dup_frac) ~32 B rows, then two in-place
    * sorts of the same partitioning — ranks fundamentally need a
    * per-source total order. Everything after is S-row arithmetic.
    */
  def qualityDupEntanglement(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // zero-token docs (incl. junk rows) drop BEFORE the ratio columns:
    // under ANSI the 0/0 stop ratio is an error, not a filterable NaN
    val eligible = docs.filter(
      col("text").isNotNull && size(toks(col("text"))) >= 1)
    val scored = TextAnalytics.qualityBase(eligible)
      .select(col("doc_id"), col("source"),
        TextAnalytics.rationalSigmoid(TextAnalytics.classifierZ(
          col("stop_ratio"), col("n_tokens"),
          col("punct_ratio"), col("digit_ratio"))).as("score"))
    val dup = duplicateTextFraction(docs, n = 8)
      .select(col("doc_id"), col("dup_frac"))
    val ws = Window.partitionBy(col("source"))
      .orderBy(col("score"), col("doc_id"))
    val wd = Window.partitionBy(col("source"))
      .orderBy(col("dup_frac"), col("doc_id"))
    val ranked = scored.join(dup, Seq("doc_id"))
      .select(col("source"), col("score"), col("dup_frac"),
        row_number().over(ws).cast("long").as("rs"),
        row_number().over(wd).cast("long").as("rd"))
    val dDec = (col("rs") - col("rd")).cast("decimal(19,0)")
    val nD = col("n_docs").cast("double")
    // Spearman is undefined when either side has zero variance — the
    // doc_id tie-break would otherwise fabricate an ordering and a
    // fully-clean source (every dup_frac 0.0, the normal post-dedup
    // state) could report |rho| = 1 off ingest-order score drift. A
    // constant side reports 0.0: no evidence, same as n < 2.
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(dDec * dDec).cast("double").as("sum_d2"),
        min(col("score")).as("mn_s"), max(col("score")).as("mx_s"),
        min(col("dup_frac")).as("mn_d"), max(col("dup_frac")).as("mx_d"))
      .withColumn("rho",
        when(col("n_docs") >= 2
            && col("mn_s") =!= col("mx_s") && col("mn_d") =!= col("mx_d"),
          round(lit(1.0) - lit(6.0) * col("sum_d2") / (nD * (nD * nD - 1.0)), 9))
          .otherwise(lit(0.0)))
      .withColumn("entangled",
        when(abs(col("rho")) >= 0.5, 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("sum_d2"),
        col("rho"), col("entangled"))
  }

  val q169: QueryDef = QueryDef.sql(
    "q169_quality_dup_entanglement",
    s"""WITH $dupFracChainSql,
       |f AS (
       |  SELECT doc_id, source,
       |    ${TwinSql.nTokens("t")} AS nt,
       |    ${TwinSql.punctRatio("text")} AS punct_ratio,
       |    ${TwinSql.digitRatio("text")} AS digit_ratio,
       |    ${TwinSql.stopRatio("t")} AS stop_ratio
       |  FROM (SELECT doc_id, source, text, $duckToks AS t FROM documents)),
       |sc AS (
       |  SELECT doc_id, source,
       |    ${TwinSql.rationalSigmoid("z")} AS score
       |  FROM (
       |    SELECT doc_id, source,
       |      ${TwinSql.classifierZ("stop_ratio", "nt", "punct_ratio", "digit_ratio")} AS z
       |    FROM f WHERE nt >= 1)),
       |r AS (
       |  SELECT sc.source, sc.score, df.dup_frac,
       |    row_number() OVER (PARTITION BY sc.source
       |                       ORDER BY sc.score, sc.doc_id) AS rs,
       |    row_number() OVER (PARTITION BY sc.source
       |                       ORDER BY df.dup_frac, sc.doc_id) AS rd
       |  FROM sc JOIN dfrac df USING (doc_id)),
       |g AS (
       |  SELECT source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CAST(rs - rd AS DECIMAL(19,0))
       |             * CAST(rs - rd AS DECIMAL(19,0))) AS DOUBLE) AS sum_d2,
       |    min(score) AS mn_s, max(score) AS mx_s,
       |    min(dup_frac) AS mn_d, max(dup_frac) AS mx_d
       |  FROM r GROUP BY source),
       |o AS (
       |  SELECT source, n_docs, sum_d2,
       |    CASE WHEN n_docs >= 2 AND mn_s <> mx_s AND mn_d <> mx_d
       |      THEN round(1.0 - 6.0 * sum_d2
       |        / (CAST(n_docs AS DOUBLE)
       |           * (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE) - 1.0)), 9)
       |      ELSE 0.0 END AS rho
       |  FROM g)
       |SELECT source, n_docs, sum_d2, rho,
       |  CAST(CASE WHEN abs(rho) >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS entangled
       |FROM o
       |ORDER BY source""".stripMargin) { (s, dir) =>
    qualityDupEntanglement(Tables.documentsFan(s, dir)).orderBy(col("source"))
  }

  val q168: QueryDef = QueryDef.sql(
    "q168_embedding_coverage",
    """WITH d AS (SELECT doc_id, source, 1 AS dp FROM documents),
      |e AS (SELECT vec_id, 1 AS ep FROM embeddings),
      |j AS (SELECT d.doc_id, d.source, d.dp, e.vec_id, e.ep
      |      FROM d FULL OUTER JOIN e ON d.doc_id = e.vec_id),
      |g AS (
      |  SELECT CASE WHEN dp IS NULL THEN '(orphan_embedding)'
      |              ELSE COALESCE(source, '(null)') END AS source,
      |    CAST(sum(CASE WHEN dp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN dp = 1 AND ep = 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_embedded,
      |    CAST(sum(CASE WHEN dp = 1 AND ep IS NULL
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
      |    CAST(sum(CASE WHEN dp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_orphan
      |  FROM j GROUP BY 1)
      |SELECT source, n_docs, n_embedded, n_missing, n_orphan,
      |  CASE WHEN n_docs > 0
      |    THEN CAST(n_embedded AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |    ELSE 0.0 END AS coverage_frac
      |FROM g
      |ORDER BY source""".stripMargin) { (s, dir) =>
    embeddingCoverage(Tables.documents(s, dir), Tables.embeddings(s, dir))
      .orderBy(col("source"))
  }

  /** Per-column data-profiling report (q184): the Deequ-PROFILES
    * complement of the q152 contract gate — q152 checks declared
    * expectations, this DISCOVERS the table's shape so a team can
    * write them: per column, row count, null count and share, exact
    * distinct count, min/max rendered length, and (numeric columns)
    * min/max value. The first query a curation team runs against an
    * unfamiliar drop — "is doc_id actually unique", "how null is
    * lang", "is n_chars in a sane range" — and the source of the
    * thresholds q152 then enforces. Junk rows are the POINT here:
    * the profile counts them instead of filtering them.
    *
    * All counts are exact BIGINTs; null_share is one literal division
    * of two exact BIGINTs. Rendered length is `length(CAST(c AS
    * STRING))` — for the fixture's types (int64/string) the string
    * rendering is engine-identical, and it gives ONE schema across
    * heterogeneous columns; min_num/max_num carry the numeric min/max
    * where the cast is lossless and NULL elsewhere.
    *
    * Scale: one aggregate PER COLUMN, each a column-pruned scan +
    * partial+final agg — columns profile independently (a 100 TB
    * profile parallelizes per column and never carries another
    * column's bytes). The deliberate trade-off: a single-pass
    * multi-agg would halve the JOB count on wide tables but scans
    * every profiled column in one pass (and exact-distinct over
    * several columns in one aggregate multiplies its hash state);
    * per-column jobs keep each scan pruned to one column and each
    * distinct exchange independent — the right side of the trade
    * whenever the table is wider than the cluster is job-latency-
    * bound. The exact-distinct term exchanges each column's
    * distinct values (map-side partial dedup first); that is the
    * price of EXACT — the engine's auditable-HLL (q128) is the
    * sketch path when an estimate suffices. The final union is
    * column-count-sized (metadata).
    */
  def columnProfile(df: org.apache.spark.sql.DataFrame,
                    numeric: Set[String]): org.apache.spark.sql.DataFrame =
    df.columns.toSeq.map { c =>
      val rendered = length(col(c).cast("string")).cast("bigint")
      df.agg(
          count(lit(1)).cast("bigint").as("n_rows"),
          (count(lit(1)) - count(col(c))).cast("bigint").as("n_null"),
          countDistinct(col(c)).cast("bigint").as("n_distinct"),
          min(rendered).as("min_len"),
          max(rendered).as("max_len"),
          (if (numeric(c)) min(col(c)).cast("bigint")
           else lit(null).cast("bigint")).as("min_num"),
          (if (numeric(c)) max(col(c)).cast("bigint")
           else lit(null).cast("bigint")).as("max_num"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          when(col("n_rows") > 0,
            col("n_null").cast("double") / col("n_rows").cast("double"))
            .otherwise(lit(0.0)).as("null_share"),
          col("n_distinct"), col("min_len"), col("max_len"),
          col("min_num"), col("max_num"))
    }.reduce(_.union(_))

  /** The q184 twin's per-column SELECT — generated from the same
    * (name, numeric?) list the Spark side profiles, so the two sides
    * cannot drift column-by-column.
    */
  private def profileColSql(c: String, numeric: Boolean): String = {
    val num =
      if (numeric) s"CAST(min($c) AS BIGINT) AS min_num, CAST(max($c) AS BIGINT) AS max_num"
      else "CAST(NULL AS BIGINT) AS min_num, CAST(NULL AS BIGINT) AS max_num"
    s"""SELECT '$c' AS col_name,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
       |  CASE WHEN count(*) > 0
       |    THEN CAST(count(*) - count($c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    ELSE 0.0 END AS null_share,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
       |  CAST(min(length(CAST($c AS VARCHAR))) AS BIGINT) AS min_len,
       |  CAST(max(length(CAST($c AS VARCHAR))) AS BIGINT) AS max_len,
       |  $num
       |FROM documents""".stripMargin
  }

  private val profileCols: Seq[(String, Boolean)] = Seq(
    "doc_id" -> true, "text" -> false, "lang" -> false,
    "source" -> false, "n_chars" -> true)

  val q184: QueryDef = QueryDef.sql(
    "q184_column_profile",
    profileCols.map { case (c, n) => profileColSql(c, n) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")) { (s, dir) =>
    columnProfile(Tables.documents(s, dir),
      profileCols.filter(_._2).map(_._1).toSet)
      .orderBy(col("col_name"))
  }

  /** Takedown-propagation audit (q193): what a right-to-be-forgotten
    * batch (here the deterministic stand-in doc_id % 97 = 0; in
    * production an input id list) touches in every doc-keyed derived
    * store this engine builds — the compliance readout that must
    * accompany the tombstone machinery (q181 / Pq.deleteFromIndex
    * handle the ANN stores; this prices the rest). Per store:
    * rows removed, keys touched, keys fully EMPTIED (a term leaving
    * the index, a bucket vanishing), and — the dedup interaction no
    * single-store view shows — re-exposures: exact-dup groups whose
    * kept representative (min doc_id, the q25 policy) is struck while
    * copies survive, so a previously-suppressed duplicate re-enters
    * the corpus and the keep decision must be replayed.
    *
    * Stores audited: `documents` (the raw rows), `postings` (q41's
    * (term, doc) index), `band_buckets` (the q45 MinHash-LSH bucket
    * membership over its doc_id < 500 signature scope — engine-hashed,
    * so the TWIN re-derives buckets from the dumped aux_minhash_sig32
    * slices, the q45 slice-equality convention; asymmetry accepted as
    * there: Spark groups by the xxhash64 band_sig, the twin by the raw
    * 4-slot slice, so an xxhash64 collision between distinct slices
    * would merge two buckets on the Spark side only — ~2⁻⁶⁴ per
    * bucket pair, and the production store is KEYED on the engine
    * hash, so the audit prices the store as it exists, not an
    * idealized collision-free one), and
    * `exact_dup_groups` (the q25 key). `n_reexposed` is 0 by
    * definition everywhere but the dedup row.
    *
    * Counts are exact integers throughout. Scale: each store audit is
    * one partial+final aggregate at that store's own key granularity
    * (term / bucket / dup key — the same exchanges building the store
    * costs); nothing is pairwise.
    */
  def takedownPropagation(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hit = when(pmod(col("doc_id"), lit(97)) === 0, 1L).otherwise(0L)
    val d = docs.select(col("doc_id"), col("text"), hit.as("hit"))
    import org.apache.spark.sql.Column
    def row(store: String, removed: Column, touched: Column,
            emptied: Column, reexposed: Column) =
      Seq(lit(store).as("store"), removed.cast("bigint").as("n_rows_removed"),
        touched.cast("bigint").as("n_keys_touched"),
        emptied.cast("bigint").as("n_keys_emptied"),
        reexposed.cast("bigint").as("n_reexposed"))
    val docsRow = d.agg(sum(col("hit")).as("nh"))
      .select(row("documents", col("nh"), col("nh"), col("nh"), lit(0L)): _*)
    val pt = d
      .select(col("doc_id"), col("hit"), explode(toks(col("text"))).as("term"))
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("nh"))
    val postingsRow = pt.agg(
      sum(col("nh")).as("rm"),
      sum(when(col("nh") > 0, 1L).otherwise(0L)).as("tch"),
      sum(when(col("nh") === col("n"), 1L).otherwise(0L)).as("emp"))
      .select(row("postings", col("rm"), col("tch"), col("emp"), lit(0L)): _*)
    val bk = Dedup.bandSignatures(docs.filter(col("doc_id") < 500))
      .withColumn("hit", hit)
      .groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("nh"))
    val bandsRow = bk.agg(
      sum(col("nh")).as("rm"),
      sum(when(col("nh") > 0, 1L).otherwise(0L)).as("tch"),
      sum(when(col("nh") === col("n"), 1L).otherwise(0L)).as("emp"))
      .select(row("band_buckets", col("rm"), col("tch"), col("emp"), lit(0L)): _*)
    val g = d
      .groupBy(substring(col("text"), 1, 30).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("nh"),
        min(col("doc_id")).as("rep"),
        min(when(col("hit") === 0L, col("doc_id"))).as("surv"))
    val dupRow = g.agg(
      sum(col("nh")).as("rm"),
      sum(when(col("nh") > 0, 1L).otherwise(0L)).as("tch"),
      sum(when(col("nh") === col("n"), 1L).otherwise(0L)).as("emp"),
      sum(when(pmod(col("rep"), lit(97)) === 0 && col("surv").isNotNull, 1L)
        .otherwise(0L)).as("re"))
      .select(row("exact_dup_groups", col("rm"), col("tch"), col("emp"),
        col("re")): _*)
    docsRow.union(postingsRow).union(bandsRow).union(dupRow)
  }

  val q193: QueryDef = QueryDef.sql(
    "q193_takedown_propagation",
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    CAST(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END AS BIGINT) AS hit
       |  FROM documents),
       |docs_row AS (
       |  SELECT 'documents' AS store,
       |    CAST(sum(hit) AS BIGINT) AS n_rows_removed,
       |    CAST(sum(hit) AS BIGINT) AS n_keys_touched,
       |    CAST(sum(hit) AS BIGINT) AS n_keys_emptied,
       |    CAST(0 AS BIGINT) AS n_reexposed
       |  FROM d),
       |tok AS (
       |  SELECT DISTINCT doc_id, hit, term FROM (
       |    SELECT doc_id, hit, unnest($duckToks) AS term FROM d)),
       |pt AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(hit) AS BIGINT) AS nh
       |  FROM tok GROUP BY term),
       |postings_row AS (
       |  SELECT 'postings',
       |    CAST(sum(nh) AS BIGINT),
       |    CAST(sum(CASE WHEN nh > 0 THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(sum(CASE WHEN nh = n THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(0 AS BIGINT)
       |  FROM pt),
       |mh AS (
       |  SELECT s.doc_id, list(s.h ORDER BY s.pos) AS mh
       |  FROM read_parquet('__GRAFT_OUT__/aux_minhash_sig32/*.parquet') s
       |  GROUP BY s.doc_id),
       |bb AS (
       |  SELECT mh.doc_id, b.b AS band,
       |    list_slice(mh.mh, b.b * 4 + 1, b.b * 4 + 4) AS bsig,
       |    CAST(CASE WHEN mh.doc_id % 97 = 0 THEN 1 ELSE 0 END AS BIGINT) AS hit
       |  FROM mh, (SELECT unnest(range(0, 8)) AS b) b),
       |bk AS (
       |  SELECT band, bsig, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(hit) AS BIGINT) AS nh
       |  FROM bb GROUP BY band, bsig),
       |bands_row AS (
       |  SELECT 'band_buckets',
       |    CAST(sum(nh) AS BIGINT),
       |    CAST(sum(CASE WHEN nh > 0 THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(sum(CASE WHEN nh = n THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(0 AS BIGINT)
       |  FROM bk),
       |g AS (
       |  SELECT substring(text, 1, 30) AS k, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(hit) AS BIGINT) AS nh,
       |    min(doc_id) AS rep,
       |    min(CASE WHEN hit = 0 THEN doc_id END) AS surv
       |  FROM d GROUP BY k),
       |dup_row AS (
       |  SELECT 'exact_dup_groups',
       |    CAST(sum(nh) AS BIGINT),
       |    CAST(sum(CASE WHEN nh > 0 THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(sum(CASE WHEN nh = n THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(sum(CASE WHEN rep % 97 = 0 AND surv IS NOT NULL
       |      THEN 1 ELSE 0 END) AS BIGINT)
       |  FROM g)
       |SELECT * FROM docs_row
       |UNION ALL SELECT * FROM postings_row
       |UNION ALL SELECT * FROM bands_row
       |UNION ALL SELECT * FROM dup_row
       |ORDER BY store""".stripMargin) { (s, dir) =>
    takedownPropagation(Tables.documents(s, dir)).orderBy(col("store"))
  }

  /** DoReMi-style domain reweighting (q203): turn per-source EXCESS
    * LM loss into mixture weights (Xie et al., "DoReMi: Optimizing
    * Data Mixtures Speeds Up Language Model Pretraining", 2023 — the
    * published multiplicative-weights shape, with the proxy-model
    * excess loss stood in by the engine's own trained LM). The
    * scorer is the shipped q189 Kneser-Ney bigram model, so every
    * input to the weight is already exact: per-source bigram count
    * and micro-nat score sum are BIGINT sums of q189's per-doc
    * integers, token totals are exact, and every double is a literal
    * formula over those integers.
    *
    * excess_s = avg_lp_global - avg_lp_s (nats/bigram; positive =
    * the source is HARDER than the corpus average, i.e. the LM
    * predicts it worse — DoReMi upweights it). The multiplicative
    * update exp(eta*excess) is replaced by the repo's pinned rational
    * sigmoid (TwinSql.rationalSigmoid — libm exp is not cross-engine
    * bit-exact, the q110 sqrt argument): same monotonicity, bounded
    * (0,1), so weight_s = baseline_s * sigma(eta*excess_s), then one
    * K-row ordered-fold normalization (sources sorted by name — the
    * q128 list-fold discipline; an unordered double sum would hash-
    * diverge). baseline_s is the exact token share.
    *
    * Scale: everything after q189's own plan is source-granular —
    * one partial+final aggregate to K source rows, two one-row
    * broadcasts (totals, normalizer). The LM training/scoring scale
    * story is q189's, unchanged.
    */
  def doremiWeights(docs: org.apache.spark.sql.DataFrame,
                    eta: Double = 4.0): org.apache.spark.sql.DataFrame = {
    val perDoc = TextAnalytics.knBigramLogProb(docs)
    val src = docs.select(col("doc_id"), col("source"),
      when(col("text").isNotNull, size(toks(col("text"))))
        .cast("bigint").as("nt"))
    // LEFT join: a null-doc_id junk row stays in its source's doc and
    // token tallies (matching the twin's LEFT JOIN null-key behavior)
    // with no LM contribution, instead of vanishing via an inner join
    val perSrc = src.join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        coalesce(sum(col("nt")), lit(0L)).cast("bigint").as("n_tokens"),
        coalesce(sum(col("n_bigrams")), lit(0L)).cast("bigint")
          .as("n_bigrams"),
        coalesce(sum(col("kn_sum_micro")), lit(0L)).cast("bigint")
          .as("kn_sum_micro"))
    val tot = perSrc.agg(
      sum(col("n_tokens")).cast("bigint").as("nt_tot"),
      sum(col("n_bigrams")).cast("bigint").as("nb_tot"),
      sum(col("kn_sum_micro")).cast("bigint").as("s_tot"))
    // avg_lp uses q189's exact literal formula; guards mirror the twin
    val scored = perSrc.crossJoin(broadcast(tot))
      .withColumn("avg_lp", when(col("n_bigrams") > 0,
          col("kn_sum_micro").cast("double")
            / (col("n_bigrams").cast("double") * lit(1000000.0)))
        .otherwise(lit(0.0)))
      .withColumn("g", when(col("nb_tot") > 0,
          col("s_tot").cast("double")
            / (col("nb_tot").cast("double") * lit(1000000.0)))
        .otherwise(lit(0.0)))
      .withColumn("excess", when(col("n_bigrams") > 0,
          col("g") - col("avg_lp")).otherwise(lit(0.0)))
      .withColumn("baseline",
        col("n_tokens").cast("double") / col("nt_tot").cast("double"))
      .withColumn("score", col("baseline")
        * TextAnalytics.rationalSigmoid(lit(eta) * col("excess")))
    val den = scored.agg(
      aggregate(
        transform(array_sort(collect_list(struct(col("source"), col("score")))),
          x => x.getField("score")),
        lit(0.0), (a, x) => a + x).as("den"))
    scored.crossJoin(broadcast(den))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_bigrams"), col("kn_sum_micro"), col("avg_lp"), col("excess"),
        (col("score") / col("den")).as("doremi_weight"),
        // baseline = 0 when a source's docs are all null/empty text
        // (n_tokens 0): its weight is an honest 0, but the boost ratio
        // would be 0/0 = NaN (and engine-dependent in the twin) — the
        // same junk class the LEFT join and NULLS FIRST pins defend
        when(col("baseline") > 0,
          col("score") / col("den") / col("baseline"))
          .otherwise(lit(0.0)).as("boost"))
      .orderBy(col("source"))
  }

  /** q203: [[doremiWeights]] at eta = 4.0 over the documents table.
    * FULL-REPLAY ORACLE: the twin re-trains the entire KN model
    * (TextAnalytics.knChainSql — the q189 chain, one definition) and
    * re-derives excess, sigmoid, and the ordered-fold normalization.
    */
  val q203: QueryDef = QueryDef.sql(
    "q203_doremi_weights",
    s"""WITH ${TextAnalytics.knChainSql},
       |sc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nb,
       |    CAST(sum(lp) AS BIGINT) AS s
       |  FROM bg JOIN lm USING (w1, w2) GROUP BY doc_id),
       |ds AS (
       |  SELECT source, doc_id, CAST(len(t2) AS BIGINT) AS nt
       |  FROM (SELECT source, doc_id, $duckToks AS t2 FROM documents)),
       |ps AS (
       |  SELECT ds.source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(COALESCE(sum(ds.nt), 0) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(sum(sc.nb), 0) AS BIGINT) AS n_bigrams,
       |    CAST(COALESCE(sum(sc.s), 0) AS BIGINT) AS kn_sum_micro
       |  FROM ds LEFT JOIN sc USING (doc_id)
       |  GROUP BY ds.source),
       |tot AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS nt_tot,
       |    CAST(sum(n_bigrams) AS BIGINT) AS nb_tot,
       |    CAST(sum(kn_sum_micro) AS BIGINT) AS s_tot
       |  FROM ps),
       |sc2 AS (
       |  SELECT source, n_docs, n_tokens, n_bigrams, kn_sum_micro,
       |    CASE WHEN n_bigrams > 0
       |      THEN CAST(kn_sum_micro AS DOUBLE)
       |           / (CAST(n_bigrams AS DOUBLE) * 1000000.0)
       |      ELSE 0.0 END AS avg_lp,
       |    CASE WHEN nb_tot > 0
       |      THEN CAST(s_tot AS DOUBLE)
       |           / (CAST(nb_tot AS DOUBLE) * 1000000.0)
       |      ELSE 0.0 END AS g,
       |    CAST(n_tokens AS DOUBLE) / CAST(nt_tot AS DOUBLE) AS baseline
       |  FROM ps CROSS JOIN tot),
       |sc3 AS (
       |  SELECT *, CASE WHEN n_bigrams > 0 THEN g - avg_lp
       |                 ELSE 0.0 END AS excess
       |  FROM sc2),
       |sc4 AS (
       |  SELECT *,
       |    baseline * (${TwinSql.rationalSigmoid("4.0 * excess")}) AS score
       |  FROM sc3),
       |den AS (SELECT list_sum(list(score ORDER BY source NULLS FIRST))
       |        AS den FROM sc4)
       |SELECT source, n_docs, n_tokens, n_bigrams, kn_sum_micro, avg_lp,
       |  excess,
       |  score / den AS doremi_weight,
       |  CASE WHEN baseline > 0 THEN score / den / baseline
       |       ELSE 0.0 END AS boost
       |FROM sc4 CROSS JOIN den
       |ORDER BY source NULLS FIRST""".stripMargin) { (s, dir) =>
    // NULLS FIRST twice above: Spark's array_sort and orderBy both put
    // a null source FIRST while DuckDB's default ORDER BY puts it
    // LAST — on a corpus with a null-source junk row (the same junk
    // class the LEFT join above defends) the fold order and the row
    // order would silently diverge between engines without the pin
    doremiWeights(Tables.documents(s, dir))
  }
}
