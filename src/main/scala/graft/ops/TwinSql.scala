package graft.ops

/** Shared DuckDB-twin SQL fragments. These strings are load-bearing
  * for the bit-exact oracle contract: the cosine fold must be the
  * LITERAL-identical formula to the codegen CosineSimilarityExpr
  * (dot AND norms accumulated in index order over the COMMON PREFIX —
  * VectorOps.cosine runs i < min(len a, len b) for all three sums, so
  * full-list norms here would silently diverge on ragged pairs), and
  * the zero-norm guard must mirror VectorOps.cosine's zero-norm =>
  * 0.0 convention INCLUDING the empty-vector case (list_sum over an
  * empty list is NULL in DuckDB, so the guard coalesces to 0). One
  * definition, consumed by every twin that scores vectors — a future
  * change lands everywhere or nowhere.
  *
  * The same holds for every CTE chain two or more twins spell: the
  * set-overlap core and its Jaccard pairs, connected components, the
  * MinHash band chain, the per-source chi-square spine, BM25 and the
  * kNN top-k tail are rendered here, each from the source relation, a
  * CTE suffix and a threshold or `k` only where their consumers
  * differ. Every twin stays independent DuckDB SQL; nothing here is
  * rendered from Spark code. SourceGuardSpec fails when a chain is
  * spelled outside its generator.
  */
private[ops] object TwinSql {

  private def prefixSum(a: String, b: String, x: String, y: String): String =
    s"""list_sum(list_transform(range(1, least(len($a), len($b)) + 1),
       |      i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))""".stripMargin

  /** The q31 cosine formula over two DuckDB list columns: dot and both
    * norms folded in index order over the common prefix, the exact
    * loop VectorOps.cosine runs.
    */
  def cos(a: String, b: String): String =
    s"""${prefixSum(a, b, a, b)}
       |    / (sqrt(${prefixSum(a, b, a, a)})
       |       * sqrt(${prefixSum(a, b, b, b)}))""".stripMargin

  /** [[cos]] with Spark's zero-norm convention (VectorOps.cosine
    * returns 0.0 when either prefix norm is zero — including empty
    * vectors, whose list_sum is NULL here, hence the COALESCE):
    * unguarded, DuckDB divides by zero (NULL/inf) where Spark scores
    * 0.0, silently diverging a shortlist ranking on a degenerate
    * vector — e.g. an all-zero SQ8-reconstructed candidate when a
    * dimension's corpus range collapses. Use this form wherever a
    * twin SCORES vectors; [[distZ]] is the distance-stage form.
    */
  def cosZ(a: String, b: String): String =
    s"""CASE WHEN COALESCE(${prefixSum(a, b, a, a)}, 0) = 0
       |       OR COALESCE(${prefixSum(a, b, b, b)}, 0) = 0
       |     THEN 0.0
       |     ELSE ${cos(a, b)} END""".stripMargin

  /** Cosine DISTANCE with the same guard: degenerate vectors are at
    * distance 1.0 (Spark: 1 - cosine = 1 - 0.0), the form the IVF /
    * SQ8 probe stages need — single definition instead of per-stage
    * hand-inlined copies of the two-line guard.
    */
  def distZ(a: String, b: String): String =
    s"""CASE WHEN COALESCE(${prefixSum(a, b, a, a)}, 0) = 0
       |       OR COALESCE(${prefixSum(a, b, b, b)}, 0) = 0
       |     THEN 1.0
       |     ELSE 1.0 - ${cos(a, b)} END""".stripMargin

  /** The q109 linear-classifier logit in twin SQL — the SQL face of
    * TextAnalytics.classifierZ, with the weights spelled once. Callers
    * pass their own column/expression names for the four features
    * (q158 passes "(ns / nt)" for the stop ratio, q163 "nt" for the
    * token count). Consumed by the q109 / q158 / q163 / q169 twins:
    * a drifted copy of the weights in any one of them would silently
    * grade a different classifier than the engine ships.
    */
  def classifierZ(stopRatio: String, nTokens: String,
                  punctRatio: String, digitRatio: String): String =
    s"-2.0 + $stopRatio * 6.0 + least(1.0, $nTokens / 64.0) * 2.0" +
      s" - $punctRatio * 8.0 - $digitRatio * 4.0"

  /** The RATIONAL sigmoid 0.5 + 0.5·z/(1+|z|) in twin SQL — the SQL
    * face of TextAnalytics.rationalSigmoid (IEEE-exact on both
    * engines, unlike libm exp). `z` is parenthesized before the
    * division: a compound expression (e.g. classifierZ's sum) would
    * otherwise be re-associated by SQL precedence into dividing only
    * its last term — a different function that HAPPENED to threshold
    * and rank identically at the single 0.5 cut the pre-q191 callers
    * used (caught by q191's multi-threshold sweep).
    */
  def rationalSigmoid(z: String): String =
    s"0.5 + 0.5 * (($z) / (1.0 + abs($z)))"

  /** The document-quality features in twin SQL — the SQL faces of
    * the same-named TextAnalytics columns, ONE definition each. `t` is
    * a token list ([[toksOf]]), `text` the raw text; a NULL text's
    * len(t) is NULL, so every counter is NULL there, as on the engine.
    * The probe IN-list is rendered from TextAnalytics.probeStops.
    */
  def nTokens(t: String): String = s"CAST(len($t) AS BIGINT)"
  private def sumLen(t: String): String =
    s"CAST(COALESCE(list_sum(list_transform($t, x -> length(x))), 0) AS BIGINT)"
  private def nAlpha(t: String): String =
    s"CAST(len(list_filter($t, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)"
  private def stopHits(t: String): String =
    s"len(list_filter($t, x -> x IN " +
      TextAnalytics.probeStops.map(w => s"'$w'").mkString("(", ",", ")") + "))"
  private def nStop(t: String): String = s"CAST(${stopHits(t)} AS BIGINT)"
  def stopRatio(t: String): String = s"${stopHits(t)} / len($t)"
  def punctChars(text: String): String =
    s"(length($text) - length(regexp_replace($text, '\\p{P}', '', 'g')))"
  def punctRatio(text: String): String = s"${punctChars(text)} / length($text)"
  def digitRatio(text: String): String =
    s"(length($text) - length(regexp_replace($text, '[0-9]', '', 'g'))) / length($text)"

  /** The [[gopherRuleFlags]] inputs as columns nt, sl, na, ns. */
  def gopherCounters(t: String): String =
    s"${nTokens(t)} AS nt, ${sumLen(t)} AS sl, ${nAlpha(t)} AS na, ${nStop(t)} AS ns"

  /** q126's four Gopher rules, (count, wordlen, alpha, stop) in that
    * order, unparenthesized; [[gopherPass]] is their conjunction.
    */
  def gopherRuleFlags(nt: String, sl: String, na: String, ns: String): Seq[String] = Seq(
    s"$nt >= 50 AND $nt <= 100000",
    s"3 * $nt <= $sl AND $sl <= 10 * $nt",
    s"10 * $na >= 8 * $nt",
    s"$ns >= 2")

  def gopherPass(nt: String, sl: String, na: String, ns: String): String =
    gopherRuleFlags(nt, sl, na, ns).mkString(" AND ")

  /** The q23 composite quality score over the ratio features. */
  def qscore(punct: String, digit: String, nTokens: String, stop: String): String =
    s"(1.0 - $punct) * (1.0 - $digit) * least(1.0, $nTokens / 64.0) * (0.5 + $stop)"

  /** The engine-neutral whitespace tokenizer in twin SQL — ONE
    * definition of the split the oracle-checked text queries replay
    * (the Spark side is TextAnalytics.toks). The class is spelled
    * explicitly, not as \s: the engine's split runs Java regex, whose
    * \s is exactly [ \t\n\x0B\f\r], while DuckDB's RE2 \s omits
    * vertical tab \x0B — a U+000B in a document would silently
    * tokenize differently across engines under the shorthand.
    */
  val toksSql: String = toksOf("text")

  /** [[toksSql]] over any column expression (`lower(text)`,
    * `va.text`, ...) — new twins should build their tokenizer through
    * this instead of hand-spelling the class; PlanAuditSpec
    * additionally forbids the \s shorthand in ANY registered oracle
    * SQL, so a regression to the RE2-divergent form fails CI.
    */
  def toksOf(expr: String): String =
    s"""list_filter(string_split_regex($expr, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')"""

  /** The q207 Unicode case/diacritic fold in twin SQL — the SQL face
    * of [[graft.text.Fold.fold]] (NFC → lower → strip marks → NFC;
    * the engines' agreement envelope is documented there). ONE
    * definition: a twin hand-spelling a different normalization order
    * would screen a different shingle stream than the engine folds.
    */
  def foldTextOf(expr: String): String =
    s"replace(nfc_normalize(strip_accents(lower(nfc_normalize($expr)))), " +
      "'ς', 'σ')"

  /** The tie-corrected per-source Mann-Whitney AUC in twin SQL — the
    * SQL face of TextAnalytics.aucBySource (average ranks over
    * (source, score) group counts, doubled rank-sum in DECIMAL(38,0),
    * one literal division; see q175's scaladoc for the math). Emits
    * three CTE definitions `g$sfx`, `cum$sfx`, `a$sfx` over a relation
    * `src`(source, score, pos); `a$sfx` carries (source, n_pos, n_neg,
    * r2) and [[aucSelect]] is the final AUC expression over its
    * columns. ONE definition consumed by the q175 twin and both AUC
    * arms of the q178 twin — a drifted copy of the rank math in any of
    * them would grade a different discrimination statistic than the
    * engine computes.
    */
  def aucChain(src: String, sfx: String): String =
    s"""g$sfx AS (
       |  SELECT source, score, CAST(count(*) AS BIGINT) AS c,
       |    CAST(sum(pos) AS BIGINT) AS p
       |  FROM $src GROUP BY source, score),
       |cum$sfx AS (
       |  SELECT source, score, c, p,
       |    CAST(COALESCE(sum(c) OVER (PARTITION BY source ORDER BY score
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cb
       |  FROM g$sfx),
       |a$sfx AS (
       |  SELECT source,
       |    CAST(sum(p) AS BIGINT) AS n_pos,
       |    CAST(sum(c) - sum(p) AS BIGINT) AS n_neg,
       |    sum(CAST(p AS DECIMAL(38,0))
       |        * (CAST(2 AS DECIMAL(38,0)) * cb + c + CAST(1 AS DECIMAL(38,0))))
       |      AS r2
       |  FROM cum$sfx GROUP BY source)""".stripMargin

  /** The final AUC expression over an [[aucChain]] `a$sfx` row's
    * columns (qualify with the CTE alias when joining two chains).
    */
  def aucSelect(nPos: String, nNeg: String, r2: String): String =
    s"""CASE WHEN $nPos > 0 AND $nNeg > 0
       |    THEN round(CAST($r2 - CAST($nPos AS DECIMAL(38,0))
       |                         * (CAST($nPos AS DECIMAL(38,0)) + CAST(1 AS DECIMAL(38,0)))
       |               AS DOUBLE)
       |      / (2.0 * CAST($nPos AS DOUBLE) * CAST($nNeg AS DOUBLE)), 9)
       |    ELSE 0.0 END""".stripMargin

  /** The distinct whitespace-token set CTE `$name`(doc_id, term) over
    * the `text` column of `from` — the unit relation of every
    * token-set overlap twin.
    */
  def termSetSql(from: String, name: String): String =
    s"""$name AS (
       |  SELECT DISTINCT doc_id, term FROM (
       |    SELECT doc_id, unnest(${toksOf("text")}) AS term
       |    FROM $from))""".stripMargin

  /** The distinct codepoint-n-gram CTE `$name`(doc_id, gram) — ONE
    * definition of the gram derivation (substring windows, min-1-window
    * bound, empty-gram drop) consumed by [[charPairChainSql]] (q211's
    * arms) AND q212's exact-intersection side: a drifted copy would
    * have the two char oracles re-deriving DIFFERENT gram sets from
    * the same corpus. DuckDB's substring and length count characters,
    * matching the engine's codepoint semantics; the gram <> '' filter
    * is the engine column's empty-gram drop (only empty text produces
    * one).
    */
  def charGramCteSql(from: String, name: String, n: Int): String =
    s"""$name AS (
       |  SELECT DISTINCT doc_id, gram FROM (
       |    SELECT doc_id, substring(text, i + 1, $n) AS gram FROM (
       |      SELECT doc_id, text,
       |        unnest(range(0, greatest(length(text) - $n, 0) + 1)) AS i
       |      FROM $from))
       |  WHERE gram <> '')""".stripMargin

  /** The exact set-overlap core over a DISTINCT (doc_id, `unit`)
    * relation `units`: CTEs `sz$sfx`(doc_id, n), the per-document set
    * size, and `inter$sfx`(d1, d2, n_common) over d1 < d2 — the SQL
    * face of Dedup.overlapCounts. ONE definition under every Jaccard,
    * containment and cluster twin, token, shingle and char-gram alike.
    */
  def overlapSql(units: String, unit: String, sfx: String = ""): String =
    s"""sz$sfx AS (SELECT doc_id, count(*) AS n FROM $units GROUP BY doc_id),
       |inter$sfx AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_common
       |  FROM $units a JOIN $units b ON a.$unit = b.$unit AND a.doc_id < b.doc_id
       |  GROUP BY d1, d2)""".stripMargin

  /** The shipped 0.7 Jaccard gate over an [[overlapSql]] chain: CTE
    * `pairs$sfx`(d1, d2), the same division form the engine's
    * jaccardPairs compares.
    */
  def jaccPairsSql(sfx: String = ""): String =
    s"""pairs$sfx AS (
       |  SELECT d1, d2 FROM inter$sfx
       |  JOIN sz$sfx s1 ON s1.doc_id = d1
       |  JOIN sz$sfx s2 ON s2.doc_id = d2
       |  WHERE n_common / (s1.n + s2.n - n_common) >= 0.7)""".stripMargin

  /** The exact-Jaccard-0.7 token pair chain (t → sz → inter → pairs)
    * over the `text` of `from`, CTE names suffixed by `sfx` — shared by
    * the q85/q135/q155/q162/q198 cluster oracles, both arms of the q207
    * raw-vs-normalized comparison and the word arms of q211/q213/q214
    * (a drifted copy of the threshold or the distinct-token sets in any
    * of them would verify different pairs than the engine strikes).
    */
  def jaccPairChainSql(from: String, sfx: String = ""): String =
    s"""${termSetSql(from, s"t$sfx")},
       |${overlapSql(s"t$sfx", "term", sfx)},
       |${jaccPairsSql(sfx)}""".stripMargin

  /** The char-level [[jaccPairChainSql]]: the same chain over
    * [[charGramCteSql]] n-grams.
    */
  def charPairChainSql(from: String, sfx: String, n: Int): String =
    s"""${charGramCteSql(from, s"t$sfx", n)},
       |${overlapSql(s"t$sfx", "gram", sfx)},
       |${jaccPairsSql(sfx)}""".stripMargin

  /** Connected components of the undirected graph over a `pairs`(d1,
    * d2) CTE: CTEs `edges`, the recursive min-reachable-vertex
    * `reach`(v, r) and `comp`(doc_id, cluster_id) — the twin of
    * Dedup.connectedComponents, whose component label is the minimum
    * member id. The query must open with WITH RECURSIVE.
    */
  val componentsSql: String =
    """edges AS (
      |  SELECT d1 AS a, d2 AS b FROM pairs
      |  UNION SELECT d2 AS a, d1 AS b FROM pairs),
      |reach(v, r) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT e.a, re.r FROM edges e JOIN reach re ON re.v = e.b),
      |comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v)""".stripMargin

  /** The MinHash band chain over an aux signature dump `sigDump`
    * (rows doc_id, pos, h): CTEs `s`(doc_id, mh), the 8 bands of 4
    * slots `b`(doc_id, band, key) and the banded candidate pairs
    * `cand`(d1, d2) — the twin of Dedup.bandsFromSignatures and
    * candidatesFromBands at their 32-hash, 4-row operating point,
    * grouping the RAW slot slice where the engine equi-joins its
    * xxhash64.
    */
  def bandCandidatesSql(sigDump: String): String =
    s"""s AS (
       |  SELECT doc_id, list(h ORDER BY pos) AS mh
       |  FROM read_parquet('__GRAFT_OUT__/$sigDump/*.parquet')
       |  GROUP BY doc_id),
       |b AS (
       |  SELECT doc_id, g.b AS band, list_slice(mh, g.b*4 + 1, g.b*4 + 4) AS key
       |  FROM s CROSS JOIN (SELECT unnest(range(8)) AS b) g),
       |cand AS (
       |  SELECT a.doc_id AS d1, c.doc_id AS d2
       |  FROM b a JOIN b c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
       |  GROUP BY d1, d2)""".stripMargin

  /** The per-candidate MinHash slot agreement over a
    * [[bandCandidatesSql]] chain: CTE `m`(d1, d2, n_match) over the 32
    * signature slots.
    */
  val slotMatchSql: String =
    """m AS (
      |  SELECT cand.d1, cand.d2,
      |    CAST(len(list_filter(range(1, 33), i -> s1.mh[i] = s2.mh[i])) AS BIGINT)
      |      AS n_match
      |  FROM cand JOIN s s1 ON s1.doc_id = cand.d1
      |            JOIN s s2 ON s2.doc_id = cand.d2)""".stripMargin

  /** The per-source χ² over buckets in twin SQL — the SQL face of
    * CorpusDrift.chiSquareByBucket. Over a CTE `b`(source, bucket)
    * emits `cb` (bucket totals), `sb` (observed per source and bucket),
    * `ns`, `tot`, the source × bucket `spine` and `terms`(source,
    * n_docs, bucket, term): one (O - E)²/E double per cell with the
    * literal division order the engine folds, so summing `terms` in
    * bucket order reproduces its chi² bit for bit.
    */
  val chiSquareSql: String =
    """cb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY bucket),
      |sb AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS o
      |       FROM b GROUP BY source, bucket),
      |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      |       FROM b GROUP BY source),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
      |spine AS (SELECT ns.source, ns.n_docs, cb.bucket, cb.c, tot.n
      |          FROM ns CROSS JOIN cb CROSS JOIN tot),
      |terms AS (
      |  SELECT source, n_docs, bucket,
      |    (CAST(COALESCE(sb.o, 0) AS DOUBLE)
      |       - CAST(spine.n_docs AS DOUBLE) * CAST(spine.c AS DOUBLE) / CAST(spine.n AS DOUBLE))
      |    * (CAST(COALESCE(sb.o, 0) AS DOUBLE)
      |       - CAST(spine.n_docs AS DOUBLE) * CAST(spine.c AS DOUBLE) / CAST(spine.n AS DOUBLE))
      |    / (CAST(spine.n_docs AS DOUBLE) * CAST(spine.c AS DOUBLE) / CAST(spine.n AS DOUBLE))
      |      AS term
      |  FROM spine LEFT JOIN sb USING (source, bucket))""".stripMargin

  /** The head of the q114/q115 retrieval twins: raw whitespace tokens
    * `tk`(doc_id, term), the corpus size `n`, the 8 most frequent
    * tokens by (count desc, term) paired into 4 two-term queries
    * `qs`(qid, term), the postings `tf`(term, doc_id, tf) and the
    * document frequencies `df`(term, df).
    */
  val retrievalHeadSql: String =
    s"""tk AS (
       |  SELECT doc_id,
       |    unnest($toksSql) AS term
       |  FROM documents),
       |n AS (SELECT count(*) AS n FROM documents),
       |top8 AS (
       |  SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) - 1 AS r
       |  FROM tk GROUP BY term ORDER BY count(*) DESC, term LIMIT 8),
       |qs AS (SELECT CAST(r // 2 AS BIGINT) AS qid, term FROM top8),
       |tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |       FROM tk GROUP BY term, doc_id),
       |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |       FROM tk GROUP BY term)""".stripMargin

  /** The tail of the q114/q115 retrieval twins over the matched weights
    * `m`(qid, doc_id, term, w): the per-(qid, doc_id) score folded in
    * sorted term order, then the top 10 per query by (score desc,
    * doc_id), totally ordered — Retrieval's top-k fold and window.
    */
  val retrievalTailSql: String =
    """agg AS (
      |  SELECT qid, doc_id,
      |    list_sum(list(w ORDER BY term)) AS score,
      |    CAST(count(*) AS BIGINT) AS n_matched
      |  FROM m GROUP BY qid, doc_id)
      |SELECT qid, doc_id, score, n_matched, rnk FROM (
      |  SELECT qid, doc_id, score, n_matched,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      |  FROM agg)
      |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  /** The BM25 sufficient statistics over the eval head's `tk`(doc_id,
    * term), `tf`, `df` and `n` CTEs: `tfdl` (tf with the document
    * length), the Lucene non-negative `idf` rounded to 9 places (the
    * only transcendental) and the corpus-mean length `ad` — the SQL
    * face of graft.index.Retrieval's BM25 build.
    */
  val bm25StatsSql: String =
    """tfdl AS (SELECT term, doc_id, tf,
      |         CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
      |         FROM tf),
      |idf AS (
      |  SELECT term,
      |    round(ln((CAST(n.n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |      / (CAST(df AS DOUBLE) + 0.5) + 1.0), 9) AS idf
      |  FROM df CROSS JOIN n),
      |ad AS (
      |  SELECT CAST(sum(dl0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
      |  FROM (SELECT doc_id, count(*) AS dl0 FROM tk GROUP BY doc_id))""".stripMargin

  /** The BM25 term weights at (k1, b) over [[bm25StatsSql]], matched to
    * the query terms `qs`(qid, term): CTEs `w$sfx`(term, doc_id, w) and
    * `m$sfx`(qid, doc_id, term, w). The Scala-folded doubles (k1 + 1,
    * 1 - b) are interpolated exactly as the Scala side folds them —
    * Double.toString round-trips, so both engines embed the identical
    * literal (at k1 = 1.2, b = 0.75: 2.2 and 0.25).
    */
  def bm25WeightSql(sfx: String, k1: Double, b: Double): String =
    s"""w$sfx AS (
       |  SELECT tfdl.term, tfdl.doc_id,
       |    idf.idf * (CAST(tf AS DOUBLE) * ${k1 + 1.0}
       |      / (CAST(tf AS DOUBLE)
       |         + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE) / avgdl))) AS w
       |  FROM tfdl JOIN idf USING (term) CROSS JOIN ad),
       |m$sfx AS (SELECT qs.qid, w$sfx.doc_id, w$sfx.term, w$sfx.w
       |          FROM w$sfx JOIN qs USING (term))""".stripMargin

  /** One BM25 scoring arm at (k1, b): [[bm25WeightSql]], the per-query
    * score fold in sorted term order, then CTE `arm$sfx`(system, qid,
    * cid, rk) — the top `k` candidates other than the query document,
    * rows named `sys`.
    */
  def bm25ArmSql(sys: String, sfx: String, k1: Double, b: Double,
                 k: Int): String =
    s"""${bm25WeightSql(sfx, k1, b)},
       |agg$sfx AS (
       |  SELECT qid, doc_id, list_sum(list(w ORDER BY term)) AS score
       |  FROM m$sfx GROUP BY qid, doc_id),
       |scut$sfx AS (
       |  SELECT qid, doc_id, score FROM (
       |    SELECT qid, doc_id, score,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r0
       |    FROM agg$sfx)
       |  WHERE r0 <= ${k + 1}),
       |arm$sfx AS (
       |  SELECT '$sys' AS system, qid, cid, rk FROM (
       |    SELECT qid, doc_id AS cid,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
       |    FROM scut$sfx WHERE doc_id <> qid)
       |  WHERE rk <= $k)""".stripMargin

  /** The top-`k` tail of a kNN twin: rows (qid, cid, score) of `from`
    * ranked per query by score descending, cid ascending, cut at `k`
    * and totally ordered — the engine's row_number window and tie
    * break.
    */
  def topKSql(from: String, k: Int): String =
    s"""SELECT qid, cid, score, rnk FROM (
       |  SELECT qid, cid, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
       |  FROM $from)
       |WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin
}
