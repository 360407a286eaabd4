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
}
