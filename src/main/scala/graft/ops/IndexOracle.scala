package graft.ops

import org.apache.spark.sql.functions._
import graft.index.InvertedIndex
import graft.text.Normalize

/** The reference Job-1 text pipeline (normalize -> stem -> index),
  * oracle-checked end to end: the DuckDB side re-runs tokenization and
  * the full Porter stemmer in SQL ([[PorterSql]]), so these queries get
  * the driver's hash-compare instead of a rows-only check.
  */
object IndexOracle {

  def all: Seq[QueryDef] = Seq(q40, q41, q42, q100, q114, q115)

  /** Ranked retrieval (q114): the QUERY side of the inverted index —
    * disjunctive multi-term queries scored by summed TF-IDF
    * ([[graft.index.Retrieval.search]]), top-10 documents per query.
    * The query set is itself derived deterministically from the corpus
    * (the 8 most frequent raw tokens by (count desc, term), paired
    * into 4 two-term queries), so the oracle re-derives queries,
    * index, scoring, and ranking alike — no literal fixture strings.
    * Raw whitespace tokens (the q100 precedent) keep the twin
    * independent of PorterSql; per-(query, doc) scores are summed in
    * sorted term order on both engines (floats: an unordered SUM is
    * not reproducible, an ordered fold is).
    */
  val q114: QueryDef = QueryDef.sql(
    "q114_tfidf_retrieval",
    s"""WITH ${TwinSql.retrievalHeadSql},
      |w AS (
      |  SELECT tf.term, tf.doc_id,
      |    round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 9) AS w
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |m AS (SELECT qs.qid, w.doc_id, w.term, w.w FROM w JOIN qs USING (term)),
      |${TwinSql.retrievalTailSql}""".stripMargin) { (s, dir) =>
    val (tf, n, queries) = retrievalContext(s, dir)
    graft.index.Retrieval.searchPostings(tf, queries, n, k = 10)
      .orderBy(col("qid"), col("rnk"))
  }

  /** Okapi BM25 retrieval (q115): q114's query set re-ranked by
    * [[graft.index.Retrieval.searchBm25]] — saturated tf, length
    * normalization against the corpus-mean doc length, the Lucene
    * non-negative idf ln(1 + (N-df+0.5)/(df+0.5)). The twin re-derives
    * everything with the SAME literal float chain: idf is the only
    * transcendental (rounded to 9), k1+1=2.2 and 1-b=0.25 are embedded
    * as the identical single doubles Scala folds them to (verified:
    * 1.2+1.0 == 2.2 exactly in IEEE 754), dl/avgdl stay integer until
    * one division each, and per-term weights fold in sorted term
    * order.
    */
  val q115: QueryDef = QueryDef.sql(
    "q115_bm25_retrieval",
    s"""WITH ${TwinSql.retrievalHeadSql},
      |${TwinSql.bm25StatsSql},
      |${TwinSql.bm25WeightSql("", 1.2, 0.75)},
      |${TwinSql.retrievalTailSql}""".stripMargin) { (s, dir) =>
    val (tf, n, queries) = retrievalContext(s, dir)
    graft.index.Retrieval.searchBm25Postings(tf, queries, n, k = 10)
      .orderBy(col("qid"), col("rnk"))
  }

  /** The q114/q115 inputs: raw whitespace-token postings, the corpus
    * size, and the query set (the 8 most frequent tokens by (count
    * desc, term), paired into 4 two-term queries). The postings are
    * built ONCE (lazy checkpoint: materialized by the top8 collect,
    * reused by the search action — without it the query-set derivation
    * and the search each re-aggregate the token stream).
    */
  private def retrievalContext(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, Long, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val docs = Tables.documentsFan(s, dir)
    val toks = docs.select(col("doc_id"),
      explode(TextAnalytics.toks(col("text"))).as("term"))
    val n = docs.count()
    val tf = graft.index.Retrieval.postings(toks).localCheckpoint(false)
    // human-sized query set: driver-side by nature (8 rows);
    // term totals = sum of tf — no token re-pass
    val top8 = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(8)
      .collect().map(_.getString(0))
    val queries = top8.zipWithIndex
      .map { case (t, i) => (i.toLong / 2L, t) }.toSeq
      .toDF("qid", "term")
    (tf, n, queries)
  }

  /** Reference Job 1 end-to-end: normalize (tokenize/punct/stopword/
    * Porter-stem) -> term-document presence matrix (serialized in the
    * reference's `[b1,...,bN,]` byte format for the demo).
    */
  val q40: QueryDef = QueryDef.sql(
    "q40_inverted_index",
    s"""WITH ${PorterSql.tokensCtes},
       |d AS MATERIALIZED (SELECT DISTINCT term, doc_id FROM tokens),
       |t AS (SELECT DISTINCT term FROM d),
       |ids AS (SELECT unnest(range(0, (SELECT count(*) FROM documents))) AS i)
       |SELECT t.term,
       |  '[' || string_agg(CASE WHEN d.doc_id IS NOT NULL THEN '1' ELSE '0' END,
       |                    ',' ORDER BY ids.i) || ',]' AS line
       |FROM t CROSS JOIN ids
       |LEFT JOIN d ON d.term = t.term AND d.doc_id = ids.i
       |GROUP BY t.term
       |ORDER BY t.term""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val n = docs.count().toInt
    InvertedIndex.referenceFormat(
      InvertedIndex.termDocMatrixFast(Normalize.tokens(docs), n))
      .orderBy(col("term"))
  }

  /** Posting lists + document frequency (the scalable index form).
    * df is derived from the posting set (size), not a second
    * aggregation + join — one exchange total. The posting list is
    * serialized to a space-joined string in the query output: the
    * driver's hash-compare sorts rows in pandas, which cannot order
    * raw array columns.
    */
  val q41: QueryDef = QueryDef.sql(
    "q41_postings",
    s"""WITH ${PorterSql.tokensCtes},
       |d AS (SELECT DISTINCT term, doc_id FROM tokens)
       |SELECT term, CAST(count(*) AS BIGINT) AS df,
       |  string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS doc_ids
       |FROM d GROUP BY term
       |ORDER BY term""".stripMargin) { (s, dir) =>
    InvertedIndex.postings(Normalize.tokens(Tables.documents(s, dir)))
      .select(col("term"), size(col("doc_ids")).cast("bigint").as("df"),
        concat_ws(" ", transform(col("doc_ids"), d => d.cast("string")))
          .as("doc_ids"))
      .orderBy(col("term"))
  }

  /** TF-IDF: top weighted terms per document (first 50 docs). The
    * weight is rounded to 9 decimals on BOTH engines and the rank is
    * computed over the rounded value: ln() is not correctly-rounded,
    * so the raw doubles can differ by 1 ulp across runtimes (see the
    * q58 statistics precedent).
    */
  val q42: QueryDef = QueryDef.sql(
    "q42_tfidf_top_terms",
    s"""WITH ${PorterSql.tokensCtes},
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM tokens GROUP BY doc_id, term),
       |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |       FROM tokens GROUP BY term),
       |n AS (SELECT count(*) AS n FROM documents),
       |w AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 9) AS tfidf
       |  FROM tf JOIN df USING (term) CROSS JOIN n
       |  WHERE tf.doc_id < 50),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY tfidf DESC, term) AS rnk FROM w)
       |SELECT doc_id, term, tf, df, tfidf, rnk
       |FROM r WHERE rnk <= 5
       |ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val n = docs.count()
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    InvertedIndex.tfidf(Normalize.tokens(docs), n)
      .filter(col("doc_id") < 50)
      .withColumn("tfidf", round(col("tfidf"), 9))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Incremental index maintenance (q100): postings built over the
    * first corpus slice (doc_id < 400), then the remaining documents
    * folded in via [[InvertedIndex.mergePostings]] — the oracle
    * recomputes the FULL corpus index directly, so the hash-match
    * proves merge == rebuild on real data. Raw whitespace tokens (no
    * stemming) keep the oracle independent of PorterSql here; the
    * stemmed pipeline is covered by q40-q42.
    */
  val q100: QueryDef = QueryDef.sql(
    "q100_index_merge",
    s"""WITH t AS (
      |  SELECT DISTINCT doc_id, unnest(${TwinSql.toksSql}) AS term
      |  FROM documents)
      |SELECT term,
      |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
      |FROM t GROUP BY term ORDER BY term""".stripMargin) { (s, dir) =>
    val tokens = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextAnalytics.toks(col("text"))).as("term"))
    val existing = InvertedIndex.postings(tokens.filter(col("doc_id") < 400))
    InvertedIndex.mergePostings(existing, tokens.filter(col("doc_id") >= 400))
      .select(col("term"),
        concat_ws(",", transform(col("doc_ids"), _.cast("string"))).as("doc_ids"))
      .orderBy(col("term"))
  }
}
