package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

import graft.Checkpoints

/** Query-time retrieval over the inverted-index family: the searching
  * counterpart of [[InvertedIndex]]'s build side. Disjunctive (OR)
  * multi-term queries are scored by summed TF-IDF — the classic
  * ranked-retrieval shape (Salton's vector model; the idf form matches
  * q42's smoothed ln((N+1)/(df+1))) — or Okapi BM25.
  *
  * Scale shape: the postings aggregate IS the index build — the ONE
  * corpus-wide exchange; df, dl, and avgdl all derive from it
  * (vocabulary/posting-sized follow-ups), so the token stream is
  * aggregated exactly once per plan, and a caller holding a persisted
  * postings table skips that exchange via the `*Postings` variants.
  * BM25 goes one step further: [[bm25Stats]] attaches dl, idf and avgdl
  * to every posting and cuts the lineage there, so the BM25 index is
  * ONE frame whose plan is a single RDD scan, and a search is one
  * broadcast join over it — it neither recomputes nor re-renders the
  * build. The query set is broadcast (queries are human-sized; the
  * posting side never shuffles for the match); one built on the driver,
  * such as one search string's distinct terms, is folded to a local
  * relation by the optimizer ([[graft.functions.FoldLocalRelations]]),
  * so its distinct runs no shuffle stage. The index states its hash
  * partitioning on doc_id through its checkpoint, so per-(query, doc)
  * accumulation runs in the scan stage, and a search's one exchange, on
  * the query, carries each partition's top-k rows per query (Spark's
  * partial window group limit) to the top-k window — never a global
  * sort. Where the postings are not partitioned on doc_id (the one-shot
  * `*Postings` searches), the accumulation exchanges only MATCHED
  * postings (candidate-sized, not corpus-sized). Per-term contributions
  * are summed in sorted term order via an array fold, so scores are
  * reproducible bit-for-bit across engines and across partitionings
  * (float addition is not associative; an unordered SUM would not be).
  */
object Retrieval {

  /** The postings table (term, doc_id, tf) — one partial+final
    * exchange over the (doc_id, term) token stream. This is the frame
    * a serving deployment persists; everything else derives from it.
    */
  def postings(tokens: DataFrame): DataFrame =
    tokens.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Rank the top `k` documents per query by summed TF-IDF.
    *
    * @param tokens  (doc_id, term) one row per token occurrence
    * @param queries (qid, term) one row per query term
    * @param nDocs   corpus document count (for the idf numerator)
    * @return (qid, doc_id, score, n_matched, rnk), rnk 1..k per qid
    */
  def search(tokens: DataFrame, queries: DataFrame, nDocs: Long,
             k: Int): DataFrame =
    searchPostings(postings(tokens), queries, nDocs, k)

  /** [[search]] from a prebuilt [[postings]] table (persisted index
    * serving path; also lets one materialized build feed several
    * query-time actions).
    */
  def searchPostings(tf: DataFrame, queries: DataFrame, nDocs: Long,
                     k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // df from the postings table, not a second token pass: one row per
    // (term, doc) means count(*) IS countDistinct(doc_id), and when tf
    // is built inline the exchange under both branches is canonically
    // identical, so ReuseExchange runs the corpus aggregate ONCE
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // query semi-join FIRST (r15, guide §1.2/§2.3): the broadcast join
    // on the bounded query term set drops most postings before the
    // df join and the weight arithmetic run — before, every posting in
    // the corpus paid the idf join + ln/round only to be discarded by
    // the query match. w is the same expression on the same surviving
    // rows, so scores are bit-identical.
    // the q42 weight, per (term, doc): rounded so the ln ulp noise
    // cannot differ across engines (same literal formula in the twin)
    val weighted = tf.join(broadcast(queries), "term")
      .join(df, "term")
      .withColumn("w",
        round(col("tf") * log((lit(nDocs) + lit(1.0)) / (col("df") + lit(1.0))), 9))
    topK(weighted, k)
  }

  /** Rank the top `k` documents per query by Okapi BM25 (Robertson et
    * al.) — the production default [[search]]'s flat TF-IDF
    * approximates: term frequency saturates (k1) and is normalized by
    * document length against the corpus mean (b).
    *
    * Float discipline (the q114 contract, extended): idf is the ONLY
    * transcendental — ln of the query-independent smoothed odds,
    * rounded to 9 decimals so the last-ulp libm difference between
    * engines vanishes; avgdl is an exact integer ratio (sum(dl)/N
    * stays integer arithmetic until ONE final division); the
    * saturation term is a fixed left-to-right `* / +` chain written
    * identically in the DuckDB twin (each op correctly rounded, so the
    * chain is bit-reproducible); per-term weights fold in sorted term
    * order.
    *
    * @param tokens  (doc_id, term) one row per token occurrence
    * @param queries (qid, term) one row per query term
    * @param nDocs   corpus document count
    * @return (qid, doc_id, score, n_matched, rnk), rnk 1..k per qid
    */
  def searchBm25(tokens: DataFrame, queries: DataFrame, nDocs: Long, k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchBm25Postings(postings(tokens), queries, nDocs, k, k1, b)

  /** The BM25 index of a postings table: every posting carries its
    * document length and its term's rounded idf, next to the scalar
    * avgdl — one row per (term, doc_id), columns (term, doc_id, tf, dl,
    * idf, avgdl), hash-partitioned on doc_id. It is built ONCE and
    * shared across every (k1, b) operating point (the q206 sweep's
    * shape, mirroring its twin's single tfdl/idf/ad CTE set), and a
    * search reads nothing else: the index joined to the broadcast query
    * terms, then the per-row weight, then the top-k fold, all in the
    * index's own partitions up to the one exchange on the query.
    *
    * A search reads `tfdl` only, and `tfdl` must carry all six columns
    * above: stats assembled by hand from a (term, doc_id, tf, dl) frame
    * fail at analysis, and whatever `idf` and `avgdl` frames they hold
    * are ignored. The two are projections of the index (a posting-sized
    * `distinct` and a `limit(1)`), kept so existing callers still
    * compile; they can go once no caller reads them.
    */
  case class Bm25Stats(tfdl: DataFrame, idf: DataFrame, avgdl: DataFrame) {

    /** Frees the blocks of the index [[bm25Stats]] returned (a local
      * checkpoint, which `Dataset.unpersist()` does not free). Stats
      * assembled from other frames are left alone. Reading the index
      * after release throws.
      */
    def release(): Unit = Checkpoints.release(tfdl)
  }

  /** [[Bm25Stats]] of a postings table, with the index materialized by
    * this call behind one lineage cut: a local checkpoint,
    * hash-partitioned on doc_id, whose plan is a single RDD scan that
    * states that partitioning (`Shim.hashPartitionedCheckpoint`), so no
    * later search recomputes or re-renders the build, and a search folds
    * each (query, doc) in the scan stage and exchanges only per-partition
    * top-k rows. The postings, keyed the same way, are checkpointed
    * first and freed once the index is stored: every branch of the build
    * (dl, df, avgdl and the postings themselves) reads them, and without
    * an exchange to reuse each branch would recompute them from the
    * documents. Postings already partitioned on doc_id (curate's frame,
    * tokenized) are not exchanged at all: both repartitions are planned
    * away. A caller need not persist the index: a `persist()` over it
    * keeps a second in-memory copy of the same rows. Free it with
    * [[Bm25Stats.release]] when done.
    */
  def bm25Stats(tf: DataFrame, nDocs: Long): Bm25Stats = {
    val postings = Shim.hashPartitionedCheckpoint(tf, Seq("doc_id"), eager = false)
    val index =
      try Shim.hashPartitionedCheckpoint(bm25Index(postings, nDocs), Seq("doc_id"),
        eager = true)
      finally Checkpoints.release(postings)
    Bm25Stats(index, index.select(col("term"), col("idf")).distinct(),
      index.select(col("avgdl")).limit(1))
  }

  /** The build plan of [[bm25Stats]]'s index, before the lineage cut.
    * The postings aggregate is computed once: dl, df and avgdl all
    * derive from it, and every branch reads its `tf` column, so the
    * branches plan the same aggregate and adaptive execution reuses its
    * one exchange. df therefore counts the postings with `tf > 0`, which
    * is every posting: a `count(1)`, or a `count(tf)` Catalyst folds to
    * one, prunes `tf`, and the df branch then re-tokenizes the documents
    * into a second, distinct-only aggregate with its own exchange.
    * df is a partial-then-final aggregate per term, so a term in every
    * document costs one row per map task, not one task holding all its
    * postings. dl is a document-sized aggregate reused for both the
    * per-doc normalization and avgdl, never a corpus-wide window sort;
    * the planner picks how the postings meet dl and idf from their
    * sizes. The one broadcast hint and the one nested-loop join attach
    * the one-row avgdl.
    *
    * Postings with a null term or doc_id are dropped up front, in every
    * branch alike: the inner joins drop them from the index anyway, and
    * otherwise the not-null filters Catalyst infers for the join sides
    * alone make those branches' aggregate differ from the others'.
    */
  private[graft] def bm25Index(postings: DataFrame, nDocs: Long): DataFrame = {
    val tf = postings.filter(col("term").isNotNull && col("doc_id").isNotNull)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val idf = tf.groupBy(col("term")).agg(count_if(col("tf") > 0).as("df"))
      .select(col("term"),
        round(log((lit(nDocs.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)), 9).as("idf"))
    val avgdl = dl.agg((sum(col("dl")).cast("double") /
      count(lit(1)).cast("double")).as("avgdl"))
    tf.join(dl, "doc_id").join(idf, "term").crossJoin(broadcast(avgdl))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("idf"),
        col("avgdl"))
  }

  /** [[searchBm25]] from a prebuilt [[postings]] table. A one-shot
    * search: it plans the index build inline under its own top-k, with
    * no lineage cut, so it leaves no blocks behind. Callers that search
    * one index more than once hold a [[bm25Stats]] instead.
    */
  def searchBm25Postings(tf: DataFrame, queries: DataFrame, nDocs: Long,
                         k: Int, k1: Double = 1.2,
                         b: Double = 0.75): DataFrame =
    bm25Search(bm25Index(tf, nDocs), queries, k, Seq("qid"))(
      _.withColumn("w", col("idf") * bm25Sat(k1, b)))

  /** [[searchBm25Postings]] at one (k1, b) point over a prebuilt
    * [[Bm25Stats]] index.
    */
  def searchBm25FromStats(stats: Bm25Stats, queries: DataFrame, k: Int,
                          k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Search(stats.tfdl, queries, k, Seq("qid"))(
      _.withColumn("w", col("idf") * bm25Sat(k1, b)))

  /** Every (k1, b) grid point of [[searchBm25FromStats]] in ONE
    * postings pass (r15, guide §1.2 "remove unnecessary passes"): the
    * q206 sweep ran six copies of the join–aggregate–window chain —
    * six posting-sized idf joins, six matched-posting exchanges, six
    * top-k windows — when the only thing that differs per point is the
    * saturation arithmetic, a narrow per-row expression. Here each
    * matched posting carries an array of per-system (system, w)
    * structs, exploded AFTER the query semi-join (so the 6x row fanout
    * applies to the candidate-sized matched set, never the corpus), and
    * one aggregate + one (system, qid) window rank all points at once.
    *
    * Bit-identical to the per-point path by construction: each w is
    * the SAME idf * sat expression evaluated on the same row, the fold
    * still runs in sorted term order per (system, qid, doc_id) — terms
    * are unique within a posting group, so the struct sort is the term
    * sort — and the window's (score desc, doc_id) tie rule is
    * unchanged, just partitioned by (system, qid) instead of six
    * qid-partitioned windows. Returns the union of the per-point
    * [[searchBm25FromStats]] outputs tagged with `system`.
    */
  def searchBm25MultiFromStats(stats: Bm25Stats, queries: DataFrame, k: Int,
                               grid: Seq[(String, Double, Double)])
      : DataFrame = {
    require(grid.nonEmpty, "empty (system, k1, b) grid")
    val wsys = array(grid.map { case (nm, k1, b) =>
      struct(lit(nm).as("system"), (col("idf") * bm25Sat(k1, b)).as("w"))
    }: _*)
    bm25Search(stats.tfdl, queries, k, Seq("system", "qid"))(
      _.select(col("qid"), col("doc_id"), col("term"), explode(wsys).as("sw"))
        .select(col("qid"), col("doc_id"), col("term"),
          col("sw").getField("system").as("system"),
          col("sw").getField("w").as("w")))
  }

  /** The BM25 saturation at (k1, b) over an index row. The scalar
    * constants are folded driver-side: ONE double each, so the twin can
    * embed the same literal value (k1+1 and 1-b are single
    * correctly-rounded ops — reproducible from the same inputs).
    */
  private def bm25Sat(k1: Double, b: Double): Column = {
    val tfD = col("tf").cast("double")
    tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
  }

  /** One BM25 search over an index frame (see [[bm25Stats]]): the
    * broadcast query terms join it FIRST (r15, guide §1.2/§2.3), so the
    * weight arithmetic runs only on matched postings; `weigh` adds the
    * per-row `w` (and `system`, for a grid); the top k are ranked per
    * `keys`. The index carries idf, dl and avgdl on every row, so a
    * search over a checkpointed index is one join: no idf join and no
    * avgdl nested-loop broadcast.
    */
  private def bm25Search(index: DataFrame, queries: DataFrame, k: Int,
                         keys: Seq[String])(weigh: DataFrame => DataFrame)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    topK(weigh(index.join(broadcast(queries), "term")), k, keys)
  }

  /** Shared tail: fold matched per-term weights in sorted term order
    * per (`keys`, doc_id), rank per `keys` by (score desc, doc_id), keep
    * the top k.
    */
  private def topK(matched: DataFrame, k: Int,
                   keys: Seq[String] = Seq("qid")): DataFrame = {
    // sort_array sorts these non-null structs as array_sort does, and
    // renders without array_sort's comparator lambda in every plan
    // description
    val scored = matched.groupBy((keys :+ "doc_id").map(col): _*)
      .agg(
        aggregate(
          transform(sort_array(collect_list(struct(col("term"), col("w")))),
            x => x.getField("w")),
          lit(0.0), (acc, x) => acc + x).as("score"),
        count(lit(1)).as("n_matched"))
    val wq = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= k)
  }
}
