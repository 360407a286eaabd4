package graft.index

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Ranked retrieval ([[Retrieval.search]], q114): hand-computed TF-IDF
  * scores, disjunctive matching, deterministic tie-breaks, top-k
  * truncation, and the ordered-fold score (partitioning-independent).
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // 4 docs; "apple" df=3, "banana" df=2, "cherry" df=1
  val tokens = Seq(
    (1L, "apple"), (1L, "apple"), (1L, "banana"),
    (2L, "apple"), (2L, "cherry"),
    (3L, "banana"),
    (4L, "apple")).toDF("doc_id", "term")
  val nDocs = 4L

  private def w(tf: Long, df: Long): Double = {
    val raw = tf * math.log((nDocs + 1.0) / (df + 1.0))
    BigDecimal(raw).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("disjunctive two-term query sums per-term TF-IDF in term order") {
    val q = Seq((0L, "apple"), (0L, "banana")).toDF("qid", "term")
    val out = Retrieval.search(tokens, q, nDocs, k = 10)
      .orderBy(col("rnk"))
      .as[(Long, Long, Double, Long, Int)].collect()
    val byDoc = out.map(r => r._2 -> r).toMap
    // doc 1 matches both terms: w(2, df=3) + w(1, df=2)
    assert(byDoc(1L)._3 == w(2, 3) + w(1, 2))
    assert(byDoc(1L)._4 == 2L)
    // docs 2 and 4 match apple once each; doc 3 matches banana once
    assert(byDoc(2L)._3 == w(1, 3) && byDoc(2L)._4 == 1L)
    assert(byDoc(3L)._3 == w(1, 2) && byDoc(3L)._4 == 1L)
    assert(byDoc(4L)._3 == w(1, 3) && byDoc(4L)._4 == 1L)
    // ranking: doc1 (both terms) first; banana idf > apple idf so doc3
    // outranks docs 2/4; the 2-vs-4 tie breaks on doc_id ascending
    assert(out.map(_._2).toSeq == Seq(1L, 3L, 2L, 4L))
    assert(out.map(_._5).toSeq == Seq(1, 2, 3, 4))
  }

  test("top-k truncates per query, not globally") {
    val q = Seq((0L, "apple"), (1L, "banana")).toDF("qid", "term")
    val out = Retrieval.search(tokens, q, nDocs, k = 2)
      .as[(Long, Long, Double, Long, Int)].collect()
    assert(out.count(_._1 == 0L) == 2) // apple matches 3 docs, capped at 2
    assert(out.count(_._1 == 1L) == 2) // banana matches exactly 2
    assert(out.forall(_._5 <= 2))
  }

  test("unmatched query terms contribute nothing; no-match query yields no rows") {
    val q = Seq((0L, "apple"), (0L, "durian"), (1L, "durian")).toDF("qid", "term")
    val out = Retrieval.search(tokens, q, nDocs, k = 10)
      .as[(Long, Long, Double, Long, Int)].collect()
    assert(out.forall(_._1 == 0L)) // qid 1 matched nothing at all
    val byDoc = out.filter(_._1 == 0L).map(r => r._2 -> r._3).toMap
    assert(byDoc(1L) == w(2, 3)) // durian adds no score term
  }

  test("score is identical across repartitionings (ordered fold)") {
    val q = Seq((0L, "apple"), (0L, "banana"), (0L, "cherry")).toDF("qid", "term")
    val a = Retrieval.search(tokens, q, nDocs, k = 10)
      .orderBy(col("doc_id")).as[(Long, Long, Double, Long, Int)].collect()
    val b = Retrieval.search(tokens.repartition(7, col("term")), q, nDocs, k = 10)
      .orderBy(col("doc_id")).as[(Long, Long, Double, Long, Int)].collect()
    assert(a.toSeq == b.toSeq)
  }

  test("BM25: hand-computed scores, length normalization, saturation") {
    val q = Seq((0L, "apple"), (0L, "banana")).toDF("qid", "term")
    val out = Retrieval.searchBm25(tokens, q, nDocs, k = 10)
      .orderBy(col("rnk"))
      .as[(Long, Long, Double, Long, Int)].collect()
    val byDoc = out.map(r => r._2 -> r).toMap
    // dl: doc1=3, doc2=2, doc3=1, doc4=1; avgdl = 7/4
    val avgdl = 7.0 / 4.0
    def idf(df: Long): Double = {
      val raw = math.log((nDocs.toDouble - df + 0.5) / (df + 0.5) + 1.0)
      BigDecimal(raw).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def sat(tf: Long, dl: Long): Double =
      tf.toDouble * 2.2 / (tf.toDouble + 1.2 * (0.25 + 0.75 * dl.toDouble / avgdl))
    // doc 1: apple tf=2 + banana tf=1, dl=3 (sorted term order:
    // apple then banana — matches the fold)
    assert(byDoc(1L)._3 == idf(3) * sat(2, 3) + idf(2) * sat(1, 3))
    assert(byDoc(2L)._3 == idf(3) * sat(1, 2))
    assert(byDoc(3L)._3 == idf(2) * sat(1, 1))
    assert(byDoc(4L)._3 == idf(3) * sat(1, 1))
    // doc 4 (dl=1) outranks doc 2 (dl=2) on the same apple tf=1:
    // shorter docs score higher under length normalization
    assert(byDoc(4L)._3 > byDoc(2L)._3)
    // saturation: doc1's apple tf=2 contributes < 2x a tf=1 hit at
    // equal length
    assert(sat(2, 3) < 2.0 * sat(1, 3))
  }

  test("BM25 over the index == an independent (k1, b) computation from the postings") {
    // 40 docs of 0-11 tokens over a skewed 8-term vocabulary (empty
    // docs carry no postings, so they count in neither dl nor avgdl)
    val rnd = new scala.util.Random(7)
    val vocab = Vector("ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen")
    val toks = (1L to 40L).flatMap { d =>
      Seq.fill(rnd.nextInt(12))(d -> vocab(rnd.nextInt(1 + rnd.nextInt(vocab.size))))
    }
    val n = 40L
    val queries = Seq((0L, "ant"), (0L, "cat"), (1L, "dog"), (1L, "eel"),
      (1L, "hen"), (2L, "gnu"), (2L, "yak"), (3L, "yak"))
    val qdf = queries.toDF("qid", "term")
    val stats = Retrieval.bm25Stats(Retrieval.postings(toks.toDF("doc_id", "term")), n)
    try {
      assert(stats.tfdl.columns.toSeq == Seq("term", "doc_id", "tf", "dl", "idf", "avgdl"),
        "the index carries every BM25 statistic on each posting")
      val tf: Map[(String, Long), Long] =
        toks.groupBy(identity).map { case ((d, t), occ) => (t, d) -> occ.size.toLong }
      val dl = tf.groupBy(_._1._2).map { case (d, ps) => d -> ps.values.sum }
      val df = tf.keys.groupBy(_._1).map { case (t, ps) => t -> ps.size.toLong }
      val avgdl = dl.values.sum.toDouble / dl.size.toDouble
      def idf(t: String): Double = BigDecimal(StrictMath.log(
        (n.toDouble - df(t) + 0.5) / (df(t) + 0.5) + 1.0))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      // (qid, doc_id, score, n_matched, rnk), top k per qid
      def expected(k1: Double, b: Double, k: Int): Set[(Long, Long, Double, Long, Int)] =
        queries.groupBy(_._1).toSeq.flatMap { case (qid, qts) =>
          val terms = qts.map(_._2).toSet
          tf.toSeq.filter { case ((t, _), _) => terms(t) }.groupBy(_._1._2).toSeq
            .map { case (d, hits) =>
              val score = hits.sortBy(_._1._1).foldLeft(0.0) { case (acc, ((t, _), c)) =>
                val tfD = c.toDouble
                acc + idf(t) * (tfD * (k1 + 1.0) /
                  (tfD + k1 * ((1.0 - b) + b * dl(d).toDouble / avgdl)))
              }
              (d, score, hits.size.toLong)
            }
            .sortBy { case (d, score, _) => (-score, d) }.take(k).zipWithIndex
            .map { case ((d, score, m), i) => (qid, d, score, m, i + 1) }
        }.toSet
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("qid", "doc_id", "score", "n_matched", "rnk")
          .as[(Long, Long, Double, Long, Int)].collect().toSet
      val grid = Seq(("a", 1.2, 0.75), ("b", 0.5, 0.3), ("c", 2.0, 1.0))
      for ((_, k1, b) <- grid) {
        val want = expected(k1, b, 3)
        assert(want.nonEmpty)
        assert(rows(Retrieval.searchBm25FromStats(stats, qdf, 3, k1, b)) == want, s"k1=$k1 b=$b")
      }
      val multi = Retrieval.searchBm25MultiFromStats(stats, qdf, 3, grid)
      for ((sys, k1, b) <- grid)
        assert(rows(multi.filter(col("system") === sys)) == expected(k1, b, 3), s"system $sys")
    } finally stats.release()
  }

  test("persisted postings serve identically: searchPostings(parquet round-trip) == search(tokens)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-postings").toString
    Retrieval.postings(tokens).write.mode("overwrite").parquet(dir)
    val served = spark.read.parquet(dir)
    val q = Seq((0L, "apple"), (0L, "banana"), (1L, "cherry")).toDF("qid", "term")
    val live = Retrieval.search(tokens, q, nDocs, k = 10)
      .orderBy(col("qid"), col("rnk")).collect().toSeq
    val fromIndex = Retrieval.searchPostings(served, q, nDocs, k = 10)
      .orderBy(col("qid"), col("rnk")).collect().toSeq
    assert(live == fromIndex)
    val liveB = Retrieval.searchBm25(tokens, q, nDocs, k = 10)
      .orderBy(col("qid"), col("rnk")).collect().toSeq
    val fromIndexB = Retrieval.searchBm25Postings(served, q, nDocs, k = 10)
      .orderBy(col("qid"), col("rnk")).collect().toSeq
    assert(liveB == fromIndexB)
  }

  test("k must be positive") {
    val q = Seq((0L, "apple")).toDF("qid", "term")
    intercept[IllegalArgumentException] {
      Retrieval.search(tokens, q, nDocs, k = 0)
    }
  }
}
