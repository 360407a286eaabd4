package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Junk-row behavior of the ANN/dedup OPERATOR surface (the loader
  * policy — "junk degrades row-local, never kills the scan" — applied
  * one layer up): null vectors, null text, null edge endpoints, and
  * ragged embeddings must not NPE driver-side math, collapse LSH
  * buckets, corrupt token sums, or null-poison distance argmins.
  */
class JunkRowOpsSpec extends SparkSpec {
  import spark.implicits._

  test("Pq.trainCodebooks skips null vectors instead of NPEing the driver") {
    val corpus = Seq(
      (0L, Some(Seq(1.0, 0.0, 0.0, 0.0))),
      (1L, None), // the embeddings loader's junk-line convention
      (2L, Some(Seq(0.0, 1.0, 0.0, 1.0))),
      (3L, Some(Seq(1.0, 1.0, 0.0, 0.0))))
      .toDF("vec_id", "v")
    val books = Pq.trainCodebooks(corpus, "vec_id", "v", dim = 4, m = 2, ksub = 2,
      sampleN = 10, iters = 2)
    assert(books.length == 2 && books.forall(_.forall(_.forall(d => !d.isNaN))))
  }

  test("bandSignatures emits NO band rows for null-text docs (no seed-bucket collapse)") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, null), (3L, null))
      .toDF("doc_id", "text")
    val bands = Dedup.bandSignatures(docs, nHashes = 8, bandSize = 4)
    assert(bands.filter(col("doc_id") =!= 1L).count() == 0,
      "null-text docs must not band (xxhash64(NULL slice) = seed would pair them all)")
    assert(bands.filter(col("doc_id") === 1L).count() == 2)
    // and therefore no junk candidate pairs between the null-text docs
    val cands = Dedup.minhashCandidates(docs, nHashes = 8, bandSize = 4)
    assert(cands.count() == 0)
  }

  test("dedupImpact: null-text docs contribute NULL tokens (twin sum-skip), not -1") {
    val docs = Seq(
      (1L, "one two three", "src"),
      (2L, null, "src"),
      (3L, "four five", "src"))
      .toDF("doc_id", "text", "source")
    val row = Dedup.dedupImpact(docs).collect().head
    assert(row.getAs[Long]("n_docs") == 3L)
    // size(toks(null)) is -1 under this config: an unguarded sum would
    // report 4, DuckDB's len(NULL) sum-skip reports 5
    assert(row.getAs[Long]("n_tokens") == 5L)
  }

  test("connectedComponents drops null-endpoint edges identically on both dispatch paths") {
    val pairs = Seq(
      (Some(1L), Some(2L)), (Some(2L), Some(3L)),
      (None, Some(7L)), (Some(8L), None), // junk upstream rows
      (Some(10L), Some(11L)))
      .toDF("a", "b")
    val local = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(pairs, localEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    assert(local == expected, "local union-find must not NPE on null ids")
    assert(dist == expected, "distributed loop must agree with the local path")
  }

  test("nearestCentroidConfusion: ragged vector assigned by common-prefix distance, not null-poisoned") {
    val emb = Seq(
      (0L, 0L, Seq(0.0, 0.0, 0.0)),
      (1L, 0L, Seq(0.0, 0.0, 0.0)),
      (2L, 1L, Seq(10.0, 10.0, 10.0)),
      (3L, 1L, Seq(10.0, 10.0, 10.0)),
      (4L, 0L, Seq(9.0, 9.0))) // ragged: one dim short
      .toDF("vec_id", "label", "embedding")
    val cells = Similarity.nearestCentroidConfusion(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // centroids: c0 = [3,3,0] (the ragged vec contributes dims 0-1),
    // c1 = [10,10,10]; the ragged vec's prefix distances are 72 vs 2,
    // so it classifies as label 1 — a null-padded zip_with would have
    // nulled EVERY distance and nulls-first argmin'd it to label 0
    assert(cells == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (1L, 1L) -> 2L))
  }

  test("silhouetteByLabel survives ragged vectors with finite means") {
    val emb = Seq(
      (0L, 0L, Seq(0.0, 0.0, 0.0)),
      (1L, 0L, Seq(0.1, 0.0)), // ragged
      (2L, 1L, Seq(10.0, 10.0, 10.0)))
      .toDF("vec_id", "label", "embedding")
    val rows = Similarity.silhouetteByLabel(emb).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val s = r.getDouble(2)
      assert(!s.isNaN && s >= -1.0 && s <= 1.0, s"mean_silhouette out of range: $s")
    }
  }

  test("qualityBase: null text yields NULL n_tokens and stop_ratio (not -1 and a fake 1.0)") {
    val docs = Seq((1L, "en", "src", "the cat sat on the mat"), (2L, "en", "src", null))
      .toDF("doc_id", "lang", "source", "text")
    val rows = TextAnalytics.qualityBase(docs).orderBy(col("doc_id")).collect()
    assert(rows(0).getAs[Long]("n_tokens") == 6L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("n_tokens")),
      "null text must not report size(null) = -1 tokens")
    // the unguarded form computed stop_ratio = size(null)/size(null) = 1.0
    assert(rows(1).isNullAt(rows(1).fieldIndex("stop_ratio")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("qscore")))
  }

  test("packSequences: junk row contributes nothing to later docs' offsets/bins") {
    val fill = ("w " * 512).trim
    val docs = Seq(
      (1L, "s", fill),     // 512 tokens -> fills bin 0 exactly
      (2L, "s", null),     // junk: -1 would pull doc 3 back into bin 0
      (3L, "s", "x y z"))
      .toDF("doc_id", "source", "text")
    val rows = TextAnalytics.packSequences(docs, targetTokens = 512)
      .orderBy(col("doc_id")).collect()
    assert(rows(0).getAs[Long]("start_offset") == 0L)
    assert(rows(2).getAs[Long]("start_offset") == 512L,
      "junk row must not shift the running sum")
    assert(rows(2).getAs[Long]("bin_id") == 1L)
  }

  test("lengthQuantiles: junk null-text doc ranks LAST (DuckDB null order), quantiles over real docs hold") {
    val real = (1 to 9).map(i => (i.toLong, "s", ("t " * i).trim))
    val docs = (real :+ ((10L, "s", null.asInstanceOf[String])))
      .toDF("doc_id", "source", "text")
    val r = TextAnalytics.lengthQuantiles(docs).collect().head
    assert(r.getAs[Long]("n_docs") == 10L)
    // ranks 1..9 are the real lengths 1..9; the junk row is rn=10.
    // (n+1) div 2 = 5 -> p50 = 5; unguarded -1 ranked first gave 4
    assert(r.getAs[Long]("p50") == 5L)
    assert(r.getAs[Long]("p90") == 9L)
  }

  test("lengthHistogram: junk rows land in a NULL bucket, never inflating bucket 0") {
    val docs = Seq((1L, "s", "a b c"), (2L, "s", null))
      .toDF("doc_id", "source", "text")
    val h = TextAnalytics.lengthHistogram(docs).collect()
      .map(r => (if (r.isNullAt(1)) None else Some(r.getLong(1))) -> r.getLong(2)).toMap
    assert(h == Map(Some(0L) -> 1L, None -> 1L),
      "(-1) div 16 = 0 would have counted the junk row as a real short doc")
    // and the rollup never reports a NULL-bucket edge as a quantile
    val q = TextAnalytics.quantilesFromHistogram(
      TextAnalytics.lengthHistogram(docs)).collect().head
    assert(q.getAs[Long]("p50_hi") == 15L)
  }

  test("gopherRules: a junk null-text doc fails NO rule (twin CASE semantics)") {
    val good = ("the and of to a in is that it on " * 6).trim // 60 stopword tokens
    val docs = Seq((1L, "s", good), (2L, "s", null)).toDF("doc_id", "source", "text")
    val r = TextAnalytics.gopherRules(docs).collect().head
    assert(r.getAs[Long]("n_docs") == 2L)
    assert(r.getAs[Long]("fail_count") == 0L,
      "NULL counters must not definitively fail the count rule")
    assert(r.getAs[Long]("fail_alpha") == 0L)
    assert(r.getAs[Long]("fail_stop") == 0L)
  }

  // "the cat sat on the mat 42!": 7 tokens, summed length 20, 6 with a
  // letter, 3 probe stopwords (the, on, the); "a b": 2, 2, 2, 1 ("a");
  // "x": 1, 1, 1, 0
  private def counterFixture = Seq(
    (1L, "s", "the cat sat on the mat 42!"),
    (2L, "s", null),
    (3L, "s", "a b"),
    (4L, "s", "x"))
    .toDF("doc_id", "source", "text")

  private def counters(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.select("doc_id", "nt", "sl", "na", "ns").collect()
      .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  test("nbBase: a junk null-text doc is dropped, survivors carry exact counters") {
    val base = TextAnalytics.nbBase(counterFixture)
    assert(counters(base) == Map(
      1L -> Seq(7L, 20L, 6L, 3L), 3L -> Seq(2L, 2L, 2L, 1L), 4L -> Seq(1L, 1L, 1L, 0L)))
    val r1 = base.filter(col("doc_id") === 1L).collect().head
    assert(r1.getAs[Double]("punct_ratio") == 1.0 / 26)
    assert(r1.getAs[Double]("digit_ratio") == 2.0 / 26)
  }

  test("dsirBase: a junk null-text doc is dropped with the < 2-token docs") {
    assert(counters(CurationOps.dsirBase(counterFixture)) == Map(
      1L -> Seq(7L, 20L, 6L, 3L), 3L -> Seq(2L, 2L, 2L, 1L)))
  }

  test("classifierDiscrimination: a junk null-text doc leaves every per-source AUC row unchanged") {
    // 56 tokens of mean length 4.5 with 7 probe stopwords: a Gopher pass
    val good = ("the quick brown foxes jumped over lazy dogs " * 7).trim
    val docs = Seq(
      (1L, "a", good), (2L, "a", "buy now 123!"), (3L, "a", s"$good again"),
      (4L, "a", "cheap pills"), (5L, "b", good), (6L, "b", "free $$$ money"))
      .toDF("doc_id", "source", "text")
    val junk = Seq((7L, "a", null), (8L, "b", null)).toDF("doc_id", "source", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      TextAnalytics.classifierDiscrimination(df).orderBy(col("source")).collect().toSeq
    val clean = rows(docs)
    assert(clean.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ==
      Seq(("a", 2L, 2L), ("b", 1L, 1L)))
    assert(rows(docs.union(junk)) == clean)
  }

  test("langId: null text predicts NULL, not 'en' at score -1") {
    val docs = Seq((1L, "en", "the cat and the dog"), (2L, "en", null))
      .toDF("doc_id", "lang", "text")
    val rows = TextAnalytics.langId(docs).orderBy(col("doc_id")).collect()
    assert(rows(0).getAs[String]("predicted_lang") == "en")
    assert(rows(1).isNullAt(rows(1).fieldIndex("predicted_lang")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("lang_score")))
  }

  test("lloydCenters skips null vectors in the first-k init instead of NPEing") {
    val pts = Seq(
      (0L, Some(Seq(0.0, 0.0))), (1L, None), (2L, Some(Seq(10.0, 10.0))),
      (3L, Some(Seq(0.1, 0.0))))
      .toDF("id", "vec")
    val centers = graft.cluster.KMeansAssign.lloydCenters(pts, k = 2, iters = 2)
    assert(centers.length == 2 && centers.forall(_.forall(d => !d.isNaN)))
  }

  test("normalizeEventTs floors pre-epoch nanos (both fixture generations land on one microsecond)") {
    val df = Seq(1500L, -1500L, -1000L, 999L).toDF("ts")
    val out = Tables.normalizeEventTs(df)
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    // a MICROS-generation fixture of the same instants writes floor():
    // -1500ns -> -2us; `div` truncation gave -1us and broke the
    // cross-generation hash identity below 1970
    assert(out == Seq(1L, -2L, -1L, 0L))
  }

  test("variant extraction is permissive: one malformed JSON row degrades to NULL, not a job crash") {
    // the q84 body's expression shape — strict parse_json here throws
    // MALFORMED_RECORD mid-stage on the truncated row
    val rows = Seq("""{"k": 5}""", """{"k": 5""", null)
      .toDF("props")
      .select(try_variant_get(try_parse_json(col("props")), "$.k", "bigint").as("k"))
      .collect()
    assert(rows(0).getLong(0) == 5L)
    assert(rows(1).isNullAt(0), "truncated JSON must yield NULL, not crash")
    assert(rows(2).isNullAt(0))
  }

  test("mergePostings merges null-term groups (null-safe join), matching a rebuild") {
    val existingTokens = Seq((1L, Some("alpha")), (1L, None)).toDF("doc_id", "term")
      .select(col("term"), col("doc_id"))
      .select(col("doc_id"), col("term"))
    val deltaTokens = Seq((2L, Some("beta")), (2L, None)).toDF("doc_id", "term")
    val existing = graft.index.InvertedIndex.postings(existingTokens)
    val merged = graft.index.InvertedIndex.mergePostings(existing, deltaTokens)
      .collect()
      .map(r => Option(r.getString(0)) -> r.getSeq[Long](1).toList).toMap
    val rebuilt = graft.index.InvertedIndex.postings(
      existingTokens.unionByName(deltaTokens))
      .collect()
      .map(r => Option(r.getString(0)) -> r.getSeq[Long](1).toList).toMap
    assert(merged == rebuilt, s"merge != rebuild: $merged vs $rebuilt")
    assert(merged(None) == List(1L, 2L),
      "null-term groups must merge to ONE row (null-unsafe join emitted two)")
  }

  test("termDocMatrix rejects n = 0 instead of emitting descending-sequence garbage") {
    val tokens = Seq((0L, "a")).toDF("doc_id", "term")
    val e = intercept[IllegalArgumentException] {
      graft.index.InvertedIndex.termDocMatrix(tokens, n = 0)
    }
    assert(e.getMessage.contains("n >= 1"))
  }

  test("searchBm25 pays exactly one window (the top-k rank) — doc lengths come from an aggregate") {
    val tokens = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "a"), (3L, "c"))
      .toDF("doc_id", "term")
    val queries = Seq((10L, "a"), (10L, "b")).toDF("qid", "term")
    val out = graft.index.Retrieval.searchBm25(tokens, queries, nDocs = 3L, k = 2)
    assert(out.collect().length == 2)
    // walk through AQE wrappers so the finalized plan is inspected
    val nodes = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.execution.SparkPlan]()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      nodes += p
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case _ => p.children.foreach(walk)
      }
    }
    walk(out.queryExecution.executedPlan)
    val nWindows = nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])
    assert(nWindows == 1,
      "dl must come from the shared aggregate, not a second corpus-wide window sort")
  }

  test("dedupByEmbedding plan has no top-k window (threshold path skips the rank sort)") {
    val e = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "v")
    val out = Dedup.dedupByEmbedding(spark, e, threshold = 0.95, nPlanes = 4)
    assert(out.count() == 2, "one of the two identical vectors must be struck")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"),
      "unbounded-threshold dedup must not pay a per-qid rank window:\n" + plan)
  }

  test("ivfCellBalance skips null vectors (no NULL-center row, counts over real members only)") {
    val e = Seq(
      (0L, Some(Seq(1.0, 0.0))), (1L, Some(Seq(0.0, 1.0))),
      (2L, None), // junk: must be neither a cell member nor its own row
      (3L, Some(Seq(2.0, 0.1))))
      .toDF("vec_id", "v")
    val rows = Similarity.ivfCellBalance(e, nCells = 2)
      .as[(Long, Long, Double, Double, Long)].collect()
    assert(rows.map(_._2).sum == 3L, "three real vectors, junk excluded")
    assert(rows.forall(_._1 >= 0L), "no NULL-center row survives")
  }
}
