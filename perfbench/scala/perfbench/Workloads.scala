package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.cluster.KMeansAssign
import graft.index.{InvertedIndex, Retrieval}
import graft.ops.{Dedup, PerfbenchProbe, Tables}
import graft.pipeline.Curation
import graft.sources.{Corpus, Sinks}
import graft.text.Normalize

/** The paper's CLI job over `<id>.txt` files: Job 1 (inverted index)
  * and Job 2 (cosine k-means assignment), both written as TSV. An
  * untraced pass is one `RunReference.run` call; a traced pass makes
  * the same layer calls in the same order, each materialized in its
  * own span.
  */
object Refjob extends Workload {
  def pass(c: Ctx, in: String, out: String): Seq[Call] = {
    val (docs, stop, centers) = (s"$in/docs", s"$in/stopwords.txt", s"$in/centers.txt")
    Seq(c.call("refjob.run") {
      if (!c.tr.enabled) graft.tools.RunReference.run(c.spark, docs, out, stop, centers)
      else layered(c, docs, out, stop, centers)
    })
  }

  private def layered(c: Ctx, docs: String, out: String, stop: String,
                      centers: String): Unit = {
    val spark = c.spark
    val n = c.tr.span("sources.list")(Corpus.fileCount(spark, docs))
    c.add("sources.files", n)
    c.add("sources.bytes_in", Main.dirBytes(docs) + Files.size(Paths.get(stop)) +
      Files.size(Paths.get(centers)))
    val d = c.layer("sources.read")(Corpus.readDocs(spark, docs))
    val stopwords = c.tr.span("sources.read")(Corpus.readStopwords(spark, stop))
    val tokens = c.layer("text.normalize", "text.tokens")(
      Normalize.tokens(d, stopwords = stopwords))
    val matrix = c.layer("index.matrix", "index.terms")(
      InvertedIndex.termDocMatrixFast(tokens, n, firstId = 1L).orderBy(col("term")))
    c.tr.span("sources.write")(
      Sinks.writeTsv(InvertedIndex.referenceFormat(matrix), out, mode = "error"))
    val cs = c.layer("sources.read")(Corpus.readCenters(spark, centers))
    val assigned = c.layer("cluster.assign", "cluster.points")(KMeansAssign.assign(
      matrix.select(col("term").as("id"), col("vec").cast("array<double>").as("vec")), cs))
    val clusters = c.layer("cluster.assign")(KMeansAssign.clusters(assigned)
      .select(col("cluster_id").cast("string").as("k"),
        concat_ws(" ", col("members")).as("v")))
    c.tr.span("sources.write")(
      Sinks.writeTsv(clusters, s"$out/kmeansOutput6", mode = "error"))
    c.add("sources.bytes_out", Main.dirBytes(out))
    // a count for the trace only; its span keeps it out of the layers
    c.add("index.postings", c.tr.span("trace.postings")(
      tokens.select(col("doc_id"), col("term")).distinct().count()).toDouble)
  }

  /** Job 1 again through the set-based `termDocMatrix`, an independent
    * path to the same matrix. */
  def writeChecks(c: Ctx, in: String, out: String): Unit = {
    val docs = s"$in/docs"
    val tokens = Normalize.tokens(Corpus.readDocs(c.spark, docs),
      stopwords = Corpus.readStopwords(c.spark, s"$in/stopwords.txt"))
    Sinks.writeTsv(InvertedIndex.referenceFormat(InvertedIndex.termDocMatrix(
      tokens, Corpus.fileCount(c.spark, docs), firstId = 1L)), s"$out/matrix")
  }

  def texts(spark: SparkSession, in: String): Seq[String] =
    new java.io.File(s"$in/docs").listFiles.toSeq.sortBy(_.getName)
      .map(f => Files.readString(f.toPath))
}

/** Curation and search over a documents table: curate, verified
  * near-dup pairs and their connected components, a BM25 index build,
  * then a closed-loop stream of single searches.
  */
object CorpusWorkload extends Workload {
  val SearchK = 10
  @volatile var lastReport: Curation.Report = null
  @volatile var lastSearches: Seq[(Long, Array[Row])] = Nil

  def pass(c: Ctx, in: String, out: String): Seq[Call] = {
    val spark = c.spark
    val docs = Tables.documents(spark, s"$in/tables")
    val searches = Files.readAllLines(Paths.get(s"$in/searches.txt"))
      .toArray(Array[String]()).filter(_.nonEmpty)
    val calls = ArrayBuffer[Call]()
    var curated: DataFrame = null
    var stats: Retrieval.Bm25Stats = null
    calls += c.call("curate") {
      val (cur, rep) = c.tr.span("pipeline.curate")(Curation.curate(spark, docs))
      curated = cur
      lastReport = rep
      c.add("pipeline.input", rep.input.toDouble)
      c.add("pipeline.kept", rep.afterBalance.toDouble)
    }
    calls += c.call("dedup") {
      val sigs = c.layer("functions.minhash")(Dedup.minhashSignatures(docs))
      val cands = c.layer("ops.dedup.candidates", "ops.dedup.candidates")(
        Dedup.candidatesFromBands(Dedup.bandsFromSignatures(sigs)))
      val verified = c.layer("ops.dedup.verify", "ops.dedup.verified")(
        Dedup.verifyCandidates(cands, sigs))
      c.tr.span("ops.dedup.cc")(Dedup.connectedComponents(verified).count())
      c.add("ops.dedup.cc_local", if (PerfbenchProbe.ccLocal) 1.0 else 0.0)
    }
    calls += c.call("bm25_build") {
      val tokens = c.layer("text.normalize", "text.tokens")(Normalize.tokens(curated))
      stats = c.tr.span("index.bm25_build") {
        val s = Retrieval.bm25Stats(Retrieval.postings(tokens), lastReport.afterBalance)
        val p = Retrieval.Bm25Stats(s.tfdl.persist(), s.idf.persist(), s.avgdl.persist())
        val postings = p.tfdl.count()
        val terms = p.idf.count()
        p.avgdl.count()
        c.add("index.postings", postings.toDouble)
        c.add("index.terms", terms.toDouble)
        p
      }
    }
    val results = ArrayBuffer[(Long, Array[Row])]()
    searches.zipWithIndex.foreach { case (q, i) =>
      calls += c.call("search") {
        val rows = c.tr.span("index.search") {
          val qdf = Normalize.tokens(
              spark.createDataFrame(Seq((i.toLong, q))).toDF("doc_id", "text"))
            .select(col("doc_id").as("qid"), col("term")).distinct()
          Retrieval.searchBm25FromStats(stats, qdf, SearchK)
            .select("qid", "doc_id", "score", "rnk").collect()
        }
        results += ((i.toLong, rows))
      }
    }
    lastSearches = results.toSeq
    calls.toSeq
  }

  /** Exact-dedup survivors, the last curate report, verified pairs with
    * their components, and the last pass's search results. */
  def writeChecks(c: Ctx, in: String, out: String): Unit = {
    val spark = c.spark
    val docs = Tables.documents(spark, s"$in/tables")
    Curation.exactStage(docs, 8, 0.2, Nil).select("doc_id")
      .coalesce(1).write.parquet(s"$out/exact")
    val sigs = Dedup.minhashSignatures(docs).cache()
    val pairs = Dedup.verifiedPairs(sigs).cache()
    pairs.coalesce(1).write.parquet(s"$out/pairs")
    Dedup.connectedComponents(pairs).coalesce(1).write.parquet(s"$out/cc")
    val r = lastReport
    Files.writeString(Paths.get(s"$out/report.json"), Json(Map(
      "input" -> r.input, "after_quality" -> r.afterQuality,
      "after_lang" -> r.afterLang, "after_exact" -> r.afterExact,
      "after_near_dup" -> r.afterNearDup, "after_balance" -> r.afterBalance)))
    Files.writeString(Paths.get(s"$out/search.tsv"), lastSearches.flatMap {
      case (qid, rows) => rows.map(r =>
        s"$qid\t${r.getLong(1)}\t${r.getDouble(2)}\t${r.get(3)}")
    }.mkString("", "\n", "\n"))
  }

  def texts(spark: SparkSession, in: String): Seq[String] =
    Workload.documentTexts(spark, in)
}

/** A seed-ordered mix of registered queries over generated fixture
  * tables. Each call is `QueryDef.build`, then collecting the query's
  * rows as an interactive client would.
  */
class Queries(seed: Long) extends Workload {
  private val registry = graft.SparkEntry.queries
  @volatile private var lastRows = Map.empty[String, (StructType, Array[Row])]

  val order: Seq[String] =
    new scala.util.Random(seed).shuffle(Queries.Mix.sorted)

  def pass(c: Ctx, in: String, out: String): Seq[Call] = {
    val dir = s"$in/tables"
    val sc = c.spark.sparkContext
    val rows = Map.newBuilder[String, (StructType, Array[Row])]
    val calls = order.map { name =>
      val call = c.call(name) {
        if (c.tr.enabled) org.apache.spark.PerfbenchBus.drain(sc)
        val jobs0 = c.counters.jobs
        val df = c.tr.span("ops.build")(registry(name)(c.spark, dir))
        if (c.tr.enabled) {
          org.apache.spark.PerfbenchBus.drain(sc)
          c.add("ops.build_jobs", (c.counters.jobs - jobs0).toDouble)
        }
        rows += name -> ((df.schema, c.tr.span("spark.execute")(df.collect())))
      }
      c.spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      call
    }
    lastRows = rows.result()
    calls
  }

  /** The last pass's rows of each query as parquet, plus the oracle SQL
    * to compare them with. */
  def writeChecks(c: Ctx, in: String, out: String): Unit = {
    Files.createDirectories(Paths.get(out))
    lastRows.foreach { case (name, (schema, rows)) =>
      c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$out/$name")
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json(Queries.Mix.map(n => n -> oracle(n)).toMap))
  }

  def texts(spark: SparkSession, in: String): Seq[String] =
    Workload.documentTexts(spark, in)
}

object Queries {
  /** Sub-second members of five query families plus the vector-index
    * upsert, delete-serve and graph-ANN upsert queries. None reads an
    * auxiliary artifact, so each oracle runs on the tables alone. */
  val Mix: Seq[String] = Seq(
    // Relational
    "q02_selective_filter", "q06_topk_per_customer", "q13_not_exists_anti",
    "q18_monthly_orders", "q32_lag_delta", "q61_session_windows",
    // Extended
    "q63_pivot", "q65_url_parse", "q73_range_frame", "q111_event_debounce",
    "q124_json_props",
    // TextAnalytics
    "q21_doc_token_stats", "q23_quality_score", "q39_doc_fingerprint",
    "q121_length_quantiles", "q129_lang_id",
    // MlOracle
    "q43_kmeans_assign", "q54_langid",
    // IndexOracle
    "q40_inverted_index", "q41_postings", "q42_tfidf_top_terms",
    // Similarity
    "q174_ivf_upsert", "q181_ivf_delete_serve", "q209_graph_upsert")
}
