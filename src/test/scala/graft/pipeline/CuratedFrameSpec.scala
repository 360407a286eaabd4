package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Shim

import graft.{Checkpoints, SparkSpec}
import graft.index.Retrieval
import graft.ops.Tables
import graft.text.Normalize
import graft.tools.Profile

/** The frame [[Curation.curate]] returns: a local checkpoint whose plan
  * does not carry the curate build, and which [[Checkpoints.release]]
  * frees completely; a BM25 search over it reads one index frame.
  */
class CuratedFrameSpec extends SparkSpec {
  import spark.implicits._

  /** Plan-description characters Spark rendered and jobs it started
    * while running `body`. */
  private def rendered[T](body: => T): (T, Long, Int) = {
    val sc = spark.sparkContext
    val chars = new Profile.PlanChars
    val jobs = new AtomicInteger
    val jobCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    Shim.drainListenerBus(sc)
    sc.addSparkListener(chars)
    sc.addSparkListener(jobCounter)
    try {
      val out = body
      Shim.drainListenerBus(sc)
      (out, chars.total, jobs.get)
    } finally {
      sc.removeSparkListener(chars)
      sc.removeSparkListener(jobCounter)
    }
  }

  /** A single search renders its own plan and the index it reads:
    * about 83k characters at sf0.001 (the number of adaptive updates
    * varies run to run). Over the three separately built BM25 frames
    * it also rendered their three build plans: 0.43-0.49M; over a
    * cached curate result, the whole curate build too, nested caches
    * included, at every execution start and adaptive update: 5.69M.
    */
  private val SearchPlanCharsBound = 150000L

  /** Jobs of one search: the broadcast of the query terms (folded to a
    * local relation on the driver), the index scan with the
    * per-(query, doc) fold and per-partition top-k up to the one
    * exchange on qid, the result. Before the fold the query terms' own
    * distinct ran a shuffle stage, and over an index with no stated
    * partitioning the matched postings were exchanged once more: 5
    * jobs. Over the three-frame stats a search ran 7 (an idf join and an
    * avgdl broadcast more).
    */
  private val SearchJobsBound = 3

  /** Jobs the three-frame BM25 build (tfdl, idf, avgdl, each planned
    * from the postings and persisted) ran in this test at sf0.001. The
    * one index frame computes the postings once and must not run more.
    */
  private val ThreeFrameBuildJobs = 16

  test("a search over curate's frame does not render the curate build") {
    val docs = Tables.documents(spark, sfDir)
    val ((curated, report), curateChars, curateJobs) =
      rendered(Curation.curate(spark, docs))
    try {
      val cached = curated.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }.size
      assert(cached == 0, s"curate's frame still reads $cached cached plans")

      val before = persistedRdds
      val (stats, buildChars, buildJobs) = rendered {
        val s = Retrieval.bm25Stats(
          Retrieval.postings(Normalize.tokens(curated)), report.afterBalance)
        val p = Retrieval.Bm25Stats(s.tfdl.persist(), s.idf.persist(), s.avgdl.persist())
        Seq(p.tfdl, p.idf, p.avgdl).foreach(_.count())
        p
      }
      try {
        val q = docs.orderBy("doc_id").select("text").as[String].head()
          .split("\\s+").take(6).mkString(" ")
        val qdf = Normalize.tokens(Seq((0L, q)).toDF("doc_id", "text"))
          .select(col("doc_id").as("qid"), col("term")).distinct()
        val (hits, searchChars, searchJobs) =
          rendered(Retrieval.searchBm25FromStats(stats, qdf, 10).collect())
        info(s"plan characters rendered: curate $curateChars, BM25 build $buildChars, " +
          s"search $searchChars; jobs: curate $curateJobs, BM25 build $buildJobs, " +
          s"search $searchJobs")
        assert(hits.nonEmpty)
        assert(searchChars < SearchPlanCharsBound,
          s"one search rendered $searchChars plan characters")
        assert(searchJobs <= SearchJobsBound, s"one search ran $searchJobs jobs")
        assert(buildJobs <= ThreeFrameBuildJobs, s"the BM25 build ran $buildJobs jobs")
      } finally {
        Seq(stats.tfdl, stats.idf, stats.avgdl).foreach(_.unpersist(blocking = true))
        stats.release()
      }
      assert((persistedRdds -- before).isEmpty,
        "the BM25 build left blocks persisted after unpersist and release")
    } finally Checkpoints.release(curated)
  }

  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  for (maxPerSource <- Seq(0, 10))
    test(s"release frees everything curate persisted (maxPerSource=$maxPerSource)") {
      // the session is shared with other suites: start from an empty
      // cache, and compare RDD ids (the cleaner may drop older ones)
      spark.catalog.clearCache()
      val before = persistedRdds
      val (curated, r) = Curation.curate(spark, Tables.documents(spark, sfDir),
        minTokens = 4, maxPunctRatio = 0.5, maxPerSource = maxPerSource)
      assert(curated.count() == r.afterBalance)
      assert((persistedRdds -- before).size == 1,
        "only the curated frame's blocks should stay persisted")
      assert(spark.sharedState.cacheManager.isEmpty)
      // a frame derived from curate's is not curate's frame: its
      // release must not free blocks that other frames may read
      Checkpoints.release(curated.select("doc_id"))
      assert((persistedRdds -- before).size == 1)
      Checkpoints.release(curated)
      assert((persistedRdds -- before).isEmpty)
      assert(spark.sharedState.cacheManager.isEmpty)
    }
}
