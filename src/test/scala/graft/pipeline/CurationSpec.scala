package graft.pipeline

import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, least, lit}
import org.apache.spark.sql.graftshim.Shim

import graft.{Checkpoints, SparkSpec}

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate drops exactly the docs sharing n-grams with the benchmark") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),          // clean
      (1L, "the quick brown fox jumps over the lazy dog"),  // contains bench 4-gram
      (2L, "one two three four five six seven"),            // clean
      (3L, "totally benign text quick brown fox jumps ok")) // contains bench 4-gram
      .toDF("doc_id", "text")
    val benchmark = Seq((100L, "a benchmark prompt with quick brown fox jumps inside"))
      .toDF("doc_id", "text")
    val kept = Curation.decontaminate(corpus, benchmark, n = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L))
    // higher threshold: docs sharing only ONE 4-gram survive
    val lenient = Curation.decontaminate(corpus, benchmark, n = 4, minShared = 3L)
      .select("doc_id").as[Long].collect().toSet
    assert(lenient.contains(3L)) // only one shared 4-gram window
  }

  test("curate: quality, language, exact-dup and near-dup stages all bite") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river", "en"),
      (1L, "the quick brown fox jumps over the lazy dog near the river", "en"), // exact dup
      (2L, "the quick brown fox jumps over the lazy dog near the creek", "en"), // near dup
      (3L, "too short", "en"),                                                  // quality
      (4L, "!!! ??? ... !!! ??? ... !!! ??? ... !!! ??? ... ,,, ;;; :::", "en"), // punct
      (5L, "ein ganz anderer text ueber etwas voellig anderes hier drin", "de"), // lang
      (6L, "a completely different document talking about spark engines here", "en"))
      .toDF("doc_id", "text", "lang")

    val (curated, r) = Curation.curate(spark, docs,
      minTokens = 5, maxPunctRatio = 0.2, keepLangs = Seq("en"),
      nHashes = 32, bandSize = 4)

    assert(r.input == 7)
    assert(r.afterQuality == 5, r)         // drops 3 (short) and 4 (punct)
    assert(r.afterLang == 4, r)            // drops 5 (de)
    assert(r.afterExact == 3, r)           // collapses 0/1
    assert(r.afterNearDup <= 3 && r.afterNearDup >= 2, r) // 2 near-dups 0/2
    val ids = curated.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(0L) && ids.contains(6L))
    assert(!ids.contains(1L))
  }

  test("curate on the fixture corpus is monotone and keeps real data") {
    val docs = graft.ops.Tables.documents(spark, sfDir)
    val (curated, r) = Curation.curate(spark, docs, minTokens = 4,
      maxPunctRatio = 0.5)
    assert(r.input >= r.afterQuality)
    assert(r.afterQuality >= r.afterLang)
    assert(r.afterLang >= r.afterExact)
    assert(r.afterExact >= r.afterNearDup)
    assert(r.afterNearDup > 0)
    assert(curated.columns.toSet == docs.columns.toSet)
  }

  test("source balancing caps every source deterministically") {
    val docs = graft.ops.Tables.documents(spark, sfDir)
    val (curated, r) = Curation.curate(spark, docs, minTokens = 4,
      maxPunctRatio = 0.5, maxPerSource = 10)
    assert(r.afterBalance <= r.afterNearDup)
    val perSource = curated.groupBy("source").count()
      .select("count").as[Long].collect()
    assert(perSource.nonEmpty && perSource.forall(_ <= 10))
    // deterministic: a second run keeps the identical doc set
    val (again, _) = Curation.curate(spark, docs, minTokens = 4,
      maxPunctRatio = 0.5, maxPerSource = 10)
    assert(curated.select("doc_id").as[Long].collect().sorted.toSeq ==
      again.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  /** Runs `body` and returns its value with the distinct SQL root
    * executions its jobs ran under (a job outside any SQL execution
    * counts as its own) and the number of jobs. */
  private def actionsAndJobs[T](body: => T): (T, Int, Int) = {
    val roots = ConcurrentHashMap.newKeySet[String]()
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        roots.add(p.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id")))
          .orElse(p.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
          .getOrElse(s"job ${j.jobId}"))
        jobs.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    Shim.drainListenerBus(sc)
    sc.addSparkListener(listener)
    val out = try {
      val out = body
      Shim.drainListenerBus(sc)
      out
    } finally sc.removeSparkListener(listener)
    (out, roots.size, jobs.get())
  }

  test("curate's report equals independent stage counts, from two actions") {
    val fixture = graft.ops.Tables.documents(spark, sfDir)
    val langs = Seq("en", "fr", "de")
    // the fixture passes every quality check and holds no exact
    // duplicate: plant five docs the quality floor drops and five exact
    // copies (higher doc_id, so the copies go) of docs that survive to
    // the exact stage, so each field differs from its neighbours'
    val docs = fixture
      .unionByName(fixture.orderBy("doc_id").limit(5)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("text", lit("too short")))
      .unionByName(Curation.exactStage(fixture, 4, 0.5, langs).orderBy("doc_id").limit(5)
        .withColumn("doc_id", col("doc_id") + 2000000L))
    val quality = Curation.qualityStage(docs, 4, 0.5)
    val (unbalanced, _) = Curation.curate(spark, docs, minTokens = 4,
      maxPunctRatio = 0.5, keepLangs = langs)
    val expected = Curation.Report(
      input = docs.count(),
      afterQuality = quality.count(),
      afterLang = quality.filter(col("lang").isin(langs: _*)).count(),
      afterExact = Curation.exactStage(docs, 4, 0.5, langs).count(),
      afterNearDup = unbalanced.count(),
      afterBalance = unbalanced.groupBy("source").count()
        .select(least(col("count"), lit(10L))).as[Long].collect().sum)
    val unbalancedIds = unbalanced.select("doc_id").as[Long].collect().toSet
    Checkpoints.release(unbalanced)

    val ((curated, report), actions, jobs) = actionsAndJobs {
      Curation.curate(spark, docs, minTokens = 4, maxPunctRatio = 0.5,
        keepLangs = langs, maxPerSource = 10)
    }
    info(s"curate ran $jobs jobs under $actions actions; $report")
    assert(report == expected)
    assert(expected.productIterator.toSeq.distinct.size == 6, expected)
    val ids = curated.select("doc_id").as[Long].collect()
    assert(ids.length == expected.afterBalance)
    assert(ids.toSet.subsetOf(unbalancedIds))
    // the two materializations are the only actions: no stage pays a
    // count job of its own
    assert(actions == 2, s"curate ran $jobs jobs under $actions actions")
    Checkpoints.release(curated)
  }

  test("two concurrent curate calls on one session return the serial report") {
    val docs = graft.ops.Tables.documents(spark, sfDir)
    def run() = Curation.curate(spark, docs, minTokens = 4,
      maxPunctRatio = 0.5, maxPerSource = 10)
    val (serial, serialReport) = run()
    val serialIds = serial.select("doc_id").as[Long].collect().sorted.toSeq
    Checkpoints.release(serial)
    spark.catalog.clearCache()

    val pool = Executors.newFixedThreadPool(2, (r: Runnable) => {
      val t = new Thread(r, "concurrent-curate")
      t.setDaemon(true) // a hung call must not keep the JVM alive
      t
    })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val calls = Seq.fill(2)(Future(run()))
      val results = calls.map(Await.result(_, 120.seconds))
      for ((curated, report) <- results) {
        assert(report == serialReport)
        assert(curated.select("doc_id").as[Long].collect().sorted.toSeq == serialIds)
        Checkpoints.release(curated)
      }
      assert(spark.sharedState.cacheManager.isEmpty)
    } finally pool.shutdownNow()
  }
}
