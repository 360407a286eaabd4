package graft.pipeline

import graft.SparkSpec

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

  test("curateObserved: observed stage counts equal curate's, with far fewer jobs") {
    val docs = graft.ops.Tables.documents(spark, sfDir)
    val (c1, r1) = Curation.curate(spark, docs, minTokens = 4,
      maxPunctRatio = 0.5, maxPerSource = 10)
    def countJobs[T](f: => T): (T, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val out = try f finally spark.sparkContext.removeSparkListener(listener)
      (out, jobs.get())
    }
    // same params as c1 above — fresh frames, so a fair job-count race
    val ((c1b, _), jobsCounted) = countJobs {
      Curation.curate(spark, docs, minTokens = 4,
        maxPunctRatio = 0.5, maxPerSource = 10)
    }
    Curation.release(c1b)
    val ((c2, report), jobsObserved) = countJobs {
      val (c2, thunk) = Curation.curateObserved(spark, docs, minTokens = 4,
        maxPunctRatio = 0.5, maxPerSource = 10)
      c2.count() // the single materialization every observation rides
      (c2, thunk())
    }
    assert(report == r1)
    assert(c2.select("doc_id").as[Long].collect().sorted.toSeq ==
      c1.select("doc_id").as[Long].collect().sorted.toSeq)
    // the observed variant does the same pipeline work (AQE stages)
    // MINUS the six standalone count() jobs and their recomputation
    assert(jobsObserved < jobsCounted,
      s"observed=$jobsObserved should undercut counted=$jobsCounted")
    Curation.release(c1)
    c2.unpersist(blocking = false)
  }
}
