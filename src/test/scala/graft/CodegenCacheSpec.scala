package graft

import org.apache.spark.sql.functions.col

import graft.index.Retrieval
import graft.ops.{Dedup, Tables}
import graft.pipeline.Curation
import graft.text.Normalize

/** A warm pass of the corpus serving chain reuses every class Spark
  * generated for it one pass earlier. The chain generates more classes
  * than Spark's default 100-entry codegen cache holds, so at that size
  * each class was evicted before its next use and every pass
  * recompiled all of them; `GraftSession.CodegenCacheEntries` sizes
  * the cache above the working set.
  */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  /** One serving pass over the sf0.001 documents, the calls of the
    * perfbench corpus workload: curate, MinHash dedup through
    * connected components, a BM25 build over the curated docs, one
    * search per query. Returns the classes compiled during the pass.
    */
  private def pass(queries: Seq[String]): Long = {
    val c0 = Bench.compiledClasses()
    val docs = Tables.documents(spark, sfDir)
    val (curated, report) = Curation.curate(spark, docs)
    try {
      val sigs = Dedup.minhashSignatures(docs)
      val cands = Dedup.candidatesFromBands(Dedup.bandsFromSignatures(sigs))
      Dedup.connectedComponents(Dedup.verifyCandidates(cands, sigs)).count()
      val persisted0 = persistedRdds
      val s = Retrieval.bm25Stats(
        Retrieval.postings(Normalize.tokens(curated)), report.afterBalance)
      val stats = Retrieval.Bm25Stats(s.tfdl.persist(), s.idf.persist(), s.avgdl.persist())
      try {
        Seq(stats.tfdl, stats.idf, stats.avgdl).foreach(_.count())
        queries.zipWithIndex.foreach { case (q, i) =>
          val qdf = Normalize.tokens(Seq((i.toLong, q)).toDF("doc_id", "text"))
            .select(col("doc_id").as("qid"), col("term")).distinct()
          Retrieval.searchBm25FromStats(stats, qdf, 10).collect()
        }
      } finally {
        Seq(stats.tfdl, stats.idf, stats.avgdl).foreach(_.unpersist(blocking = true))
        stats.release()
      }
      assert((persistedRdds -- persisted0).isEmpty,
        "the BM25 build left blocks persisted after unpersist and release")
    } finally Checkpoints.release(curated)
    Bench.compiledClasses() - c0
  }

  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a warm corpus pass compiles no class") {
    val queries = Tables.documents(spark, sfDir).orderBy("doc_id")
      .select("text").as[String].head(2).toSeq
      .map(_.split("\\s+").take(6).mkString(" "))
    val cold = pass(queries)
    val warm = pass(queries)
    info(s"classes compiled: cold pass $cold, warm pass $warm")
    assert(warm == 0, s"the warm pass recompiled $warm classes (cold pass: $cold)")
  }
}
