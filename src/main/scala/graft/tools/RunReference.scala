package graft.tools

import org.apache.spark.sql.functions._

/** Drop-in equivalent of the reference's CLI
  * (`ProcessData.main`, ProcessData.java:623-679): four positional
  * args — `input-dir output-dir stopwords-file centers-file` — running
  * Job 1 (inverted index) and Job 2 (cosine k-means assignment) over a
  * directory of `<docId>.<ext>` text files, writing the reference's
  * `key \t value` text outputs at the reference's own layout
  * (ProcessData.java:656,674 — Job 1 part files at the output-dir root,
  * Job 2 nested under it):
  *
  *   output-dir/               term \t [b1,...,bN,]   (Job 1, byte-compatible)
  *   output-dir/kmeansOutput6/ clusterId \t members   (Job 2, same nesting name)
  *
  * Differences from the reference are the documented intended-semantics
  * fixes (SURVEY.md §7 D1-D4): true argmin, real squares in the norm,
  * N-dimensional centers, deterministic cluster numbering. Unlike the
  * reference there is no HDFS materialization barrier between the jobs:
  * the matrix is built once and held in memory between the two writes.
  */
object RunReference {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: RunReference <input-dir> <output-dir> <stopwords-file> <centers-file>")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args(0), args(1), args(2), args(3))
    spark.stop()
  }

  /** The pipeline body, callable with an existing session (tests). */
  def run(spark: org.apache.spark.sql.SparkSession, inDir: String,
          outDir: String, stopFile: String, centersFile: String): Unit = {
    val docs = graft.sources.Corpus.readDocs(spark, inDir)
    val stop = graft.sources.Corpus.readStopwords(spark, stopFile)
    val n = graft.sources.Corpus.fileCount(spark, inDir)

    // Job 1: normalize -> presence matrix -> reference text format.
    // Both jobs consume the matrix: cache it so Job 2 reads the rows
    // Job 1 built instead of re-running the scan, normalize, stemming
    // and presence aggregate.
    val tokens = graft.text.Normalize.tokens(docs, stopwords = stop)
    val matrix = graft.index.InvertedIndex
      .termDocMatrixFast(tokens, n, firstId = 1L) // reference ids are 1-based
      .persist()
    try {
      // reference layout: Job 1 output lands at the output-dir ROOT
      // (FileOutputFormat.setOutputPath(job, args[1])). mode=error
      // matches Hadoop MR's refusal to touch an existing output dir —
      // with the root layout an overwrite would silently wipe whatever
      // the user's directory already held.
      graft.sources.Sinks.writeTsv(
        graft.index.InvertedIndex.referenceFormat(matrix.orderBy(col("term"))),
        outDir, mode = "error")

      // Job 2: assign each term's vector to its nearest centroid
      val centers = graft.sources.Corpus.readCenters(spark, centersFile)
      val assigned = graft.cluster.KMeansAssign.assign(
        matrix.select(col("term").as("id"), col("vec").cast("array<double>").as("vec")),
        centers)
      val clusters = graft.cluster.KMeansAssign.clusters(assigned)
        .select(col("cluster_id").cast("string").as("k"),
          concat_ws(" ", col("members")).as("v"))
      graft.sources.Sinks.writeTsv(clusters, s"$outDir/kmeansOutput6", mode = "error")
    } finally matrix.unpersist()
  }
}
