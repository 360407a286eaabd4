package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-style corpus ingestion (SURVEY.md §2 S1-S6).
  *
  * The reference's source is an HDFS directory of text documents, one
  * doc per file, with the doc id encoded in the filename as
  * `<int>.<ext>` (parse at ProcessData.java:392-401,417) and per-line
  * records (TextInputFormat). Spark-native form: the `binaryFile`
  * datasource (one row per file) + regexp doc-id extraction from the
  * path — stays a single narrow scan, no shuffle.
  *
  * Scale note: many-small-files is the classic HDFS/S3 listing
  * bottleneck; Spark's file index parallelizes the listing, and
  * `maxPartitionBytes` / file coalescing keep task counts sane. For
  * 100 TB the engine's primary ingest is parquet (Tables); this source
  * exists for reference-format corpora.
  */
object Corpus {

  /** dir -> (doc_id, text): whole-document granularity (reference maps
    * per line; per-doc is what the rest of the engine consumes).
    *
    * Ingests via the `binaryFile` datasource, which reads each file as
    * ONE row (files are never split), so a document's text is its file
    * content verbatim — byte-exact regardless of file size or
    * `maxPartitionBytes`. The previous line-scan +
    * `collect_list(line)` reconstruction had no in-file sort key: a
    * file larger than one split could interleave lines from different
    * splits (arrival order), silently corrupting order-sensitive
    * downstream ops (fingerprints, shingles). Whole-file granularity is
    * also the semantic contract of the reference corpus (one doc per
    * file). Scale: one row per file — fine for documents (a single doc
    * approaching 2 GB would need a chunked ingest instead); the listing
    * parallelizes like any file index.
    */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "(?:^|/)(\\d{1,9})\\.[^/.]*$", 1).as("_id"),
        col("content"))
      .filter(length(col("_id")) > 0)
      // binary -> string via CAST, not decode(): the cast wraps the raw
      // bytes like spark.read.text does, so a file with invalid UTF-8
      // sequences degrades row-locally instead of failing the scan
      // (Spark 4's decode() throws MALFORMED_CHARACTER_CODING under
      // default ANSI semantics — one latin-1 file must not kill the job)
      .select(col("_id").cast("int").as("doc_id"),
        col("content").cast("string").as("text"))

  /** Corpus file count (reference S3: ContentSummary.getFileCount at
    * :627-631, drives presence-vector width). Driver-side scalar.
    *
    * Counts FILES via a filesystem listing (the reference's own
    * metadata-op shape), not distinct doc_ids from data rows: a
    * zero-byte doc yields no rows under EITHER datasource (text emits
    * no lines; binaryFile's file index skips empty files), and an
    * id-derived count would undershoot the presence-vector width —
    * ids at/after the gap would then be silently ignored by
    * PresenceVectorAgg, corrupting the index. (Deliberate divergence
    * from raw getFileCount: only files matching the anchored doc-id
    * pattern count, consistent with what the ingest actually reads.)
    * Walks with `listStatus`, not `listFiles`: the latter builds a
    * `LocatedFileStatus` per file, which on the local filesystem loads
    * each file's permission with a per-file lookup.
    */
  def fileCount(spark: SparkSession, dir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val namePat = java.util.regex.Pattern.compile("^\\d{1,9}\\.[^/.]*$")
    def count(p: org.apache.hadoop.fs.Path): Int = fs.listStatus(p).iterator.map { st =>
      if (!st.isFile) count(st.getPath)
      else if (namePat.matcher(st.getPath.getName).matches()) 1
      else 0
    }.sum
    count(path)
  }

  /** Stopword side-input (reference S5: DistributedCache file,
    * whitespace-tokenized, :372-385,423-435). Small by contract ->
    * collected to the driver for broadcast as a literal set.
    */
  def readStopwords(spark: SparkSession, path: String): Seq[String] =
    spark.read.text(path)
      .select(explode(split(col("value"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .collect().map(_.getString(0)).distinct.toSeq.sorted

  /** Centroid side-input (reference S6 + K1: one `[b1,b2,...,bN,]`
    * bracket-vector per line, :545-557,579-590), N-dimensional
    * (divergence D3 — the reference hard-parsed only 3 single-digit
    * dims). center_id = 0-based line order (line_number via a window
    * over a monotonic id is driver-free and deterministic for the
    * K-line file).
    */
  def readCenters(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .withColumn("fileOrd", monotonically_increasing_id())
      .withColumn("center_id",
        (row_number().over(Window.orderBy(col("fileOrd"))) - 1).cast("int"))
      .select(col("center_id"), parseBracketVector(col("value")).as("cvec"))
      // a corrupt center line parses to a NULL vector: drop it rather
      // than feed nulls to the distance kernels (center ids keep their
      // line positions — a dropped line leaves a gap, not a shift)
      .filter(col("cvec").isNotNull)
  }

  /** `[1,0,1,]` (trailing comma tolerated) -> ARRAY<DOUBLE>.
    * A line with ANY malformed element parses to NULL (whole-vector,
    * row-local) INSTEAD of failing the scan (ANSI mode makes a bare
    * cast throw on junk; at scale one corrupt line must never kill the
    * job). Whole-vector null — not null elements — because the
    * primitive distance kernels (cosine, nearestCenter) read elements
    * with getDouble, where a null element would silently score as 0.0;
    * a null vector instead flows through the expressions' null
    * handling and surfaces as a null result the caller can filter.
    */
  def parseBracketVector(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val parsed = transform(
      filter(
        split(regexp_replace(trim(c), "[\\[\\]]", ""), ","),
        s => length(s) > 0),
      s => when(trim(s).rlike("^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"),
        trim(s).cast("double")))
    when(forall(parsed, x => x.isNotNull), parsed)
  }
}
