package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated parquet fixture tables
  * (TESTDATA.md). All queries take the scale-factor directory at call
  * time so the same plan runs at any SF.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")
  /** events.parquet's physical timestamp encoding has varied across
    * driver fixture generations (TIMESTAMP(NANOS) surfaced as raw
    * longs under nanosAsLong; TIMESTAMP(MICROS) inferred as NTZ);
    * normalize to a TimestampType column (microsecond precision) here
    * so every downstream operator sees the same type regardless.
    */
  def events(s: SparkSession, dir: String): DataFrame =
    normalizeEventTs(load(s, dir, "events"))

  /** Shared by the batch and streaming event readers: the fixture's
    * timestamp column must always surface as TimestampType (LTZ,
    * microsecond precision) regardless of how the driver wrote it.
    * Two physical encodings have been observed across fixture
    * generations: TIMESTAMP(NANOS), which the vectorized reader only
    * surfaces as raw nano-longs (nanosAsLong), and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark 4 infers as TIMESTAMP_NTZ.
    * The NTZ->LTZ cast reinterprets wall time in the session zone;
    * GraftSession, the one session builder every entrypoint and the
    * specs use, pins spark.sql.session.timeZone=UTC, so it is
    * micros-exact and keeps unix_micros()/window arithmetic and the
    * dumped parquet type identical across fixture generations.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // FLOOR division, not `div` (truncation): a pre-epoch instant
        // encoded as nanos must land on the same microsecond a MICROS
        // fixture generation would write (floor), or the two
        // generations this normalization exists to unify differ by
        // 1us below 1970. pmod is non-negative, so (ts - pmod)/1000
        // floors for every sign.
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr(
              "(ts - pmod(ts, 1000)) div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")

  /** [[fanout]] applied to the documents table — the per-call-site
    * form (a GLOBAL documents fan-out was measured and rejected:
    * full-corpus per-row kernels won 0.3–1.6 s each, but filtered and
    * multi-branch consumers — q140/q142/q198-class, where the exchange
    * carries text the query immediately discards or pays once per
    * branch — lost 0.3–0.9 s each; see OPTIMIZATION_r15.md).
    */
  def documentsFan(s: SparkSession, dir: String): DataFrame =
    fanout(documents(s, dir), org.apache.spark.sql.functions.col("doc_id"))
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  def load(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Scan-parallelism guard for heavy map-side work — the optimization
    * guide's input-skew fix (§2.5 "one huge unsplittable file...
    * repartition immediately after the read"). The driver fixtures are
    * single-file, single-row-group parquet, so Spark plans exactly ONE
    * scan task per table regardless of core count: every per-row
    * kernel downstream of the scan (tokenize, shingle, decimal
    * aggregation, pixel decode) runs single-threaded until the first
    * exchange. When — and only when — the scan's PLANNED split count
    * is deficient (under half the session's default parallelism),
    * redistribute rows right after the read so map-side work uses the
    * machine: by hash of `key` when the caller names one (no
    * round-robin pre-sort, deterministic under task retry), round-robin
    * otherwise. On a production layout (many files / many row groups:
    * planned splits >= cores) this is the IDENTITY — no exchange is
    * added — so it is scale-adaptive, not a local-mode constant: the
    * decision derives from the actual file layout vs the session's
    * parallelism, both of which the cluster sets.
    *
    * The planned split count comes from the plan itself
    * (`df.rdd.getNumPartitions` — no job runs; Spark's own file-packing
    * arithmetic), so openCostInBytes/maxPartitionBytes tuning is
    * respected. Only applied at call sites whose map-side work measures
    * above the exchange's cost (see OPTIMIZATION_r15.md per query);
    * trivial scans keep their single task.
    */
  def fanout(df: DataFrame, key: org.apache.spark.sql.Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= p) df
    else if (key.nonEmpty) df.repartition(p, key: _*)
    else df.repartition(p)
  }
}
