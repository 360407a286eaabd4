package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is configured: graft functions
  * registered through [[functions.GraftExtensions]], session zone UTC,
  * and the local-mode settings every main, tool and spec runs under.
  * On a cluster, prefer `spark.sql.extensions=graft.functions.GraftExtensions`
  * in spark-defaults and tune partitions to the executor count.
  */
object GraftSession {
  /** Local cores and shuffle partitions: `SPARK_GRAFT_CPUS`, default 4
    * (the BASELINE.md contract for Verify and Bench).
    */
  val Cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Shuffle scratch on tmpfs (Spark's `SPARK_LOCAL_DIRS` still
    * overrides it). An ext4 scratch disk serializes concurrent file
    * creates/deletes: on a 32-core local-mode host, q131 (15 shuffles
    * per run) measured 5-60 s of which <1 s was compute, with every
    * executor thread RUNNABLE inside FileOutputStream.open0 / File.exists.
    */
  val LocalDir = "/dev/shm/spark-local"

  /** Disables the bypass-merge shuffle writer. With shuffle.partitions
    * at or below the default threshold (200) every SQL exchange took
    * BypassMergeSortShuffleWriter's one-temp-file-per-reducer path, ~1k
    * file creates per shuffle on such a disk. Real clusters run
    * hundreds of reduce partitions, past the bypass threshold, so this
    * matches cluster behaviour. Measured with LocalDir: q131 5-60 s
    * noisy -> 3.9-5.0 s stable.
    */
  val BypassMergeThreshold = "1"

  /** AQE's partition coalescing is byte-driven (1 MB minimum partition
    * by default) and blind to downstream per-row compute: on audit-sized
    * shuffles (0.05-2 MB carrying cosine/score kernels) it coalesced
    * whole join+kernel stages onto ONE task while the other cores idled
    * (q209: three 0.6-0.8 s single-task stages over ~1.5 MB each). A
    * lower floor lets parallelismFirst (on by default) split small
    * shuffles up to defaultParallelism. It is a FLOOR, so it never binds
    * on production shuffles. Measured: q209 4.0 -> 2.4 s, q101
    * 1.0 -> 0.54 s, q102-q109 each 20-40% off (OPTIMIZATION_r15.md).
    */
  val MinPartitionSize = "64k"

  /** Entries in Spark's JVM-wide cache of Janino-compiled classes
    * (a static conf, Spark's default 100). One serving pass of the
    * corpus chain (curate, MinHash dedup with connected components, a
    * BM25 build, two searches) generates 130 distinct classes in the
    * perfbench corpus workload: curate 48, dedup 30, BM25 build 17,
    * first search 35, second search 0. Cycled through a 100-entry LRU,
    * each class was evicted before its next use, so every warm pass
    * recompiled all 130 (the driver and, in local mode, each task
    * compile through this one cache); at 1000 entries a warm pass
    * compiles 0. Measured on a 4-vCPU host: perfbench corpus wall_s
    * median 8.36 -> 6.03 s over 10 pairs. CodegenCacheSpec runs the
    * chain twice (149 classes, 140 recompiled at 100 entries).
    */
  val CodegenCacheEntries = "1000"

  /** Whole-stage codegen names every generated class after its
    * pipeline's codegen stage id, which under adaptive execution
    * follows the order in which stages are created, and stages whose
    * inputs are racing shuffles are created in the order those finish.
    * The id is part of the source the codegen cache is keyed on, so a
    * renumbered pipeline recompiles although its code is the same: the
    * BM25 index build (postings → dl, idf and avgdl branches) recompiled
    * 6 classes on 1 of 7 warm passes in each of two 8-pass loops of the
    * CodegenCacheSpec chain at sf0.001. Without the id in the class name
    * the source no longer depends on creation order: 0 of 14 warm
    * passes compiled anything, and the cold pass compiled 148 classes
    * instead of 152 (equal pipelines under different ids share one).
    */
  val CodegenIdInClassName = "false"

  /** Fixture-scale broadcast threshold for the registry queries: the
    * biggest dimension-ish side (orders at sf0.1, ~5 MB parquet / ~20 MB
    * in memory) becomes broadcastable. On a real cluster this stays at
    * Spark's default and the bucketed layout (see Bucketing) removes
    * the fact-fact exchange instead.
    */
  val RegistryBroadcastThreshold = "64m"

  def builder(master: String = s"local[$Cpus]",
              shufflePartitions: Int = Cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the NTZ->LTZ cast in Tables.normalizeEventTs depends on UTC
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", LocalDir)
      .config("spark.shuffle.sort.bypassMergeThreshold", BypassMergeThreshold)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        MinPartitionSize)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.sql.codegen.useIdInClassName", CodegenIdInClassName)

  /** [[builder]] plus the fixture-scale broadcast threshold: the session
    * the registry's queries are verified, benched and profiled under.
    */
  def forRegistry(): SparkSession.Builder =
    builder().config("spark.sql.autoBroadcastJoinThreshold",
      RegistryBroadcastThreshold)

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    // cover the case where an existing session was returned
    functions.functions.register(s)
    s
  }
}
