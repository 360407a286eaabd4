package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Golden end-to-end test of the reference-CLI pipeline: a 3-doc corpus
  * whose index and clusters are verifiable by hand (stems: cats->cat,
  * running/runs->run, dogs->dog; stopwords drop; ties break to the
  * lower center id).
  */
class RunReferenceSpec extends SparkSpec {

  private def write(path: java.nio.file.Path, s: String): Unit =
    java.nio.file.Files.write(path, s.getBytes("UTF-8"))

  private def goldenCorpus(): java.nio.file.Path = {
    val in = java.nio.file.Files.createTempDirectory("refcorpus")
    write(in.resolve("1.txt"), "the cats are running\n")
    write(in.resolve("2.txt"), "a dog ran fast\n")
    write(in.resolve("3.txt"), "cats and dogs running\n")
    write(in.resolve("stopwords.txt"), "the a and are\n")
    write(in.resolve("centers.txt"), "[1,0,0,]\n[0,0,1,]\n")
    in
  }

  /** A NOT-yet-existing path: the CLI refuses to write into an existing
    * output dir (mode=error, matching Hadoop MR). */
  private def freshOut(): String =
    java.nio.file.Files.createTempDirectory("refout").resolve("out").toString

  /** The `binaryFile` scan nodes under a plan, looking through AQE, query
    * stages, reused exchanges, commands and cached relations. */
  private def corpusScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] => Seq(s)
    case a: AdaptiveSparkPlanExec => corpusScans(a.executedPlan)
    case q: QueryStageExec => corpusScans(q.plan)
    case r: ReusedExchangeExec => corpusScans(r.child)
    case m: InMemoryTableScanExec => corpusScans(m.relation.cachedPlan)
    case other => other.children.flatMap(corpusScans)
  }

  /** Runs `body` and returns every SQL execution it finished, once at
    * least `expectScans` of them read the corpus (listener events are
    * delivered asynchronously). */
  private def executions(expectScans: Int)(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      import scala.jdk.CollectionConverters._
      def reading = seen.asScala.count(qe => corpusScans(qe.executedPlan).nonEmpty)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (reading < expectScans && System.nanoTime() < deadline) Thread.sleep(50)
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** Persisted RDD ids plus whether the session's cache is empty. */
  private def cacheState(): (Set[Int], Boolean) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet, spark.sharedState.cacheManager.isEmpty)

  test("CLI pipeline reproduces hand-computed index and clusters") {
    val in = goldenCorpus()
    val out = freshOut()
    // the session is shared with other suites: start from an empty cache
    spark.catalog.clearCache()
    val persistedBefore = cacheState()._1

    val qes = executions(expectScans = 2) {
      RunReference.run(spark, in.toString, out,
        in.resolve("stopwords.txt").toString, in.resolve("centers.txt").toString)
    }

    def lines(sub: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(out, sub)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(p => java.nio.file.Files.readAllLines(p).asScala)
        .toSeq.sorted
    }

    // NB: stopwords.txt/centers.txt live in the corpus dir but have no
    // numeric filename, so the source skips them (guarded id parse).
    // Job 1 output sits at the output-dir ROOT — the reference's layout.
    assert(lines("") == Seq(
      "cat\t[1,0,1,]",
      "dog\t[0,1,1,]",
      "fast\t[0,1,0,]",
      "ran\t[0,1,0,]",
      "run\t[1,0,1,]"))
    // centers: c0=[1,0,0], c1=[0,0,1].
    //   cat/run [1,0,1]: equidistant -> tie -> c0; fast/ran [0,1,0]:
    //   orthogonal to both -> tie -> c0; dog [0,1,1]: nearer c1.
    assert(lines("kmeansOutput6") == Seq("1\tcat fast ran run", "2\tdog"))

    // both jobs consume the matrix, but the corpus is scanned once: the
    // two writes share one executed scan node (inside the cached matrix)
    val executed = qes.flatMap(qe => corpusScans(qe.executedPlan))
      .foldLeft(List.empty[FileSourceScanExec])((seen, s) => if (seen.exists(_ eq s)) seen else s :: seen)
      .filter(_.metrics("numOutputRows").value > 0)
    assert(qes.count(qe => corpusScans(qe.executedPlan).nonEmpty) == 2)
    assert(executed.size == 1, s"corpus scanned ${executed.size} times")
    assert(cacheState() == ((persistedBefore, true)), "the matrix stayed cached")
  }

  test("a failing Job 2 still leaves nothing cached") {
    val in = goldenCorpus()
    val out = freshOut()
    spark.catalog.clearCache()
    val persistedBefore = cacheState()._1
    intercept[Exception] {
      RunReference.run(spark, in.toString, out,
        in.resolve("stopwords.txt").toString, in.resolve("missing-centers.txt").toString)
    }
    // Job 1 had already written when Job 2 failed on its centers file
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_SUCCESS")))
    assert(cacheState() == ((persistedBefore, true)), "the matrix stayed cached")
  }
}
