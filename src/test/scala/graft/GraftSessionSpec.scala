package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** GraftSession is the one session configuration: the shared test
  * session must carry every `builder()` setting (the forked test JVM
  * gets no `-Dspark.*` options), graft's SQL functions must come from
  * the builder's extensions alone, and no other source file may build
  * its own session.
  */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries every builder() setting") {
    val conf = spark.sparkContext.getConf
    val expected = Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.shuffle.sort.bypassMergeThreshold" -> GraftSession.BypassMergeThreshold,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        GraftSession.MinPartitionSize,
      "spark.sql.codegen.cache.maxEntries" -> GraftSession.CodegenCacheEntries)
    expected.foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"$k")
      assert(spark.conf.get(k) == v, s"$k (session conf)")
    }
    // the fixture-scale broadcast threshold belongs to forRegistry()
    // only; plan audits run under Spark's default
    assert(!conf.contains("spark.sql.autoBroadcastJoinThreshold"))
  }

  test("porter_stem resolves in SQL through the builder's extensions") {
    // a fresh session shares the extensions but none of the functions
    // another spec may have registered on the shared one
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT porter_stem('meetings')").head().getString(0) == "meet")
  }

  test("GraftSession.scala is the only SparkSession builder call site") {
    val call = """SparkSession\s*\.\s*builder\s*\(""".r
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }
    val offenders = Seq("src/main", "src/test").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filterNot(_.getFileName.toString == "GraftSession.scala").flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if !isComment(l) && call.findFirstIn(l).isDefined => s"$p:${i + 1}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
