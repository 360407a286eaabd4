package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** GraftSession is the one session configuration: the shared test
  * session must carry every `builder()` setting (the forked test JVM
  * gets no `-Dspark.*` options), graft's SQL functions and optimizer
  * rule must come from the builder's extensions alone, and no other
  * source file may build its own session.
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

  test("the builder's extensions install the local-relation fold") {
    // a fresh session shares the extensions, as for porter_stem above
    for (s <- Seq(spark, spark.newSession()))
      assert(s.sessionState.optimizer.batches.flatMap(_.rules)
        .contains(functions.FoldLocalRelations))
  }

  test("spark.sql.extensions=graft.functions.GraftExtensions alone installs the fold and porter_stem") {
    // Spark honours the setting by instantiating the named class and
    // applying it to a new session's extensions. This JVM's one
    // SparkContext was built without the setting, so the test applies
    // the class the same way and reads what it injected through the
    // extensions' own (package-private) builders.
    val ext = new SparkSessionExtensions
    Class.forName("graft.functions.GraftExtensions").getConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit](ext)
    def built(method: String, argType: Class[_], arg: AnyRef): AnyRef =
      classOf[SparkSessionExtensions].getMethod(method, argType).invoke(ext, arg)
    assert(built("buildOptimizerRules", classOf[SparkSession], spark) ==
      Seq(functions.FoldLocalRelations))
    val registry = built("registerFunctions", classOf[FunctionRegistry],
      FunctionRegistry.builtin.clone()).asInstanceOf[FunctionRegistry]
    assert(registry.functionExists(FunctionIdentifier("porter_stem")))
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
