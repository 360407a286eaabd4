package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LocalRelation,
  LogicalPlan}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.Normalize

/** [[FoldLocalRelations]] returns the rows the unfolded plan returns,
  * folds what it claims to and leaves alone what it must: each frame is
  * run once with the rule and once with it excluded through
  * `spark.sql.optimizer.excludedRules`.
  */
class FoldLocalRelationsSpec extends SparkSpec {
  import spark.implicits._

  private def withoutRule[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, FoldLocalRelations.ruleName)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** The rows and optimized plans of `build` with and without the rule;
    * the rows must agree. */
  private def both(build: => DataFrame): (LogicalPlan, LogicalPlan) = {
    val folded = build
    val foldedRows = sorted(folded)
    val (unfoldedRows, unfoldedPlan) = withoutRule {
      val u = build
      (sorted(u), u.queryExecution.optimizedPlan)
    }
    assert(foldedRows == unfoldedRows)
    (folded.queryExecution.optimizedPlan, unfoldedPlan)
  }

  private def assertFolds(build: => DataFrame): Unit = {
    val (folded, unfolded) = both(build)
    assert(folded.isInstanceOf[LocalRelation], folded)
    assert(!unfolded.isInstanceOf[LocalRelation], unfolded)
  }

  private def assertKeeps(build: => DataFrame)(kept: PartialFunction[LogicalPlan, Unit]): Unit = {
    val (folded, _) = both(build)
    assert(folded.collectFirst(kept).isDefined, folded)
  }

  private def texts = Seq((1L, "a b  c"), (2L, "b"), (3L, "")).toDF("id", "text")

  test("explode, posexplode and an outer generate fold, with a filter and a projection above") {
    assertFolds(texts.select(col("id"), explode(split(col("text"), " ")).as("w")))
    assertFolds(texts.select(col("id"), posexplode(split(col("text"), " ")))
      .filter(length(col("col")) > 0).select(upper(col("col")).as("u"), col("pos")))
    val arrays = Seq((1L, Seq("x", "y")), (2L, Seq.empty[String]), (3L, null))
      .toDF("id", "xs")
    assertFolds(arrays.select(col("id"), explode_outer(col("xs")).as("x")))
    assertFolds(arrays.select(col("id"), posexplode_outer(col("xs"))))
  }

  test("an empty input folds to an empty relation") {
    val (folded, _) = both(Seq.empty[(Long, String)].toDF("id", "text")
      .select(col("id"), explode(split(col("text"), " ")).as("w")).distinct())
    assert(folded.isInstanceOf[LocalRelation], folded)
  }

  test("a search's query terms fold to a local relation: generate, filters, project, distinct") {
    assertFolds(Normalize.tokens(Seq((0L, "The runners ran; the RUNNERS run")).toDF("doc_id", "text"))
      .select(col("doc_id").as("qid"), col("term")).distinct())
    assertFolds(texts.select(explode(split(col("text"), " ")).as("w"), col("id"))
      .groupBy(col("w"), (col("id") % 2).as("odd")).agg(lit(1).as("one")))
  }

  test("a float grouping key, a nondeterministic expression and a failing one stay unfolded") {
    assertKeeps(Seq(0.0, -0.0, Double.NaN, Double.NaN, 1.5).toDF("x").distinct()) {
      case _: Aggregate =>
    }
    assertKeeps(texts.select(col("id"), explode(array(rand(7), rand(8))).as("r"))) {
      case _: Generate =>
    }
    val failing = Seq((1L, 5L)).toDF("a", "b")
      .select(explode(sequence(col("a"), col("b"), lit(0L))).as("x"))
    assert(failing.queryExecution.optimizedPlan.collectFirst { case g: Generate => g }.isDefined)
    intercept[Exception](failing.collect())
    withoutRule(intercept[Exception](Seq((1L, 5L)).toDF("a", "b")
      .select(explode(sequence(col("a"), col("b"), lit(0L))).as("x")).collect()))
  }

  test("output over the row cap stays unfolded; output at the cap folds") {
    val one = Seq(1L).toDF("id")
    assertKeeps(one.select(explode(sequence(lit(1), lit(FoldLocalRelations.MaxRows + 1))))) {
      case _: Generate =>
    }
    assertFolds(one.select(explode(sequence(lit(1), lit(FoldLocalRelations.MaxRows)))))
  }
}
