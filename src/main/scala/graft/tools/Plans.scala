package graft.tools

/** Dev tool: dump the formatted physical plan of selected queries.
  * Usage: runMain graft.tools.Plans <sfDir> [queryName...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.forRegistry().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(graft.SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
