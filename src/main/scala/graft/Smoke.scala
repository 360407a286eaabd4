package graft

/** Local stand-in for the driver's t1 smoke: SparkEntry.entry rows>0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    df.show(5, truncate = 40)
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
