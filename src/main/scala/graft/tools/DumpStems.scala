package graft.tools

import org.apache.spark.sql.functions._
import graft.text.Normalize

/** Dev tool: dump the distinct normalized (unstemmed) vocabulary of a
  * fixture corpus with its Porter stems, one `token,stem` CSV line per
  * word — ground truth for validating the DuckDB-side SQL stemmer
  * (see [[graft.ops.PorterSql]]) against the Scala kernel.
  */
object DumpStems {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/stems.csv"
    // wordlist mode: a .txt input is one word per line (no Spark)
    if (sfDir.endsWith(".txt")) {
      val words = scala.io.Source.fromFile(sfDir).getLines().map(_.trim)
        .filter(_.nonEmpty).toSeq.distinct.sorted
      val w = new java.io.PrintWriter(out)
      words.foreach(t => w.println(t + "," + graft.text.Porter.stem(t)))
      w.close()
      println(s"[dumpstems] ${words.length} tokens -> $out")
      return
    }
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val toks = Normalize
      .tokens(graft.ops.Tables.documents(spark, sfDir), stem = false)
      .select(col("term")).distinct().orderBy(col("term"))
      .collect().map(_.getString(0))
    val w = new java.io.PrintWriter(out)
    toks.foreach(t => w.println(t + "," + graft.text.Porter.stem(t)))
    w.close()
    println(s"[dumpstems] ${toks.length} tokens -> $out")
    spark.stop()
  }
}
