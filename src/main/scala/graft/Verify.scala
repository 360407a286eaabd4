package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // dev-only: optional 3rd arg = comma-separated query-name prefixes
    // to dump (the driver always passes exactly two args)
    val only = args.drop(2).headOption.map(_.split(",").toSeq)
    def wanted(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = GraftSession.forRegistry().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // two-stage-oracle artifacts: Spark-computed frames whose
    // downstream logic IS SQL-expressible (oracle SQL reads them via
    // the __GRAFT_OUT__ substitution below) — see ops.AuxArtifacts.
    // Under a dev `only` filter, dump just the artifacts some WANTED
    // query's oracle actually reads (or that were named directly) —
    // iterating on one relational query must not pay the PQ/Lloyd/
    // sketch builds every cycle. Driver runs (no filter) dump all.
    val wantedSqls = SparkEntry.oracleSql.filter(kv => wanted(kv._1)).values.toSeq
    def auxNeeded(name: String): Boolean =
      only.isEmpty || wanted(name) ||
        wantedSqls.exists(_.contains("__GRAFT_OUT__/" + name))
    graft.ops.AuxArtifacts.all.filter(kv => auxNeeded(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => wanted(kv._1))
      .map { case (k, v) => k -> v.replace("__GRAFT_OUT__", outDir) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
