package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Malformed-input behavior: parsers must degrade row-local (null /
  * skip), never fail the job — at 100 TB there is ALWAYS a corrupt
  * record, and one bad row must not kill a million-task scan.
  */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  test("bracket-vector parse: junk degrades to a NULL vector, not a thrown scan") {
    val rows = Seq("[1,2,3,]", "[]", "", "[a,b]", "nonsense", "[1.5,-2]", "[1,x,3]")
      .toDF("v")
      .select(Corpus.parseBracketVector(col("v")).as("parsed"))
      .collect()
    // well-formed rows parse; any junk element nulls the WHOLE vector
    // (null elements would silently read as 0.0 in the getDouble
    // kernels — a null vector surfaces instead of corrupting distances)
    assert(rows(0).getSeq[Double](0) == Seq(1.0, 2.0, 3.0))
    assert(rows(1).getSeq[Double](0).isEmpty)
    assert(rows(5).getSeq[Double](0) == Seq(1.5, -2.0))
    assert(rows(3).isNullAt(0)) // [a,b]
    assert(rows(4).isNullAt(0)) // nonsense
    assert(rows(6).isNullAt(0)) // [1,x,3] — one bad element nulls all
  }

  test("distance kernels surface null (not silent 0.0) for unparseable vectors") {
    val df = Seq(("[1,0,]", "[1,0,]"), ("[1,junk,]", "[1,0,]"))
      .toDF("a", "b")
      .select(Corpus.parseBracketVector(col("a")).as("va"),
        Corpus.parseBracketVector(col("b")).as("vb"))
    val sims = df.select(
      graft.functions.functions.cosine_similarity(col("va"), col("vb"))).collect()
    assert(sims(0).getDouble(0) == 1.0)
    assert(sims(1).isNullAt(0), "junk vector must yield null, not a fake score")
    val assigned = graft.cluster.KMeansAssign.assignMap(
      df.select(col("va").as("vec")), Array(Array(1.0, 0.0)))
    val centers = assigned.select("center_id").collect()
    assert(centers(0).getInt(0) == 0)
    assert(centers(1).isNullAt(0), "junk vector must not be assigned a center")
  }

  test("corrupt center lines are dropped; surviving ids keep line order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-centers")
    java.nio.file.Files.write(dir.resolve("centers.txt"),
      "[1,0,]\n[bad,line]\n[0,1,]\n".getBytes)
    val c = Corpus.readCenters(spark, dir.resolve("centers.txt").toString)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(c == Map(0 -> Seq(1.0, 0.0), 2 -> Seq(0.0, 1.0))) // id 1 gap, no shift
  }

  test("fileCount counts zero-byte doc files (presence-vector width must cover every id)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-count")
    java.nio.file.Files.write(dir.resolve("1.txt"), "alpha".getBytes)
    java.nio.file.Files.write(dir.resolve("2.txt"), Array.emptyByteArray) // empty doc
    java.nio.file.Files.write(dir.resolve("3.txt"), "beta".getBytes)
    java.nio.file.Files.write(dir.resolve("README"), "not a doc".getBytes)
    // line-derived distinct-id counting returned 2 here: the empty doc
    // yields no line rows, and the undershot width made every id at or
    // after the gap silently vanish from the presence vectors
    assert(Corpus.fileCount(spark, dir.toString) == 3)
  }

  test("fileCount walks subdirectories and counts only doc-named files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-walk")
    java.nio.file.Files.write(dir.resolve("1.txt"), "alpha".getBytes)
    java.nio.file.Files.write(dir.resolve("4.txt"), Array.emptyByteArray)
    java.nio.file.Files.write(dir.resolve("9.txt"), Array.emptyByteArray)
    val nested = java.nio.file.Files.createDirectories(dir.resolve("part/deeper"))
    java.nio.file.Files.write(nested.resolve("2.txt"), "beta".getBytes)
    // a directory named like a doc is not a doc itself; its files are
    val docNamedDir = java.nio.file.Files.createDirectory(dir.resolve("7.d"))
    java.nio.file.Files.write(docNamedDir.resolve("5.txt"), "gamma".getBytes)
    java.nio.file.Files.write(dir.resolve("notes.txt"), "not a doc".getBytes)
    assert(Corpus.fileCount(spark, dir.toString) == 5)
  }

  test("corpus scan skips non-numeric filenames instead of failing the job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mixed")
    java.nio.file.Files.write(dir.resolve("1.txt"), "alpha beta".getBytes)
    java.nio.file.Files.write(dir.resolve("README"), "not a doc".getBytes)
    java.nio.file.Files.write(dir.resolve("_checkpoint.tmp"), "x".getBytes)
    // trailing digits must NOT ingest under a bogus id (anchored regex)
    java.nio.file.Files.write(dir.resolve("readme2.txt"), "impostor".getBytes)
    // id beyond Int range must be skipped, not crash the ANSI cast
    java.nio.file.Files.write(dir.resolve("99999999999.txt"), "too big".getBytes)
    val docs = Corpus.readDocs(spark, dir.toString).collect()
    assert(docs.map(_.getInt(0)).toSeq == Seq(1))
    assert(!docs.exists(_.getString(1).contains("impostor")))
  }

  test("a non-UTF-8 file degrades row-locally instead of failing the corpus scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-enc")
    java.nio.file.Files.write(dir.resolve("1.txt"), "plain ascii".getBytes("UTF-8"))
    // latin-1 'é' = 0xE9: an invalid UTF-8 sequence
    java.nio.file.Files.write(dir.resolve("2.txt"),
      Array[Byte]('c', 'a', 'f', 0xE9.toByte, ' ', 'o', 'k'))
    val docs = Corpus.readDocs(spark, dir.toString).collect()
    assert(docs.length == 2, "the malformed file must not kill the scan")
    assert(docs.find(_.getInt(0) == 1).get.getString(1) == "plain ascii")
    // the bad byte degrades within its own row only
    assert(docs.find(_.getInt(0) == 2).get.getString(1).startsWith("caf"))
  }

  test("connectedComponents of an empty pair set is empty, not a crash") {
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
    assert(graft.ops.Dedup.connectedComponents(empty).count() == 0)
  }

  test("from_json on malformed props yields null, and aggregation survives") {
    val rows = Seq("""{"k": 7}""", """{"k": """, "", "plain text", """{"j": 1}""")
      .toDF("props")
      .select(element_at(
        from_json(col("props"), lit("map<string,bigint>")), "k").as("k"))
      .collect()
    assert(rows(0).getLong(0) == 7L)
    assert(rows.drop(1).forall(_.isNullAt(0)))
  }

  test("langId and quality scoring are total on empty/whitespace text") {
    val docs = Seq((1L, "", "en"), (2L, "   ", "en"), (3L, "\n\t", "en"))
      .toDF("doc_id", "text", "lang")
    // must not throw; every doc gets some deterministic label/score
    val lang = graft.ops.TextAnalytics.langId(docs).collect()
    assert(lang.length == 3)
    val stemmed = docs.select(
      graft.functions.functions.porter_stem(col("text"))).collect()
    assert(stemmed.length == 3)
  }
}
