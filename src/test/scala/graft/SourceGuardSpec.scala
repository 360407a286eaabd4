package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level guards for single ownership:
  *  - `graft.streaming.DeltaStore` is the only streaming code that
  *    spells the `batch_id=<k>` layout or folds a window over
  *    `batch_id` (the one exception: `BloomStream.readWords`' read of
  *    the two newest snapshots, its guard against a torn newest write);
  *  - `Dedup` writes no session conf;
  *  - no main code lists files through Hadoop's `listFiles` or
  *    `listLocatedStatus`;
  *  - the document-quality features (token, word-length, alpha and
  *    probe-stopword counters, punctuation/digit counts, the Gopher
  *    rules) are spelled once per engine: `TextAnalytics` for Spark
  *    columns, `TwinSql` for the DuckDB twins;
  *  - `Curation.curate` is the one curation pipeline: its stage counts
  *    are observed metrics, not count jobs, and it caches nothing in
  *    the session-wide cache manager;
  *  - each verification chain two or more queries share is spelled
  *    once: the DuckDB-twin chains in `TwinSql`, the Spark exact
  *    set-overlap chain in `Dedup.overlapCounts` and the token n-gram
  *    window text in `CurationOps.windowText`;
  *  - the twin whitespace tokenizer is spelled once, in `TwinSql.toksOf`.
  */
class SourceGuardSpec extends AnyFunSuite {

  private def codeLines(p: Path): Seq[(String, Int)] = {
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }
    Files.readAllLines(p).asScala.toSeq.zipWithIndex.filterNot(l => isComment(l._1))
  }

  test("only DeltaStore spells the batch_id= layout or folds over batch_id") {
    val dir = Paths.get("src/main/scala/graft/streaming")
    val files = {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "DeltaStore.scala"))
    val layout = "batch_id=".r
    val fold = """(orderBy|max)\(\s*col\("batch_id"\)""".r
    val allowed = ("BloomStream.scala", """.orderBy(col("batch_id").desc)""")
    val hits = files.filterNot(_.getFileName.toString == "DeltaStore.scala")
      .flatMap { p =>
        codeLines(p).collect {
          case (l, i) if layout.findFirstIn(l).isDefined ||
              fold.findFirstIn(l).isDefined =>
            (p.getFileName.toString, l.trim) -> s"$p:${i + 1}: ${l.trim}"
        }
      }
    val (exempt, offenders) = hits.partition(_._1 == allowed)
    assert(offenders.isEmpty, offenders.map(_._2).mkString("\n"))
    assert(exempt.size == 1, exempt.map(_._2).mkString("\n"))
  }

  test("Dedup writes no session conf") {
    val p = Paths.get("src/main/scala/graft/ops/Dedup.scala")
    val hits = codeLines(p).collect {
      case (l, i) if l.contains("conf.set") => s"$p:${i + 1}: ${l.trim}"
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  private def mainFiles: List[Path] = {
    val s = Files.walk(Paths.get("src/main"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("no Hadoop listFiles or listLocatedStatus walk in src/main") {
    // java.io.File#listFiles() takes no arguments and stays allowed
    val located = """listFiles\(\s*[^\s)]|listLocatedStatus\(""".r
    val hits = mainFiles.flatMap { p =>
      codeLines(p).collect {
        case (l, i) if located.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty,
      "walk with FileSystem.listStatus instead: listFiles/listLocatedStatus build a " +
        "LocatedFileStatus per file, a per-file permission lookup on the local " +
        "filesystem\n" + hits.mkString("\n"))
  }

  test("quality-feature formulas are spelled only in TextAnalytics and TwinSql") {
    // (owner, formula shapes only the owner may spell). The paper's
    // punctuation strip (Normalize.stripPunct, PorterSql's token strip)
    // is not a quality feature: it strips a column other than the
    // document's `text` and stays allowed.
    val owners = Seq(
      "TwinSql.scala" -> Seq(
        """'the','a','an'""",
        """regexp_matches\(x, '\[A-Za-z\]'\)""",
        """10 \* (\w+\.)?na >= 8 \* (\w+\.)?nt""",
        """regexp_replace\(text, '(\\{1,2}p\{P\}|\[0-9\])'"""),
      "TextAnalytics.scala" -> Seq(
        """"the", "a", "an"""",
        """rlike\("\[A-Za-z\]"\)""",
        """probeStops\.map\(lit\)""",
        """regexp_replace\(col\("text"\), "(\\\\p\{P\}|\[0-9\])""""))
    val files = mainFiles
    for ((owner, shapes) <- owners) {
      assert(files.exists(_.getFileName.toString == owner))
      val re = shapes.mkString("|").r
      val hits = files.filterNot(_.getFileName.toString == owner).flatMap { p =>
        codeLines(p).collect {
          case (l, i) if re.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
        }
      }
      assert(hits.isEmpty,
        s"call the quality-feature definitions in ${owner.stripSuffix(".scala")} " +
          "instead of spelling the formula\n" + hits.mkString("\n"))
    }
  }

  test("curate is the one curation pipeline and runs no count or cache") {
    val p = Paths.get("src/main/scala/graft/pipeline/Curation.scala")
    val hits = codeLines(p).collect {
      case (l, i) if l.contains(".count()") || l.contains(".cache()") =>
        s"$p:${i + 1}: ${l.trim}"
    }
    assert(hits.isEmpty,
      "observe the stage count on an existing materialization and " +
        "checkpoint instead of caching\n" + hits.mkString("\n"))
    val forks = mainFiles.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("curateObserved") => s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(forks.isEmpty, forks.mkString("\n"))
  }

  test("the twin whitespace tokenizer is spelled only in TwinSql.toksOf") {
    // matched across line breaks: a hand-spelled copy may wrap anywhere
    val chain = """list_filter\(\s*string_split_regex\(""".r
    val hits = mainFiles.flatMap { p =>
      val code = codeLines(p).map(_._1).mkString("\n")
      chain.findAllMatchIn(code).map(_ => p.getFileName.toString).toSeq
    }
    assert(hits == Seq("TwinSql.scala"),
      "call TwinSql.toksOf instead of spelling the tokenizer: " + hits.mkString(", "))
  }

  test("each verification chain is spelled once in src/main") {
    // (a line only the chain spells, the one file allowed to, its owner)
    val chains = Seq(
      ("count(*) AS n_common", "TwinSql.scala", "TwinSql.overlapSql"),
      ("JOIN reach re ON re.v = e.b", "TwinSql.scala", "TwinSql.componentsSql"),
      ("list_slice(mh, g.b*4 + 1", "TwinSql.scala", "TwinSql.bandCandidatesSql"),
      ("spine AS (SELECT ns.source", "TwinSql.scala", "TwinSql.chiSquareSql"),
      ("tfdl AS (SELECT term, doc_id, tf", "TwinSql.scala", "TwinSql.bm25StatsSql"),
      ("SELECT qid, cid, score, rnk FROM (", "TwinSql.scala", "TwinSql.topKSql"),
      ("qs AS (SELECT CAST(r // 2 AS BIGINT) AS qid, term FROM top8)", "TwinSql.scala",
        "TwinSql.retrievalHeadSql"),
      ("CAST(count(*) AS BIGINT) AS n_matched", "TwinSql.scala", "TwinSql.retrievalTailSql"),
      ("concat_ws(\"\\u0001\", slice(", "CurationOps.scala", "CurationOps.windowText"),
      ("min(((2*g.j + 1) * d.tid + 97*g.j + 13) % 1000003) AS mh", "Dedup.scala",
        "Dedup.minhashCtesSql"))
    val files = mainFiles
    for ((marker, owner, name) <- chains) {
      val hits = files.flatMap { p =>
        codeLines(p).collect {
          case (l, i) if l.contains(marker) =>
            p.getFileName.toString -> s"$p:${i + 1}: ${l.trim}"
        }
      }
      assert(hits.map(_._1) == Seq(owner),
        s"call $name instead of spelling its chain\n" + hits.map(_._2).mkString("\n"))
    }
    // the Spark overlap chain: the helper, plus jaccardPairsTouching's
    // own delta-sided join
    val dedup = Paths.get("src/main/scala/graft/ops/Dedup.scala")
    val overlap = codeLines(dedup).collect {
      case (l, i) if l.contains(".as(\"n_common\"))") => s"$dedup:${i + 1}: ${l.trim}"
    }
    assert(overlap.size == 2,
      "call Dedup.overlapCounts instead of spelling the overlap chain\n" +
        overlap.mkString("\n"))
  }
}
