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
  *    `listLocatedStatus`.
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

  test("no Hadoop listFiles or listLocatedStatus walk in src/main") {
    val files = {
      val s = Files.walk(Paths.get("src/main"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    // java.io.File#listFiles() takes no arguments and stays allowed
    val located = """listFiles\(\s*[^\s)]|listLocatedStatus\(""".r
    val hits = files.flatMap { p =>
      codeLines(p).collect {
        case (l, i) if located.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty,
      "walk with FileSystem.listStatus instead: listFiles/listLocatedStatus build a " +
        "LocatedFileStatus per file, a per-file permission lookup on the local " +
        "filesystem\n" + hits.mkString("\n"))
  }
}
