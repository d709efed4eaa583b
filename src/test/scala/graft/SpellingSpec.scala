package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The word tokenizer and the word-n-gram lambda have one definition each,
  * in `graft.engine.Words`. A second spelling drifts from the first (and
  * from the oracle's) and loses the generator's short-doc guard, so a copy
  * anywhere else under src/main fails here.
  */
class SpellingSpec extends AnyFunSuite {
  test("the word tokenizer and the n-gram lambda are spelled only in graft.engine.Words") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: $root is missing")
    val home = Paths.get("src/main/scala/graft/engine/Words.scala")
    val spellings = Seq(
      """split\(lower\(col\("text"\)\)""".r,
      """slice\(col\("ts"\), i\b""".r,
      """concat_ws\(" ", slice\(""".r)
    val files = Files.walk(root).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && f != home).toSeq
    val hits = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if spellings.exists(_.findFirstIn(line).isDefined) => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(Files.exists(home), s"$home is missing")
    assert(hits.isEmpty, s"hand-spelled tokenizer or n-gram lambda:\n${hits.mkString("\n")}")
  }
}
