package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** A doc comment documents the definition right below it. One followed
  * directly by another doc comment documents nothing: scaladoc attaches
  * only the last block, so the first one's text is lost to its name.
  */
class ScaladocSpec extends AnyFunSuite {
  test("no doc comment under src/main is followed directly by another doc comment") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: $root is missing")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    val detached = files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.map(_.trim).toIndexedSeq
      lines.indices.flatMap { i =>
        if (!lines(i).startsWith("/**")) None
        else {
          val end = (i until lines.size)
            .find(j => (if (j == i) lines(j).drop(3) else lines(j)).contains("*/"))
            .getOrElse(lines.size - 1)
          val next = (end + 1 until lines.size).find(lines(_).nonEmpty)
          next.filter(lines(_).startsWith("/**")).map(_ => s"$f:${i + 1}")
        }
      }
    }
    assert(detached.isEmpty, s"detached doc comments:\n${detached.mkString("\n")}")
  }
}
