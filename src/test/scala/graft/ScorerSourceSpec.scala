package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source check: each text scorer has one definition, in
  * `operators/TextOps.scala`, and every other caller — the streaming
  * serving twins included — reaches its operating point through that
  * module's kernels. So no other main source may name a scorer
  * constant: a second spelling of the formula would need one. */
class ScorerSourceSpec extends AnyFunSuite {

  private val owner = "TextOps.scala"
  private val constants =
    Seq("Bm25K1", "Bm25K1p1", "Bm25B", "Bm25OneMinusB", "QlMu", "KnD")
  private val constant = constants.mkString("""\b(""", "|", """)\b""").r

  private def mainSources: List[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root; ${root.toAbsolutePath} is missing")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("scorer constants appear in no main source but TextOps") {
    val sources = mainSources
    assert(sources.exists(_.getFileName.toString == owner))
    val hits = for {
      f <- sources if f.getFileName.toString != owner
      (line, i) <- Files.readAllLines(f).asScala.toList.zipWithIndex
      m <- constant.findAllIn(line)
    } yield s"$f:${i + 1}: $m"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
