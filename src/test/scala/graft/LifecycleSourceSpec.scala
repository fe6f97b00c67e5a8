package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source check: [[QueryScope]] is the one way a query builder keeps an
  * intermediate, so no main source may persist, cache, checkpoint or
  * unpersist on its own. The scope's own calls (`scope.persist`,
  * `scope.unpersist`, `scope.materialize`) are allowed, and the name
  * `scope` is reserved for the scope: main code may bind it only as the
  * parameter of a `QueryScope(...)` / `QueryScope.eager(...)` block or
  * as a parameter typed `QueryScope`, so a Dataset can never pass as a
  * scope call by its name. Exempt: the scope itself, the bridge that
  * builds its materialized relations, and the CDC pipeline's per-trigger
  * fan-out persist, which is released in a `finally` every trigger.
  * Keyed streaming state likewise has one mechanism: the one
  * `StatefulProcessor` subclass, `StatefulOps.KeyedFold`. */
class LifecycleSourceSpec extends AnyFunSuite {

  private val exempt = Set("QueryScope.scala", "GraftBridge.scala", "CdcPipeline.scala")
  private val scopeCall = """\bscope\.(persist|unpersist|materialize)\(""".r
  private val forbidden = Seq(
    """\.persist\(""", """\.cache\b""", "localCheckpoint", """\.checkpoint\(""", """\.unpersist\(""")
    .map(_.r)
  // every place the name `scope` is bound, and the two allowed forms
  private val binding =
    """(\b(val|var|def|case)\s+scope\b|\bscope\s*(=>|:|<-|=(?!=)))""".r
  private val allowedBinding =
    """(QueryScope(\.eager)?\([^()]*\)\s*\{\s*scope\s*=>|\bscope: QueryScope\b)""".r

  /** The code of each line (comment lines and trailing `//` comments
    * dropped), numbered from 1, for each of `files`. */
  private def codeLinesOf(files: List[Path]): List[(Path, Int, String)] = for {
    f <- files
    (line, i) <- Files.readAllLines(f).asScala.toList.zipWithIndex
    t = line.trim if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
  } yield (f, i + 1, line.replaceAll("""\s//\s.*$""", ""))

  /** [[codeLinesOf]] every non-exempt main source. */
  private def codeLines: List[(Path, Int, String)] =
    codeLinesOf(MainSources.files.filterNot(f => exempt(f.getFileName.toString)))

  test("no main source keeps an intermediate outside QueryScope") {
    val lines = codeLines
    assert(lines.nonEmpty)
    val hits = for {
      (f, n, code) <- lines
      token <- forbidden if token.findFirstIn(scopeCall.replaceAllIn(code, "")).nonEmpty
    } yield s"$f:$n: $token"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("change events enter the program only through CdcPipeline.fileSource") {
    // every `readStream` in main code, by file and enclosing definition
    val hits = for {
      f <- MainSources.files
      lines = Files.readAllLines(f).asScala.toList
      (line, i) <- lines.zipWithIndex
      t = line.trim if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      if line.contains("readStream")
      enclosing = lines.take(i + 1).reverse.collectFirst { case d if d.trim.startsWith("def ") => d.trim }
    } yield (f.getFileName.toString, enclosing.getOrElse(""), s"$f:${i + 1}: ${t}")
    assert(hits.nonEmpty, "CdcPipeline.fileSource no longer reads a stream")
    val stray = hits.filterNot { case (file, enclosing, _) =>
      file == "CdcPipeline.scala" && enclosing.startsWith("def fileSource(") }
    assert(stray.isEmpty, stray.map(_._3).mkString("\n", "\n", ""))
  }

  test("keyed streaming state has one mechanism: one StatefulProcessor, no MapState") {
    val lines = codeLinesOf(MainSources.files)
    assert(lines.nonEmpty)
    val processors = lines.collect { case (f, n, code)
      if """\bextends\s+StatefulProcessor\w*\b""".r.findFirstIn(code).nonEmpty => s"$f:$n" }
    assert(processors.size == 1,
      s"expected the one keyed fold, found ${processors.size}:" + processors.mkString("\n", "\n", ""))
    val mapStates = lines.collect { case (f, n, code) if code.contains("getMapState") => s"$f:$n" }
    assert(mapStates.isEmpty, mapStates.mkString("\n", "\n", ""))
  }

  test("main sources bind the name `scope` only to a QueryScope") {
    val hits = for {
      (f, n, code) <- codeLines
      if binding.findFirstIn(allowedBinding.replaceAllIn(code, "")).nonEmpty
    } yield s"$f:$n: $code"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
