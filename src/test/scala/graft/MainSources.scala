package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The main Scala sources the source checks read
  * (LifecycleSourceSpec, ScorerSourceSpec). Tests run from the project
  * root. */
object MainSources {
  def files: List[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root; ${root.toAbsolutePath} is missing")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }
}
