package graft

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The code lines of a source tree, for the source-guard specs. */
object SourceScan {

  /** (relative path, code lines) of every source under `dir`, comments
    * dropped. */
  def sourcesIn(dir: String): Seq[(String, Seq[String])] = {
    val root = new java.io.File(dir)
    assert(root.isDirectory, s"run from the repository root: $root")
    val base = root.toPath
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).map { f =>
        val code = java.nio.file.Files.readAllLines(f).asScala.toSeq
          .map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("/*") ||
            l.startsWith("//"))
          .map(l => l.indexOf(" // ") match { case -1 => l; case i => l.take(i) })
        base.relativize(f).toString -> code
      }.toSeq
    finally walk.close()
  }

  lazy val mainSources: Seq[(String, Seq[String])] = sourcesIn("src/main/scala")

  /** Matches of `re` per file of `in`; files without one are left out. */
  def count(re: Regex, in: Seq[(String, Seq[String])] = mainSources): Map[String, Int] =
    in.map { case (f, ls) => f -> ls.map(re.findAllIn(_).size).sum }
      .filter(_._2 > 0).toMap
}
