package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The source scans behind the one-module guards: which `.scala` files
  * contain a pattern. */
object SourceGuard {

  /** Every `.scala` file under `root`, as (path relative to `root`,
    * source text). */
  def sources(root: Path): List[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => (root.relativize(p).toString, Files.readString(p))).toList
    finally walk.close()
  }

  /** The files among `files` whose source matches `pattern`, sorted. */
  def offenders(files: Seq[(String, String)], pattern: Regex): List[String] =
    files.collect { case (f, src) if pattern.findFirstIn(src).isDefined => f }
      .toList.sorted

  /** [[offenders]] over every `.scala` file under `root`. */
  def scan(root: Path, pattern: Regex): List[String] =
    offenders(sources(root), pattern)
}
