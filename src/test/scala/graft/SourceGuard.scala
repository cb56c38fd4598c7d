package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The source scans behind the one-module guards: which `.scala` files
  * contain a pattern, and which `Q("…")` block or `case class` each
  * match sits in. */
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

  /** The block a match sits in: a declared query's `Q("name", …)` block
    * (`kind` "Q") or a `case class` (`kind` "case class"). */
  final case class Block(kind: String, name: String)

  /** One match of a pattern: its file and the block whose definition
    * most closely precedes it (`None` before the file's first one). */
  final case class Hit(file: String, in: Option[Block])

  private val blockDef = """Q(?:\.noOracle)?\(\s*"([a-z0-9_]+)"|case\s+class\s+(\w+)""".r

  /** Every match of `pattern` in `files`, each with its [[Block]];
    * distinct, in file order. */
  def hits(files: Seq[(String, String)], pattern: Regex): List[Hit] =
    files.sortBy(_._1).flatMap { case (file, src) =>
      val blocks = blockDef.findAllMatchIn(src).map { m =>
        m.start -> (if (m.group(1) != null) Block("Q", m.group(1))
                    else Block("case class", m.group(2)))
      }.toSeq
      pattern.findAllMatchIn(src).map { hit =>
        Hit(file, blocks.takeWhile(_._1 < hit.start).lastOption.map(_._2))
      }.toSeq.distinct
    }.toList
}
