package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[Q.createTempDirectory]]: the one place a stateful face or example
  * makes its store directory, so every such directory is removed at
  * JVM exit. */
class StoreDirSpec extends AnyFunSuite with Matchers {
  test("Q.createTempDirectory makes a fresh empty directory per call") {
    val a = Paths.get(Q.createTempDirectory("store_dir_spec"))
    val b = Paths.get(Q.createTempDirectory("store_dir_spec"))
    a should not be b
    Seq(a, b).foreach { d =>
      Files.isDirectory(d) shouldBe true
      Files.list(d).count() shouldBe 0L
      d.getFileName.toString should startWith("store_dir_spec")
    }
  }

  test("queries and examples make temp directories only through Q.createTempDirectory") {
    val src = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(src), s"run from the repository root (no $src)")
    def scala(dir: Path) = {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val jdkCall = raw"Files\s*\.\s*createTempDirectory".r
    val sites = (scala(src.resolve("queries")) ++ scala(src.resolve("examples")))
      .filter(p => p.getFileName.toString != "Q.scala" &&
        jdkCall.findFirstIn(Files.readString(p)).isDefined)
      .map(p => src.relativize(p).toString)
    sites shouldBe Nil
  }
}
