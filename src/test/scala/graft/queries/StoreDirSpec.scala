package graft.queries

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SourceGuard

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
    val jdkCall = raw"Files\s*\.\s*createTempDirectory".r
    val facesAndExamples = SourceGuard.sources(src).filter { case (f, _) =>
      (f.startsWith("queries/") || f.startsWith("examples/")) &&
        !f.endsWith("/Q.scala")
    }
    SourceGuard.offenders(facesAndExamples, jdkCall) shouldBe Nil
    // live: the helper's own JDK call is what the scan exempts, and the
    // faces it covers do make store dirs (through the helper, inside
    // their Q blocks)
    val helper = SourceGuard.sources(src).filter(_._1 == "queries/Q.scala")
    SourceGuard.hits(helper, jdkCall) should not be empty
    SourceGuard.hits(facesAndExamples, raw"Q\s*\.\s*createTempDirectory".r)
      .exists(_.in.exists(_.kind == "Q")) shouldBe true
    // it fires: a planted face making its dir through the JDK is
    // reported, attributed to its Q block
    SourceGuard.hits(Seq("queries/Planted.scala" ->
      """Q("planted_face", "stores", (spark, sf) => {
        |  val dir = java.nio.file.Files.createTempDirectory("planted")""".stripMargin),
      jdkCall) shouldBe
      List(SourceGuard.Hit("queries/Planted.scala", Some(SourceGuard.Block("Q", "planted_face"))))
  }
}
