package graft

/** Driver-contract invariants (the t1 smoke + registry hygiene). */
class SparkEntrySpec extends SparkSpec {

  test("entry (flagship Q1 analog) returns rows on sf0.001") {
    SparkEntry.entry(spark).count() should be > 0L
  }

  test("every oracle key has a query; names are unique and snake_case") {
    val qs = SparkEntry.queries.keySet
    SparkEntry.oracleSql.keySet.diff(qs) shouldBe empty
    qs.foreach(n => n should fullyMatch regex "[a-z0-9_]+")
  }

  test("every no-oracle query is a registered demo face of an oracle-gated sibling") {
    // the permanent policy (r11 verdict item 6): rows-only entries are
    // production-hash faces; each must name its gated sibling in
    // Q.demoFaces, and that sibling must exist AND carry an oracle.
    // A new noOracle query fails here until it is gated or registered.
    val noOracle = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    noOracle shouldBe graft.queries.Q.demoFaces.keySet
    graft.queries.Q.demoFaces.foreach { case (face, sibling) =>
      withClue(s"$face -> $sibling") {
        SparkEntry.oracleSql.keySet should contain(sibling)
      }
    }
  }

  test("declared-price face lists name only declared queries, disjoint classes") {
    // the r18 bench-lane instrument: SPARK_GRAFT_BENCH_SKIP_DECLARED
    // filters by these sets — a stale name would silently skip nothing
    // (or a rename would silently re-include a face in the engine lane)
    val qs = SparkEntry.queries.keySet
    graft.queries.Q.declaredPriceFaces.diff(qs) shouldBe empty
    graft.queries.Q.lifecycleFaces
      .intersect(graft.queries.Q.contractFaces) shouldBe empty
  }

  test("every temp-dir lifecycle query is registered in lifecycleFaces (r19, lane-drift gate)") {
    // the bench lane instrument filters by Q.lifecycleFaces — a NEW
    // lifecycle-shaped query (one that builds disk state in-query via
    // createTempDirectory) that forgets to register silently degrades
    // the engine-lane number. Source-level heuristic: scan the query
    // registry sources; each createTempDirectory occurrence inside a
    // Q("name", ...) block must belong to a registered lifecycle face.
    val faces = tempDirFaces(querySources)
    val offenders = unregistered(faces)
    withClue("temp-dir lifecycle queries missing from Q.lifecycleFaces:\n" +
      offenders.mkString("\n")) { offenders shouldBe empty }
    // the heuristic itself stays live: at least one call is attributed to
    // a Q block (a hit anywhere else, such as the helper's own body in
    // Q.scala, would pass while the gate finds no face at all)
    faces should not be empty
    // ...and it fires: a planted face that makes a store dir unregistered
    unregistered(tempDirFaces(Seq("Planted.scala" ->
      """Q("planted_face", "stores", (spark, sf) => {
        |  val dir = Q.createTempDirectory("planted")""".stripMargin))) shouldBe
      Seq("Planted.scala: planted_face")
  }

  test("the temp-dir lifecycle gate reports itself blind when the helper is renamed") {
    val (file, src) = querySources.find(_._1 == "StreamQueries.scala").get
    tempDirFaces(Seq(file -> src)) should not be empty
    tempDirFaces(Seq(file -> src.replace("createTempDirectory", "storeDir"))) shouldBe empty
  }

  /** The registry sources the lifecycle gate scans, as (file name, text). */
  private def querySources: Seq[(String, String)] = {
    val files = new java.io.File("src/main/scala/graft/queries")
      .listFiles().filter(_.getName.endsWith(".scala")).toSeq
    files should not be empty
    files.map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Each `createTempDirectory` call inside a `Q("name", …)` block, as
    * (file name, query name); a call before the file's first block is
    * attributed to no query. */
  private def tempDirFaces(sources: Seq[(String, String)]): Seq[(String, String)] =
    SourceGuard.hits(sources, "createTempDirectory".r).collect {
      case SourceGuard.Hit(file, Some(SourceGuard.Block("Q", name))) => file -> name
    }

  /** The faces among `faces` that `Q.lifecycleFaces` does not register. */
  private def unregistered(faces: Seq[(String, String)]): Seq[String] = faces
    .filterNot { case (_, name) => graft.queries.Q.lifecycleFaces.contains(name) }
    .map { case (file, name) => s"$file: $name" }

  test("declared queries run and are non-empty on sf0.001") {
    // the driver's weaker check for oracle-less queries is rows > 0; catch
    // regressions here before the driver does
    val noOracle = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    noOracle.foreach { n =>
      withClue(n) {
        SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count() should be > 0L
      }
    }
  }
}
