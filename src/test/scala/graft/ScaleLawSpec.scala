package graft

/** Every [[Scale]] law at R=3 on sf0.001: the replicate-R scaling laws
  * (and the q206 ingest laws that replay real micro-batched ingests)
  * as a regression test. sf0.001 has 500 docs, so q127's 10 | N
  * precondition holds, and R=3 meets q172's R ≥ DupCap. Laws run in
  * registration order against one harness, so each corpus is written
  * once and the agreement pairs (q46/q55, the skew censuses) meet. */
class ScaleLawSpec extends SparkSpec {
  private lazy val harness = new Scale.Harness(spark, "/root/testdata/sf0.001", 3)

  Scale.laws.foreach { law =>
    test(s"${law.name} holds at R=3")(harness.run(law))
  }

  test("an unknown law name fails the selection") {
    intercept[IllegalArgumentException](Scale.select(Seq("q101", "no_such_law")))
  }

  override def afterAll(): Unit = {
    harness.close()
    super.afterAll()
  }
}
