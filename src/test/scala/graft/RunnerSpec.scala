package graft

/** The release contract every harness and spec leans on: whatever a
  * query persists or checkpoints is freed after it, also when it fails.
  */
class RunnerSpec extends SparkTestBase {

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  test("released frees persisted and checkpointed frames when its body throws") {
    val boom = intercept[IllegalStateException] {
      Runner.released(spark) {
        spark.range(100).toDF("id").persist().count()
        spark.range(100).toDF("id").localCheckpoint()
        assert(persisted >= 2, "the body must leave blocks to free")
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    assert(persisted == 0, s"$persisted persisted RDDs survived the release")
  }

  test("run reports a failing query and still releases") {
    spark.range(100).toDF("id").persist().count()
    assert(persisted >= 1)
    val r = Runner.run(spark, "q1_inverted_index", "/nonexistent/sf")
    assert(r.isFailure, s"a query over a missing dataset must fail, got $r")
    assert(persisted == 0, s"$persisted persisted RDDs survived the release")
  }
}
