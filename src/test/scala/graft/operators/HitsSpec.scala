package graft.operators

import graft.SparkSpec

class HitsSpec extends SparkSpec {
  import spark.implicits._

  private def scores(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.as[(Long, Long)].collect().toSeq.sortBy(identity)

  test("rounds < 1 is rejected (auths undefined before the first half-round)") {
    val edges = Seq((1L, 10L)).toDF("hub", "auth")
    intercept[IllegalArgumentException](Hits.run(edges, 0))
    intercept[IllegalArgumentException](Hits.runConverged(edges, 0))
  }

  test("runConverged early-exits at the integer fixpoint, identical to fixed rounds") {
    // complete bipartite K2,2: every score is Scale after round 1, so
    // round 2 confirms the fixpoint and the loop exits at r=2
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)).toDF("hub", "auth")
    val (hubs, auths, rounds) = Hits.runConverged(edges, maxRounds = 20)
    assert(rounds === 2, "K2,2 fixpoint must be confirmed at round 2")
    val (fh, fa) = Hits.run(edges, rounds)
    assert(scores(hubs) === scores(fh))
    assert(scores(auths) === scores(fa))
    assert(scores(hubs) === Seq((1L, 1000000L), (2L, 1000000L)))
    assert(scores(auths) === Seq((10L, 1000000L), (11L, 1000000L)))
  }

  test("runConverged on an asymmetric graph matches run at its exit round") {
    // two disconnected stars of different fan-out — converges once the
    // minor component's score underflows to a stable integer
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L), (3L, 13L))
      .toDF("hub", "auth")
    val (hubs, auths, rounds) = Hits.runConverged(edges, maxRounds = 40)
    assert(rounds < 40, "must reach the integer fixpoint before maxRounds")
    val (fh, fa) = Hits.run(edges, rounds)
    assert(scores(hubs) === scores(fh))
    assert(scores(auths) === scores(fa))
  }

  test("normalize rejects an un-checkpointed frame and accepts a cut one") {
    val raw = Seq((1L, 4L), (2L, 8L)).toDF("id", "raw")
    val e = intercept[IllegalArgumentException](Hits.normalize(raw))
    assert(e.getMessage.contains("checkpointed"))
    val got = Hits.normalize(Lineage.cut(raw)).as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 500000L), (2L, 1000000L)))
  }
}
