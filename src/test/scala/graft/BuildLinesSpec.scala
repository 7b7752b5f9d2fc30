package graft

import graft.core.SharedFrames

/** Bench's cold-build accounting: run cold in table order, each build
  * line's query must build a memo no earlier line built (so its time is
  * that memo's cold cost), and together they must build all nine.
  */
class BuildLinesSpec extends SparkSpecBase {

  test("each build line makes a new memo live; after the last, all nine are") {
    SharedFrames.releaseAll()
    var built = Set.empty[String]
    for ((line, q) <- Bench.buildLines) {
      SparkEntry.queries(q)(spark, sfDir).count()
      val live = SharedFrames.live(spark, sfDir)
      assert((live -- built).nonEmpty, s"$line ($q) built no memo an earlier line had not")
      built ++= live
    }
    assert(SharedFrames.live(spark, sfDir) === Set("memberships", "scores", "dedup_clusters",
      "edges_cs", "edges_co", "walks", "ingest_pairs", "subword_vocab", "bpe"))
  }
}
