package graft

/** HARD recall gate over the approximate-ANN driver keys: every tier
  * in [[RecallFloors.tiers]] must clear its floor at sf0.1, measured
  * through `SparkEntry.queries` itself — so a mistuned driver
  * parameter (not just a broken operator) fails `sbt test`. The
  * bench contract line trends the same numbers; this spec is what
  * makes a silent collapse (the pre-r8 LSH rot, 0.575 → 0.16) loud.
  *
  * Metric: [[RecallFloors.macroRecall]] against the tier's exact
  * anchor — the one definition SweepMain and Bench also call, so
  * floor, trend, and sweep doc are all one number.
  */
class AnnRecallGateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.1"

  // each anchor is evaluated once, shared across its tiers
  private lazy val anchors: Map[String, Map[Long, Set[Long]]] =
    RecallFloors.tiers.map(_._2).distinct
      .map(k => k -> RecallFloors.neighborSets(SparkEntry.queries(k)(spark, dir)))
      .toMap

  RecallFloors.tiers.foreach { case (approxKey, anchorKey, floor) =>
    test(s"$approxKey recall >= $floor vs $anchorKey at sf0.1") {
      val r = RecallFloors.macroRecall(
        RecallFloors.neighborSets(SparkEntry.queries(approxKey)(spark, dir)),
        anchors(anchorKey))
      info(f"$approxKey recall@10 = $r%.3f (floor $floor)")
      assert(r >= floor, f"$approxKey recall $r%.3f below floor $floor")
    }
  }
}
