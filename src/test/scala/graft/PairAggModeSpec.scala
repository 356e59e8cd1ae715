package graft

import graft.operators.PlanPin

/** Pins the scale-adaptive pair-aggregation routes (GraphOps.pairCounts,
  * route pinned with `PlanPin.rawPairs`) to identical results: the
  * shuffle-raw route chosen at large input (no map-side combining,
  * full-width post-shuffle aggregate) must emit exactly the
  * partial-aggregate route's (s1, s2, count) rows, on g05 end-to-end at
  * sf0.001.
  */
class PairAggModeSpec extends SparkSpecBase {

  private def g05Rows(raw: Boolean) =
    PlanPin.during(PlanPin(rawPairs = Some(raw))) {
      run("g05_supplier_overlap").collect().map(_.toSeq).toSeq
    }

  test("shuffle-raw pair aggregation = partial-aggregate route, exactly") {
    assert(g05Rows(raw = true) === g05Rows(raw = false))
  }
}
