package graft.score

import graft.SparkSuite
import graft.score.OracleParity.{Generated, Request}

/** The differential harness's own suite (FIXTURES.md §4): generated
  * (corpus, serving, request) triples from a fixed seed, each page
  * checked against the [[NaiveOracle]], plus its pinned cases, which run
  * on all four servings. */
class ParitySpec extends SparkSuite {

  Pinned.in("ParitySpec").foreach(p => test(p.name)(OracleParity.check(p)))

  test("generated requests: every page equals the oracle's, each on one of four servings") {
    OracleParity.checkGenerated(200, seed = 20261020L)
  }

  test("a failing case prints as the Pinned line that pins it") {
    val r = Request("+\"w0000 w0001\" role:us*", filter = Map("tool" -> Seq("bash")),
      sort = Seq(("ts", false)), k = 3, pages = 2)
    assert(OracleParity.pin(Generated(2), r) ===
      """Pinned("ParitySpec", "Generated(2): +\"w0000 w0001\" role:us*", Generated(2), """ +
      """Request("+\"w0000 w0001\" role:us*", filter = Map("tool" -> Seq("bash")), """ +
      """sort = Seq(("ts", false)), k = 3, pages = 2))""")
  }
}
