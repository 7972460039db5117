package graft.score

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.model._

/** Regexp-query semantics (graft.model.RegexpQuery — Lucene RegexpQuery
  * through the slash syntax of the query parser): anchored constant-score
  * dictionary expansion, fielded keyword variant, parser forms. The
  * [[Pinned]] harness cases over [[Pinned.RegexpTexts]] hold the engine
  * to the oracle's order and scores; the goldens here pin the oracle. */
class RegexpSpec extends SparkSuite {

  Pinned.in("RegexpSpec").foreach(p => test(p.name)(OracleParity.check(p)))

  test("regexp goldens: anchored whole-term expansion, lowercased, constant score") {
    val oracle = OracleParity.oracle(Pinned.RegexpTexts)
    def ids(q: Query): Seq[Long] = oracle.topK(q, Nil, 100).map(_._1).sorted
    // s.a(n|ns|rk): scan, scans, spark — NOT sort/stream (anchored)
    assert(ids(RegexpQuery("s.a(n|ns|rk)")) === Seq(0L, 1L))
    assert(oracle.topK(RegexpQuery("s.a(n|ns|rk)"), Nil, 100).forall(_._2 === 1.0f))
    // pattern is lowercased like wildcards
    assert(ids(RegexpQuery("SORT|ROWS")) === Seq(2L, 3L))
    // unanchored substring does NOT match (whole-term semantics)
    assert(ids(RegexpQuery("can")) === Seq.empty)
    assert(ids(RegexpQuery("s.an.*")) === Seq(0L, 1L)) // scan, scans
    // fielded: roles alternate user/helper
    assert(ids(FieldRegexpQuery("role", "us(e|o)r")) === Seq(0L, 2L, 4L))
    assert(ids(FieldRegexpQuery("role", "h.lper")) === Seq(1L, 3L))
    assert(ids(FieldRegexpQuery("role", "elper")) === Seq.empty) // anchored
  }

  test("parser: /re/, field:/re/, occur prefixes, boolean composition") {
    def p(s: String) = QueryText.parse(s, t => Analyzers.Simple(t).terms)
    assert(p("/s.an/") === BoolQuery(should = Seq(RegexpQuery("s.an"))))
    assert(p("+/s.an/ -sort") === BoolQuery(
      must = Seq(RegexpQuery("s.an")), mustNot = Seq(TermQuery("sort"))))
    assert(p("role:/us.r/") === BoolQuery(should = Seq(FieldRegexpQuery("role", "us.r"))))
    assert(p("text:/s.an/") === BoolQuery(should = Seq(RegexpQuery("s.an"))))
    assert(p("//") === MatchAll) // empty regexp body is dropped
  }
}
