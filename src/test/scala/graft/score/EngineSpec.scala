package graft.score

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.api.SearchEngine
import graft.model._
import graft.score.OracleParity.Tiny

/** Engine-vs-oracle parity on the deterministic seed-42 transcript corpus:
  * the distributed engine's top-k must be rank-identical with scores equal
  * to the naive full-scan Lucene-8.11-semantics oracle (FIXTURES.md §3),
  * recasting the reference's query test surface (term, boolean AND/OR/NOT,
  * fielded filters, date ranges, pagination, match-all sort). The parity
  * cases are [[Pinned]] harness cases; the tests here pin the parser and
  * the engine's own behaviour. */
class EngineSpec extends SparkSuite {

  private lazy val engine = OracleParity.engine(Tiny)
  private lazy val oracle = OracleParity.oracle(Tiny)

  private def parse(text: String): Query =
    QueryText.parse(text, s => Analyzers.Icat(s).terms,
      analyzePos = s => Analyzers.Icat.positional(s))

  private def engineTopK(q: Query, filters: Seq[AttrPredicate], k: Int): Seq[(Long, Float)] =
    new QueryExec(engine.index).topK(q, filters, k).collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq

  Pinned.in("EngineSpec").foreach(p => test(p.name)(OracleParity.check(p)))

  test("corpus is deterministic and docIds dense") {
    val ids = engine.index.corpus.select("docId").collect().map(_.getLong(0)).sorted
    assert(ids.head === 0L)
    assert(ids.last === ids.length - 1L)
    assert(ids.distinct.length === ids.length)
  }

  test("parser goldens of q15, q18 and q19: unknown prefixes, fielded wildcards, quoted words") {
    // `foo:bar` with unknown field `foo` parses deterministically
    assert(parse("foo:bar") === parse("foo:bar"))
    // the parser yields a FieldWildcardQuery, not a literal equality
    assert(parse("role:us*") === BoolQuery(should = Seq(FieldWildcardQuery("role", "us*"))))
    // reference testLowercaseWildcard shape (TestLucene.java:353-360):
    // non-.exact fields lowercase the wildcard pattern
    assert(FieldWildcardQuery("role", "US?R").regex === "^us.r$")
    assert(FieldWildcardQuery("location_exact", "/dls/*/ABC").regex === "^/dls/.*/ABC$")
    // quoted single word degenerates to a TermQuery (Lucene QueryBuilder)
    assert(parse("\"hydrogen\"") === parse("hydrogen"))
  }

  test("q21 sloppy phrase: ~N window, transposition cost, fractional freq") {
    import spark.implicits._
    def turn(i: Int, text: String) = Turn(f"c$i%03d", 0, "user", text, None,
      new java.sql.Timestamp(1700000000000L + i * 1000))
    val docs = Seq(
      turn(0, "alpha beta solo"),               // exact adjacency
      turn(1, "alpha gap beta"),                // one gap → matchLength 1
      turn(2, "beta alpha solo"),               // transposed → matchLength 2
      turn(3, "alpha beta also alpha gap beta"), // exact + sloppy → tf 1.5
      turn(4, "alpha nothing here at all"),
      turn(5, "gamma delta")).toDS()
    val eng = SearchEngine.build(docs, Analyzers.Simple, withPositions = true)
    val exec = new QueryExec(eng.index)
    val parseS: String => Query = t => QueryText.parse(t,
      s => Analyzers.Simple(s).terms,
      analyzePos = s => Analyzers.Simple.positional(s))
    def hits(text: String): Seq[Long] =
      exec.topK(parseS(text), Nil, 10).collect().map(_.getLong(0)).toSeq
    // parser: quoted span with ~N carries the slop; plain quotes = 0
    assert(parseS("\"alpha beta\"~2") ===
      BoolQuery(should = Seq(PhraseQuery(Seq((0, Seq("alpha")), (1, Seq("beta"))), 2))))
    assert(parseS("\"alpha beta\"") ===
      BoolQuery(should = Seq(PhraseQuery(Seq((0, Seq("alpha")), (1, Seq("beta"))), 0))))
    // slop 0 = exact adjacency only
    assert(hits("\"alpha beta\"").toSet === Set(0L, 3L))
    // slop 1 admits the one-gap doc, still not the transposition
    assert(hits("\"alpha beta\"~1").toSet === Set(0L, 1L, 3L))
    // slop 2 admits the transposition (Lucene: swapping adjacent terms costs 2)
    assert(hits("\"alpha beta\"~2").toSet === Set(0L, 1L, 2L, 3L))
    // fractional freq: docs 0 and 1 have identical length (norm) and the
    // same Σidf weight, so the exact match (weight 1) must outscore the
    // gapped match (sloppyWeight 1/2)
    val ordered = hits("\"alpha beta\"~1")
    assert(ordered.indexOf(0L) < ordered.indexOf(1L))
  }

  test("q17 prohibited-only query matches nothing (Lucene BooleanQuery semantics)") {
    // `-term` alone: no scoring/required leg — matches NOTHING, not
    // "everything except term" (the MatchAll fallback is only for EMPTY
    // queries, SearchBucket.java:636-642)
    val q = parse("-ambiguous")
    assert(oracle.topK(q, Nil, 10).isEmpty)
    assert(engineTopK(q, Nil, 10).isEmpty)
    val q2 = parse("-ambiguous -needle_3")
    assert(oracle.topK(q2, Nil, 10).isEmpty)
    assert(engineTopK(q2, Nil, 10).isEmpty)
    // but mustNot alongside a FILTER predicate still matches nothing
    // (no scoring clause), while a pure filter-only request matches all
    assert(engineTopK(q, Seq(FieldEquals("role", "user")), 10).isEmpty)
  }

  test("paging fixtures: a score-less token keeps later docIds; tool chains span pages") {
    val q = parse("ambiguous needle_3")
    assert(oracle.topK(q, Nil, 20).map(_._1).sorted.apply(5) === Pinned.Q08bAfter)
    val want = oracle.topK(q, Nil, 10, Some(AfterToken(Pinned.Q08bAfter, None, Nil)))
    assert(want.nonEmpty && want.forall(_._1 > Pinned.Q08bAfter))
    // the facade chains by tool (5 and 2 hits per page) run > 2 pages
    assert(oracle.topK(parse("ambiguous"), Nil, Int.MaxValue).size > 2 * 5)
  }

  test("the oracle refuses numeric SI range filters with a stated cause") {
    val e = intercept[UnsupportedOperationException](
      oracle.topK(MatchAll, Seq(SiNumRange("ts", 0, 1, "s")), 10))
    assert(e.getMessage.contains("NaiveOracle does not model numeric SI fields"))
  }

  test("empty text = match-all scores 1.0") {
    val got = engineTopK(MatchAll, Nil, 5)
    assert(got.forall(_._2 === 1.0f))
  }

  test("search facade returns hydrated hits with after-token") {
    val resp = engine.search(SearchRequest(text = Some("needle_3"), maxResults = 5))
    assert(resp.hits.nonEmpty)
    assert(resp.hits.forall(_.text.contains("needle_3")))
    assert(resp.searchAfter.isDefined)
  }
}
