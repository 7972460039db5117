package graft.score

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.model._

/** StandardQueryParser boolean-structure surface (reference:
  * DocumentMapping.java:120-146 — the service hands user query strings to
  * Lucene's StandardQueryParser, whose grammar accepts `( … )` grouping,
  * uppercase AND/OR/NOT (`&&`/`||`/`!`) operators and `^N` boosts;
  * StandardSyntaxParser.jj): parser goldens, plus the [[Pinned]] harness
  * cases of grouped and boosted queries. */
class BoolSyntaxSpec extends SparkSuite {

  private lazy val engine = OracleParity.engine(OracleParity.Tiny)

  private def parse(text: String): Query =
    QueryText.parse(text, s => Analyzers.Icat(s).terms,
      analyzePos = s => Analyzers.Icat.positional(s))

  Pinned.in("BoolSyntaxSpec").foreach(p => test(p.name)(OracleParity.check(p)))

  // ---- parser goldens --------------------------------------------

  test("parens group; uppercase AND binds tighter than OR") {
    // a AND b OR c  ≡  (+a +b) c   (StandardSyntaxParser: ConjQuery
    // inside DisjQuery; default operator OR)
    assert(parse("alpha AND beta OR gamma") === BoolQuery(should = Seq(
      BoolQuery(must = Seq(TermQuery("alpha"), TermQuery("beta"))),
      TermQuery("gamma"))))
    assert(parse("(alpha OR beta) AND gamma") === BoolQuery(must = Seq(
      BoolQuery(should = Seq(TermQuery("alpha"), TermQuery("beta"))),
      TermQuery("gamma"))))
  }

  test("NOT / ! / && / || operator spellings") {
    assert(parse("alpha NOT beta") ===
      BoolQuery(should = Seq(TermQuery("alpha")), mustNot = Seq(TermQuery("beta"))))
    assert(parse("alpha !beta") === parse("alpha NOT beta"))
    assert(parse("alpha ! beta") === parse("alpha NOT beta"))
    assert(parse("alpha && beta") === parse("alpha AND beta"))
    assert(parse("alpha || beta") === parse("alpha OR beta"))
    assert(parse("alpha AND NOT beta") ===
      BoolQuery(must = Seq(TermQuery("alpha")), mustNot = Seq(TermQuery("beta"))))
  }

  test("lowercase and/or/not stay ordinary (stop)words, as in Lucene") {
    // the English stop set eats them, so they contribute no clause at all
    assert(parse("alpha and beta") ===
      BoolQuery(should = Seq(TermQuery("alpha"), TermQuery("beta"))))
    assert(parse("alpha or beta") === parse("alpha and beta"))
  }

  test("occur prefixes and groups compose") {
    assert(parse("+(alpha beta) -gamma") === BoolQuery(
      must = Seq(BoolQuery(should = Seq(TermQuery("alpha"), TermQuery("beta")))),
      mustNot = Seq(TermQuery("gamma"))))
    // single unmodified child of a group collapses (Lucene GroupQueryNode)
    assert(parse("(alpha)") === parse("alpha"))
  }

  test("boost syntax: words, fielded values, phrases (after slop), groups") {
    assert(parse("alpha^2") ===
      BoolQuery(should = Seq(Boosted(TermQuery("alpha"), 2.0f))))
    assert(parse("role:user^3") ===
      BoolQuery(should = Seq(Boosted(FieldMatchQuery("role", "user"), 3.0f))))
    assert(parse("\"alpha beta\"~1^2") === BoolQuery(should = Seq(Boosted(
      PhraseQuery(Seq((0, Seq("alpha")), (1, Seq("beta"))), slop = 1), 2.0f))))
    assert(parse("(alpha beta)^2") === BoolQuery(should = Seq(Boosted(
      BoolQuery(should = Seq(TermQuery("alpha"), TermQuery("beta"))), 2.0f))))
    // ^1 is the identity and adds no wrapper
    assert(parse("alpha^1") === parse("alpha"))
    // fractional boosts parse
    assert(parse("alpha^0.5") ===
      BoolQuery(should = Seq(Boosted(TermQuery("alpha"), 0.5f))))
  }

  test("leniency: stray operators and unbalanced parens never throw") {
    assert(parse("AND alpha") === BoolQuery(should = Seq(TermQuery("alpha"))))
    assert(parse("alpha AND") === BoolQuery(should = Seq(TermQuery("alpha"))))
    // the stray `)` ends the first sequence element, so the AND has no
    // left operand and degrades to the default-OR sequence
    assert(parse("alpha) AND (beta") ===
      BoolQuery(should = Seq(TermQuery("alpha"), TermQuery("beta"))))
    assert(parse("OR") === MatchAll)
    assert(parse("()") === MatchAll)
  }

  // ---- engine behaviour -------------------------------------------

  test("grouped equals flat where semantics coincide") {
    val grouped = parse("(needle_3 OR hydrogen)")
    val flat = parse("needle_3 hydrogen")
    val exec = new QueryExec(engine.index)
    val g = exec.topK(grouped, Nil, 20).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val f = exec.topK(flat, Nil, 20).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(g === f)
  }

  test("a ^2 boost moves a term's score: 2x weight > 1x weight") {
    val exec = new QueryExec(engine.index)
    val plain = exec.topK(parse("needle_3"), Nil, 1).collect()(0).getFloat(1)
    val boosted = exec.topK(parse("needle_3^2"), Nil, 1).collect()(0).getFloat(1)
    assert(boosted > plain * 1.5f)
  }

  test("oracle refuses sloppy phrases instead of scoring them as exact") {
    val e = intercept[IllegalArgumentException] {
      OracleParity.oracle(OracleParity.Tiny).topK(parse("\"w0000 w0001\"~2^2 needle_3"), Nil, 20)
    }
    assert(e.getMessage.contains("sloppy"))
  }
}
