package graft

import graft.analysis.{Analyzers, PorterStemmer, WordBreak}
import graft.build.SmallFloat
import graft.model._
import graft.score.{NaiveOracle, OracleParity}
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite

/** Pure-Scala property tests (FIXTURES.md §4): analyzer determinism,
  * SmallFloat quantization laws, postings invariants and pagination laws
  * on the naive oracle over the harness's generated corpora. Runs
  * scalacheck directly (no scalatestplus bridge in the offline cache). */
class PropertySpec extends AnyFunSuite {
  private def check(p: Prop): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(60), p)
    assert(res.passed, res.status.toString)
  }

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).suchThat(_.nonEmpty)
  private val text = Gen.listOf(Gen.frequency(
    (8, word), (1, Gen.const("the")), (1, Gen.numStr.suchThat(_.nonEmpty)))).map(_.mkString(" "))

  test("analyzer is deterministic") {
    check(Prop.forAll(text) { t =>
      Analyzers.Icat(t).terms.toSeq == Analyzers.Icat(t).terms.toSeq &&
        Analyzers.IcatSynonym(t).terms.toSeq == Analyzers.IcatSynonym(t).terms.toSeq
    })
  }

  test("tokenizer emits only non-empty tokens, none containing whitespace") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      WordBreak.tokenize(s).forall(t => t.nonEmpty && !t.exists(_.isWhitespace))
    })
  }

  test("porter stemmer: idempotent-ish length bound, deterministic") {
    check(Prop.forAll(word) { w =>
      val s = PorterStemmer.stem(w)
      s.length <= w.length && PorterStemmer.stem(w) == s
    })
  }

  test("SmallFloat: decode∘encode ≤ id, monotone, exact under 8, lossless on own range") {
    check(Prop.forAll(Gen.choose(0, Int.MaxValue - 1)) { n =>
      val q = SmallFloat.quantize(n)
      q <= n && (n >= 8 || q == n) &&
        SmallFloat.quantize(q) == q && // fixpoint
        q > n / 2 // never loses more than the top 4 bits' worth
    })
    check(Prop.forAll(Gen.choose(0, 1 << 24), Gen.choose(0, 1 << 24)) { (a0, b0) =>
      val (a, b) = (math.min(a0, b0), math.max(a0, b0))
      SmallFloat.quantize(a) <= SmallFloat.quantize(b)
    })
  }

  // the harness's corpus generator (graft.score.OracleParity); a
  // generated corpus lists its turns in docId order
  private val corpora = OracleParity.corpusGen(Int.MaxValue)
  private def oracleOf(c: OracleParity.Generated): NaiveOracle =
    NaiveOracle.fromTurns(c.turns.zipWithIndex.map { case (t, i) => (i.toLong, t) }, c.analyzer)
  private val term: Gen[TermQuery] =
    Gen.oneOf(OracleParity.vocabulary).map(w => TermQuery(Analyzers.Icat(w).terms.head))

  test("oracle postings invariants: df bounds, topK ordering, pagination") {
    check(Prop.forAll(corpora, term) { (c, q) =>
      val o = oracleOf(c)
      val top = o.topK(q, Nil, 100)
      // sorted by score desc, docId asc
      val sortedOk = top.sliding(2).forall {
        case Seq((i1, s1), (i2, s2)) => s1 > s2 || (s1 == s2 && i1 < i2)
        case _ => true
      }
      // pagination: page1 ++ page2 == prefix of unpaginated
      val p1 = o.topK(q, Nil, 3)
      val p2 = p1.lastOption.map(h =>
        o.topK(q, Nil, 3, Some(AfterToken(h._1, Some(h._2), Nil)))).getOrElse(Nil)
      val pagesOk = (p1 ++ p2) == top.take(p1.size + p2.size)
      sortedOk && pagesOk && o.df(q.term) == top.size && top.size <= c.turns.size
    })
  }

  test("boolean algebra laws on the oracle: AND ⊆ OR, NOT removes, FILTER intersects") {
    check(Prop.forAll(corpora, term, term) { (c, t1, t2) =>
      val o = oracleOf(c)
      val and = o.topK(BoolQuery(must = Seq(t1, t2)), Nil, 1000).map(_._1).toSet
      val or = o.topK(BoolQuery(should = Seq(t1, t2)), Nil, 1000).map(_._1).toSet
      val not = o.topK(BoolQuery(must = Seq(t1), mustNot = Seq(t2)), Nil, 1000).map(_._1).toSet
      val only1 = o.topK(t1, Nil, 1000).map(_._1).toSet
      val filtered = o.topK(t1, Seq(FieldEquals("role", "user")), 1000).map(_._1).toSet
      val users = o.topK(MatchAll, Seq(FieldEquals("role", "user")), 1000).map(_._1).toSet
      and.subsetOf(or) && and.subsetOf(only1) &&
        not.subsetOf(only1) && (not intersect and).isEmpty &&
        (not union and) == only1 && filtered == (only1 intersect users)
    })
  }

  test("query parser: occurs routed correctly") {
    val q = QueryText.parse("+alpha -beta gamma", s => Array(s))
    q match {
      case BoolQuery(must, should, mustNot, Nil) =>
        assert(must === Seq(TermQuery("alpha")))
        assert(mustNot === Seq(TermQuery("beta")))
        assert(should === Seq(TermQuery("gamma")))
      case other => fail(s"unexpected $other")
    }
    assert(QueryText.parse("  ", s => Array(s)) === MatchAll)
  }
}
