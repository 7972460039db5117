package graft.score

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.api.SearchEngine
import graft.model._

/** Phrase-query semantics goldens over hand-written corpora: stopword
  * position holes and synonym-graph slots, mirroring the reference's
  * quoted-phrase surface (StandardQueryParser, DocumentMapping.java:
  * 120-146) and its synonym phrase golden
  * `location:"path ? data (mr molecular) replac file.txt"`
  * (TestLucene.java:144-171) — MultiPhraseQuery semantics: a stopword
  * hole (`?`) admits ANY term, synonym alternatives stack on one slot. */
class PhraseSpec extends SparkSuite {

  private def mkTurns(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) =>
      Turn("conv-0", i, "user", t, None,
        new java.sql.Timestamp(1767225600000L + i * 60000L))
    }.toDS()
  }

  private def hits(engine: SearchEngine, text: String): Seq[Long] = {
    val q = QueryText.parse(text, s => engine.index.analyzer(s).terms,
      analyzePos = s => engine.index.analyzer.positional(s))
    new QueryExec(engine.index).topK(q, Nil, 100)
      .collect().map(_.getLong(0)).toSeq.sorted
  }

  test("stopword hole matches ANY term at the gap (Lucene phrase positions)") {
    // 'the' is a stopword: query "alpha the beta" analyzes to alpha@0,
    // beta@2 — the hole at 1 is unconstrained, so BOTH docs with a gap
    // match; the adjacent "alpha beta" does not (beta@1 ≠ @2)
    val engine = SearchEngine.build(mkTurns(Seq(
      "alpha the beta",   // 0: alpha@0 beta@2
      "alpha gamma beta", // 1: alpha@0 gamma@1 beta@2
      "alpha beta",       // 2: alpha@0 beta@1
      "beta alpha"        // 3
    )), Analyzers.Icat, withPositions = true)
    assert(hits(engine, "\"alpha the beta\"") === Seq(0L, 1L))
    assert(hits(engine, "\"alpha beta\"") === Seq(2L))
    // phrase can align before its own first slot: query "the alpha"
    // analyzes to alpha@1 alone — degenerates to the term
    assert(hits(engine, "\"the alpha\"") === hits(engine, "alpha"))
  }

  test("synonym graph: mr ⟷ molecular replacement phrases cross-match") {
    // index-time injection stacks both spellings at the same positions,
    // so either quoted form finds both docs (the reference's
    // testIcatSynonymAnalyzerPhrase behavior)
    val engine = SearchEngine.build(mkTurns(Seq(
      "data mr file",                     // 0
      "data molecular replacement file",  // 1
      "data morphology file"              // 2
    )), Analyzers.IcatSynonym, withPositions = true)
    assert(hits(engine, "\"data mr file\"") === Seq(0L, 1L))
    assert(hits(engine, "\"data molecular replacement file\"") === Seq(0L, 1L))
    assert(hits(engine, "\"data morphology file\"") === Seq(2L))
  }

  Pinned.in("PhraseSpec").foreach(p => test(p.name)(OracleParity.check(p)))

  test("sloppy phrases over synonym-stacked slots (pinned results)") {
    // the oracle scores exact phrases only, so these pin the engine: a
    // stacked slot's alternatives union their rebased positions per doc
    val engine = OracleParity.engine(Pinned.SynonymTexts)
    def top(text: String): Seq[(Long, Float)] =
      engine.search(SearchRequest(text = Some(text), maxResults = 20)).hits.map(h => (h.docId, h.score))
    val dataMr = top("\"data mr\"~1")
    assert(dataMr.map(_._1) === Seq(0L, 1L, 5L, 8L, 4L))
    assert(dataMr.take(4).map(_._2).distinct.size === 1)
    assert(dataMr(3)._2 > dataMr(4)._2)
    assert(top("\"hydrogen data\"~2").map(_._1) === Seq(6L, 8L, 7L))
    assert(top("\"file hydrogen\"~3").map(_._1) === Seq(6L))
  }

  test("sloppy two-pointer kernel ≡ brute-force first-minimum rescan") {
    // the production kernel advances a per-slot cursor monotonically;
    // this reference rescans every array per anchor with the exact old
    // column-fold semantics (first minimum of the ascending array,
    // strict-< improvement), including its double accumulation order
    def brute(bases: Seq[Seq[Int]], slop: Int): Double = {
      var tf = 0.0
      for (anchor <- bases.head) {
        val deltas = bases.tail.map { arr =>
          var best = Int.MaxValue
          for (b <- arr) if (math.abs(b - anchor) < math.abs(best)) best = b - anchor
          best
        }
        val all = 0 +: deltas
        val ml = all.max - all.min
        if (ml <= slop) tf += 1.0 / (1.0 + ml.toDouble)
      }
      tf
    }
    val rnd = new scala.util.Random(20260818L)
    for (trial <- 0 until 2000) {
      val k = 1 + rnd.nextInt(4)
      val slop = rnd.nextInt(6)
      // sorted, possibly with duplicates (synonym stacks can repeat a
      // rebased position), small value range to force ties and overlaps
      val bases = Seq.fill(k)(
        Seq.fill(1 + rnd.nextInt(8))(rnd.nextInt(20) - 3).sorted)
      val got = QueryExec.sloppyTfKernel(bases, slop)
      val want = brute(bases, slop)
      assert(got === want, s"trial $trial: bases=$bases slop=$slop")
    }
  }

  test("phrases flow through the search facade and its request parse") {
    val engine = SearchEngine.build(mkTurns(Seq(
      "merge conflict resolved", "conflict merge resolved", "merge conflict")),
      Analyzers.Icat, withPositions = true)
    val resp = engine.search(SearchRequest(text = Some("\"merge conflict\""),
      maxResults = 10))
    assert(resp.hits.map(_.docId).sorted === Seq(0L, 2L))
    // an index without positions refuses phrases loudly
    val noPos = SearchEngine.build(mkTurns(Seq("merge conflict")), Analyzers.Icat)
    val e = intercept[IllegalArgumentException] {
      noPos.search(SearchRequest(text = Some("\"merge conflict\"")))
    }
    assert(e.getMessage.contains("positions"))
  }
}
