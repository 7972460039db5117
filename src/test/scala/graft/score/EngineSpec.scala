package graft.score

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.api.{Json, SearchEngine}
import graft.build.{Index, IndexBuilder}
import graft.corpus.TranscriptGen
import graft.model._

/** Engine-vs-oracle parity on the deterministic seed-42 transcript corpus:
  * the distributed engine's top-k must be rank-identical with scores equal
  * to the naive full-scan Lucene-8.11-semantics oracle (FIXTURES.md §3),
  * recasting the reference's query test surface (term, boolean AND/OR/NOT,
  * fielded filters, date ranges, pagination, match-all sort). */
class EngineSpec extends SparkSuite {

  private lazy val turns = TranscriptGen.tiny(spark)
  private lazy val engine = SearchEngine.build(turns, Analyzers.Icat, withPositions = true)
  private lazy val oracle = OracleParity.oracleOf(engine.index.corpus, Analyzers.Icat)

  private def parse(text: String): Query =
    QueryText.parse(text, s => Analyzers.Icat(s).terms,
      analyzePos = s => Analyzers.Icat.positional(s))

  private def engineTopK(q: Query, filters: Seq[AttrPredicate], k: Int,
                         after: Option[AfterToken] = None,
                         index: Index = engine.index): Seq[(Long, Float)] = {
    OracleParity.hits(new QueryExec(index).topK(q, filters, k, after))
  }

  private def checkParity(text: String, filters: Seq[AttrPredicate] = Nil,
                          k: Int = 10, index: Index = engine.index): Unit = {
    val q = parse(text)
    OracleParity.assertSameTopK(engineTopK(q, filters, k, index = index),
      oracle.topK(q, filters, k), s"'$text'")
  }

  test("corpus is deterministic and docIds dense") {
    val ids = engine.index.corpus.select("docId").collect().map(_.getLong(0)).sorted
    assert(ids.head === 0L)
    assert(ids.last === ids.length - 1L)
    assert(ids.distinct.length === ids.length)
  }

  test("q01 single term") { checkParity("needle_3") }
  test("q02 default OR") { checkParity("needle_3 hydrogen") }
  test("q03 AND") { checkParity("+needle_3 +rare_001") }
  test("q04 AND NOT") { checkParity("+needle_3 -ambiguous") }
  test("q05 term + role filter") {
    checkParity("needle_3", Seq(FieldEquals("role", "assistant")))
  }
  test("q06 term + tool set filter") {
    checkParity("needle_1", Seq(FieldIn("tool", Seq("bash", "search"))))
  }
  test("q07 term + date range") {
    val lo = Dates.parseMs("202601010000")
    val hi = Dates.parseUpperMs("202601012359")
    checkParity("ambiguous", Seq(TsRange(lo, hi)))
  }
  test("q10 hot zipf terms") { checkParity("w0000 w0001", k = 100) }
  test("q11 fielded keyword SHOULD boosts") { checkParity("needle_3 role:assistant", k = 20) }
  test("q12 fielded keyword MUST filters") { checkParity("+ambiguous +role:user", k = 20) }
  test("q13 fielded keyword MUST_NOT excludes") { checkParity("ambiguous -tool:bash", k = 20) }
  test("q14 text: prefix targets the default field") { checkParity("text:needle_3") }
  test("q15 unknown prefix falls back to text analysis") {
    // `foo:bar` with unknown field `foo` analyzes the whole word
    val got = parse("foo:bar")
    val want = parse("foo:bar") // determinism; and engine/oracle agree
    assert(got === want)
    checkParity("foo:bar", k = 5)
  }
  test("q16 numeric range filter (turn_idx)") {
    checkParity("ambiguous", Seq(NumRange("turn_idx", 1.0, 3.0)), k = 30)
    checkParity("ambiguous", Seq(NumRange("turn_idx", 1.0, 3.0, loInc = false, hiInc = false)), k = 30)
  }

  test("queries with no indexed term match nothing, with or without the dictionary") {
    Seq(engine.index, engine.index.withDictionaryCap(0)).foreach { index =>
      Seq("zzzzqqq", "zzzzqqq -needle_3", "+needle_3 +zzzzqqq", "+zzzzqqq needle_3",
          "needle_3 zzzzqqq", "zzzz*", "/zzzz.*/", "\"w0000 zzzzqqq\"").foreach { t =>
        checkParity(t, k = 30, index = index)
      }
    }
  }

  test("over its dictionary cap the engine keeps the pushed scans and equals the oracle") {
    val capped = engine.index.withDictionaryCap(0)
    assert(engine.index.dictionary.isDefined && capped.dictionary.isEmpty)
    Seq("needle_3 hydrogen", "+needle_3 +ambiguous", "+needle_3 -ambiguous",
        "\"w0000 w0001\"", "needle_*", "/needle_[0-4]/", "hydrgen~", "+needle_* hydrgen~")
      .foreach(t => checkParity(t, k = 30, index = capped))
  }

  test("wildcard prefix (constant score)") { checkParity("needle_*", k = 50) }
  test("wildcard ? and case-lowering") { checkParity("NEEDLE_?", k = 50) }
  test("wildcard mixed with scored term") { checkParity("rare_00* hydrogen", k = 30) }
  test("wildcard as MUST with NOT") { checkParity("+needle_* -ambiguous", k = 30) }
  test("ambiguous length-normalization (norm quantization)") { checkParity("ambiguous", k = 50) }

  test("q18 fielded wildcards: lowercased pattern on keyword fields") {
    // the parser yields a FieldWildcardQuery, not a literal equality
    assert(parse("role:us*") === BoolQuery(should = Seq(FieldWildcardQuery("role", "us*"))))
    // reference testLowercaseWildcard shape (TestLucene.java:353-360):
    // non-.exact fields lowercase the wildcard pattern
    assert(FieldWildcardQuery("role", "US?R").regex === "^us.r$")
    assert(FieldWildcardQuery("location_exact", "/dls/*/ABC").regex === "^/dls/.*/ABC$")
    checkParity("role:us*r ambiguous", k = 30)
    checkParity("+ambiguous +tool:ba*", k = 20)
    checkParity("ambiguous -role:assis*", k = 20)
    checkParity("role:USE?  ambiguous", k = 20) // pattern lowercased
  }

  test("q19 exact phrase: parity incl. order sensitivity and repeats") {
    // bigrams over the hot zipf words occur by chance; order matters
    checkParity("\"w0000 w0001\"", k = 30)
    checkParity("\"w0001 w0000\"", k = 30)
    // repeated-term phrase: weight = 2×idf, overlapping occurrences count
    checkParity("\"w0000 w0000\"", k = 30)
    // phrase mixed with a scored term, and as a MUST leg with a NOT
    checkParity("\"w0000 w0001\" hydrogen", k = 30)
    checkParity("+\"w0000 w0001\" -ambiguous", k = 30)
    // a trigram (rarer — may be empty, parity must still hold)
    checkParity("\"w0000 w0001 w0002\"", k = 30)
    // quoted single word degenerates to a TermQuery (Lucene QueryBuilder)
    assert(parse("\"hydrogen\"") === parse("hydrogen"))
  }

  test("q20 phrase with attribute filter routes like any scoring leg") {
    checkParity("\"w0000 w0001\"", Seq(FieldEquals("role", "assistant")), k = 30)
    // every leg kind under every occur, filtered the same way
    OracleParity.mixedLegs.foreach(checkParity(_, Seq(FieldEquals("role", "assistant")), k = 20))
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

  test("q08 search_after pagination: pages concatenate to unpaginated prefix") {
    val q = parse("ambiguous")
    val full = oracle.topK(q, Nil, 15)
    val p1 = engineTopK(q, Nil, 5)
    val tok1 = AfterToken(p1.last._1, Some(p1.last._2), Nil)
    val p2 = engineTopK(q, Nil, 5, Some(tok1))
    val tok2 = AfterToken(p2.last._1, Some(p2.last._2), Nil)
    val p3 = engineTopK(q, Nil, 5, Some(tok2))
    assert((p1 ++ p2 ++ p3).map(_._1) === full.map(_._1))
  }

  test("q08b a score-less token pages by docId alone, in the engine and the oracle") {
    // the wire token {"doc":N} parses to AfterToken(N, None, Nil)
    val q = parse("ambiguous needle_3")
    val mid = oracle.topK(q, Nil, 20).map(_._1).sorted.apply(5)
    val tok = Some(AfterToken(mid, None, Nil))
    val want = oracle.topK(q, Nil, 10, tok)
    assert(want.nonEmpty && want.forall(_._1 > mid))
    assert(engineTopK(q, Nil, 10, tok).map(_._1) === want.map(_._1))
  }

  test("the oracle refuses numeric SI range filters with a stated cause") {
    val e = intercept[UnsupportedOperationException](
      oracle.topK(MatchAll, Seq(SiNumRange("ts", 0, 1, "s")), 10))
    assert(e.getMessage.contains("NaiveOracle does not model numeric SI fields"))
  }

  test("q09 match-all with ts sort desc") {
    val got = new QueryExec(engine.index)
      .topKSorted(MatchAll, Nil, SortSpec(Seq(("ts", false))), 10)
      .collect().map(_.getLong(0)).toSeq
    val want = oracle.topKSorted(MatchAll, Nil, Seq(("ts", false)), 10).map(_._1)
    assert(got === want)
  }

  test("q09b ts-sorted search_after: pages concatenate to unpaginated prefix") {
    // the token carries ts as epoch-millis (the wire shape) — the engine
    // must coerce it back to the TIMESTAMP column type
    val exec = new QueryExec(engine.index)
    val sort = SortSpec(Seq(("ts", false)))
    val q = parse("ambiguous")
    def page(after: Option[AfterToken]): Seq[(Long, Long)] =
      exec.topKSorted(q, Nil, sort, 5, after).collect()
        .map(r => (r.getLong(0), r.getTimestamp(2).getTime)).toSeq
    val p1 = page(None)
    val tok1 = AfterToken(p1.last._1, None, Seq(p1.last._2))
    val p2 = page(Some(tok1))
    val tok2 = AfterToken(p2.last._1, None, Seq(p2.last._2))
    val p3 = page(Some(tok2))
    val full = oracle.topKSorted(q, Nil, Seq(("ts", false)), 15).map(_._1)
    assert((p1 ++ p2 ++ p3).map(_._1) === full)
    assert(oracle.topKSorted(q, Nil, Seq(("ts", false)), 5, Some(tok1)).map(_._1)
      === p2.map(_._1))
  }

  test("q09c multi-field sort (role asc, ts desc) matches oracle incl. pagination") {
    val exec = new QueryExec(engine.index)
    val sortFields = Seq(("role", true), ("ts", false))
    val sort = SortSpec(sortFields)
    val got = exec.topKSorted(MatchAll, Nil, sort, 12).collect()
    assert(got.map(_.getLong(0)).toSeq ===
      oracle.topKSorted(MatchAll, Nil, sortFields, 12).map(_._1))
    // page 2 via a token carrying (role, tsMs) of the last hit
    val last = got.last
    val tok = AfterToken(last.getLong(0), None,
      Seq(last.getString(2), last.getTimestamp(3).getTime))
    val p2 = exec.topKSorted(MatchAll, Nil, sort, 12, Some(tok))
      .collect().map(_.getLong(0)).toSeq
    assert(p2 === oracle.topKSorted(MatchAll, Nil, sortFields, 24).map(_._1).drop(12))
  }

  test("q09d arbitrary string sort fields (conv_id, turn_idx)") {
    val exec = new QueryExec(engine.index)
    val sortFields = Seq(("conv_id", false), ("turn_idx", true))
    val got = exec.topKSorted(parse("ambiguous"), Nil, SortSpec(sortFields), 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got === oracle.topKSorted(parse("ambiguous"), Nil, sortFields, 10).map(_._1))
  }

  test("search facade: multi-field sorted pages chain without dupes or skips") {
    val req = SearchRequest(text = Some("ambiguous"),
      sort = SortSpec(Seq(("role", true), ("ts", false))), maxResults = 6)
    val r1 = engine.search(req)
    val r2 = engine.search(req.copy(searchAfter = r1.searchAfter))
    val gotIds = (r1.hits ++ r2.hits).map(_.docId)
    val want = oracle.topKSorted(parse("ambiguous"), Nil,
      Seq(("role", true), ("ts", false)), 12).map(_._1)
    assert(gotIds === want)
    // hits come back in engine order, not re-sorted by a subset of keys
    assert(r1.hits.map(_.docId) === want.take(6))
    // tool is null on all but two matches: nulls sort first asc and last
    // desc. Each token travels through the wire codec: asc page 1 ends on
    // a null, desc page 1 on the last non-null tool.
    Seq(true -> 5, false -> 2).foreach { case (asc, size) =>
      val sortFields = Seq(("tool", asc))
      val first = req.copy(sort = SortSpec(sortFields), maxResults = size)
      val pages = Iterator.iterate(engine.search(first)) { r =>
        val tok = Json.parseRequest(Json.renderResponse(r)).searchAfter
        engine.search(first.copy(searchAfter = tok))
      }.takeWhile(_.hits.nonEmpty).take(40).toSeq
      val all = oracle.topKSorted(parse("ambiguous"), Nil, sortFields, Int.MaxValue)
      assert(all.nonEmpty && pages.size > 2, s"tool asc=$asc")
      assert(pages.flatMap(_.hits.map(_.docId)) === all.map(_._1), s"tool asc=$asc")
    }
  }

  test("empty text = match-all scores 1.0") {
    val got = engineTopK(MatchAll, Nil, 5)
    assert(got.forall(_._2 === 1.0f))
  }

  test("save/load roundtrip preserves results") {
    val dir = java.nio.file.Files.createTempDirectory("graft-idx").toString
    IndexBuilder.save(engine.index, dir, hotDfThreshold = 50)
    val loaded = SearchEngine.load(spark, dir)
    val q = parse("needle_3 hydrogen")
    val a = engineTopK(q, Nil, 10)
    val b = new QueryExec(loaded.index).topK(q, Nil, 10)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(a === b)
  }

  test("facets: role counts over term matches match oracle") {
    val req = SearchRequest(text = Some("ambiguous"))
    val got = engine.facetStrings(req, Seq("role"))("role").toMap
    val q = parse("ambiguous")
    val matching = oracle.topK(q, Nil, Int.MaxValue).map(_._1).toSet
    val want = engine.index.corpus.collect()
      .filter(r => matching.contains(r.getAs[Long]("docId")))
      .groupBy(_.getAs[String]("role")).map { case (k, v) => k -> v.length.toLong }
    assert(got === want)
  }

  test("search facade returns hydrated hits with after-token") {
    val resp = engine.search(SearchRequest(text = Some("needle_3"), maxResults = 5))
    assert(resp.hits.nonEmpty)
    assert(resp.hits.forall(_.text.contains("needle_3")))
    assert(resp.searchAfter.isDefined)
  }
}
