package graft.score

import graft.analysis.Analyzers
import graft.model._
import graft.score.OracleParity.{Generated, Request, Texts, Tiny}

/** A hand-picked harness case: `requests` over `corpus`, each checked by
  * [[OracleParity.check]] on every serving, registered as the test `name`
  * of `suite` (the suite whose test it has always been, so its test id
  * stays). A generated failure prints as one of these lines. */
final case class Pinned(suite: String, name: String, corpus: OracleParity.Corpus,
                        requests: Request*)

object Pinned {

  /** The cases `suite` registers, in order. */
  def in(suite: String): Seq[Pinned] = all.filter(_.suite == suite)

  /** FuzzySpec's corpus: spark's 1- and 2-edit neighbours. */
  val FuzzyTexts: Texts = Texts(Seq(
    "spark shuffles the spark plan",  // spark tf 2
    "sprak typo of spark",            // transposition neighbour + exact
    "spars vectors stay sparse",      // spars, sparse
    "sharp knives cut parts",         // sharp (2 edits), parts
    "the part and the sort of it",    // part, sort
    "sparkle is not spark but near",  // sparkle (2 edits incl len)
    "plain words only here"), Seq("user", "asistant"), Analyzers.Simple)

  /** RegexpSpec's corpus: s.a(n|ns|rk) neighbours and anchoring traps. */
  val RegexpTexts: Texts = Texts(Seq(
    "spark scans the table",  // spark, scans, the, table
    "scan results arrived",   // scan
    "sort then merge",        // sort
    "rows of the stream",     // rows, stream
    "plain words only"), Seq("user", "helper"), Analyzers.Simple)

  /** PhraseSpec's synonym corpus: `mr` ⟷ `molecular replacement` spans
    * positions, `h` ⟷ `hydrogen` stacks two terms on one position. */
  val SynonymTexts: Texts = Texts(Seq(
    "data mr file", "data molecular replacement file", "data morphology file",
    "mr data file", "data mr mr file", "file data mr",
    "hydrogen data file", "data hydrogen hydrogen", "h data mr"), Seq("user"), Analyzers.IcatSynonym)

  /** Booleans that mix every leg kind under every occur — keyword field,
    * phrase, fuzzy, wildcard and nested group as MUST, SHOULD and
    * MUST_NOT legs next to terms, one of them absent from the index. */
  private val mixedLegs = Seq(
    "+role:assistant -tool:bash",
    "+role:assistant^2 -tool:bash needle_3",
    "+\"w0000 w0001\" needle_3",
    "needle_3 -\"w0000 w0001\"",
    "+ambiguous -\"w0000 w0001\"",
    "+hydrgen~ needle_3",
    "+needle_* hydrogen",
    "(+needle_3 role:assistant \"w0000 w0001\")^2 ambiguous",
    "+zzzzqqq \"w0000 w0001\"")

  /** The docId q08b's token names: the sixth-smallest docId of
    * `ambiguous needle_3`'s hits (EngineSpec checks it is). */
  final val Q08bAfter = 215L

  private val assistant = Map("role" -> Seq("assistant"))
  private def at(k: Int)(texts: String*) = texts.map(Request(_, k = k))

  val all: Seq[Pinned] = Seq(
    // EngineSpec: the seed-42 transcript corpus's query surface
    Pinned("EngineSpec", "q01 single term", Tiny, Request("needle_3")),
    Pinned("EngineSpec", "q02 default OR", Tiny, Request("needle_3 hydrogen")),
    Pinned("EngineSpec", "q03 AND", Tiny, Request("+needle_3 +rare_001")),
    Pinned("EngineSpec", "q04 AND NOT", Tiny, Request("+needle_3 -ambiguous")),
    Pinned("EngineSpec", "q05 term + role filter", Tiny, Request("needle_3", filter = assistant)),
    Pinned("EngineSpec", "q06 term + tool set filter", Tiny,
      Request("needle_1", filter = Map("tool" -> Seq("bash", "search")))),
    Pinned("EngineSpec", "q07 term + date range", Tiny,
      Request("ambiguous", lower = Some("202601010000"), upper = Some("202601012359"))),
    Pinned("EngineSpec", "q10 hot zipf terms", Tiny, Request("w0000 w0001", k = 100)),
    Pinned("EngineSpec", "q11 fielded keyword SHOULD boosts", Tiny,
      Request("needle_3 role:assistant", k = 20)),
    Pinned("EngineSpec", "q12 fielded keyword MUST filters", Tiny,
      Request("+ambiguous +role:user", k = 20)),
    Pinned("EngineSpec", "q13 fielded keyword MUST_NOT excludes", Tiny,
      Request("ambiguous -tool:bash", k = 20)),
    Pinned("EngineSpec", "q14 text: prefix targets the default field", Tiny, Request("text:needle_3")),
    // `foo:bar` with unknown field `foo` analyzes the whole word
    Pinned("EngineSpec", "q15 unknown prefix falls back to text analysis", Tiny,
      Request("foo:bar", k = 5)),
    Pinned("EngineSpec", "q16 numeric range filter (turn_idx)", Tiny,
      Request("ambiguous", k = 30, attrs = Seq(NumRange("turn_idx", 1.0, 3.0))),
      Request("ambiguous", k = 30,
        attrs = Seq(NumRange("turn_idx", 1.0, 3.0, loInc = false, hiInc = false)))),
    Pinned("EngineSpec", "queries with no indexed term match nothing, with or without the dictionary",
      Tiny, at(30)("zzzzqqq", "zzzzqqq -needle_3", "+needle_3 +zzzzqqq", "+zzzzqqq needle_3",
        "needle_3 zzzzqqq", "zzzz*", "/zzzz.*/", "\"w0000 zzzzqqq\""): _*),
    Pinned("EngineSpec",
      "over its dictionary cap the engine keeps the pushed scans and equals the oracle", Tiny,
      at(30)("needle_3 hydrogen", "+needle_3 +ambiguous", "+needle_3 -ambiguous",
        "\"w0000 w0001\"", "needle_*", "/needle_[0-4]/", "hydrgen~", "+needle_* hydrgen~"): _*),
    Pinned("EngineSpec", "wildcard prefix (constant score)", Tiny, Request("needle_*", k = 50)),
    Pinned("EngineSpec", "wildcard ? and case-lowering", Tiny, Request("NEEDLE_?", k = 50)),
    Pinned("EngineSpec", "wildcard mixed with scored term", Tiny, Request("rare_00* hydrogen", k = 30)),
    Pinned("EngineSpec", "wildcard as MUST with NOT", Tiny, Request("+needle_* -ambiguous", k = 30)),
    Pinned("EngineSpec", "ambiguous length-normalization (norm quantization)", Tiny,
      Request("ambiguous", k = 50)),
    Pinned("EngineSpec", "q18 fielded wildcards: lowercased pattern on keyword fields", Tiny,
      Request("role:us*r ambiguous", k = 30), Request("+ambiguous +tool:ba*", k = 20),
      Request("ambiguous -role:assis*", k = 20),
      Request("role:USE?  ambiguous", k = 20)), // pattern lowercased
    // bigrams over the hot zipf words occur by chance; order matters; a
    // repeated-term phrase weighs 2×idf and overlapping occurrences count;
    // phrases next to a scored term and as a MUST leg with a NOT; a
    // trigram (rarer — may be empty)
    Pinned("EngineSpec", "q19 exact phrase: parity incl. order sensitivity and repeats", Tiny,
      at(30)("\"w0000 w0001\"", "\"w0001 w0000\"", "\"w0000 w0000\"", "\"w0000 w0001\" hydrogen",
        "+\"w0000 w0001\" -ambiguous", "\"w0000 w0001 w0002\""): _*),
    // every leg kind under every occur, filtered the same way
    Pinned("EngineSpec", "q20 phrase with attribute filter routes like any scoring leg", Tiny,
      Request("\"w0000 w0001\"", filter = assistant, k = 30) +:
        mixedLegs.map(Request(_, filter = assistant, k = 20)): _*),
    Pinned("EngineSpec", "q08 search_after pagination: pages concatenate to unpaginated prefix",
      Tiny, Request("ambiguous", k = 5, pages = 3)),
    // the wire token {"doc":N} parses to AfterToken(N, None, Nil): the
    // sixth-smallest docId of the query's hits
    Pinned("EngineSpec", "q08b a score-less token pages by docId alone, in the engine and the oracle",
      Tiny, Request("ambiguous needle_3", after = Some(AfterToken(Q08bAfter, None, Nil)))),
    Pinned("EngineSpec", "q09 match-all with ts sort desc", Tiny, Request("", sort = Seq(("ts", false)))),
    // the token carries ts as epoch-millis (the wire shape); the engine
    // coerces it back to the TIMESTAMP column type
    Pinned("EngineSpec", "q09b ts-sorted search_after: pages concatenate to unpaginated prefix",
      Tiny, Request("ambiguous", sort = Seq(("ts", false)), k = 5, pages = 3)),
    Pinned("EngineSpec", "q09c multi-field sort (role asc, ts desc) matches oracle incl. pagination",
      Tiny, Request("", sort = Seq(("role", true), ("ts", false)), k = 12, pages = 2)),
    Pinned("EngineSpec", "q09d arbitrary string sort fields (conv_id, turn_idx)", Tiny,
      Request("ambiguous", sort = Seq(("conv_id", false), ("turn_idx", true)))),
    // tool is null on all but a few matches: nulls sort first asc and last
    // desc; asc page 1 ends on a null, desc page 1 on a non-null tool
    Pinned("EngineSpec", "search facade: multi-field sorted pages chain without dupes or skips", Tiny,
      Request("ambiguous", sort = Seq(("role", true), ("ts", false)), k = 6, pages = 2),
      Request("ambiguous", sort = Seq(("tool", true)), k = 5, pages = 40),
      Request("ambiguous", sort = Seq(("tool", false)), k = 2, pages = 40)),
    Pinned("EngineSpec", "save/load roundtrip preserves results", Tiny, Request("needle_3 hydrogen")),
    Pinned("EngineSpec", "facets: role counts over term matches match oracle", Tiny,
      Request("ambiguous", facets = Seq("role"))),

    // BoolSyntaxSpec: grouped and boosted StandardQueryParser booleans
    Pinned("BoolSyntaxSpec", "grouped boolean parity: (a OR b) AND c", Tiny,
      Request("(needle_3 OR hydrogen) AND ambiguous", k = 20)),
    Pinned("BoolSyntaxSpec", "boosted term parity and effect", Tiny, Request("needle_3^2 hydrogen", k = 20)),
    Pinned("BoolSyntaxSpec", "boosted group distributes into leaves (Lucene boost propagation)", Tiny,
      at(20)("(needle_3 hydrogen)^2 +ambiguous" +: "\"w0000 w0001\"^2 needle_3" +:
        "((needle_3 hydrogen)^2 ambiguous)^3" +: "(needle_3 \"w0000 w0001\")^2 +ambiguous" +:
        mixedLegs: _*): _*),
    Pinned("BoolSyntaxSpec", "boosted constant-score leg parity: fielded keyword ^3", Tiny,
      at(20)("role:assistant^3 needle_3", "needle_*^2 hydrogen", "/rare_00[0-9]/^2 needle_3",
        "tool:b*^3 needle_3"): _*),
    Pinned("BoolSyntaxSpec", "boosted fuzzy parity", Tiny, Request("needle_3~1^2", k = 20)),
    Pinned("BoolSyntaxSpec", "AND NOT parity", Tiny, Request("needle_3 AND NOT ambiguous", k = 20)),
    Pinned("BoolSyntaxSpec", "boosted filter-only group scores its boost, like any match-all leg", Tiny,
      Request("(FILTER role:assistant)^3 needle_3", k = 20, ast = Some(BoolQuery(should = Seq(
        Boosted(BoolQuery(filter = Seq(FieldEquals("role", "assistant"))), 3.0f),
        TermQuery("needle_3")))))),

    // FuzzySpec: expansion, blended df, boosts and OSA transpositions
    Pinned("FuzzySpec", "fuzzy expansion scores with blended df and boost — oracle parity", FuzzyTexts,
      Seq(FuzzyQuery("spark"), FuzzyQuery("spark", maxEdits = 1),
        FuzzyQuery("sark", maxEdits = 2, transpositions = false), FuzzyQuery("sprak", maxEdits = 1),
        FuzzyQuery("zzzz")).map(q => Request(q.toString, k = 20, ast = Some(q))): _*),
    Pinned("FuzzySpec", "prefixLength restricts expansion; maxExpansions caps by boost", FuzzyTexts,
      Seq(FuzzyQuery("spark", maxEdits = 2, prefixLength = 2), FuzzyQuery("spark", maxExpansions = 1),
        FuzzyQuery("spark", maxExpansions = 2)).map(q => Request(q.toString, k = 20, ast = Some(q))): _*),
    Pinned("FuzzySpec", "fielded fuzzy: constant score, bounded distance on the attribute", FuzzyTexts,
      Seq(FieldFuzzyQuery("role", "usr", 1), FieldFuzzyQuery("role", "nosuch", 1))
        .map(q => Request(q.toString, k = 20, ast = Some(q))): _*),
    Pinned("FuzzySpec", "fuzzy inside boolean trees and through the search facade", FuzzyTexts,
      Request("+spark~1 -typo", k = 20, ast = Some(BoolQuery(must = Seq(FuzzyQuery("spark", 1)),
        mustNot = Seq(TermQuery("typo"))))),
      Request("sark~ -typo")),

    // RegexpSpec: anchored constant-score expansion, order and scores too
    Pinned("RegexpSpec", "anchored dictionary expansion, constant score — oracle parity", RegexpTexts,
      Seq(RegexpQuery("s.a(n|ns|rk)"), RegexpQuery("SORT|ROWS"), RegexpQuery("can"),
        RegexpQuery("s.an.*")).map(q => Request(q.toString, k = 100, ast = Some(q))): _*),
    Pinned("RegexpSpec", "fielded regexp on keyword attributes", RegexpTexts,
      Seq(FieldRegexpQuery("role", "us(e|o)r"), FieldRegexpQuery("role", "h.lper"),
        FieldRegexpQuery("role", "elper")).map(q => Request(q.toString, k = 100, ast = Some(q))): _*),
    Pinned("RegexpSpec", "regexp MUST next to a scored term", RegexpTexts,
      Request("+/s.a(n|ns|rk)/ merge")),

    // PhraseSpec: exact phrases over synonym-stacked slots
    Pinned("PhraseSpec", "oracle parity on the synonym corpus (scores, not just ids)", SynonymTexts,
      at(20)("\"data mr\"", "\"mr file\"", "\"data mr file\"", "\"molecular replacement\"",
        "\"mr mr\"", "\"hydrogen\"", "\"hydrogen data\"", "\"data hydrogen mr\"", "\"h data\""): _*),

    // WandSpec: pure-SHOULD term requests, which the segments serving
    // answers with the WAND kernel (per-segment top-k + global merge)
    Pinned("WandSpec", "single term", Tiny, Request("needle_3")),
    Pinned("WandSpec", "two-term OR", Tiny, Request("needle_3 hydrogen")),
    Pinned("WandSpec", "hot zipf OR", Tiny, Request("w0000 w0001", k = 50)),
    Pinned("WandSpec", "rare + hot mix", Tiny, Request("rare_001 w0002 needle_7", k = 25)),
    Pinned("WandSpec", "ambiguous (norm quantization)", Tiny, Request("ambiguous", k = 40)),

    // ParitySpec: a boolean of one frame leg is that leg's frame
    Pinned("ParitySpec", "single-frame booleans: phrase, keyword, boosted and MUST-only legs", Tiny,
      at(20)("\"w0000 w0001\"", "role:assistant", "\"w0000 w0001\"^2", "+\"w0000 w0001\"",
        "+role:user", "tool:b*^3", "hydrgen~", "+needle_*", "-role:user"): _*),
    // shrunk from generated requests: an open side threw a long overflow
    Pinned("ParitySpec", "one-sided ts ranges: the open side adds no comparison", Tiny,
      Request("ambiguous", lower = Some("202601011200"), k = 30),
      Request("ambiguous", upper = Some("202601011159"), k = 30), Request("", upper = Some("202601010600"))),
    Pinned("ParitySpec", "generated corpora: paged and field-sorted match-all", Generated(0),
      Request("", sort = Seq(("tool", true), ("turn_idx", false)), k = 3, pages = 3)))

}
