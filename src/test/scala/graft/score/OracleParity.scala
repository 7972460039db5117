package graft.score

import graft.SparkSuite
import graft.analysis.{Analyzers, TextAnalyzer}
import graft.api.{Json, SearchEngine}
import graft.build.{IndexBuilder, Segments}
import graft.corpus.TranscriptGen
import graft.model._
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Shrink, Test => ScTest}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.Assertions._

/** The one differential harness: the engine ≡ [[NaiveOracle]] on every
  * page of every request (FIXTURES.md §4). A [[Corpus]] is served four
  * ways ([[served]]); [[check]] runs a [[Request]] on each serving —
  * through the search facade, each next page's token through the JSON
  * codec — and compares every page's docIds and float score bits with
  * the oracle's: with the slice of its unpaged order and with its own
  * page after the same token. [[property]] draws (corpus, serving,
  * request) triples from one generator; [[Pinned.all]] holds the
  * hand-picked cases, each registered as a named test by the suite it
  * names and checked on every serving. */
object OracleParity {

  // ---- corpora ------------------------------------------------------

  /** A corpus: its turns, and the analyzer every serving indexes with. */
  sealed trait Corpus {
    def turns: Seq[Turn]
    def analyzer: TextAnalyzer
  }

  /** The seed-42 transcript corpus, `TranscriptGen.tiny`. */
  case object Tiny extends Corpus {
    lazy val turns: Seq[Turn] = (0L until 20L).flatMap(TranscriptGen.turnsOf)
    def analyzer: TextAnalyzer = Analyzers.Icat
  }

  /** One hand-written conversation: turn i is `texts(i)` with role
    * `roles(i % roles.size)`, no tool, one minute after turn i − 1. */
  final case class Texts(texts: Seq[String], roles: Seq[String], analyzer: TextAnalyzer)
      extends Corpus {
    def turns: Seq[Turn] = texts.zipWithIndex.map { case (t, i) =>
      Turn("conv-0", i, roles(i % roles.size), t, None,
        new java.sql.Timestamp(1767225600000L + i * 60000L))
    }
  }

  /** The turns [[turnsGen]] draws at `seed`. */
  final case class Generated(seed: Long) extends Corpus {
    lazy val turns: Seq[Turn] = turnsGen.pureApply(Gen.Parameters.default, Seed(seed))
    def analyzer: TextAnalyzer = Analyzers.Icat
  }

  private val hot = Seq("w0000", "w0001", "w0002", "w0003") // TranscriptGen's Zipf head
  private val rare = Seq("rare_001", "rare_002", "hydrogen", "helium")
  private val needles = Seq("needle_0", "needle_1", "needle_2", "needle_3")

  /** Every indexed word of a generated corpus. */
  val vocabulary: Seq[String] = hot ++ rare ++ needles :+ "ambiguous"

  private val word: Gen[String] = Gen.frequency(8 -> Gen.oneOf(hot), 3 -> Gen.oneOf(rare),
    2 -> Gen.oneOf(needles), 2 -> Gen.const("ambiguous"), 1 -> Gen.const("the"))

  private val turnGen: Gen[(String, String, Option[String], Long)] = for {
    text <- Gen.frequency(
      12 -> Gen.choose(1, 12).flatMap(Gen.listOfN(_, word)).map(_.mkString(" ")),
      1 -> Gen.oneOf("", "the of and", "?!")) // zero-token texts
    role <- Gen.oneOf("user", "assistant", "system")
    tool <- Gen.frequency(3 -> Gen.const(None), 1 -> Gen.some(Gen.oneOf("bash", "search", "editor")))
    day <- Gen.choose(0, 3)
    hour <- Gen.choose(0, 23)
  } yield (text, role, tool, 1767225600000L + day * 86400000L + hour * 3600000L)

  /** 8–40 turns in docId order — conversations `c00`, `c01`, … of eight
    * turns each — over the controlled vocabulary, some with no token,
    * three roles, a null tool on most turns, `ts` on the hours of four
    * days from 2026-01-01. */
  val turnsGen: Gen[Seq[Turn]] =
    Gen.choose(8, 40).flatMap(Gen.listOfN(_, turnGen)).map(_.zipWithIndex.map {
      case ((text, role, tool, ts), i) =>
        Turn(f"c${i / 8}%02d", i % 8, role, text, tool, new java.sql.Timestamp(ts))
    })

  /** The one corpus generator: one of `seeds` generated corpora. */
  def corpusGen(seeds: Int): Gen[Generated] = Gen.choose(0L, seeds - 1L).map(Generated)

  // ---- requests -----------------------------------------------------

  /** One search request and its page chain: `pages` pages of `k` hits,
    * the first after `after`. `ast` replaces the parse of `text` (which
    * then only names it) and `attrs` adds predicates the request surface
    * cannot spell; either makes it a one-page `QueryExec.topKSorted` call,
    * since no facade request carries them. `facets` also compares the
    * facade's string facet counts. */
  final case class Request(
      text: String,
      filter: Map[String, Seq[String]] = Map.empty,
      lower: Option[String] = None,
      upper: Option[String] = None,
      sort: Seq[(String, Boolean)] = Nil,
      k: Int = 10,
      pages: Int = 1,
      after: Option[AfterToken] = None,
      ast: Option[Query] = None,
      attrs: Seq[AttrPredicate] = Nil,
      facets: Seq[String] = Nil) {
    require(pages == 1 || (ast.isEmpty && attrs.isEmpty), "page chains run through the facade")

    def searchRequest: SearchRequest = SearchRequest(text = Option.when(text.nonEmpty)(text),
      filter = filter, lower = lower, upper = upper, sort = SortSpec(sort),
      searchAfter = after, maxResults = k)

    /** This request as Scala source: the text, then each field that is
      * not its default, by name. */
    def literal: String = {
      val named = productElementNames.zip(productIterator).zip(Request(text).productIterator)
        .drop(1).collect { case ((n, v), d) if v != d => s"$n = ${source(v)}" }
      "Request" + (source(text) +: named.toSeq).mkString("(", ", ", ")")
    }
  }

  /** A generated field value as Scala source (an AST, predicate or token
    * prints as its case-class form). */
  private def source(v: Any): String = v match {
    case s: String    => "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString } + "\""
    case m: Map[_, _] => m.map { case (a, b) => s"${source(a)} -> ${source(b)}" }.mkString("Map(", ", ", ")")
    case xs: Seq[_]   => xs.map(source).mkString("Seq(", ", ", ")")
    case Some(x)      => s"Some(${source(x)})"
    case (a, b)       => s"(${source(a)}, ${source(b)})"
    case x            => x.toString
  }

  private val leaf: Gen[String] = Gen.frequency(
    10 -> word,
    1 -> Gen.const("zzzzqqq"), // in no corpus
    3 -> Gen.choose(2, 3).flatMap(Gen.listOfN(_, Gen.frequency(
      6 -> Gen.oneOf(hot), 1 -> Gen.oneOf(rare), 1 -> Gen.const("the")))).map(_.mkString("\"", " ", "\"")),
    2 -> Gen.oneOf("needle_*", "w000?", "rare_00*", "NEEDLE_?", "hel*"),
    1 -> Gen.oneOf("/needle_[0-2]/", "/w000[13]/", "/rare_.*/"),
    2 -> Gen.oneOf("hydrgen~", "needle_1~1", "w0001~1", "ambigous~", "helum~2"),
    3 -> Gen.oneOf("role:assistant", "role:user", "tool:bash", "tool:search", "conv_id:c01",
      "role:us*", "tool:/b.*/", "role:sytem~1"))

  private def clause(depth: Int): Gen[String] = for {
    occur <- Gen.frequency(6 -> "", 2 -> "+", 1 -> "-")
    body <- if (depth == 0) leaf else Gen.frequency(6 -> leaf, 1 -> group(depth - 1))
    boost <- Gen.frequency(6 -> "", 1 -> "^2", 1 -> "^0.5")
  } yield occur + body + boost

  private def group(depth: Int): Gen[String] =
    Gen.choose(1, 3).flatMap(Gen.listOfN(_, clause(depth))).map(_.mkString("(", " ", ")"))

  private val day: Gen[String] = Gen.choose(1, 4).map(d => s"2026010$d")

  /** StandardQueryParser text — terms, `+`/`-`, groups, `^` boosts, exact
    * phrases (stopword holes included), wildcards, regexps, fuzzy terms
    * and keyword legs, or empty (match-all) — with filters, a `ts` range,
    * sort fields, `k` and a page count. Never a sloppy phrase or an SI
    * range: the oracle refuses both. */
  val requestGen: Gen[Request] = for {
    text <- Gen.frequency(19 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, clause(1)))
      .map(_.mkString(" ")), 1 -> Gen.const(""))
    filter <- Gen.frequency(6 -> Gen.const(Map.empty[String, Seq[String]]),
      1 -> Gen.oneOf(Seq("user"), Seq("assistant", "system")).map(vs => Map("role" -> vs)),
      1 -> Gen.oneOf(Seq("bash"), Seq("bash", "search")).map(vs => Map("tool" -> vs)),
      1 -> Gen.const(Map("conv_id" -> Seq("c01"))))
    range <- Gen.frequency(5 -> Gen.const((None, None)),
      1 -> day.map(d => (Some(d + "0000"), None)), 1 -> day.map(d => (None, Some(d + "1159"))),
      1 -> Gen.zip(day, day).map { case (a, b) => (Some(a + "0600"), Some(b + "2359")) })
    fields <- Gen.frequency(3 -> Gen.const(Nil), 1 -> Gen.choose(1, 2)
      .flatMap(Gen.pick(_, Seq("ts", "turn_idx", "role", "conv_id", "tool"))).map(_.toSeq))
    asc <- Gen.listOfN(fields.size, Gen.oneOf(true, false))
    k <- Gen.oneOf(1, 2, 3, 5, 10, 40)
    pages <- Gen.frequency(4 -> 1, 1 -> 2, 1 -> 3)
  } yield Request(text, filter, range._1, range._2, fields.zip(asc), k, pages)

  /** Top-level clauses of a query text: split on spaces outside quotes
    * and parentheses. */
  private def clauses(text: String): Seq[String] = {
    val (done, last, _, _) = text.foldLeft((Vector.empty[String], "", 0, false)) {
      case ((out, cur, depth, quoted), ch) =>
        if (ch == ' ' && depth == 0 && !quoted) (out :+ cur, "", depth, quoted)
        else (out, cur + ch, depth + (if (quoted) 0 else if (ch == '(') 1 else if (ch == ')') -1 else 0),
          if (ch == '"') !quoted else quoted)
    }
    (done :+ last).filter(_.nonEmpty)
  }

  /** Shrinks a failing request: drop a top-level clause, unwrap a group,
    * then drop pages, filters, the range and the sort. */
  val shrinkCase: Shrink[(Corpus, String, Request)] = Shrink.withLazyList { case (c, on, r) =>
    val cs = clauses(r.text)
    val texts = (if (cs.size > 1) cs.indices.map(i => cs.patch(i, Nil, 1)) else Nil) ++
      cs.indices.collect { case i if cs(i).startsWith("(") && cs(i).endsWith(")") =>
        cs.updated(i, cs(i).drop(1).dropRight(1)) }
    (texts.map(t => r.copy(text = t.mkString(" "))) ++ Seq(
      Option.when(r.pages > 1)(r.copy(pages = 1)),
      Option.when(r.filter.nonEmpty)(r.copy(filter = Map.empty)),
      Option.when(r.lower.isDefined || r.upper.isDefined)(r.copy(lower = None, upper = None)),
      Option.when(r.sort.nonEmpty)(r.copy(sort = Nil))).flatten).map((c, on, _)).to(LazyList)
  }

  /** Each corpus is built four ways once, so the generator draws from a
    * handful of them and Tiny, and runs each request on one serving. */
  private val cases: Gen[(Corpus, String, Request)] = for {
    c <- Gen.frequency(3 -> corpusGen(3), 1 -> Gen.const(Tiny))
    on <- Gen.oneOf(Servings)
    r <- requestGen
  } yield (c, on, r)

  /** A case as the source line that pins it in [[Pinned.all]]. */
  def pin(c: Corpus, r: Request): String =
    s"""Pinned("ParitySpec", ${source(s"$c: ${r.text}")}, $c, ${r.literal})"""

  /** Every generated request ≡ the oracle on its serving; a failure
    * shrinks, and its label is the pinnable case and the mismatch. */
  val property: Prop = Prop.forAll(cases) { case (c, on, r) =>
    mismatchOn(served(c), on, r).fold(Prop.passed)(m => Prop.falsified :| m)
  }(identity, shrinkCase, { case (c, _, r) => Pretty(_ => pin(c, r)) })

  /** Run [[property]] for `n` requests from the fixed `seed`. */
  def checkGenerated(n: Int, seed: Long): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(n)
      .withInitialSeed(seed).withWorkers(1), property)
    assert(res.passed, s"after ${res.succeeded} passing requests: ${Pretty.pretty(res, Pretty.Params(2))}")
  }

  // ---- servings and the check --------------------------------------

  /** The servings of a corpus: the in-memory build, the saved-and-loaded
    * tables (the benchmark's path, hot terms salted), packed segments of
    * [[SegSize]] docs (pure-SHOULD term requests take the WAND route) and
    * a copy without a dictionary (the over-cap pushed scans). */
  final class Served(val serving: Map[String, SearchEngine], val oracle: NaiveOracle,
                     val stored: Map[Long, Turn]) {
    def engine: SearchEngine = serving("in-memory")
  }

  val Servings: Seq[String] = Seq("in-memory", "saved", "segments", "over-cap")
  val SegSize = 16

  private val built = scala.collection.mutable.Map.empty[Corpus, Served]

  def served(c: Corpus): Served = synchronized(built.getOrElseUpdate(c, {
    val spark = SparkSuite.session
    import spark.implicits._
    val mem = SearchEngine.build(c.turns.toDS(), c.analyzer, withPositions = true)
    val dir = java.nio.file.Files.createTempDirectory("graft-parity").toString
    IndexBuilder.buildAndSave(mem.index.corpus, c.analyzer, dir, hotDfThreshold = 100,
      withPositions = true)
    val segments = Segments.pack(mem.index.postings, mem.index.stats, SegSize).cache()
    val capped = mem.index.withDictionaryCap(0)
    assert(mem.index.dictionary.isDefined && capped.dictionary.isEmpty)
    val rows = storedTurns(mem.index.corpus)
    new Served(Map("in-memory" -> mem, "saved" -> SearchEngine.load(spark, dir),
      "segments" -> new SearchEngine(mem.index.copy(segments = Some(segments), segSize = SegSize)),
      "over-cap" -> new SearchEngine(capped)),
      NaiveOracle.fromTurns(rows, c.analyzer), rows.toMap)
  }))

  def engine(c: Corpus): SearchEngine = served(c).engine
  def oracle(c: Corpus): NaiveOracle = served(c).oracle

  /** Every stored turn of `corpus` (an index's corpus frame) with its docId. */
  private def storedTurns(corpus: DataFrame): Seq[(Long, Turn)] =
    corpus.select("docId", "conv_id", "turn_idx", "role", "text", "tool", "ts").collect()
      .map { r =>
        (r.getLong(0), Turn(r.getString(1), r.getInt(2), r.getString(3),
          r.getString(4), Option(r.getString(5)), r.getTimestamp(6)))
      }.toIndexedSeq

  /** The oracle over every stored turn of `corpus`, keeping each docId. */
  def oracleOf(corpus: DataFrame, analyzer: TextAnalyzer): NaiveOracle =
    NaiveOracle.fromTurns(storedTurns(corpus), analyzer)

  /** Every request of `p` ≡ the oracle on every serving. */
  def check(p: Pinned): Unit = p.requests.foreach(check(p.corpus, _))

  /** `r` over `c` ≡ the oracle on every serving. */
  def check(c: Corpus, r: Request): Unit =
    Servings.flatMap(mismatchOn(served(c), _, r)).headOption.foreach(m => fail(s"$m\n  in ${r.literal}"))

  /** `(docId, score)` of each row of a top-k frame. */
  def hitsOf(df: DataFrame): Seq[(Long, Float)] =
    df.collect().map(x => (x.getLong(0), x.getFloat(1))).toSeq

  /** Whether `got` ≠ `want`, docIds and float score bits, and how. */
  def differs(got: Seq[(Long, Float)], want: Seq[(Long, Float)]): Option[String] =
    Option.when(!sameBits(got, want))(s"engine ${show(got)} ≠ oracle ${show(want)}")

  /** The first difference between serving `on` of `s` and the oracle on
    * `r`. Page i must equal the oracle's unpaged order from `r.after`,
    * slice i, and the oracle's own page after the token the facade got. */
  private def mismatchOn(s: Served, on: String, r: Request): Option[String] = {
    val e = s.serving(on)
    val (parsed, planned) = e.plan(r.searchRequest)
    val (q, filters) = (r.ast.getOrElse(parsed), planned ++ r.attrs)
    val want = s.oracle.topKSorted(q, filters, r.sort, Int.MaxValue, r.after)
    // each page's hits and the token it was asked after
    val pages: Seq[(Option[AfterToken], Seq[(Long, Float)])] =
      if (r.ast.isDefined || r.attrs.nonEmpty)
        Seq(r.after -> hitsOf(new QueryExec(e.index).topKSorted(q, filters, SortSpec(r.sort), r.k, r.after)))
      else {
        val first = r.searchRequest
        val resps = scala.collection.mutable.ArrayBuffer(r.after -> e.search(first))
        while (resps.size < r.pages && resps.last._2.hits.nonEmpty) {
          val token = Json.parseRequest(Json.renderResponse(resps.last._2)).searchAfter
          resps += token -> e.search(first.copy(searchAfter = token))
        }
        resps.map { case (t, resp) => t -> resp.hits.map(h => (h.docId, h.score)) }.toSeq
      }
    val hits =
      if (Folded.applies(q)) Folded.mismatch(pages.flatMap(_._2), want.take(r.k * r.pages), r.sort.isEmpty)
      else pages.zipWithIndex.iterator.flatMap { case ((token, got), i) =>
        differs(got, want.slice(i * r.k, (i + 1) * r.k)).map(m => s"page ${i + 1} of the order: $m")
          .orElse(differs(got, s.oracle.topKSorted(q, filters, r.sort, r.k, token))
            .map(m => s"page ${i + 1} after $token: $m"))
      }.nextOption()
    hits.orElse(Option.when(r.facets.nonEmpty) {
      val matched = s.oracle.topK(q, filters, Int.MaxValue).map(id => s.stored(id._1))
      val got = e.facetStrings(r.searchRequest, r.facets)
      r.facets.map { dim =>
        val labels = matched.flatMap(t => Option(Map("role" -> t.role, "tool" -> t.tool.orNull)(dim)))
        dim -> labels.groupBy(identity).map { case (l, ls) => (l, ls.size.toLong) }.toSeq
          .sortBy { case (l, n) => (-n, l) }.take(10)
      }.collectFirst { case (dim, want) if got(dim) != want =>
        s"facet $dim: engine ${got(dim)} ≠ oracle $want" }
    }.flatten).map(m => s"$on: $m")
  }

  private def sameBits(got: Seq[(Long, Float)], want: Seq[(Long, Float)]): Boolean =
    got.map { case (id, s) => (id, java.lang.Float.floatToIntBits(s)) } ==
      want.map { case (id, s) => (id, java.lang.Float.floatToIntBits(s)) }

  private def show(hits: Seq[(Long, Float)]): String =
    hits.take(12).map { case (id, s) => s"$id:$s" }.mkString("[", " ", if (hits.size > 12) " …]" else "]")

  /** The one allowlisted deviation (see `QueryExec.Terms`): a nested
    * pure-SHOULD group folded into an all-term boolean joins one double
    * sum with its siblings, where the oracle casts the group's sum to
    * float first. Such a query keeps the 1e-5 bound, and oracle hits
    * whose relevance scores chain within it form one tie group whose
    * members may trade places, so its pages compare as one list. */
  private object Folded {
    private def group(n: Query): Option[Seq[Query]] = n match {
      case Boosted(q, _)                => group(q)
      case BoolQuery(Nil, sh, Nil, Nil) => Some(sh)
      case _                            => None
    }
    private def termShaped(n: Query): Boolean = n match {
      case TermQuery(_)  => true
      case Boosted(q, _) => termShaped(q)
      case _             => group(n).exists(g => g.nonEmpty && g.forall(termShaped))
    }
    // whether folding these scored sibling clauses into one sum rounds
    // unlike summing each group first
    private def rounds(sibs: Seq[Query]): Boolean =
      (sibs.size > 1 && sibs.exists(group(_).isDefined)) || sibs.exists(group(_).exists(rounds))

    def applies(q: Query): Boolean = q match {
      case Boosted(q2, _) => applies(q2)
      case b: BoolQuery =>
        val all = b.must ++ b.should ++ b.mustNot
        if (all.forall(termShaped)) rounds(b.must ++ b.should) else all.exists(applies)
      case _ => false
    }

    private def near(a: Float, b: Float) = math.abs(a - b) <= math.abs(b) * 1e-5 + 1e-7

    def mismatch(got: Seq[(Long, Float)], want: Seq[(Long, Float)],
                 relevance: Boolean): Option[String] = {
      val all = want.map(_._1)
      val groups = want.indices.scanLeft(0) { (g, i) =>
        if (i > 0 && relevance && near(want(i - 1)._2, want(i)._2)) g else g + 1
      }.tail
      val groupOf = all.zip(groups).toMap
      val scoreOf = want.toMap
      val ok = got.map(_._1).distinct.size == got.size && got.size == want.size &&
        got.map(h => groupOf.get(h._1)) == all.map(groupOf.get) &&
        got.forall { case (id, s) => scoreOf.get(id).exists(near(s, _)) }
      Option.when(!ok)(s"folded group: engine ${show(got)} ≠ oracle ${show(want)} within 1e-5")
    }
  }
}
