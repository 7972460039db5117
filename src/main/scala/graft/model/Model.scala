package graft.model

import java.time.format.DateTimeFormatter
import java.time.{LocalDateTime, ZoneOffset}

/** The corpus row shape mandated by the input hint: one conversation turn.
  * docId is assigned densely by stable (conv_id, turn_idx) ordering
  * (see graft.corpus.DocIds). */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: java.sql.Timestamp)

/** Query AST mirroring the reference's boolean query surface
  * (reference: SearchBucket.java:221-452 — MUST / SHOULD / MUST_NOT /
  * FILTER occur clauses over term, range and set-membership leaves).
  * Scoring leaves are analyzed terms; attribute predicates are
  * non-scoring (Occur.FILTER semantics: they constrain matches but
  * contribute 0 to the score). */
sealed trait Query

/** Matches every document with constant score 1.0
  * (reference: SearchBucket.java:636-642 MatchAllDocsQuery fallback). */
case object MatchAll extends Query

/** Matches nothing (reference: SearchBucket.java:830 empty-set query). */
case object MatchNone extends Query

/** A single already-analyzed term, BM25-scored. */
final case class TermQuery(term: String) extends Query

/** Wildcard/prefix term pattern (`*` any run, `?` one char), lowercased
  * before matching as the reference does (SearchBucket.java:171-194) and
  * scored constant 1.0 per matching doc (Lucene's multi-term
  * CONSTANT_SCORE rewrite — SURVEY.md §7.4). */
final case class WildcardQuery(pattern: String) extends Query {
  /** anchored regex equivalent of the lowercased pattern */
  def regex: String = WildcardQuery.regex(pattern, lowercase = true)
}

object WildcardQuery {
  /** anchored regex for a wildcard pattern; the reference lowercases
    * wildcard terms EXCEPT on `.exact` fields (SearchBucket.java:171-194,
    * TestLucene.java:353-360 testLowercaseWildcard). */
  def regex(pattern: String, lowercase: Boolean): String = {
    val p = if (lowercase) pattern.toLowerCase(java.util.Locale.ROOT) else pattern
    val sb = new StringBuilder("^")
    p.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if "\\.[]{}()<>+-=!?^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.append('$').toString
  }
}

/** Field-qualified wildcard from `field:pa*ern` query syntax (the
  * reference's StandardQueryParser produces a WildcardQuery on the named
  * field, DocumentMapping.java:120-146). Matched against the attribute
  * column with constant score 1.0 (multi-term CONSTANT_SCORE rewrite,
  * like [[WildcardQuery]]); the pattern is lowercased UNLESS the field is
  * an `.exact`/`_exact` case-preserving view (SearchBucket.java:171-194 —
  * lowercaseWildcardQueries skips fields ending ".exact"). */
final case class FieldWildcardQuery(field: String, pattern: String) extends Query {
  def caseSensitive: Boolean =
    field.endsWith(".exact") || field.endsWith("_exact")
  def regex: String = WildcardQuery.regex(pattern, lowercase = !caseSensitive)
}

/** Exact phrase / multi-phrase query over the analyzed text field
  * (reference: quoted phrases through StandardQueryParser,
  * DocumentMapping.java:120-146; the synonym-graph phrase golden
  * `location:"path ? data (mr molecular) replac file.txt"`,
  * TestLucene.java:144-171). Lucene MultiPhraseQuery semantics:
  *
  *  - `slots` are (analyzed position, alternative terms) pairs in
  *    position order — stopword removal leaves position holes (the `?` in
  *    the golden: any term may occupy the hole), synonym injection stacks
  *    alternatives on one position;
  *  - a document matches at base offset B when EVERY slot (p, ts) has
  *    some t ∈ ts indexed at position B + p − p₀ (B may place earlier
  *    than the first slot's absolute position, exactly as Lucene's
  *    relative phrase positions allow);
  *  - BM25 scores with tf = the number of matching base offsets (exact
  *    phrase freq) and weight = Σ idf over every (slot, term) occurrence
  *    present in the index — MultiPhraseWeight sums termStatistics per
  *    listed term, counting a term once per slot it appears in.
  *
  * Requires an index built `withPositions` (the positional postings are
  * Lucene's proximity data; an index without them cannot run phrases).
  *
  * `slop` > 0 is a SLOPPY phrase (`"a b"~2` syntax — the reference's
  * StandardQueryParser accepts phrase slop, DocumentMapping.java:120-146).
  * Semantics (documented variant of Lucene's SloppyPhraseScorer): anchor
  * on each occurrence of the FIRST slot; every later slot contributes its
  * occurrence nearest the anchor's expected position (signed displacement
  * δᵢ, ties to the earlier position); matchLength = max(0, max δᵢ) −
  * min(0, min δᵢ) — for an ordered match this is the span's extra gaps
  * and for a 2-term phrase exactly Lucene's |Δactual − Δexpected| (a
  * transposition costs 2, so `"a b"~2` matches "b a"). An anchor matches
  * when matchLength ≤ slop and contributes Lucene's sloppyWeight
  * 1/(1 + matchLength) to the (now fractional) phrase freq. Deviation
  * from Lucene: the nearest-occurrence choice is per-slot greedy about
  * the anchor rather than SloppyPhraseScorer's global repositioning —
  * they differ only when ≥3 slots compete for overlapping occurrence
  * windows. slop = 0 is the exact phrase (identical plans and scores). */
final case class PhraseQuery(slots: Seq[(Int, Seq[String])], slop: Int = 0) extends Query

object PhraseQuery {
  /** Build from a position-annotated analysis of the quoted text: group
    * stacked tokens by position into slots. Returns None when the phrase
    * analyzes to nothing (all stopwords — the parser drops the clause),
    * and degenerates to a TermQuery for a single one-term slot, as
    * Lucene's QueryBuilder does (slop is meaningless for one term). */
  def fromAnalysis(a: graft.analysis.PosAnalyzed, slop: Int = 0): Option[Query] = {
    if (a.terms.isEmpty) return None
    val slots: Seq[(Int, Seq[String])] = a.terms.indices
      .groupBy(i => a.pos(i)).toSeq.sortBy(_._1)
      .map { case (p, is) => (p, is.map(i => a.terms(i)).distinct) }
    slots match {
      case Seq((_, Seq(t))) => Some(TermQuery(t))
      case s                => Some(PhraseQuery(s, slop))
    }
  }
}

/** Regexp term over the analyzed text field — `/re/` query syntax
  * (Lucene RegexpQuery through the query parser; the reference's
  * StandardQueryParser accepts slash-delimited regexps on any field,
  * DocumentMapping.java:120-146). Whole-term anchored match against the
  * term dictionary, constant score 1.0 per matching doc (the same
  * multi-term CONSTANT_SCORE rewrite as wildcards). The pattern is
  * lowercased like wildcard terms (SearchBucket.java:171-194 convention);
  * syntax is the Java-regex subset shared with Lucene's RegExp (literals,
  * `.` `*` `+` `?` `|` `()` `[]` classes). */
final case class RegexpQuery(pattern: String) extends Query {
  def regex: String = "^(?:" + pattern.toLowerCase(java.util.Locale.ROOT) + ")$"
}

/** Field-qualified regexp from `field:/re/` syntax: anchored match on the
  * keyword attribute, constant score 1.0. Keyword values are indexed raw,
  * so matching is case-sensitive on `.exact`/`_exact` views and
  * lowercase-normalized otherwise, mirroring [[FieldWildcardQuery]]. */
final case class FieldRegexpQuery(field: String, pattern: String) extends Query {
  def caseSensitive: Boolean =
    field.endsWith(".exact") || field.endsWith("_exact")
  def regex: String = "^(?:" +
    (if (caseSensitive) pattern else pattern.toLowerCase(java.util.Locale.ROOT)) + ")$"
}

/** Fuzzy term over the analyzed text field — `word~`, `word~1` query
  * syntax (reference: fuzzy syntax accepted by the per-entity
  * StandardQueryParser, DocumentMapping.java:120-146). Lucene FuzzyQuery
  * defaults pinned here: maxEdits 2, prefixLength 0, maxExpansions 50,
  * transpositions on (optimal-string-alignment Damerau-Levenshtein).
  *
  * Execution semantics (Lucene's TopTermsBlendedFreqScoringRewrite):
  * expand against the term dictionary to the top-`maxExpansions` terms
  * within `maxEdits` (ranked boost desc, term asc), where
  * boost = 1 − edits / min(|term|, |query|); "blend" document frequency
  * by scoring EVERY expanded term with the maximum df over the expansion
  * set (BlendedTermQuery.adjustFrequencies); a document's score is the
  * sum over its matching expanded terms of boost × BM25(tf, blended idf).
  * The query text is lowercased, not analyzed — Lucene normalizes fuzzy
  * terms through the analyzer's normalization chain only (no
  * tokenize/stop/stem). maxEdits 0 degenerates to an exact TermQuery. */
final case class FuzzyQuery(
    term: String,
    maxEdits: Int = 2,
    prefixLength: Int = 0,
    maxExpansions: Int = 50,
    transpositions: Boolean = true) extends Query

/** Field-qualified fuzzy from `field:value~N` syntax: matches docs whose
  * keyword attribute is within `maxEdits` of the value, constant score 1.0
  * (the same constant-score convention as [[FieldWildcardQuery]]; keyword
  * fields are indexed raw, so matching is case-sensitive — Lucene
  * normalizes fuzzy terms per-field and a KeywordAnalyzer field has no
  * lowercasing). */
final case class FieldFuzzyQuery(field: String, value: String,
                                 maxEdits: Int = 2,
                                 transpositions: Boolean = true) extends Query

/** Keyword-field term from `field:value` query syntax: matches docs whose
  * attribute column equals the value, constant score 1.0. The reference
  * builds exact-field constraints as non-scoring Occur.FILTER term queries
  * (SearchBucket.java:438-452); under a scoring boolean context we give
  * the clause a constant 1.0 — the same convention as our wildcard
  * (Lucene constant-score multi-term rewrite) — so `+role:user text`
  * filters on role while `role:user text` boosts role matches by 1. */
final case class FieldMatchQuery(field: String, value: String) extends Query

/** Score-multiplying boost from `^N` query syntax — Lucene BoostQuery
  * (the reference's StandardQueryParser accepts `term^2`, `"a b"~1^2`,
  * `field:v^2` and `(grouped)^2`, DocumentMapping.java:120-146).
  * Execution semantics follow Lucene's boost PROPAGATION: BooleanWeight
  * hands its boost down to every scoring sub-weight, so nested boosts
  * multiply into the leaves — a BM25-scored leaf multiplies its float
  * index weight (weight = boost × (float)idf, BM25Similarity.scorer),
  * a constant-score leaf scores `boost` instead of 1.0, and non-scoring
  * legs (MUST_NOT) ignore boosts entirely. */
final case class Boosted(q: Query, boost: Float) extends Query

/** Boolean combination; scores = sum of matching must+should clause
  * scores; filter and mustNot contribute nothing to the score. */
final case class BoolQuery(
    must: Seq[Query] = Nil,
    should: Seq[Query] = Nil,
    mustNot: Seq[Query] = Nil,
    filter: Seq[AttrPredicate] = Nil
) extends Query

/** Non-scoring attribute predicates (role/tool exact or set membership,
  * timestamp ranges — reference: SearchBucket.java:799-839, 347-357). */
sealed trait AttrPredicate
final case class FieldEquals(field: String, value: String) extends AttrPredicate
final case class FieldIn(field: String, values: Seq[String]) extends AttrPredicate
/** Inclusive epoch-millis range on ts. */
final case class TsRange(lowerMs: Long, upperMs: Long) extends AttrPredicate

/** Double range on a numeric field, bounds inclusive by flag (reference:
  * DoublePoint.newRangeQuery builds, SearchBucket.java:568-589; both
  * bounds inclusive there, half-open when a bound is a MIN/MAX sentinel). */
final case class NumRange(field: String, lo: Double, hi: Double,
                          loInc: Boolean = true, hiInc: Boolean = true) extends AttrPredicate

/** Exact-value-or-enclosing-range numeric predicate (reference:
  * SearchBucket.java:498-542 — a parameter matches when its exact
  * numericValue equals the probe OR its [rangeBottom, rangeTop] interval
  * encloses the probe). */
final case class ExactOrEnclosing(exactField: String, bottomField: String,
                                  topField: String, value: Double) extends AttrPredicate

/** Numeric range whose BOUNDS arrive in a (possibly non-SI) unit: the
  * engine converts the bounds to SI at plan time (reference:
  * SearchBucket.java:568-589 converts a unit-qualified parameter range
  * before building the point-range query) and compares against the
  * `<field>SI` shadow column the build wrote (graft.build.Units).
  * The unit must be one of the enabled conversions — an unknown unit is
  * a planning error, matching the reference rejecting a search with
  * units it cannot convert. */
final case class SiNumRange(field: String, lo: Double, hi: Double, unit: String,
                            loInc: Boolean = true, hiInc: Boolean = true) extends AttrPredicate

object QueryText {

  /** Attribute columns addressable as `field:value` in query strings. */
  val KeywordFields: Set[String] = Set("role", "tool", "conv_id")

  /** Query-string parser covering the reference surface required by the
    * north rule: bare terms (default OR), `+term` (MUST), `-term`
    * (MUST_NOT), `field:value` qualified terms, `"a phrase"` /
    * `"a phrase"~N` quoted spans, `/re/` regexps, `term~`/`term~N` fuzzy —
    * plus the StandardQueryParser's boolean-structure syntax (reference
    * default-OR StandardQueryParser, DocumentMapping.java:120-146;
    * grammar: StandardSyntaxParser.jj — Query := DisjQuery+, DisjQuery :=
    * ConjQuery (OR ConjQuery)*, ConjQuery := ModClause (AND ModClause)*):
    *
    *  - `( … )` grouping, with an optional occur prefix (`+(a b)`) and
    *    trailing boost (`(a b)^2`);
    *  - uppercase `AND`/`&&`, `OR`/`||`, `NOT`/`!` operators (lowercase
    *    `and`/`or`/`not` stay ordinary terms, exactly as in Lucene);
    *    under AND, unmodified operands become MUST; under OR (and the
    *    default whitespace sequence), SHOULD; `NOT x` ≡ `-x`;
    *  - `^N` boosts on words, quoted spans (after slop: `"a b"~1^2`),
    *    fielded values and groups → [[Boosted]] nodes.
    *
    * `text:word` targets the analyzed default field explicitly; a keyword
    * field (`role:`, `tool:`, `conv_id:`) becomes a FieldMatchQuery;
    * an unknown prefix is NOT treated as a field — the whole word is
    * analyzed as text (matching the parser's default-field fallback).
    * Each analyzed word that yields several tokens (synonym expansion)
    * becomes a SHOULD group at that position. A quoted span analyzes
    * POSITIONALLY (via `analyzePos`, defaulting to contiguous positions
    * over `analyze` — correct for stop/synonym-free chains) into a
    * [[PhraseQuery]]; a quoted keyword-field value is a literal match.
    *
    * Leniency (the reference surfaces a parse failure as a 400; this
    * parser never throws): a stray operator with no operand is dropped,
    * an unmatched `)` is skipped, an unmatched `(` group extends to the
    * end of the input. */
  def parse(text: String, analyze: String => Array[String],
            keywordFields: Set[String] = KeywordFields,
            analyzePos: String => graft.analysis.PosAnalyzed = null): Query = {
    import graft.analysis.PosAnalyzed
    val aPos: String => PosAnalyzed =
      if (analyzePos != null) analyzePos
      else s => PosAnalyzed.contiguous(analyze(s))

    // ---- lexer ----------------------------------------------------
    // tokens: optionally-occur-prefixed, optionally-field-prefixed quoted
    // spans or /slash/ regexp spans; parens (open may carry an occur
    // prefix, close may carry a boost); else non-space non-paren runs
    // (the word path handles its own occur/field/boost suffixes). A
    // regexp span must END the token or abut a `)` (lookahead):
    // path-shaped field values like `location_exact:/dls/*/data/20??/ab*`
    // keep their slashes literal — the reference escapes `/` in user text
    // before parsing (SearchBucket.java:200-204), so in its service paths
    // always win over Lucene's slash-regexp syntax; only an unambiguous
    // whole-token `/re/` (or `field:/re/`) is treated as a regexp here.
    val tokenRe =
      ("""([+-])?(?:([A-Za-z_][A-Za-z0-9_.]*):)?"([^"]*)"(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?""" +
        """|([+-])?(?:([A-Za-z_][A-Za-z0-9_.]*):)?/([^/]*)/(?=[\s)]|$)""" +
        """|([+-])?\(""" +
        """|\)(?:\^(\d+(?:\.\d+)?))?""" +
        """|([^\s()]+)""").r

    sealed trait Tok
    final case class TClause(occ: Char, q: Query) extends Tok
    final case class TLParen(occ: Char) extends Tok
    final case class TRParen(boost: Option[Float]) extends Tok
    case object TAnd extends Tok
    case object TOr extends Tok
    case object TNot extends Tok

    val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
    tokenRe.findAllMatchIn(text).foreach { m =>
      if (m.group(3) != null) { // quoted span, optional ~N slop + ^B boost
        val occ = Option(m.group(1)).map(_.charAt(0)).getOrElse(' ')
        val field = Option(m.group(2))
        val body = m.group(3)
        val slop = Option(m.group(4)).map(_.toInt).getOrElse(0)
        val boost = Option(m.group(5)).map(_.toFloat)
        val node: Option[Query] = field match {
          case Some(f) if keywordFields.contains(f) =>
            Some(FieldMatchQuery(f, body)) // literal (possibly spaced) value
          case _ => // default text field (explicit `text:` or no prefix;
                    // unknown prefixes fall back to the default field)
            PhraseQuery.fromAnalysis(aPos(body), slop)
        }
        node.foreach(n => toks += TClause(occ, boostWrap(n, boost)))
      } else if (m.group(8) != null) { // /regexp/ span
        val occ = Option(m.group(6)).map(_.charAt(0)).getOrElse(' ')
        val body = m.group(8)
        if (body.nonEmpty) {
          val node = Option(m.group(7)) match {
            case Some(f) if keywordFields.contains(f) => FieldRegexpQuery(f, body)
            case _ => RegexpQuery(body) // `text:` or unknown prefix → default field
          }
          toks += TClause(occ, node)
        }
      } else if (m.group(11) != null) { // word (maybe an operator keyword)
        m.group(11) match {
          case "AND" | "&&" => toks += TAnd
          case "OR" | "||"  => toks += TOr
          case "NOT" | "!"  => toks += TNot
          case w0 =>
            // a leading `!` is the NOT operator lexed tight (`!term`)
            val w = if (w0.length > 1 && w0.charAt(0) == '!') {
              toks += TNot; w0.substring(1)
            } else w0
            parseWord(w, analyze, keywordFields)
              .foreach { case (occ, q) => toks += TClause(occ, q) }
        }
      } else if (m.group(0).endsWith("(")) {
        toks += TLParen(Option(m.group(9)).map(_.charAt(0)).getOrElse(' '))
      } else { // `)` with optional boost
        toks += TRParen(Option(m.group(10)).map(_.toFloat))
      }
    }

    // ---- recursive-descent parser over the token stream ------------
    var i = 0
    def peek: Tok = if (i < toks.length) toks(i) else null
    def atEnd(stop: Boolean): Boolean =
      i >= toks.length || (stop && toks(i).isInstanceOf[TRParen])

    def buildBool(cs: Seq[(Char, Query)]): Query = BoolQuery(
      must = cs.collect { case ('+', q) => q },
      should = cs.collect { case (' ', q) => q },
      mustNot = cs.collect { case ('-', q) => q })

    def parseMod(stop: Boolean): Option[(Char, Query)] = peek match {
      case TNot => i += 1; parseMod(stop).map { case (_, q) => ('-', q) }
      case TClause(occ, q) => i += 1; Some((occ, q))
      case TLParen(occ) =>
        i += 1
        val inner = parseSeq(stop = true)
        val boost = peek match {
          case TRParen(b) => i += 1; b
          case _ => None // unmatched `(` — group ran to end of input
        }
        if (inner.isEmpty) None
        else {
          // a single unmodified child collapses (Lucene GroupQueryNode)
          val q0 = inner match {
            case Seq((' ', q)) => q
            case cs            => buildBool(cs)
          }
          Some((occ, boostWrap(q0, boost)))
        }
      case TAnd | TOr => i += 1; None // stray operator: drop (lenient)
      case _ => None // end of input / at `)`
    }

    def parseConj(stop: Boolean): Option[(Char, Query)] = {
      val cs = scala.collection.mutable.ArrayBuffer.empty[(Char, Query)]
      parseMod(stop).foreach(cs += _)
      while (!atEnd(stop) && peek == TAnd) {
        i += 1
        if (!atEnd(stop)) parseMod(stop).foreach(cs += _)
      }
      if (cs.isEmpty) None
      else if (cs.size == 1) Some(cs.head)
      else Some((' ', BoolQuery( // AND: unmodified operands become MUST
        must = cs.collect { case (('+' | ' '), q) => q }.toSeq,
        mustNot = cs.collect { case ('-', q) => q }.toSeq)))
    }

    def parseDisj(stop: Boolean): Option[(Char, Query)] = {
      val cs = scala.collection.mutable.ArrayBuffer.empty[(Char, Query)]
      parseConj(stop).foreach(cs += _)
      while (!atEnd(stop) && peek == TOr) {
        i += 1
        parseConj(stop).foreach(cs += _)
      }
      if (cs.isEmpty) None
      else if (cs.size == 1) Some(cs.head)
      else Some((' ', buildBool(cs.toSeq))) // OR: unmodified → SHOULD
    }

    def parseSeq(stop: Boolean): Seq[(Char, Query)] = {
      val cs = scala.collection.mutable.ArrayBuffer.empty[(Char, Query)]
      while (!atEnd(stop)) {
        val before = i
        parseDisj(stop).foreach(cs += _)
        if (i == before) i += 1 // always progress (stray `)` at top level)
      }
      cs.toSeq
    }

    val clauses = parseSeq(stop = false)
    if (clauses.isEmpty) MatchAll
    else buildBool(clauses) match {
      // a lone unmodified boolean clause needs no outer wrapper (Lucene
      // collapses single-child booleans —
      // BooleanSingleChildOptimizationQueryNodeProcessor); this also
      // keeps `a AND b` ≡ `+a +b` structurally
      case BoolQuery(Nil, Seq(b: BoolQuery), Nil, Nil) => b
      case top                                         => top
    }
  }

  /** Wrap in [[Boosted]] unless the boost is absent or the identity. */
  private def boostWrap(q: Query, boost: Option[Float]): Query =
    boost.filter(_ != 1.0f).map(Boosted(q, _)).getOrElse(q)

  /** Trailing `^N` boost suffix on an unquoted word (`term^2`,
    * `field:v^2`, `term~1^2` — boost binds last, after slop/fuzzy). */
  private val wordBoostRe = """^(.*[^^])\^(\d+(?:\.\d+)?)$""".r

  /** The unquoted-word path of [[parse]]: returns the occur modifier and
    * the parsed node (None when the word analyzes to nothing). */
  private def parseWord(w: String, analyze: String => Array[String],
                        keywordFields: Set[String]): Option[(Char, Query)] = {
      val (occ, rawBody0) =
        if (w.startsWith("+")) ('+', w.substring(1))
        else if (w.startsWith("-")) ('-', w.substring(1))
        else (' ', w)
      val (rawBody, boost) = rawBody0 match {
        case wordBoostRe(b, f) => (b, Some(f.toFloat))
        case _                 => (rawBody0, None)
      }
      // field-qualified? strip a `text:` prefix; keyword fields match raw
      val colon = rawBody.indexOf(':')
      val (fieldOpt, body) =
        if (colon > 0 && colon < rawBody.length - 1) {
          val f = rawBody.substring(0, colon)
          if (keywordFields.contains(f)) (Some(f), rawBody.substring(colon + 1))
          else if (f == "text") (None, rawBody.substring(colon + 1))
          else (None, rawBody)
        } else (None, rawBody)
      val node: Option[Query] = fieldOpt match {
        case Some(f) =>
          // a wildcarded value on a keyword field is a fielded wildcard,
          // not a literal equality (the reference's parser yields a
          // WildcardQuery on the field — ADVICE r2; lowercased unless the
          // field is a case-preserving .exact view)
          if (body.exists(c => c == '*' || c == '?'))
            Some(FieldWildcardQuery(f, body))
          else fuzzySuffix(body) match {
            case Some((base, edits)) => Some(FieldFuzzyQuery(f, base, edits))
            case None                => Some(FieldMatchQuery(f, body))
          }
        case None =>
          val isWildcard = body.exists(c => c == '*' || c == '?')
          if (isWildcard) Some(WildcardQuery(body))
          else fuzzySuffix(body) match {
            case Some((base, edits)) =>
              // fuzzy terms are normalized (lowercased), never analyzed —
              // Lucene applies only the normalization chain to fuzzy text
              Some(FuzzyQuery(base.toLowerCase(java.util.Locale.ROOT), edits))
            case None =>
              val terms = analyze(body)
              if (terms.isEmpty) None
              else if (terms.length == 1) Some(TermQuery(terms(0)))
              else Some(BoolQuery(should = terms.toSeq.map(TermQuery(_))))
          }
      }
      node.map(n => (occ, boostWrap(n, boost)))
  }

  /** Detect Lucene fuzzy syntax on a word: `base~` (maxEdits 2) or
    * `base~0|1|2`. A lone/leading `~` or an out-of-range suffix is not
    * fuzzy syntax (the word falls through to plain analysis, as the
    * StandardQueryParser treats an unparsable fuzzy slop). */
  private def fuzzySuffix(s: String): Option[(String, Int)] = {
    val i = s.lastIndexOf('~')
    if (i <= 0) None
    else {
      val base = s.substring(0, i)
      val suff = s.substring(i + 1)
      if (suff.isEmpty) Some((base, 2))
      else if (suff.length == 1 && suff.charAt(0) >= '0' && suff.charAt(0) <= '2')
        Some((base, suff.charAt(0) - '0'))
      else None
    }
  }
}

object Dates {
  private val fmt = DateTimeFormatter.ofPattern("yyyyMMddHHmm")

  /** Parse the reference's `yyyyMMddHHmm` GMT date-string format
    * (reference: SearchBucket.java:623-627). */
  def parseMs(s: String): Long =
    LocalDateTime.parse(s, fmt).toInstant(ZoneOffset.UTC).toEpochMilli

  /** Upper bounds get +59,999 ms so a minute-precision upper bound is
    * inclusive of its whole minute (reference: SearchBucket.java:347-357). */
  def parseUpperMs(s: String): Long = parseMs(s) + 59999L
}

/** Sort specification: list of (field, ascending); docId asc is always the
  * final tiebreak (reference: SearchBucket.java:959-992 — appends `id` asc;
  * no sort ⇒ score desc, id asc). */
final case class SortSpec(fields: Seq[(String, Boolean)]) {
  def isScore: Boolean = fields.isEmpty

  /** The sort keys before the docId tiebreak: relevance (score desc)
    * when no field is given. */
  def keys: Seq[(String, Boolean)] = if (isScore) Seq(("score", false)) else fields

  /** A search_after token's values for `keys`: its score under the
    * relevance sort, its field values otherwise. */
  def afterValues(a: AfterToken): Seq[Any] = if (isScore) a.score.toSeq else a.fields
}

/** Keyset-pagination token, mirroring the reference's search_after shape
  * {doc, score?, fields[]} (reference: Lucene.java:1544-1561). */
final case class AfterToken(docId: Long, score: Option[Float], fields: Seq[Any])

/** fields[]-style joined-entity fetch option (reference: the `fields`
  * request array parse, SearchBucket.java:755-778; ≤100 joined documents
  * returned inline per hit, Lucene.java:869-901): fetch related corpus
  * rows sharing the hit's `key` column value, at most `limit` per hit
  * (clamped to the reference's cap of 100), docId-ascending. */
final case class JoinFetchSpec(key: String, limit: Int = 100)

/** One joined document's stored fields (no score — the reference returns
  * joined entities unscored, Lucene.java:869-901). */
final case class JoinedDoc(
    docId: Long,
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: java.sql.Timestamp)

final case class SearchRequest(
    text: Option[String] = None,
    filter: Map[String, Seq[String]] = Map.empty, // role / tool / conv_id
    lower: Option[String] = None,                 // yyyyMMddHHmm
    upper: Option[String] = None,
    sort: SortSpec = SortSpec(Nil),
    searchAfter: Option[AfterToken] = None,
    maxResults: Int = 10,
    joinFetch: Option[JoinFetchSpec] = None)

final case class ScoredHit(
    docId: Long,
    score: Float,
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: java.sql.Timestamp)

final case class SearchResponse(
    hits: Seq[ScoredHit],
    searchAfter: Option[AfterToken],
    /** per-hit joined documents (docId → related docs), populated when the
      * request carried a [[JoinFetchSpec]] */
    joined: Map[Long, Seq[JoinedDoc]] = Map.empty)
