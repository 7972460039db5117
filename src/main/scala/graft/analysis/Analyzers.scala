package graft.analysis

/** Analyzer pipelines mirroring the reference's analysis chains
  * (reference: src/main/java/org/icatproject/lucene/analyzers/IcatAnalyzer.java:34-41,
  * IcatSynonymAnalyzer.java:47-57, IcatSeparatorAnalyzer.java:13-26), built
  * from scratch on the published algorithms (UAX#29 word break, Porter).
  *
  * `positions` is the number of position-consuming tokens (Lucene's norm
  * length with its default discountOverlaps=true): synonym-injected tokens
  * share a position with the token they expand and do not add length; a
  * multi-token synonym expansion occupies max-path-length slots.
  */
final case class Analyzed(terms: Array[String], positions: Int)

/** Position-annotated analysis result: `terms` in emission order and,
  * index for index, each term's Lucene position in `pos` (stopword removal
  * leaves gaps — StopFilter accumulates positionIncrement; synonym-injected
  * tokens share the position of the token they expand). `positions` is
  * the same norm-length count as [[Analyzed.positions]] (tokens/slots
  * consumed, NOT max position — gaps don't add length, Lucene
  * discountOverlaps). */
final case class PosAnalyzed(terms: Array[String], pos: Array[Int], positions: Int)

object PosAnalyzed {
  /** Terms at positions 0, 1, 2, … — the stream of a chain with no stop or
    * synonym filter. */
  def contiguous(terms: Array[String]): PosAnalyzed =
    PosAnalyzed(terms, Array.range(0, terms.length), terms.length)
}

/** An analysis chain. Each analyzer implements only [[positional]], the
  * token stream Lucene indexes (terms with positions); the term view
  * [[apply]] is a projection of it, so the two can never disagree. */
trait TextAnalyzer extends Serializable {
  def positional(text: String): PosAnalyzed

  final def apply(text: String): Analyzed = {
    val a = positional(text)
    Analyzed(a.terms, a.positions)
  }

  /** Name used to key persisted index metadata so query-time analysis
    * always matches index-time analysis. */
  def name: String
}

object Analyzers {

  /** The 27-word stop set of the reference — Lucene's English stop words
    * minus the chemical symbols (as, at, be, in, no)
    * (reference: IcatAnalyzer.java:22-31). */
  val ScientificStopWords: Set[String] = Set(
    "a", "an", "and", "are", "but", "by", "for", "if", "into", "is",
    "it", "not", "on", "or", "such", "that", "the", "their", "then",
    "there", "these", "they", "this", "to", "was", "will", "with")

  /** EnglishPossessiveFilter: strip a trailing 's (ASCII, right-quote or
    * modifier-letter apostrophe), case-insensitive on the s. */
  def stripPossessive(tok: String): String = {
    val n = tok.length
    if (n >= 2) {
      val s = tok.charAt(n - 1)
      val ap = tok.charAt(n - 2)
      if ((s == 's' || s == 'S') && (ap == '\'' || ap == '’' || ap == 'ʼ' || ap == '＇'))
        return tok.substring(0, n - 2)
    }
    tok
  }

  @inline def lowercase(tok: String): String = tok.toLowerCase(java.util.Locale.ROOT)

  /** tokenize → possessive → lowercase → stop → Porter (IcatAnalyzer).
    * Position = RAW token index, so a removed stopword leaves a position
    * hole exactly like Lucene's StopFilter positionIncrement accumulation
    * (pinned by the reference's phrase golden `"path ? data …"`,
    * TestLucene.java:144-171). */
  def icatChain(text: String): PosAnalyzed = {
    val raw = WordBreak.tokenize(text)
    // flat arrays + cursor instead of ArrayBuffer+toArray: one allocation
    // each when nothing is a stopword (the common case), one copy otherwise
    val terms = new Array[String](raw.length)
    val pos = new Array[Int](raw.length)
    var n = 0
    var i = 0
    while (i < raw.length) {
      val t = lowercase(stripPossessive(raw(i)))
      if (!ScientificStopWords.contains(t)) { terms(n) = PorterStemmer.stem(t); pos(n) = i; n += 1 }
      i += 1
    }
    if (n == raw.length) PosAnalyzed(terms, pos, n)
    else PosAnalyzed(java.util.Arrays.copyOf(terms, n), java.util.Arrays.copyOf(pos, n), n)
  }

  /** IcatAnalyzer equivalent: full-text analysis without synonyms. */
  object Icat extends TextAnalyzer {
    val name = "icat"
    def positional(text: String): PosAnalyzed = icatChain(text)
  }

  /** IcatSynonymAnalyzer equivalent: Icat chain + post-stem synonym graph
    * injection from the bundled scientific synonym set. */
  object IcatSynonym extends TextAnalyzer {
    val name = "icat_synonym"
    // built once per JVM; SynonymSet is serializable for executor shipping
    lazy val synonyms: SynonymSet = SynonymSet.bundled(icatChain(_).terms)
    def positional(text: String): PosAnalyzed = synonyms(icatChain(text))
  }

  /** Separator analyzer (IcatSeparatorAnalyzer): split on one char, then
    * lowercase — used by the reference for path-like fields. */
  final case class Separator(sep: Char) extends TextAnalyzer {
    val name = s"sep_$sep"
    def positional(text: String): PosAnalyzed = PosAnalyzed.contiguous(
      text.split(java.util.regex.Pattern.quote(sep.toString))
        .iterator.filter(_.nonEmpty).map(lowercase).toArray)
  }

  /** PathHierarchy analyzer (Lucene PathHierarchyTokenizer defaults —
    * delimiter '/', case preserved): emits every cumulative path prefix,
    * so an exact-match query for any ancestor path hits the document.
    * Used for the reference's `location.exact` index-time view
    * (reference: Lucene.java:441-442; query side is KeywordAnalyzer,
    * DocumentMapping.java:133). */
  object PathHierarchy extends TextAnalyzer {
    val name = "path_hierarchy"
    def positional(text: String): PosAnalyzed =
      PosAnalyzed.contiguous(PathFields.hierarchyPrefixes(text))
  }

  /** Simple analyzer: lowercase, split on non-alphanumeric runs. Exactly
    * expressible in ANSI SQL (regexp_split_to_array(lower(text),
    * '[^a-z0-9]+')), used for the DuckDB-verified correctness gate. */
  object Simple extends TextAnalyzer {
    val name = "simple"
    def positional(text: String): PosAnalyzed =
      PosAnalyzed.contiguous(lowercase(text).split("[^a-z0-9]+").filter(_.nonEmpty))
  }

  def byName(n: String): TextAnalyzer = n match {
    case "icat"         => Icat
    case "icat_synonym" => IcatSynonym
    case "simple"       => Simple
    case "path_hierarchy" => PathHierarchy
    case s if s.startsWith("sep_") => Separator(s.charAt(4))
    case other => throw new IllegalArgumentException(s"unknown analyzer: $other")
  }
}
