package graft.score

import graft.analysis.TextAnalyzer
import graft.build.SmallFloat
import graft.model._

import scala.collection.mutable

/** Deliberately naive single-threaded reference scorer (FIXTURES.md §3):
  * full scan over an in-memory corpus, implementing Lucene 8.11 BM25
  * semantics (SmallFloat norm quantization, float per-clause scores,
  * double-accumulated sums, score-desc/docId-asc tiebreak) independently
  * of the distributed engine. The engine's top-k must be rank-identical
  * and score-equal to this oracle on every test corpus.
  *
  * It intentionally shares NO computation path with the Spark engine:
  * postings, stats and scores are recomputed here with plain Scala
  * collections.
  */
final class NaiveOracle(docs: Seq[NaiveOracle.Doc]) {
  import NaiveOracle.Doc

  // term -> docId -> tf (plain nested maps; clarity over speed)
  private val postings: Map[String, Map[Long, Int]] = {
    val m = mutable.HashMap.empty[String, mutable.HashMap[Long, Int]]
    docs.foreach { d =>
      d.terms.foreach { t =>
        val inner = m.getOrElseUpdate(t, mutable.HashMap.empty)
        inner(d.docId) = inner.getOrElse(d.docId, 0) + 1
      }
    }
    m.map { case (k, v) => k -> v.toMap }.toMap
  }

  private val docsWithTokens = docs.filter(_.terms.nonEmpty)
  val docCount: Long = docsWithTokens.size.toLong
  val sumTotalTermFreq: Long = docs.map(_.terms.length.toLong).sum
  private val avgdlF: Float = (sumTotalTermFreq / docCount.toDouble).toFloat

  private def normByte(d: Doc): Byte = SmallFloat.intToByte4(d.positions)

  def df(term: String): Long = postings.get(term).map(_.size.toLong).getOrElse(0L)

  /** Lucene 8.11 BM25 per-term score, recomputed here from the published
    * formula (same op order as BM25Scorer; see Bm25 scaladoc). `boost` is
    * the propagated query boost: weight = boost × (float)idf. */
  private def termScore(term: String, d: Doc, boost: Float): Option[Float] =
    postings.get(term).flatMap(_.get(d.docId)).map { tf =>
      val idfD = math.log(1d + (docCount - df(term) + 0.5d) / (df(term) + 0.5d))
      val weight = boost * idfD.toFloat
      val dl = SmallFloat.byte4ToInt(normByte(d)).toFloat
      val norm: Double = (1.2f * ((1 - 0.75f) + 0.75f * dl / avgdlF)).toDouble
      (weight - weight / (1d + tf.toFloat / norm)).toFloat
    }

  /** Evaluate a query against one doc: Some(score) when it matches. */
  def scoreDoc(q: Query, d: Doc): Option[Float] = scoreDoc(q, d, 1.0f)

  /** Boost-propagating evaluation — Lucene BoostQuery semantics: the
    * boost multiplies down into every scoring leaf (BooleanWeight hands
    * its boost to each sub-weight); constant-score leaves score `boost`;
    * MUST_NOT legs are non-scoring and ignore it. */
  private def scoreDoc(q: Query, d: Doc, boost: Float): Option[Float] = q match {
    case Boosted(q2, b) => scoreDoc(q2, d, boost * b)
    case MatchAll     => Some(boost)
    case MatchNone    => None
    case TermQuery(t) => termScore(t, d, boost)
    case w: WildcardQuery =>
      val re = w.regex.r
      if (d.terms.exists(t => re.findFirstIn(t).isDefined)) Some(boost) else None
    case r: RegexpQuery =>
      val re = r.regex.r
      if (d.terms.exists(t => re.findFirstIn(t).isDefined)) Some(boost) else None
    case r: FieldRegexpQuery =>
      val re = r.regex.r
      if (keyword(d, r.field).exists(v => re.findFirstIn(v).isDefined)) Some(boost) else None
    case p: PhraseQuery => phraseScore(p, d, boost)
    case f: FuzzyQuery  => fuzzyScore(f, d, boost)
    case f: FieldFuzzyQuery =>
      if (keyword(d, f.field).exists(v =>
            NaiveOracle.editDistance(v, f.value, f.transpositions) <= f.maxEdits))
        Some(boost)
      else None
    case FieldMatchQuery(f, v) =>
      if (keyword(d, f).contains(v)) Some(boost) else None
    case w: FieldWildcardQuery =>
      val re = w.regex.r
      if (keyword(d, w.field).exists(v => re.findFirstIn(v).isDefined)) Some(boost) else None
    case BoolQuery(must, should, mustNot, filter) =>
      if (!filter.forall(matchesAttr(_, d))) return None
      if (mustNot.exists(scoreDoc(_, d, 1.0f).isDefined)) return None
      val mustScores = must.map(scoreDoc(_, d, boost))
      if (mustScores.exists(_.isEmpty)) return None
      val shouldScores = should.flatMap(scoreDoc(_, d, boost))
      val all = mustScores.flatten ++ shouldScores
      if (all.isEmpty) {
        // no scoring clauses at all: a pure-FILTER query matches all, but a
        // prohibited-only query (must/should empty, mustNot nonempty)
        // matches NOTHING — Lucene BooleanQuery semantics; the reference's
        // MatchAll fallback applies only to EMPTY queries
        // (SearchBucket.java:636-642).
        if (must.isEmpty && should.isEmpty && mustNot.isEmpty) Some(boost) else None
      } else {
        var acc = 0d
        all.foreach(s => acc += s)
        Some(acc.toFloat)
      }
  }

  /** Exact MultiPhraseQuery scoring (see graft.model.PhraseQuery): count
    * base offsets where every slot has an alternative at base + relPos;
    * BM25 with tf = that count and weight = Σ idf per (slot, term) listed
    * occurrence present in the index. Naive nested loops by design.
    * Sloppy phrases are refused: scoring one as exact would blame the
    * engine for a mismatch the oracle made. */
  private def phraseScore(p: PhraseQuery, d: Doc, boost: Float): Option[Float] = {
    require(p.slop == 0,
      s"NaiveOracle scores exact phrases only; it does not model sloppy phrases (slop ${p.slop})")
    val termsAt: Map[Int, Set[String]] =
      d.terms.indices.groupBy(i => d.pos(i)).map { case (k, is) => k -> is.map(i => d.terms(i)).toSet }
    val p0 = p.slots.head._1
    // candidate bases from the first slot's matches
    val bases = d.terms.indices
      .filter(i => p.slots.head._2.contains(d.terms(i)))
      .map(i => d.pos(i))
      .distinct
    val freq = bases.count { basePos =>
      p.slots.forall { case (rp, alts) =>
        termsAt.get(basePos - p0 + rp).exists(ts => alts.exists(ts.contains))
      }
    }
    if (freq == 0) return None
    val sumIdf = p.slots.iterator.flatMap { case (_, alts) => alts }
      .map(t => df(t))
      .filter(_ > 0)
      .map(dfT => math.log(1d + (docCount - dfT + 0.5d) / (dfT + 0.5d)))
      .sum
    val weight = boost * sumIdf.toFloat
    val dl = SmallFloat.byte4ToInt(normByte(d)).toFloat
    val norm: Double = (1.2f * ((1 - 0.75f) + 0.75f * dl / avgdlF)).toDouble
    Some((weight - weight / (1d + freq.toFloat / norm)).toFloat)
  }

  /** Lucene FuzzyQuery + TopTermsBlendedFreqScoringRewrite, naively (see
    * graft.model.FuzzyQuery): full dictionary scan for terms within
    * maxEdits, top-maxExpansions by (boost desc, term asc), df blended to
    * the expansion max, score = Σ boost × BM25(tf, blended idf) over the
    * doc's matching expanded terms. */
  private def fuzzyScore(f: FuzzyQuery, d: Doc, qBoost: Float): Option[Float] = {
    if (f.maxEdits <= 0) return termScore(f.term, d, qBoost)
    val prefix = f.term.substring(0, math.min(f.prefixLength, f.term.length))
    val expansion: Seq[(String, Double)] = postings.keys.toSeq
      .filter(_.startsWith(prefix))
      .flatMap { t =>
        val ed = NaiveOracle.editDistance(t, f.term, f.transpositions)
        if (ed <= f.maxEdits)
          Some(t -> (1.0 - ed.toDouble / math.min(t.length, f.term.length)))
        else None
      }
      .sortBy { case (t, boost) => (-boost, t) }
      .take(f.maxExpansions)
    if (expansion.isEmpty) return None
    val blendedDf = expansion.map { case (t, _) => df(t) }.max
    val idfD = math.log(1d + (docCount - blendedDf + 0.5d) / (blendedDf + 0.5d))
    val dl = SmallFloat.byte4ToInt(normByte(d)).toFloat
    val norm: Double = (1.2f * ((1 - 0.75f) + 0.75f * dl / avgdlF)).toDouble
    val perTerm = expansion.flatMap { case (t, boost) =>
      postings.get(t).flatMap(_.get(d.docId)).map { tf =>
        val weight = (qBoost * boost.toFloat) * idfD.toFloat
        (weight - weight / (1d + tf.toFloat / norm)).toFloat
      }
    }
    if (perTerm.isEmpty) None
    else {
      var acc = 0d
      perTerm.foreach(s => acc += s)
      Some(acc.toFloat)
    }
  }

  /** A keyword attribute's value (None = null). */
  private def keyword(d: Doc, field: String): Option[String] = field match {
    case "role"    => Some(d.role)
    case "tool"    => d.tool
    case "conv_id" => Some(d.convId)
    case other     => sys.error(s"unknown keyword field $other")
  }

  def matchesAttr(p: AttrPredicate, d: Doc): Boolean = p match {
    case FieldEquals(f, v)      => keyword(d, f).contains(v)
    case FieldIn(f, vs)         => keyword(d, f).exists(vs.contains)
    case TsRange(lo, hi)        => d.tsMs >= lo && d.tsMs <= hi
    case NumRange(f, lo, hi, loInc, hiInc) =>
      val v: Double = f match {
        case "turn_idx" => d.turnIdx.toDouble
        case "ts"       => d.tsMs.toDouble
        case other      => sys.error(s"unknown numeric field $other")
      }
      (if (loInc) v >= lo else v > lo) && (if (hiInc) v <= hi else v < hi)
    case p: ExactOrEnclosing => sys.error(s"no range fields in transcript corpus: $p")
    case p: SiNumRange =>
      throw new UnsupportedOperationException(s"NaiveOracle does not model numeric SI fields: $p")
  }

  /** Top-k by relevance, the default sort (see [[topKSorted]]). */
  def topK(q: Query, filters: Seq[AttrPredicate], k: Int,
           after: Option[AfterToken] = None): Seq[(Long, Float)] =
    topKSorted(q, filters, Nil, k, after)

  /** Full-scan top-k: score every doc, sort, apply the keyset
    * search_after predicate, take k. The sort keys are `sort` — any corpus
    * column (reference: typed sortField doc values,
    * SearchBucket.java:959-992) — or relevance (score desc) when none is
    * given, then docId asc: the lexicographic key the engine uses.
    * None/null sorts first on asc and last on desc, matching Spark's
    * default null ordering. The token's values pair with the leading keys,
    * so a token without a score pages a relevance sort by docId alone. */
  def topKSorted(q: Query, filters: Seq[AttrPredicate],
                 sort: Seq[(String, Boolean)], k: Int,
                 after: Option[AfterToken] = None): Seq[(Long, Float)] = {
    val keys = if (sort.isEmpty) Seq(("score", false)) else sort
    def value(d: Doc, score: Float, f: String): Any = f match {
      case "score"    => score
      case "ts"       => d.tsMs
      case "turn_idx" => d.turnIdx.toLong
      case other      => keyword(d, other).orNull
    }
    // null is the smallest value (Spark: nulls first asc = nulls last desc)
    def cmp(x: Any, y: Any): Int = (x, y) match {
      case (null, null)           => 0
      case (null, _)              => -1
      case (_, null)              => 1
      case (a: Float, b: Number)  => java.lang.Float.compare(a, b.floatValue)
      case (a: Long, b: Number)   => java.lang.Long.compare(a, b.longValue)
      case (a: String, b: String) => a.compareTo(b)
      case _ => sys.error(s"incomparable sort values $x and $y")
    }
    // the order of (values, docId) keys: < 0 when `x` sorts first
    def order(x: Seq[Any], xId: Long, y: Seq[Any], yId: Long): Int =
      keys.iterator.zip(x.iterator.zip(y.iterator))
        .map { case ((_, asc), (a, b)) => if (asc) cmp(a, b) else -cmp(a, b) }
        .find(_ != 0).getOrElse(java.lang.Long.compare(xId, yId))
    val hits = docs.flatMap { d =>
      if (!filters.forall(matchesAttr(_, d))) None
      else scoreDoc(q, d).map(s => (d.docId, s, keys.map(f => value(d, s, f._1))))
    }
    val sorted = hits.sortWith { case ((i, _, x), (j, _, y)) => order(x, i, y, j) < 0 }
    val paged = after.fold(sorted) { a =>
      val vs = if (sort.isEmpty) a.score.toSeq else a.fields
      sorted.filter { case (id, _, x) => order(x, id, vs, a.docId) > 0 }
    }
    paged.take(k).map { case (id, s, _) => (id, s) }
  }
}

object NaiveOracle {

  /** Unbounded optimal-string-alignment (or plain Levenshtein) distance —
    * full (n+1)×(m+1) matrix, deliberately independent of the engine's
    * banded early-exit implementation (graft.model.EditDistance). */
  def editDistance(a: String, b: String, transpositions: Boolean): Int = {
    val n = a.length; val m = b.length
    val dp = Array.ofDim[Int](n + 1, m + 1)
    for (i <- 0 to n) dp(i)(0) = i
    for (j <- 0 to m) dp(0)(j) = j
    for (i <- 1 to n; j <- 1 to m) {
      val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
      var d = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1), dp(i - 1)(j - 1) + cost)
      if (transpositions && i > 1 && j > 1 &&
          a.charAt(i - 1) == b.charAt(j - 2) && a.charAt(i - 2) == b.charAt(j - 1))
        d = math.min(d, dp(i - 2)(j - 2) + 1)
      dp(i)(j) = d
    }
    dp(n)(m)
  }

  final case class Doc(
      docId: Long, convId: String, turnIdx: Int, role: String,
      tool: Option[String], tsMs: Long, terms: Array[String], pos: Array[Int],
      positions: Int)

  def fromTurns(turns: Seq[(Long, Turn)], analyzer: TextAnalyzer): NaiveOracle =
    new NaiveOracle(turns.map { case (id, t) =>
      val a = analyzer.positional(t.text)
      Doc(id, t.conv_id, t.turn_idx, t.role, t.tool, t.ts.getTime, a.terms, a.pos, a.positions)
    })
}
