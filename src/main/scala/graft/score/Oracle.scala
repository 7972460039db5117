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
      val value: Option[String] = r.field match {
        case "role"    => Some(d.role)
        case "tool"    => d.tool
        case "conv_id" => Some(d.convId)
        case other     => sys.error(s"unknown keyword field $other")
      }
      if (value.exists(v => re.findFirstIn(v).isDefined)) Some(boost) else None
    case p: PhraseQuery => phraseScore(p, d, boost)
    case f: FuzzyQuery  => fuzzyScore(f, d, boost)
    case f: FieldFuzzyQuery =>
      val value: Option[String] = f.field match {
        case "role"    => Some(d.role)
        case "tool"    => d.tool
        case "conv_id" => Some(d.convId)
        case other     => sys.error(s"unknown keyword field $other")
      }
      if (value.exists(v => NaiveOracle.editDistance(v, f.value, f.transpositions) <= f.maxEdits))
        Some(boost)
      else None
    case FieldMatchQuery(f, v) =>
      val m = f match {
        case "role"    => d.role == v
        case "tool"    => d.tool.contains(v)
        case "conv_id" => d.convId == v
        case other     => sys.error(s"unknown keyword field $other")
      }
      if (m) Some(boost) else None
    case w: FieldWildcardQuery =>
      val re = w.regex.r
      val value: Option[String] = w.field match {
        case "role"    => Some(d.role)
        case "tool"    => d.tool
        case "conv_id" => Some(d.convId)
        case other     => sys.error(s"unknown keyword field $other")
      }
      if (value.exists(v => re.findFirstIn(v).isDefined)) Some(boost) else None
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

  def matchesAttr(p: AttrPredicate, d: Doc): Boolean = p match {
    case FieldEquals("role", v) => d.role == v
    case FieldEquals("tool", v) => d.tool.contains(v)
    case FieldEquals("conv_id", v) => d.convId == v
    case FieldEquals(f, _)      => sys.error(s"unknown field $f")
    case FieldIn("role", vs)    => vs.contains(d.role)
    case FieldIn("tool", vs)    => d.tool.exists(vs.contains)
    case FieldIn("conv_id", vs) => vs.contains(d.convId)
    case FieldIn(f, _)          => sys.error(s"unknown field $f")
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

  /** Full-scan top-k: score every doc, sort (score desc, docId asc),
    * apply the keyset search_after predicate, take k. A token without a
    * score keeps the docs after its docId, whatever their score. */
  def topK(q: Query, filters: Seq[AttrPredicate], k: Int,
           after: Option[AfterToken] = None): Seq[(Long, Float)] = {
    val hits = docs.flatMap { d =>
      if (!filters.forall(matchesAttr(_, d))) None
      else scoreDoc(q, d).map(s => (d.docId, s))
    }
    val sorted = hits.sortBy { case (id, s) => (-s, id) }
    val paged = after match {
      case Some(a) =>
        sorted.filter { case (id, sc) =>
          a.score match {
            case Some(s) => sc < s || (sc == s && id > a.docId)
            case None    => id > a.docId
          }
        }
      case None => sorted
    }
    paged.take(k)
  }

  /** Field-sorted top-k over matching docs, any corpus column as a sort
    * key (reference: typed sortField doc values, SearchBucket.java:959-992)
    * with optional keyset pagination over the same lexicographic
    * (fields..., docId) key the engine uses. None/null sorts first on asc
    * and last on desc, matching Spark's default null ordering. */
  def topKSorted(q: Query, filters: Seq[AttrPredicate],
                 sort: Seq[(String, Boolean)], k: Int,
                 after: Option[AfterToken] = None): Seq[(Long, Float)] = {
    val hits = docs.flatMap { d =>
      if (!filters.forall(matchesAttr(_, d))) None
      else scoreDoc(q, d).map(s => (d, s))
    }
    // per-field compare with None as the smallest value (Spark: nulls
    // first asc = nulls last desc = reverse of the same total order)
    def cmpField(f: String, d1: Doc, d2: Doc): Int = f match {
      case "ts"       => java.lang.Long.compare(d1.tsMs, d2.tsMs)
      case "turn_idx" => Integer.compare(d1.turnIdx, d2.turnIdx)
      case "role"     => d1.role.compareTo(d2.role)
      case "conv_id"  => d1.convId.compareTo(d2.convId)
      case "tool"     => (d1.tool, d2.tool) match {
        case (None, None) => 0
        case (None, _)    => -1
        case (_, None)    => 1
        case (Some(a), Some(b)) => a.compareTo(b)
      }
      case other => sys.error(s"unsupported sort field $other")
    }
    def lessThan(d1: Doc, d2: Doc): Boolean = {
      sort.foreach { case (f, asc) =>
        val c = cmpField(f, d1, d2)
        if (c != 0) return if (asc) c < 0 else c > 0
      }
      d1.docId < d2.docId
    }
    def fieldValue(d: Doc, f: String): Any = f match {
      case "ts"       => d.tsMs
      case "turn_idx" => d.turnIdx
      case "role"     => d.role
      case "conv_id"  => d.convId
      case "tool"     => d.tool.orNull
      case other      => sys.error(s"unsupported sort field $other")
    }
    // keyset: keep docs strictly after the token in the total order
    def afterPred(d: Doc, a: AfterToken): Boolean = {
      sort.zip(a.fields).foreach { case ((f, asc), av) =>
        val dv = fieldValue(d, f)
        val c = (dv, av) match {
          case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
          case (x: Int, y: Int)       => Integer.compare(x, y)
          case (x: Int, y: Long)      => java.lang.Long.compare(x.toLong, y)
          case (x: String, y: String) => x.compareTo(y)
          case (null, null)           => 0
          case (null, _)              => -1
          case (_, null)              => 1
          case _ => sys.error(s"incomparable after value $av for $f")
        }
        if (c != 0) return if (asc) c > 0 else c < 0
      }
      d.docId > a.docId
    }
    val sorted = hits.sortWith { case ((d1, _), (d2, _)) => lessThan(d1, d2) }
    val paged = after match {
      case Some(a) => sorted.filter { case (d, _) => afterPred(d, a) }
      case None    => sorted
    }
    paged.take(k).map { case (d, s) => (d.docId, s) }
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
