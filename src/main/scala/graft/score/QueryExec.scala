package graft.score

import graft.build.{Index, TermDictionary}
import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Distributed boolean/BM25 query evaluation over the flat postings table.
  *
  * One recursive evaluator, `matches(q, filters, boost)` — the shape of
  * [[NaiveOracle]]'s `scoreDoc(q, d, boost)`: a `Boosted` wrapper
  * multiplies the propagated boost (outer × inner), booleans hand it to
  * their MUST/SHOULD legs, BM25 leaves fold it into their weight and
  * constant-score leaves score it. Its leaves share four building blocks:
  * `keywordLeg` (every fielded keyword query), `scoredScan` (every BM25
  * term scan), the phrase leg-join and `dictionaryExpand`.
  *
  * Plan shape (the Spark-native replacement for the reference's
  * per-shard sequential search loop, Lucene.java:1467-1516):
  *
  *   on the driver: df of every query term, and the terms of each
  *   wildcard/regexp/fuzzy rewrite, from the generation's in-memory
  *   dictionary ([[graft.build.Index.dictionary]], the reference's terms
  *   index read at query-plan time) — no Spark job
  *   → parquet scan of postings, filtered to the query's terms and the
  *   non-scoring attribute predicates (both pushed to the scan — the
  *   analogue of Occur.FILTER legs never entering scoring,
  *   SearchBucket.java:385-452)
  *   → per-term weights (float idf) from one literal map column,
  *     exploded per posting row
  *   → per-row float BM25 score (whole-stage codegen)
  *   → single hash aggregation by docId implementing the boolean algebra
  *     (sum scores; count matched MUST groups; flag MUST_NOT hits)
  *   → orderBy(score desc, docId asc).limit(k)  ⇒  TakeOrderedAndProject
  *     (per-partition top-k + driver k-way merge, exactly the reference's
  *     shard merge, Lucene.java:1506-1507, but parallel)
  *
  * One shuffle for the aggregation and no broadcast: two Spark jobs. A
  * query with no indexed term runs none. Over the dictionary's cap, term
  * lookups and rewrites fall back to pushed scans of `termStats`.
  */
final class QueryExec(val index: Index, val exact: Boolean = false) {
  private val spark = index.corpus.sparkSession
  import spark.implicits._
  import QueryExec.Flat

  private val avgdlD: Double = index.stats.sumTotalTermFreq / index.stats.docCount.toDouble
  private val avgdlF: Float = avgdlD.toFloat
  private val cache: Array[Float] = Bm25.normCache(avgdlF)
  private val cacheD: Array[Double] = Bm25.normCacheExact(avgdlD)
  private val scoreType = if (exact) "double" else "float"
  private def constScore(boost: Float): Column =
    if (exact) lit(boost.toDouble) else lit(boost)

  // occur markers for the single-pass aggregation
  private val OccShould = -1
  private val OccNot = -2

  private def flatten(q: BoolQuery, boost: Float): Option[Flat] = {
    def asTerms(n: Query, b: Float): Option[Seq[(String, Float)]] = n match {
      case TermQuery(t)     => Some(Seq((t, b)))
      case Boosted(q2, b2)  => asTerms(q2, b * b2)
      case BoolQuery(Nil, sh, Nil, Nil) =>
        val ts = sh.map(asTerms(_, b))
        if (ts.forall(_.isDefined)) Some(ts.flatMap(_.get)) else None
      case _ => None
    }
    val must = q.must.map(asTerms(_, boost))
    val should = q.should.map(asTerms(_, boost))
    val mustNot = q.mustNot.map(asTerms(_, 1.0f))
    if ((must ++ should ++ mustNot).forall(_.isDefined))
      Some(Flat(must.map(_.get), should.flatMap(_.get),
        mustNot.flatMap(_.get).map(_._1)))
    else None
  }

  /** Apply FILTER predicates to a scan: predicates whose columns the scan
    * carries become pushed-down filter expressions; the rest (e.g. a
    * numeric predicate on a corpus-only column while scanning postings)
    * route through a semi-join against the filtered corpus. */
  private def applyFilters(scan: DataFrame, filters: Seq[AttrPredicate]): DataFrame = {
    if (filters.isEmpty) return scan
    val avail = scan.columns.toSet
    val (local, viaCorpus) =
      filters.partition(p => Predicates.columns(p).forall(avail.contains))
    var out = scan
    Predicates.condition(local).foreach(c => out = out.filter(c))
    Predicates.condition(viaCorpus).foreach { c =>
      out = out.join(index.corpus.filter(c).select("docId"), Seq("docId"), "left_semi")
    }
    out
  }

  /** Global (double) idf of each of `terms` the index holds; absent terms
    * have no entry. df comes from the generation's driver-side dictionary
    * (Lucene reads per-term stats at query-plan time); over its cap, from
    * ONE pushed-down `isin` scan of termStats collected to the driver. */
  private[graft] def termIdf(terms: Seq[String]): Map[String, Double] = {
    val distinct = terms.distinct
    val df: String => Option[Long] = index.dictionary match {
      case Some(d) => d.df
      case None =>
        index.termStats.filter(col("term").isin(distinct: _*))
          .select("term", "df").as[(String, Long)].collect().toMap.get
    }
    distinct.flatMap(t => df(t).map(n => t -> Bm25.idf(index.stats.docCount, n))).toMap
  }

  /** Evaluate to a frame of (docId, score: float) — matching docs only. */
  def matches(q: Query, filters: Seq[AttrPredicate] = Nil): DataFrame =
    matches(q, filters, 1.0f)

  /** The evaluator. `boost` is the propagated Lucene BoostQuery factor
    * (see [[graft.model.Boosted]]): BM25 leaves fold it into their index
    * weight, constant-score leaves score `boost` instead of 1.0. */
  private def matches(q: Query, filters: Seq[AttrPredicate], boost: Float): DataFrame = q match {
    case MatchNone =>
      if (exact) spark.emptyDataset[(Long, Double)].toDF("docId", "score")
      else spark.emptyDataset[(Long, Float)].toDF("docId", "score")
    case MatchAll =>
      applyFilters(index.corpus, filters).select(col("docId"), constScore(boost).as("score"))
    case Boosted(q2, b) =>
      matches(q2, filters, boost * b)
    case FieldMatchQuery(f, v) =>
      // keyword-field term: reference exact-field semantics,
      // SearchBucket.java:438-452; constant score as with wildcards
      keywordLeg(f, filters, boost)(_ === lit(v))
    case w: FieldWildcardQuery =>
      // case-sensitive rlike of the (conditionally lowercased) pattern
      // regex — raw keyword values are indexed unlowered, exactly the
      // reference's behavior of lowercasing the PATTERN, not the terms
      keywordLeg(w.field, filters, boost)(_.rlike(w.regex))
    case r: FieldRegexpQuery =>
      keywordLeg(r.field, filters, boost)(_.rlike(r.regex))
    case f: FieldFuzzyQuery =>
      // bounded edit distance as a scan predicate. Keyword values are
      // short, so the per-row DP is cheap; the length prefilter is
      // sargable and prunes most rows before the UDF runs.
      val okUdf = udf((v: String) => v != null &&
        graft.model.EditDistance.bounded(v, f.value, f.maxEdits, f.transpositions) >= 0)
      keywordLeg(f.field, filters, boost)(c => length(c)
        .between(lit(f.value.length - f.maxEdits), lit(f.value.length + f.maxEdits)) &&
        okUdf(c))
    case TermQuery(t) =>
      matches(BoolQuery(should = Seq(TermQuery(t))), filters, boost)
    case p: PhraseQuery =>
      phraseMatches(p, filters, boost)
    case f: FuzzyQuery =>
      fuzzyMatches(f, filters, boost)
    case w: WildcardQuery =>
      // Lucene multi-term rewrite: expand against the term dictionary,
      // constant score per matching doc
      dictionaryExpand(w.regex, filters, boost)
    case r: RegexpQuery =>
      // same CONSTANT_SCORE multi-term rewrite as wildcards, arbitrary
      // anchored regex against the term dictionary
      dictionaryExpand(r.regex, filters, boost)
    case bq: BoolQuery =>
      // Lucene BooleanQuery with ONLY prohibited clauses matches nothing:
      // the reference falls back to MatchAllDocsQuery only when the query
      // is EMPTY (SearchBucket.java:636-642), never for `-term` alone —
      // a pure-negative query has no scoring/required leg to seed from.
      if (bq.must.isEmpty && bq.should.isEmpty && bq.mustNot.nonEmpty)
        return matches(MatchNone, filters)
      val withFilters =
        if (bq.filter.nonEmpty) bq.copy(filter = Nil) else bq
      val allFilters = filters ++ bq.filter
      flatten(withFilters, boost) match {
        case Some(f) if f.mustGroups.nonEmpty || f.should.nonEmpty =>
          flatMatches(f, allFilters)
        case _ => recursiveMatches(withFilters, allFilters, boost)
      }
  }

  /** Constant-score leg over a keyword attribute column: docs whose value
    * satisfies `pred` score `boost`. An ARRAY column (a PathFields
    * `_exact` hierarchy view) matches when any element does. */
  private def keywordLeg(field: String, filters: Seq[AttrPredicate], boost: Float)(
      pred: Column => Column): DataFrame = {
    val cond = index.corpus.schema(field).dataType match {
      case _: ArrayType => exists(col(field), pred)
      case _            => pred(col(field))
    }
    applyFilters(index.corpus.filter(cond), filters)
      .select(col("docId"), constScore(boost).as("score"))
  }

  /** The BM25 term scan: postings pushed-filtered to the `weights` terms
    * and the non-scoring attribute legs; each posting row takes its
    * term's (groupId, weightF, weightD) rows from one literal map column —
    * a term listed in two groups yields two rows, as the join did — plus
    * the per-row score `tscore`. Filtering first is sound for MUST_NOT
    * terms too: a doc failing the attribute filter can never match, and
    * MUST_NOT only removes docs. */
  private def scoredScan(weights: Seq[(String, Int, Float, Double)],
                         filters: Seq[AttrPredicate]): DataFrame = {
    val byTerm = weights.groupBy(_._1).map { case (t, ws) =>
      t -> ws.map { case (_, g, wF, wD) => QueryExec.TermWeight(g, wF, wD) }
    }
    val weightsOf = typedLit(byTerm)
    applyFilters(index.postings.filter(col("term").isin(weights.map(_._1).distinct: _*)),
        filters)
      .select(col("*"), inline(weightsOf(col("term"))))
      .withColumn("tscore",
        if (exact) Bm25.scoreColExact(col("tf"), col("norm"), col("weightD"), cacheD)
        else Bm25.scoreCol(col("tf"), col("norm"), col("weightF"), cache))
  }

  /** Single-pass path: one postings scan, one aggregation. */
  private def flatMatches(f: Flat, filters: Seq[AttrPredicate]): DataFrame = {
    val termGroups: Seq[(String, Int, Float)] =
      f.mustGroups.zipWithIndex.flatMap { case (g, i) =>
        g.map { case (t, b) => (t, i, b) } } ++
        f.should.map { case (t, b) => (t, OccShould, b) } ++
        f.mustNot.map(t => (t, OccNot, 1.0f))
    if (termGroups.isEmpty) return matches(MatchAll, filters)
    val idf = termIdf(termGroups.map(_._1))
    // a MUST group without an indexed term, or no indexed term to score
    // when nothing is required, matches no doc: no scan
    def indexed(g: Seq[(String, Float)]) = g.exists(t => idf.contains(t._1))
    if (!f.mustGroups.forall(indexed) || (f.mustGroups.isEmpty && !indexed(f.should)))
      return matches(MatchNone, filters)
    // the per-term weight folds the clause boost in exactly Lucene's float
    // op order: weight = boost × (float)idf (BM25Similarity.scorer
    // receives the propagated boost); the exact/double path mirrors it so
    // the DuckDB oracle can replay `boost * ln(…)` literally
    val weights = termGroups.flatMap { case (t, g, b) =>
      idf.get(t).map(idfD => (t, g, b * idfD.toFloat, b.toDouble * idfD))
    }
    val nMust = f.mustGroups.size
    scoredScan(weights, filters)
      .groupBy(col("docId"))
      .agg(
        sum(when(col("groupId") =!= OccNot, col("tscore"))).as("scoreSum"),
        size(collect_set(when(col("groupId") >= 0, col("groupId")))).as("mustHit"),
        max(when(col("groupId") === OccNot, 1)).as("notHit"),
        max(when(col("groupId") =!= OccNot, 1)).as("anyHit"))
      .filter(col("mustHit") === nMust && col("notHit").isNull && col("anyHit") === 1)
      .select(col("docId"), col("scoreSum").cast(scoreType).as("score"))
  }

  /** (Multi-)phrase evaluation over positional postings — Lucene
    * MultiPhraseQuery semantics, exact or sloppy (see
    * [[graft.model.PhraseQuery]]); BM25 with weight = boost × Σ idf over
    * the listed terms (MultiPhraseWeight sums termStatistics per slot
    * occurrence).
    *
    * Plan: one posting-granular leg per slot, joined on docId — NO
    * position explode and no occurrence-level aggregation. A single-term
    * slot is one pruned postings scan projecting its rebased position
    * array (`pos − relPos`); a synonym-stacked slot unions its
    * alternatives' rebased positions per doc (one narrow docId
    * aggregation — stacks are rare). The attribute FILTER legs apply once,
    * on the first leg. A phrase of two hot terms touches 2×docCount rows
    * instead of Σ tf occurrence rows. Repeated-term phrases self-join the
    * same leg and overlapping occurrences count (gate bm25_phrase_rep).
    *
    * The exact freq is `size(array_intersect(...))` folded across legs
    * (array_intersect dedups, so a base counts once however many stacked
    * alternatives hit it); the sloppy freq is [[QueryExec.sloppyTfKernel]]
    * over the k rebased arrays — O(Σ tf) per doc, one Scala UDF. */
  private def phraseMatches(p: PhraseQuery, filters: Seq[AttrPredicate],
                            boost: Float): DataFrame = {
    require(index.hasPositions,
      "phrase query over an index built without positions — rebuild with withPositions = true")
    val idf = termIdf(p.slots.flatMap(_._2))
    // weight: per (slot, term) occurrence with index presence (a missing
    // term contributes nothing — its scorer would be null in Lucene)
    val sumIdfD = p.slots.iterator.flatMap(_._2).flatMap(idf.get).sum
    // a slot whose terms are ALL absent can never match — short-circuit
    if (idf.isEmpty || !p.slots.forall(_._2.exists(idf.contains)))
      return matches(MatchNone, filters)

    val legs = p.slots.zipWithIndex.map { case ((rel, ts), i) =>
      val scan0 = index.postings.filter(
        if (ts.size == 1) col("term") === ts.head else col("term").isin(ts: _*))
      val scan = if (i == 0) applyFilters(scan0, filters) else scan0
      val rebased = transform(col("positions"), x => x - lit(rel))
      if (ts.size == 1) {
        val cols = Seq(col("docId")) ++ (if (i == 0) Seq(col("norm")) else Nil) ++
          Seq(rebased.as(s"base$i"))
        scan.select(cols: _*)
      } else {
        // functions.flatten qualified: the boolean-flattening helper above
        // shadows it in this scope
        val aggs = Seq(sort_array(org.apache.spark.sql.functions.flatten(
          collect_list(rebased))).as(s"base$i")) ++
          (if (i == 0) Seq(first(col("norm")).as("norm")) else Nil)
        scan.groupBy("docId").agg(aggs.head, aggs.tail: _*)
      }
    }
    val joined = legs.reduce((a, b) => a.join(b, "docId"))
    val freq = if (p.slop > 0) {
      val slopV = p.slop
      val sloppyTf = udf((bases: Seq[Seq[Int]]) => QueryExec.sloppyTfKernel(bases, slopV))
      joined
        .select(col("docId"), col("norm"),
          sloppyTf(array(p.slots.indices.map(i => col(s"base$i")): _*)).as("tf"))
        .filter(col("tf") > 0.0)
    } else {
      val baseSet = (1 until p.slots.size).foldLeft(col("base0")) { (acc, i) =>
        array_intersect(acc, col(s"base$i"))
      }
      // a lone stacked slot repeats a base its alternatives share (`h` and
      // `hydrogen` under IcatSynonym); with ≥ 2 slots array_intersect dedups
      val bases = if (p.slots.size == 1 && p.slots.head._2.size > 1)
        array_distinct(baseSet) else baseSet
      joined
        .select(col("docId"), col("norm"), size(bases).as("tf"))
        .filter(col("tf") >= 1)
    }
    freq.select(col("docId"),
      // weight = boost × Σidf — MultiPhraseWeight under a propagated
      // boost (1.0f × x ≡ x, so the unboosted path is bit-unchanged)
      (if (exact) Bm25.scoreColExact(col("tf"), col("norm"),
        lit(boost.toDouble * sumIdfD), cacheD)
       else Bm25.scoreCol(col("tf"), col("norm"),
        lit(boost * sumIdfD.toFloat), cache))
        .as("score"))
  }

  /** Multi-term CONSTANT_SCORE rewrite: docs containing any dictionary
    * term matching the anchored regex score `boost` (wildcard + regexp).
    * The driver-side dictionary names the matching terms, and at most
    * [[QueryExec.MaxTermLiterals]] of them filter the postings scan as
    * literals (none: no scan); otherwise postings join the termStats rows
    * the regex matches. */
  private def dictionaryExpand(regex: String, filters: Seq[AttrPredicate],
                               boost: Float): DataFrame = {
    // `rlike`'s semantics: Spark's string of the pattern literal, `find`
    val re = java.util.regex.Pattern.compile(QueryExec.sparkString(regex))
    val matched = index.dictionary.map(_.entries.map(_._1).filter(re.matcher(_).find(0)).toSeq)
    val scan = matched match {
      case Some(terms) if terms.isEmpty => return matches(MatchNone, filters)
      case Some(terms) if terms.size <= QueryExec.MaxTermLiterals =>
        index.postings.filter(col("term").isin(terms: _*))
      case _ =>
        index.postings.join(index.termStats.filter(col("term").rlike(regex)).select("term"), "term")
    }
    applyFilters(scan, filters).select(col("docId")).distinct()
      .withColumn("score", constScore(boost))
  }

  /** The expansion of a fuzzy term (see [[fuzzyMatches]]): at most
    * `maxExpansions` (term, df, boost) rows by (boost desc, term asc), in
    * Spark's semantics either way — lengths in code points (`length`),
    * the query term's in UTF-16 units, terms in UTF-8 byte order. Read off
    * the driver-side dictionary; over its cap, a distributed
    * term-dictionary scan with PUSHED length/prefix prefilters (the
    * edit-distance UDF runs only on terms inside the ±maxEdits length
    * band) and a distributed top-`maxExpansions` — TakeOrderedAndProject,
    * the shape of Lucene's TopTermsRewrite priority queue. */
  private[graft] def fuzzyExpansion(f: FuzzyQuery): Seq[(String, Long, Double)] = {
    val q = f.term
    val prefix = q.substring(0, math.min(f.prefixLength, q.length))
    index.dictionary match {
      case Some(d) =>
        val p = QueryExec.sparkString(prefix)
        d.entries.flatMap { case (t, df) =>
          val n = t.codePointCount(0, t.length)
          val dist =
            if (t.startsWith(p) && math.abs(n - q.length) <= f.maxEdits)
              graft.model.EditDistance.bounded(t, q, f.maxEdits, f.transpositions)
            else -1
          Option.when(dist >= 0)((t, df, 1.0 - dist.toDouble / math.min(n, q.length).toDouble))
        }.toSeq.sorted[(String, Long, Double)] { (a, b) =>
          val c = java.lang.Double.compare(b._3, a._3)
          if (c != 0) c else TermDictionary.Utf8Order.compare(a._1, b._1)
        }.take(f.maxExpansions)
      case None =>
        val distUdf = udf((t: String) =>
          graft.model.EditDistance.bounded(t, q, f.maxEdits, f.transpositions))
        var dict = index.termStats.filter(
          length(col("term")).between(lit(q.length - f.maxEdits), lit(q.length + f.maxEdits)))
        if (prefix.nonEmpty) dict = dict.filter(col("term").startsWith(prefix))
        dict
          .withColumn("dist", distUdf(col("term")))
          .filter(col("dist") >= 0)
          .withColumn("boost",
            lit(1.0) - col("dist").cast("double") /
              least(length(col("term")), lit(q.length)).cast("double"))
          .select(col("term"), col("df"), col("boost"))
          .orderBy(col("boost").desc, col("term").asc)
          .limit(f.maxExpansions)
          .as[(String, Long, Double)].collect().toSeq
    }
  }

  /** Fuzzy term evaluation — Lucene FuzzyQuery with its default
    * TopTermsBlendedFreqScoringRewrite (see [[graft.model.FuzzyQuery]]).
    *
    * Plan: the ≤ maxExpansions expansion rows ([[fuzzyExpansion]]) →
    * blend df = max over the expansion set
    * (BlendedTermQuery.adjustFrequencies) → the BM25 term scan over the
    * expanded terms with per-row boost × BM25 and the blended idf → one
    * aggregation by docId summing matched expansions (BOOLEAN_REWRITE:
    * SHOULD clauses sum). */
  private def fuzzyMatches(f: FuzzyQuery, filters: Seq[AttrPredicate],
                           qBoost: Float): DataFrame = {
    if (f.maxEdits <= 0)
      return matches(TermQuery(f.term), filters, qBoost)
    val expansion = fuzzyExpansion(f)
    if (expansion.isEmpty) return matches(MatchNone, filters)

    val blendedDf = expansion.map(_._2).max
    val idfD = Bm25.idf(index.stats.docCount, blendedDf)
    // per-term weight = (queryBoost × expansionBoost) × idf: float×float
    // in Lucene's float path (the propagated boost multiplies the
    // per-expansion BoostQuery boost before BM25Weight sees it),
    // double×double in exact mode so the DuckDB oracle reproduces it
    val weights = expansion.map { case (t, _, boost) =>
      (t, OccShould, (qBoost * boost.toFloat) * idfD.toFloat, (qBoost.toDouble * boost) * idfD)
    }
    scoredScan(weights, filters)
      .groupBy(col("docId"))
      .agg(sum(col("tscore")).cast(scoreType).as("score"))
  }

  /** General recursive path for arbitrarily nested boolean trees: the
    * boost reaches the MUST and SHOULD legs; MUST_NOT legs are non-scoring. */
  private def recursiveMatches(bq: BoolQuery, filters: Seq[AttrPredicate],
                               boost: Float): DataFrame = {
    val mustFrames = bq.must.map(matches(_, filters, boost))
    val shouldFrames = bq.should.map(matches(_, filters, boost))

    val scoringUnion = (mustFrames ++ shouldFrames) match {
      case Nil => matches(MatchAll, filters, boost)
      case fs  => fs.reduce(_ unionAll _)
        .groupBy("docId").agg(sum(col("score")).cast(scoreType).as("score"))
    }
    // MUST semantics: doc must appear in every must frame
    val withMust = mustFrames.foldLeft(scoringUnion) { (acc, m) =>
      acc.join(m.select(col("docId").as("mdocId")).distinct(),
        col("docId") === col("mdocId"), "left_semi")
    }
    // MUST_NOT: anti join
    bq.mustNot.map(matches(_, filters, 1.0f)).foldLeft(withMust) { (acc, n) =>
      acc.join(n.select(col("docId").as("ndocId")).distinct(),
        col("docId") === col("ndocId"), "left_anti")
    }
  }

  /** Top-k by relevance, the default sort (see [[topKSorted]]). */
  def topK(q: Query, filters: Seq[AttrPredicate], k: Int,
           after: Option[AfterToken] = None): DataFrame =
    topKSorted(q, filters, SortSpec(Nil), k, after)

  /** The one top-k entry (reference: one `Sort` per search,
    * SearchBucket.java:959-992 — no sort given ⇒ score desc; search_after
    * clamp semantics SearchBucket.java:892-949). Sort keys are
    * `sort.keys` — relevance (score desc) by default, else corpus columns
    * — and docId asc is always the final tiebreak; scores are kept
    * through a field sort (populateScores, Lucene.java:1498-1500).
    * Returns (docId, score, sort fields…) limited to k — Catalyst plans
    * TakeOrderedAndProject.
    *
    * A relevance-sorted first page of a pure-should disjunction with no
    * filters routes to the WAND kernel (per-term whole-list bounds) when
    * segments exist. */
  def topKSorted(q: Query, filters: Seq[AttrPredicate], sort: SortSpec, k: Int,
                 after: Option[AfterToken] = None): DataFrame = {
    if (sort.isScore && after.isEmpty && filters.isEmpty && index.segments.isDefined) {
      pureShouldTerms(q).foreach { terms =>
        val idf = termIdf(terms)
        if (idf.isEmpty)
          return matches(MatchNone).orderBy(col("score").desc, col("docId").asc)
        return Wand.topK(index.segments.get, index.stats, idf, k,
          index.segSize, exact)
      }
    }
    val m = matches(q, filters)
    val keyed = if (sort.isScore) m else index.corpus.join(m, "docId")
    val sortCols = sort.keys.map { case (f, asc) =>
      if (asc) col(f).asc else col(f).desc
    } :+ col("docId").asc
    after.map(a => keyed.filter(afterPredicate(keyed, sort, a))).getOrElse(keyed)
      .orderBy(sortCols: _*).limit(k)
      .select((Seq(col("docId"), col("score")) ++ sort.fields.map(f => col(f._1))): _*)
  }

  /** Pure-should distinct analyzed terms, when the query is exactly that
    * shape (the WAND-routable disjunction). Duplicate terms fall through:
    * the boolean path scores a repeated clause twice, WAND would not. */
  private def pureShouldTerms(q: Query): Option[Seq[String]] = q match {
    case TermQuery(t) => Some(Seq(t))
    case BoolQuery(Nil, should, Nil, Nil) =>
      val ts = should.map { case TermQuery(t) => Some(t); case _ => None }
      if (ts.forall(_.isDefined)) {
        val terms = ts.map(_.get)
        if (terms.distinct.size == terms.size) Some(terms) else None
      } else None
    case _ => None
  }

  /** The keyset search_after predicate: rows strictly after the token in
    * the lexicographic (sort keys…, docId) order, with nulls where Spark
    * sorts them — first asc, last desc — so a null-valued field key (a
    * token value or a row's) pages like any other; `matches` scores every
    * hit, so the score key has no null term. The token's key values
    * pair with the leading keys (a token without a score pages a relevance
    * sort by docId alone). Values arrive in wire shape (timestamps as
    * epoch-millis longs, Lucene.java:1544-1561 token encoding) — each is
    * coerced to its sort column's Catalyst type, or Spark 4 rejects e.g. a
    * TIMESTAMP-vs-BIGINT comparison outright. */
  private def afterPredicate(keyed: DataFrame, sort: SortSpec, a: AfterToken): Column = {
    val keys = sort.keys.zip(sort.afterValues(a)).map { case ((f, asc), v) =>
      (col(f), coerceToColumnType(keyed.schema(f).dataType, v), v == null, asc, f != "score")
    } :+ ((col("docId"), lit(a.docId), false, true, false))
    var pred: Column = lit(false)
    var eqs: Column = lit(true)
    keys.foreach { case (c, v, isNull, asc, nullable) =>
      val beyond = (asc, isNull) match {
        case (true, false)  => Some(c > v)
        case (true, true)   => Some(c.isNotNull)
        case (false, false) => Some(if (nullable) c < v || c.isNull else c < v)
        case (false, true)  => None // nothing sorts after a null on desc
      }
      beyond.foreach(b => pred = pred || (eqs && b))
      eqs = eqs && (c <=> v)
    }
    pred
  }

  /** Coerce a wire-shaped after-token value to a sort column's type:
    * timestamps travel as epoch-millis longs (the reference's token
    * encoding), everything else casts directly. */
  private def coerceToColumnType(dt: org.apache.spark.sql.types.DataType, v: Any): Column = {
    import org.apache.spark.sql.types.TimestampType
    (dt, v) match {
      case (TimestampType, ms: Long)                => timestamp_millis(lit(ms))
      case (TimestampType, ms: java.lang.Long)      => timestamp_millis(lit(ms.longValue()))
      case (TimestampType, t: java.sql.Timestamp)   => lit(t)
      case _                                        => lit(v).cast(dt)
    }
  }
}

object QueryExec {
  /** A flattened boolean query: MUST groups (a group matches when any of
    * its terms match — the multi-token-analysis/synonym case), flat
    * SHOULD terms, flat MUST_NOT terms. Every scoring term carries its
    * cumulative boost (Lucene propagates boosts into leaf weights —
    * BooleanWeight hands its boost to every scoring sub-weight — so a
    * `Boosted` wrapper distributes multiplicatively while flattening;
    * MUST_NOT legs are non-scoring and drop boosts).
    *
    * Documented rounding deviation: flattening a nested pure-SHOULD group
    * folds its terms into ONE double-accumulated sum, whereas Lucene (and
    * the NaiveOracle) cast each nested clause's sum to float at the
    * clause boundary before the outer sum. The difference is ≤ a few ulps
    * of float and can only flip the order of score-TIES' neighbours; we
    * accept it for the single-pass plan (one aggregation instead of one
    * per nesting level). The recursive path (used whenever flattening
    * fails) matches the reference's clause-boundary rounding exactly. */
  /** Most matched terms a wildcard/regexp rewrite filters the postings
    * scan with as literals; more join a termStats scan instead. */
  val MaxTermLiterals: Int = 1024

  /** (groupId, weightF, weightD) of one query-term occurrence: the value
    * type of [[scoredScan]]'s literal weights map. */
  private final case class TermWeight(groupId: Int, weightF: Float, weightD: Double)

  /** The string Spark compares against for a string literal `s`: its
    * UTF-8 encoding decoded back (an unpaired surrogate becomes `?`). */
  private def sparkString(s: String): String =
    org.apache.spark.unsafe.types.UTF8String.fromString(s).toString

  private final case class Flat(
      mustGroups: Seq[Seq[(String, Float)]], should: Seq[(String, Float)],
      mustNot: Seq[String])

  /** Sloppy-phrase fractional frequency over the k rebased, ascending
    * position arrays of one document (slot 0 = anchors). Semantics are
    * Lucene-sloppy as documented on [[graft.model.PhraseQuery]]: per
    * anchor, each later slot contributes its NEAREST rebased occurrence
    * (ties → the earlier position), matchLength = spread of the signed
    * displacements about 0, weight 1/(1+matchLength) when ≤ slop.
    *
    * Two-pointer merge: arrays are sorted, so each slot's nearest-
    * occurrence cursor only moves forward as anchors ascend — O(Σ tf)
    * per doc where the semantically identical nested higher-order
    * `aggregate` fold this replaced was CodegenFallback (interpreted,
    * O(tf₀ × Σ tfᵢ)) and made hot-term sloppy phrases ~8× slower than
    * the exact phrase path. Accumulation order (ascending anchors, double
    * adds) matches the old fold bit-exactly. Unit-tested against a
    * brute-force rescan in PhraseSpec. */
  private[graft] def sloppyTfKernel(bases: Seq[Seq[Int]], slop: Int): Double = {
    val b0 = bases.head
    val k = bases.length
    val ptrs = new Array[Int](k - 1)
    var tf = 0.0
    var ai = 0
    while (ai < b0.length) {
      val anchor = b0(ai)
      var minD = 0
      var maxD = 0
      var i = 0
      while (i < k - 1) {
        val arr = bases(i + 1)
        var pt = ptrs(i)
        // advance while the NEXT occurrence is still below the anchor
        // (distance non-increasing there — duplicates form plateaus a
        // strict-closer rule would wrongly halt on) or strictly closer
        // (crossing above). Equal values yield equal deltas, and on a
        // below-vs-above |delta| tie the below value wins — exactly the
        // first-minimum scan of the ascending array this replaced.
        while (pt + 1 < arr.length && {
          val nxt = arr(pt + 1)
          nxt < anchor || math.abs(nxt - anchor) < math.abs(arr(pt) - anchor)
        }) pt += 1
        ptrs(i) = pt
        val d = arr(pt) - anchor
        if (d < minD) minD = d
        if (d > maxD) maxD = d
        i += 1
      }
      val ml = maxD - minD
      if (ml <= slop) tf += 1.0 / (1.0 + ml.toDouble)
      ai += 1
    }
    tf
  }
}
