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
  * One boolean algebra (Lucene's one `BooleanWeight` scorer tree; the
  * Spark-native replacement for the reference's per-shard sequential
  * search loop, Lucene.java:1467-1516). Every boolean, nested or not, has
  * this plan shape:
  *
  *   on the driver: each clause sorted once into a leg tagged with its
  *   occur ([[legs]]): term legs and frame legs; df of every query term,
  *   and the terms of each wildcard/regexp/fuzzy rewrite, from the
  *   generation's in-memory dictionary ([[graft.build.Index.dictionary]],
  *   the reference's terms index read at query-plan time) — no Spark job
  *   → ONE parquet scan of postings for all term legs, filtered to their
  *   terms and the non-scoring attribute predicates (both pushed to the
  *   scan — the analogue of Occur.FILTER legs never entering scoring,
  *   SearchBucket.java:385-452)
  *   → per-term weights (float idf) from one literal map column,
  *     exploded per posting row
  *   → per-row float BM25 score (whole-stage codegen)
  *   → union with each frame leg's rows (a phrase leg-join, a keyword
  *     column scan, a multi-term rewrite, a fuzzy expansion or a nested
  *     boolean, each scored as its own clause)
  *   → ONE hash aggregation by docId implementing the boolean algebra
  *     ([[aggregate]]: sum the non-MUST_NOT scores; one flag per MUST
  *     leg; one MUST_NOT flag)
  *   → orderBy(score desc, docId asc).limit(k)  ⇒  TakeOrderedAndProject
  *     (per-partition top-k + driver k-way merge, exactly the reference's
  *     shard merge, Lucene.java:1506-1507, but parallel)
  *
  * No semi- or anti-join and no broadcast: a boolean of terms and keyword
  * fields, whatever their occur, runs two Spark jobs (the aggregation's
  * shuffle and the top-k), a search three with its stored-field fetch;
  * one phrase, fuzzy, wildcard or nested-boolean leg next to other legs
  * adds one (its own join or aggregation), and a boolean of that one leg
  * alone is that leg's frame. A query with no indexed term runs none. Over the
  * dictionary's cap, term lookups and rewrites fall back to pushed scans
  * of `termStats`.
  */
final class QueryExec(val index: Index, val exact: Boolean = false) {
  private val spark = index.corpus.sparkSession
  import spark.implicits._
  import QueryExec.{Frame, Leg, Terms}

  private val avgdlD: Double = index.stats.sumTotalTermFreq / index.stats.docCount.toDouble
  private val avgdlF: Float = avgdlD.toFloat
  private val cache: Array[Float] = Bm25.normCache(avgdlF)
  private val cacheD: Array[Double] = Bm25.normCacheExact(avgdlD)
  private val scoreType = if (exact) "double" else "float"
  private def constScore(boost: Float): Column =
    if (exact) lit(boost.toDouble) else lit(boost)

  // occur tags of a boolean's legs; a MUST leg is tagged with its index
  private val OccShould = -1
  private val OccNot = -2

  /** Sort each clause of `q` once into a leg tagged with its occur (see
    * [[QueryExec.Leg]]). A term — a `TermQuery` under any `Boosted`
    * wrappers — is a term leg; a nested pure-SHOULD group of terms is one
    * too, but only when every clause of `q` is term-shaped. Every other
    * clause is a frame. MUST and SHOULD legs carry `boost` (Lucene
    * propagates boosts into leaf weights, so a `Boosted` wrapper
    * multiplies in); MUST_NOT legs are non-scoring and carry 1. */
  private def legs(q: BoolQuery, boost: Float): Seq[Leg] = {
    def asTerms(n: Query, b: Float, groups: Boolean): Option[Seq[(String, Float)]] = n match {
      case TermQuery(t)    => Some(Seq((t, b)))
      case Boosted(q2, b2) => asTerms(q2, b * b2, groups)
      case BoolQuery(Nil, sh, Nil, Nil) if groups && sh.nonEmpty =>
        val ts = sh.map(asTerms(_, b, groups))
        Option.when(ts.forall(_.isDefined))(ts.flatMap(_.get))
      case _ => None
    }
    val clauses = q.must.zipWithIndex.map { case (c, i) => (c, i, boost) } ++
      q.should.map((_, OccShould, boost)) ++ q.mustNot.map((_, OccNot, 1.0f))
    val groups = clauses.forall { case (c, _, b) => asTerms(c, b, groups = true).isDefined }
    clauses.map { case (c, occ, b) =>
      asTerms(c, b, groups).fold[Leg](Frame(occ, c, b))(Terms(occ, _))
    }
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
      // a pure-negative query has no scoring/required leg to seed from; a
      // filter-only one matches every doc its filters admit.
      val allFilters = filters ++ bq.filter
      if (bq.must.nonEmpty || bq.should.nonEmpty) boolMatches(legs(bq, boost), allFilters)
      else if (bq.mustNot.nonEmpty) matches(MatchNone, filters)
      else matches(MatchAll, allFilters, boost)
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
    * a term listed in two groups yields two rows — and yields
    * (docId, groupId, tscore), `tscore` the per-row score. Filtering first
    * is sound for MUST_NOT terms too: a doc failing the attribute filter
    * can never match, and MUST_NOT only removes docs. */
  private def scoredScan(weights: Seq[(String, Int, Float, Double)],
                         filters: Seq[AttrPredicate]): DataFrame = {
    val byTerm = weights.groupBy(_._1).map { case (t, ws) =>
      t -> ws.map { case (_, g, wF, wD) => QueryExec.TermWeight(g, wF, wD) }
    }
    val weightsOf = typedLit(byTerm)
    applyFilters(index.postings.filter(col("term").isin(weights.map(_._1).distinct: _*)),
        filters)
      .select(col("*"), inline(weightsOf(col("term"))))
      .select(col("docId"), col("groupId"),
        (if (exact) Bm25.scoreColExact(col("tf"), col("norm"), col("weightD"), cacheD)
         else Bm25.scoreCol(col("tf"), col("norm"), col("weightF"), cache)).as("tscore"))
  }

  /** The boolean algebra: the term legs feed one [[scoredScan]], each
    * frame leg is its clause's own `matches` frame — its score cast at
    * the clause boundary, as a Lucene sub-scorer returns a float — and
    * [[aggregate]] groups their union by docId once. A lone scoring frame
    * is the boolean: its rows are already one per doc, and summing one
    * score and casting it back is the identity. */
  private def boolMatches(legs: Seq[Leg], filters: Seq[AttrPredicate]): DataFrame = {
    legs match {
      case Seq(Frame(occ, q, b)) if occ != OccNot =>
        return matches(q, filters, b).select("docId", "score")
      case _ =>
    }
    val terms = legs.flatMap {
      case Terms(occ, ts) => ts.map { case (t, b) => (t, occ, b) }
      case _: Frame       => Nil
    }
    val idf = if (terms.isEmpty) Map.empty[String, Double] else termIdf(terms.map(_._1))
    // a MUST term leg without an indexed term, or no leg left to score,
    // matches no doc: no scan
    def live(l: Leg) = l match {
      case Terms(_, ts) => ts.exists(t => idf.contains(t._1))
      case _: Frame     => true
    }
    if (!legs.filter(_.occ >= 0).forall(live) || !legs.exists(l => l.occ != OccNot && live(l)))
      return matches(MatchNone, filters)
    // the per-term weight folds the clause boost in exactly Lucene's float
    // op order: weight = boost × (float)idf (BM25Similarity.scorer
    // receives the propagated boost); the exact/double path mirrors it so
    // the DuckDB oracle can replay `boost * ln(…)` literally
    val weights = terms.flatMap { case (t, g, b) =>
      idf.get(t).map(idfD => (t, g, b * idfD.toFloat, b.toDouble * idfD))
    }
    val frames = legs.collect { case Frame(occ, q, b) =>
      matches(q, filters, b).select(col("docId"), lit(occ).as("groupId"), col("score").as("tscore"))
    }
    val rows = Option.when(weights.nonEmpty)(scoredScan(weights, filters)) ++ frames
    aggregate(rows.reduce(_ union _), legs.count(_.occ >= 0), legs.exists(_.occ == OccNot))
  }

  /** The one docId aggregation of (docId, groupId, tscore) rows — the
    * reference's one BooleanWeight pass. The score sums every row but the
    * MUST_NOT ones; a doc matches when it has a row of each of the
    * `nMust` MUST legs (flag `g<i>`, as in the `bm25_grouped` oracle SQL)
    * and, when `hasNot`, no MUST_NOT row. A doc appears only through some
    * leg's row, so one without a MUST_NOT row has a scored one. */
  private def aggregate(rows: DataFrame, nMust: Int, hasNot: Boolean): DataFrame = {
    val groupId = col("groupId")
    val score = if (hasNot) sum(when(groupId =!= OccNot, col("tscore"))) else sum(col("tscore"))
    val mustHit = (0 until nMust).map(i => max(when(groupId === i, 1)).as(s"g$i"))
    val notHit = Option.when(hasNot)(max(when(groupId === OccNot, 1)).as("notHit"))
    val agg = rows.groupBy(col("docId"))
      .agg(score.cast(scoreType).as("score"), mustHit ++ notHit: _*)
    val matched = (0 until nMust).map(i => col(s"g$i") === 1) ++
      notHit.map(_ => col("notHit").isNull)
    matched.reduceOption(_ && _).fold(agg)(agg.filter).select("docId", "score")
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
        val aggs = Seq(sort_array(flatten(collect_list(rebased))).as(s"base$i")) ++
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
    * expanded terms with per-row boost × BM25 and the blended idf → the
    * boolean [[aggregate]] of these SHOULD-only rows, summing matched
    * expansions (BOOLEAN_REWRITE: SHOULD clauses sum). */
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
    aggregate(scoredScan(weights, filters), nMust = 0, hasNot = false)
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
    * A relevance-sorted first page with no filters routes to the WAND
    * kernel (per-term whole-list bounds) when segments exist and the
    * query's legs are distinct SHOULD terms of boost 1 and nothing else:
    * the boolean path scores a repeated clause twice, WAND would not. */
  def topKSorted(q: Query, filters: Seq[AttrPredicate], sort: SortSpec, k: Int,
                 after: Option[AfterToken] = None): DataFrame = {
    if (sort.isScore && after.isEmpty && filters.isEmpty && index.segments.isDefined) {
      val ls = q match {
        case t: TermQuery                       => legs(BoolQuery(should = Seq(t)), 1.0f)
        case bq: BoolQuery if bq.filter.isEmpty => legs(bq, 1.0f)
        case _                                  => Nil
      }
      val terms = ls.collect { case Terms(OccShould, Seq((t, 1.0f))) => t }
      if (terms.nonEmpty && terms.size == ls.size && terms.distinct.size == terms.size) {
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

  /** One clause of a boolean, sorted once by `legs` and tagged with its
    * occur `occ`: a MUST clause's index, `OccShould` or `OccNot`. */
  private sealed trait Leg { def occ: Int }

  /** A clause whose (term, cumulative boost) rows feed the boolean's one
    * postings scan: a term, or a MUST/SHOULD group matching when any of
    * its terms does (the multi-token-analysis/synonym case).
    *
    * Documented rounding deviation, and exactly where it applies: a nested
    * pure-SHOULD group folds into term rows only when every clause of its
    * parent boolean is term-shaped (a term, a boosted term or such a
    * group, nested to any depth). Its terms then join ONE
    * double-accumulated sum with their siblings, whereas Lucene (and the
    * NaiveOracle) cast each nested clause's sum to float at the clause
    * boundary before the outer sum. The difference is ≤ a few ulps of
    * float and can only flip the order of score-TIES' neighbours; we
    * accept it for the single scan. Next to any [[Frame]], a nested group
    * is a frame and keeps the reference's clause-boundary rounding. */
  private final case class Terms(occ: Int, terms: Seq[(String, Float)]) extends Leg

  /** A clause evaluated as its own `matches(q, filters, boost)` frame —
    * phrase, keyword field, wildcard, regexp, fuzzy, match-all or nested
    * boolean — its score cast at the clause boundary. */
  private final case class Frame(occ: Int, q: Query, boost: Float) extends Leg

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
