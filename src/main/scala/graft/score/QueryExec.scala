package graft.score

import graft.build.Index
import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed boolean/BM25 query evaluation over the flat postings table.
  *
  * Plan shape (the Spark-native replacement for the reference's
  * per-shard sequential search loop, Lucene.java:1467-1516):
  *
  *   parquet scan of postings, filtered to the query's terms and the
  *   non-scoring attribute predicates (both pushed to the scan — the
  *   analogue of Occur.FILTER legs never entering scoring,
  *   SearchBucket.java:385-452)
  *   → broadcast join with per-term weights (float idf)
  *   → per-row float BM25 score (whole-stage codegen)
  *   → single hash aggregation by docId implementing the boolean algebra
  *     (sum scores; count matched MUST groups; flag MUST_NOT hits)
  *   → orderBy(score desc, docId asc).limit(k)  ⇒  TakeOrderedAndProject
  *     (per-partition top-k + driver k-way merge, exactly the reference's
  *     shard merge, Lucene.java:1506-1507, but parallel)
  *
  * One shuffle for the aggregation; the top-k needs no further exchange.
  */
final class QueryExec(val index: Index, val exact: Boolean = false) {
  private val spark = index.corpus.sparkSession
  import spark.implicits._

  private val avgdlD: Double = index.stats.sumTotalTermFreq / index.stats.docCount.toDouble
  private val avgdlF: Float = avgdlD.toFloat
  private val cache: Array[Float] = Bm25.normCache(avgdlF)
  private val cacheD: Array[Double] = Bm25.normCacheExact(avgdlD)
  private val scoreType = if (exact) "double" else "float"
  private def one = if (exact) lit(1.0d) else lit(1.0f)

  // occur markers for the single-pass aggregation
  private val OccShould = -1
  private val OccNot = -2

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
  private final case class Flat(
      mustGroups: Seq[Seq[(String, Float)]], should: Seq[(String, Float)],
      mustNot: Seq[String])

  private def flatten(q: BoolQuery): Option[Flat] = {
    def asTerms(n: Query, b: Float): Option[Seq[(String, Float)]] = n match {
      case TermQuery(t)     => Some(Seq((t, b)))
      case Boosted(q2, b2)  => asTerms(q2, b * b2)
      case BoolQuery(Nil, sh, Nil, Nil) =>
        val ts = sh.map(asTerms(_, b))
        if (ts.forall(_.isDefined)) Some(ts.flatMap(_.get)) else None
      case _ => None
    }
    val must = q.must.map(asTerms(_, 1.0f))
    val should = q.should.map(asTerms(_, 1.0f))
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
    * have no entry. df is read from the termStats table in ONE pushed-down
    * `isin` scan collected to the driver (query terms are few, mirroring
    * Lucene reading per-term stats at query-plan time). */
  private[graft] def termIdf(terms: Seq[String]): Map[String, Double] = {
    val distinct = terms.distinct
    val dfMap: Map[String, Long] = index.termStats
      .filter(col("term").isin(distinct: _*))
      .select("term", "df").as[(String, Long)].collect().toMap
    distinct.flatMap(t => dfMap.get(t).map(df =>
      t -> Bm25.idf(index.stats.docCount, df))).toMap
  }

  /** Broadcast frame of (term, groupId, weightF) for the query's terms.
    * The per-term weight folds the clause boost in exactly Lucene's float
    * op order: weight = boost × (float)idf (BM25Similarity.scorer receives
    * the propagated boost); the exact/double path mirrors it so the
    * DuckDB oracle can replay `boost * ln(…)` literally. */
  private def weightsFrame(termGroups: Seq[(String, Int, Float)]): DataFrame = {
    val idf = termIdf(termGroups.map(_._1))
    val rows = termGroups.flatMap { case (t, g, b) =>
      idf.get(t).map(idfD => (t, g, b * idfD.toFloat, b.toDouble * idfD))
    }
    spark.createDataFrame(rows).toDF("term", "groupId", "weightF", "weightD")
  }

  /** Evaluate to a frame of (docId, score: float) — matching docs only. */
  def matches(q: Query, filters: Seq[AttrPredicate] = Nil): DataFrame = q match {
    case MatchNone =>
      if (exact) spark.emptyDataset[(Long, Double)].toDF("docId", "score")
      else spark.emptyDataset[(Long, Float)].toDF("docId", "score")
    case MatchAll =>
      applyFilters(index.corpus, filters).select(col("docId"), one.as("score"))
    case FieldMatchQuery(f, v) =>
      // keyword-field term: constant score 1.0 over docs whose attribute
      // equals the value (reference exact-field semantics,
      // SearchBucket.java:438-452; constant score as with wildcards). An
      // ARRAY column (a PathFields `_exact` hierarchy view) matches when
      // any prefix token equals the value, case-sensitively.
      val eqCond = index.corpus.schema(f).dataType match {
        case _: org.apache.spark.sql.types.ArrayType => array_contains(col(f), v)
        case _                                       => col(f) === lit(v)
      }
      applyFilters(index.corpus.filter(eqCond), filters)
        .select(col("docId"), one.as("score"))
    case w: FieldWildcardQuery =>
      // fielded wildcard against the attribute column: case-sensitive
      // rlike of the (conditionally lowercased) pattern regex — raw
      // keyword values are indexed unlowered, exactly the reference's
      // behavior of lowercasing the PATTERN, not the terms. An ARRAY
      // column (a PathFields `_exact` hierarchy view) matches when any
      // element does.
      val cond = index.corpus.schema(w.field).dataType match {
        case _: org.apache.spark.sql.types.ArrayType =>
          exists(col(w.field), t => t.rlike(w.regex))
        case _ => col(w.field).rlike(w.regex)
      }
      applyFilters(index.corpus.filter(cond), filters)
        .select(col("docId"), one.as("score"))
    case TermQuery(t) =>
      matches(BoolQuery(should = Seq(TermQuery(t))), filters)
    case p: PhraseQuery =>
      phraseMatches(p, filters)
    case f: FuzzyQuery =>
      fuzzyMatches(f, filters)
    case f: FieldFuzzyQuery =>
      // fielded fuzzy against the keyword attribute column: bounded edit
      // distance as a scan predicate, constant score 1.0 (the same
      // constant-score convention as fielded wildcards). Keyword values
      // are short, so the per-row DP is cheap; the length prefilter below
      // is sargable and prunes most rows before the UDF runs. An ARRAY
      // column (a PathFields `_exact` hierarchy view) matches when any
      // element is within the edit bound — same shape as the wildcard/
      // regexp/exact-match siblings.
      val okUdf = udf((v: String) => v != null &&
        graft.model.EditDistance.bounded(v, f.value, f.maxEdits, f.transpositions) >= 0)
      def lenOk(c: Column): Column = length(c)
        .between(lit(f.value.length - f.maxEdits), lit(f.value.length + f.maxEdits))
      val cond = index.corpus.schema(f.field).dataType match {
        case _: org.apache.spark.sql.types.ArrayType =>
          exists(col(f.field), v => lenOk(v) && okUdf(v))
        case _ => lenOk(col(f.field)) && okUdf(col(f.field))
      }
      applyFilters(index.corpus.filter(cond), filters)
        .select(col("docId"), one.as("score"))
    case w: WildcardQuery =>
      // Lucene multi-term rewrite: expand against the term dictionary,
      // constant score 1.0 per matching doc. The dictionary scan stays
      // distributed (semi-join postings ⟕ matched terms).
      dictionaryExpand(w.regex, filters)
    case r: RegexpQuery =>
      // same CONSTANT_SCORE multi-term rewrite as wildcards, arbitrary
      // anchored regex against the term dictionary
      dictionaryExpand(r.regex, filters)
    case r: FieldRegexpQuery =>
      // anchored regexp on a keyword attribute column, constant score
      // (array columns = PathFields hierarchy views: any element matches)
      val cond = index.corpus.schema(r.field).dataType match {
        case _: org.apache.spark.sql.types.ArrayType =>
          exists(col(r.field), t => t.rlike(r.regex))
        case _ => col(r.field).rlike(r.regex)
      }
      applyFilters(index.corpus.filter(cond), filters)
        .select(col("docId"), one.as("score"))
    case Boosted(q2, b) =>
      matchesBoosted(q2, b, filters)
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
      flatten(withFilters) match {
        case Some(f) if f.mustGroups.nonEmpty || f.should.nonEmpty =>
          flatMatches(f, allFilters)
        case _ => recursiveMatches(withFilters, allFilters)
      }
  }

  /** Boosted evaluation — Lucene BoostQuery semantics (see
    * [[graft.model.Boosted]]): the boost PROPAGATES into scoring leaves
    * (BooleanWeight passes its boost to every scoring sub-weight), so a
    * boolean distributes the factor into its must/should clauses
    * (MUST_NOT is non-scoring), a BM25 leaf folds it into the index
    * weight, and a constant-score leaf scores `boost` instead of 1.0. */
  private def matchesBoosted(q: Query, boost: Float,
                             filters: Seq[AttrPredicate]): DataFrame = {
    if (boost == 1.0f) return matches(q, filters)
    def constScore: Column = if (exact) lit(boost.toDouble) else lit(boost)
    q match {
      case Boosted(q2, b2) => matchesBoosted(q2, boost * b2, filters)
      case bq: BoolQuery =>
        matches(bq.copy(
          must = bq.must.map(Boosted(_, boost)),
          should = bq.should.map(Boosted(_, boost))), filters)
      case t: TermQuery =>
        matches(BoolQuery(should = Seq(Boosted(t, boost))), filters)
      case p: PhraseQuery => phraseMatches(p, filters, boost)
      case f: FuzzyQuery  => fuzzyMatches(f, filters, boost)
      case MatchNone      => matches(MatchNone, filters)
      case constantScored => // MatchAll / field / wildcard / regexp legs
        matches(constantScored, filters).withColumn("score", constScore)
    }
  }

  /** Single-pass path: one postings scan, one aggregation. */
  private def flatMatches(f: Flat, filters: Seq[AttrPredicate]): DataFrame = {
    val termGroups: Seq[(String, Int, Float)] =
      f.mustGroups.zipWithIndex.flatMap { case (g, i) =>
        g.map { case (t, b) => (t, i, b) } } ++
        f.should.map { case (t, b) => (t, OccShould, b) } ++
        f.mustNot.map(t => (t, OccNot, 1.0f))
    if (termGroups.isEmpty) return matches(MatchAll, filters)
    val weights = weightsFrame(termGroups)
    val nMust = f.mustGroups.size

    val allTerms = termGroups.map(_._1).distinct
    // non-scoring FILTER legs: pushed-down predicates on the denormalized
    // attribute columns — but MUST_NOT terms must still be observed on
    // excluded-attribute rows? No: a doc failing the attr filter can never
    // match, and MUST_NOT only removes docs — filtering first is sound.
    val scan = applyFilters(
      index.postings.filter(col("term").isin(allTerms: _*)), filters)

    val scored = scan
      .join(broadcast(weights), "term")
      .withColumn("tscore",
        if (exact) Bm25.scoreColExact(col("tf"), col("norm"), col("weightD"), cacheD)
        else Bm25.scoreCol(col("tf"), col("norm"), col("weightF"), cache))

    val agg = scored
      .groupBy(col("docId"))
      .agg(
        sum(when(col("groupId") =!= OccNot, col("tscore"))).as("scoreSum"),
        size(collect_set(when(col("groupId") >= 0, col("groupId")))).as("mustHit"),
        max(when(col("groupId") === OccNot, 1)).as("notHit"),
        max(when(col("groupId") =!= OccNot, 1)).as("anyHit"))

    agg
      .filter(col("mustHit") === nMust && col("notHit").isNull && col("anyHit") === 1)
      .select(col("docId"), col("scoreSum").cast(scoreType).as("score"))
  }

  /** Exact (multi-)phrase evaluation over positional postings — Lucene
    * MultiPhraseQuery semantics (see [[graft.model.PhraseQuery]]).
    *
    * Plan: postings scan pushed-filtered to the phrase's terms (plus the
    * non-scoring attribute legs) → broadcast join with the (term, slot,
    * relPos) query frame → explode position lists, base = pos − relPos →
    * ONE aggregation by (docId, base) counting distinct matched slots →
    * occurrences (all slots present) → ONE aggregation by docId for the
    * exact phrase freq → BM25 with weight = Σ idf over listed terms
    * (MultiPhraseWeight sums termStatistics per slot occurrence). Two
    * narrow-key shuffles, both partial-aggregated map-side; the scan reads
    * only the phrase's terms at 100 TB exactly like a term query. */
  private def phraseMatches(p: PhraseQuery, filters: Seq[AttrPredicate],
                            boost: Float = 1.0f): DataFrame = {
    require(index.hasPositions,
      "phrase query over an index built without positions — rebuild with withPositions = true")
    // (term, slot index, relative position) — one row per slot alternative
    val slotTerms: Seq[(String, Int, Int)] = p.slots.zipWithIndex.flatMap {
      case ((pos, ts), i) => ts.map(t => (t, i, pos))
    }
    val idf = termIdf(slotTerms.map(_._1))
    // weight: per (slot, term) occurrence with index presence (a missing
    // term contributes nothing — its scorer would be null in Lucene)
    val sumIdfD = slotTerms.iterator.flatMap { case (t, _, _) => idf.get(t) }.sum
    val nSlots = p.slots.size
    // a slot whose terms are ALL absent can never match — short-circuit
    val slotsAlive = slotTerms.groupBy(_._2).values
      .forall(_.exists { case (t, _, _) => idf.contains(t) })
    if (!slotsAlive || idf.isEmpty) return matches(MatchNone, filters)

    val freq =
      if (p.slop > 0) phraseFreqSloppy(p, filters)
      else if (p.slots.forall(_._2.size == 1)) phraseFreqFast(p, filters)
      else phraseFreqGeneral(slotTerms, nSlots, filters)
    freq.select(col("docId"),
      // weight = boost × Σidf — MultiPhraseWeight under a propagated
      // boost (1.0f × x ≡ x, so the unboosted path is bit-unchanged)
      (if (exact) Bm25.scoreColExact(col("tf"), col("norm"),
        lit(boost.toDouble * sumIdfD), cacheD)
       else Bm25.scoreCol(col("tf"), col("norm"),
        lit(boost * sumIdfD.toFloat), cache))
        .as("score"))
  }

  /** General multi-alternative-slot path (synonym stacks): explode
    * position lists to occurrence rows, count distinct matched slots per
    * (docId, base), then phrase freq per doc — two narrow-key
    * partial-aggregated shuffles. Occurrence-granular, so a phrase of
    * HOT terms explodes tf× the posting rows. */
  private def phraseFreqGeneral(slotTerms: Seq[(String, Int, Int)], nSlots: Int,
                                filters: Seq[AttrPredicate]): DataFrame = {
    val distinctTerms = slotTerms.map(_._1).distinct
    val qframe = spark.createDataFrame(slotTerms).toDF("term", "slot", "relPos")
    val scan = applyFilters(
      index.postings.filter(col("term").isin(distinctTerms: _*)), filters)
    scan
      .join(broadcast(qframe), "term")
      .select(col("docId"), col("norm"), col("slot"), col("relPos"),
        explode(col("positions")).as("pos"))
      .select(col("docId"), col("norm"), col("slot"),
        (col("pos") - col("relPos")).as("base"))
      .groupBy(col("docId"), col("base"))
      .agg(countDistinct(col("slot")).as("nslot"), first(col("norm")).as("norm"))
      .filter(col("nslot") === nSlots)
      .groupBy(col("docId"))
      .agg(count(lit(1)).cast("int").as("tf"), first(col("norm")).as("norm"))
  }

  /** Single-term-per-slot fast path (the common case — every plain
    * quoted phrase): NO position explode and NO occurrence-level
    * aggregation. Each slot is one pruned postings scan projecting its
    * rebased position array (`pos − relPos`); the k legs join on docId
    * and the phrase freq is `size(array_intersect(...))` folded across
    * legs — pure whole-stage-codegen array math over posting-granular
    * rows. A phrase of two hot terms touches 2×docCount rows instead of
    * Σ tf occurrence rows (the round-4 q_phrase fix: 2.55 s → posting
    * granular). Repeated-term phrases work unchanged: the same leg
    * self-joins and overlapping occurrences count, MultiPhrase
    * semantics (gate bm25_phrase_rep). */
  private def phraseFreqFast(p: PhraseQuery,
                             filters: Seq[AttrPredicate]): DataFrame = {
    val slots = p.slots.map { case (rel, ts) => (rel, ts.head) }
    val legs = slots.zipWithIndex.map { case ((rel, term), i) =>
      val scan0 = index.postings.filter(col("term") === term)
      // attribute FILTER legs need applying once only — the first leg
      val scan = if (i == 0) applyFilters(scan0, filters) else scan0
      val cols = Seq(col("docId")) ++ (if (i == 0) Seq(col("norm")) else Nil) ++
        Seq(transform(col("positions"), x => x - lit(rel)).as(s"base$i"))
      scan.select(cols: _*)
    }
    val joined = legs.reduce((a, b) => a.join(b, "docId"))
    val baseSet = (1 until slots.size).foldLeft(col("base0")) { (acc, i) =>
      array_intersect(acc, col(s"base$i"))
    }
    joined
      .select(col("docId"), col("norm"), size(baseSet).as("tf"))
      .filter(col("tf") >= 1)
  }

  /** Sloppy-phrase frequency (slop > 0) — semantics documented on
    * [[graft.model.PhraseQuery]]: per-anchor greedy nearest-occurrence
    * matching, matchLength = signed-displacement spread, sloppyWeight
    * 1/(1+matchLength) accumulated into a fractional freq.
    *
    * Plan: same posting-granular leg join as the exact fast path (k
    * pruned term scans joined on docId), but instead of array_intersect
    * the per-anchor fold scans each slot's rebased position array for the
    * nearest occurrence — O(anchors × Σ positions) per candidate doc,
    * pure per-row array math, no explode and no occurrence-level shuffle.
    * A synonym-stacked slot unions its alternatives' rebased positions
    * per doc first (one narrow docId aggregation per stacked slot —
    * stacks are rare). */
  private def phraseFreqSloppy(p: PhraseQuery,
                               filters: Seq[AttrPredicate]): DataFrame = {
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
    // sloppyWeight of one anchor b0: each later slot's nearest occurrence
    // (ties → the earlier position), spread about 0, gate at slop.
    //
    // Evaluated by ONE Scala UDF over the k rebased position arrays —
    // a two-pointer merge (each slot's nearest-occurrence cursor only
    // moves forward as anchors ascend), O(Σ tf) per doc. The previous
    // nested higher-order `aggregate` folds had identical semantics but
    // are CodegenFallback — interpreted per element at O(tf₀ × Σ tfᵢ),
    // which made hot-term sloppy phrases ~8× slower than the exact fast
    // path on the bench corpus. Double accumulation order (ascending
    // anchors) and the first-minimum tie rule are preserved bit-exactly.
    val slopV = p.slop
    val sloppyTf = udf((bases: Seq[Seq[Int]]) => QueryExec.sloppyTfKernel(bases, slopV))
    val baseCols = array(p.slots.indices.map(i => col(s"base$i")): _*)
    joined
      .select(col("docId"), col("norm"), sloppyTf(baseCols).as("tf"))
      .filter(col("tf") > 0.0)
  }

  /** Multi-term CONSTANT_SCORE rewrite: docs containing any dictionary
    * term matching the anchored regex, score 1.0 (wildcard + regexp). */
  private def dictionaryExpand(regex: String, filters: Seq[AttrPredicate]): DataFrame = {
    val matched = index.termStats
      .filter(col("term").rlike(regex)).select("term")
    val scan = applyFilters(index.postings.join(matched, "term"), filters)
    scan.select(col("docId")).distinct()
      .withColumn("score", one)
  }

  /** Fuzzy term evaluation — Lucene FuzzyQuery with its default
    * TopTermsBlendedFreqScoringRewrite (see [[graft.model.FuzzyQuery]]).
    *
    * Plan: distributed term-dictionary scan with PUSHED length/prefix
    * prefilters (a dictionary at 100 TB is large; the UDF edit-distance
    * runs only on terms inside the ±maxEdits length band) → distributed
    * top-`maxExpansions` by (boost desc, term asc) — TakeOrderedAndProject,
    * the same shape as Lucene's TopTermsRewrite priority queue → collect
    * the ≤50 expansion rows → blend df = max over the expansion set
    * (BlendedTermQuery.adjustFrequencies) → broadcast-join the postings
    * scan (filtered to the expanded terms, like any term query) → per-row
    * boost × BM25 with the blended idf → one aggregation by docId summing
    * matched expansions (BOOLEAN_REWRITE: SHOULD clauses sum). */
  private def fuzzyMatches(f: FuzzyQuery, filters: Seq[AttrPredicate],
                           qBoost: Float = 1.0f): DataFrame = {
    if (f.maxEdits <= 0)
      return matchesBoosted(TermQuery(f.term), qBoost, filters)
    val q = f.term
    val distUdf = udf((t: String) =>
      graft.model.EditDistance.bounded(t, q, f.maxEdits, f.transpositions))
    var dict = index.termStats.filter(
      length(col("term")).between(lit(q.length - f.maxEdits), lit(q.length + f.maxEdits)))
    val prefix = q.substring(0, math.min(f.prefixLength, q.length))
    if (prefix.nonEmpty) dict = dict.filter(col("term").startsWith(prefix))
    val expansion = dict
      .withColumn("dist", distUdf(col("term")))
      .filter(col("dist") >= 0)
      .withColumn("boost",
        lit(1.0) - col("dist").cast("double") /
          least(length(col("term")), lit(q.length)).cast("double"))
      .select(col("term"), col("df"), col("boost"))
      .orderBy(col("boost").desc, col("term").asc)
      .limit(f.maxExpansions)
      .collect()
    if (expansion.isEmpty) return matches(MatchNone, filters)

    val blendedDf = expansion.map(_.getLong(1)).max
    val idfD = Bm25.idf(index.stats.docCount, blendedDf)
    // per-term weight = (queryBoost × expansionBoost) × idf: float×float
    // in Lucene's float path (the propagated boost multiplies the
    // per-expansion BoostQuery boost before BM25Weight sees it),
    // double×double in exact mode so the DuckDB oracle reproduces it
    val rows = expansion.map { r =>
      val boost = r.getDouble(2)
      (r.getString(0), (qBoost * boost.toFloat) * idfD.toFloat,
        (qBoost.toDouble * boost) * idfD)
    }.toSeq
    val weights = spark.createDataFrame(rows).toDF("term", "weightF", "weightD")
    val terms = rows.map(_._1)
    val scan = applyFilters(
      index.postings.filter(col("term").isin(terms: _*)), filters)
    scan
      .join(broadcast(weights), "term")
      .withColumn("tscore",
        if (exact) Bm25.scoreColExact(col("tf"), col("norm"), col("weightD"), cacheD)
        else Bm25.scoreCol(col("tf"), col("norm"), col("weightF"), cache))
      .groupBy(col("docId"))
      .agg(sum(col("tscore")).cast(scoreType).as("score"))
  }

  /** General recursive path for arbitrarily nested boolean trees. */
  private def recursiveMatches(bq: BoolQuery, filters: Seq[AttrPredicate]): DataFrame = {
    def ev(q: Query): DataFrame = matches(q, filters)
    val mustFrames = bq.must.map(ev)
    val shouldFrames = bq.should.map(ev)

    val scoringUnion = (mustFrames ++ shouldFrames) match {
      case Nil => matches(MatchAll, filters)
      case fs  => fs.reduce(_ unionAll _)
        .groupBy("docId").agg(sum(col("score")).cast(scoreType).as("score"))
    }
    // MUST semantics: doc must appear in every must frame
    val withMust = mustFrames.foldLeft(scoringUnion) { (acc, m) =>
      acc.join(m.select(col("docId").as("mdocId")).distinct(),
        col("docId") === col("mdocId"), "left_semi")
    }
    // MUST_NOT: anti join
    bq.mustNot.map(ev).foldLeft(withMust) { (acc, n) =>
      acc.join(n.select(col("docId").as("ndocId")).distinct(),
        col("docId") === col("ndocId"), "left_anti")
    }
  }

  /** Top-k by (score desc, docId asc) with optional keyset pagination
    * (reference: SearchBucket.java:959-992 default sort; search_after
    * clamp semantics SearchBucket.java:892-949). Returns
    * (docId, score) limited to k — Catalyst plans TakeOrderedAndProject.  */
  def topK(q: Query, filters: Seq[AttrPredicate], k: Int,
           after: Option[AfterToken] = None): DataFrame = {
    // fast path: pure-should distinct-term queries with no filters or
    // cursor route to the block-max WAND kernel when segments exist
    if (after.isEmpty && filters.isEmpty && index.segments.isDefined) {
      pureShouldTerms(q).foreach { terms =>
        val idf = termIdf(terms)
        if (idf.isEmpty)
          return matches(MatchNone).orderBy(col("score").desc, col("docId").asc)
        return Wand.topK(index.segments.get, index.stats, idf, k,
          index.segSize, exact)
      }
    }
    var m = matches(q, filters)
    after.foreach { a =>
      a.score.foreach { s =>
        m = m.filter(col("score") < lit(s) ||
          (col("score") === lit(s) && col("docId") > lit(a.docId)))
      }
      if (a.score.isEmpty) m = m.filter(col("docId") > lit(a.docId))
    }
    m.orderBy(col("score").desc, col("docId").asc).limit(k)
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

  /** Field-sorted top-k (reference: typed sort fields via doc values,
    * SearchBucket.java:959-992): sort keys are corpus columns; docId asc
    * is always the final tiebreak; scores are kept through the sort
    * (populateScores, Lucene.java:1498-1500). */
  def topKSorted(q: Query, filters: Seq[AttrPredicate], sort: SortSpec, k: Int,
                 after: Option[AfterToken] = None): DataFrame = {
    if (sort.isScore) return topK(q, filters, k, after)
    val m = matches(q, filters)
    val joined = index.corpus.join(m, "docId")
    val sortCols = sort.fields.map { case (f, asc) =>
      if (asc) col(f).asc else col(f).desc
    } :+ col("docId").asc
    var res = joined
    after.foreach { a =>
      // lexicographic keyset predicate over (sort fields..., docId).
      // After-token values arrive in wire shape (timestamps as epoch-millis
      // longs, Lucene.java:1544-1561 token encoding) — coerce each to its
      // sort column's Catalyst type, or Spark 4 rejects e.g. a
      // TIMESTAMP-vs-BIGINT comparison outright.
      val fieldCols = sort.fields.map { case (f, _) => col(f) }
      val afterVals = sort.fields.map(_._1).zip(a.fields).map { case (f, v) =>
        coerceToColumnType(joined.schema(f).dataType, v)
      } :+ lit(a.docId)
      val allCols = fieldCols :+ col("docId")
      val ascFlags = sort.fields.map(_._2) :+ true
      var pred: Column = lit(false)
      var eqs: Column = lit(true)
      allCols.zip(afterVals).zip(ascFlags).foreach { case ((c, v), asc) =>
        val cmp = if (asc) c > v else c < v
        pred = pred || (eqs && cmp)
        eqs = eqs && (c === v)
      }
      res = res.filter(pred)
    }
    res.orderBy(sortCols: _*).limit(k)
      .select((Seq(col("docId"), col("score")) ++ sort.fields.map(f => col(f._1))): _*)
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
    * the exact fast path. Accumulation order (ascending anchors, double
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
