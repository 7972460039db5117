package graft.api

import graft.build.{Index, IndexBuilder}
import graft.analysis.{Analyzers, TextAnalyzer}
import graft.corpus.DocIds
import graft.model._
import graft.score.QueryExec
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Engine facade mirroring the reference's search service surface
  * (reference: Lucene.java:751-779 search endpoints, 956-973 facet
  * endpoint, 1411-1423 searchEntity): build/load an index over a turns
  * corpus, run text+filter searches with pagination, and compute facets.
  */
final class SearchEngine(val index: Index) {
  private val exec = new QueryExec(index)
  private val analyzer: TextAnalyzer = index.analyzer
  private val spark = index.corpus.sparkSession

  /** Translate a SearchRequest into (Query, filters). Mirrors the parse
    * stage of the reference (SearchBucket ctor, SearchBucket.java:126-153):
    * query text → boolean tree; filter map + date bounds → FILTER legs. */
  def plan(req: SearchRequest): (Query, Seq[AttrPredicate]) = {
    val q: Query = req.text.map(_.trim).filter(_.nonEmpty) match {
      case Some(t) => QueryText.parse(t, s => analyzer(s).terms,
        analyzePos = s => analyzer.positional(s))
      case None    => MatchAll
    }
    val attr = scala.collection.mutable.ArrayBuffer.empty[AttrPredicate]
    req.filter.foreach { case (f, vs) =>
      if (vs.size == 1) attr += FieldEquals(f, vs.head)
      else attr += FieldIn(f, vs)
    }
    (req.lower, req.upper) match {
      case (None, None) => ()
      case (lo, hi) =>
        attr += TsRange(
          lo.map(Dates.parseMs).getOrElse(Long.MinValue),
          hi.map(Dates.parseUpperMs).getOrElse(Long.MaxValue))
    }
    (q, attr.toSeq)
  }

  /** Top-k search; hits carry stored fields (the reference's per-hit
    * stored-field fetch by docId, Lucene.java:859, realized as one corpus
    * scan filtered to the k winning docIds — a literal set pushed to the
    * scan; no fetch when nothing matched). */
  def search(req: SearchRequest): SearchResponse = {
    val (q, filters) = plan(req)
    // Collect the ordered top-k FIRST (≤ k rows) and keep ITS row order —
    // the limited frame is already in the engine's full lexicographic sort
    // order (all sort keys + docId tiebreak); re-sorting driver-side by a
    // subset of keys would mis-order multi-field sorts and mint a wrong
    // search_after token.
    val topRows = exec.topKSorted(q, filters, req.sort, req.maxResults, req.searchAfter)
      .collect()
    // a joinFetch reads each hit's key value (column 7) from this same fetch
    val keyCol = req.joinFetch.map(spec => col(spec.key).cast("string").as("__k")).toSeq
    val fetched: Map[Long, Row] =
      if (topRows.isEmpty) Map.empty
      else index.corpus
        // not `isin`: ≤ 10 ids would compile into the generated code
        .filter(org.apache.spark.sql.GraftColumns.inSet("docId", topRows.map(_.getLong(0)).toSet))
        .select((Seq("docId", "conv_id", "turn_idx", "role", "text", "tool", "ts")
          .map(col) ++ keyCol): _*)
        .collect()
        .map(r => r.getLong(0) -> r).toMap
    val hitRows: Seq[(Float, Row)] = topRows.toSeq.flatMap(t =>
      fetched.get(t.getLong(0)).map(toFloatScore(t.get(1)) -> _))
    val hits = hitRows.map { case (score, r) =>
      ScoredHit(r.getLong(0), score, r.getString(1), r.getInt(2), r.getString(3),
        r.getString(4), Option(r.getString(5)), r.getTimestamp(6))
    }
    // after token from the last TOP row: the sort keys' values come off the
    // sorted frame itself (docId, score, sort fields…); timestamps are
    // encoded as epoch ms, the reference's token wire shape
    // (Lucene.java:1544-1561).
    val afterTok = topRows.lastOption.map(r => AfterToken(r.getLong(0),
      Option.when(req.sort.isScore)(toFloatScore(r.get(1))),
      req.sort.fields.indices.map(i => r.get(i + 2) match {
        case t: java.sql.Timestamp => t.getTime
        case v                     => v
      })))
    val joined = req.joinFetch.fold(Map.empty[Long, Seq[JoinedDoc]]) { spec =>
      joinedFor(spec, hitRows.flatMap { case (_, r) =>
        Option(r.getString(7)).map(r.getLong(0) -> _) })
    }
    SearchResponse(hits, afterTok, joined)
  }

  /** fields[]-style joined-entity fetch for the winning hits (reference:
    * SearchBucket.java:755-778 request parse; Lucene.java:869-901 returns
    * ≤100 related docs inline per hit): related corpus rows sharing each
    * hit's `key` value, ≤ limit per hit by docId asc, via the same
    * broadcast-hits + bounded-window plan as Joins.joinedFetch, started
    * from the hit fetch's key values, deduplicated on the driver. */
  private def joinedFor(spec: JoinFetchSpec,
                        hitKeys: Seq[(Long, String)]): Map[Long, Seq[JoinedDoc]] = {
    if (hitKeys.isEmpty) return Map.empty
    val cap = math.min(spec.limit, 100) // the reference's hard cap
    import spark.implicits._
    val related = graft.score.Joins.joinedFetch(
        hitKeys.map(_._2).distinct.toDF("__k"), "__k",
        index.corpus.withColumn("__k", col(spec.key).cast("string")),
        "__k", "docId", cap)
      .select(col("__k"), col("docId"), col("conv_id"), col("turn_idx"),
        col("role"), col("text"), col("tool"), col("ts"))
      .collect() // bounded: ≤ k × cap rows, the reference's inline shape
    val byKey: Map[String, Seq[JoinedDoc]] = related
      .groupBy(_.getString(0))
      .map { case (k, rs) =>
        k -> rs.sortBy(_.getLong(1)).map(r =>
          JoinedDoc(r.getLong(1), r.getString(2), r.getInt(3), r.getString(4),
            r.getString(5), Option(r.getString(6)), r.getTimestamp(7))).toSeq
      }
    hitKeys.flatMap { case (id, k) => byKey.get(k).map(id -> _) }.toMap
  }

  private def toFloatScore(v: Any): Float = v match {
    case f: Float  => f
    case d: Double => d.toFloat
    case n: Number => n.floatValue()
  }

  /** Time-limited search (reference: TimeLimitingCollector + HTTP 504,
    * Lucene.java:1467-1516, default 5 s). Spark job groups are
    * thread-local, so the group MUST be set inside the Future body on the
    * thread that actually submits the jobs — setting it on the caller's
    * thread would leave the submitted jobs ungrouped and cancelJobGroup
    * a no-op.
    *
    * Hardening (round 3): the body runs on a DEDICATED unbounded executor
    * — on the global pool a saturated queue could delay the body past the
    * timeout, making the cancel a no-op on a search that then runs
    * ungoverned — and cancellation uses cancelJobGroupAndFutureJobs, so
    * actions search() submits AFTER the cancel fires (it runs several
    * collects) are killed too, not just the in-flight job. */
  def searchWithTimeout(req: SearchRequest, timeoutSecs: Int = 5,
                        groupName: Option[String] = None): Either[String, SearchResponse] = {
    val group = groupName.getOrElse(s"graft-search-${System.nanoTime()}")
    val sc = spark.sparkContext
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val f = Future {
      sc.setJobGroup(group, "time-limited search", interruptOnCancel = true)
      try search(req)
      finally sc.clearJobGroup() // pooled thread: don't leak the group
    }(SearchEngine.timeoutExec)
    try Right(Await.result(f, timeoutSecs.seconds))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        // kills in-flight jobs AND any the still-running search submits next
        sc.cancelJobGroupAndFutureJobs(group)
        Left(s"search exceeded $timeoutSecs s") // the reference's 504
    }
  }

  /** String facets: doc counts per label of each dimension over the
    * query's matches, ordered count-desc then label, limited to maxLabels
    * (reference: Lucene.java:1334-1368; cross-partition merge is the
    * groupBy itself, FacetedDimension.java:51-62).
    *
    * Single pass over the match join for ALL dimensions — the analogue of
    * the reference counting every facet field in one collector pass
    * (Lucene.java:1383-1395): explode (dim, label) entries, ONE
    * aggregation, then a per-dim top-maxLabels window over the (tiny)
    * aggregated label table. D dimensions cost one scan, not D. */
  def facetStrings(req: SearchRequest, dimensions: Seq[String],
                   maxLabels: Int = 10): Map[String, Seq[(String, Long)]] = {
    // sparse-faceting default (reference: Lucene.java:1236, 1383-1395 —
    // a request with NO dimensions facets every facetable field)
    val dims = if (dimensions.isEmpty) facetableFields else dimensions
    if (dims.isEmpty) return Map.empty
    val rows = facetFrame(req, dims, maxLabels).collect()
    val byDim = rows.groupBy(_.getString(0))
    dims.map { dim =>
      dim -> byDim.getOrElse(dim, Array.empty)
        .map(r => (r.getString(1), r.getLong(2))).toSeq
    }.toMap
  }

  /** The facetable dimensions of this corpus: every keyword-typed stored
    * column — string columns minus the free-text body and the
    * conversation identifier (the reference's facetable-field set is the
    * FacetsConfig-registered string fields, Lucene.java:1383-1395). */
  def facetableFields: Seq[String] = {
    val excluded = Set("text", "conv_id")
    index.corpus.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType
        && !excluded(f.name) => f.name
    }.toSeq
  }

  /** The corpus rows of the request's matches — the one frame every facet
    * counts over. */
  private def matchedDocs(req: SearchRequest): DataFrame = {
    val (q, filters) = plan(req)
    index.corpus.join(exec.matches(q, filters).select("docId"), "docId")
  }

  /** The single-pass facet frame: (dim, label, doc_count), ≤ maxLabels
    * rows per dim. Exposed for plan assertions. */
  private[graft] def facetFrame(req: SearchRequest, dimensions: Seq[String],
                                maxLabels: Int): DataFrame = {
    require(dimensions.nonEmpty, "facetFrame needs at least one dimension")
    val entries = array(dimensions.map(d =>
      struct(lit(d).as("dim"), col(d).cast("string").as("label"))): _*)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("dim"))
      .orderBy(col("doc_count").desc, col("label").asc)
    matchedDocs(req)
      .select(explode(entries).as("e"))
      .select(col("e.dim").as("dim"), col("e.label").as("label"))
      .filter(col("label").isNotNull)
      .groupBy(col("dim"), col("label")).agg(count(lit(1)).as("doc_count"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxLabels)
      .drop("__rn")
      .orderBy(col("dim").asc, col("doc_count").desc, col("label").asc)
  }

  /** Range facets on a numeric/timestamp expression: [from, to) buckets
    * (reference: lower-inclusive upper-exclusive LongRange,
    * Lucene.java:1292-1318). Single pass: one conditional-sum aggregate
    * per range inside ONE aggregation over ONE scan of the match join —
    * overlapping ranges double-count exactly as Lucene's per-range
    * counters do, but without launching a Spark job per bucket. */
  def facetRanges(req: SearchRequest, field: String,
                  ranges: Seq[(String, Long, Long)]): Seq[(String, Long)] = {
    if (ranges.isEmpty) return Nil
    val valueCol = field match {
      case "ts" => col("ts").cast("double") * 1000.0 // epoch ms
      case f    => col(f).cast("double")
    }
    val aggs = ranges.map { case (_, lo, hi) =>
      sum(when(valueCol >= lo && valueCol < hi, 1L).otherwise(0L))
    }
    val row = matchedDocs(req).agg(aggs.head, aggs.tail: _*).collect()(0)
    ranges.zipWithIndex.map { case ((label, _, _), i) =>
      label -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }
  }

  /** Reference-shaped facet JSON ([[Json.renderFacets]]): the string
    * dimensions' buckets, then each range dimension's buckets in the
    * order the request listed them (the reference serializes ranges in
    * request order). */
  def facetJson(req: SearchRequest, dimensions: Seq[String], maxLabels: Int = 10,
                rangeDims: Seq[(String, Seq[(String, Long, Long)])] = Nil): String = {
    val dims = if (dimensions.isEmpty && rangeDims.nonEmpty) Map.empty[String, Seq[(String, Long)]]
               else facetStrings(req, dimensions, maxLabels)
    Json.renderFacets(dims, rangeDims.map { case (field, ranges) =>
      field -> ranges.zip(facetRanges(req, field, ranges)).map {
        case ((label, lo, hi), (_, n)) => (label, n, lo, hi)
      }
    })
  }
}

object SearchEngine {

  /** API version constant (reference: Constants.java / GET /version,
    * Lucene.java:467-476). */
  val ApiVersion = "1.0.0"

  /** Dedicated daemon executor for time-limited searches: the Future body
    * must START promptly (it sets the job group that makes cancellation
    * possible), so it cannot queue behind unrelated work on the global
    * pool. Cached threads — idle ones die after 60 s. */
  private[api] val timeoutExec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-search-timeout")
        t.setDaemon(true)
        t
      }))

  /** Build an engine from a turns dataset: assign dense docIds, build the
    * index tables. `withPositions = true` stores per-term position lists
    * so quoted-phrase queries run (Lucene proximity data). */
  def build(turns: Dataset[Turn], analyzer: TextAnalyzer = Analyzers.Icat,
            withPositions: Boolean = false): SearchEngine = {
    val corpus = DocIds.forTurns(turns)
    new SearchEngine(IndexBuilder.build(corpus, analyzer, withPositions))
  }

  def load(spark: SparkSession, dir: String): SearchEngine =
    new SearchEngine(IndexBuilder.load(spark, dir))
}
