package graft.score

import graft.build.CorpusStats
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** WAND top-k over the packed segment layout — the one custom physical
  * kernel (SURVEY.md §4: Catalyst's TakeOrderedAndProject sorts every
  * match; Lucene prunes with totalHitsThreshold, Lucene.java:1490). Not
  * block-max: each term is bounded by its maximum impact over its whole
  * posting list in the segment; the `blockLast`/`blockMax` columns that
  * Segments.pack writes are not read.
  *
  * Plan: parquet scan of segments filtered to the query terms (term
  * pushdown + row-group pruning) → groupByKey(segId) → per-segment WAND
  * (this file) emitting at most k candidates per segment → global
  * TakeOrderedAndProject merge. Exactly the reference's per-shard
  * search + TopFieldDocs.merge (Lucene.java:1467-1516), but parallel
  * across segments and pruning inside each.
  *
  * Scoring is the float BM25 path (Bm25.score), so results are
  * bit-identical to QueryExec's default mode and the naive oracle.
  */
object Wand {

  /** Disjunctive (SHOULD) top-k over packed segments.
    *
    * @param segments packed layout from Segments.pack
    * @param termIdf  query terms with their global (double) idf
    */
  def topK(segments: DataFrame, stats: CorpusStats,
           termIdf: Map[String, Double], k: Int, segSize: Int = 1 << 20,
           exact: Boolean = false): DataFrame = {
    val spark = segments.sparkSession
    import spark.implicits._
    val avgdlD = stats.sumTotalTermFreq / stats.docCount.toDouble
    val cache = Bm25.normCache(avgdlD.toFloat)
    val cacheD = Bm25.normCacheExact(avgdlD)
    val terms = termIdf.keys.toSeq
    val bIdf = spark.sparkContext.broadcast(termIdf)

    val scan = segments
      .filter(col("term").isin(terms: _*))
      .select("segId", "term", "docDeltas", "tfs", "norms")

    val perSegment = scan
      .groupByKey(_.getInt(0))
      .flatMapGroups { (segId: Int, rows: Iterator[Row]) =>
        val its = rows.map { r =>
          new PostingsIterator(
            segId.toLong * segSize,
            r.getSeq[Int](2).toArray,
            r.getSeq[Int](3).toArray,
            r.getAs[Array[Byte]](4),
            bIdf.value(r.getString(1)),
            cache, cacheD, exact)
        }.toArray
        wandSegment(its, k, exact).iterator
      }
      .toDF("docId", "score")

    val ranked = perSegment.orderBy(col("score").desc, col("docId").asc).limit(k)
    if (exact) ranked
    else ranked.select(col("docId"), col("score").cast("float").as("score"))
  }

  /** Decoded posting-list cursor with skip support. */
  private[score] final class PostingsIterator(
      segBase: Long,
      deltas: Array[Int],
      val tfs: Array[Int],
      norms: Array[Byte],
      val weightD: Double,
      cache: Array[Float],
      cacheD: Array[Double],
      exact: Boolean) {
    val weightF: Float = weightD.toFloat
    val n: Int = deltas.length
    // absolute docIds (delta decode once; per-block lazy decode is the
    // disk-format optimization — in-memory arrays here are already small:
    // query terms only, one segment)
    val docs: Array[Long] = {
      val out = new Array[Long](n)
      var acc = segBase
      var i = 0
      while (i < n) {
        acc = if (i == 0) segBase + deltas(0) else acc + deltas(i)
        out(i) = acc
        i += 1
      }
      out
    }
    var pos: Int = 0
    // conservative per-term upper bound: max impact over the whole list
    // × weight, padded
    // one float-ulp-ish to stay a true bound under float rounding
    val maxScore: Double = {
      if (exact) {
        var m = 0d
        var i = 0
        while (i < n) {
          val norm = cacheD(norms(i) & 0xff)
          val s = tfs(i).toDouble / (tfs(i).toDouble + norm)
          if (s > m) m = s
          i += 1
        }
        m * weightD * (1 + 1e-12)
      } else {
        var m = 0f
        var i = 0
        while (i < n) {
          val s = Bm25.score(tfs(i), norms(i), 1.0d, cache)
          if (s > m) m = s
          i += 1
        }
        (m * weightF * 1.000002f).toDouble
      }
    }
    def exhausted: Boolean = pos >= n
    def doc: Long = docs(pos)
    def advanceTo(target: Long): Unit = {
      // galloping + binary search over the decoded ids (the on-disk
      // equivalent reads blockLast skip pointers first)
      var lo = pos
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (docs(mid) < target) lo = mid + 1 else hi = mid
      }
      pos = lo
    }
    def scoreCurrent: Double =
      if (exact) weightD * tfs(pos).toDouble / (tfs(pos).toDouble + cacheD(norms(pos) & 0xff))
      else Bm25.score(tfs(pos), norms(pos), weightD, cache).toDouble
  }

  /** Classic WAND over one segment: maintain cursors sorted by current
    * docId; pivot = first cursor where the cumulative upper bound reaches
    * the heap threshold; fully evaluate only pivot-aligned docs. */
  private[score] def wandSegment(its: Array[PostingsIterator], k: Int,
                                 exact: Boolean): Seq[(Long, Double)] = {
    // bounded min-heap on (score asc, docId desc) so the head is the
    // weakest hit; final order handled by the global sort
    implicit val ord: Ordering[(Long, Double)] =
      Ordering.by { case (id, s) => (s, -id) }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord.reverse)
    def threshold: Double = if (heap.size < k) -1d else heap.head._2

    val live = scala.collection.mutable.ArrayBuffer.from(its.filter(!_.exhausted))
    while (live.nonEmpty) {
      val sorted = live.sortBy(_.doc)
      // find pivot: smallest prefix whose UB sum can beat the threshold
      var ub = 0d
      var p = -1
      var i = 0
      while (p < 0 && i < sorted.length) {
        ub += sorted(i).maxScore
        if (ub > threshold) p = i
        i += 1
      }
      if (p < 0) return heap.dequeueAll.reverse.toSeq // nothing can qualify
      val pivotDoc = sorted(p).doc
      if (sorted(0).doc == pivotDoc) {
        // all cursors up to p are on pivotDoc (or before it on same doc):
        // fully score pivotDoc across every cursor positioned on it
        var acc = 0d
        sorted.foreach { it =>
          if (!it.exhausted && it.doc == pivotDoc) {
            acc += it.scoreCurrent
            it.pos += 1
          }
        }
        val score = if (exact) acc else acc.toFloat.toDouble
        if (heap.size < k) heap.enqueue((pivotDoc, score))
        else if (score > threshold ||
          (score == threshold && pivotDoc < heap.head._1)) {
          heap.dequeue(); heap.enqueue((pivotDoc, score))
        }
      } else {
        // advance the leading cursors to the pivot
        var j = 0
        while (j < p) { sorted(j).advanceTo(pivotDoc); j += 1 }
      }
      live.filterInPlace(!_.exhausted)
    }
    heap.dequeueAll.reverse.toSeq
  }
}
