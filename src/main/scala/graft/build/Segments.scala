package graft.build

import graft.score.Bm25
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Packed segment layout — the Spark-native analogue of Lucene's
  * per-shard index files (reference: ShardBucket, Lucene.java:115-154;
  * shard routing 388-411). Documents are partitioned into fixed-width
  * docId ranges ("segments"); within a segment each term owns one packed
  * posting row:
  *
  *   (segId, term, docDeltas: array<int>, tfs: array<int>,
  *    norms: binary, blockLast: array<int>, blockMax: array<float>)
  *
  *  - docDeltas: segment-relative docIds, delta-encoded (first entry is
  *    docId - segBase, subsequent are gaps) — small ints that parquet
  *    bit-packs aggressively
  *  - norms: the SmallFloat length byte per posting (colocated so scoring
  *    never joins a norms table — Lucene keeps norms per segment too)
  *  - blockLast: last segment-relative docId of each 128-posting block
  *    (skip pointers: advance(target) binary-searches these)
  *  - blockMax: per-block upper bound of the idf-free BM25 impact
  *    tf/(tf + k1*(1-b+b*dlq/avgdl)) — block-max WAND metadata
  *
  * Hot terms are bounded naturally here: a term's posting row within a
  * segment holds at most segSize entries, so the Zipf head spreads across
  * segments instead of landing on one task (the groupBy key is
  * (segId, term)). Cross-segment skew of a single term is therefore
  * impossible by construction; the flat term-sorted postings table gets
  * the same protection from the salted write in IndexBuilder.save.
  */
object Segments {

  final val BlockSize = 128
  final val DefaultSegSize: Int = 1 << 20

  /** Pack flat postings (term, docId, tf, norm) into the segment layout.
    * One shuffle: groupBy(segId, term) with sorted collect. */
  def pack(postings: DataFrame, stats: CorpusStats, segSize: Int = 1 << 20): DataFrame = {
    val avgdlF = (stats.sumTotalTermFreq / stats.docCount.toDouble).toFloat
    val cache = Bm25.normCache(avgdlF)

    val packUdf = udf((segId: Int, entries: Seq[org.apache.spark.sql.Row]) => {
      // entries arrive sorted by docId (sort_array over struct sorts by
      // first field); build the packed arrays
      val n = entries.length
      val deltas = new Array[Int](n)
      val tfs = new Array[Int](n)
      val norms = new Array[Byte](n)
      val segBase = segId.toLong * segSize
      var prev = 0L
      var i = 0
      while (i < n) {
        val e = entries(i)
        val docId = e.getLong(0)
        val rel = docId - segBase
        deltas(i) = (if (i == 0) rel else docId - prev).toInt
        prev = docId
        tfs(i) = e.getInt(1)
        norms(i) = e.getByte(2)
        i += 1
      }
      val nBlocks = (n + BlockSize - 1) / BlockSize
      val blockLast = new Array[Int](nBlocks)
      val blockMax = new Array[Float](nBlocks)
      var abs = 0L
      i = 0
      while (i < n) {
        abs = if (i == 0) segBase + deltas(0) else abs + deltas(i)
        val blk = i / BlockSize
        // idf-free impact bound, float math identical to the scorer's
        val impact = Bm25.score(tfs(i), norms(i), 1.0d, cache)
        if (impact > blockMax(blk)) blockMax(blk) = impact
        blockLast(blk) = (abs - segBase).toInt
        i += 1
      }
      (deltas, tfs, norms, blockLast, blockMax)
    })

    postings
      .withColumn("segId", (col("docId") / segSize).cast("int"))
      .groupBy(col("segId"), col("term"))
      .agg(sort_array(collect_list(struct(col("docId"), col("tf"), col("norm")))).as("es"))
      .withColumn("p", packUdf(col("segId"), col("es")))
      .select(
        col("segId"), col("term"),
        col("p._1").as("docDeltas"), col("p._2").as("tfs"),
        col("p._3").as("norms"), col("p._4").as("blockLast"),
        col("p._5").as("blockMax"))
  }
}
