package graft.score

import graft.build.SmallFloat
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Lucene-8.11-semantics BM25 scoring (k1 = 1.2, b = 0.75 — the defaults
  * the reference inherits by never configuring a Similarity; see
  * BASELINE.md). Float evaluation order mirrors Lucene's BM25Scorer:
  *
  *   idf      = ln(1 + (N - df + 0.5) / (df + 0.5))            (double)
  *   weight   = (float) idf                                     (boost=1)
  *   cache[j] = k1 * ((1-b) + b * LENGTH_TABLE[j] / avgdl)      (float ops)
  *   score    = weight - weight / (1 + freq / cache[norm])      (double, → float)
  *
  * with LENGTH_TABLE the SmallFloat-dequantized length per norm byte and
  * avgdl = (float)(sumTotalTermFreq / (double) docCount). Clause scores
  * under a boolean query are the double-accumulated sum of float clause
  * scores, cast back to float (DisjunctionSumScorer semantics).
  */
object Bm25 {
  final val K1: Float = 1.2f
  final val B: Float = 0.75f

  def idf(docCount: Long, df: Long): Double =
    math.log(1d + (docCount - df + 0.5d) / (df + 0.5d))

  /** Per-norm-byte cache of k1*(1 - b + b*dl/avgdl), float arithmetic. */
  def normCache(avgdlF: Float): Array[Float] = {
    val out = new Array[Float](256)
    var j = 0
    while (j < 256) {
      val dl = SmallFloat.byte4ToInt(j.toByte).toFloat
      out(j) = K1 * ((1 - B) + B * dl / avgdlF)
      j += 1
    }
    out
  }

  /** Scalar score — the canonical computation (used by tests/kernels). */
  def score(tf: Int, normByte: Byte, idfD: Double, cache: Array[Float]): Float = {
    val weight = idfD.toFloat
    val norm: Double = cache(normByte & 0xff).toDouble
    val freq: Float = tf.toFloat
    (weight - weight / (1d + freq / norm)).toFloat
  }

  /** Column form of `score`, same op/rounding order, codegen-friendly:
    * norm lookup via a 256-element literal array. `weightF` must be a
    * FloatType column (the per-term (float)idf). */
  def scoreCol(tf: Column, norm: Column, weightF: Column, cache: Array[Float]): Column = {
    val cacheLit = typedlit(cache)
    val normD = element_at(cacheLit, norm.cast("int").bitwiseAND(lit(255)) + lit(1)).cast("double")
    val freqF = tf.cast("float")
    (weightF.cast("double") - weightF.cast("double") / (lit(1d) + freqF.cast("double") / normD))
      .cast("float")
  }

  // ---- exact (all-double) mode: bit-reproducible in ANSI SQL, used for
  // the DuckDB-verified correctness gate. Same BM25 semantics and
  // SmallFloat length quantization; no float rounding anywhere.

  /** Per-norm-byte k1*(1-b+b*dlq/avgdl) in pure double arithmetic,
    * matching the SQL expression 1.2*(0.25 + 0.75*dlq/avgdl). */
  def normCacheExact(avgdl: Double): Array[Double] = {
    val out = new Array[Double](256)
    var j = 0
    while (j < 256) {
      val dl = SmallFloat.byte4ToInt(j.toByte).toDouble
      out(j) = 1.2 * (0.25 + 0.75 * dl / avgdl)
      j += 1
    }
    out
  }

  /** Exact score column: weight * tf / (tf + cache[norm]) in double,
    * left-associative like the SQL `w * tf / (tf + cache)`. */
  def scoreColExact(tf: Column, norm: Column, weightD: Column, cache: Array[Double]): Column = {
    val cacheLit = typedlit(cache)
    val normD = element_at(cacheLit, norm.cast("int").bitwiseAND(lit(255)) + lit(1))
    weightD * tf.cast("double") / (tf.cast("double") + normD)
  }
}
