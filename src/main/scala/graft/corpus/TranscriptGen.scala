package graft.corpus

import graft.model.Turn
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic (seed-42) synthetic multi-turn transcript corpus in the
  * exact input-hint shape (conv_id, turn_idx, role, text, tool, ts).
  * Generated distributed: one independent seeded RNG per conversation so
  * the corpus is identical regardless of parallelism or partitioning.
  *
  * Content (FIXTURES.md §1): ~5,000 Zipf-distributed common words
  * (exercises hot-term skew/salting), ~500 rare domain terms including
  * element names from the synonym domain, plus planted markers:
  * `needle_k` (k=0..9) in a small known subset of turns and `ambiguous`
  * with varying term frequency in docs of very different lengths
  * (exercises BM25 length normalization + norm quantization).
  */
object TranscriptGen {

  final val Seed = 42L
  final val MaxTurnsPerConv = 64

  private val commonVocabSize = 5000
  private val zipfS = 1.07

  // cumulative Zipf mass, built once per JVM (shared by executor threads)
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(commonVocabSize)(r => 1.0 / math.pow(r + 1.0, zipfS))
    val total = w.sum
    val cdf = new Array[Double](commonVocabSize)
    var acc = 0.0
    var i = 0
    while (i < commonVocabSize) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf
  }

  // the 5000 Zipf vocabulary strings, built once per JVM: formatting
  // f"w$lo%04d" per drawn word dominated generation CPU (measured ~0.9
  // µs/word at 32 cores — the generator runs untimed inside every bench
  // build subprocess, so its wall-clock still delays the run)
  private lazy val zipfWords: Array[String] =
    Array.tabulate(commonVocabSize)(i => f"w$i%04d")
  private val needles: Array[String] =
    Array.tabulate(10)(i => s"needle_$i")

  private val elements = Array(
    "hydrogen", "helium", "lithium", "beryllium", "boron", "carbon",
    "nitrogen", "oxygen", "fluorine", "neon", "sodium", "magnesium",
    "aluminum", "silicon", "phosphorus", "sulfur", "chlorine", "argon",
    "potassium", "calcium", "titanium", "chromium", "manganese", "iron",
    "cobalt", "nickel", "copper", "zinc", "gallium", "germanium")
  private val rareVocab: Array[String] =
    Array.tabulate(470)(i => f"rare_$i%03d") ++ elements
  private val tools = Array("bash", "search", "browser", "editor", "python")

  /** Mix-split so conversation streams are independent of each other. */
  private def rngFor(convIdx: Long): java.util.Random = {
    var z = Seed ^ (convIdx * 0x9e3779b97f4a7c15L)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    new java.util.Random(z ^ (z >>> 31))
  }

  def turnsPerConv(convIdx: Long): Int = 1 + rngFor(convIdx).nextInt(MaxTurnsPerConv)

  private def zipfWord(r: java.util.Random): String = {
    val u = r.nextDouble()
    var lo = 0; var hi = commonVocabSize - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (zipfCdf(mid) < u) lo = mid + 1 else hi = mid
    }
    zipfWords(lo)
  }

  /** Generate every turn of one conversation, deterministically. */
  def turnsOf(convIdx: Long): Seq[Turn] = {
    val r = rngFor(convIdx)
    val nTurns = 1 + r.nextInt(MaxTurnsPerConv)
    val convId = f"conv-$convIdx%08d"
    val baseEpochSec = 1767225600L + (convIdx % 720) * 3600 // 2026-01-01T00:00Z +
    (0 until nTurns).map { t =>
      val role =
        if (t == 0) { if (r.nextDouble() < 0.2) "system" else "user" }
        else {
          val u = r.nextDouble()
          if (u < 0.40) "user" else if (u < 0.85) "assistant" else if (u < 0.95) "tool" else "system"
        }
      val tool = if (role == "tool") Some(tools(r.nextInt(tools.length))) else None
      // doc length 20..400 tokens, with a heavy tail of short and long docs
      val len = 20 + r.nextInt(381)
      val sb = new StringBuilder(len * 8) // ≤7-char words + separators
      var i = 0
      while (i < len) {
        val u = r.nextDouble()
        val w =
          if (u < 0.90) zipfWord(r)
          else if (u < 0.99) rareVocab(r.nextInt(rareVocab.length))
          else needles(r.nextInt(10))
        if (i > 0) sb.append(' ')
        sb.append(w)
        i += 1
      }
      // `ambiguous` planted with tf 1..6 in ~8% of turns, independent of length
      if (r.nextDouble() < 0.08) {
        val tf = 1 + r.nextInt(6)
        (0 until tf).foreach(_ => sb.append(" ambiguous"))
      }
      Turn(convId, t, role, sb.toString,
        tool, new java.sql.Timestamp((baseEpochSec + t * 60L) * 1000L))
    }
  }

  /** Conversations per generation partition. ~32.5 turns/conv mean, so
    * this is ~50k turns (~25 MB of text) per task — the split size a
    * parquet reader (maxPartitionBytes) would produce for the same data.
    * Without it, spark.range defaults to core-count partitions and the
    * per-task analyze/partial-agg volume grows linearly with the corpus:
    * measured 1.5× per-turn CPU at 2.5× corpus from agg hash tables
    * outgrowing their memory share. */
  final val ConvsPerPartition = 1536L

  /** Distributed generation of `numConvs` conversations. Partitioned by
    * volume, not core count (per-conv RNG ⇒ the corpus is identical
    * under any partitioning). */
  def generate(spark: SparkSession, numConvs: Long): Dataset[Turn] = {
    import spark.implicits._
    val parts = math.max(spark.sparkContext.defaultParallelism.toLong,
                         numConvs / ConvsPerPartition + 1)
    spark.range(0L, numConvs, 1L, parts.toInt).flatMap(convIdx => turnsOf(convIdx))
  }

  /** Fixture scales from FIXTURES.md §1. */
  def tiny(spark: SparkSession): Dataset[Turn] = generate(spark, 20)
  def small(spark: SparkSession): Dataset[Turn] = generate(spark, 2000)
  def bench(spark: SparkSession): Dataset[Turn] = generate(spark, 50000)
}
