package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language-model scoring — the CCNet-style
  * "does this read like the reference corpus" fluency signal used to
  * quality-partition web-scale training data (Wenzek et al., CCNet,
  * LREC 2020 use a 5-gram KenLM; the pipeline shape — train token
  * statistics once, score every doc with a broadcast model — is the
  * same at any order).
  *
  * Everything is EXACT INTEGER arithmetic so the DuckDB gate replays
  * the whole train+score bit-identically (the same trade the
  * exact-integer IVF quantizer makes): per-position probabilities are
  * fixed-point longs p_fp = (S·(c12+1)) div (c1 + V + 1) with
  * S = 10^9 (add-one smoothing over the V+1-symbol vocabulary,
  * integer floor division), and the per-doc score is a LONG sum of
  * those — order-independent, unlike a floating log-prob sum, which
  * no distributed engine can reproduce deterministically. The doc
  * score `lm_mean_p` is the arithmetic mean of the per-position
  * conditional probabilities (higher = more corpus-like); a geometric
  * mean (perplexity proper) would re-introduce cross-engine log/sum
  * nondeterminism for no extra ranking power at filter time.
  *
  * Scale shape (100 TB): training is ONE shuffle — per-doc token→vid
  * mapping is in-row against the broadcast top-V vocabulary, bigram
  * keys pack into a single long v1·(V+1)+v2, and the count groupBy is
  * map-side combinable on that 8-byte key. The trained model is
  * bounded by construction: ≤ (V+1)² bigram rows regardless of corpus
  * size (V defaults to 512 → ≤ 263k entries), so it broadcasts and
  * scoring is a NARROW per-row pass — zero shuffles, no join against
  * a corpus-sized table. Fixed-point overflow: S·(c12+1) exceeds a
  * long at c12 > 9.2×10^9 occurrences of one bigram; a corpus that
  * hot needs S dropped to 10^6 (still 6 exact digits).
  */
object LanguageModel {
  import TextAnalysis.simpleToks

  /** Fixed-point probability scale (9 exact decimal digits). */
  val Scale = 1000000000L

  /** A trained bigram LM: `vocab` maps the top-V tokens (by count
    * desc, token asc) to ids 0..V-1; id V is the OOV bucket; `c12`
    * maps packed keys v1·(V+1)+v2 to bigram counts; `c1` maps v1 to
    * its total count as a bigram head (Σ_v2 c12). */
  final case class BigramLm(vocab: Map[String, Int], v: Int,
                            c12: Map[Long, Long], c1: Map[Long, Long])

  /** Train a bigram LM over the corpus. Vocabulary = the `vocabSize`
    * most frequent tokens (count desc, token asc — a deterministic
    * total order); every other token maps to the OOV symbol. The
    * top-V pick is a TakeOrdered over the unigram-count aggregation
    * (no global sort materialized), and the only corpus-sized
    * exchange is the bigram-count groupBy on packed 8-byte keys. */
  def train(df: DataFrame, vocabSize: Int = 512,
            textCol: String = "text"): BigramLm =
    trainFromTokens(Dedup.spread(df).select(simpleToks(col(textCol)).as("w")), vocabSize)

  /** [[train]] over an already-tokenized single-column ("w") frame —
    * lets [[lmScore]] tokenize the corpus once for train AND score. */
  private def trainFromTokens(wDf: DataFrame, vocabSize: Int): BigramLm = {
    require(vocabSize >= 1, s"need vocabSize >= 1; got $vocabSize")
    val w = wDf.where(size(col("w")) > 0)
    val vocab = w.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t").asc)
      .limit(vocabSize)
      .collect().zipWithIndex.map { case (r, i) => r.getString(0) -> i }.toMap
    val v = vocab.size
    val spark = wDf.sparkSession
    val bVocab = spark.sparkContext.broadcast(vocab)
    val vidPairs = udf { (ts: Seq[String]) =>
      if (ts == null || ts.length < 2) Array.empty[Long]
      else {
        val m = bVocab.value
        val ids = ts.map(t => m.getOrElse(t, v).toLong)
        val out = new Array[Long](ids.length - 1)
        var i = 0
        while (i < out.length) { out(i) = ids(i) * (v + 1) + ids(i + 1); i += 1 }
        out
      }
    }
    val c12 = w.select(explode(vidPairs(col("w"))).as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = c12.groupMapReduce { case (k, _) => k / (v + 1) } { case (_, c) => c }(_ + _)
    BigramLm(vocab, v, c12, c1)
  }

  /** Score every doc against a trained LM. Output per doc:
    * `n_tokens`, `n_oov` (tokens outside the vocabulary),
    * `oov_ratio` (round 4, null when tokenless), `n_bigrams`,
    * `lm_mean_p` (round 6: mean per-position smoothed conditional
    * probability, null when < 2 tokens). Narrow per-row pass — the
    * model rides a broadcast, no shuffle. */
  def score(df: DataFrame, lm: BigramLm, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    scoreFromTokens(Dedup.spread(df).select(col(idCol), simpleToks(col(textCol)).as("w")),
      lm, idCol)

  /** [[score]] over an already-tokenized (id, "w") frame. */
  private def scoreFromTokens(df: DataFrame, lm: BigramLm,
                              idCol: String): DataFrame = {
    val spark = df.sparkSession
    val bLm = spark.sparkContext.broadcast(lm)
    val scoreUdf = udf { (ts: Seq[String]) =>
      val m = bLm.value
      val safe = if (ts == null) Seq.empty[String] else ts
      val ids = safe.map(t => m.vocab.getOrElse(t, m.v).toLong)
      val nOov = ids.count(_ == m.v.toLong)
      var sum = 0L
      var i = 0
      while (i + 1 < ids.length) {
        val k = ids(i) * (m.v + 1) + ids(i + 1)
        val c12 = m.c12.getOrElse(k, 0L)
        val c1 = m.c1.getOrElse(ids(i), 0L)
        sum += Scale * (c12 + 1L) / (c1 + m.v + 1L)
        i += 1
      }
      (safe.length.toLong, nOov.toLong, math.max(0, safe.length - 1).toLong, sum)
    }
    df.select(col(idCol), scoreUdf(col("w")).as("s"))
      .select(
        col(idCol),
        col("s._1").as("n_tokens"),
        col("s._2").as("n_oov"),
        when(col("s._1") > 0, round(col("s._2") * lit(1.0) / col("s._1"), 4))
          .as("oov_ratio"),
        col("s._3").as("n_bigrams"),
        when(col("s._3") > 0,
          round(col("s._4") / (col("s._3") * lit(Scale.toDouble)), 6))
          .as("lm_mean_p"))
  }

  /** Train on `df` and score `df` with the resulting model (the usual
    * corpus-self-scoring quality pass). ONE persisted token frame feeds
    * vocabulary counting, bigram counting, and scoring — the corpus
    * tokenizes once, not three times (the same shared-cache shape as
    * Curation.pipeline). */
  def lmScore(df: DataFrame, vocabSize: Int = 512,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tdf = Dedup.spread(df)
      .select(col(idCol), simpleToks(col(textCol)).as("w")).persist()
    tdf.count()
    val lm = trainFromTokens(tdf.select(col("w")), vocabSize)
    val out = scoreFromTokens(tdf, lm, idCol).persist()
    out.count() // materialize before dropping the token cache
    tdf.unpersist()
    out
  }
}
