package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language-ID heuristics, document fingerprinting.
  * All pure column expressions (whole-stage codegen, no UDF in the hot
  * path except the fingerprint hash). */
object TextAnalysis {

  /** The pipeline tokenizer (lower, non-alnum split, empties dropped) —
    * Analyzers.Simple as one column expression, so SQL oracles reproduce
    * it. Dedup, Curation and LanguageModel tokenize with it too. */
  private[pipeline] def simpleToks(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** English function words used by the stopword-ratio heuristic. */
  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

  /** Per-doc quality metrics: chars, tokens, distinct tokens, type-token
    * ratio, mean token length, alpha ratio. */
  def quality(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = simpleToks(col(textCol))
    df.select(
        col(idCol),
        length(col(textCol)).as("n_chars"),
        t.as("w"))
      .select(
        col(idCol),
        col("n_chars").cast("long").as("n_chars"),
        size(col("w")).cast("long").as("n_tokens"),
        size(array_distinct(col("w"))).cast("long").as("n_uniq"))
      .withColumn("ttr", round(col("n_uniq") * lit(1.0) / col("n_tokens"), 4))
  }

  /** Stopword ratio per doc (language-ID style heuristic feature). */
  def stopwordRatio(df: DataFrame, stopwords: Seq[String] = EnglishStopwords,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = simpleToks(col(textCol))
    val sw = typedlit(stopwords)
    df.select(col(idCol), t.as("w"))
      .select(col(idCol),
        round(size(filter(col("w"), x => array_contains(sw, x))) * lit(1.0) / size(col("w")), 4)
          .as("stop_ratio"))
  }

  /** Heuristic language ID from character/stopword signals: docs whose
    * stopword ratio clears `enThreshold` are tagged en, else unknown.
    * (A real n-gram model plugs in here; the pipeline shape — narrow map,
    * no shuffle — is what matters at scale.) */
  def langId(df: DataFrame, enThreshold: Double = 0.05,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    stopwordRatio(df, EnglishStopwords, idCol, textCol)
      .withColumn("lang_pred",
        when(col("stop_ratio") >= enThreshold, "en").otherwise("unknown"))

  /** Gopher/C4-style repetition quality signals, per doc:
    *   - `top_word` / `top_word_frac`: the most frequent token (ties →
    *     lexicographically smallest) and its share of all tokens
    *   - `top_bigram_frac`: the most frequent word 2-gram's share of all
    *     2-grams (null when the doc has < 2 tokens)
    *   - `dup_frac`: fraction of tokens that repeat an earlier one
    *     (1 − distinct/total)
    *
    * High values flag boilerplate / template / stuttering-generator text
    * for a training-data filter pass. Pure higher-order-function column
    * expressions — per-row work over the doc's own token array, NO
    * shuffle, no UDF: at 100 TB this runs as a narrow map over the scan.
    * Frequencies come from run lengths of the per-doc sorted token
    * array (sort_array + run boundaries), not a groupBy. */
  /** Run-start positions (1-based) in a SORTED array s of length n, then
    * run lengths from consecutive starts; max run = top item's count and
    * the FIRST max (array_position) is the lexicographically smallest.
    * Shared by repetitionStats and Curation.qualityFilter. */
  private[pipeline] def topRun(s: Column, n: Column): (Column, Column) = {
    val starts = filter(sequence(lit(1), n.cast("int")),
      i => (i === 1) || (element_at(s, i) =!= element_at(s, i - 1)))
    val runs = zip_with(starts,
      concat(slice(starts, lit(2), size(starts)), array(n.cast("int") + 1)),
      (a, b) => b - a)
    val topCount = array_max(runs)
    val topItem = element_at(s, element_at(starts, array_position(runs, topCount).cast("int")))
    (topItem, topCount)
  }

  def repetitionStats(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val base = df.select(col(idCol), simpleToks(col(textCol)).as("w"))
      .withColumn("n", size(col("w")).cast("long"))
      .withColumn("sw", sort_array(col("w")))
      .withColumn("bg", sort_array(zip_with(
        slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0))),
        slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))))
    val (topW, topWc) = topRun(col("sw"), col("n"))
    val (_, topBc) = topRun(col("bg"), col("n") - 1)
    base
      .withColumn("top_word", when(col("n") > 0, topW))
      .withColumn("top_word_frac",
        when(col("n") > 0, round(topWc * lit(1.0) / col("n"), 4)))
      .withColumn("top_bigram_frac",
        when(col("n") > 1, round(topBc * lit(1.0) / (col("n") - 1), 4)))
      .withColumn("dup_frac",
        when(col("n") > 0,
          round((col("n") - size(array_distinct(col("w")))) * lit(1.0) / col("n"), 4)))
      .select(col(idCol), col("n").as("n_tokens"), col("top_word"),
        col("top_word_frac"), col("top_bigram_frac"), col("dup_frac"))
  }

  /** Split documents into fixed-size token chunks with overlap — the
    * context-window packing step of a training-data pipeline. Emits one
    * row per chunk: (id, chunk_idx, chunk_text, chunk_tokens), where
    * chunk i covers tokens [i·stride, i·stride + chunkTokens) of the
    * whitespace tokenization and stride = chunkTokens − overlap. The
    * final chunk may be short; a document shorter than one chunk yields
    * exactly one chunk; an empty document yields none.
    *
    * Shuffle-free: chunk starts are a per-row `sequence`, posexplode is
    * a narrow generator, and the text reassembles with slice +
    * array_join — at 100 TB this pipelines inside the scan stage with
    * no exchange. */
  def chunkDocuments(df: DataFrame, chunkTokens: Int, overlap: Int = 0,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunkTokens=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    val w = filter(split(col(textCol), "\\s+"), t => t =!= "")
    df.select(col(idCol), w.as("w"))
      .withColumn("n", size(col("w")))
      .where(col("n") > 0)
      // last start: the smallest multiple of stride whose chunk reaches
      // the end — ⌈max(n−chunkTokens,0)/stride⌉·stride (no trailing
      // chunk that is wholly inside the previous chunk's overlap)
      .select(col(idCol), col("w"),
        posexplode(sequence(lit(0),
          ((greatest(col("n") - chunkTokens, lit(0)) + (stride - 1))
            .divide(stride).cast("int") * stride).cast("int"),
          lit(stride))).as(Seq("chunk_idx", "start")))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("w"), col("start") + 1, lit(chunkTokens)), " ").as("chunk_text"),
        size(slice(col("w"), col("start") + 1, lit(chunkTokens))).cast("long").as("chunk_tokens"))
  }

  /** Whitespace + BPE-ish token counting: raw whitespace tokens and
    * subword-ish segments (runs of letters / digits / other). */
  def tokenCounts(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(
      col(idCol),
      size(filter(split(col(textCol), "\\s+"), t => t =!= "")).cast("long").as("ws_tokens"),
      size(filter(split(col(textCol), "(?<=[a-z])(?=[0-9])|(?<=[0-9])(?=[a-z])|[^a-z0-9]+"),
        t => t =!= "")).cast("long").as("subword_tokens"))

  /** Tiny embedded char-trigram language profiles (built in-code from a
    * few seed sentences per language — a real deployment would train on a
    * labeled corpus; the operator shape, a narrow scored classification,
    * is identical). */
  object NgramLang {
    private val seeds: Map[String, String] = Map(
      "en" -> ("the quick brown fox jumps over the lazy dog and then it was " +
        "clear that these things would not change with time because they are"),
      "fr" -> ("le renard brun rapide saute par dessus le chien paresseux et " +
        "il etait clair que ces choses ne changeraient pas avec le temps"),
      "de" -> ("der schnelle braune fuchs springt ueber den faulen hund und " +
        "es war klar dass sich diese dinge mit der zeit nicht aendern wuerden"),
      "es" -> ("el rapido zorro marron salta sobre el perro perezoso y estaba " +
        "claro que estas cosas no cambiarian con el tiempo porque son asi"))

    /** Integer trigram counts of the normalized text. Counts, not
      * frequencies: cosine of count vectors equals cosine of frequency
      * vectors (the 1/n factors cancel), and integer dot products /
      * norms are order-independent EXACT sums — so the classifier's
      * doubles (one sqrt·sqrt product and one division over exact
      * integers) reproduce bit-identically in the DuckDB gate oracle,
      * where float summation order cannot be pinned. */
    def trigramCounts(s: String): Map[String, Int] = {
      val t = " " + s.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z ]", " ")
        .replaceAll("\\s+", " ").trim + " "
      (0 to t.length - 3).map(i => t.substring(i, i + 3))
        .groupBy(identity).map { case (g, xs) => g -> xs.size }
    }

    val profiles: Map[String, Map[String, Int]] =
      seeds.map { case (l, s) => l -> trigramCounts(s) }

    /** Σ count² per language profile (the squared norm, exact). */
    val norms: Map[String, Long] =
      profiles.map { case (l, p) => l -> p.valuesIterator.map(c => c.toLong * c).sum }

    private val profilesSorted: Seq[(String, Map[String, Int])] =
      profiles.toSeq.sortBy(_._1)

    /** cosine similarity of trigram count profiles; ties broken lang-asc
      * (maxBy keeps the first maximum of the lang-sorted sequence). */
    def classify(text: String): (String, Double) = {
      val p = trigramCounts(text)
      val na: Long = p.valuesIterator.map(c => c.toLong * c).sum
      val scored = profilesSorted.map { case (l, prof) =>
        val dot: Long = p.iterator.map { case (g, c) => c.toLong * prof.getOrElse(g, 0) }.sum
        val cos =
          if (na == 0L) 0.0
          else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(norms(l).toDouble))
        l -> cos
      }
      val (l, sc) = scored.maxBy(_._2)
      if (sc < 0.05) ("unknown", sc) else (l, sc)
    }
  }

  /** Char-n-gram language ID: trigram-profile cosine against the embedded
    * per-language profiles — narrow map, no shuffle. The score is the raw
    * cosine double (deterministic: exact-integer dot/norms, one sqrt·sqrt
    * product, one division — see NgramLang.trigramCounts). */
  def langIdNgram(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cls = udf((s: String) => NgramLang.classify(if (s == null) "" else s))
    df.select(col(idCol), cls(col(textCol)).as("c"))
      .select(col(idCol), col("c._1").as("lang_pred"), col("c._2").as("lang_score"))
  }

  /** 64-bit document fingerprint: FNV-1a over the normalized token stream
    * (rolling content hash — equal normalized content ⇒ equal print). */
  def fingerprint(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = udf((ws: Seq[String]) => Dedup.fnv1a64(ws.mkString(" ")))
    df.select(col(idCol), simpleToks(col(textCol)).as("w"))
      .select(col(idCol), fp(col("w")).as("fingerprint"))
  }

  /** Top-k characteristic terms per document by TF-IDF — the keyword /
    * topic-signal extraction pass of a corpus-analysis pipeline. Returns
    * (doc_id, term, tf, df, score, rank) with rank 1..k per doc.
    *
    * The idf factor is the raw rarity ratio N/df (monotone with the
    * textbook log(N/df), so the RANKING is identical) — score =
    * tf·N/df is then one exact integer product and one IEEE division,
    * bit-reproducible in the SQL gate oracle, where a log's libm
    * rounding could differ. Ties break term-ascending.
    *
    * Scale shape: per-doc tf comes from run lengths of the in-row sorted
    * token array (shuffle-free); the only exchanges are the term-df
    * aggregation (narrow 8-byte-ish keys, map-side partial), the df
    * join back (term-keyed; AQE broadcasts when the dictionary fits),
    * and the per-doc top-k window (id-keyed). The doc count joins as a
    * broadcast single row — no driver action, the plan stays lazy. */
  def topTfidfTerms(df: DataFrame, k: Int = 5, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val base = df.select(col(idCol).as("id"), simpleToks(col(textCol)).as("w"))
      .withColumn("n", size(col("w")))
      .where(col("n") > 0)
      .withColumn("sw", sort_array(col("w")))
    val withRuns = base
      .withColumn("starts", filter(sequence(lit(1), col("n")),
        i => (i === 1) || (element_at(col("sw"), i) =!= element_at(col("sw"), i - 1))))
      .withColumn("tfs", zip_with(col("starts"),
        concat(slice(col("starts"), lit(2), size(col("starts"))), array(col("n") + 1)),
        (a, b) => b - a))
      .withColumn("terms", transform(col("starts"), p => element_at(col("sw"), p)))
    val termTf = withRuns
      .select(col("id"), explode(arrays_zip(col("terms"), col("tfs"))).as("tt"))
      .select(col("id"), col("tt.terms").as("term"), col("tt.tfs").cast("long").as("tf"))
    val termDf = termTf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = base.agg(count(lit(1)).as("nd"))
    val scored = termTf.join(termDf, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("raw_score", col("tf") * col("nd") * lit(1.0) / col("df"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("raw_score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(win))
      .where(col("rank") <= k)
      .select(col("id").as(idCol), col("term"), col("tf"), col("df"),
        round(col("raw_score"), 4).as("score"), col("rank"))
  }

  /** Corpus-level top-k n-gram counts (every OCCURRENCE counts — unlike
    * the dedup family's per-doc-distinct shingles) — the standard
    * boilerplate/template-discovery report over a crawl. Ties break on
    * the gram string ascending, so the result is deterministic.
    *
    * Plan at 100 TB: per-row gram arrays (narrow) → explode → ONE
    * count aggregation keyed by the gram string (hash partial agg —
    * map-side combine collapses each partition's stream before the
    * exchange, and boilerplate grams are exactly the ones that
    * collapse hardest) → global top-k as TakeOrderedAndProject (never
    * a full sort). */
  def topNgrams(df: DataFrame, n: Int = 3, k: Int = 20,
                textCol: String = "text"): DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1; got n=$n k=$k")
    // no spread(): interleaved A/B vs the round-5 tree measured the added
    // text exchange as a net +0.1 s here (the explode feeds a hash
    // aggregate that redistributes anyway)
    df.select(simpleToks(col(textCol)).as("w"))
      .where(size(col("w")) >= n)
      // guard repeated inside the expr, see shingleSetsFromTokens
      .select(explode(when(size(col("w")) >= n,
        transform(sequence(lit(0), size(col("w")) - n),
          i => concat_ws(" ", slice(col("w"), i + lit(1), lit(n)))))
        .otherwise(array().cast("array<string>"))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(k)
  }

  /** Pack the corpus into fixed-budget training sequences: concatenate
    * all documents in ascending-id order and cut every `budgetTokens`
    * whitespace tokens (the GPT-style pack-then-split loader). Returns
    * the packing MANIFEST — one row per (sequence, document fragment):
    * `(seq_id, id, doc_offset, frag_tokens)` where the fragment covers
    * tokens [doc_offset, doc_offset + frag_tokens) of its document and
    * sequence `s` covers corpus tokens [s·B, (s+1)·B). Fragments tile
    * every document exactly and every sequence except the last holds
    * exactly `budgetTokens` tokens; a loader joins the manifest back to
    * text by id. Empty documents are dropped (as in [[chunkDocuments]]).
    *
    * The global token offset of each document is a DISTRIBUTED PREFIX
    * SUM — the full corpus is never ordered on one node: the (id,
    * n_tokens) projection (~16 B/row; the text itself never shuffles)
    * is range-partitioned by id, each partition computes a local cumsum
    * (one window per range partition), and the per-partition subtotals
    * — bounded by the partition count, not the row count — are
    * collected once and broadcast back as partition base offsets. The
    * projection is persisted before the subtotal collect: range
    * boundaries are sampled, so an unpersisted recompute could assign
    * different partition ids than the bases were collected under. */
  def packSequences(df: DataFrame, budgetTokens: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, s"need budgetTokens > 0, got $budgetTokens")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    // no spread() here: the size-only tokenize is light enough that a
    // round-robin exchange of the text costs more than the single-task
    // pass saves (A/B-measured +0.3 s at sf0.1); the range exchange
    // below redistributes the narrow projection anyway
    val counts = df
      .select(col(idCol),
        size(filter(split(col(textCol), "\\s+"), t => t =!= "")).cast("long").as("n"))
      .where(col("n") > 0)
      .repartitionByRange(col(idCol))
      .withColumn("pid", spark_partition_id())
      // local cumsum: the window repartitions by pid (each range
      // partition's rows stay together), so this is one exchange of the
      // tiny projection, never of the text
      .withColumn("prev", coalesce(
        sum("n").over(Window.partitionBy("pid").orderBy(idCol)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .persist()
    counts.count()
    // per-partition subtotals → cumulative base offsets (driver-side,
    // |partitions| rows)
    val subtotals = counts.groupBy("pid").agg(sum("n").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val bases = subtotals.scanLeft(0L)(_ + _._2).init
    val basesDf = spark.createDataFrame(
      subtotals.map(_._1).zip(bases).toSeq).toDF("pid", "base")
    val b = budgetTokens.toLong
    val out = counts
      .join(broadcast(basesDf), "pid")
      .withColumn("o", col("base") + col("prev"))
      .select(col(idCol), col("n"), col("o"),
        explode(sequence(expr(s"o div $b"), expr(s"(o + n - 1) div $b"))).as("seq_id"))
      .select(
        col("seq_id"),
        col(idCol),
        greatest(col("seq_id") * b - col("o"), lit(0L)).as("doc_offset"),
        (least((col("seq_id") + 1) * b, col("o") + col("n"))
          - greatest(col("seq_id") * b, col("o"))).as("frag_tokens"))
    // eager ownership (mirroring applySpans): the manifest must not be
    // recomputed off the unpersisted projection — a re-sampled range
    // partitioning could assign ids to different pids than the bases
    // were collected under. Manifest rows are 4 longs; at corpus scale a
    // caller writes them out anyway.
    val res = out.persist()
    res.count()
    counts.unpersist()
    res
  }

  /** Deterministic global training-order shuffle — the epoch-ordering
    * primitive a training pipeline applies after packing: every row gets
    * a dense position 0..N-1 in a pseudo-random but fully reproducible
    * order (sort key FNV-1a64("ord-&lt;seed&gt;-&lt;id&gt;"), ties → id). The SAME
    * permutation comes out at any parallelism and on any rerun — unlike
    * `orderBy(rand(seed))`, whose draw depends on row/partition layout.
    * A new seed is a new epoch order.
    *
    * Returns the ORDER MANIFEST (pos, id) — ~16 B/row at any corpus
    * size; callers join it back to the payload (or feed it to a writer)
    * so the text crosses the wire once, not once per epoch. Scale shape:
    * one range exchange of the narrow (hash, id) projection, per-range-
    * partition local ranks, and a driver prefix-sum over the per-
    * partition counts (|partitions| longs) broadcast back — the same
    * two-phase prefix-sum `packSequences` uses; no global window, no
    * single-task sort. */
  def trainingOrder(df: DataFrame, idCol: String = "doc_id",
                    seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val hashUdf = udf((s: String) => Dedup.fnv1a64(s))
    val keyed = df
      .select(col(idCol))
      .withColumn("_ord", hashUdf(concat(lit(s"ord-$seed-"), col(idCol).cast("string"))))
      .repartitionByRange(col("_ord"), col(idCol))
      .withColumn("pid", spark_partition_id())
      // local rank within the range partition: the window exchanges on
      // pid (rows of a range partition stay together) — one exchange of
      // the 16-byte projection, never of the payload
      .withColumn("rn", row_number().over(
        Window.partitionBy("pid").orderBy(col("_ord"), col(idCol))).cast("long") - 1)
      .persist()
    keyed.count()
    val subtotals = keyed.groupBy("pid").agg(count(lit(1)).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val bases = subtotals.scanLeft(0L)(_ + _._2).init
    val basesDf = spark.createDataFrame(
      subtotals.map(_._1).zip(bases).toSeq).toDF("pid", "base")
    val res = keyed.join(broadcast(basesDf), "pid")
      .select((col("base") + col("rn")).as("pos"), col(idCol))
      .persist()
    res.count()
    keyed.unpersist()
    res
  }

  /** Per-source token-budget report — the corpus-accounting view a
    * training-data pipeline plans its mixing weights from: doc count,
    * total tokens, and EXACT discrete token-count percentiles (the
    * value at 1-indexed position ⌈p·cnt/100⌉ of the ascending
    * per-source ordering — "lower" discrete quantile, no
    * interpolation).
    *
    * Scale shape (100 TB): a naive per-source ranking window would put
    * an ENTIRE source on one task (sources are an enum — billions of
    * rows per partition key), so the percentiles come from a two-pass
    * histogram plan instead: (src, n_tokens) → count — the ONE
    * corpus-sized exchange, 16-byte keys, map-side combinable, at most
    * |sources|·max_doc_tokens rows out — then a per-source cumulative
    * window over that tiny histogram. Percentile POSITIONS are exact
    * integer arithmetic ((p·cnt + 99) div 100), never floating ceil:
    * IEEE `0.9*cnt` and DuckDB's DECIMAL `0.9*cnt` round differently
    * at exact-multiple boundaries, so float positions cannot replay
    * across engines. Null sources are excluded (mirroring
    * [[Curation.sourceOverlap]]); a null/empty text counts 0 tokens. */
  def tokenBudget(df: DataFrame, percents: Seq[Int] = Seq(50, 90, 99),
                  srcCol: String = "source", textCol: String = "text"): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"need percents within 1..100; got $percents")
    require(percents.distinct.length == percents.length,
      s"duplicate percents: $percents")
    import org.apache.spark.sql.expressions.Window
    val hist = df.where(col(srcCol).isNotNull)
      .select(col(srcCol).cast("string").as("src"),
        coalesce(size(simpleToks(col(textCol))), lit(0)).cast("long").as("n"))
      .groupBy("src", "n").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy("src").orderBy("n")))
      .withColumn("cnt", sum(col("c")).over(Window.partitionBy("src")))
    val aggs = Seq(
      sum(col("c")).as("docs"),
      sum(col("n") * col("c")).as("total_tokens")) ++
      percents.map { p =>
        min(when(col("cum") >= expr(s"($p * cnt + 99) div 100"), col("n")))
          .as(s"p${p}_tokens")
      }
    cum.groupBy(col("src").as(srcCol))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(srcCol)
  }
}
