package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators over a document
  * table (id, text). All are expressed as declarative DataFrame plans —
  * shuffles only on the blocking keys (shingle / band bucket), never a
  * full cross join — so they scale to cluster-sized corpora.
  */
object Dedup {
  import TextAnalysis.simpleToks

  /** Deterministic 64-bit FNV-1a string hash (stable across JVMs/runs,
    * unlike String.hashCode on other types or Random-seeded schemes). */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
  val fnv1a64Udf = udf(fnv1a64 _)

  /** JVM evaluation of Spark's `xxhash64` (seed 42) over the space-joined
    * n-token window w(i..i+n) — BIT-IDENTICAL to
    * `xxhash64(concat_ws(" ", slice(w, i+1, n)))` so hashed-window plans
    * keep replaying against gram-string oracles. Fast path writes the
    * ASCII window into a caller-owned scratch buffer (tokens from the
    * pipeline tokenizer are [a-z0-9]+ by construction — zero String
    * allocation per window); any non-ASCII char falls back to the
    * String UTF-8 route with identical bytes. Returns the hash. */
  private def xxWindow(w: Seq[String], i: Int, n: Int,
                       buf0: Array[Byte]): (Long, Array[Byte]) = {
    var buf = buf0
    var len = 0
    var j = 0
    var ascii = true
    while (ascii && j < n) {
      val t = w(i + j)
      val tl = t.length
      if (len + tl + 1 > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + tl + 1))
      if (j > 0) { buf(len) = ' '; len += 1 }
      var k = 0
      while (k < tl) {
        val c = t.charAt(k)
        if (c > 127) ascii = false
        buf(len) = c.toByte; len += 1; k += 1
      }
      j += 1
    }
    val h =
      if (ascii)
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
      else {
        val s = w.slice(i, i + n).mkString(" ")
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      }
    (h, buf)
  }

  /** Per-document DISTINCT hashed shingle sets: (id, hset: array<long>,
    * sz) — the 8-byte-key form of [[shingleSetsFromTokens]] with the
    * downstream `xxhash64(shingle)` folded INTO the set builder: the
    * ~n-word shingle string is never materialized (one scratch-buffer
    * hash per window position instead of a StringBuilder + String +
    * LinkedHashSet<String> per window — the string build dominated the
    * jaccard family's set pass). Distinctness is by the 64-bit hash, so
    * two distinct in-document shingles colliding in 64 bits count once
    * where the string set counted twice — strictly more correct for
    * overlap counting, and unobservable below ~10^9 distinct shingles
    * per doc (the documented birthday bound). */
  private[pipeline] def hashedShingleSetsFromTokens(df: DataFrame, n: Int): DataFrame = {
    val shUdf = udf { (w: Seq[String]) =>
      if (w == null || w.length < n) Array.empty[Long]
      else {
        val seen = new java.util.LinkedHashSet[java.lang.Long]()
        var buf = new Array[Byte](128)
        var i = 0
        while (i + n <= w.length) {
          val (h, b) = xxWindow(w, i, n, buf)
          buf = b
          seen.add(h)
          i += 1
        }
        val out = new Array[Long](seen.size())
        val it = seen.iterator()
        var x = 0
        while (it.hasNext) { out(x) = it.next(); x += 1 }
        out
      }
    }
    df.where(size(col("w")) >= n)
      .select(col("id"), shUdf(col("w")).as("hset"))
      .withColumn("sz", size(col("hset")).cast("long"))
  }

  /** [[hashedShingleSetsFromTokens]] from raw text. */
  private[pipeline] def hashedShingleSets(df: DataFrame, n: Int, idCol: String,
                                          textCol: String): DataFrame =
    hashedShingleSetsFromTokens(
      spread(df).select(col(idCol).as("id"), simpleToks(col(textCol)).as("w")), n)

  /** FNV-1a64 of the space-joined n-token window — char-fold identical to
    * [[fnv1a64]] of the joined string, with no string materialized. */
  private def fnvWindow(w: Seq[String], i: Int, n: Int): Long = {
    var h = 0xcbf29ce484222325L
    var j = 0
    while (j < n) {
      if (j > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
      val t = w(i + j)
      var k = 0
      while (k < t.length) { h ^= t.charAt(k).toLong; h *= 0x100000001b3L; k += 1 }
      j += 1
    }
    h
  }

  /** Dual-hashed distinct shingle sets for the MinHash path: (id, hset:
    * array<long> xxhash64 keys, fset: array<long> FNV-1a keys, sz) —
    * one aligned pair per first-seen window (distinctness by the
    * xxhash64 key, as in [[hashedShingleSetsFromTokens]]). The FNV keys
    * feed the signature (the oracle replays FNV over gram strings), the
    * xxhash64 keys feed the exact-verify overlap join. A 64-bit xxhash64
    * collision between two distinct shingles of one document drops the
    * second shingle's FNV key from `fset`, so the signature can then
    * differ from the string-replaying oracle. */
  private[pipeline] def dualHashedShingleSets(df: DataFrame, n: Int, idCol: String,
                                              textCol: String): DataFrame = {
    val shUdf = udf { (w: Seq[String]) =>
      if (w == null || w.length < n) (Array.empty[Long], Array.empty[Long])
      else {
        val seen = new java.util.LinkedHashSet[java.lang.Long]()
        val fs = new scala.collection.mutable.ArrayBuffer[Long](w.length - n + 1)
        var buf = new Array[Byte](128)
        var i = 0
        while (i + n <= w.length) {
          val (h, b) = xxWindow(w, i, n, buf)
          buf = b
          if (seen.add(h)) fs += fnvWindow(w, i, n)
          i += 1
        }
        val out = new Array[Long](seen.size())
        val it = seen.iterator()
        var x = 0
        while (it.hasNext) { out(x) = it.next(); x += 1 }
        (out, fs.toArray)
      }
    }
    spread(df)
      .select(col(idCol).as("id"), simpleToks(col(textCol)).as("w"))
      .where(size(col("w")) >= n)
      .select(col("id"), shUdf(col("w")).as("hs"))
      .select(col("id"), col("hs._1").as("hset"), col("hs._2").as("fset"))
      .withColumn("sz", size(col("hset")).cast("long"))
  }

  /** Ensure at least the session's default parallelism for the CPU-heavy
    * per-row stages (tokenize / shingle / hash): a local test input often
    * arrives as ONE parquet file — one partition — which serializes the
    * whole narrow pipeline onto one core (measured: 6 plan legs × 3-20 s
    * single-task stages on the sf0.1 gate). At real scale the input scan
    * already carries ≥ parallelism partitions and this is a no-op — no
    * shuffle is added. */
  private[pipeline] def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Only scan-shaped inputs need the fix-up (a handful of parquet
    // files); anything downstream of a shuffle already carries ≥
    // shuffle-partitions partitions. The shape check reads the LOGICAL
    // plan — calling .rdd here would make AQE finalize (i.e. EXECUTE)
    // every upstream shuffle stage just to report a partition count,
    // eagerly running join-shaped inputs once as a side effect.
    import org.apache.spark.sql.catalyst.plans.logical._
    val shuffleShaped = df.queryExecution.logical.collectFirst {
      case n @ (_: Join | _: Aggregate | _: Window | _: Sort |
                _: RepartitionOperation | _: Distinct) => n
    }.isDefined
    if (shuffleShaped) df
    else if (df.rdd.getNumPartitions < p) df.repartition(p)
    else df
  }

  /** Exact dedup: one row per distinct text with the kept (min) id and the
    * duplicate count. Groups by (xxhash64(text), length(text)) — NOT the
    * text itself: at corpus scale the group key is what gets shuffled, and
    * shuffling full document bodies as key bytes would move the whole
    * corpus; the 64-bit-hash+length composite shuffles 12 bytes per row.
    * A collision needs equal xxhash64 AND equal length on different texts
    * (~2^-64 per candidate pair); collision-paranoid callers can verify
    * the survivors' texts — a second pass over only `keep_id` rows. */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.groupBy(xxhash64(col(textCol)), length(col(textCol)))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "dup_count")

  /** Exact duplicated-SUBSTRING spans — Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") exact-substring
    * criterion, at fixed token-window granularity: suffix arrays do not
    * distribute, so the scale-standard approximation is length-`n` token
    * windows. A window whose content occurs in ≥ `minDocs` DISTINCT
    * documents is duplicated; per document, overlapping/adjacent
    * duplicated windows coalesce into maximal half-open
    * `[span_start, span_end)` token spans. Returns
    * (id, span_start, span_end, n_windows) — callers cut or drop the
    * spans (boilerplate headers, licence blocks, templated turns).
    *
    * Plan at 100 TB: tokenize (narrow) → per-doc window-hash array in ONE
    * `transform` over `sequence` (xxhash64 of the joined token slice —
    * the 8-byte-key trade [[exact]] documents: a cross-doc collision
    * needs equal xxhash64 on different grams, ~2^-64 per pair) →
    * posexplode to (id, pos, h) → one hash-keyed countDistinct for the
    * duplicated-window set → shuffle join back on h (both sides 8-byte
    * keys; the duplicated set is usually far smaller than the window
    * stream) → per-doc gaps-and-islands coalesce (lag/running-sum window
    * by id + one aggregation). Nothing is quadratic and no full text
    * bytes enter any exchange. */
  def duplicateSpans(df: DataFrame, n: Int = 8, minDocs: Int = 2,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2 && minDocs >= 2, s"need n >= 2 and minDocs >= 2; got n=$n minDocs=$minDocs")
    spansFromTokens(
      spread(df).select(col(idCol).as("id"), simpleToks(col(textCol)).as("w")), n, minDocs)
  }

  /** [[duplicateSpans]] over an already-tokenized (id, w) frame — lets
    * [[applySpans]] (and shared-cache compositions) pay tokenization
    * once. */
  private[pipeline] def spansFromTokens(toks: DataFrame, n: Int, minDocs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOTE (round 6): tried replacing this HOF with a scratch-buffer UDF
    // (as in hashedShingleSetsFromTokens) — slower: the HOF's concat_ws/
    // slice/xxhash64 all operate on Catalyst UTF8String bytes in place,
    // while a UDF pays a full ArrayData -> Seq[String] conversion per row
    // (measured +19% task CPU on the windows job). The set-builder UDFs
    // win because they ALSO replace a per-window String + LinkedHashSet
    // allocation; here the only per-window product is the hash.
    val wins = toks
      .where(size(col("w")) >= n)
      .select(col("id"), posexplode(when(size(col("w")) >= n, // guard as in shingleSetsFromTokens
        transform(sequence(lit(1), size(col("w")) - lit(n - 1)),
          i => xxhash64(concat_ws(" ", slice(col("w"), i, lit(n))))))
        .otherwise(array().cast("array<long>"))).as(Seq("pos", "h")))
    val dup = wins.groupBy("h")
      .agg(countDistinct(col("id")).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select("h")
    val byDoc = Window.partitionBy("id").orderBy("pos")
    wins.join(dup, "h")
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) <= n, lit(0)).otherwise(lit(1)))
      .withColumn("grp", sum("brk").over(byDoc))
      .groupBy(col("id"), col("grp"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(n)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Corpus-wide APPLY of [[duplicateSpans]]: cut every duplicated span
    * out of every document. Output is at TOKEN granularity — the span
    * criterion is defined over the token stream, so the rewritten
    * document is the space-joined SURVIVING tokens (a doc with no
    * duplicated spans keeps all its tokens; a fully-duplicated doc
    * becomes the empty string): (idCol, clean_text, n_removed).
    *
    * Plan: ONE tokenize pass persisted (mirroring
    * [[ngramJaccardPairs]]) feeds both the span detection and the
    * rebuild; spans come back id-keyed and are collapsed to a per-doc
    * span ARRAY (tiny — spans are maximal and disjoint) joined back on
    * id, so the rebuild is a narrow per-row `filter` over token
    * positions. Exchanges: the span pipeline's 8-byte-key shuffles plus
    * one id-keyed join — no text bytes beyond the final projection. */
  def applySpans(df: DataFrame, n: Int = 8, minDocs: Int = 2,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2 && minDocs >= 2, s"need n >= 2 and minDocs >= 2; got n=$n minDocs=$minDocs")
    val toks = spread(df).select(col(idCol).as("id"), simpleToks(col(textCol)).as("w"))
      .persist()
    toks.count()
    val spans = spansFromTokens(toks, n, minDocs)
      .groupBy("id")
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))).as("spans"))
    val out = toks.join(spans, Seq("id"), "left")
      // kept = 0-based token positions outside every [s, e) span; the
      // when() guards sequence(0, -1) on token-less docs (see
      // shingleSetsFromTokens for why the guard must live IN the expr)
      .withColumn("kept", when(size(col("w")) > 0,
        filter(sequence(lit(0), size(col("w")) - 1),
          i => col("spans").isNull ||
            !exists(col("spans"), sp => i >= sp("s") && i < sp("e"))))
        .otherwise(array().cast("array<int>")))
      .select(col("id").as(idCol),
        concat_ws(" ", transform(col("kept"), i => element_at(col("w"), i + 1)))
          .as("clean_text"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"))
    val res = out.persist()
    res.count()
    toks.unpersist()
    res
  }

  /** Per-document distinct shingle sets: (id, set: array<string>, sz).
    * The distinct is `array_distinct` BEFORE any explode — shingle sets
    * are per-document, so deduplication never needs a shuffle, and the
    * set size falls out of the array for free (no groupBy("id") pass
    * over the exploded stream either). At corpus scale this removes the
    * first full-stream exchange every shingle-based operator used to
    * pay. */
  private[pipeline] def shingleSets(df: DataFrame, n: Int, idCol: String,
                                    textCol: String): DataFrame =
    shingleSetsFromTokens(
      spread(df).select(col(idCol).as("id"), simpleToks(col(textCol)).as("w")), n)

  /** [[shingleSets]] over an already-tokenized (id, w) frame — the entry
    * point Curation.pipeline uses so one persisted token pass feeds the
    * quality, dedup and decontamination stages. */
  private[pipeline] def shingleSetsFromTokens(df: DataFrame, n: Int): DataFrame = {
    // One imperative UDF instead of the HOF chain
    // (transform+sequence+slice+concat_ws+array_distinct) it replaces:
    // higher-order functions are CodegenFallback, and in interpreted
    // mode there is NO subexpression elimination — when the optimizer's
    // CollapseProject inlines an unmaterialized tokens column into the
    // lambda body, the whole tokenizer re-runs per shingle POSITION
    // (measured: 10.5 s to shingle 5k short docs vs 0.5 s for this UDF;
    // same disease as the round-4 quality-signal fix). The UDF evaluates
    // its input once per row by construction, handles the size(w) < n
    // guard internally (empty set), and null tokens degrade to an empty
    // array (advisor round 4).
    val shUdf = udf { (w: Seq[String]) =>
      if (w == null || w.length < n) Array.empty[String]
      else {
        val out = new scala.collection.mutable.LinkedHashSet[String]
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        while (i + n <= w.length) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(w(i + j)); j += 1
          }
          out += sb.toString; i += 1
        }
        out.toArray
      }
    }
    df.where(size(col("w")) >= n)
      .select(col("id"), shUdf(col("w")).as("set"))
      .withColumn("sz", size(col("set")).cast("long"))
  }

  /** Word n-gram shingles: (id, shingle) distinct (shuffle-free — the
    * dedup happens inside each document's array). */
  def shingles(df: DataFrame, n: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    shingleSets(df, n, idCol, textCol)
      .select(col("id"), explode(col("set")).as("shingle"))

  /** Pair (ida, idb, jaccard ≥ threshold) from a (ida, idb, common) frame
    * plus the per-doc set sizes — the tail every Jaccard variant shares. */
  private def joinJaccard(common: DataFrame, sizes: DataFrame,
                          threshold: Double): DataFrame =
    common
      .join(sizes.toDF("ida", "sza"), "ida")
      .join(sizes.toDF("idb", "szb"), "idb")
      .withColumn("jaccard",
        col("common") * lit(1.0) / (col("sza") + col("szb") - col("common")))
      .where(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"), round(col("jaccard"), 4).as("jaccard"))

  /** Exact uncapped Jaccard pairs over an already-built HASHED
    * (id, hset, sz) shingle-set frame ([[hashedShingleSetsFromTokens]];
    * callers persist it when it feeds several legs — Curation.pipeline's
    * shared-cache composition). Lazy: no persist, no count. */
  private[pipeline] def jaccardPairsFromSets(sets: DataFrame,
                                             threshold: Double): DataFrame = {
    val sh = sets.select(col("id"), explode(col("hset")).as("shingle"))
    val common = sh.select(col("id").as("ida"), col("shingle"))
      .join(sh.select(col("id").as("idb"), col("shingle")), "shingle")
      .where(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("common"))
    joinJaccard(common, sets.select(col("id"), col("sz")), threshold)
  }

  /** Exact n-gram Jaccard near-dup pairs: inverted-index self-join on the
    * shingle (the blocking key), count common shingles per pair, then
    * jaccard = common / (|A| + |B| - common).
    *
    * Optional skew guard (`hotShingleDfCap`, DEFAULT OFF): candidate pairs
    * are generated only from shingles with document frequency ≤ cap. A
    * boilerplate shingle shared by d documents otherwise yields d²
    * candidate rows — quadratic in the hottest key at corpus scale.
    * Capped blocking stays sub-quadratic; the Jaccard itself stays EXACT:
    * the rare self-join yields each pair's rare-shingle overlap, and a
    * per-doc hot-shingle-array intersection adds the hot shingles the
    * pair shares (two id-keyed joins + array_intersect, bounded by the
    * doc's own shingle count — never d² of a hot shingle). A qualifying
    * pair is missed only if EVERY shared shingle is hot; how many docs
    * are fully hot (invisible to blocking) is logged so the truncation is
    * visible — route such docs through minhashLshPairs if they matter.
    *
    * The result is materialized (persisted + counted) so the shingle
    * intermediates can be unpersisted before returning — two extra jobs,
    * and the returned persisted frame is owned by the caller. */
  def ngramJaccardPairs(df: DataFrame, n: Int, threshold: Double,
                        idCol: String = "doc_id", textCol: String = "text",
                        hotShingleDfCap: Long = Long.MaxValue): DataFrame = {
    // shuffle inventory (the 100 TB budget): the per-doc distinct and the
    // set sizes are shuffle-FREE (array_distinct inside the row); every
    // exchange that remains moves xxhash64 keys, never the ~n-word
    // shingle string (the DuckDB gate oracle replays over the strings and
    // stays hash-identical). Uncapped: self-join + pair agg. Capped: hot
    // df agg, rare self-join + pair agg, hot-rows-only per-doc agg.
    val sets = hashedShingleSets(df, n, idCol, textCol).persist()
    // materialize the cache BEFORE the multi-leg plan below: its legs
    // launch concurrent stages, and a cold cache makes each of them
    // recompute the whole tokenize+shingle pipeline (measured 6× on the
    // sf0.1 gate) instead of reading the one materialized copy
    sets.count()
    val sh = sets.select(col("id"), explode(col("hset")).as("shingle"))
    val sizes = sets.select(col("id"), col("sz"))
    val capped = hotShingleDfCap != Long.MaxValue
    val (common, hotPerDocOpt) =
      if (!capped) {
        val c = sh.select(col("id").as("ida"), col("shingle"))
          .join(sh.select(col("id").as("idb"), col("shingle")), "shingle")
          .where(col("ida") < col("idb"))
          .groupBy("ida", "idb").agg(count(lit(1)).as("common"))
        (c, None)
      } else {
        // hot shingles are FEW (≤ stream/cap distinct) — AQE broadcasts
        // the flag join's hot side when it fits
        val hotShingles = sh.groupBy("shingle").agg(count(lit(1)).as("sdf"))
          .filter(col("sdf") > hotShingleDfCap)
          .select("shingle").withColumn("ish", lit(true))
        val flagged = sh.join(hotShingles, Seq("shingle"), "left")
          .select(col("id"), col("shingle"), coalesce(col("ish"), lit(false)).as("hot"))
        val flaggedP = flagged.persist()
        val rare = flaggedP.where(!col("hot"))
        val commonRare = rare.select(col("id").as("ida"), col("shingle"))
          .join(rare.select(col("id").as("idb"), col("shingle")), "shingle")
          .where(col("ida") < col("idb"))
          .groupBy("ida", "idb").agg(count(lit(1)).as("common_rare"))
        // exact correction: per-doc hot-shingle arrays (distinct by
        // construction), intersected per candidate pair — two id-keyed
        // joins, no shingle-keyed expansion; the agg's input is the hot
        // rows only
        val hotPerDoc = flaggedP.where(col("hot"))
          .groupBy("id").agg(collect_list(col("shingle")).as("hs"))
        val hotPerDocP = hotPerDoc.persist()
        val c = commonRare
          .join(hotPerDocP.select(col("id").as("ida"), col("hs").as("ha")), Seq("ida"), "left")
          .join(hotPerDocP.select(col("id").as("idb"), col("hs").as("hb")), Seq("idb"), "left")
          .withColumn("common", col("common_rare") +
            when(col("ha").isNotNull && col("hb").isNotNull,
              size(array_intersect(col("ha"), col("hb"))).cast("long")).otherwise(lit(0L)))
          .select("ida", "idb", "common")
        (c, Some((flaggedP, hotPerDocP)))
      }
    val out = joinJaccard(common, sizes, threshold).persist()
    out.count() // materialize before dropping the intermediates
    hotPerDocOpt.foreach { case (flaggedP, hotPerDocP) =>
      // truncation visibility: a doc whose EVERY shingle is hot generates
      // no candidate pairs at all — count and log them (one job over the
      // tiny persisted hot-array frame joined to the narrow sizes)
      val allHot = hotPerDocP.join(sizes, "id")
        .filter(size(col("hs")) === col("sz")).count()
      if (allHot > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"ngramJaccardPairs: $allHot doc(s) have only hot shingles " +
            s"(df > $hotShingleDfCap) and generated no candidate pairs")
      flaggedP.unpersist(); hotPerDocP.unpersist()
    }
    sets.unpersist()
    out
  }

  /** One affine MinHash evaluation h(x) = (a*x + b) mod p (p = 2^61-1),
    * with x interpreted UNSIGNED (remainderUnsigned) so SQL's nonnegative
    * 64-bit value reduces identically; 61×61-bit multiply folded mod p
    * via Math.multiplyHigh. */
  private def affineHash(a: Long, b: Long, x: Long): Long = {
    val P = MinHashP
    val xm = java.lang.Long.remainderUnsigned(x, P)
    val hi = java.lang.Math.multiplyHigh(a, xm)
    val lo = a * xm
    // fold 128-bit product mod 2^61-1: (lo & P) + (lo >>> 61 | hi << 3)
    var res = (lo & P) + ((lo >>> 61) | (hi << 3))
    while (res >= P) res -= P
    res = res + b
    if (res >= P) res -= P
    res
  }

  /** Per-doc MinHash signature over the doc's DISTINCT shingle keys,
    * pre-hashed with FNV-1a (the dual-hashed set form): elementwise min
    * over the keys under `numHashes` independent affine hash functions
    * h_i(x) = (a_i*x + b_i) mod p (p = 2^61 - 1).
    *
    * A NARROW per-row UDF, not an aggregator: the distinct shingles
    * already sit inside each document's row (shingleSets), so the
    * signature needs no groupBy — no shuffle, no aggregation buffer. (An
    * earlier Aggregator paid per-row java-serialization of its 64-long
    * buffer through SortAggregate and cost 15-40 s on the sf0.1 gate;
    * this form is a tight per-doc loop inside one codegen stage.)
    *
    * Coefficients are derived from FNV-1a of `"mh-a-$seed-$i"` /
    * `"mh-b-$seed-$i"` (unsigned mod into range) rather than a JVM RNG:
    * every arithmetic step of the whole MinHash+LSH pipeline is then
    * expressible in portable SQL (the DuckDB gate oracle replays
    * signature → banding → candidates → exact-Jaccard verify end to
    * end), with the same independence properties as RNG-drawn affine
    * coefficients. */
  private def minhashSigFromFnvUdf(numHashes: Int, seed: Long) = {
    val coeffs = minhashCoeffs(numHashes, seed)
    udf((fnvs: Seq[Long]) => {
      val buf = Array.fill(numHashes)(Long.MaxValue)
      fnvs.foreach { x =>
        var i = 0
        while (i < numHashes) {
          val (a, b) = coeffs(i)
          val v = affineHash(a, b, x)
          if (v < buf(i)) buf(i) = v
          i += 1
        }
      }
      buf.toSeq
    })
  }

  /** Mersenne prime 2^61 − 1 — the MinHash hash field. */
  val MinHashP: Long = (1L << 61) - 1

  /** Deterministic affine coefficients (a_i ∈ [1, P−1], b_i ∈ [0, P−1])
    * for hash i, FNV-derived (see MinHashAgg doc). */
  def minhashCoeffs(numHashes: Int, seed: Long): Array[(Long, Long)] =
    Array.tabulate(numHashes) { i =>
      val a = java.lang.Long.remainderUnsigned(fnv1a64(s"mh-a-$seed-$i"), MinHashP - 1) + 1
      val b = java.lang.Long.remainderUnsigned(fnv1a64(s"mh-b-$seed-$i"), MinHashP)
      (a, b)
    }

  /** LSH band keys from an (id, sig: array<long>) signature frame:
    * (id, band, bh) with one row per band. The band key is FNV-1a of the
    * band's signature values joined as decimal strings — an 8-byte
    * shuffle/bucket key (not the rows-long slice), deterministic across
    * runs, and — unlike Spark's Murmur3 `hash()` — replayable in the
    * DuckDB oracle. Shared by the batch [[minhashLshPairs]] and the
    * streaming ingest's near-dup band sidecar, so a key written by
    * either is directly joinable against the other. */
  private[graft] def bandKeys(sig: DataFrame, bands: Int, rows: Int): DataFrame = {
    val bandStrs = transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",",
        transform(slice(col("sig"), b * lit(rows) + lit(1), lit(rows)), _.cast("string"))))
    sig.select(col("id"), posexplode(bandStrs).as(Seq("band", "bstr")))
      .select(col("id"), col("band"), fnv1a64Udf(col("bstr")).as("bh"))
  }

  /** MinHash signatures: (id, sig: array<long>) — a narrow per-doc map
    * over the in-row distinct shingle set (no shuffle at any scale). */
  def minhashSignatures(df: DataFrame, numHashes: Int = 64, seed: Long = 42L,
                        n: Int = 5, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    dualHashedShingleSets(df, n, idCol, textCol)
      .select(col("id"), minhashSigFromFnvUdf(numHashes, seed)(col("fset")).as("sig"))

  /** MinHash + LSH near-dup pairs: band the signatures (bands × rowsPerBand
    * = numHashes), bucket-join on (band, bandHash) to get candidates, then
    * verify candidates with exact n-gram Jaccard. Expected to find pairs
    * with jaccard ≥ threshold with high recall at planetary scale without
    * any quadratic step. */
  def minhashLshPairs(df: DataFrame, threshold: Double, numHashes: Int = 64,
                      bands: Int = 16, seed: Long = 42L, n: Int = 5,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    // the per-doc shingle arrays feed FOUR plan legs (signatures, both
    // verify-join sides, sizes); with no exchange left to reuse after the
    // shuffle-free distinct, persist them once instead of re-tokenizing
    // per leg
    val sets = dualHashedShingleSets(df, n, idCol, textCol).persist()
    // materialize before the multi-leg plan (same reason as
    // ngramJaccardPairs: cold-cache legs each recompute the pipeline)
    sets.count()
    val sig = sets.select(col("id"),
      minhashSigFromFnvUdf(numHashes, seed)(col("fset")).as("sig"))
    val banded = bandKeys(sig, bands, rows)
    val l = banded.toDF("ida", "band", "bh")
    val r = banded.toDF("idb", "band", "bh")
    val candidates = l.join(r, Seq("band", "bh"))
      .where(col("ida") < col("idb"))
      .select("ida", "idb").distinct()

    // verify candidates exactly: join back to the hashed shingle sets
    // (8-byte keys in both the equi-join and the overlap count); sizes
    // come shuffle-free from the per-doc arrays
    val sh = sets.select(col("id"), explode(col("hset")).as("shingle"))
    val sizes = sets.select(col("id"), col("sz"))
    val common = candidates
      .join(sh.toDF("ida", "shingle"), "ida")
      .join(sh.toDF("idb", "shingle2"), "idb")
      .where(col("shingle") === col("shingle2"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("common"))
    val out = joinJaccard(common, sizes, threshold).persist()
    out.count() // materialize before dropping the shingle-set cache
    sets.unpersist()
    out
  }

  /** Per-doc SimHash: 64-bit fingerprint from per-token 64-bit hashes —
    * bit b of the fingerprint is 1 when the sum of ±1 votes over tokens'
    * bit b is positive. Every vote for a document comes from its own
    * token array, so this is a narrow per-row map (no groupBy — the same
    * no-shuffle shape as minhashSignatures; the Aggregator it replaces
    * paid per-row java-serialization of its vote buffer). */
  private val simhashUdf = udf((tokens: Seq[String]) => {
    val votes = new Array[Int](64)
    // null-tolerant: a null text tokenizes to a null array, and the
    // optimizer may evaluate this projection on rows the empty-doc
    // filter below would drop (the known projection-before-filter
    // reordering) — degrade to fingerprint 0 instead of an NPE
    (if (tokens == null) Nil else tokens).foreach { t =>
      val x = fnv1a64(t)
      var b = 0
      while (b < 64) { votes(b) += (if (((x >>> b) & 1L) == 1L) 1 else -1); b += 1 }
    }
    var f = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) f |= (1L << b); b += 1 }
    f
  })

  /** SimHash fingerprints: (id, simhash). Docs whose text tokenizes to
    * ZERO tokens emit no row — a token-less doc has no content votes, and
    * fingerprinting it as 0 would pair every empty/punctuation-only doc
    * with every other at distance 0 (the explode+groupBy form this
    * per-row map replaced likewise emitted no row for them). */
  def simhash(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    spread(df).select(col(idCol).as("id"), simpleToks(col(textCol)).as("w"))
      .where(size(col("w")) > 0)
      .select(col("id"), simhashUdf(col("w")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, Manku-style
    * multi-block pigeonhole blocking (Manku, Jain, Das Sarma, WWW'07):
    * split the 64 bits into `nBlocks` (> maxDist) chunks; a pair within
    * distance d differs in at most d chunks, so it AGREES EXACTLY on some
    * (nBlocks − d)-subset of chunks — block on every such subset
    * (C(nBlocks, nBlocks−d) tables, key = the subset's chunk bits
    * concatenated), verify candidates with popcount. Blocking is LOSSLESS
    * for any valid block count: the pair set is identical for every
    * nBlocks, only the candidate volume changes.
    *
    * Scale knob: nBlocks=4 at d=3 keys on single 16-bit chunks — fine
    * until bucket occupancy n/2^16 makes within-bucket candidate
    * generation quadratic (~10^8 docs); [[simhashBlocks]] picks the
    * smallest nBlocks whose key space keeps expected occupancy bounded
    * (nBlocks=6 → 31-bit keys, ~10^12 docs) at the cost of more tables. */
  def simhashPairs(df: DataFrame, maxDist: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   nBlocks: Int = 4): DataFrame =
    simhashPairsFromFingerprints(simhash(df, idCol, textCol), maxDist, nBlocks)

  /** Bit widths of the `nBlocks` chunks of a 64-bit fingerprint (as even
    * as possible; the low-index chunks take the remainder bits). */
  private def blockWidths(nBlocks: Int): Array[Int] =
    Array.tabulate(nBlocks)(i => 64 / nBlocks + (if (i < 64 % nBlocks) 1 else 0))

  /** Smallest block count (> maxDist) whose per-table key space keeps the
    * expected bucket occupancy n/2^keyBits at or under `targetOccupancy`
    * — the scale-adaptive choice for [[simhashPairs]]. Capped at
    * maxDist + 5: the table count C(k, k−d) (row replication factor)
    * grows fast, and at that cap the key space already exceeds 2^31. */
  def simhashBlocks(n: Long, maxDist: Int = 3, targetOccupancy: Long = 1024L): Int = {
    def keyBits(k: Int): Int = {
      val m = k - maxDist // chunks per blocking key
      blockWidths(k).sorted.take(m).sum // worst (smallest) subset key
    }
    var k = maxDist + 1
    while (k < maxDist + 5 &&
      (n >> math.min(62, keyBits(k))) > targetOccupancy) k += 1
    k
  }

  /** [[simhashPairs]] over an existing (id, simhash) fingerprint frame. */
  def simhashPairsFromFingerprints(fp: DataFrame, maxDist: Int = 3,
                                   nBlocks: Int = 4): DataFrame = {
    require(nBlocks > maxDist && nBlocks <= 64,
      s"pigeonhole blocking needs maxDist < nBlocks <= 64, got $nBlocks at d=$maxDist")
    val widths = blockWidths(nBlocks)
    val offsets = widths.scanLeft(0)(_ + _)
    def chunk(i: Int): Column =
      shiftright(col("simhash"), offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    // one blocking key per (nBlocks − maxDist)-subset of chunks: the
    // subset's chunk values packed into one long (≤ 64 − maxDist·minWidth
    // bits), tagged with the subset index — an 16-byte join key
    val subsets = (0 until nBlocks).combinations(nBlocks - maxDist).toSeq
    val keys = array(subsets.zipWithIndex.map { case (s, t) =>
      struct(lit(t).as("tbl"),
        s.foldLeft(lit(0L)) { (acc, i) =>
          shiftleft(acc, widths(i)).bitwiseOR(chunk(i))
        }.as("kv"))
    }: _*)
    val keyed = fp.select(col("id"), col("simhash"), explode(keys).as("e"))
      .select(col("id"), col("simhash"), col("e.tbl").as("tbl"), col("e.kv").as("kv"))
    val l = keyed.toDF("ida", "ha", "tbl", "kv")
    val r = keyed.toDF("idb", "hb", "tbl", "kv")
    l.join(r, Seq("tbl", "kv"))
      .where(col("ida") < col("idb"))
      .select("ida", "idb", "ha", "hb").distinct()
      .withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("dist") <= maxDist)
      .select("ida", "idb", "dist")
  }

  /** Connected components over an undirected pair graph — the clustering
    * step a dedup pipeline runs AFTER near-dup pair generation: pairs
    * (A,B),(B,C) must collapse to one keep-doc even though (A,C) was
    * never emitted. Returns (id, component) for every vertex that
    * appears in a pair, component = the MINIMUM id reachable from it
    * (so the component label doubles as the canonical keep-id).
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    *   (1) pulls the min label over each vertex's neighborhood (one
    *       shuffle of 16-byte (vertex, label) rows along edges), then
    *   (2) shortcuts label(v) ← label(label(v)) (one self-join of the
    *       label table — path halving).
    * The jump step gives O(log n) rounds on chain-shaped components
    * (plain propagation needs O(diameter)); near-dup graphs are mostly
    * LSH-verified quasi-cliques that converge in 2-3 rounds. Rounds are
    * driver-side but each moves only (id, label) pairs — never text,
    * never the pair list squared. Convergence is detected by the sum of
    * labels (labels only decrease; the sum is stationary exactly at the
    * fixpoint); `maxIter` bounds the loop and non-convergence THROWS
    * rather than returning a silently-partial clustering. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          aCol: String = "ida", bCol: String = "idb",
                          driverEdgeCap: Long = 4000000L): DataFrame = {
    val edges = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .union(pairs.select(col(bCol).as("a"), col(aCol).as("b")))
      .distinct()
      .persist()
    // Small-graph fast path: the distributed loop costs O(log n) full job
    // rounds — pure scheduling overhead when the edge list fits in one
    // task. Below the cap (4M directed edges = 64 MB of longs — a BOUNDED
    // collect, like every other driver-side read in this engine) run
    // union-find on the driver in one pass; identical output (component =
    // min reachable id). Near-dup graphs above the cap take the
    // distributed pointer-jumping loop unchanged. ONE bounded take(cap+1)
    // both sizes the graph and fetches it (the previous count()+collect()
    // pair cost a second serial job for the same rows).
    val capFits = driverEdgeCap >= 0 && driverEdgeCap < Int.MaxValue - 1
    val taken =
      if (capFits) edges.take(driverEdgeCap.toInt + 1)
      else Array.empty[org.apache.spark.sql.Row]
    if (capFits && taken.length <= driverEdgeCap) {
      val spark = pairs.sparkSession
      val parent = new scala.collection.mutable.HashMap[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      taken.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min-label union
      }
      val rows = parent.keysIterator.map(v => (v, find(v))).toSeq
      edges.unpersist()
      import spark.implicits._
      return rows.toDF("v", "comp")
    }
    var comp = edges.select(col("a").as("v")).distinct()
      .withColumn("comp", col("v"))
      .persist()
    // decimal(38,0) sum: exact at any id magnitude/count, monotone
    // decreasing, stationary iff converged — one scalar per round instead
    // of a change-count join
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("comp").cast("decimal(38,0)"))).collect()(0)
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var sum0 = labelSum(comp)
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      val nbrMin = edges.join(comp.withColumnRenamed("v", "b"), "b")
        .groupBy(col("a").as("v")).agg(min(col("comp")).as("nmin"))
      val pulled = comp.join(nbrMin, Seq("v"), "left")
        .select(col("v"), least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
      // pointer jump: comp(v) <- comp(comp(v)) (roots map to themselves,
      // so the inner self-join is total). One jump per round measured
      // best: a second jump halves the round count but AQE splits its
      // extra joins into as many additional sub-jobs as it saves.
      val jumped0 = pulled.as("c1")
        .join(pulled.as("c2"), col("c1.comp") === col("c2.v"))
        .select(col("c1.v").as("v"), col("c2.comp").as("comp"))
      // localCheckpoint TRUNCATES THE LINEAGE, not just caches: the
      // self-join doubles the logical plan every round, and without the
      // cut, round k re-optimizes a 2^k-node plan (measured: the analyze
      // phase, not the data, dominated after ~8 rounds). A long-lived
      // production loop would use reliable checkpointing to survive
      // executor loss; for this driver-bounded loop the local variant's
      // tradeoff is right.
      val jumped = jumped0.localCheckpoint(true)
      val sum1 = labelSum(jumped)
      comp.unpersist()
      comp = jumped
      converged = sum1.compareTo(sum0) == 0
      sum0 = sum1
      iter += 1
    }
    edges.unpersist()
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    org.slf4j.LoggerFactory.getLogger(getClass)
      .info(s"connectedComponents converged in $iter rounds")
    comp
  }

  /** Transitive near-dup dedup decision: cluster the pair graph and keep
    * the minimum id per component — (doc_id, keep_id, is_kept) for every
    * doc that appears in at least one pair. Docs in no pair are their own
    * keepers and are not listed (a left join against this table applies
    * the decision corpus-wide without materializing the identity rows). */
  def dedupClusters(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .select(col("v").as("doc_id"), col("comp").as("keep_id"),
        (col("v") === col("comp")).as("is_kept"))

  /** Apply a cluster decision corpus-wide: drop every row whose id maps
    * to a component it does not lead. LEFT ANTI join against only the
    * dropped ids (the clusters table is pairs-sized, tiny next to the
    * corpus — AQE broadcasts it), so the corpus side is one narrow pass:
    * no corpus shuffle at any scale. */
  def applyDedup(df: DataFrame, clusters: DataFrame,
                 idCol: String = "doc_id"): DataFrame =
    df.join(clusters.filter(!col("is_kept")).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")
}
