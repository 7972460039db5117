package graft.build

import graft.analysis.{Analyzers, TextAnalyzer}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import java.nio.file.{Files, Paths}

/** Global collection statistics needed by BM25 (reference semantics:
  * Lucene's per-index CollectionStatistics; we use one logical index —
  * SURVEY.md §2.8: N, df, avgdl with avgdl = sumTotalTermFreq/docCount
  * over UNquantized totals). */
final case class CorpusStats(docCount: Long, sumTotalTermFreq: Long) {
  def avgdl: Double = sumTotalTermFreq.toDouble / docCount
}

/** The index table bundle — the Spark-native equivalent of a committed
  * Lucene index (reference: IndexBucket/ShardBucket, Lucene.java:115-264):
  *
  *  - corpus:    docId + the original turn row (stored fields)
  *  - postings:  (term, docId, tf, norm, role, tool, ts) — one row per
  *               distinct (term, doc); `norm` is the Lucene-quantized
  *               length byte; role/tool/ts are denormalized so attribute
  *               FILTER legs are plain pushed-down scan predicates instead
  *               of a corpus join (the analogue of Lucene keeping doc
  *               values colocated with each segment)
  *  - termStats: (term, df, cf)
  *  - stats:     global docCount / sumTotalTermFreq
  */
final case class Index(
    corpus: DataFrame,
    postings: DataFrame,
    termStats: DataFrame,
    stats: CorpusStats,
    analyzerName: String,
    segments: Option[DataFrame] = None,
    segSize: Int = Segments.DefaultSegSize) {
  def analyzer: TextAnalyzer = Analyzers.byName(analyzerName)

  /** Whether the postings carry per-term position lists (built
    * `withPositions` — the proximity data phrase queries require). */
  def hasPositions: Boolean = postings.columns.contains("positions")

  private var dictionaryCap: Int = TermDictionary.Cap

  /** This generation's term dictionary on the driver — the analogue of
    * Lucene's in-memory terms index, which a query reads its per-term
    * statistics from at plan time — or None when `termStats` has more
    * than [[TermDictionary.Cap]] rows (queries then keep their pushed
    * dictionary scans). Read lazily by the first query that needs it: one
    * bounded collect per generation, never by a build or `load`. A read
    * that fails (a cancelled search) leaves it unread, and the next query
    * reads again. An index never changes, so no query re-reads it; a
    * mutation returns a new generation with its own dictionary. */
  private[graft] lazy val dictionary: Option[TermDictionary] =
    TermDictionary.read(termStats, dictionaryCap)

  /** A copy of this generation whose [[dictionary]] holds at most `cap`
    * terms — the seam tests use to run the over-cap fallback. */
  private[graft] def withDictionaryCap(cap: Int): Index = {
    val c = copy()
    c.dictionaryCap = cap
    c
  }

  /** Drop every cached table of this bundle. The ownership rule: the
    * caller owns what an operator returns, and no operator releases its
    * input — so whoever replaces a generation (a mutation chain, the
    * close() of IndexRegistry.drop/clear) releases the old one here.
    * No-op for tables that were never persisted; the bundle itself stays
    * queryable afterwards, recomputing from lineage/storage. Corpus
    * inclusion is optional because the corpus cache is minted by
    * DocIds.assign and may be shared by other bundles built over it. */
  def unpersistAll(includeCorpus: Boolean = true): Unit = {
    postings.unpersist()
    termStats.unpersist()
    segments.foreach(_.unpersist())
    if (includeCorpus) corpus.unpersist()
    ()
  }
}

/** (term, df) of every indexed term as two parallel arrays, terms sorted
  * in Spark's string order (UTF-8 bytes, i.e. code points) — no boxed
  * map. Driver memory is about 60 B per term plus the term's characters
  * (a compact `String` and its array slot, one `long`): about 16 MB for
  * 8-character terms at [[TermDictionary.Cap]]. */
final class TermDictionary private (terms: Array[String], dfs: Array[Long]) {

  /** df of `term`, when the index holds it (string equality, as a
    * lookup in the collected termStats rows). */
  def df(term: String): Option[Long] = {
    import scala.collection.Searching.Found
    scala.collection.immutable.ArraySeq.unsafeWrapArray(terms)
      .search(term)(TermDictionary.Utf8Order) match {
      case Found(i) => Some(dfs(i))
      case _        => None
    }
  }

  /** Every (term, df) in term order — the dictionary scan of a
    * multi-term rewrite. */
  def entries: Iterator[(String, Long)] = terms.iterator.zip(dfs.iterator)
}

object TermDictionary {

  /** Most terms an index holds on the driver. */
  val Cap: Int = 1 << 18

  /** Spark's string order — UTF-8 byte order — which is code point
    * order. Java's `compareTo` orders UTF-16 units instead, which puts a
    * supplementary character before U+E000–U+FFFF. */
  val Utf8Order: Ordering[String] = (a, b) => {
    var i = 0
    var c = 0
    while (c == 0 && i < a.length && i < b.length) {
      val x = a.codePointAt(i)
      c = Integer.compare(x, b.codePointAt(i))
      i += Character.charCount(x)
    }
    if (c != 0) c else Integer.compare(a.length, b.length)
  }

  /** The dictionary of `termStats` (term, df, …): one
    * `limit(cap + 1).collect()`; None when it has more than `cap` rows. */
  private[build] def read(termStats: DataFrame, cap: Int): Option[TermDictionary] = {
    val rows = termStats.select("term", "df").limit(cap + 1).collect()
    Option.when(rows.length <= cap) {
      // a null term matches no query term
      val sorted = rows.collect { case r if !r.isNullAt(0) => (r.getString(0), r.getLong(1)) }
        .sortBy(_._1)(Utf8Order)
      new TermDictionary(sorted.map(_._1), sorted.map(_._2))
    }
  }
}

object IndexBuilder {

  /** Read one long metric off a completed Observation, defaulting when
    * the metric is absent or null. Absence is REAL: when an observed
    * subtree is provably empty at plan time (e.g. a sample filter over a
    * tiny corpus), PropagateEmptyRelation folds the CollectMetrics node
    * away and the observation completes with a ZERO-FIELD row — so the
    * empty case must read as its aggregate's identity, not a crash. */
  private def obsLong(obs: Observation,
                      key: String, default: Long): Long = {
    // `future` completes when the observed action finishes (the public
    // blocking `get` throws on the zero-field row instead of defaulting)
    val row = scala.concurrent.Await.result(
      obs.future, scala.concurrent.duration.Duration.Inf)
    // the zero-field row carries no schema at all
    val i = Option(row.schema).map(_.fieldNames.indexOf(key)).getOrElse(-1)
    if (i < 0 || row.isNullAt(i)) default else row.getLong(i)
  }

  /** Target posting rows per shuffle partition for the salted postings
    * write — sized so a partition's sortWithinPartitions run (~80 B/row
    * unsafe row + sorter pointers ≈ 320 MB) stays inside one task's
    * execution memory share at the default heap. */
  val TargetShuffleRows: Long = 4000000L

  /** Salt buckets a hot term's postings are spread over in the sorted
    * postings write. */
  private val SaltBuckets = 16

  /** buildAndSave analyzes a 1-in-`SampleRate` doc sample to find hot
    * terms and estimate the posting volume. */
  private val SampleRate = 100

  /** Build the inverted index tables from a corpus with docIds.
    *
    * Shuffle plan (scale notes):
    *  - postings are built with NO shuffle at all: every occurrence of a
    *    term within a document sits in the same input row, so per-doc
    *    (term → tf) counting happens inside the analyze projection and
    *    explode(map) emits finished posting rows — a narrow pipeline that
    *    scales embarrassingly (Lucene counts per-doc tf in memory the
    *    same way while inverting a document)
    *  - termStats groupBy(term): the ONE shuffle, over distinct
    *    (term,doc) pairs, partial-aggregated map-side; a hot term arrives
    *    at its reducer as at most one pre-summed row per map partition —
    *    no skew
    * Salted repartitioning for hot terms applies to the sorted save
    * layout (see [[save]] / [[buildAndSave]]).
    */
  def build(corpusWithIds: DataFrame, analyzer: TextAnalyzer,
            withPositions: Boolean = false): Index = {
    // fromPostings persists the postings: stats, termStats, save and every
    // query reuse them — without it the analyze DAG re-runs per
    // downstream action. (For at-scale builds use buildAndSave, which
    // streams postings to storage instead of caching them.)
    fromPostings(corpusWithIds,
      analyzedPostings(postingsInput(corpusWithIds), analyzer,
        withPositions = withPositions),
      analyzer.name)
  }

  /** The corpus columns a batch posting row is made from: `docId, text`,
    * plus the denormalized `role, tool, ts` when the corpus has all
    * three. */
  private[build] def postingsInput(corpusWithIds: DataFrame): DataFrame = {
    val attrs = Seq("role", "tool", "ts")
    val keep = if (attrs.forall(corpusWithIds.columns.contains)) attrs else Nil
    corpusWithIds.select((Seq("docId", "text") ++ keep).map(col): _*)
  }

  /** The cached Index over a postings frame: persists `postings` and its
    * per-term stats table (term, df, cf) MEMORY_AND_DISK, then derives the
    * global stats in one collect — the action that materializes the
    * postings cache. The caller owns the returned caches (see
    * [[Index.unpersistAll]]); a caller replacing an older generation can
    * release that one once this returns. Shared by the in-memory build,
    * every Maintenance mutation and streaming compaction. */
  private[graft] def fromPostings(corpus: DataFrame, postings: DataFrame,
                                  analyzerName: String): Index = {
    postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val termStats = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val row = postings
      .agg(countDistinct(col("docId")).as("docCount"), sum(col("tf")).as("sttf"))
      .collect()(0)
    val stats =
      if (row.isNullAt(0) || row.isNullAt(1)) CorpusStats(0L, 0L)
      else CorpusStats(row.getLong(0), row.getLong(1))
    Index(corpus, postings, termStats, stats, analyzerName)
  }

  /** Analyzed narrow projection: one finished posting row per (doc, term)
    * — per-doc tf counted inside the projection, no shuffle. This is the
    * one place text becomes posting rows (batch build, at-scale build and
    * every streaming micro-batch).
    *
    * `input` has `docId` and `text`; every other input column is carried
    * through unchanged onto each of the doc's rows, after
    * `docId, norm, term, tf[, positions]` (batch builds carry
    * `role, tool, ts` — see [[postingsInput]]; streaming also carries the
    * natural key `conv_id, turn_idx`).
    *
    * `keepEmptyDocs = true` emits ONE sentinel row (term = null, tf =
    * null) for a doc whose text analyzes to zero tokens, so the at-scale
    * build can recover the exact Lucene docCount (docs with ≥1 term —
    * Terms.getDocCount semantics) from corpusCount − sentinelCount
    * without a distinct-docId shuffle over the whole postings table.
    *
    * `withPositions = true` additionally carries each term's Lucene
    * position list as a `positions: array<int>` column (tf ≡ its length)
    * — the proximity data phrase queries need (Lucene's .pos file; same
    * narrow no-shuffle pipeline, bigger rows). Stopword gaps and
    * synonym-shared positions come from the analyzer's positional mode. */
  private[graft] def analyzedPostings(input: DataFrame,
                                      analyzer: TextAnalyzer,
                                      keepEmptyDocs: Boolean = false,
                                      withPositions: Boolean = false): DataFrame = {
    val attrCols = input.columns.toSeq.filterNot(Set("docId", "text")).map(col)
    val normUdf = udf((positions: Int) => SmallFloat.intToByte4(positions))
    // Both UDFs return the per-doc groups as an ARRAY of (term, …)
    // tuples (encoded array<struct>) rather than a Scala Map: the array
    // is built in one pass over the LinkedHashMap entries, where the old
    // `asScala.toMap` rebuilt an immutable HashMap per document — pure
    // allocation in the hottest loop of the build (GC pressure is the
    // measured 32-thread work-inflation tax). `inline`/`inline_outer`
    // explodes array<struct> exactly as explode/explode_outer did the
    // map (one row per entry; one null row per empty doc when
    // keepEmptyDocs), with identical row order and values.
    val analyzeUdf =
      if (withPositions) udf((s: String) => {
        val a = analyzer.positional(if (s == null) "" else s)
        val posLists = new java.util.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
        var i = 0
        while (i < a.terms.length) {
          val t = a.terms(i)
          var buf = posLists.get(t)
          if (buf == null) { buf = scala.collection.mutable.ArrayBuffer.empty[Int]; posLists.put(t, buf) }
          buf += a.pos(i)
          i += 1
        }
        val arr = new Array[(String, Array[Int])](posLists.size())
        val it = posLists.entrySet().iterator()
        var j = 0
        while (it.hasNext) {
          val e = it.next()
          arr(j) = (e.getKey, e.getValue.toArray)
          j += 1
        }
        (arr, a.positions)
      })
      else udf((s: String) => {
        val a = analyzer(if (s == null) "" else s)
        val counts = new java.util.LinkedHashMap[String, Integer]()
        var i = 0
        while (i < a.terms.length) {
          // single-probe upsert (merge) instead of getOrDefault + put
          counts.merge(a.terms(i), Integer.valueOf(1),
            (x: Integer, y: Integer) => Integer.valueOf(x.intValue() + y.intValue()))
          i += 1
        }
        val arr = new Array[(String, Int)](counts.size())
        val it = counts.entrySet().iterator()
        var j = 0
        while (it.hasNext) {
          val e = it.next()
          arr(j) = (e.getKey, e.getValue)
          j += 1
        }
        (arr, a.positions)
      })
    val exploded =
      if (keepEmptyDocs) inline_outer(col("entries")) else inline(col("entries"))
    val rows = input
      .select(Seq(col("docId"), analyzeUdf(col("text")).as("a")) ++ attrCols: _*)
      .select(Seq(col("docId"), col("a._1").as("entries"), normUdf(col("a._2")).as("norm")) ++ attrCols: _*)
      .select((Seq(col("docId"), col("norm")) ++ attrCols :+ exploded): _*)
      .withColumnRenamed("_1", "term")
    if (withPositions)
      rows
        .withColumnRenamed("_2", "positions")
        .withColumn("tf", size(col("positions")))
        .withColumn("tf", when(col("term").isNull, lit(null)).otherwise(col("tf")).cast("int"))
        .select(Seq(col("docId"), col("norm"), col("term"), col("tf"), col("positions"))
          ++ attrCols: _*)
    else
      rows
        .withColumnRenamed("_2", "tf")
        .withColumn("tf", col("tf").cast("int"))
        .select(Seq(col("docId"), col("norm"), col("term"), col("tf"))
          ++ attrCols: _*)
  }

  /** The build a group was written by. */
  private[build] final case class BuildKey(analyzer: String, positions: Boolean, groups: Int)

  /** A published docId group: its build, its input — rows read (corpus
    * rows for [[buildAndSave]], posting rows for [[save]]) and their
    * [[inputHash]] — and its lineage counters: tokens (Σ tf), posting
    * rows, zero-token docs, and an order-free checksum (xor of
    * xxhash64(term, docId, tf) over the written rows). All are read off
    * the group write's observations. */
  private[build] final case class GroupManifest(group: Int, key: BuildKey, rows: Long,
      inputHash: Long, tokens: Long, postings: Long, emptyDocs: Long, checksum: Long)

  /** Xor of xxhash64 over every column of `df`'s rows: order-free. */
  private def inputHash(df: DataFrame): Column = bit_xor(xxhash64(df.columns.toSeq.map(col): _*))

  /** At-scale build: analyze → ONE salted shuffle → sorted parquet write
    * per docId group. Unlike build()+save(), this never materializes the
    * exploded posting rows into a deserialized cache — at 100 TB you
    * cannot hold the postings of a build in executor memory, and even
    * locally the cache write is the non-scaling step.
    * Passes over the data:
    *   1. a 1/`SampleRate` deterministic doc sample is analyzed to
    *      estimate hot terms (heavy-hitter sketch — a term whose sampled
    *      df clears threshold/SampleRate is salted) and the posting
    *      volume, which sets the shuffle partitions;
    *   2. each group's input rows and [[inputHash]], which a rerun
    *      compares with the group's manifest;
    *   3. per group, the full narrow analyze feeds the salted, sorted
    *      postings write ([[writeGroups]]) — the one shuffle;
    *   4. termStats aggregate over the WRITTEN columnar table, reading
    *      only (term, tf); the global stats add up the group manifests.
    *
    * One docId group: a group's write scans the whole input and keeps its
    * docId residue, so G groups read the corpus G times, serially — more
    * wait for that cost to be measured (ROADMAP item 7). Tests reach
    * several groups through [[buildInGroups]].
    *
    * Resume: `meta.json` is the one commit marker, removed before any
    * table is written and written last. Rerunning over a directory
    * without it keeps every group whose manifest matches the build
    * ([[BuildKey]]) and the group's input, and rebuilds the others. A
    * fresh directory, or one holding a complete index, is built in full.
    */
  def buildAndSave(corpusWithIds: DataFrame, analyzer: TextAnalyzer, dir: String,
                   hotDfThreshold: Long = 1000000L, writeCorpus: Boolean = true,
                   withPositions: Boolean = false): Index =
    buildInGroups(corpusWithIds, analyzer, dir, hotDfThreshold, writeCorpus, withPositions,
      groups = 1)

  /** [[buildAndSave]] over `groups` docId groups (tests). */
  private[build] def buildInGroups(corpusWithIds: DataFrame, analyzer: TextAnalyzer,
                                   dir: String, hotDfThreshold: Long, writeCorpus: Boolean,
                                   withPositions: Boolean, groups: Int): Index = {
    val spark = corpusWithIds.sparkSession
    val input = postingsInput(corpusWithIds)

    // heavy-hitter + volume estimate from one deterministic doc sample —
    // ONE job: the posting-row count (volume estimate) rides the same
    // action as the hot-term collect via an Observation on the pre-agg
    // frame, instead of a persist + second aggregate job (each small
    // serial job in this path idles every core at high parallelism)
    val sampled = input.filter(pmod(xxhash64(col("docId")), lit(SampleRate)) === 0)
    val sampleObs = Observation()
    val hotTerms = analyzedPostings(sampled, analyzer)
      .observe(sampleObs, count(lit(1)).as("rows"))
      .groupBy("term").agg(count(lit(1)).as("sdf"))
      .filter(col("sdf") * SampleRate >= hotDfThreshold)
      .select("term").collect().map(_.getString(0)).toSet
    val estPostings = obsLong(sampleObs, "rows", 0L) * SampleRate

    // Partition each group's salted shuffle by DATA VOLUME, not core
    // count: with partitions tied to parallelism, per-partition sort
    // volume grows linearly with the corpus until sortWithinPartitions
    // spills and the build turns superlinear (measured: 2.5× turns → 5.3×
    // the 8-core wall). ~TargetShuffleRows posting rows (~≤300 MB unsafe
    // rows) per partition keeps every sort in execution memory at any
    // corpus size, while the numShufflePartitions floor keeps every core
    // busy on small corpora.
    val n = math.max(spark.sessionState.conf.numShufflePartitions.toLong,
                     estPostings / groups / TargetShuffleRows + 1).toInt

    // each group's input rows and hash, its own job: an empty sample makes
    // adaptive execution drop the sample job's observed nodes. Zero-token
    // docs ride along as ONE null-term sentinel row each, so the exact
    // Lucene docCount (docs with ≥1 term) is the corpus rows − Σ emptyDocs
    // — no distinct-docId shuffle over the full postings table (every
    // term-partitioned partition sees most docIds, so a "distinct"
    // shuffles nearly the whole docId column); sumTotalTermFreq = Σ tokens
    // (sentinels carry tf null, which sum skips).
    val inputs = input.groupBy(pmod(col("docId"), lit(groups)).cast("int"))
      .agg(count(lit(1)), inputHash(input)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val manifests = writeGroups(dir, BuildKey(analyzer.name, withPositions, groups), input,
      analyzedPostings(_, analyzer, keepEmptyDocs = true, withPositions = withPositions),
      hotTerms, n, Some(g => inputs.getOrElse(g, (0L, 0L))))

    // ONE post-write job: the per-term stats table, aggregated from the
    // written columnar postings (reads only term + tf); no extra exchange
    // — the groupBy's own partitioning is kept
    val postings = readPostings(spark, dir)
    writeTermStats(postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf")), dir)
    val docCount = manifests.map(m => m.rows - m.emptyDocs).sum
    val stats =
      if (docCount == 0L) CorpusStats(0L, 0L)
      else CorpusStats(docCount, manifests.map(_.tokens).sum)
    if (writeCorpus) corpusWithIds.write.mode("overwrite").parquet(s"$dir/corpus")

    writeMeta(dir, analyzer.name, stats, groups)

    Index(corpusWithIds, postings, spark.read.parquet(s"$dir/termstats"),
      stats, analyzer.name)
  }

  /** Persist an in-memory index in the layout of [[buildAndSave]], through
    * the same writer: one docId group of salted, term-sorted postings (a
    * term is hot when its df ≥ `hotDfThreshold`), term-sorted termstats,
    * and `meta.json` last. It has nothing to resume: every group is
    * written. */
  def save(index: Index, dir: String, hotDfThreshold: Long = 1000000L,
           writeCorpus: Boolean = true): Unit = {
    val hotTerms = index.termStats
      .filter(col("df") >= hotDfThreshold)
      .select("term").collect().map(_.getString(0)).toSet
    writeGroups(dir, BuildKey(index.analyzerName, index.hasPositions, 1),
      index.postings, identity, hotTerms,
      index.corpus.sparkSession.sessionState.conf.numShufflePartitions, resumeFrom = None)
    // stored fields: when the corpus already lives in a source table the
    // rewrite is optional (Lucene must store fields; we have the table)
    if (writeCorpus) index.corpus.write.mode("overwrite").parquet(s"$dir/corpus")
    writeTermStats(index.termStats, dir)
    writeMeta(dir, index.analyzerName, index.stats, groups = 1)
  }

  /** The one postings writer, shared by [[buildAndSave]] and [[save]]:
    * `input` rows fall into `key.groups` docId groups (docId mod groups);
    * each group's rows become posting rows through `toPostings`, are
    * written ([[writePostings]]) to `postings/group=G`, and then get
    * `manifests/G.json` — the group's publish marker — whose counters are
    * observations on the write itself: no extra job.
    *
    * With `resumeFrom` (group → its input rows and [[inputHash]]) and
    * without `meta.json` in `dir`, a group whose manifest matches `key`
    * and its input is kept as it is. Every other manifest and group
    * directory is removed before anything is written: the manifests first, then
    * `meta.json` (a kill in between leaves a complete index that no rerun
    * resumes from). The caller writes `meta.json` last. Returns every
    * group's manifest, in group order. */
  private def writeGroups(dir: String, key: BuildKey, input: DataFrame,
                          toPostings: DataFrame => DataFrame, hotTerms: Set[String],
                          n: Int, resumeFrom: Option[Int => (Long, Long)]): Seq[GroupManifest] = {
    val fs = new Path(dir).getFileSystem(input.sparkSession.sparkContext.hadoopConfiguration)
    val meta = new Path(s"$dir/meta.json")
    def groupDir(g: Int) = s"$dir/postings/group=$g"
    val kept = resumeFrom.filterNot(_ => fs.exists(meta)).fold(Map.empty[Int, GroupManifest]) {
      in => (0 until key.groups).flatMap(readManifest(dir, _))
        .filter(m => m.key == key && in(m.group) == ((m.rows, m.inputHash)) &&
          fs.exists(new Path(groupDir(m.group))))
        .map(m => m.group -> m).toMap
    }
    def prune(sub: String, name: Int => String): Unit = {
      val p = new Path(s"$dir/$sub")
      val keep = kept.keySet.map(name)
      if (fs.exists(p))
        fs.listStatus(p).map(_.getPath).filterNot(c => keep(c.getName)).foreach(fs.delete(_, true))
    }
    prune("manifests", g => s"$g.json")
    fs.delete(meta, false)
    prune("postings", g => s"group=$g")
    fs.mkdirs(new Path(s"$dir/manifests"))

    (0 until key.groups).map { g =>
      kept.getOrElse(g, {
        val rowsObs = Observation()
        val writeObs = Observation()
        writePostings(
          toPostings(input.filter(pmod(col("docId"), lit(key.groups)) === g)
              .observe(rowsObs, count(lit(1)).as("rows"), inputHash(input).as("hash")))
            .observe(writeObs,
              sum(col("tf").cast("long")).as("tokens"),
              count(col("term")).as("postings"),
              count(when(col("term").isNull, lit(1))).as("emptyDocs"),
              bit_xor(xxhash64(col("term"), col("docId"), col("tf"))).as("checksum")),
          hotTerms, n, groupDir(g))
        val m = GroupManifest(g, key, obsLong(rowsObs, "rows", 0L), obsLong(rowsObs, "hash", 0L),
          obsLong(writeObs, "tokens", 0L), obsLong(writeObs, "postings", 0L),
          obsLong(writeObs, "emptyDocs", 0L), obsLong(writeObs, "checksum", 0L))
        writeManifest(dir, m)
        m
      })
    }
  }

  private def manifestPath(dir: String, g: Int): String = s"$dir/manifests/$g.json"

  private def writeManifest(dir: String, m: GroupManifest): Unit =
    graft.api.Json.writeFile(manifestPath(dir, m.group), JObject(
      "group" -> JInt(m.group), "analyzer" -> JString(m.key.analyzer),
      "positions" -> JBool(m.key.positions), "groups" -> JInt(m.key.groups),
      "rows" -> JLong(m.rows), "inputHash" -> JLong(m.inputHash),
      "tokens" -> JLong(m.tokens), "postings" -> JLong(m.postings),
      "emptyDocs" -> JLong(m.emptyDocs), "checksum" -> JLong(m.checksum)))

  /** Group `g`'s manifest, or None when absent or unreadable (cut short). */
  private[build] def readManifest(dir: String, g: Int): Option[GroupManifest] =
    scala.util.Try {
      val m = graft.api.Json.readFile(manifestPath(dir, g))
      def long(k: String): Long = graft.api.Json.long(m \ k).get
      val analyzer = m \ "analyzer" match {
        case JString(a) => a
        case other      => sys.error(s"analyzer: $other")
      }
      GroupManifest(g,
        BuildKey(analyzer, m \ "positions" == JBool(true), long("groups").toInt),
        long("rows"), long("inputHash"), long("tokens"), long("postings"), long("emptyDocs"),
        long("checksum"))
    }.toOption

  /** The saved postings layout: hash-distributed over `n` partitions on
    * (term, salt) — a hot term's rows are salted by docId across
    * `SaltBuckets` buckets so no single write task owns a Zipf head term;
    * other terms use salt 0 — and sorted by (term, docId) within each
    * partition, so parquet row-group min/max stats on `term` prune
    * query-term lookups. */
  private def writePostings(postings: DataFrame, hotTerms: Set[String], n: Int,
                            path: String): Unit = {
    val bHot = postings.sparkSession.sparkContext.broadcast(hotTerms)
    val isHot = udf((t: String) => bHot.value.contains(t))
    postings
      .withColumn("_salt",
        when(isHot(col("term")), pmod(hash(col("docId")), lit(SaltBuckets))).otherwise(lit(0)))
      .repartition(n, col("term"), col("_salt"))
      .drop("_salt")
      .sortWithinPartitions("term", "docId")
      .write.mode("overwrite").parquet(path)
  }

  /** The live postings of a saved index: every group as one table. The
    * null-term sentinel rows of zero-token docs (docCount bookkeeping) are
    * filtered at the scan. */
  private def readPostings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/postings").drop("group").filter(col("term").isNotNull)

  /** The saved termstats layout: sorted by term within each written file.
    * Queries read per-term statistics from the generation's driver-side
    * [[Index.dictionary]]; over its cap they fall back to pushed-down
    * dictionary scans (an `isin` per query for df, `rlike` and length
    * filters for multi-term rewrites), which parquet min/max stats on
    * `term` prune to about one row group per file. */
  private def writeTermStats(termStats: DataFrame, dir: String): Unit =
    termStats.sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$dir/termstats")

  /** The index's `meta.json` — analyzer, global stats and group count,
    * read back by [[load]] — and its commit marker, written last. */
  private def writeMeta(dir: String, analyzerName: String, stats: CorpusStats,
                        groups: Int): Unit =
    graft.api.Json.writeFile(s"$dir/meta.json", JObject(
      "analyzer" -> JString(analyzerName),
      "docCount" -> JLong(stats.docCount),
      "sumTotalTermFreq" -> JLong(stats.sumTotalTermFreq),
      "groups" -> JInt(groups),
      "version" -> JInt(2)))

  /** Load a persisted index. A directory without `meta.json` is an
    * incomplete build and is refused. The directory must contain a corpus
    * table (write with `writeCorpus = true`); corpus-less saves are
    * postings-only artifacts for throughput benchmarking. */
  def load(spark: SparkSession, dir: String): Index = {
    require(Files.exists(Paths.get(s"$dir/meta.json")),
      s"$dir has no meta.json: an incomplete build (rerun it to resume) or not an index")
    require(Files.exists(Paths.get(s"$dir/corpus")),
      s"$dir has no corpus table — saved with writeCorpus=false?")
    val meta = graft.api.Json.readFile(s"$dir/meta.json")
    def long(k: String): Long = graft.api.Json.long(meta \ k)
      .getOrElse(throw new IllegalArgumentException(s"missing $k in meta.json"))
    val analyzerName = meta \ "analyzer" match {
      case JString(a) => a
      case _          => throw new IllegalArgumentException("missing analyzer in meta.json")
    }
    Index(
      corpus = spark.read.parquet(s"$dir/corpus"),
      postings = readPostings(spark, dir),
      termStats = spark.read.parquet(s"$dir/termstats"),
      stats = CorpusStats(long("docCount"), long("sumTotalTermFreq")),
      analyzerName = analyzerName)
  }
}
