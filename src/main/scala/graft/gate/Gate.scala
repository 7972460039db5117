package graft.gate

import graft.analysis.Analyzers
import graft.build.{Index, IndexBuilder, Segments, SmallFloat}
import graft.model._
import graft.score.{QueryExec, Wand}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The driver-verified correctness gate: every operator exposed through
  * `SparkEntry.queries` with an equivalent DuckDB oracle SQL.
  *
  * The engine queries here run the REAL index/scoring pipeline
  * (IndexBuilder + QueryExec) over the driver's `documents` table adapted
  * to the transcript corpus shape (docId = doc_id, role := lang,
  * tool := source), with the SQL-expressible `simple` analyzer and the
  * exact (all-double) scoring mode so DuckDB can reproduce scores
  * bit-closely (round to 4 decimals on both sides). The full Lucene
  * analysis chain and float scoring are pinned separately by the
  * golden/oracle ScalaTest suites.
  */
object Gate {

  final case class GateQuery(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      sql: Option[String])

  // ---------- gate index over documents.parquet ----------

  private val indexCache = scala.collection.concurrent.TrieMap.empty[String, (Index, QueryExec)]

  def gate(spark: SparkSession, sfDir: String): (Index, QueryExec) =
    indexCache.getOrElseUpdate(sfDir, {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val corpus = docs.select(
        col("doc_id").as("docId"),
        col("doc_id").cast("string").as("conv_id"),
        lit(0).as("turn_idx"),
        col("lang").as("role"),
        col("text"),
        col("source").as("tool"),
        (lit(1767225600L) + col("doc_id") * 60).cast("timestamp").as("ts"))
      // build() has cached postings and termStats; nothing else caches this
      // projection of documents.parquet
      val idx0 = IndexBuilder.build(corpus, Analyzers.Simple, withPositions = true)
      val idx = idx0.copy(corpus = idx0.corpus.persist())
      (idx, new QueryExec(idx, exact = true))
    })

  private val segCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private val GateSegSize = 256

  /** Standing non-positional Simple index the maintenance gates mutate —
    * built once per sf dir, like [[gate]]'s query index: the reference's
    * /modify surface operates on a standing committed index, so the
    * maintenance queries time the mutation + rescore, not a from-scratch
    * rebuild of the pre-mutation index. A mutation leaves its input
    * cached, so the standing bundle serves the next maintenance call. */
  private val maintCache = scala.collection.concurrent.TrieMap.empty[String, Index]

  private def maintBase(spark: SparkSession, sfDir: String): Index =
    maintCache.getOrElseUpdate(sfDir, {
      val (shared, _) = gate(spark, sfDir)
      // build() materializes the postings cache via its stats aggregate
      IndexBuilder.build(shared.corpus, Analyzers.Simple)
    })

  /** Cache-ownership hook (round 4): drop every persisted frame this
    * object minted for `sfDir` — index tables, packed segments — so a
    * long-lived process importing Gate does not accumulate pinned
    * generations (the same leak class Maintenance fixed in round 3). The
    * next gate() call rebuilds from the parquet source. */
  def evict(sfDir: String): Unit = {
    segCache.remove(sfDir).foreach(_.unpersist())
    maintCache.remove(sfDir).foreach(_.unpersistAll(includeCorpus = false))
    indexCache.remove(sfDir).foreach { case (idx, _) =>
      idx.unpersistAll(includeCorpus = true)
    }
    PipelineGate.evict(sfDir)
  }

  /** Drop every cached generation (all sf dirs). */
  def evictAll(): Unit = {
    (indexCache.keySet ++ segCache.keySet).foreach(evict)
    PipelineGate.evictAll()
  }

  /** Packed segments over the gate index (small segSize so several
    * segments exist even on the 500-doc tables). */
  def gateSegments(spark: SparkSession, sfDir: String): DataFrame =
    segCache.getOrElseUpdate(sfDir, {
      val (idx, _) = gate(spark, sfDir)
      Segments.pack(idx.postings, idx.stats, GateSegSize).persist()
    })

  private def events(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")

  private def parse(text: String): Query =
    QueryText.parse(text, s => Analyzers.Simple(s).terms,
      analyzePos = s => Analyzers.Simple.positional(s))

  private def topKDf(spark: SparkSession, sfDir: String, text: String,
                     filters: Seq[AttrPredicate], k: Int,
                     after: Option[AfterToken] = None): DataFrame = {
    val (_, exec) = gate(spark, sfDir)
    exec.topK(parse(text), filters, k, after)
      .select(col("docId").as("doc_id"), round(col("score"), 4).as("score"))
  }

  // ---------- shared oracle-SQL prelude (DuckDB) ----------
  // Tokenization identical to Analyzers.Simple; SmallFloat length
  // quantization identical to graft.build.SmallFloat; BM25 identical to
  // QueryExec's exact mode (k1=1.2, b=0.75, all-double arithmetic).

  /** Mutation-oracle prelude: the same tokenize/quantize/score pipeline,
    * but over an arbitrary source relation (a CTE named by the caller) —
    * delete/add oracles replay the whole pipeline over the MUTATED
    * document set, proving the engine's stats recomputation (N, df,
    * avgdl all shift) after the mutation. */
  private def mutCte(from: String): String =
    s"""toks AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term
      |  FROM $from
      |), dl AS (
      |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
      |), dlq AS (
      |  SELECT doc_id, CASE WHEN dl < 8 THEN dl
      |    ELSE ((((dl >> (CAST(floor(log2(dl)) AS INT) - 3)) & 7) | 8) << (CAST(floor(log2(dl)) AS INT) - 3)) END AS dlq
      |  FROM dl
      |), stats AS (
      |  SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl
      |), post AS (
      |  SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id
      |), tstat AS (
      |  SELECT term, count(*) AS df FROM post GROUP BY term
      |), scores AS (
      |  SELECT p.term, p.doc_id,
      |    ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5)) * p.tf / (p.tf + 1.2 * (0.25 + 0.75 * q.dlq / s.avgdl)) AS tscore
      |  FROM post p JOIN dlq q USING (doc_id) JOIN tstat t USING (term) CROSS JOIN stats s
      |)""".stripMargin

  private val cte =
    "WITH " + mutCte("documents") + """, ptoks AS (
      |  SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) - 1 AS pos
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
      |        FROM documents)
      |)""".stripMargin

  private def sql(body: String): Option[String] = Some(s"$cte\n$body")

  // ---------- the queries ----------

  val all: Seq[GateQuery] = Seq(

    GateQuery("bm25_term",
      (s, d) => topKDf(s, d, "spark", Nil, 20),
      sql("""SELECT doc_id, round(tscore, 4) AS score FROM scores WHERE term = 'spark'
            |ORDER BY tscore DESC, doc_id LIMIT 20""".stripMargin)),

    // exact phrase over positional postings — MultiPhraseQuery semantics:
    // tf = number of base offsets where every slot aligns, weight = Σ idf
    // over the listed terms (graft.model.PhraseQuery; reference parses
    // quoted phrases through StandardQueryParser, DocumentMapping.java:120-146)
    GateQuery("bm25_phrase",
      (s, d) => topKDf(s, d, "\"spark merge\"", Nil, 20),
      sql("""SELECT doc_id, round(tscore, 4) AS score FROM (
            |  SELECT f.doc_id,
            |    (SELECT sum(ln(1 + (s2.n - t.df + 0.5) / (t.df + 0.5)))
            |     FROM tstat t CROSS JOIN stats s2 WHERE t.term IN ('spark', 'merge'))
            |      * f.tf / (f.tf + 1.2 * (0.25 + 0.75 * q.dlq / s.avgdl)) AS tscore
            |  FROM (SELECT a.doc_id, count(*) AS tf FROM ptoks a JOIN ptoks b
            |        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            |        WHERE a.term = 'spark' AND b.term = 'merge'
            |        GROUP BY a.doc_id) f
            |  JOIN dlq q USING (doc_id) CROSS JOIN stats s)
            |ORDER BY tscore DESC, doc_id LIMIT 20""".stripMargin)),

    // repeated-term phrase: the same term fills both slots, so the
    // MultiPhrase weight counts its idf once PER SLOT (2×) and overlapping
    // occurrences ("table table table" = freq 2) all count
    GateQuery("bm25_phrase_rep",
      (s, d) => topKDf(s, d, "\"table table\"", Nil, 20),
      sql("""SELECT doc_id, round(tscore, 4) AS score FROM (
            |  SELECT f.doc_id,
            |    (SELECT 2 * ln(1 + (s2.n - t.df + 0.5) / (t.df + 0.5))
            |     FROM tstat t CROSS JOIN stats s2 WHERE t.term = 'table')
            |      * f.tf / (f.tf + 1.2 * (0.25 + 0.75 * q.dlq / s.avgdl)) AS tscore
            |  FROM (SELECT a.doc_id, count(*) AS tf FROM ptoks a JOIN ptoks b
            |        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
            |        WHERE a.term = 'table' AND b.term = 'table'
            |        GROUP BY a.doc_id) f
            |  JOIN dlq q USING (doc_id) CROSS JOIN stats s)
            |ORDER BY tscore DESC, doc_id LIMIT 20""".stripMargin)),

    // sloppy phrase (round 5): "spark merge"~2 — per-anchor greedy
    // nearest-occurrence matching (model.PhraseQuery doc); for a 2-term
    // phrase matchLength = |Δactual − Δexpected|, exactly Lucene's cost
    // (a transposition costs 2). Fractional freq = Σ 1/(1+ml) over
    // matching anchors; the oracle replays the fold SEQUENTIALLY in
    // anchor order (list_reduce over an ORDER BY b0 list) so the double
    // accumulation is bit-equal, then scores with Σ idf like bm25_phrase.
    GateQuery("bm25_phrase_slop",
      (s, d) => topKDf(s, d, "\"spark merge\"~2", Nil, 20),
      sql("""SELECT doc_id, round(tscore, 4) AS score FROM (
            |  SELECT f.doc_id,
            |    (SELECT sum(ln(1 + (s2.n - t.df + 0.5) / (t.df + 0.5)))
            |     FROM tstat t CROSS JOIN stats s2 WHERE t.term IN ('spark', 'merge'))
            |      * f.tf / (f.tf + 1.2 * (0.25 + 0.75 * q.dlq / s.avgdl)) AS tscore
            |  FROM (
            |    SELECT doc_id, list_reduce(list_prepend(0.0::DOUBLE,
            |        list(1.0::DOUBLE / (1 + abs(d)) ORDER BY b0)),
            |      (acc, x) -> acc + x) AS tf
            |    FROM (
            |      SELECT a.doc_id, a.pos AS b0, (b.pos - 1) - a.pos AS d,
            |        row_number() OVER (PARTITION BY a.doc_id, a.pos
            |          ORDER BY abs((b.pos - 1) - a.pos), (b.pos - 1) - a.pos) AS rk
            |      FROM ptoks a JOIN ptoks b ON b.doc_id = a.doc_id AND b.term = 'merge'
            |      WHERE a.term = 'spark')
            |    WHERE rk = 1 AND abs(d) <= 2 GROUP BY doc_id) f
            |  JOIN dlq q USING (doc_id) CROSS JOIN stats s)
            |ORDER BY tscore DESC, doc_id LIMIT 20""".stripMargin)),

    GateQuery("bm25_or",
      (s, d) => topKDf(s, d, "spark merge", Nil, 20),
      sql("""SELECT doc_id, round(score, 4) AS score FROM (
            |  SELECT doc_id, sum(tscore) AS score FROM scores
            |  WHERE term IN ('spark','merge') GROUP BY doc_id)
            |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    GateQuery("bm25_and",
      (s, d) => topKDf(s, d, "+spark +vector", Nil, 20),
      sql("""SELECT doc_id, round(score, 4) AS score FROM (
            |  SELECT doc_id, sum(tscore) AS score, count(DISTINCT term) AS nt FROM scores
            |  WHERE term IN ('spark','vector') GROUP BY doc_id)
            |WHERE nt = 2 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    GateQuery("bm25_not",
      (s, d) => topKDf(s, d, "+merge -spark", Nil, 20),
      sql("""SELECT s.doc_id, round(s.tscore, 4) AS score FROM scores s
            |WHERE s.term = 'merge'
            |  AND s.doc_id NOT IN (SELECT doc_id FROM post WHERE term = 'spark')
            |ORDER BY s.tscore DESC, s.doc_id LIMIT 20""".stripMargin)),

    GateQuery("bm25_pure_not",
      // prohibited-only boolean matches NOTHING (Lucene BooleanQuery with
      // only MUST_NOT clauses; the reference's MatchAll fallback applies
      // only to EMPTY queries, SearchBucket.java:636-642)
      (s, d) => topKDf(s, d, "-spark", Nil, 20),
      Some("""SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
             |WHERE 1 = 0 ORDER BY doc_id LIMIT 20""".stripMargin)),

    GateQuery("bm25_filter_lang",
      (s, d) => topKDf(s, d, "spark", Seq(FieldEquals("role", "en")), 20),
      sql("""SELECT s.doc_id, round(s.tscore, 4) AS score
            |FROM scores s JOIN documents doc ON doc.doc_id = s.doc_id
            |WHERE s.term = 'spark' AND doc.lang = 'en'
            |ORDER BY s.tscore DESC, s.doc_id LIMIT 20""".stripMargin)),

    GateQuery("bm25_filter_source_in",
      (s, d) => topKDf(s, d, "merge",
        Seq(FieldIn("tool", Seq("src1", "src2", "src3"))), 20),
      sql("""SELECT s.doc_id, round(s.tscore, 4) AS score
            |FROM scores s JOIN documents doc ON doc.doc_id = s.doc_id
            |WHERE s.term = 'merge' AND doc.source IN ('src1','src2','src3')
            |ORDER BY s.tscore DESC, s.doc_id LIMIT 20""".stripMargin)),

    GateQuery("bm25_page2",
      (s, d) => {
        // keyset pagination: run page 1 (k=10), continue after its last hit
        val (_, exec) = gate(s, d)
        val p1 = exec.topK(parse("spark"), Nil, 10).collect()
        // exact mode keeps double scores; keyset token carries the double
        val afterD = p1.lastOption.map(r => (r.getLong(0), r.getDouble(1)))
        val m = exec.matches(parse("spark"), Nil)
        val paged = afterD match {
          case Some((id, sc)) => m.filter(col("score") < lit(sc) ||
            (col("score") === lit(sc) && col("docId") > lit(id)))
          case None => m
        }
        paged.orderBy(col("score").desc, col("docId").asc).limit(10)
          .select(col("docId").as("doc_id"), round(col("score"), 4).as("score"))
      },
      sql("""SELECT doc_id, round(tscore, 4) AS score FROM scores WHERE term = 'spark'
            |ORDER BY tscore DESC, doc_id LIMIT 10 OFFSET 10""".stripMargin)),

    GateQuery("bm25_fielded",
      // field-qualified keyword term inside a scored boolean: `role:en`
      // contributes a constant 1.0 SHOULD clause next to the BM25 term
      (s, d) => topKDf(s, d, "merge role:en", Nil, 20),
      sql("""SELECT doc_id, round(score, 4) AS score FROM (
            |  SELECT doc_id, sum(sc) AS score FROM (
            |    SELECT doc_id, tscore AS sc FROM scores WHERE term = 'merge'
            |    UNION ALL
            |    SELECT doc_id, 1.0 AS sc FROM documents WHERE lang = 'en')
            |  GROUP BY doc_id)
            |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    GateQuery("bm25_fielded_must",
      // fielded terms as MUST and MUST_NOT legs: +merge +role:en -tool:src0
      (s, d) => topKDf(s, d, "+merge +role:en -tool:src0", Nil, 20),
      sql("""SELECT s.doc_id, round(s.tscore + 1.0, 4) AS score
            |FROM scores s JOIN documents d ON d.doc_id = s.doc_id
            |WHERE s.term = 'merge' AND d.lang = 'en' AND d.source <> 'src0'
            |ORDER BY score DESC, s.doc_id LIMIT 20""".stripMargin)),

    // StandardQueryParser boolean structure (reference parses user query
    // strings with full Lucene syntax, DocumentMapping.java:120-146):
    // parens group, uppercase AND binds operands to MUST
    GateQuery("bm25_grouped",
      (s, d) => topKDf(s, d, "(spark OR merge) AND vector", Nil, 20),
      sql("""SELECT doc_id, round(score, 4) AS score FROM (
            |  SELECT doc_id, sum(tscore) AS score,
            |    max(CASE WHEN term IN ('spark','merge') THEN 1 ELSE 0 END) AS g0,
            |    max(CASE WHEN term = 'vector' THEN 1 ELSE 0 END) AS g1
            |  FROM scores WHERE term IN ('spark','merge','vector') GROUP BY doc_id)
            |WHERE g0 = 1 AND g1 = 1
            |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // `^N` boost on a term — Lucene BoostQuery folds the boost into the
    // leaf weight (weight = boost × idf), so the oracle multiplies the
    // idf BEFORE the tf normalization, in the engine's exact op order
    GateQuery("bm25_boost_term",
      (s, d) => topKDf(s, d, "spark^2 merge", Nil, 20),
      sql("""SELECT doc_id, round(score, 4) AS score FROM (
            |  SELECT p.doc_id, sum(
            |    (CASE WHEN p.term = 'spark' THEN 2.0 ELSE 1.0 END
            |       * ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5)))
            |    * p.tf / (p.tf + 1.2 * (0.25 + 0.75 * q.dlq / s.avgdl))) AS score
            |  FROM post p JOIN dlq q USING (doc_id) JOIN tstat t USING (term)
            |  CROSS JOIN stats s
            |  WHERE p.term IN ('spark','merge') GROUP BY p.doc_id)
            |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // boost on a GROUP distributes into its leaves (BooleanWeight passes
    // its boost to every scoring sub-weight) and composes with a MUST leg
    GateQuery("bm25_boost_group",
      (s, d) => topKDf(s, d, "(spark merge)^2 +vector", Nil, 20),
      sql("""SELECT doc_id, round(score, 4) AS score FROM (
            |  SELECT p.doc_id, sum(
            |    (CASE WHEN p.term IN ('spark','merge') THEN 2.0 ELSE 1.0 END
            |       * ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5)))
            |    * p.tf / (p.tf + 1.2 * (0.25 + 0.75 * q.dlq / s.avgdl))) AS score,
            |    max(CASE WHEN p.term = 'vector' THEN 1 ELSE 0 END) AS m0
            |  FROM post p JOIN dlq q USING (doc_id) JOIN tstat t USING (term)
            |  CROSS JOIN stats s
            |  WHERE p.term IN ('spark','merge','vector') GROUP BY p.doc_id)
            |WHERE m0 = 1
            |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // boost on a constant-score fielded leg: the clause scores `boost`
    // instead of 1.0 next to a BM25 term (recursive union path)
    GateQuery("bm25_boost_field",
      (s, d) => topKDf(s, d, "tool:src1^3 spark", Nil, 20),
      sql("""SELECT doc_id, round(score, 4) AS score FROM (
            |  SELECT doc_id, sum(sc) AS score FROM (
            |    SELECT doc_id, tscore AS sc FROM scores WHERE term = 'spark'
            |    UNION ALL
            |    SELECT doc_id, 3.0 AS sc FROM documents WHERE source = 'src1')
            |  GROUP BY doc_id)
            |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    GateQuery("range_value_double",
      // double-range predicate (reference: SearchBucket.java:568-589),
      // lower inclusive / upper exclusive, pushed to the parquet scan
      (s, d) => events(s, d)
        .filter(graft.score.Predicates.toColumn(
          NumRange("value", 50.0, 150.0, loInc = true, hiInc = false)))
        .select("event_id", "value")
        .orderBy("event_id").limit(500),
      Some("""SELECT event_id, value FROM events
             |WHERE value >= 50.0 AND value < 150.0
             |ORDER BY event_id LIMIT 500""".stripMargin)),

    GateQuery("range_exact_or_enclosing",
      // exact-or-enclosing-range numeric predicate (reference:
      // SearchBucket.java:498-542): value == probe OR [bot, top] ∋ probe
      (s, d) => {
        val ev = events(s, d)
          .withColumn("vbot", col("value") - 25.0)
          .withColumn("vtop", col("value") + 25.0)
        ev.filter(graft.score.Predicates.toColumn(
            ExactOrEnclosing("value", "vbot", "vtop", 100.0)))
          .select("event_id", "value")
          .orderBy("event_id").limit(500)
      },
      Some("""SELECT event_id, value FROM events
             |WHERE value = 100.0 OR (value - 25.0 <= 100.0 AND value + 25.0 >= 100.0)
             |ORDER BY event_id LIMIT 500""".stripMargin)),

    GateQuery("ts_range_dates",
      // long/date range with the reference's minute-precision upper bound
      // (SearchBucket.java:347-357 via Dates.parseUpperMs: +59,999 ms so
      // an upper bound given as yyyyMMddHHmm includes its whole minute);
      // inclusive both ends, pushed to the parquet scan
      (s, d) => events(s, d)
        .filter(graft.score.Predicates.toColumn(TsRange(
          Dates.parseMs("202401050000"), Dates.parseUpperMs("202401052359"))))
        .select("event_id", "user_id")
        .orderBy("event_id").limit(500),
      Some("""SELECT event_id, user_id FROM events
             |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
             |  AND ts <= TIMESTAMP '2024-01-05 23:59:59.999'
             |ORDER BY event_id LIMIT 500""".stripMargin)),

    GateQuery("si_units",
      // SI shadow fields (reference: Lucene.java:1650-1692): a unit alias
      // column drives per-row conversion; raw doubles compare bit-equal
      // between Spark and DuckDB (same IEEE ops)
      (s, d) => {
        val unit = when(col("event_type") === "purchase", "eV")
          .when(col("event_type") === "error", "celsius")
          .otherwise("K")
        graft.build.Units.withSiColumns(
            events(s, d).withColumn("unit", unit), "unit", Seq("value"))
          .select("event_id", "unitsSI", "valueSI")
          .orderBy("event_id").limit(500)
      },
      Some("""SELECT event_id,
             |  CASE WHEN event_type = 'purchase' THEN 'J' ELSE 'K' END AS "unitsSI",
             |  CASE WHEN event_type = 'purchase' THEN value * 1.602176634e-19
             |       WHEN event_type = 'error' THEN value + 273.15
             |       ELSE value END AS "valueSI"
             |FROM events ORDER BY event_id LIMIT 500""".stripMargin)),

    GateQuery("rollup_conv",
      // per-parent rollup through the real corpus (the aggregateFiles
      // analogue, Lucene.java:639-720); parent := tool (source)
      (s, d) => {
        val (idx, _) = gate(s, d)
        graft.build.Maintenance.rollup(idx.corpus, "tool")
          .select("tool", "turn_count", "total_chars")
          .orderBy("tool")
      },
      Some("""SELECT source AS tool, count(*) AS turn_count,
             |  CAST(sum(length(text)) AS BIGINT) AS total_chars
             |FROM documents GROUP BY source ORDER BY tool""".stripMargin)),

    GateQuery("maint_delete_rescore",
      // delete-by-id then re-score (reference: LongPoint exact delete,
      // Lucene.java:301-317; IndexWriter.commit visibility): docs from
      // source 'src0' are deleted and a term query re-scored against the
      // SURVIVING index — N, df and avgdl all shift, so the oracle replays
      // the whole pipeline over the filtered document set
      (s, d) => {
        import s.implicits._
        val idx = maintBase(s, d)
        val delIds = idx.corpus.filter(col("tool") === "src0")
          .select("docId").as[Long].collect().toSeq
        val after = graft.build.Maintenance.deleteDocs(idx, delIds)
        val out = new QueryExec(after, exact = true).topK(TermQuery("spark"), Nil, 20)
          .select(col("docId").as("doc_id"), round(col("score"), 4).as("score"))
        val rows = out.collect().toSeq
        after.unpersistAll(includeCorpus = false) // transient mutation result
        s.createDataFrame(s.sparkContext.parallelize(rows), out.schema)
      },
      Some(s"""WITH fdocs AS (SELECT * FROM documents WHERE source <> 'src0'),
              |${mutCte("fdocs")}
              |SELECT doc_id, round(tscore, 4) AS score FROM scores WHERE term = 'spark'
              |ORDER BY tscore DESC, doc_id LIMIT 20""".stripMargin)),

    GateQuery("maint_add_rescore",
      // create/append (reference: modify create, Lucene.java:599-622):
      // five new short docs are appended (ids continue after the current
      // max in stable (conv_id, turn_idx) order) and the same term query
      // re-scored — the added docs change df/avgdl AND enter the top-k
      (s, d) => {
        import s.implicits._
        val idx = maintBase(s, d)
        val newTurns = (0 until 5).map(i => graft.model.Turn(f"zz-conv-$i%02d", 0,
          "xx", "spark table spark merge", None,
          new java.sql.Timestamp(1767225600000L))).toDS()
        val minted = graft.corpus.DocIds.forTurns(newTurns)
        val after = graft.build.Maintenance.addMinted(idx, minted)
        val out = new QueryExec(after, exact = true).topK(TermQuery("spark"), Nil, 20)
          .select(col("docId").as("doc_id"), round(col("score"), 4).as("score"))
        val rows = out.collect().toSeq
        after.unpersistAll(includeCorpus = false) // transient mutation result
        minted.unpersist()
        s.createDataFrame(s.sparkContext.parallelize(rows), out.schema)
      },
      Some(s"""WITH fdocs AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT (SELECT max(doc_id) FROM documents) + i AS doc_id,
              |    'spark table spark merge' AS text
              |  FROM generate_series(1, 5) AS t(i)),
              |${mutCte("fdocs")}
              |SELECT doc_id, round(tscore, 4) AS score FROM scores WHERE term = 'spark'
              |ORDER BY tscore DESC, doc_id LIMIT 20""".stripMargin)),

    GateQuery("maint_update_relation",
      // updateByRelation denormalization (reference: Lucene.java:1846-1939
      // — parent-entity change rewrites flattened fields on all children):
      // a dimension keyed by tool rewrites the role column corpus-wide
      (s, d) => {
        val (idx, _) = gate(s, d)
        val dim = idx.corpus.select(col("tool")).distinct()
          .withColumn("role", concat(lit("x"), col("tool")))
        graft.build.Maintenance.updateByRelation(idx.corpus, dim, "tool", Seq("role"))
          .select(col("docId").as("doc_id"), col("role"))
          .orderBy("doc_id").limit(500)
      },
      // null-key semantics: updateByRelation's left join + coalesce keeps
      // the ORIGINAL value when the join key is NULL — the oracle must too
      Some("""SELECT doc_id,
             |  CASE WHEN source IS NULL THEN lang ELSE 'x' || source END AS role
             |FROM documents ORDER BY doc_id LIMIT 500""".stripMargin)),

    GateQuery("maint_prune_update",
      // pruneDocument + updateDocumentFields (reference: Lucene.java:
      // 1706-1750): tool pruned (nulled) on docs 0-9, role replaced on
      // docs 5-14 — overlapping targets prove per-field independence
      (s, d) => {
        val (idx, _) = gate(s, d)
        val pruned = graft.build.Maintenance.pruneFields(
          idx.corpus, (0L to 9L).toSeq, Seq("tool"))
        val updated = graft.build.Maintenance.updateFields(
          pruned, (5L to 14L).toSeq, Map("role" -> "zz"))
        updated.filter(col("docId") < 20)
          .select(col("docId").as("doc_id"), col("role"), col("tool"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id BETWEEN 5 AND 14 THEN 'zz' ELSE lang END AS role,
             |  CASE WHEN doc_id <= 9 THEN NULL ELSE source END AS tool
             |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin)),

    GateQuery("topk_sort_role",
      // generalized typed field sort through the engine (role asc, ts
      // desc, docId tiebreak); gate ts is monotone in doc_id
      (s, d) => {
        val (_, exec) = gate(s, d)
        exec.topKSorted(MatchAll, Nil, SortSpec(Seq(("role", true), ("ts", false))), 20)
          .select(col("docId").as("doc_id"), col("role"))
      },
      Some("""SELECT doc_id, lang AS role FROM documents
             |ORDER BY lang, doc_id DESC LIMIT 20""".stripMargin)),

    GateQuery("topk_sort_page2",
      // keyset pagination through a multi-field sort: page 2 driven by the
      // page-1 after-token (ts travels as epoch ms, the wire shape)
      (s, d) => {
        val (_, exec) = gate(s, d)
        val sort = SortSpec(Seq(("role", true), ("ts", false)))
        val p1 = exec.topKSorted(MatchAll, Nil, sort, 20).collect()
        val last = p1.last
        val tok = AfterToken(last.getLong(0), None,
          Seq(last.getString(2), last.getTimestamp(3).getTime))
        exec.topKSorted(MatchAll, Nil, sort, 20, Some(tok))
          .select(col("docId").as("doc_id"), col("role"))
      },
      Some("""SELECT doc_id, lang AS role FROM documents
             |ORDER BY lang, doc_id DESC LIMIT 20 OFFSET 20""".stripMargin)),

    GateQuery("score_fill_sort",
      // score fill through a field sort (reference: populateScores,
      // Lucene.java:1498-1500): a BM25-scored query sorted by a typed
      // field still carries every hit's score in the response
      (s, d) => {
        val (_, exec) = gate(s, d)
        exec.topKSorted(parse("spark"), Nil, SortSpec(Seq(("role", true))), 20)
          .select(col("docId").as("doc_id"), col("role"),
            round(col("score"), 4).as("score"))
      },
      sql("""SELECT s.doc_id, d.lang AS role, round(s.tscore, 4) AS score
            |FROM scores s JOIN documents d ON d.doc_id = s.doc_id
            |WHERE s.term = 'spark'
            |ORDER BY d.lang, s.doc_id LIMIT 20""".stripMargin)),

    GateQuery("fuzzy_term",
      // Lucene FuzzyQuery + TopTermsBlendedFreqScoringRewrite over the
      // term dictionary (graft.model.FuzzyQuery): 'sark'~2 expands to
      // spark (1 edit, boost .75), part + sort (2 edits, boost .5); every
      // expanded term scores with the BLENDED df (max over the set) and
      // its boost; per-doc scores sum. transpositions=false here so DuckDB
      // `levenshtein` replays the expansion exactly (the OSA-transposition
      // default is pinned against the naive oracle in FuzzySpec).
      (s, d) => {
        val (_, exec) = gate(s, d)
        exec.topK(FuzzyQuery("sark", maxEdits = 2, transpositions = false), Nil, 20)
          .select(col("docId").as("doc_id"), round(col("score"), 4).as("score"))
      },
      sql("""SELECT doc_id, round(score, 4) AS score FROM (
            |  SELECT p.doc_id, sum(
            |    (f.boost * i.bidf) * p.tf / (p.tf + 1.2 * (0.25 + 0.75 * q.dlq / s.avgdl))) AS score
            |  FROM post p
            |  JOIN (SELECT term, 1.0 - levenshtein(term, 'sark') * 1.0 / least(length(term), 4) AS boost
            |        FROM tstat WHERE levenshtein(term, 'sark') <= 2) f USING (term)
            |  CROSS JOIN (SELECT ln(1 + (s2.n - mx.bdf + 0.5) / (mx.bdf + 0.5)) AS bidf
            |              FROM (SELECT max(df) AS bdf FROM tstat
            |                    WHERE levenshtein(term, 'sark') <= 2) mx
            |              CROSS JOIN stats s2) i
            |  JOIN dlq q USING (doc_id) CROSS JOIN stats s
            |  GROUP BY p.doc_id)
            |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    GateQuery("fuzzy_field",
      // fielded fuzzy on a keyword attribute (`role:ds~1`): constant-score
      // bounded-edit-distance match — 'ds' is within 1 edit of langs 'de'
      // and 'es' but not 'en'/'fr'/'zh'
      (s, d) => {
        val (_, exec) = gate(s, d)
        exec.topK(FieldFuzzyQuery("role", "ds", maxEdits = 1, transpositions = false),
            Nil, 500)
          .select(col("docId").as("doc_id"), col("score"))
      },
      Some("""SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
             |WHERE levenshtein(lang, 'ds') <= 1
             |ORDER BY doc_id LIMIT 500""".stripMargin)),

    GateQuery("wildcard_prefix",
      (s, d) => topKDf(s, d, "sc*n", Nil, 1000),
      sql("""SELECT DISTINCT doc_id, 1.0 AS score FROM post
            |WHERE term LIKE 'sc%n' ORDER BY doc_id LIMIT 1000""".stripMargin)),

    GateQuery("regexp_term",
      // slash-delimited regexp through the query parser (Lucene
      // RegexpQuery; constant-score multi-term rewrite over the term
      // dictionary like wildcards) — /s.a(n|rk)|row/ matches the
      // dictionary terms scan, spark, row
      (s, d) => topKDf(s, d, "/s.a(n|rk)|row/", Nil, 1000),
      sql("""SELECT DISTINCT doc_id, 1.0 AS score FROM post
            |WHERE regexp_full_match(term, 's.a(n|rk)|row')
            |ORDER BY doc_id LIMIT 1000""".stripMargin)),

    GateQuery("regexp_field",
      // fielded regexp on a keyword attribute: role:/e(n|s)/ matches
      // langs 'en' and 'es', constant score
      (s, d) => topKDf(s, d, "role:/e(n|s)/", Nil, 1000),
      Some("""SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
             |WHERE regexp_full_match(lang, 'e(n|s)')
             |ORDER BY doc_id LIMIT 1000""".stripMargin)),

    GateQuery("bm25_wand",
      (s, d) => {
        // the block-max WAND segment kernel, exact-score mode: must equal
        // the flat OR query (same oracle SQL as bm25_or)
        val (idx, exec) = gate(s, d)
        val idf = exec.termIdf(Seq("spark", "merge"))
        Wand.topK(gateSegments(s, d), idx.stats, idf, 20, GateSegSize, exact = true)
          .select(col("docId").as("doc_id"), round(col("score"), 4).as("score"))
      },
      sql("""SELECT doc_id, round(score, 4) AS score FROM (
            |  SELECT doc_id, sum(tscore) AS score FROM scores
            |  WHERE term IN ('spark','merge') GROUP BY doc_id)
            |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    GateQuery("term_stats",
      (s, d) => {
        val (idx, _) = gate(s, d)
        idx.termStats
          .filter(col("term").isin("spark", "merge", "vector", "window", "join"))
          .select(col("term"), col("df"), col("cf"))
          .orderBy("term")
      },
      sql("""SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM post
            |WHERE term IN ('spark','merge','vector','window','join')
            |GROUP BY term ORDER BY term""".stripMargin)),

    GateQuery("corpus_stats",
      (s, d) => {
        val (idx, _) = gate(s, d)
        import s.implicits._
        Seq((idx.stats.docCount, idx.stats.sumTotalTermFreq))
          .toDF("doc_count", "sum_ttf")
      },
      sql("""SELECT count(*) AS doc_count, CAST(sum(dl) AS BIGINT) AS sum_ttf FROM dl""")),

    GateQuery("postings_term",
      (s, d) => {
        val (idx, _) = gate(s, d)
        val dlqArr = Array.tabulate(256)(j => SmallFloat.byte4ToInt(j.toByte).toLong)
        idx.postings.filter(col("term") === "vector")
          .select(col("docId").as("doc_id"), col("tf").cast("long").as("tf"),
            element_at(typedlit(dlqArr), col("norm").cast("int").bitwiseAND(lit(255)) + 1).as("dlq"))
          .orderBy("doc_id")
      },
      sql("""SELECT p.doc_id, p.tf, q.dlq FROM post p JOIN dlq q USING (doc_id)
            |WHERE p.term = 'vector' ORDER BY p.doc_id""".stripMargin)),

    GateQuery("facet_lang",
      (s, d) => {
        val (idx, exec) = gate(s, d)
        val m = exec.matches(parse("spark"), Nil).select("docId")
        idx.corpus.join(m, "docId")
          .groupBy(col("role").as("label")).agg(count(lit(1)).as("doc_count"))
          .orderBy(col("doc_count").desc, col("label").asc)
      },
      sql("""SELECT doc.lang AS label, count(*) AS doc_count FROM documents doc
            |WHERE doc.doc_id IN (SELECT doc_id FROM post WHERE term = 'spark')
            |GROUP BY doc.lang ORDER BY doc_count DESC, label""".stripMargin)),

    GateQuery("facet_value_ranges",
      (s, d) => {
        val bucket = when(col("value") >= 0 && col("value") < 50, "[0,50)")
          .when(col("value") >= 50 && col("value") < 100, "[50,100)")
          .when(col("value") >= 100 && col("value") < 200, "[100,200)")
          .otherwise("other")
        events(s, d).filter(col("event_type") === "purchase")
          .groupBy(bucket.as("bucket")).agg(count(lit(1)).as("doc_count"))
          .orderBy("bucket")
      },
      Some("""SELECT CASE
             |  WHEN value >= 0 AND value < 50 THEN '[0,50)'
             |  WHEN value >= 50 AND value < 100 THEN '[50,100)'
             |  WHEN value >= 100 AND value < 200 THEN '[100,200)'
             |  ELSE 'other' END AS bucket, count(*) AS doc_count
             |FROM events WHERE event_type = 'purchase'
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    GateQuery("topk_sort_ts",
      (s, d) => events(s, d)
        .orderBy(col("ts").desc, col("event_id").asc)
        .limit(20)
        .select("event_id", "user_id", "event_type"),
      Some("""SELECT event_id, user_id, event_type FROM events
             |ORDER BY ts DESC, event_id LIMIT 20""".stripMargin)),

    GateQuery("sparse_facet",
      // sparse-faceting default (reference: Lucene.java:1236, 1383-1395):
      // a request with NO dimensions facets EVERY facetable keyword field
      // — here role + tool — in one exploded single-pass aggregation,
      // per-dim top-maxLabels by (count desc, label asc)
      (s, d) => {
        val (idx, _) = gate(s, d)
        val eng = new graft.api.SearchEngine(idx)
        eng.facetFrame(SearchRequest(text = Some("spark")),
          eng.facetableFields, 10)
      },
      sql("""SELECT dim, label, doc_count FROM (
            |  SELECT dim, label, doc_count,
            |    row_number() OVER (PARTITION BY dim ORDER BY doc_count DESC, label) AS rn
            |  FROM (
            |    SELECT 'role' AS dim, lang AS label, count(*) AS doc_count FROM documents
            |    WHERE doc_id IN (SELECT doc_id FROM post WHERE term = 'spark')
            |      AND lang IS NOT NULL GROUP BY lang
            |    UNION ALL
            |    SELECT 'tool' AS dim, source AS label, count(*) AS doc_count FROM documents
            |    WHERE doc_id IN (SELECT doc_id FROM post WHERE term = 'spark')
            |      AND source IS NOT NULL GROUP BY source))
            |WHERE rn <= 10 ORDER BY dim, doc_count DESC, label""".stripMargin)),

    GateQuery("si_range_query",
      // query-TIME SI conversion of range bounds (reference:
      // SearchBucket.java:568-589 converts a unit-qualified parameter
      // range to SI before building the point range): the range arrives
      // as [20, 80) CELSIUS and the engine converts the bounds to kelvin
      // at plan time, matching rows whose build-side valueSI shadow
      // column falls in [293.15, 353.15)
      (s, d) => {
        val unit = when(col("event_type") === "purchase", "eV")
          .when(col("event_type") === "error", "celsius")
          .otherwise("K")
        val ev = graft.build.Units.withSiColumns(
          events(s, d).withColumn("unit", unit), "unit", Seq("value"))
        ev.filter(graft.score.Predicates.toColumn(
            SiNumRange("value", 20.0, 80.0, "celsius", loInc = true, hiInc = false)))
          .select("event_id", "valueSI")
          .orderBy("event_id").limit(500)
      },
      Some("""SELECT event_id,
             |  CASE WHEN event_type = 'purchase' THEN value * 1.602176634e-19
             |       WHEN event_type = 'error' THEN value + 273.15
             |       ELSE value END AS "valueSI"
             |FROM events
             |WHERE (CASE WHEN event_type = 'purchase' THEN value * 1.602176634e-19
             |            WHEN event_type = 'error' THEN value + 273.15
             |            ELSE value END) >= 20.0 * 1.0 + 273.15
             |  AND (CASE WHEN event_type = 'purchase' THEN value * 1.602176634e-19
             |            WHEN event_type = 'error' THEN value + 273.15
             |            ELSE value END) < 80.0 * 1.0 + 273.15
             |ORDER BY event_id LIMIT 500""".stripMargin)),

    GateQuery("match_all_facet",
      (s, d) => {
        val (idx, exec) = gate(s, d)
        val m = exec.matches(MatchAll, Nil).select("docId")
        idx.corpus.join(m, "docId")
          .groupBy(col("role").as("lang")).agg(count(lit(1)).as("n"))
          .orderBy("lang")
      },
      Some("SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang")),

    GateQuery("avg_score_join",
      // ScoreMode.Avg join (reference: sample-text score-carrying join,
      // SearchBucket.java:291-297): from-side BM25 scores averaged per
      // join key and attached to the to-side
      (s, d) => {
        val (idx, exec) = gate(s, d)
        val fromScored = exec.matches(parse("spark"), Nil)
          .join(idx.corpus.select("docId", "tool"), "docId")
          .select(col("tool").as("k"), col("score"))
        val toSide = idx.corpus.select("tool").distinct()
        graft.score.Joins.avgScoreJoin(toSide, "tool", fromScored, "k")
          .select(col("tool"), round(col("joinScore"), 4).as("avg_score"))
          .orderBy(col("avg_score").desc, col("tool"))
      },
      sql("""SELECT doc.source AS tool, round(avg(s.tscore), 4) AS avg_score
            |FROM scores s JOIN documents doc ON doc.doc_id = s.doc_id
            |WHERE s.term = 'spark'
            |GROUP BY 1 ORDER BY avg_score DESC, tool""".stripMargin)),

    GateQuery("joined_fetch",
      // per-hit joined-entity fetch, ≤3 related docs per key sorted by id
      // (reference: ≤100 per hit, Lucene.java:869-901)
      (s, d) => {
        val (idx, exec) = gate(s, d)
        val top5 = exec.topK(parse("spark"), Nil, 5)
        val hits = idx.corpus.join(top5.select("docId"), "docId")
          .select("tool").distinct()
        graft.score.Joins.joinedFetch(
            hits, "tool", idx.corpus.select("docId", "tool"), "tool", "docId", 3)
          .select(col("docId").as("doc_id"), col("tool"))
          .orderBy("tool", "doc_id")
      },
      sql("""SELECT doc_id, tool FROM (
            |  SELECT d.doc_id, d.source AS tool,
            |    row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rn
            |  FROM documents d
            |  WHERE d.source IN (
            |    SELECT DISTINCT doc.source FROM documents doc JOIN (
            |      SELECT doc_id FROM scores WHERE term = 'spark'
            |      ORDER BY tscore DESC, doc_id LIMIT 5) h ON doc.doc_id = h.doc_id))
            |WHERE rn <= 3 ORDER BY tool, doc_id""".stripMargin)),

    GateQuery("semi_join_users",
      (s, d) => {
        val ev = events(s, d)
        ev.filter(col("event_type") === "error").select("user_id").distinct()
          .join(ev.filter(col("event_type") === "purchase").select("user_id").distinct(),
            Seq("user_id"), "left_semi")
          .orderBy("user_id")
      },
      Some("""SELECT DISTINCT user_id FROM events e1 WHERE e1.event_type = 'error'
             |AND user_id IN (SELECT user_id FROM events WHERE event_type = 'purchase')
             |ORDER BY user_id""".stripMargin)),

    GateQuery("anti_join_users",
      // the MUST_NOT join leg (ScoreMode.None negated): erroring users
      // with no big purchase — left_anti on the distinct from-side key set
      // (every sf0.01 user has every event_type, so the negated side is
      // value-filtered to make the anti-join set non-empty: 23 rows)
      (s, d) => {
        val ev = events(s, d)
        graft.score.Joins.antiJoin(
            ev.filter(col("event_type") === "error").select("user_id").distinct(),
            "user_id",
            ev.filter(col("event_type") === "purchase" && col("value") > 90)
              .select("user_id"),
            "user_id")
          .orderBy("user_id")
      },
      Some("""SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
             |AND user_id NOT IN (SELECT user_id FROM events
             |                    WHERE event_type = 'purchase' AND value > 90)
             |ORDER BY user_id""".stripMargin)),

    GateQuery("stored_fetch",
      // per-hit stored-field materialization (reference: searcher.doc(docId)
      // per hit, Lucene.java:859): the winning k ids broadcast-join back to
      // the corpus table and every stored field returns with the hit
      (s, d) => {
        val (idx, exec) = gate(s, d)
        val top5 = exec.topK(parse("spark"), Nil, 5)
        idx.corpus.join(broadcast(top5.select("docId", "score")), "docId")
          .orderBy(col("score").desc, col("docId"))
          .select(col("docId").as("doc_id"), round(col("score"), 4).as("score"),
            col("conv_id"), col("role"), col("text"), col("tool"))
      },
      sql("""SELECT h.doc_id, round(h.tscore, 4) AS score,
            |  CAST(doc.doc_id AS VARCHAR) AS conv_id, doc.lang AS role,
            |  doc.text, doc.source AS tool
            |FROM (SELECT doc_id, tscore FROM scores WHERE term = 'spark'
            |      ORDER BY tscore DESC, doc_id LIMIT 5) h
            |JOIN documents doc USING (doc_id)
            |ORDER BY h.tscore DESC, h.doc_id""".stripMargin)),

    GateQuery("join_2hop",
      // two-hop semi-join chain (reference: InstrumentScientist →
      // InvestigationInstrument → Investigation, SearchBucket.java:602-614):
      // purchase events (to) reached from erroring users (from) through
      // the purchase bridge — each hop a shuffle-free-on-small-side
      // left_semi, never a row-multiplying inner join
      (s, d) => {
        val ev = events(s, d)
        val fromKeys = ev.filter(col("event_type") === "error").select("user_id")
        val bridge = ev.filter(col("event_type") === "purchase")
          .select("user_id", "event_id")
        graft.score.Joins.semiJoin2(
            ev.select("event_id"), "event_id",
            bridge, "user_id", "event_id",
            fromKeys, "user_id")
          .orderBy("event_id").limit(1000)
      },
      Some("""SELECT event_id FROM events WHERE event_id IN (
             |  SELECT event_id FROM events WHERE event_type = 'purchase'
             |  AND user_id IN (SELECT user_id FROM events WHERE event_type = 'error'))
             |ORDER BY event_id LIMIT 1000""".stripMargin)),

    GateQuery("window_first_event",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        events(s, d).withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id").as("first_event"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, event_id AS first_event FROM (
             |  SELECT user_id, event_id,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (all ++ PipelineGate.all).map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    (all ++ PipelineGate.all).flatMap(q => q.sql.map(q.name -> _)).toMap
}
