package graft.api

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.build.Maintenance
import graft.corpus.TranscriptGen
import graft.model._
import graft.score.{OracleParity, QueryExec}

/** JSON surface, facet response shape, maintenance ops, streaming batch
  * transform. */
class ApiSpec extends SparkSuite {

  private lazy val engine = SearchEngine.build(TranscriptGen.tiny(spark), Analyzers.Icat)
  private lazy val oracle = OracleParity.oracleOf(engine.index.corpus, Analyzers.Icat)

  test("JSON request parse mirrors the reference shape") {
    val req = Json.parseRequest(
      """{"query":{"text":"needle_3 detector","lower":"202601010000",
        |"upper":"202601312359","filter":{"role":"assistant","tool":["bash","search"]}},
        |"sort":"{\"ts\":\"desc\"}","maxResults":7,
        |"search_after":"{\"doc\":42,\"score\":1.5}"}""".stripMargin)
    assert(req.text === Some("needle_3 detector"))
    assert(req.lower === Some("202601010000"))
    assert(req.filter("role") === Seq("assistant"))
    assert(req.filter("tool") === Seq("bash", "search"))
    assert(req.sort === SortSpec(Seq(("ts", false))))
    assert(req.maxResults === 7)
    assert(req.searchAfter === Some(AfterToken(42L, Some(1.5f), Nil)))
  }

  test("end-to-end JSON search round trip") {
    val req = Json.parseRequest("""{"query":{"text":"needle_3"},"maxResults":3}""")
    val resp = engine.search(req)
    val json = Json.renderResponse(resp)
    assert(json.startsWith("""{"results":["""))
    assert(json.contains(""""search_after":{"doc":"""))
    // token of last hit chains to the next page
    val page2 = engine.search(req.copy(searchAfter = resp.searchAfter))
    assert((resp.hits.map(_.docId).toSet intersect page2.hits.map(_.docId).toSet).isEmpty)
  }

  test("maintenance chain keeps ONE index generation cached") {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val sc = spark.sparkContext
    def cached(i: graft.build.Index) =
      i.postings.storageLevel != StorageLevel.NONE && i.termStats.storageLevel != StorageLevel.NONE
    val base = SearchEngine.build(TranscriptGen.tiny(spark), Analyzers.Icat).index
    val before = sc.getPersistentRDDs.keySet.toSet
    // the caller owns every generation: a mutation leaves its input
    // cached, and the caller releases the generation it replaces
    def replace(old: graft.build.Index, mutated: graft.build.Index) = {
      assert(cached(old), "a mutation must not release its input")
      assert(cached(mutated))
      old.unpersistAll(includeCorpus = false)
      mutated
    }
    val g1 = replace(base, Maintenance.deleteDocs(base, Seq(0L)))
    val turns = Seq(Turn("zz-chain", 0, "user", "needle_3 appended turn", None,
      new java.sql.Timestamp(1767225600000L))).toDS()
    val beforeAdd = sc.getPersistentRDDs.keySet.toSet
    val g2 = replace(g1, Maintenance.addTurns(g1, turns, Analyzers.Icat))
    val addMinted = sc.getPersistentRDDs.keySet.toSet -- beforeAdd
    val updated = g2.corpus.filter(col("docId") === 1L)
      .withColumn("text", lit("zzzchainterm zzzchainterm"))
    val g3 = replace(g2, Maintenance.updateDocs(g2, updated, Analyzers.Icat))
    assert(Seq(base, g1, g2, g3).count(cached) === 1)
    assert(cached(g3))
    g3.unpersistAll(includeCorpus = false)
    // no delta cache survives: only the appended turns' DocIds mint, where
    // their docIds live, outlasts the chain
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.size === 1)
    assert(leaked.subsetOf(addMinted))
    // released generations stay queryable — they recompute from lineage
    assert(g1.postings.filter(col("docId") === 2L).count() > 0)
    assert(g3.stats.docCount === base.stats.docCount)
    val hits = new QueryExec(g3).topK(TermQuery("zzzchainterm"), Nil, 5).collect()
    assert(hits.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("maintenance: adding rows with another analyzer than the index's is rejected") {
    import spark.implicits._
    val turns = Seq(Turn("zz-simple", 0, "user", "needle_3", None,
      new java.sql.Timestamp(1767225600000L))).toDS()
    val e = intercept[IllegalArgumentException](
      Maintenance.addTurns(engine.index, turns, Analyzers.Simple))
    assert(e.getMessage.contains("simple") && e.getMessage.contains("icat"))
    intercept[IllegalArgumentException](
      Maintenance.updateDocs(engine.index, engine.index.corpus.limit(1), Analyzers.Simple))
  }

  test("joinFetch round trip: ≤limit related docs per hit, inline in JSON") {
    val req = Json.parseRequest(
      """{"query":{"text":"needle_3"},"maxResults":3,
        |"joinFetch":{"key":"conv_id","limit":2}}""".stripMargin)
    assert(req.joinFetch === Some(JoinFetchSpec("conv_id", 2)))
    val resp = engine.search(req)
    assert(resp.hits.nonEmpty)
    resp.hits.foreach { h =>
      val rel = resp.joined.getOrElse(h.docId, Nil)
      assert(rel.nonEmpty) // the hit's own conversation always has rows
      assert(rel.size <= 2)
      assert(rel.forall(_.conv_id == h.conv_id))
      assert(rel.map(_.docId) === rel.map(_.docId).sorted) // docId asc
    }
    assert(Json.renderResponse(resp).contains(""","joined":[{"id":"""))
    // no joinFetch → no joined map, JSON unchanged
    val plain = engine.search(req.copy(joinFetch = None))
    assert(plain.joined.isEmpty)
    assert(!Json.renderResponse(plain).contains(""""joined""""))
  }

  test("joinFetch limit above 100 clamps to the reference's 100 joined docs per hit") {
    val req = Json.parseRequest(
      """{"query":{"text":"needle_3"},"maxResults":5,
        |"joinFetch":{"key":"role","limit":5000}}""".stripMargin)
    assert(req.joinFetch === Some(JoinFetchSpec("role", 5000)))
    val resp = engine.search(req)
    assert(resp.hits.nonEmpty)
    val perRole = engine.index.corpus.groupBy("role").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the clamp is only exercised when some hit's role has > 100 docs
    assert(resp.hits.exists(h => perRole(h.role) > 100))
    resp.hits.foreach { h =>
      val rel = resp.joined(h.docId)
      assert(rel.size === math.min(100L, perRole(h.role)))
      assert(rel.forall(_.role == h.role))
    }
  }

  test("joinFetch object without a key is ignored: no joined docs") {
    val req = Json.parseRequest(
      """{"query":{"text":"needle_3"},"maxResults":1,"joinFetch":{"limit":2}}""")
    assert(req.joinFetch === None)
    val resp = engine.search(req)
    assert(resp.hits.nonEmpty)
    assert(resp.joined.isEmpty)
    assert(!Json.renderResponse(resp).contains(""""joined""""))
  }

  test("joinFetch on an unknown column fails the request with an analysis error") {
    val req = Json.parseRequest(
      """{"query":{"text":"needle_3"},"maxResults":1,"joinFetch":{"key":"nope","limit":2}}""")
    assert(req.joinFetch === Some(JoinFetchSpec("nope", 2)))
    val e = intercept[org.apache.spark.sql.AnalysisException](engine.search(req))
    assert(e.getMessage.contains("nope"))
  }

  test("single-pass facetStrings matches the oracle's counts and scans once") {
    Seq(SearchRequest(text = Some("ambiguous")),
        SearchRequest(text = Some("ambiguous"), filter = Map("role" -> Seq("tool", "system"))))
      .foreach { req =>
        val (q, filters) = engine.plan(req)
        val matching = oracle.topK(q, filters, Int.MaxValue).map(_._1).toSet
        val docs = engine.index.corpus.select("docId", "role", "tool").collect()
          .filter(r => matching.contains(r.getLong(0)))
        def counts(label: org.apache.spark.sql.Row => Option[String]): Seq[(String, Long)] =
          docs.flatMap(label(_)).groupBy(identity).map { case (l, ls) => l -> ls.length.toLong }
            .toSeq.sortBy { case (l, n) => (-n, l) }.take(10)
        val want = Map("role" -> counts(r => Option(r.getString(1))),
          "tool" -> counts(r => Option(r.getString(2))))
        assert(want("role").nonEmpty && want("tool").nonEmpty, req)
        assert(engine.facetStrings(req, Seq("role", "tool")) === want, req)
      }
    // a MatchAll request isolates the facet aggregation in the plan:
    // ONE explode (Generate) + ONE aggregation (partial+final pair) for
    // ALL dims, instead of one aggregation job per dim
    val plan = engine.facetFrame(SearchRequest(), Seq("role", "tool", "conv_id"), 10)
      .queryExecution.executedPlan.toString
    def occurrences(s: String, sub: String): Int = s.sliding(sub.length).count(_ == sub)
    assert(occurrences(plan, "Generate explode") === 1, plan.take(800))
    assert(occurrences(plan, "HashAggregate") === 2, plan.take(800))
  }

  test("sparse-facet default: empty dimensions facet every facetable field") {
    val req = SearchRequest(text = Some("ambiguous"))
    // corpus string columns minus text/conv_id — role + tool here
    assert(engine.facetableFields.sorted === Seq("role", "tool"))
    val sparse = engine.facetStrings(req, Nil)
    assert(sparse.keySet === Set("role", "tool"))
    assert(sparse === engine.facetStrings(req, Seq("role", "tool")))
  }

  test("facet JSON mirrors the reference aggregation shape") {
    val json = engine.facetJson(SearchRequest(text = Some("ambiguous")), Seq("role"))
    assert(json.startsWith("""{"aggregations":{"role":{"buckets":{"""))
    assert(json.contains("doc_count"))
  }

  test("facet request wire shape: dimensions array with ranges parses like the reference") {
    // SearchBucket.java:687-747: 'dimension' required, missing from/to →
    // Long.MIN/MAX, default label "<from>-<to>", 'key' overrides
    val (dims, rangeDims) = Json.parseDimensions(
      """{"dimensions":[
        |  {"dimension":"role"},
        |  {"dimension":"tool"},
        |  {"dimension":"ts","ranges":[
        |     {"from":100,"to":200,"key":"early"},
        |     {"from":200},
        |     {"to":100}]}]}""".stripMargin)
    assert(dims === Seq("role", "tool"))
    assert(rangeDims === Seq("ts" -> Seq(
      ("early", 100L, 200L),
      (s"200-${Long.MaxValue}", 200L, Long.MaxValue),
      (s"${Long.MinValue}-100", Long.MinValue, 100L))))
    // no dimensions key → empty (the endpoint then string-facets sparsely)
    assert(Json.parseDimensions("""{"query":{"text":"x"}}""") === ((Nil, Nil)))
    // a missing 'dimension' key is a request error, like the reference's 400
    intercept[RuntimeException](Json.parseDimensions("""{"dimensions":[{"ranges":[]}]}"""))
  }

  test("facet JSON: range buckets carry from/to keys in request order") {
    val t0 = 1767225600000L
    val ranges = Seq(("early", 0L, t0 + 3600000L), ("late", t0 + 3600000L, Long.MaxValue / 2))
    val req = SearchRequest(text = Some("ambiguous"))
    val json = engine.facetJson(req, Nil, rangeDims = Seq("ts" -> ranges))
    val counts = engine.facetRanges(req, "ts", ranges).toMap
    // exact reference wire shape (FacetedDimension.java:70-88: doc_count
    // first, then the LongRange's min/max as from/to), buckets in request
    // order, no string dims mixed in when none were requested
    assert(json ===
      s"""{"aggregations":{"ts":{"buckets":{""" +
      s""""early":{"doc_count":${counts("early")},"from":0,"to":${t0 + 3600000L}},""" +
      s""""late":{"doc_count":${counts("late")},"from":${t0 + 3600000L},"to":${Long.MaxValue / 2}}}}}}""")
    assert(counts.values.sum > 0)
    // string + range dims combine under one aggregations object
    val both = engine.facetJson(req, Seq("role"), rangeDims = Seq("ts" -> ranges))
    assert(both.contains(""""role":{"buckets":{"""))
    assert(both.contains(""""ts":{"buckets":{"early":{"doc_count":"""))
  }

  test("JSON request scalars: numbers, booleans and null decode to their values") {
    val req = Json.parseRequest(
      """{"query":{"filter":{"turn_idx":3,"tool":["bash",2.5,false]}},
        |"search_after":{"doc":7,"fields":[null,true,4,"x"]}}""".stripMargin)
    assert(req.filter("turn_idx") === Seq("3"))
    assert(req.filter("tool") === Seq("bash", "2.5", "false"))
    assert(req.searchAfter === Some(AfterToken(7L, None, Seq(null, true, 4L, "x"))))
  }

  test("facet JSON: labels with quotes and backslashes parse and round-trip") {
    import org.json4s._
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val tools = Seq("say \"hi\"", "c:\\tmp", "plain")
    val eng = SearchEngine.build(tools.zipWithIndex.map { case (t, i) =>
      Turn("c0", i, "user", "alpha", Some(t), ts) }.toDS(), Analyzers.Icat)
    val req = SearchRequest(text = Some("alpha"))
    val ranges = Seq(("a\"b", 0L, Long.MaxValue), ("c\\d", Long.MinValue, 0L))
    val doc = org.json4s.jackson.JsonMethods.parse(
      eng.facetJson(req, Seq("tool"), rangeDims = Seq("ts" -> ranges)))
    def buckets(dim: String): List[(String, JValue)] =
      (doc \ "aggregations" \ dim \ "buckets").asInstanceOf[JObject].obj
    assert(buckets("tool").map { case (l, b) => l -> (b \ "doc_count") } ===
      eng.facetStrings(req, Seq("tool"))("tool").map { case (l, n) => l -> JInt(n) })
    assert(buckets("tool").map(_._1).sorted === tools.sorted)
    assert(buckets("ts").map(_._1) === ranges.map(_._1))
    assert(buckets("ts").map(_._2 \ "doc_count") === Seq(JInt(3), JInt(0)))
  }

  test("maintenance: delete removes docs from results and stats") {
    val before = engine.search(SearchRequest(text = Some("needle_3"), maxResults = 5))
    val victim = before.hits.head.docId
    val after = new SearchEngine(Maintenance.deleteDocs(engine.index, Seq(victim)))
    val res = after.search(SearchRequest(text = Some("needle_3"), maxResults = 5))
    assert(!res.hits.map(_.docId).contains(victim))
    assert(after.index.stats.docCount === engine.index.stats.docCount - 1)
  }

  test("maintenance: update changes a doc's text and scores reflect it") {
    val victim = engine.index.corpus.limit(1).collect()(0)
    import org.apache.spark.sql.functions._
    val updated = engine.index.corpus
      .filter(col("docId") === victim.getAs[Long]("docId"))
      .withColumn("text", lit("zzzuniqueterm zzzuniqueterm"))
    val idx2 = Maintenance.updateDocs(engine.index, updated, Analyzers.Icat)
    val hits = new QueryExec(idx2).topK(TermQuery("zzzuniqueterm"), Nil, 5).collect()
    assert(hits.map(_.getLong(0)).toSeq === Seq(victim.getAs[Long]("docId")))
  }

  test("updateByRelation rewrites denormalized columns from a changed dimension") {
    import spark.implicits._
    val corpus = Seq((0L, "c0", "oldA"), (1L, "c0", "oldA"), (2L, "c1", "oldB"))
      .toDF("docId", "conv_id", "convTitle")
    val dim = Seq(("c0", "newA")).toDF("conv_id", "convTitle")
    val got = Maintenance.updateByRelation(corpus, dim, "conv_id", Seq("convTitle"))
      .orderBy("docId").collect().map(_.getString(2)).toSeq
    assert(got === Seq("newA", "newA", "oldB"))
  }

  test("searchWithTimeout returns results within budget") {
    val r = engine.searchWithTimeout(SearchRequest(text = Some("needle_3"), maxResults = 3), 60)
    assert(r.isRight)
    assert(r.toOption.get.hits.nonEmpty)
  }

  test("searchWithTimeout actually cancels the underlying Spark jobs") {
    import org.apache.spark.sql.functions._
    // a corpus whose scan sleeps per row: full scan ≥ (turns × 150ms)/4
    // cores ≫ the 2 s budget, so without real cancellation the group's
    // jobs would stay RUNNING long after the 504
    val slow = udf { (_: Long) => Thread.sleep(150); true }
    val slowIdx = engine.index.copy(corpus = engine.index.corpus.filter(slow(col("docId"))))
    val slowEngine = new SearchEngine(slowIdx)
    val group = "graft-test-cancel"
    val t0 = System.nanoTime()
    val r = slowEngine.searchWithTimeout(SearchRequest(maxResults = 3), 2, Some(group))
    assert(r.isLeft, "slow search must time out")
    val sc = spark.sparkContext
    def groupRunning: Boolean = sc.statusTracker.getJobIdsForGroup(group)
      .flatMap(id => sc.statusTracker.getJobInfo(id))
      .exists(_.status() == org.apache.spark.JobExecutionStatus.RUNNING)
    val deadline = System.currentTimeMillis() + 10000
    while (groupRunning && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(!groupRunning, "cancelJobGroup must stop the timed-out query's jobs")
    // the cancelled work never ran anywhere near to completion
    assert((System.nanoTime() - t0) / 1e9 < 15.0)
  }

  private lazy val positionalEngine =
    SearchEngine.build(TranscriptGen.tiny(spark), Analyzers.Icat, withPositions = true)

  test("request path job budget: ≤ 3 Spark jobs per search, 4 with a leg or corpus join") {
    val e = positionalEngine
    val page1 = SearchRequest(text = Some("needle_3"), maxResults = 3)
    val shapes = Seq(
      "term" -> page1,
      "or" -> SearchRequest(text = Some("needle_3 hydrogen")),
      "and" -> SearchRequest(text = Some("+needle_3 +ambiguous")),
      "and not" -> SearchRequest(text = Some("+needle_3 -ambiguous")),
      "role filter" -> SearchRequest(text = Some("ambiguous"), filter = Map("role" -> Seq("assistant"))),
      "ts range" -> SearchRequest(text = Some("ambiguous"),
        lower = Some("202601010000"), upper = Some("202601312359")),
      "page 2" -> page1.copy(searchAfter = e.search(page1).searchAfter),
      "wildcard" -> SearchRequest(text = Some("needle_*")),
      "regexp" -> SearchRequest(text = Some("/needle_[0-4]/")),
      "fuzzy" -> SearchRequest(text = Some("hydrgen~")),
      "phrase" -> SearchRequest(text = Some("\"w0000 w0001\"")),
      "keyword" -> SearchRequest(text = Some("role:assistant")),
      "ts desc" -> SearchRequest(text = Some("ambiguous"), sort = SortSpec(Seq(("ts", false)))),
      "absent term" -> SearchRequest(text = Some("zzzzqqq")),
      "absent must term" -> SearchRequest(text = Some("+needle_3 +zzzzqqq")),
      "or keyword" -> SearchRequest(text = Some("needle_3 role:assistant")),
      "and keyword not keyword" -> SearchRequest(text = Some("+needle_3 +role:assistant -tool:bash")),
      "or phrase" -> SearchRequest(text = Some("needle_3 \"w0000 w0001\"")),
      "and or phrase" -> SearchRequest(text = Some("+needle_3 \"w0000 w0001\"")),
      "and not phrase" -> SearchRequest(text = Some("+ambiguous -\"w0000 w0001\"")),
      "and or fuzzy" -> SearchRequest(text = Some("+ambiguous hydrgen~")),
      "or wildcard" -> SearchRequest(text = Some("ambiguous needle_*")))
    // one phrase, fuzzy, wildcard or nested-boolean leg adds its own join
    // or aggregation to the boolean's one scan and aggregation; a boolean
    // of that one leg alone is the leg's frame
    val budget = Map("ts desc" -> 4, "absent term" -> 0, "absent must term" -> 0,
      "or phrase" -> 4, "and or phrase" -> 4, "and not phrase" -> 4, "and or fuzzy" -> 4,
      "or wildcard" -> 4).withDefaultValue(3)
    shapes.foreach { case (name, req) =>
      val warm = e.search(req) // reads the dictionary on the first shape
      val group = s"graft-budget-$name"
      val (r, groups) = jobGroupsOf(e.searchWithTimeout(req, 60, Some(group)))
      assert(r.map(_.hits) === Right(warm.hits), name)
      assert(groups.forall(_ == group), s"$name: $groups")
      assert(groups.size <= budget(name), s"$name ran ${groups.size} jobs")
      assert(warm.hits.isEmpty === name.startsWith("absent"), name)
    }
  }

  test("the dictionary is read once per generation; a new generation reads its own") {
    import org.apache.spark.sql.functions.{col, udf}
    import spark.implicits._
    val reads = spark.sparkContext.longAccumulator("termStats rows read")
    val counted = udf { (_: String) => reads.add(1); true }
    val idx = engine.index.copy(termStats = engine.index.termStats.filter(counted(col("term"))))
    val req = SearchRequest(text = Some("needle_3 hydrogen"))
    val first = new SearchEngine(idx).search(req)
    val n = reads.value
    assert(n > 0)
    // a second engine over the same index, and every rewrite, reads no row
    val second = new SearchEngine(idx)
    assert(second.search(req).hits === first.hits)
    Seq("needle_*", "/needle_[0-4]/", "hydrgen~", "+needle_3 -ambiguous")
      .foreach(t => second.search(SearchRequest(text = Some(t))))
    assert(reads.value === n)

    // a mutation's generation finds a term its parent's dictionary lacks,
    // with the idf the oracle gives over the new corpus
    val term = "zzzdictterm"
    assert(new QueryExec(idx).termIdf(Seq(term)).isEmpty)
    val turns = Seq(Turn("zz-dict", 0, "user", s"$term needle_3", None,
      new java.sql.Timestamp(1767225600000L))).toDS()
    val g = Maintenance.addTurns(idx, turns, Analyzers.Icat)
    val o = OracleParity.oracleOf(g.corpus, Analyzers.Icat)
    val want = math.log(1d + (o.docCount - o.df(term) + 0.5d) / (o.df(term) + 0.5d))
    assert(new QueryExec(g).termIdf(Seq(term)) === Map(term -> want))
    val hits = new SearchEngine(g).search(SearchRequest(text = Some(term)))
    val wantHits = o.topK(TermQuery(term), Nil, 10)
    assert(hits.hits.map(h => (h.docId, h.score)) === wantHits)
    g.unpersistAll(includeCorpus = false)
  }

  test("a repeated request shape compiles no new classes, for k = 10 and k = 100") {
    import org.apache.spark.metrics.source.CodegenMetrics
    Seq(10, 100).foreach { k =>
      def req(i: Int) = SearchRequest(text = Some(s"needle_$i"), maxResults = k)
      // the warm-up compiles each class the shape's plan generates once
      (0 to 3).foreach(i => engine.search(req(i)))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ids = (4 to 6).map(i => engine.search(req(i)).hits.map(_.docId))
      assert(ids.distinct.size === ids.size, "each request fetches other docIds")
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === before, s"k = $k")
    }
  }

  test("after a cancelled search the next one on the same engine succeeds in its own group") {
    import org.apache.spark.sql.functions.{col, udf}
    // every row stalls while the flag is up: first the dictionary read,
    // then (once the dictionary is read) the postings scan
    val stall = udf { (_: String) => if (ApiSpec.stalled) Thread.sleep(30000); true }
    val idx = engine.index.copy(
      postings = engine.index.postings.filter(stall(col("term"))),
      termStats = engine.index.termStats.filter(stall(col("term"))))
    val e = new SearchEngine(idx)
    val sc = spark.sparkContext
    val req = SearchRequest(text = Some("needle_3"), maxResults = 3)
    def cancelled(group: String): Unit = {
      ApiSpec.stalled = true
      try assert(e.searchWithTimeout(req, 2, Some(group)).isLeft)
      finally ApiSpec.stalled = false
      def running = sc.statusTracker.getJobIdsForGroup(group)
        .flatMap(id => sc.statusTracker.getJobInfo(id))
        .exists(_.status() == org.apache.spark.JobExecutionStatus.RUNNING)
      val deadline = System.currentTimeMillis() + 10000
      while (running && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(!running, s"$group still runs")
    }
    val want = engine.search(req).hits
    Seq("dictionary", "scan").foreach { stage =>
      cancelled(s"graft-test-cancel-$stage")
      val group = s"graft-test-after-$stage"
      val (r, groups) = jobGroupsOf(e.searchWithTimeout(req, 60, Some(group)))
      assert(r.map(_.hits) === Right(want), stage)
      assert(groups.nonEmpty && groups.forall(_ == group), s"$stage: $groups")
    }
  }

  test("facetRanges: single-pass counts match per-bucket filters incl. overlap") {
    import org.apache.spark.sql.functions._
    val ranges = Seq(
      ("early", 0L, 1767225600000L + 3600000L),
      ("all", 0L, Long.MaxValue / 2),
      ("overlap", 1767225600000L, 1767225600000L + 7200000L))
    val req = SearchRequest(text = Some("ambiguous"))
    val got = engine.facetRanges(req, "ts", ranges).toMap
    // naive per-bucket recount over the same matches
    val (q, filters) = engine.plan(req)
    val m = new QueryExec(engine.index).matches(q, filters).select("docId")
    val joined = engine.index.corpus.join(m, "docId")
      .select((col("ts").cast("double") * 1000.0).as("ms")).collect().map(_.getDouble(0))
    ranges.foreach { case (label, lo, hi) =>
      assert(got(label) === joined.count(v => v >= lo && v < hi).toLong, label)
    }
  }

  test("pruneFields nulls targeted docs' fields; updateFields replaces them") {
    import org.apache.spark.sql.functions._
    val corpus = engine.index.corpus
    val victim = corpus.select("docId").head().getLong(0)
    val pruned = Maintenance.pruneFields(corpus, Seq(victim), Seq("tool", "role"))
    val r = pruned.filter(col("docId") === victim).select("tool", "role").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(pruned.filter(col("role").isNotNull).count() === corpus.count() - 1)
    val updated = Maintenance.updateFields(corpus, Seq(victim), Map("role" -> "system"))
    assert(updated.filter(col("docId") === victim).select("role").head().getString(0) === "system")
    assert(updated.filter(col("role") === "system").count() ===
      corpus.filter(col("role") === "system").count() + 1)
  }

  test("rollup aggregates per parent like aggregateFiles") {
    import org.apache.spark.sql.functions._
    val got = Maintenance.rollup(engine.index.corpus, "conv_id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = engine.index.corpus
      .groupBy("conv_id")
      .agg(count(lit(1)), sum(length(col("text"))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("SI unit conversion matches the reference's enabled conversions") {
    import graft.build.Units
    assert(Units.convertValueToSiUnits(1.0, "eV") ===
      Some(Units.SiValue("J", 1.602176634e-19)))
    assert(Units.convertValueToSiUnits(25.0, "celsius") ===
      Some(Units.SiValue("K", 298.15)))
    assert(Units.convertValueToSiUnits(25.0, "degC") ===
      Some(Units.SiValue("K", 298.15)))
    assert(Units.convertValueToSiUnits(5.0, "kelvin") === Some(Units.SiValue("K", 5.0)))
    assert(Units.convertValueToSiUnits(5.0, "furlong") === None)
    // column path: shadow fields appear, unknown units give nulls
    import spark.implicits._
    val df = Seq((1L, 2.0, "eV"), (2L, 0.0, "celsius"), (3L, 1.0, "furlong"))
      .toDF("id", "value", "unit")
    val out = Units.withSiColumns(df, "unit", Seq("value")).orderBy("id").collect()
    assert(out(0).getString(3) === "J")
    assert(math.abs(out(0).getDouble(4) - 2 * 1.602176634e-19) < 1e-30)
    assert(out(1).getDouble(4) === 273.15)
    assert(out(2).isNullAt(3) && out(2).isNullAt(4))
  }

  test("index registry: named indexes resolve independently, drop/clear work") {
    import org.apache.spark.sql.functions._
    val reg = new IndexRegistry(spark)
    reg.register("conversations", engine.index)
    val tiny2 = TranscriptGen.generate(spark, 3)
    reg.build("sidecar", tiny2, Analyzers.Simple)
    assert(reg.names === Seq("conversations", "sidecar"))
    // the two engines answer from different corpora and analyzers
    val convHits = reg.engine("conversations")
      .search(SearchRequest(text = Some("needle_3"), maxResults = 3)).hits
    assert(convHits.nonEmpty)
    assert(reg.get("sidecar").get.analyzerName === "simple")
    assert(reg.get("sidecar").get.stats.docCount ===
      reg.get("sidecar").get.corpus.filter(length(col("text")) > 0).count())
    intercept[NoSuchElementException](reg.engine("nope"))
    reg.drop("sidecar")
    assert(reg.names === Seq("conversations"))
    reg.clear()
    assert(reg.names.isEmpty)
  }

  test("streaming surrogate docIds survive >256-turn conversations without collision") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1767225600000L)
    // conv "a" with 300 turns (incl. turn_idx 300-adjacent range) + a
    // second conversation: packed (hash<<8 | turn) schemes bleed here
    val turns = ((0 until 300).map(i => ("conva", i, "user", s"text $i", None: Option[String], ts)) ++
      (0 until 5).map(i => ("convb", i, "user", s"other $i", None: Option[String], ts)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val postings = graft.streaming.StreamingIndex.postingsFor(turns, Analyzers.Icat)
    val perDoc = postings.select("docId", "conv_id", "turn_idx").distinct()
    assert(perDoc.count() === 305L)
    assert(perDoc.select("docId").distinct().count() === 305L,
      "docId must be unique per (conv_id, turn_idx)")
    // key columns ride along for compaction re-keying
    assert(postings.columns.contains("conv_id") && postings.columns.contains("turn_idx"))
  }

  test("streaming batch transform emits the same postings as the batch builder") {
    import org.apache.spark.sql.functions._
    val turns = TranscriptGen.tiny(spark)
    // surrogate and dense docIds differ, so both sides are keyed by the
    // natural key: one row per (conv_id, turn_idx, term)
    def rows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.select((Seq("conv_id", "turn_idx", "term") ++ cols).map(col): _*)
        .orderBy("conv_id", "turn_idx", "term")
        .collect().map(_.toSeq).toSeq
    def batchRows(index: graft.build.Index, cols: Seq[String]) =
      rows(index.postings.join(
        index.corpus.select("docId", "conv_id", "turn_idx"), "docId"), cols)
    val streamed = graft.streaming.StreamingIndex.postingsFor(turns.toDF(), Analyzers.Icat)
    val want = batchRows(engine.index, Seq("tf", "norm"))
    assert(want.nonEmpty)
    assert(rows(streamed, Seq("tf", "norm")) === want)

    // positional: the same rows plus identical position lists
    val positional = graft.build.IndexBuilder.build(
      graft.corpus.DocIds.forTurns(turns), Analyzers.Icat, withPositions = true)
    val streamedPos = graft.streaming.StreamingIndex.postingsFor(
      turns.toDF(), Analyzers.Icat, withPositions = true)
    val cols = Seq("tf", "norm", "positions")
    assert(rows(streamedPos, cols) === batchRows(positional, cols))
    positional.unpersistAll()
  }
}

object ApiSpec {
  /** Whether the fault test's stalling scans sleep (read on executors,
    * which share this JVM in local mode). */
  @volatile var stalled = false
}
