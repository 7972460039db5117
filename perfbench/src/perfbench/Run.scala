package perfbench

import graft.analysis.Analyzers
import graft.api.SearchEngine
import graft.build.{Index, IndexBuilder, Maintenance, SnapshotStore}
import graft.corpus.{DocIds, TranscriptGen}
import graft.model.{AfterToken, SearchRequest, SearchResponse, Turn}
import graft.score.{NaiveOracle, QueryExec}
import org.apache.spark.sql.{Dataset, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One completed search: what was sent, on which snapshot (`epoch`), what
  * came back and what it cost. */
final case class Done(op: Op, epoch: Int, ok: Boolean, hits: Seq[(Long, Float)],
                      tsMs: Seq[Long], after: Option[AfterToken], secs: Double, cpuSecs: Double)

/** One benchmark run: set-up, warm-up, the timed closed loop, facet
  * requests, then the untimed correctness check. A traced run also makes
  * one write round and reports the per-layer table instead of the
  * end-to-end metrics. */
final class Run(spark: SparkSession, o: Opts, shape: Shape) {
  private val sc = spark.sparkContext
  private val tracer: Option[Tracer] = if (o.trace) Some(new Tracer(sc)) else None
  private val rng = new java.util.Random(o.seed)
  private val stream: Mix.Stream =
    if (o.workload == "search_hot") new Mix.Hot(rng) else new Mix.Selective(rng)

  // the seed picks a range of conversation indexes; the write round adds
  // conversations from beyond it
  private val convLo = Math.floorMod(o.seed, 100000L) * 100000L
  private val convHi = convLo + shape.convs

  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private val log = mutable.ArrayBuffer.empty[Done]
  private var epoch = 0

  private def now: Double = System.nanoTime() / 1e9
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow: Double = osBean.getProcessCpuTime / 1e9

  private def say(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench $up%6.1fs] $msg")
  }

  private def problem(msg: String): Unit = {
    say(s"CHECK FAILED: $msg")
    if (problems.size < 50) problems += msg
  }

  /** A call into `name`: a traced span when tracing, else a plain call. */
  private def layer[T](name: String)(f: => T): T = tracer match {
    case Some(t) => t.span(name)(f)
    case None    => f
  }

  private def turnsDs(lo: Long, hi: Long): Dataset[Turn] = {
    import spark.implicits._
    spark.range(lo, hi, 1L, sc.defaultParallelism).flatMap(i => TranscriptGen.turnsOf(i))
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    } finally s.close()
  }

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ---------------------------------------------------------------- set-up

  private final case class Setup(engine: SearchEngine, dir: String, buildSecs: Double,
                                 setupSecs: Double)

  /** Generate → DocIds.forTurns → buildAndSave(withPositions) → load. */
  private def setupOnce(i: Int): Setup = {
    val dir = s"${o.work}/index-$i"
    val t0 = now
    val corpus = layer("corpus.docids")(DocIds.forTurns(turnsDs(convLo, convHi)))
    val built = layer("build.save")(
      IndexBuilder.buildAndSave(corpus, Analyzers.Icat, dir, withPositions = true))
    val t1 = now
    val engine = layer("build.load")(SearchEngine.load(spark, dir))
    val t2 = now
    // the engine serves the saved tables; the build's cached corpus is the
    // caller's to release
    built.unpersistAll()
    Setup(engine, dir, t1 - t0, t2 - t0)
  }

  // --------------------------------------------------------------- requests

  private def search(engine: SearchEngine, op: Op, group: Option[String] = None): Done = {
    attempted += 1
    val c0 = cpuNow
    val t0 = now
    val res =
      try engine.searchWithTimeout(op.req, 5, group)
      catch { case NonFatal(e) => Left(e.toString) }
    val secs = now - t0
    val cpu = cpuNow - c0
    val d = res match {
      case Right(r) =>
        Done(op, epoch, ok = true, r.hits.map(h => h.docId -> h.score),
          r.hits.map(_.ts.getTime), r.searchAfter, secs, cpu)
      case Left(err) =>
        failed += 1
        say(s"search failed (${op.kind} ${op.req.text}): $err")
        Done(op, epoch, ok = false, Nil, Nil, None, secs, cpu)
    }
    log += d
    d
  }

  /** A traced search: the end-to-end call, then the same request split
    * into its `model` call (plan) and its `score` call (top-k collect). */
  private def tracedSearch(engine: SearchEngine, op: Op, t: Tracer): Done = {
    val d = search(engine, op, Some(t.group("api.search")))
    t.record("api.search", d.secs)
    val t0 = now
    val (q, filters) = t.span("model.plan")(engine.plan(op.req))
    val t1 = now
    val req = op.req
    val exec = new QueryExec(engine.index)
    t.span("score.topk") {
      if (req.sort.isScore) exec.topK(q, filters, req.maxResults, req.searchAfter).collect()
      else exec.topKSorted(q, filters, req.sort, req.maxResults, req.searchAfter).collect()
    }
    t.record("api.self", d.secs - (t1 - t0) - (now - t1))
    d
  }

  // a traced run sends each request twice, once traced and once with the
  // listener detached, in alternating order; the paired latency ratios
  // give the tracing overhead
  private val overheadRatios = mutable.ArrayBuffer.empty[Double]
  private var tracedFirst = false

  private def runOne(engine: SearchEngine, op: Op): Done = tracer match {
    case None => search(engine, op)
    case Some(t) =>
      def untraced(): Done = { t.detach(); try search(engine, op) finally t.attach() }
      tracedFirst = !tracedFirst
      val (traced, plain) =
        if (tracedFirst) { val a = tracedSearch(engine, op, t); (a, untraced()) }
        else { val b = untraced(); (tracedSearch(engine, op, t), b) }
      if (traced.ok && plain.ok) overheadRatios += traced.secs / plain.secs
      traced
  }

  /** The stream's next request; page 2 only continues a response from
    * the snapshot now serving. */
  private def nextOp(): Op =
    stream.next(log.lastOption.filter(_.epoch == epoch).map(d => (d.op, d.hits.map(_._1), d.after)))

  /** Alternately a string facet (role, tool) and a weekly `ts` range facet. */
  private def facet(engine: SearchEngine, i: Int): Unit = {
    attempted += 1
    val req = stream.facet()
    try layer("api.facet") {
      if (i % 2 == 0) {
        val f = engine.facetStrings(req, Seq("role", "tool"))
        if (f.keySet != Set("role", "tool")) problem(s"facetStrings dimensions ${f.keySet}")
      } else {
        val f = engine.facetRanges(req, "ts", Mix.WeekRanges)
        if (f.map(_._1) != Mix.WeekRanges.map(_._1)) problem(s"facetRanges buckets $f")
      }
    } catch {
      case NonFatal(e) => failed += 1; say(s"facet failed: $e")
    }
  }

  // -------------------------------------------------------------------- run

  def run(): (String, Boolean) = {
    tracer.foreach(_.attach())
    val localTurns: Seq[Turn] = (convLo until convHi).flatMap(TranscriptGen.turnsOf)
    val turnCount = localTurns.size.toLong
    val textBytes = localTurns.map(_.text.getBytes(UTF_8).length.toLong).sum
    say(s"${o.workload} seed=${o.seed} conversations " +
      s"[$convLo, $convHi) turns=$turnCount cores=${sc.defaultParallelism}")

    val setups = (0 until shape.setups).map(setupOnce)
    val engine = setups.last.engine
    say("set-ups " + setups.map(s => f"${s.setupSecs}%.2f").mkString(" ") + " s")

    // warm-up: the first requests on a loaded index pay one-time planning
    // and code-generation costs that later requests do not
    (0 until shape.warmup).foreach(_ => search(engine, nextOp()))
    log.clear()

    val t0 = now
    while (now < t0 + o.seconds) runOne(engine, nextOp())
    val timedSecs = now - t0
    val timed = log.toSeq
    val ok = timed.filter(_.ok)
    say(f"${timed.size} timed searches (${ok.size} ok) in $timedSecs%.2f s: " +
      ok.groupBy(_.op.kind).toSeq.sortBy(_._1).map { case (k, ds) =>
        s"$k " + ds.map(d => f"${d.secs}%.2f").mkString("/")
      }.mkString(", "))
    tracer.foreach { t =>
      (0 until shape.facets).foreach(facet(engine, _))
      writeRound(engine.index, turnCount, t)
    }

    val checkT0 = now
    check(engine, timed, localTurns)
    say(f"correctness check ${now - checkT0}%.1f s, ${problems.size} problems")

    val turnsPerSec = turnCount / median(setups.map(_.buildSecs))
    val metrics: Seq[(String, Double, String)] = tracer match {
      case Some(t) =>
        layerMetrics(t, setups.last.dir, localTurns) ++ Seq(
          ("api.process_cpu_s", ok.map(_.cpuSecs).sum / ok.size, "s"),
          ("build.turns_per_s", turnsPerSec, "1/s"),
          ("build.cached_mb",
            sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0, "MB"))
      case None => Seq(
        ("setup_s", median(setups.map(_.setupSecs)), "s"),
        ("search_p50_s", median(ok.map(_.secs)), "s"),
        ("search_qps", ok.size / timedSecs, "1/s"),
        ("index_bytes_per_text_byte",
          dirBytes(Paths.get(setups.last.dir)).toDouble / textBytes, "ratio"))
    }
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
      .mkString(", ")
    (s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""", problems.isEmpty)
  }

  // ------------------------------------------------------------ write round

  private var updateVisibleSecs = Double.NaN
  private var commitAmplification = Double.NaN

  /** The traced run's write round: add `addConvs` new conversations (one
    * turn carries a planted term) and delete `deleteDocs` seeded docIds
    * through Maintenance, commit through a SnapshotStore, reopen, and
    * search the reopened snapshot. Checks the live state as it goes. */
  private def writeRound(base: Index, turns: Long, t: Tracer): Unit = {
    val root = s"${o.work}/store"
    val store = new SnapshotStore(root)
    val lo = convLo + 50000L
    val hi = lo + shape.addConvs
    val token = s"plant${Math.floorMod(o.seed, 100000L)}"
    val conv = TranscriptGen.turnsOf(lo).head.conv_id
    val added = (lo until hi).map(TranscriptGen.turnsPerConv(_).toLong).sum
    val addedBytes = (lo until hi).flatMap(TranscriptGen.turnsOf)
      .map(_.text.getBytes(UTF_8).length.toLong).sum + 1 + token.length
    val ids = mutable.LinkedHashSet.empty[Long]
    while (ids.size < shape.deleteDocs) ids += (rng.nextDouble() * turns).toLong
    val expected = turns + added - ids.size
    val newTurns = {
      import spark.implicits._
      turnsDs(lo, hi).map { tr =>
        if (tr.conv_id == conv && tr.turn_idx == 0) tr.copy(text = tr.text + " " + token) else tr
      }
    }

    attempted += 1
    val t0 = now
    val withAdds = t.span("build.add")(Maintenance.addTurns(base, newTurns, Analyzers.Icat))
    val mutated = t.span("build.delete")(Maintenance.deleteDocs(withAdds, ids.toSeq))
    val version = t.span("build.commit")(store.commit(mutated))
    val reader = t.span("build.open")(store.open(spark))
    epoch += 1
    val engine = new SearchEngine(reader)
    val first = search(engine, nextOp(), Some(t.group("api.search")))
    updateVisibleSecs = now - t0
    commitAmplification = dirBytes(Paths.get(root, version)).toDouble / addedBytes

    if (!first.ok) problem("first search after the write round failed")
    if (mutated.stats.docCount != expected)
      problem(s"writer docCount ${mutated.stats.docCount} != $expected")
    val fresh = new SearchEngine(new SnapshotStore(root).open(spark))
    Seq("reopened" -> engine, "fresh open" -> fresh).foreach { case (what, e) =>
      if (e.index.stats.docCount != expected)
        problem(s"$what docCount ${e.index.stats.docCount} != $expected")
      probe(e, SearchRequest(Some(token))).foreach { r =>
        val got = r.hits.map(h => (h.conv_id, h.turn_idx))
        if (got != Seq((conv, 0))) problem(s"$what: planted term found $got, not ($conv, 0)")
      }
      probe(e, SearchRequest(Some(Mix.Planted.mkString(" ")), maxResults = 1000)).foreach { r =>
        val back = (first.hits.map(_._1) ++ r.hits.map(_.docId)).filter(ids)
        if (back.nonEmpty) problem(s"$what: deleted docIds returned ${back.take(5)}")
      }
    }
  }

  /** An untimed check request; a failure is both a failed op and a
    * problem. */
  private def probe(engine: SearchEngine, req: SearchRequest): Option[SearchResponse] = {
    attempted += 1
    engine.searchWithTimeout(req, 5) match {
      case Right(r) => Some(r)
      case Left(err) => failed += 1; problem(s"check request ${req.text} failed: $err"); None
    }
  }

  // ------------------------------------------------------------ correctness

  /** Untimed: invariants on every logged search and the oracle replay of a
    * sample of the timed ones. */
  private def check(engine: SearchEngine, timed: Seq[Done], localTurns: Seq[Turn]): Unit = {
    log.filter(_.ok).foreach { d =>
      val k = d.op.req.maxResults
      val ids = d.hits.map(_._1)
      if (ids.size > k) problem(s"${d.op.kind}: ${ids.size} hits > k=$k")
      if (ids.distinct.size != ids.size) problem(s"${d.op.kind}: duplicate hits")
      val keys: Seq[(Double, Long)] =
        if (d.op.req.sort.isScore) d.hits.map { case (id, s) => (s.toDouble, id) }
        else d.tsMs.map(_.toDouble).zip(ids)
      val ordered = keys.zip(keys.drop(1)).forall { case ((a, i), (b, j)) =>
        a > b || (a == b && i < j)
      }
      if (!ordered) problem(s"${d.op.kind} ${d.op.req.text}: hits out of order $keys")
      if (d.op.kind == "page2" && ids.exists(d.op.page1.toSet))
        problem(s"page2 ${d.op.req.text}: shares hits with page 1")
    }
    replay(engine, timed, localTurns)
  }

  /** Replays one timed request of each replayable kind against
    * `NaiveOracle`: rank-identical and score-equal. */
  private def replay(engine: SearchEngine, timed: Seq[Done], localTurns: Seq[Turn]): Unit = {
    val sample = timed.filter(d => d.ok && Mix.OracleKinds(d.op.kind))
      .groupBy(_.op.kind).values.map(_.head).toSeq
    if (sample.isEmpty) { problem("no replayable request in the timed phase"); return }
    val withIds = localTurns.sortBy(t => (t.conv_id, t.turn_idx)).zipWithIndex
      .map { case (t, i) => i.toLong -> t }
    val oracle = NaiveOracle.fromTurns(withIds, Analyzers.Icat)
    sample.foreach { d =>
      val req = d.op.req
      val (q, filters) = engine.plan(req)
      val expected =
        if (req.sort.isScore) oracle.topK(q, filters, req.maxResults, req.searchAfter)
        else oracle.topKSorted(q, filters, req.sort.fields, req.maxResults, req.searchAfter)
      if (expected != d.hits)
        problem(s"oracle mismatch on ${d.op.kind} ${req.text}: engine ${d.hits.take(5)} " +
          s"oracle ${expected.take(5)}")
    }
    say(s"oracle replayed ${sample.size} requests " +
      s"(${sample.map(_.op.kind).sorted.mkString(", ")})")
  }

  // ------------------------------------------------------------ layer table

  private def layerMetrics(t: Tracer, dir: String,
                           localTurns: Seq[Turn]): Seq[(String, Double, String)] = {
    def med(layerName: String): Double = median(t(layerName).secs.toSeq)
    def per(c: LayerCounts, v: Double): Double = v / math.max(c.calls, 1L)
    val topk = t("score.topk")
    val api = t("api.search")
    val docids = t("corpus.docids")
    val save = t("build.save")
    val (add, del) = (t("build.add"), t("build.delete"))
    val (ns, posNs) = analysisNsPerToken(localTurns.take(2000).map(_.text))
    Seq(
      ("model.plan_s", med("model.plan"), "s"),
      ("score.topk_s", med("score.topk"), "s"),
      ("score.jobs", per(topk, topk.jobs), "count"),
      ("score.tasks", per(topk, topk.tasks), "count"),
      ("score.cpu_s", per(topk, topk.cpuNs / 1e9), "s"),
      ("score.records_read", per(topk, topk.recordsRead), "count"),
      ("score.shuffle_bytes", per(topk, topk.shuffleBytes), "B"),
      ("api.search_s", med("api.search"), "s"),
      ("api.self_s", med("api.self"), "s"),
      ("api.jobs", per(api, api.jobs), "count"),
      ("api.cpu_s", per(api, api.cpuNs / 1e9), "s"),
      ("api.facet_s", med("api.facet"), "s"),
      ("analysis.ns_per_token", ns, "ns"),
      ("analysis.positional_ns_per_token", posNs, "ns"),
      ("corpus.docids_s", med("corpus.docids"), "s"),
      ("corpus.docids_jobs", per(docids, docids.jobs), "count"),
      ("build.save_s", med("build.save"), "s"),
      ("build.save_jobs", per(save, save.jobs), "count"),
      ("build.save_cpu_s", per(save, save.cpuNs / 1e9), "s"),
      ("build.save_shuffle_bytes", per(save, save.shuffleBytes), "B"),
      ("build.save_spill_bytes", per(save, save.spillBytes), "B"),
      ("build.save_gc_s", per(save, save.gcMs / 1e3), "s"),
      ("build.postings_bytes", dirBytes(Paths.get(dir, "postings")).toDouble, "B"),
      ("build.termstats_bytes", dirBytes(Paths.get(dir, "termstats")).toDouble, "B"),
      ("build.corpus_bytes", dirBytes(Paths.get(dir, "corpus")).toDouble, "B"),
      ("build.load_s", med("build.load"), "s"),
      ("build.add_s", med("build.add"), "s"),
      ("build.delete_s", med("build.delete"), "s"),
      ("build.mutate_jobs", (add.jobs + del.jobs) / 2.0, "count"),
      ("build.mutate_cpu_s", (add.cpuNs + del.cpuNs) / 2e9, "s"),
      ("build.commit_s", med("build.commit"), "s"),
      ("build.commit_bytes_per_user_byte", commitAmplification, "ratio"),
      ("build.open_s", med("build.open"), "s"),
      ("build.update_visible_s", updateVisibleSecs, "s"),
      ("trace.overhead_frac", median(overheadRatios.toSeq) - 1.0, "ratio"))
  }

  /** Single-thread `Analyzers.Icat` cost per emitted token, plain and
    * positional, over a fixed sample of the corpus text: two warm-up
    * passes of each, then the median of five alternating passes. */
  private def analysisNsPerToken(texts: Seq[String]): (Double, Double) = {
    def pass(f: String => Int): Double = {
      val t0 = System.nanoTime()
      var tokens = 0L
      texts.foreach(s => tokens += f(s))
      (System.nanoTime() - t0).toDouble / tokens
    }
    val plain = (s: String) => Analyzers.Icat(s).terms.length
    val positional = (s: String) => Analyzers.Icat.positional(s).terms.length
    (0 until 2).foreach { _ => pass(plain); pass(positional) }
    val runs = (0 until 5).map(_ => (pass(plain), pass(positional)))
    (median(runs.map(_._1)), median(runs.map(_._2)))
  }
}
