package graft.build

import graft.SparkSuite
import graft.analysis.{Analyzers, PosAnalyzed, TextAnalyzer}
import graft.corpus.{DocIds, TranscriptGen}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Salted-build equivalence, the commit marker and per-group
  * checkpoint/resume (FIXTURES.md §6). */
class BuildSpec extends SparkSuite {

  private lazy val corpus = DocIds.forTurns(TranscriptGen.tiny(spark)).cache()
  private lazy val index = IndexBuilder.build(corpus, Analyzers.Icat)

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** buildAndSave over `groups` docId groups. */
  private def grouped(c: DataFrame, dir: String, groups: Int,
                      analyzer: TextAnalyzer = Analyzers.Icat,
                      withPositions: Boolean = false): Index =
    IndexBuilder.buildInGroups(c, analyzer, dir, hotDfThreshold = 50L, writeCorpus = true,
      withPositions = withPositions, groups = groups)

  /** What a kill mid-build leaves: groups `gs` lost their outputs and
    * manifests, and no meta.json was written. */
  private def kill(dir: String, gs: Int*): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    gs.foreach { g =>
      Files.delete(Paths.get(s"$dir/manifests/$g.json"))
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/postings/group=$g"), true)
    }
    Files.delete(Paths.get(s"$dir/meta.json"))
  }

  private def manifests(dir: String, groups: Int): Seq[IndexBuilder.GroupManifest] =
    (0 until groups).map(g => IndexBuilder.readManifest(dir, g).get)

  /** Group `g`'s manifest mtime and its files' names and mtimes. */
  private def stamps(dir: String, g: Int): (Any, Set[(String, Any)]) = {
    val files = Files.list(Paths.get(s"$dir/postings/group=$g"))
    try {
      import scala.jdk.CollectionConverters._
      (Files.getLastModifiedTime(Paths.get(s"$dir/manifests/$g.json")),
        files.iterator().asScala.map(f => (f.getFileName.toString,
          Files.getLastModifiedTime(f): Any)).toSet)
    } finally files.close()
  }

  private def rows(df: DataFrame, cols: Seq[String]): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).orderBy(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSeq

  test("buildAndSave produces the same postings, termStats and stats as build+save") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bas").toString
    val idx2 = IndexBuilder.buildAndSave(corpus, Analyzers.Icat, dir,
      hotDfThreshold = 50L, writeCorpus = true)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "docId", "tf", "norm").orderBy("term", "docId")
        .collect().map(_.toSeq).toSeq
    assert(norm(idx2.postings) === norm(index.postings))
    assert(idx2.stats === index.stats)
    val ts2 = idx2.termStats.orderBy("term").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val ts1 = index.termStats.orderBy("term").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(ts2 === ts1)
    // and the directory is loadable like any saved index
    val loaded = IndexBuilder.load(spark, dir)
    assert(loaded.stats === index.stats)
    assert(loaded.analyzerName === "icat")

    // salted ≡ unsalted: save() with a threshold that salts nearly every
    // term writes back exactly the in-memory postings, row for row
    val dir2 = java.nio.file.Files.createTempDirectory("graft-save").toString
    IndexBuilder.save(index, dir2, hotDfThreshold = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(index.postings.columns.toSeq.map(col): _*).orderBy("term", "docId")
        .collect().map(_.toSeq).toSeq
    val saved = IndexBuilder.load(spark, dir2)
    assert(saved.postings.columns.toSeq === index.postings.columns.toSeq)
    assert(rows(saved.postings) === rows(index.postings))
    assert(saved.stats === index.stats)
    // save's writer input is the index's postings: its one group read
    // every posting row, and no zero-token sentinel
    val postingRows = index.postings.count()
    val Seq(m) = manifests(dir2, 1)
    assert(m.rows === postingRows)
    assert(m.postings === postingRows)
    assert(m.tokens === index.stats.sumTotalTermFreq)
    assert(m.emptyDocs === 0L)
  }

  test("meta.json round trip keeps a separator analyzer whose char is JSON syntax") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    Seq(',', '"').foreach { sep =>
      val turns = Seq("alpha beta", "beta gamma", "gamma", "delta alpha").zipWithIndex
        .map { case (t, i) =>
          graft.model.Turn("c0", i, "user", t.replace(' ', sep), None, ts) }.toDS()
      val engine = graft.api.SearchEngine.build(turns, Analyzers.Separator(sep))
      val dir = java.nio.file.Files.createTempDirectory("graft-sep").toString
      IndexBuilder.save(engine.index, dir)
      val meta = org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/meta.json")))
      assert((meta \ "analyzer") === org.json4s.JString(s"sep_$sep"))
      val loaded = graft.api.SearchEngine.load(spark, dir)
      assert(loaded.index.analyzerName === s"sep_$sep")
      assert(loaded.index.analyzer === Analyzers.Separator(sep))
      val req = graft.model.SearchRequest(text = Some("gamma"))
      val got = loaded.search(req).hits
      assert(got.map(_.text).sorted === Seq(s"beta${sep}gamma", "gamma"))
      assert(got === engine.search(req).hits)
    }
  }

  test("buildAndSave docCount excludes zero-token docs (Terms.getDocCount semantics)") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val turns = Seq(
      graft.model.Turn("c1", 0, "user", "hello world graft", None, ts),
      graft.model.Turn("c1", 1, "user", "the and that", None, ts), // all stopwords
      graft.model.Turn("c2", 0, "user", "!!! ???", None, ts),    // no tokens at all
      graft.model.Turn("c2", 1, "user", "hello again graft", None, ts)).toDS()
    val c = DocIds.forTurns(turns)
    val built = IndexBuilder.build(c, Analyzers.Icat)
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val saved = IndexBuilder.buildAndSave(c, Analyzers.Icat, dir, hotDfThreshold = 50L)
    assert(built.stats.docCount === 2L)
    assert(saved.stats === built.stats)
    // sentinel rows exist in the artifact but never in a live view
    assert(spark.read.parquet(s"$dir/postings").filter(col("term").isNull).count() === 2L)
    assert(saved.postings.filter(col("term").isNull).count() === 0L)
    val loaded = IndexBuilder.load(spark, dir)
    assert(loaded.postings.filter(col("term").isNull).count() === 0L)
    assert(loaded.stats.docCount === 2L)
    assert(loaded.termStats.filter(col("term").isNull).count() === 0L)
  }

  test("checkpointed build resumes without recomputing finished groups") {
    val dir = tmp("graft-ckpt")
    val groups = 4
    val cols = Seq("term", "docId", "tf", "norm")
    val full = rows(grouped(corpus, dir, groups).postings, cols)
    val survivors = Seq(0, 2)
    val stamped = survivors.map(stamps(dir, _))
    kill(dir, 1, 3)

    val resumed = grouped(corpus, dir, groups)
    // only the lost groups ran again: the survivors' manifests and files
    // are the ones the first run wrote
    assert(survivors.map(stamps(dir, _)) === stamped)
    assert(rows(resumed.postings, cols) === full)

    // lineage counters: Σ group tokens == global sumTotalTermFreq, Σ rows
    // == the corpus, and each checksum re-verifies its written group
    val ms = manifests(dir, groups)
    assert(ms.map(_.group) === (0 until groups))
    assert(ms.map(_.tokens).sum === resumed.stats.sumTotalTermFreq)
    assert(ms.map(_.rows).sum === corpus.count())
    assert(ms.map(_.postings).sum === full.size.toLong)
    ms.foreach { m =>
      val written = spark.read.parquet(s"$dir/postings/group=${m.group}")
      assert(written.agg(bit_xor(xxhash64(col("term"), col("docId"), col("tf"))))
        .head().getLong(0) === m.checksum, s"group ${m.group}")
    }
    assert(resumed.stats === index.stats)
    assert(IndexBuilder.load(spark, dir).stats === index.stats)
  }

  test("checkpoint meta.json parses when the analyzer name holds a quote") {
    import org.json4s._
    val sep = Analyzers.Separator('"')
    val c = corpus.filter(col("docId") < 40)
    val dir = tmp("graft-ckpt-sep")
    grouped(c, dir, 2, sep)
    val meta = org.json4s.jackson.JsonMethods.parse(
      Files.readString(Paths.get(s"$dir/meta.json")))
    val ms = manifests(dir, 2)
    assert((meta \ "analyzer") === JString("sep_\""))
    assert((meta \ "groups") === JInt(2))
    assert((meta \ "sumTotalTermFreq") === JInt(ms.map(_.tokens).sum))
    assert(ms.map(_.key) === Seq.fill(2)(
      IndexBuilder.BuildKey("sep_\"", positions = false, groups = 2)))
    // each group's input: its corpus rows and their hash
    val input = IndexBuilder.postingsInput(c)
    assert(ms.map(m => (m.rows, m.inputHash)) === (0 until 2).map { g =>
      val r = input.filter(pmod(col("docId"), lit(2)) === g)
        .agg(count(lit(1)), bit_xor(xxhash64(input.columns.toSeq.map(col): _*))).head()
      (r.getLong(0), r.getLong(1))
    })
    // the manifests' parsed key matches the build's: a rerun without the
    // commit marker keeps both groups
    val stamped = (0 until 2).map(stamps(dir, _))
    Files.delete(Paths.get(s"$dir/meta.json"))
    grouped(c, dir, 2, sep)
    assert((0 until 2).map(stamps(dir, _)) === stamped)
    assert(IndexBuilder.load(spark, dir).analyzer === sep)
  }

  test("checkpointed postings equal the one-shot builder's postings") {
    val dir = tmp("graft-ckpt2")
    grouped(corpus, dir, 3, withPositions = true)
    kill(dir, 1)
    grouped(corpus, dir, 3, withPositions = true)
    val resumed = IndexBuilder.load(spark, dir)
    val oneShot = IndexBuilder.build(corpus, Analyzers.Icat, withPositions = true)
    val cols = oneShot.postings.columns.toSeq
    assert(resumed.postings.columns.toSeq === cols)
    assert(rows(resumed.postings, cols) === rows(oneShot.postings, cols))
    assert(rows(resumed.termStats, Seq("term", "df", "cf")) ===
      rows(oneShot.termStats, Seq("term", "df", "cf")))
    assert(resumed.stats === oneShot.stats)
    val req = graft.model.SearchRequest(text = Some("needle_3 \"w0000 w0001\""))
    val hits = new graft.api.SearchEngine(resumed).search(req).hits
    assert(hits.nonEmpty)
    assert(hits === new graft.api.SearchEngine(oneShot).search(req).hits)
    oneShot.unpersistAll(includeCorpus = false)
  }

  test("a failed rebuild leaves no meta.json, and load refuses the incomplete build") {
    val dir = tmp("graft-fail")
    IndexBuilder.buildAndSave(corpus, Analyzers.Icat, dir)
    assert(IndexBuilder.load(spark, dir).stats === index.stats)
    // a doc outside the 1-in-100 hot-term sample, so the analyzer throws
    // in the postings write, not before it
    val marker = corpus.filter(pmod(xxhash64(col("docId")), lit(100)) =!= 0)
      .select("text").head().getString(0)
    intercept[Exception] {
      IndexBuilder.buildAndSave(corpus, BuildSpec.Throwing(marker), dir)
    }
    assert(!Files.exists(Paths.get(s"$dir/meta.json")))
    val refused = intercept[IllegalArgumentException](IndexBuilder.load(spark, dir))
    assert(refused.getMessage.contains("incomplete build"), refused.getMessage)
  }

  test("two buildAndSave calls into one directory serve the second corpus") {
    val dir = tmp("graft-twice")
    IndexBuilder.buildAndSave(corpus, Analyzers.Icat, dir, hotDfThreshold = 50L)
    // same rows, analyzer and group count as the first build: only its
    // meta.json tells the second call to build in full
    val second = corpus.withColumn("text", concat(col("text"), lit(" zebra")))
    IndexBuilder.buildAndSave(second, Analyzers.Icat, dir, hotDfThreshold = 50L)
    val loaded = IndexBuilder.load(spark, dir)
    val oneShot = IndexBuilder.build(second, Analyzers.Icat)
    val cols = Seq("term", "docId", "tf", "norm")
    assert(rows(loaded.postings, cols) === rows(oneShot.postings, cols))
    assert(rows(loaded.termStats, Seq("term", "df", "cf")) ===
      rows(oneShot.termStats, Seq("term", "df", "cf")))
    assert(loaded.stats === oneShot.stats)
    assert(rows(loaded.corpus, Seq("docId", "text")) === rows(second, Seq("docId", "text")))
    oneShot.unpersistAll(includeCorpus = false)
  }

  test("a killed save does not leak into a save of another index of the same docCount") {
    val dir = tmp("graft-resave")
    IndexBuilder.save(index, dir)
    // what a commit killed after its group was published leaves
    Files.delete(Paths.get(s"$dir/meta.json"))
    // same docs, terms, tf and group count: only the attributes differ
    val other = IndexBuilder.build(corpus.withColumn("role", lit("zz")), Analyzers.Icat)
    assert(other.stats === index.stats)
    IndexBuilder.save(other, dir)
    val loaded = IndexBuilder.load(spark, dir)
    assert(loaded.postings.filter(col("role") =!= "zz").isEmpty)
    val cols = other.postings.columns.toSeq
    assert(rows(loaded.postings, cols) === rows(other.postings, cols))
    other.unpersistAll(includeCorpus = false)
  }

  test("a killed build rerun over an edited corpus of the same row count serves the edit") {
    val dir = tmp("graft-edit")
    IndexBuilder.buildAndSave(corpus, Analyzers.Icat, dir, hotDfThreshold = 50L)
    Files.delete(Paths.get(s"$dir/meta.json"))
    val edited = corpus.withColumn("text",
      when(col("docId") === 5L, concat(col("text"), lit(" zebra"))).otherwise(col("text")))
    IndexBuilder.buildAndSave(edited, Analyzers.Icat, dir, hotDfThreshold = 50L)
    val loaded = IndexBuilder.load(spark, dir)
    val oneShot = IndexBuilder.build(edited, Analyzers.Icat)
    assert(loaded.postings.filter(col("term") === "zebra").count() === 1L)
    assert(loaded.stats === oneShot.stats)
    val cols = oneShot.postings.columns.toSeq
    assert(rows(loaded.postings, cols) === rows(oneShot.postings, cols))
    // over two groups, only the edited doc's group is rebuilt
    val dir2 = tmp("graft-edit2")
    grouped(corpus, dir2, 2)
    val even = stamps(dir2, 0)
    Files.delete(Paths.get(s"$dir2/meta.json"))
    grouped(edited, dir2, 2)
    assert(stamps(dir2, 0) === even)
    assert(rows(IndexBuilder.load(spark, dir2).postings, cols) === rows(oneShot.postings, cols))
    oneShot.unpersistAll(includeCorpus = false)
  }

  test("build job budget: one buildAndSave of the tiny corpus runs 11 Spark jobs") {
    corpus.count()
    val sc = spark.sparkContext
    val dir = tmp("graft-jobs")
    val group = "graft-build-budget"
    val (_, groups) = jobGroupsOf {
      sc.setJobGroup(group, "buildAndSave")
      try IndexBuilder.buildAndSave(corpus, Analyzers.Icat, dir) finally sc.clearJobGroup()
    }
    assert(groups.forall(_ == group), groups)
    assert(groups.size === 11)
  }

  test("a grouped build and a resumed build persist nothing beyond the caller's corpus") {
    corpus.count()
    val sc = spark.sparkContext
    val standing = sc.getPersistentRDDs.keySet
    val dir = tmp("graft-leak")
    grouped(corpus, dir, 3)
    kill(dir, 1)
    grouped(corpus, dir, 3)
    assert(sc.getPersistentRDDs.keySet === standing)
  }
}

object BuildSpec {

  /** Icat, except that it throws on one text. */
  final case class Throwing(marker: String) extends TextAnalyzer {
    def positional(text: String): PosAnalyzed =
      if (text == marker) throw new IllegalStateException("marker text")
      else Analyzers.Icat.positional(text)
    def name: String = Analyzers.Icat.name
  }
}
