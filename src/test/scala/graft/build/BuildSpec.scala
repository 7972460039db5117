package graft.build

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.corpus.{DocIds, TranscriptGen}
import org.apache.spark.sql.functions._

/** Salted-build equivalence and checkpoint/resume (FIXTURES.md §4-5). */
class BuildSpec extends SparkSuite {

  private lazy val corpus = DocIds.forTurns(TranscriptGen.tiny(spark)).cache()
  private lazy val index = IndexBuilder.build(corpus, Analyzers.Icat)

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
      IndexBuilder.save(engine.index, dir, segSize = 64)
      val meta = org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/meta.json")))
      assert((meta \ "analyzer") === org.json4s.JString(s"sep_$sep"))
      val loaded = graft.api.SearchEngine.load(spark, dir)
      assert(loaded.index.analyzerName === s"sep_$sep")
      assert(loaded.index.analyzer === Analyzers.Separator(sep))
      assert(loaded.index.segSize === 64)
      val req = graft.model.SearchRequest(text = Some("gamma"))
      val got = loaded.search(req).hits
      assert(got.map(_.text).sorted === Seq(s"beta${sep}gamma", "gamma"))
      assert(got === engine.search(req).hits)
      // a meta.json written before segSize was recorded loads the default layout
      val metaPath = java.nio.file.Paths.get(s"$dir/meta.json")
      java.nio.file.Files.writeString(metaPath,
        java.nio.file.Files.readString(metaPath).replaceAll(""""segSize":[0-9]+,""", ""))
      val old = IndexBuilder.load(spark, dir)
      assert(old.segSize === Segments.DefaultSegSize && old.analyzerName === s"sep_$sep")
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
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val nGroups = 4

    // full build
    val r1 = Checkpoint.buildPostings(corpus, Analyzers.Icat, dir, nGroups)
    assert(r1.groupsBuilt === (0 until nGroups))
    val full = Checkpoint.loadPostings(spark, dir)
      .orderBy("term", "docId").collect()

    // simulate a kill: wipe two groups' outputs + manifests
    import java.nio.file.{Files, Paths}
    Seq(1, 3).foreach { g =>
      Files.delete(Paths.get(s"$dir/manifests/$g.json"))
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/postings/group=$g"), true)
    }
    // stamp surviving manifests to detect recompute
    val stamp0 = Files.getLastModifiedTime(Paths.get(s"$dir/manifests/0.json"))

    val r2 = Checkpoint.buildPostings(corpus, Analyzers.Icat, dir, nGroups)
    assert(r2.groupsBuilt.toSet === Set(1, 3))
    assert(r2.groupsSkipped.toSet === Set(0, 2))
    assert(Files.getLastModifiedTime(Paths.get(s"$dir/manifests/0.json")) === stamp0)

    val resumed = Checkpoint.loadPostings(spark, dir)
      .orderBy("term", "docId").collect()
    assert(resumed.length === full.length)
    assert(resumed.map(_.toString).toSeq === full.map(_.toString).toSeq)

    // lineage counters: Σ group tokens == global sumTotalTermFreq
    val meta = Files.readString(Paths.get(s"$dir/meta.json"))
    val sttf = "\"sumTotalTermFreq\":(\\d+)".r.findFirstMatchIn(meta).get.group(1).toLong
    assert(r2.manifests.map(_.tokens).sum === sttf)
    assert(r2.manifests.map(_.rows).sum === corpus.count())
  }

  test("checkpoint meta.json parses when the analyzer name holds a quote") {
    import org.json4s._
    val sep = Analyzers.Separator('"')
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-sep").toString
    val r = Checkpoint.buildPostings(corpus.limit(40), sep, dir, 2)
    val meta = org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/meta.json")))
    assert((meta \ "analyzer") === JString("sep_\""))
    assert((meta \ "sumTotalTermFreq") === JInt(r.manifests.map(_.tokens).sum))
    assert((meta \ "nGroups") === JInt(2))
    assert(r.manifests.map(m => Checkpoint.readManifest(dir, m.group)) ===
      r.manifests.map(Some(_)))
  }

  test("checkpointed postings equal the one-shot builder's postings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toString
    Checkpoint.buildPostings(corpus, Analyzers.Icat, dir, 3)
    val a = Checkpoint.loadPostings(spark, dir)
      .select("term", "docId", "tf", "norm")
      .orderBy("term", "docId").collect().map(_.toString).toSeq
    val b = index.postings
      .select("term", "docId", "tf", "norm")
      .orderBy("term", "docId").collect().map(_.toString).toSeq
    assert(a === b)
  }
}
