package graft.streaming

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.corpus.TranscriptGen
import org.apache.spark.sql.functions._

/** End-to-end Structured Streaming ingest: file source → analyze →
  * postings sink, micro-batch commits as the visibility boundary
  * (reference: modify feed + commitSeconds timer, Lucene.java:481-513,
  * 1094-1110). */
class StreamingSpec extends SparkSuite {

  test("streaming ingest writes the same postings as the batch transform") {
    val base = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val inDir = s"$base/in"
    val outDir = s"$base/out"
    val ckDir = s"$base/ck"
    new java.io.File(inDir).mkdirs()

    val turns = TranscriptGen.generate(spark, 10).toDF()
    turns.coalesce(1).write.mode("overwrite").parquet(inDir)

    val q = StreamingIndex.start(spark, inDir, outDir, ckDir, triggerSecs = 1)
    try {
      q.processAllAvailable() // drain every pending micro-batch
    } finally q.stop()

    val streamed = spark.read.parquet(outDir)
    val batch = StreamingIndex.postingsFor(spark.read.parquet(inDir), Analyzers.Icat)
    // identical (docId, term, tf, norm) multisets
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("docId", "term", "tf", "norm")
        .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(key(streamed) === key(batch))
    assert(streamed.count() > 0)

    // a SECOND batch of files becomes visible after its micro-batch
    // commit — the commitSeconds semantics
    val more = TranscriptGen.generate(spark, 13).toDF()
      .filter(col("conv_id") >= "conv-00000010")
    more.coalesce(1).write.mode("append").parquet(inDir)
    val q2 = StreamingIndex.start(spark, inDir, outDir, ckDir, triggerSecs = 1)
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.parquet(outDir)
    assert(after.select("docId").distinct().count() >
      streamed.select("docId").distinct().count())

    // ---- compaction: re-densify surrogate ids → equals the all-batch
    // build over the same turns ----
    import spark.implicits._
    val allTurns = spark.read.parquet(inDir).as[graft.model.Turn]
    val compacted = StreamingIndex.compact(after, allTurns)
    val batchIdx = graft.build.IndexBuilder.build(
      graft.corpus.DocIds.forTurns(allTurns), Analyzers.Icat)
    def postKey(df: org.apache.spark.sql.DataFrame) =
      df.select("term", "docId", "tf", "norm").orderBy("term", "docId")
        .collect().map(_.toSeq).toSeq
    assert(postKey(compacted.postings) === postKey(batchIdx.postings))
    assert(compacted.stats === batchIdx.stats)
    // dense ids: 0..n-1
    val ids = compacted.corpus.select("docId").collect().map(_.getLong(0)).sorted
    assert(ids.head === 0L && ids.last === ids.length - 1L)
  }

  test("positional stream → compact serves phrases like a batch build") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-streamp").toString
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    val texts = Seq(
      "merge conflict resolved", "conflict merge resolved",
      "merge conflict", "plain words only")
    texts.zipWithIndex.map { case (t, i) =>
      graft.model.Turn(f"conv-$i%03d", 0, "user", t, None,
        new java.sql.Timestamp(1767225600000L + i * 60000L))
    }.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(inDir)

    val q = StreamingIndex.start(spark, inDir, s"$base/out", s"$base/ck",
      triggerSecs = 1, withPositions = true)
    try q.processAllAvailable() finally q.stop()

    val allTurns = spark.read.parquet(inDir).as[graft.model.Turn]
    val compacted = StreamingIndex.compact(spark.read.parquet(s"$base/out"), allTurns)
    assert(compacted.hasPositions)
    val batchIdx = graft.build.IndexBuilder.build(
      graft.corpus.DocIds.forTurns(allTurns), Analyzers.Icat, withPositions = true)
    val phrase = graft.model.QueryText.parse("\"merge conflict\"",
      s => Analyzers.Icat(s).terms,
      analyzePos = s => Analyzers.Icat.positional(s))
    def hits(idx: graft.build.Index) =
      new graft.score.QueryExec(idx).topK(phrase, Nil, 10)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(hits(compacted) === hits(batchIdx))
    assert(hits(compacted).map(_._1).sorted === Seq(0L, 2L))
  }

  test("checked ingest detects surrogate collisions AT INGEST TIME") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-streamc").toString
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    // forced-collision surrogate: docId = turn_idx % 2 — distinct convs
    // collide both within a batch and across batches
    val collide = pmod(col("turn_idx").cast("long"), lit(2L))

    // batch 1: two turns with DISTINCT surrogates (turn_idx 0, 1) — passes
    Seq(graft.model.Turn("conv-a", 0, "user", "hello", None, new java.sql.Timestamp(0L)),
        graft.model.Turn("conv-a", 1, "user", "world", None, new java.sql.Timestamp(0L)))
      .toDS().toDF().coalesce(1).write.mode("overwrite").parquet(inDir)
    val q1 = StreamingIndex.startChecked(spark, inDir, s"$base/out", s"$base/keys",
      s"$base/ck", triggerSecs = 1, surrogate = collide)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(s"$base/out").count() > 0)
    assert(spark.read.parquet(s"$base/keys").count() === 2)

    // batch 2: a DIFFERENT conversation's turn 2 collides with conv-a/0
    // (same surrogate 0) — the batch must fail BEFORE appending
    val before = spark.read.parquet(s"$base/out").count()
    Seq(graft.model.Turn("conv-b", 2, "user", "boom", None, new java.sql.Timestamp(0L)))
      .toDS().toDF().coalesce(1).write.mode("append").parquet(inDir)
    val q2 = StreamingIndex.startChecked(spark, inDir, s"$base/out", s"$base/keys",
      s"$base/ck", triggerSecs = 1, surrogate = collide)
    val e = intercept[Exception] { try q2.processAllAvailable() finally q2.stop() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("collision")), messages(e).mkString(" | "))
    assert(spark.read.parquet(s"$base/out").count() === before) // nothing appended

    // within-batch collision: two colliding turns in ONE batch
    val base2 = java.nio.file.Files.createTempDirectory("graft-streamc2").toString
    new java.io.File(s"$base2/in").mkdirs()
    Seq(graft.model.Turn("conv-a", 0, "user", "x", None, new java.sql.Timestamp(0L)),
        graft.model.Turn("conv-b", 2, "user", "y", None, new java.sql.Timestamp(0L)))
      .toDS().toDF().coalesce(1).write.mode("overwrite").parquet(s"$base2/in")
    val q3 = StreamingIndex.startChecked(spark, s"$base2/in", s"$base2/out",
      s"$base2/keys", s"$base2/ck", triggerSecs = 1, surrogate = collide)
    val e3 = intercept[Exception] { try q3.processAllAvailable() finally q3.stop() }
    assert(messages(e3).exists(_.contains("WITHIN micro-batch")), messages(e3).mkString(" | "))
  }

  test("deduped ingest suppresses near-dups within and across batches") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-streamdd").toString
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    def turn(conv: String, idx: Int, text: String) =
      graft.model.Turn(conv, idx, "user", text, None, new java.sql.Timestamp(0L))
    def drive(): Unit = {
      val q = StreamingIndex.startDeduped(spark, inDir, s"$base/out", s"$base/dd",
        s"$base/ck", estThreshold = 0.8, shingleN = 3, buckets = 8, triggerSecs = 1)
      try q.processAllAvailable() finally q.stop()
    }
    val longA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val longB = (1 to 30).map(i => s"beta$i").mkString(" ")
    // batch 1: A, a near-copy of A (one token appended → n-gram Jaccard
    // 28/30 ≈ 0.93, comfortably above the 0.8 estimate threshold), and
    // distinct B
    Seq(turn("conv-a", 0, longA),
        turn("conv-a", 1, longA + " extra"),
        turn("conv-b", 0, longB))
      .toDS().toDF().coalesce(1).write.mode("overwrite").parquet(inDir)
    drive()
    val kept1 = spark.read.parquet(s"$base/out").select("conv_id", "turn_idx")
      .distinct().collect().map(r => (r.getString(0), r.getInt(1))).toSet
    // exactly one of the A-pair survives, B survives
    assert(kept1.size === 2, kept1)
    assert(kept1.contains(("conv-b", 0)))
    assert(kept1.count(k => k._1 == "conv-a") === 1)
    val dups1 = spark.read.parquet(s"$base/dd/dups").collect()
    assert(dups1.length === 1)
    assert(dups1(0).getAs[String]("scope") === "batch")
    assert(dups1(0).getAs[Double]("est") >= 0.8)

    // batch 2: a fresh conversation re-posts A (→ corpus dup of the
    // batch-1 keeper), plus a genuinely new doc and a too-short doc
    Seq(turn("conv-c", 0, longA),
        turn("conv-d", 0, (1 to 30).map(i => s"delta$i").mkString(" ")),
        turn("conv-e", 0, "tiny"))
      .toDS().toDF().coalesce(1).write.mode("append").parquet(inDir)
    drive()
    val kept2 = spark.read.parquet(s"$base/out").select("conv_id", "turn_idx")
      .distinct().collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(!kept2.contains(("conv-c", 0)), kept2) // suppressed at ingest
    assert(kept2.contains(("conv-d", 0)))
    assert(kept2.contains(("conv-e", 0))) // too short to shingle → kept
    val dups2 = spark.read.parquet(s"$base/dd/dups")
      .where(col("scope") === "corpus").collect()
    assert(dups2.length === 1)
    assert(dups2(0).getAs[String]("conv_id") === "conv-c")
    // the recorded keeper is a doc that is actually in the index
    val keptIds = spark.read.parquet(s"$base/out")
      .select("docId").distinct().collect().map(_.getLong(0)).toSet
    assert(keptIds.contains(dups2(0).getAs[Long]("dup_of")))
    // sidecars accumulate one signature row per kept shingleable doc
    // (batch 1 kept two long docs, batch 2 kept conv-d; conv-e is too
    // short to carry a signature)
    assert(spark.read.parquet(s"$base/dd/sigs").count() === 3)
  }

  test("deduped ingest fails a colliding batch before appending anything") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-streamddc").toString
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    // the forced-collision surrogate of the checked-ingest test
    val collide = pmod(col("turn_idx").cast("long"), lit(2L))
    def turn(conv: String, idx: Int, text: String) =
      graft.model.Turn(conv, idx, "user", text, None, new java.sql.Timestamp(0L))
    def drive(): Unit = {
      val q = StreamingIndex.startDeduped(spark, inDir, s"$base/out", s"$base/dd",
        s"$base/ck", shingleN = 3, buckets = 8, triggerSecs = 1, surrogate = collide)
      try q.processAllAvailable() finally q.stop()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

    // batch 1: distinct surrogates (turn_idx 0, 1) — passes, and its keys
    // land in the dedup directory's sidecar
    Seq(turn("conv-a", 0, "hello there"), turn("conv-a", 1, "general kenobi"))
      .toDS().toDF().coalesce(1).write.mode("overwrite").parquet(inDir)
    drive()
    val before = spark.read.parquet(s"$base/out").count()
    assert(before > 0)
    assert(spark.read.parquet(s"$base/dd/keys").count() === 2)

    // batch 2: another conversation's turn 2 takes conv-a/0's surrogate
    Seq(turn("conv-b", 2, "boom"))
      .toDS().toDF().coalesce(1).write.mode("append").parquet(inDir)
    val e = intercept[Exception](drive())
    assert(messages(e).exists(_.contains("ACROSS micro-batches")), messages(e).mkString(" | "))
    assert(spark.read.parquet(s"$base/out").count() === before) // nothing appended
    assert(spark.read.parquet(s"$base/dd/keys").count() === 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/dd/dups")))
  }

  test("checked ingest with the real surrogate equals the unchecked stream") {
    val base = java.nio.file.Files.createTempDirectory("graft-streamok").toString
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    TranscriptGen.generate(spark, 6).toDF()
      .coalesce(1).write.mode("overwrite").parquet(inDir)
    val q = StreamingIndex.startChecked(spark, inDir, s"$base/out", s"$base/keys",
      s"$base/ck", triggerSecs = 1)
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(s"$base/out")
    val batch = StreamingIndex.postingsFor(spark.read.parquet(inDir), Analyzers.Icat)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("docId", "term", "tf", "norm")
        .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(key(streamed) === key(batch))
    // keys sidecar: one row per ingested turn
    assert(spark.read.parquet(s"$base/keys").count() ===
      spark.read.parquet(inDir).count())
  }

  test("compaction fails loudly on a surrogate docId collision") {
    import spark.implicits._
    // two DISTINCT natural keys forged onto one surrogate id
    val streamed = Seq(
      (7L, "conv-a", 0, 1.toByte, "hello", 1, "user", null.asInstanceOf[String],
        new java.sql.Timestamp(0L)),
      (7L, "conv-b", 3, 1.toByte, "world", 1, "user", null.asInstanceOf[String],
        new java.sql.Timestamp(0L)))
      .toDF("docId", "conv_id", "turn_idx", "norm", "term", "tf", "role", "tool", "ts")
    val turns = Seq(
      graft.model.Turn("conv-a", 0, "user", "hello", None, new java.sql.Timestamp(0L)),
      graft.model.Turn("conv-b", 3, "user", "world", None, new java.sql.Timestamp(0L)))
      .toDS()
    val e = intercept[IllegalArgumentException] {
      StreamingIndex.compact(streamed, turns)
    }
    assert(e.getMessage.contains("collision"))
  }
}
