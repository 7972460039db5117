package graft.tools

import graft.analysis.Analyzers
import graft.api.SearchEngine
import graft.build.IndexBuilder
import graft.corpus.{DocIds, TranscriptGen}
import graft.model._
import graft.score.QueryExec
import org.apache.spark.sql.functions._

/** Dev utility: dump formatted physical plans for the load-bearing
  * queries so plan shape (pushdown, TakeOrderedAndProject, exchange
  * count) can be reviewed — see PLANS.md. */
object ShowPlans {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.session(4, "graft-show-plans")

    val dir = java.nio.file.Files.createTempDirectory("plans").toString
    val idx0 = IndexBuilder.build(
      DocIds.forTurns(TranscriptGen.generate(spark, 100)), Analyzers.Icat)
    IndexBuilder.save(idx0, s"$dir/idx", hotDfThreshold = 1000L)
    val engine = SearchEngine.load(spark, s"$dir/idx")
    val exec = new QueryExec(engine.index)

    def show(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n======== $name ========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

    // 1. postings build (from raw corpus): expect NO Exchange
    val built = IndexBuilder.build(
      DocIds.forTurns(TranscriptGen.generate(spark, 100)), Analyzers.Icat)
    show("postings build (narrow, no exchange expected)", built.postings)

    // 2. scored term query with attr filter over the SAVED index:
    //    expect PushedFilters on term + role at the parquet scan,
    //    and TakeOrderedAndProject at the top
    val q = QueryText.parse("needle_3 hydrogen", s => Analyzers.Icat(s).terms)
    show("boolean BM25 top-k with role filter (saved index)",
      exec.topK(q, Seq(FieldEquals("role", "assistant")), 10))

    // 3. match-all with ts range: partition/row-group pruning predicate
    show("match-all + ts range, field sort",
      exec.topKSorted(MatchAll,
        Seq(TsRange(Dates.parseMs("202601010000"), Dates.parseUpperMs("202601012359"))),
        SortSpec(Seq(("ts", false))), 10))

    // 4. facet: single hash-agg after semi join
    val m = exec.matches(q, Nil).select("docId")
    show("facet over matches", engine.index.corpus.join(m, "docId")
      .groupBy(col("role")).agg(count(lit(1)).as("doc_count")))

    // 5. double-range predicate over a numeric parquet column: expect
    //    PushedFilters [GreaterThanOrEqual(value,..), LessThan(value,..)]
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    show("double range over events (pushed to scan)",
      events.filter(graft.score.Predicates.toColumn(
        NumRange("value", 50.0, 150.0, loInc = true, hiInc = false)))
        .select("event_id", "value"))

    // 6. ANN probe over the materialized LSH index: expect
    //    PartitionFilters on (band, bv) — directory pruning
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    graft.pipeline.AnnIndex.buildLsh(emb, s"$dir/ann")
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    show("LSH probe (partition-pruned bucket scan)",
      graft.pipeline.AnnIndex.lshProbeScan(spark, s"$dir/ann", qv))

    spark.stop()
  }
}
