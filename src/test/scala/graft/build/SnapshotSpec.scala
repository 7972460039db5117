package graft.build

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.corpus.{DocIds, TranscriptGen}
import graft.model.TermQuery
import graft.score.QueryExec

/** Snapshot isolation: readers keep the version they opened; commits are
  * atomic pointer swaps; history is retained (time travel). */
class SnapshotSpec extends SparkSuite {

  test("commit/open/isolation/time-travel") {
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val store = new SnapshotStore(root)
    assert(store.currentVersion.isEmpty)

    val corpus = DocIds.forTurns(TranscriptGen.generate(spark, 10))
    val idx1 = IndexBuilder.build(corpus, Analyzers.Icat)
    val v1 = store.commit(idx1)
    assert(store.currentVersion === Some(v1))

    // reader opens v1
    val reader1 = store.open(spark)
    val count1 = reader1.stats.docCount

    // writer commits v2 with fewer docs
    val half = corpus.filter(org.apache.spark.sql.functions.col("docId") < 5)
    val idx2 = IndexBuilder.build(half, Analyzers.Icat)
    val v2 = store.commit(idx2)
    assert(store.currentVersion === Some(v2))

    // reader1's snapshot is unaffected; a fresh open sees v2
    assert(reader1.stats.docCount === count1)
    val reader2 = store.open(spark)
    assert(reader2.stats.docCount === idx2.stats.docCount)
    assert(reader2.stats.docCount < count1)

    // time travel back to v1
    val old = store.openVersion(spark, v1)
    assert(old.stats.docCount === count1)
    assert(store.versions === Seq(v1, v2))

    // queries run against a snapshot
    val hits = new QueryExec(old).topK(TermQuery("w0000"), Nil, 5).collect()
    assert(hits.nonEmpty)
  }
}
