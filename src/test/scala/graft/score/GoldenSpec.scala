package graft.score

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.api.SearchEngine
import graft.corpus.TranscriptGen
import graft.model._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Committed golden files (FIXTURES.md §3): the frozen query set's top-20
  * (docId, score) over the tiny seed-42 corpus. Asserts BOTH
  * oracle == golden (guards the oracle against regressions) and
  * engine == golden (guards the engine), so the goldens play the role of
  * the reference's recorded query-suite outputs. */
class GoldenSpec extends SparkSuite {

  private lazy val engine = SearchEngine.build(TranscriptGen.tiny(spark), Analyzers.Icat)
  private lazy val exec = new QueryExec(engine.index)
  private lazy val oracle = OracleParity.oracleOf(engine.index.corpus, Analyzers.Icat)

  /** A golden file's document; decimals stay exact so a score reads
    * back as the Float its digits name. */
  private def resource(path: String): JValue = {
    val src = scala.io.Source.fromResource(path)
    try JsonMethods.parse(src.mkString, useBigDecimalForDouble = true) finally src.close()
  }

  private def golden(id: String): (String, Seq[(Long, Float)]) = {
    val doc = resource(s"golden/topk/$id.json")
    val hits = (doc \ "hits").children.map(h =>
      ((h \ "docId").values.toString.toLong, (h \ "score").values.toString.toFloat))
    ((doc \ "text").values.toString, hits)
  }

  graft.tools.GenGoldens.queries.foreach { case (id, _, filters) =>
    test(s"golden $id: oracle and engine both reproduce the committed file") {
      val (text, want) = golden(id)
      val q = if (text.isEmpty) MatchAll
              else QueryText.parse(text, s => Analyzers.Icat(s).terms)
      val fromOracle = oracle.topK(q, filters, 20)
      assert(fromOracle === want, s"$id: oracle drifted from golden")
      val fromEngine = exec.topK(q, filters, 20)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(fromEngine.map(_._1) === want.map(_._1), s"$id: engine ranks != golden")
      fromEngine.zip(want).foreach { case ((gd, gs), (wd, ws)) =>
        assert(gd === wd)
        assert(math.abs(gs - ws) <= math.abs(ws) * 1e-6 + 1e-7, s"$id doc $gd score")
      }
    }
  }

  test("golden stats: docCount / sumTotalTermFreq / df") {
    val stats = resource("golden/stats.json")
    def num(k: String): Long = (stats \\ k).values.toString.toLong
    assert(engine.index.stats.docCount === num("docCount"))
    assert(engine.index.stats.sumTotalTermFreq === num("sumTotalTermFreq"))
    assert(oracle.df(Analyzers.Icat("ambiguous").terms.head) === num("ambiguous"))
    assert(oracle.df("needle_3") === num("needle_3"))
  }
}
