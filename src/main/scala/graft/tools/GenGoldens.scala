package graft.tools

import graft.analysis.Analyzers
import graft.api.{Json, SearchEngine}
import graft.corpus.TranscriptGen
import graft.model._
import graft.score.NaiveOracle
import org.json4s._

/** Generates the committed golden files (FIXTURES.md §3) from the naive
  * oracle over the tiny seed-42 corpus: frozen query set top-k +
  * collection stats. Run once; outputs are committed under
  * src/test/resources/golden and asserted by GoldenSpec (oracle == golden
  * guards the oracle; engine == golden guards the engine). */
object GenGoldens {

  /** The frozen query set (FIXTURES.md §2 analogues). */
  val queries: Seq[(String, String, Seq[AttrPredicate])] = Seq(
    ("q01", "needle_3", Nil),
    ("q02", "needle_3 hydrogen", Nil),
    ("q03", "+needle_3 +rare_001", Nil),
    ("q04", "+needle_3 -ambiguous", Nil),
    ("q05", "needle_3", Seq(FieldEquals("role", "assistant"))),
    ("q06", "needle_1", Seq(FieldIn("tool", Seq("bash", "search")))),
    ("q07", "ambiguous",
      Seq(TsRange(Dates.parseMs("202601010000"), Dates.parseUpperMs("202601312359")))),
    ("q08", "ambiguous", Nil), // paginated in the spec
    ("q09", "", Nil),          // match-all, ts sort in the spec
    ("q10", "w0000 w0001", Nil),
    ("q11", "needle_*", Nil),
    ("q12", "rare_00* hydrogen", Nil))

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.session(4, "graft-gen-goldens")

    val engine = SearchEngine.build(TranscriptGen.tiny(spark), Analyzers.Icat)
    val rows = engine.index.corpus
      .select("docId", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      .collect()
      .map(r => (r.getLong(0), Turn(r.getString(1), r.getInt(2), r.getString(3),
        r.getString(4), Option(r.getString(5)), r.getTimestamp(6))))
    val oracle = NaiveOracle.fromTurns(rows.toIndexedSeq, Analyzers.Icat)

    val dir = java.nio.file.Paths.get("src/test/resources/golden/topk")
    java.nio.file.Files.createDirectories(dir)
    queries.foreach { case (id, text, filters) =>
      val q = if (text.isEmpty) MatchAll
              else QueryText.parse(text, s => Analyzers.Icat(s).terms)
      val hits = oracle.topK(q, filters, 20)
      Json.writeFile(dir.resolve(s"$id.json").toString, JObject("id" -> JString(id),
        "text" -> JString(text), "hits" -> JArray(hits.map { case (d, s) =>
          JObject("docId" -> JLong(d), "score" -> Json.encode(s)) }.toList)))
      println(s"golden $id: ${hits.size} hits")
    }

    def dfOf(word: String): Long = oracle.df(Analyzers.Icat(word).terms.head)
    Json.writeFile("src/test/resources/golden/stats.json", JObject(
      "docCount" -> JLong(oracle.docCount), "sumTotalTermFreq" -> JLong(oracle.sumTotalTermFreq),
      "df" -> JObject(Seq("needle_3", "ambiguous", "hydrogen", "w0000")
        .map(w => JField(w, JLong(dfOf(w)))).toList)))
    println("golden stats written")
    spark.stop()
  }
}
