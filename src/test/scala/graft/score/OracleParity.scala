package graft.score

import graft.analysis.TextAnalyzer
import graft.model.Turn
import org.apache.spark.sql.DataFrame
import org.scalatest.Assertions._

/** The shared engine ≡ [[NaiveOracle]] fixture of the parity specs: the
  * oracle over an index's stored corpus, and the one top-k assertion. */
object OracleParity {

  /** The oracle over every stored turn of `corpus` (an index's corpus
    * frame), keeping each turn's docId. */
  def oracleOf(corpus: DataFrame, analyzer: TextAnalyzer): NaiveOracle = {
    val rows = corpus
      .select("docId", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      .collect()
      .map { r =>
        (r.getLong(0), Turn(r.getString(1), r.getInt(2), r.getString(3),
          r.getString(4), Option(r.getString(5)), r.getTimestamp(6)))
      }
    NaiveOracle.fromTurns(rows.toIndexedSeq, analyzer)
  }

  /** Booleans that mix every leg kind under every occur — keyword field,
    * phrase, fuzzy, wildcard and nested group as MUST, SHOULD and
    * MUST_NOT legs next to terms, one of them absent from the index. */
  val mixedLegs: Seq[String] = Seq(
    "+role:assistant -tool:bash",
    "+role:assistant^2 -tool:bash needle_3",
    "+\"w0000 w0001\" needle_3",
    "needle_3 -\"w0000 w0001\"",
    "+ambiguous -\"w0000 w0001\"",
    "+hydrgen~ needle_3",
    "+needle_* hydrogen",
    "(+needle_3 role:assistant \"w0000 w0001\")^2 ambiguous",
    "+zzzzqqq \"w0000 w0001\"")

  /** The (docId, float score) rows of an engine top-k frame. */
  def hits(topK: DataFrame): Seq[(Long, Float)] =
    topK.collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq

  /** Engine top-k ≡ oracle top-k: the same docIds in the same order, each
    * score within 1e-5 relative (+ 1e-7 absolute) of the oracle's. */
  def assertSameTopK(got: Seq[(Long, Float)], want: Seq[(Long, Float)], clue: String): Unit = {
    assert(got.map(_._1) === want.map(_._1), s"rank mismatch for $clue")
    got.zip(want).foreach { case ((id, gs), (_, ws)) =>
      assert(math.abs(gs - ws) <= math.abs(ws) * 1e-5 + 1e-7,
        s"score mismatch for $clue doc $id: engine=$gs oracle=$ws")
    }
  }
}
