package graft.score

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.api.SearchEngine
import graft.build.Segments
import graft.corpus.TranscriptGen
import graft.model._

/** The block-max WAND kernel must be result-identical to the naive
  * DataFrame top-k (which is itself oracle-verified in EngineSpec) —
  * SURVEY.md §7.3 item 5: "kernel result must equal the naive full-scan
  * top-k on every test corpus". Small segment size forces many segments
  * so the per-segment top-k + global merge path is actually exercised. */
class WandSpec extends SparkSuite {

  private val segSize = 64 // tiny segments: ~10 segments on the tiny corpus

  private lazy val engine = SearchEngine.build(TranscriptGen.tiny(spark), Analyzers.Icat)
  private lazy val segments =
    Segments.pack(engine.index.postings, engine.index.stats, segSize).cache()

  private def checkWand(text: String, k: Int = 10): Unit = {
    val terms = text.split(" ").flatMap(Analyzers.Icat(_).terms).toSeq
    val exec = new QueryExec(engine.index)
    val want = OracleParity.hits(
      exec.topK(QueryText.parse(text, s => Analyzers.Icat(s).terms), Nil, k))
    val got = OracleParity.hits(
      Wand.topK(segments, engine.index.stats, exec.termIdf(terms), k, segSize))
    assert(got === want, s"WAND mismatch for '$text'")
  }

  test("single term") { checkWand("needle_3") }
  test("two-term OR") { checkWand("needle_3 hydrogen") }
  test("hot zipf OR") { checkWand("w0000 w0001", 50) }
  test("rare + hot mix") { checkWand("rare_001 w0002 needle_7", 25) }
  test("ambiguous (norm quantization)") { checkWand("ambiguous", 40) }

  test("auto-routing: QueryExec runs WAND when segments are present") {
    val withSegs = engine.index.copy(segments = Some(segments), segSize = segSize)
    val routed = new QueryExec(withSegs)
    val flat = new QueryExec(engine.index)
    val q = QueryText.parse("needle_3 hydrogen", s => Analyzers.Icat(s).terms)
    val a = routed.topK(q, Nil, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val b = flat.topK(q, Nil, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(a === b)
    // filtered / cursored / must queries must NOT route (still correct)
    val c = routed.topK(q, Seq(graft.model.FieldEquals("role", "user")), 10).collect()
    val d = flat.topK(q, Seq(graft.model.FieldEquals("role", "user")), 10).collect()
    assert(c.map(_.getLong(0)).toSeq === d.map(_.getLong(0)).toSeq)
  }

  test("segment packing invariants: delta decode, df, block bounds") {
    import org.apache.spark.sql.functions._
    val rows = segments.collect()
    val post = engine.index.postings
      .groupBy("term").agg(count(lit(1)).as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dfBySeg = rows.groupBy(_.getString(1)).view.mapValues(
      _.map(_.getSeq[Int](2).size.toLong).sum).toMap
    dfBySeg.foreach { case (t, n) => assert(n === post(t), s"df mismatch $t") }
    rows.foreach { r =>
      val segId = r.getInt(0)
      val deltas = r.getSeq[Int](2)
      // decoded ids must be strictly increasing within [segBase, segBase+segSize)
      val ids = deltas.scanLeft(segId.toLong * segSize)(_ + _).drop(1)
      assert(ids == ids.sorted && ids.distinct.size == ids.size)
      assert(ids.forall(id => id >= segId.toLong * segSize && id < (segId + 1).toLong * segSize))
      val nBlocks = (deltas.size + Segments.BlockSize - 1) / Segments.BlockSize
      assert(r.getSeq[Int](5).size === nBlocks)
      assert(r.getSeq[Float](6).size === nBlocks)
    }
  }
}
