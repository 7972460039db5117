package graft.score

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.build.Segments
import graft.model._

/** The block-max WAND kernel must be result-identical to the naive
  * full-scan top-k — SURVEY.md §7.3 item 5: "kernel result must equal the
  * naive full-scan top-k on every test corpus". Each [[Pinned]] case runs
  * on the harness's servings and straight through `Wand.topK` over the
  * segments serving, whose small segments ([[OracleParity.SegSize]] docs)
  * exercise the per-segment top-k + global merge path. */
class WandSpec extends SparkSuite {

  private lazy val served = OracleParity.served(OracleParity.Tiny)
  private lazy val engine = served.engine
  private lazy val segIndex = served.serving("segments").index
  private lazy val segments = segIndex.segments.get
  private val segSize = OracleParity.SegSize

  // each case through the facade on every serving, and through the
  // kernel itself, whatever QueryExec routes
  Pinned.in("WandSpec").foreach(p => test(p.name) {
    OracleParity.check(p)
    p.requests.foreach { r =>
      val terms = Analyzers.Icat(r.text).terms.toSeq
      val got = Wand.topK(segments, segIndex.stats, new QueryExec(segIndex).termIdf(terms), r.k, segSize)
      OracleParity.differs(OracleParity.hitsOf(got), served.oracle.topK(
        QueryText.parse(r.text, s => Analyzers.Icat(s).terms), Nil, r.k)).foreach(m => fail(s"Wand.topK: $m"))
    }
  })

  test("auto-routing: QueryExec runs WAND when segments are present") {
    val routed = new QueryExec(segIndex)
    val flat = new QueryExec(engine.index)
    val q = QueryText.parse("needle_3 hydrogen", s => Analyzers.Icat(s).terms)
    // the kernel's plan is its per-segment flatMapGroups; the boolean path has none
    def kernel(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed
      .find(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MapGroups]).isDefined
    assert(kernel(routed.topK(q, Nil, 10)) && !kernel(flat.topK(q, Nil, 10)))
    val a = routed.topK(q, Nil, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val b = flat.topK(q, Nil, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(a === b)
    // filtered / cursored / must queries must NOT route (still correct)
    val c = routed.topK(q, Seq(graft.model.FieldEquals("role", "user")), 10)
    val d = flat.topK(q, Seq(graft.model.FieldEquals("role", "user")), 10).collect()
    assert(!kernel(c))
    assert(c.collect().map(_.getLong(0)).toSeq === d.map(_.getLong(0)).toSeq)
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
