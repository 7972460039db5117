package graft.score

import graft.model._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** AttrPredicate → Catalyst Column translation, usable against any frame
  * carrying the referenced columns (postings with denormalized attrs, the
  * corpus table, or an external numeric table such as `events`). All
  * translations are plain comparison expressions, so they push down to the
  * parquet scan (the Spark analogue of the reference's Occur.FILTER legs
  * and BKD point-range queries, SearchBucket.java:347-357, 498-589). */
object Predicates {

  /** Columns a predicate reads — used to decide whether it can run on a
    * scan directly or must route through a corpus semi-join. */
  def columns(p: AttrPredicate): Seq[String] = p match {
    case FieldEquals(f, _)              => Seq(f)
    case FieldIn(f, _)                  => Seq(f)
    case TsRange(_, _)                  => Seq("ts")
    case NumRange(f, _, _, _, _)        => Seq(f)
    case ExactOrEnclosing(e, b, t, _)   => Seq(e, b, t)
    case SiNumRange(f, _, _, _, _, _)   => Seq(s"${f}SI")
  }

  def toColumn(p: AttrPredicate): Column = p match {
    case FieldEquals(f, v) => col(f) === lit(v)
    case FieldIn(f, vs)    => if (vs.isEmpty) lit(false) else col(f).isin(vs: _*)
    case TsRange(lo, hi)   =>
      // an open side (Long.Min/MaxValue: no bound given) compares nothing —
      // as a timestamp literal it would overflow Spark's microseconds
      Seq(Option.when(lo != Long.MinValue)(col("ts") >= lit(new java.sql.Timestamp(lo))),
        Option.when(hi != Long.MaxValue)(col("ts") <= lit(new java.sql.Timestamp(hi))))
        .flatten.reduceOption(_ && _).getOrElse(lit(true))
    case NumRange(f, lo, hi, loInc, hiInc) =>
      val l = if (loInc) col(f) >= lit(lo) else col(f) > lit(lo)
      val h = if (hiInc) col(f) <= lit(hi) else col(f) < lit(hi)
      l && h
    case ExactOrEnclosing(exactF, bottomF, topF, v) =>
      (col(exactF) === lit(v)) ||
        (col(bottomF) <= lit(v) && col(topF) >= lit(v))
    case SiNumRange(f, lo, hi, unit, loInc, hiInc) =>
      // bounds → SI once at plan time (driver-side double math identical
      // to the build-side conversion), compared against the *SI shadow
      // column — still a plain pushed-down range on the scan
      val loSi = graft.build.Units.convertValueToSiUnits(lo, unit)
      val hiSi = graft.build.Units.convertValueToSiUnits(hi, unit)
      require(loSi.isDefined && hiSi.isDefined,
        s"SiNumRange: unit '$unit' has no enabled SI conversion")
      val c = col(s"${f}SI")
      val l = if (loInc) c >= lit(loSi.get.value) else c > lit(loSi.get.value)
      val h = if (hiInc) c <= lit(hiSi.get.value) else c < lit(hiSi.get.value)
      l && h
  }

  def condition(ps: Seq[AttrPredicate]): Option[Column] =
    ps.map(toColumn).reduceOption(_ && _)
}
