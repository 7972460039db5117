package graft.analysis

import scala.collection.mutable

/** Solr-format synonym support, replicating the observable semantics of the
  * reference's query/index analyzer
  * (reference: src/main/java/org/icatproject/lucene/analyzers/IcatSynonymAnalyzer.java:28-57):
  * synonyms are parsed with expand=true and dedup=true, every rule side is
  * itself analyzed with the base analyzer chain (tokenize → possessive →
  * lowercase → stop → Porter), and injection happens *after* stemming.
  *
  * Emission ordering replicates Lucene's `SynonymGraphFilter` as pinned by
  * the reference goldens (src/test/java/icat/lucene/TestLucene.java:118-171):
  * at a match, tokens are laid out on graph position slots; tokens are
  * emitted slot-ascending, and within a slot longer-span (posLength) tokens
  * first, with injected alternatives before the original:
  *   hydrogen          → h hydrogen
  *   be                → beryllium be
  *   time of flight    → tof time of flight
  *   arpes             → arp angl resolv photoemiss spectroscopi
  *
  * A match spanning L graph slots contributes L to the document's position
  * count (tokens beyond the first in a slot carry positionIncrement 0 and
  * are discounted from the norm, as Lucene's default discountOverlaps does).
  */
final class SynonymSet private (
    val rules: Map[List[String], List[List[String]]],
    val maxKeyLen: Int
) extends Serializable {

  /** Apply synonym injection to a post-stem, gap-aware token stream.
    * Greedy longest-match, left to right, no overlapping matches (as the
    * FST-backed SynonymGraphFilter does). The graph is laid out on Lucene
    * positions (pinned by the reference phrase golden
    * `location:"path ? data (mr molecular) replac file.txt"`,
    * TestLucene.java:144-171):
    *
    *  - an unmatched token keeps its incoming position (+ cumulative
    *    shift), so stopword gaps survive;
    *  - a match starting at incoming position p lays its `slots`-wide
    *    graph on positions p..p+slots-1 (alternatives share slot starts);
    *  - a multi-token expansion of a shorter key CONSUMES extra slots:
    *    every later token shifts right by (slots - key span), exactly as
    *    an unflattened SynonymGraphFilter stream indexes.
    *
    * The result's `positions` counts slots consumed, gaps excluded. */
  def apply(in: PosAnalyzed): PosAnalyzed = {
    if (rules.isEmpty) return in
    val terms = mutable.ArrayBuffer.empty[String]
    val pos = new mutable.ArrayBuilder.ofInt
    var positions = 0
    var shift = 0
    var i = 0
    val n = in.terms.length
    while (i < n) {
      var key: List[String] = Nil
      var alts: List[List[String]] = null
      var len = math.min(maxKeyLen, n - i)
      while (alts == null && len >= 1) {
        key = in.terms.slice(i, i + len).toList
        alts = rules.getOrElse(key, null)
        len -= 1
      }
      if (alts == null) {
        terms += in.terms(i)
        pos += in.pos(i) + shift
        positions += 1
        i += 1
      } else {
        // alternatives that are not literally the original token sequence
        val others = alts.filterNot(_ == key)
        val slots = (key :: others).map(_.length).max
        val base = in.pos(i) + shift
        // lay each path over `slots` position slots: the first token of a
        // path shorter than `slots` spans the remainder (posLength), the
        // rest are single-slot; emit slot-ascending, longer spans first,
        // alternatives (in rule order — the sort is stable) before the original
        (others.map((_, 1)) :+ ((key, 2)))
          .flatMap { case (path, rank) =>
            path.zipWithIndex.map { case (t, slot) =>
              (slot, if (slot == 0) slots - path.length + 1 else 1, rank, t)
            }
          }
          .sortBy { case (slot, posLen, rank, _) => (slot, -posLen, rank) }
          .foreach { case (slot, _, _, t) => terms += t; pos += base + slot }
        positions += slots
        // align the next incoming position with the end of the graph
        shift = base + slots - 1 - in.pos(i + key.length - 1)
        i += key.length
      }
    }
    PosAnalyzed(terms.toArray, pos.result(), positions)
  }
}

object SynonymSet {
  val empty: SynonymSet = new SynonymSet(Map.empty, 0)

  /** Parse Solr synonym format with expand=true:
    *   a, b, c          — every member maps to the whole group
    *   a, b => c, d     — each LHS maps to all RHS
    * Each term is analyzed with `analyze` (multi-word terms become
    * multi-token keys/paths). Lines starting with '#' and blanks ignored.
    */
  def parse(lines: Iterator[String], analyze: String => Array[String]): SynonymSet = {
    val rules = mutable.LinkedHashMap.empty[List[String], mutable.ArrayBuffer[List[String]]]
    def add(key: List[String], out: List[String]): Unit = {
      if (key.nonEmpty && out.nonEmpty) {
        val buf = rules.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
        if (!buf.contains(out)) buf += out // dedup=true
      }
    }
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).foreach { line =>
      if (line.contains("=>")) {
        val Array(lhs, rhs) = line.split("=>", 2)
        val keys = lhs.split(",").map(_.trim).filter(_.nonEmpty).map(t => analyze(t).toList)
        val outs = rhs.split(",").map(_.trim).filter(_.nonEmpty).map(t => analyze(t).toList)
        for (k <- keys; o <- outs) add(k, o)
      } else {
        val group = line.split(",").map(_.trim).filter(_.nonEmpty).map(t => analyze(t).toList)
        for (k <- group; o <- group) add(k, o)
      }
    }
    val m = rules.map { case (k, v) => (k, v.toList) }.toMap
    new SynonymSet(m, if (m.isEmpty) 0 else m.keys.map(_.length).max)
  }

  /** Load the bundled scientific synonym resource (see
    * src/main/resources/graft-synonyms.txt). */
  def bundled(analyze: String => Array[String]): SynonymSet = {
    val in = getClass.getClassLoader.getResourceAsStream("graft-synonyms.txt")
    if (in == null) empty
    else {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try parse(src.getLines(), analyze)
      finally src.close()
    }
  }
}
