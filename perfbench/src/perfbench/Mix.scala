package perfbench

import graft.model.{AfterToken, SearchRequest, SortSpec}

import java.util.Random

/** One request of the closed loop, tagged with its kind. `page1` holds the
  * hits of the response a page-2 request continues from. */
final case class Op(kind: String, req: SearchRequest, page1: Seq[Long] = Nil)

/** The vocabularies of `graft.corpus.TranscriptGen` the request streams
  * draw from, and the seeded request generators of the two workloads.
  *
  * Kinds, result sizes and clause counts follow a fixed rotation and the
  * seed picks the terms, so every run sends the same mix of request shapes
  * and a run's median does not hinge on which shapes the seed favoured. */
object Mix {
  val HotTerms: IndexedSeq[String] = (0 until 50).map(i => f"w$i%04d")
  private val Elements = IndexedSeq(
    "hydrogen", "helium", "lithium", "beryllium", "boron", "carbon",
    "nitrogen", "oxygen", "fluorine", "neon", "sodium", "magnesium",
    "aluminum", "silicon", "phosphorus", "sulfur", "chlorine", "argon",
    "potassium", "calcium", "titanium", "chromium", "manganese", "iron",
    "cobalt", "nickel", "copper", "zinc", "gallium", "germanium")
  val RareTerms: IndexedSeq[String] = (0 until 470).map(i => f"rare_$i%03d") ++ Elements
  val Planted: IndexedSeq[String] = (0 until 10).map(i => s"needle_$i") :+ "ambiguous"
  private val Roles = IndexedSeq("user", "assistant", "system")
  private val Tools = IndexedSeq("bash", "search", "browser", "editor", "python")

  /** Kinds `graft.score.NaiveOracle` replays in the correctness check;
    * phrase and fuzzy requests are checked by invariants only. */
  val OracleKinds: Set[String] =
    Set("or", "must", "must_not", "filter", "term", "and", "range", "sort", "page2",
      "regexp", "wildcard")

  /** 2026-01-01T00:00Z, the generator's first timestamp, and five weekly
    * range-facet buckets over the generator's month of timestamps. */
  val TsBaseMs: Long = 1767225600000L
  private val WeekMs = 7L * 86400000L
  val WeekRanges: Seq[(String, Long, Long)] =
    (0 until 5).map(w => (s"week$w", TsBaseMs + w * WeekMs, TsBaseMs + (w + 1) * WeekMs))

  private def pick[T](r: Random, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  private def distinct(r: Random, xs: IndexedSeq[String], n: Int): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += pick(r, xs)
    out.toSeq
  }

  private def attrFilter(r: Random): Map[String, Seq[String]] =
    if (r.nextBoolean()) Map("role" -> Seq(pick(r, Roles))) else Map("tool" -> Seq(pick(r, Tools)))

  /** `kinds` in a fixed rotation; `n` counts the requests taken. */
  private final class Rotation(kinds: IndexedSeq[String]) {
    var n = 0
    def next(): String = { n += 1; kinds((n - 1) % kinds.size) }
  }

  /** A workload's request stream. */
  sealed trait Stream {
    /** The next request; `prev` is the previous response on the same
      * snapshot (kind, hits, search_after token), if any. */
    def next(prev: Option[(Op, Seq[Long], Option[AfterToken])]): Op
    def facet(): SearchRequest
  }

  /** Zipf-head terms: every query term has postings in most documents. */
  final class Hot(r: Random) extends Stream {
    private val kinds = new Rotation(IndexedSeq("or", "must", "must_not", "phrase", "filter"))

    def next(prev: Option[(Op, Seq[Long], Option[AfterToken])]): Op = {
      val kind = kinds.next()
      // k = 100 on every fourth request, which walks across the five kinds
      val k = if (kinds.n % 4 == 0) 100 else 10
      def two = { val Seq(a, b) = distinct(r, HotTerms, 2); (a, b) }
      def req(text: String) = SearchRequest(Some(text), maxResults = k)
      kind match {
        case "or" =>
          Op("or", req(distinct(r, HotTerms, 2 + (kinds.n / 5) % 4).mkString(" ")))
        case "must"     => val (a, b) = two; Op("must", req(s"+$a +$b"))
        case "must_not" => val (a, b) = two; Op("must_not", req(s"+$a -$b"))
        case "phrase"   => val (a, b) = two; Op("phrase", req("\"" + a + " " + b + "\""))
        case "filter"   => Op("filter", req(pick(r, HotTerms)).copy(filter = attrFilter(r)))
      }
    }

    def facet(): SearchRequest = SearchRequest(Some(pick(r, HotTerms)))
  }

  /** Rare terms: every query term has few postings, so the fixed cost of a
    * request dominates; one request in nine is a dictionary rewrite. */
  final class Selective(r: Random) extends Stream {
    private val kinds = new Rotation(IndexedSeq("term", "or", "page2", "and", "filter", "range",
      "sort", "page2", "rewrite"))
    private val rewrites = new Rotation(IndexedSeq("fuzzy", "regexp", "wildcard"))

    private def rareOrPlanted: String =
      if (r.nextInt(10) < 3) pick(r, Planted) else pick(r, RareTerms)

    /** A one-edit misspelling of a rare term (`~1`) or a two-edit one of
      * an element name (`~2`). */
    private def misspelt: String =
      if (r.nextBoolean()) {
        val w = f"rare_${r.nextInt(470)}%03d".toCharArray
        w(5 + r.nextInt(3)) = ('0' + r.nextInt(10)).toChar
        s"${new String(w)}~1"
      } else {
        val w = pick(r, Elements).toCharArray
        (0 until 2).foreach(_ => w(r.nextInt(w.length)) = ('a' + r.nextInt(26)).toChar)
        s"${new String(w)}~2"
      }

    private def dateRange: (Option[String], Option[String]) = {
      val day = 1 + r.nextInt(25)
      (Some(f"202601$day%02d0000"), Some(f"202601${day + r.nextInt(5)}%02d2359"))
    }

    /** A `page2` slot continues the previous response when it filled its
      * page, and is a single-term request otherwise. */
    def next(prev: Option[(Op, Seq[Long], Option[AfterToken])]): Op = {
      def req(text: String) = SearchRequest(Some(text))
      kinds.next() match {
        case "page2" =>
          prev match {
            case Some((op, hits, Some(after))) if op.kind != "page2" && hits.size == op.req.maxResults =>
              Op("page2", op.req.copy(searchAfter = Some(after)), page1 = hits)
            case _ => Op("term", req(rareOrPlanted))
          }
        case "term" => Op("term", req(rareOrPlanted))
        case "or" =>
          Op("or", req(distinct(r, RareTerms, 2 + (kinds.n / 9) % 2).mkString(" ")))
        case "and"    => Op("and", req(s"+${pick(r, Planted)} +${pick(r, RareTerms)}"))
        case "filter" => Op("filter", req(rareOrPlanted).copy(filter = attrFilter(r)))
        case "range" =>
          val (lo, hi) = dateRange
          Op("range", req(rareOrPlanted).copy(lower = lo, upper = hi))
        case "sort" => Op("sort", req(rareOrPlanted).copy(sort = SortSpec(Seq("ts" -> false))))
        case "rewrite" =>
          rewrites.next() match {
            case "fuzzy"  => Op("fuzzy", req(misspelt))
            case "regexp" => Op("regexp", req(s"/rare_${r.nextInt(4)}[0-9][0-4]/"))
            case "wildcard" =>
              Op("wildcard", req(if (r.nextBoolean()) f"rare_${r.nextInt(47)}%02d*" else "needle_?"))
          }
      }
    }

    def facet(): SearchRequest = SearchRequest(Some(rareOrPlanted))
  }
}
