package graft.score

import graft.SparkSuite
import graft.analysis.Analyzers
import graft.model._

/** Fuzzy-query semantics (graft.model.FuzzyQuery — Lucene FuzzyQuery with
  * its TopTermsBlendedFreqScoringRewrite default): dictionary expansion
  * within maxEdits, boost = 1 − edits/min(lengths), blended df, OSA
  * transpositions. The engine's distributed path must agree with the
  * independent NaiveOracle full-scan implementation on ids AND scores:
  * the [[Pinned]] harness cases over [[Pinned.FuzzyTexts]]. */
class FuzzySpec extends SparkSuite {

  private lazy val exec = new QueryExec(OracleParity.engine(Pinned.FuzzyTexts).index)

  Pinned.in("FuzzySpec").foreach(p => test(p.name)(OracleParity.check(p)))

  test("EditDistance: OSA transpositions vs plain Levenshtein") {
    import graft.model.EditDistance.bounded
    assert(bounded("ab", "ba", 2, transpositions = true) === 1)
    assert(bounded("ab", "ba", 2, transpositions = false) === 2)
    // OSA (not free Damerau): a transposed pair cannot be edited again
    assert(bounded("ca", "abc", 3, transpositions = true) === 3)
    assert(bounded("spark", "sprak", 1, transpositions = true) === 1)
    assert(bounded("spark", "sprak", 1, transpositions = false) === -1)
    assert(bounded("spark", "spark", 0, transpositions = false) === 0)
    assert(bounded("abcdef", "xyzuvw", 2, transpositions = true) === -1)
    // agrees with the oracle's independent full-matrix implementation
    for (a <- Seq("spark", "sprak", "part", "sort", "a", "", "sparkle");
         b <- Seq("sark", "spark", "pat", "", "elkraps"); t <- Seq(true, false)) {
      val full = NaiveOracle.editDistance(a, b, t)
      val bd = bounded(a, b, 2, t)
      assert(bd === (if (full <= 2) full else -1), s"($a,$b,$t)")
    }
  }

  test("transpositions=true admits a transposed pair that plain rejects") {
    val on = exec.topK(FuzzyQuery("sprak", maxEdits = 1), Nil, 20)
      .collect().map(_.getLong(0)).toSet
    // 1 edit with OSA reaches both the literal 'sprak' and 'spark'
    assert(on === Set(0L, 1L, 5L))
    val off = exec.topK(FuzzyQuery("sprak", maxEdits = 1, transpositions = false),
        Nil, 20).collect().map(_.getLong(0)).toSet
    assert(off === Set(1L)) // only the doc containing literal 'sprak'
  }

  test("prefixLength and maxExpansions pin the expansion's docs") {
    val pref = exec.topK(FuzzyQuery("park", maxEdits = 1, prefixLength = 1), Nil, 20)
      .collect().map(_.getLong(0)).toSet
    // prefix 'p': only 'part' (park→part 1 edit; 'parts' is 2) — 'spark'
    // fails the prefix; 'part' occurs only in doc 4
    assert(pref === Set(4L))
    // cap 1 keeps only the best-boost term (the exact match, boost 1)
    val capped = exec.topK(FuzzyQuery("spark", maxExpansions = 1), Nil, 20)
      .collect().map(_.getLong(0)).toSet
    assert(capped === Set(0L, 1L, 5L)) // docs containing literal 'spark'
  }

  test("driver-side expansion keeps Spark's semantics: code points, UTF-8 order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // 𝐤 (U+1D424) is one code point in two UTF-16 units; ｋ (U+FF4B) is
    // one unit. In UTF-8 (code point) order "abｋ" < "ab𝐤"; in UTF-16
    // order "ab𝐤" < "abｋ"
    val terms = Seq("abｋ", "ab𝐤", "abxy", "𝐤", "𝐤𝐤", "𝐤𝐤x", "spark", "sparｋ", "spar𝐤")
    val rows = terms.indices.flatMap(i =>
      Seq((i.toLong, terms(i), 1 + i % 3), ((i + 1L) % terms.size, terms(i), 1)))
    val postings = rows.toDF("docId", "term", "tf")
      .withColumn("norm", lit(graft.build.SmallFloat.intToByte4(4)))
    val idx = graft.build.IndexBuilder.fromPostings(
      terms.indices.map(_.toLong).toDF("docId"), postings, "simple")
    val driver = new QueryExec(idx)
    val scan = new QueryExec(idx.withDictionaryCap(0)) // the distributed expansion
    assert(idx.dictionary.isDefined && scan.index.dictionary.isEmpty)
    // every term is in two docs; the dictionary finds each as the scan does
    assert(terms.flatMap(t => idx.dictionary.get.df(t)) === terms.map(_ => 2L))
    assert(driver.termIdf(terms :+ "abk") === scan.termIdf(terms :+ "abk"))
    val queries = Seq(
      FuzzyQuery("abcd"),
      FuzzyQuery("abcd", maxExpansions = 2), // a boost tie, cut by term order
      FuzzyQuery("𝐤𝐤"),                      // length band in code points
      FuzzyQuery("𝐤𝐤", maxEdits = 1),
      FuzzyQuery("spark", maxExpansions = 2),
      FuzzyQuery("spar𝐤", prefixLength = 5)) // the prefix splits 𝐤
    queries.foreach { q =>
      val got = driver.fuzzyExpansion(q)
      assert(got === scan.fuzzyExpansion(q), q)
      def scored(e: QueryExec) = e.topK(q, Nil, 20).collect()
        .map(r => (r.getLong(0), java.lang.Float.floatToIntBits(r.getFloat(1)))).toSeq
      assert(scored(driver) === scored(scan), q)
    }
    // the cases above do reach Spark's semantics, not Java's String ones
    assert(driver.fuzzyExpansion(FuzzyQuery("abcd", maxExpansions = 2)).map(_._1) ===
      Seq("abxy", "abｋ"))
    assert(!driver.fuzzyExpansion(FuzzyQuery("𝐤𝐤")).map(_._1).contains("𝐤"))
    assert(driver.fuzzyExpansion(FuzzyQuery("𝐤𝐤")).find(_._1 == "𝐤𝐤x").map(_._3) ===
      Some(1.0 - 1.0 / 3))
    idx.unpersistAll()
  }

  test("maxEdits 0 degenerates to the exact term") {
    val fz = exec.topK(FuzzyQuery("spark", maxEdits = 0), Nil, 20)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val tq = exec.topK(TermQuery("spark"), Nil, 20)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(fz === tq)
  }

  test("parser: word~, word~N, fielded value~N, malformed suffixes") {
    def p(s: String) = QueryText.parse(s, t => Analyzers.Simple(t).terms)
    assert(p("sark~") === BoolQuery(should = Seq(FuzzyQuery("sark", 2))))
    assert(p("SARK~1") === BoolQuery(should = Seq(FuzzyQuery("sark", 1))))
    assert(p("+sark~0") === BoolQuery(must = Seq(FuzzyQuery("sark", 0))))
    assert(p("role:usr~1") === BoolQuery(should = Seq(FieldFuzzyQuery("role", "usr", 1))))
    // out-of-range / malformed suffix: not fuzzy syntax — analyzed as
    // text (the multi-token SHOULD group is the whole query, so the
    // single-child boolean collapses — Lucene
    // BooleanSingleChildOptimizationQueryNodeProcessor semantics)
    assert(p("sark~3") ===
      BoolQuery(should = Seq(TermQuery("sark"), TermQuery("3"))))
    assert(p("~sark") === BoolQuery(should = Seq(TermQuery("sark"))))
    assert(p("sark~ -typo") === BoolQuery(should = Seq(FuzzyQuery("sark", 2)),
      mustNot = Seq(TermQuery("typo"))))
  }

  test("fielded fuzzy pins: the attribute's docs at constant score") {
    // role values: 'user' (even docs), 'asistant' (odd). usr~1 → user
    val got = exec.topK(FieldFuzzyQuery("role", "usr", 1), Nil, 20)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(got.map(_._1) === Seq(0L, 2L, 4L, 6L))
    assert(got.forall(_._2 === 1.0f))
    // assistant~1 matches the misspelled 'asistant' (1 deletion)
    val odd = exec.topK(FieldFuzzyQuery("role", "assistant", 1), Nil, 20)
      .collect().map(_.getLong(0)).toSeq
    assert(odd === Seq(1L, 3L, 5L))
  }
}
