package graft.analysis

import org.scalatest.funsuite.AnyFunSuite

/** Golden token-stream tests ported from the reference's unit tests
  * (reference: src/test/java/icat/lucene/TestLucene.java:89-200) — these are
  * real outputs of the reference engine and pin the whole analysis chain.
  */
class AnalyzerSpec extends AnyFunSuite {

  /** A positional analysis as (term, position) pairs in emission order. */
  private def termsAt(a: PosAnalyzed): Seq[(String, Int)] = a.terms.toSeq.zip(a.pos)

  test("IcatAnalyzer golden: demo sentence (TestLucene.java:91-112)") {
    val text = "This is a demo   of the 1st (or is it number 2) all singing and dancing TokenStream's API with added aardvarks"
    val got = Analyzers.Icat(text)
    assert(got.terms.mkString(" ") ===
      "demo of 1st number 2 all sing danc tokenstream api ad aardvark")
    assert(got.terms.length === 12)
    assert(got.positions === 12)
  }

  test("IcatAnalyzer golden: chemical-symbol stop words (TestLucene.java:177-200)") {
    val got = Analyzers.Icat("as at be in no that the their then there")
    assert(got.terms.mkString(" ") === "as at be in no")
    assert(got.terms.length === 5)
  }

  test("IcatSynonymAnalyzer golden: elements + techniques (TestLucene.java:118-141)") {
    val text = "hydrogen Helium LITHIUM be B NE ionisation TIME of FLIGHT technique ArPeS"
    val got = Analyzers.IcatSynonym(text)
    assert(got.terms.mkString(" ") ===
      "h hydrogen he helium li lithium beryllium be boron b neon ne ioniz ionis tof time of flight techniqu arp angl resolv photoemiss spectroscopi")
    assert(got.terms.length === 24)
  }

  test("synonym position counting: injected tokens share positions") {
    // hydrogen -> {h, hydrogen} is one position; arpes expands to 4 slots
    assert(Analyzers.IcatSynonym("hydrogen").positions === 1)
    assert(Analyzers.IcatSynonym("arpes").positions === 4)
    assert(Analyzers.IcatSynonym("time of flight").positions === 3)
  }

  test("positional analysis golden: stopword gaps + synonym slots (TestLucene.java:144-171)") {
    // the reference phrase golden: "/path/to/data/mr/file.txt" analyzes to
    //   location:"path ? data (mr molecular) replac file.txt"
    // i.e. path@0, GAP@1 (stopword 'to'), data@2, mr@3 (posLen 2) with
    // molecular@3 + replac@4 injected, file.txt shifted to @5
    val got = Analyzers.IcatSynonym.positional("/path/to/data/mr/file.txt")
    assert(termsAt(got) === Seq(
      "path" -> 0, "data" -> 2, "mr" -> 3,
      "molecular" -> 3, "replac" -> 4, "file.txt" -> 5))
    // norm length counts slots, not max position: 1+1+2+1
    assert(got.positions === 5)
    // gap-aware Icat chain without synonyms
    val icat = Analyzers.Icat.positional("time of the flight")
    assert(termsAt(icat) === Seq("time" -> 0, "of" -> 1, "flight" -> 3))
    assert(icat.positions === 3)
    // a one-token key expanding to a three-token path (tof → time of
    // flight) shifts every later token right by two; the stopword gap
    // ('to') survives before the four-slot arpes expansion
    val tof = Analyzers.IcatSynonym.positional("tof of be to arpes")
    assert(termsAt(tof) === Seq(
      "tof" -> 0, "time" -> 0, "of" -> 1, "flight" -> 2, "of" -> 3,
      "beryllium" -> 4, "be" -> 4, "arp" -> 6, "angl" -> 6, "resolv" -> 7,
      "photoemiss" -> 8, "spectroscopi" -> 9))
    assert(tof.positions === 9)
    // a three-token key (time of flight) after a hyphen split: its
    // one-token alternative (tof) stacks on the key's first slot and the
    // key keeps its own positions
    val xray = Analyzers.IcatSynonym.positional("x-ray time of flight")
    assert(termsAt(xray) === Seq(
      "x" -> 0, "rai" -> 1, "tof" -> 2, "time" -> 2, "of" -> 3, "flight" -> 4))
    assert(xray.positions === 5)
  }

  test("analysis digest: apply and positional output over generated turns") {
    // one line per (analyzer, text): name|apply terms|apply positions|
    // positional term@pos|positional positions — any change to any
    // analyzer's output moves the digest
    val texts = (0 until 300).flatMap(c => graft.corpus.TranscriptGen.turnsOf(c.toLong)).map(_.text)
    val sb = new StringBuilder
    for (a <- Seq(Analyzers.Icat, Analyzers.IcatSynonym, Analyzers.Simple); t <- texts) {
      val plain = a(t)
      val pos = a.positional(t)
      sb.append(a.name).append('|').append(plain.terms.mkString(" ")).append('|')
        .append(plain.positions).append('|')
        .append(termsAt(pos).map { case (term, p) => s"$term@$p" }.mkString(" ")).append('|')
        .append(pos.positions).append('\n')
    }
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(digest === "46fee27bc7863e146397282b6037e186f98bdec07b5735fb7423f428f6c42023")
  }

  test("positional analysis emits the same term sequence as apply()") {
    val texts = Seq(
      "hydrogen Helium LITHIUM be B NE ionisation TIME of FLIGHT technique ArPeS",
      "/path/to/data/mr/file.txt",
      "the quick brown fox's jumps over data",
      "", "   ", "a the to with")
    for (a <- Seq(Analyzers.Icat, Analyzers.IcatSynonym, Analyzers.Simple);
         t <- texts) {
      assert(termsAt(a.positional(t)).map(_._1) === a(t).terms.toSeq,
        s"${a.name} on '$t'")
      assert(a.positional(t).positions === a(t).positions, s"${a.name} on '$t'")
    }
  }

  test("tokenizer: mid-word joiners and punctuation") {
    assert(WordBreak.tokenize("file.txt path/to x,y 3.14 1,000").toSeq ===
      Seq("file.txt", "path", "to", "x", "y", "3.14", "1,000"))
    assert(WordBreak.tokenize("needle_3 foo_bar a.3 (or 2)").toSeq ===
      Seq("needle_3", "foo_bar", "a", "3", "or", "2"))
  }

  test("tokenizer: ASCII colon splits (UAX#29 ≥ 6.1, Lucene 8.11), U+0387 joins") {
    // key:value / code-ish text must tokenize like the reference or
    // df/tf/norms diverge on realistic transcripts
    assert(WordBreak.tokenize("foo:bar key:value x:1").toSeq ===
      Seq("foo", "bar", "key", "value", "x", "1"))
    // Greek ano teleia is a real MidLetter: flanked letters stay joined
    assert(WordBreak.tokenize("\u03b1\u0387\u03b2").toSeq === Seq("\u03b1\u0387\u03b2"))
  }

  test("separator analyzer: path and filename tokenization (IcatSeparatorAnalyzer.java:13-26)") {
    assert(Analyzers.Separator('/')("/Path/To/Data/File.TXT").terms.toSeq ===
      Seq("path", "to", "data", "file.txt"))
    assert(Analyzers.Separator('.')("Archive.Tar.GZ").terms.toSeq ===
      Seq("archive", "tar", "gz"))
    assert(Analyzers.byName("sep_/").apply("a/b").terms.toSeq === Seq("a", "b"))
  }

  test("possessive filter") {
    assert(Analyzers.stripPossessive("TokenStream's") === "TokenStream")
    assert(Analyzers.stripPossessive("its’S") === "its’S".dropRight(2))
    assert(Analyzers.stripPossessive("s") === "s")
  }

  test("porter stemmer: published-algorithm spot checks") {
    val cases = Map(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat", "feed" -> "feed",
      "agreed" -> "agre", "plastered" -> "plaster", "bled" -> "bled",
      "motoring" -> "motor", "sing" -> "sing", "conflated" -> "conflat",
      "troubled" -> "troubl", "sized" -> "size", "hopping" -> "hop",
      "tanned" -> "tan", "falling" -> "fall", "hissing" -> "hiss",
      "fizzed" -> "fizz", "failing" -> "fail", "filing" -> "file",
      "happy" -> "happi", "sky" -> "sky", "relational" -> "relat",
      "conditional" -> "condit", "rational" -> "ration", "valenci" -> "valenc",
      "digitizer" -> "digit", "operator" -> "oper", "feudalism" -> "feudal",
      "decisiveness" -> "decis", "hopefulness" -> "hope", "callousness" -> "callous",
      "formaliti" -> "formal", "sensitiviti" -> "sensit", "sensibiliti" -> "sensibl",
      "triplicate" -> "triplic", "formative" -> "form", "formalize" -> "formal",
      "electriciti" -> "electr", "electrical" -> "electr", "hopeful" -> "hope",
      "goodness" -> "good", "revival" -> "reviv", "allowance" -> "allow",
      "inference" -> "infer", "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
      "adjustable" -> "adjust", "defensible" -> "defens", "irritant" -> "irrit",
      "replacement" -> "replac", "adjustment" -> "adjust", "dependent" -> "depend",
      "adoption" -> "adopt", "homologou" -> "homolog", "communism" -> "commun",
      "activate" -> "activ", "angulariti" -> "angular", "homologous" -> "homolog",
      "effective" -> "effect", "bowdlerize" -> "bowdler", "probate" -> "probat",
      "rate" -> "rate", "cease" -> "ceas", "controll" -> "control", "roll" -> "roll")
    cases.foreach { case (in, want) =>
      assert(PorterStemmer.stem(in) === want, s"stem($in)")
    }
  }
}
