package graft.gate

import graft.SparkSuite

/** Smoke-guards the driver-verify surface: every gate query must run and
  * produce rows at sf0.001 (a query that throws or goes empty at driver
  * time would silently zero that line of CORRECTNESS_r{N}). The value
  * correctness itself is checked against DuckDB by tools/check_gate.py
  * and the driver. */
class GateSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** Gate queries whose CORRECT result is empty (their oracle returns the
    * same zero rows — e.g. prohibited-only boolean matches nothing). */
  private val expectedEmpty = Set("bm25_pure_not")

  // registered before the per-query tests: every run of maint_add_rescore
  // mints the same plan, so a later run would reuse a left-behind mint
  // and persist nothing new — only the first run in the JVM can show one
  test("maint_add_rescore leaves no cache behind: a run persists nothing new") {
    val sc = spark.sparkContext
    Gate.queries("maint_delete_rescore")(spark, sfDir).collect() // the standing maintenance index
    val standing = sc.getPersistentRDDs.keySet
    Gate.queries("maint_add_rescore")(spark, sfDir).collect()
    assert(sc.getPersistentRDDs.keySet === standing)
  }

  (Gate.all ++ PipelineGate.all).foreach { gq =>
    test(s"gate query ${gq.name} runs and returns rows") {
      val df = gq.fn(spark, sfDir)
      val n = df.count()
      if (expectedEmpty(gq.name)) assert(n === 0L, s"${gq.name} should match nothing")
      else assert(n > 0, s"${gq.name} returned no rows")
      // column names must be stable (the driver hashes by sorted name)
      assert(df.columns.nonEmpty && df.columns.forall(_.nonEmpty))
    }
  }

  test("oracleSql covers exactly the queries that declare an oracle") {
    val withSql = (Gate.all ++ PipelineGate.all).filter(_.sql.isDefined).map(_.name).toSet
    assert(graft.SparkEntry.oracleSql.keySet === withSql)
    assert(graft.SparkEntry.queries.keySet ===
      (Gate.all ++ PipelineGate.all).map(_.name).toSet)
    // every oracle references only tables the driver registers
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    graft.SparkEntry.oracleSql.values.foreach { sql =>
      val froms = "(?i)FROM\\s+([a-z_]+)".r.findAllMatchIn(sql).map(_.group(1)).toSet
      val unknown = froms -- tables --
        Set("toks", "ptoks", "dl", "dlq", "stats", "post", "tstat", "scores", "arr", "sh",
          "sizes", "counts", "documents", "events", "embeddings", "w",
          "th", "bits", "fp", "fdocs", "generate_series",
          // minhash-LSH oracle CTEs
          "shh", "coeff", "sig", "bandstr", "bh", "cand",
          // lang-ID oracle CTEs
          "t", "g", "dc", "dn", "prof", "pn", "dots", "scored", "best",
          // ann_lsh / neardup_embedding oracle CTEs
          "planes", "qsig", "q", "e", "bands", "bb", "cand",
          // ann_ivf oracle CTEs (the 8 unrolled Lloyd iterations are
          // a0..a7 / c0..c8; the FROM-regex strips the digit)
          "qd", "samp", "samp0", "nt", "km", "sq", "acell", "pc", "qe",
          // doc_chunks / doc_repetition / dedup_clusters oracle CTEs
          "starts", "bg", "bc", "pairs", "edges", "reach", "tf", "dfq", "nd", "b",
          "qpass", "drops", "kept",
          // curation oracle CTEs (decontam / quality_filter / pii_mask)
          "bsh", "hits", "base", "tok", "wc", "topw", "r", "aug",
          // ngram_topk / seq_pack / dedup_substring span oracle CTEs
          "grams", "nz", "off", "frag", "isl", "dwin", "wins", "brks",
          // train_order oracle CTEs
          "h", "sgn",
          // lm_score oracle CTEs
          "unic", "voc", "nv", "vids", "big", "pos", "agg", "oo",
          // semdedup oracle CTEs
          "ev", "dropped",
          // token_budget / token_mix oracle CTEs
          "hist", "cum", "sg") --
        // iteration CTEs: a<j>, c<j>, pii chain s<j>
        froms.filter(f => "^[acs]\\d*$".r.matches(f))
      assert(unknown.isEmpty, s"oracle references unknown tables: $unknown")
    }
  }

  test("evict drops every persisted frame the gate minted (two generations)") {
    val sc = spark.sparkContext
    // the per-query tests above already cached the sf0.001 generation
    // (plus caller-owned frames like the jaccard result); snapshot, then
    // mint a SECOND generation and evict everything the gate owns
    Gate.gate(spark, sfDir)
    Gate.gateSegments(spark, sfDir)
    val before = sc.getPersistentRDDs.keySet
    Gate.gate(spark, "/root/testdata/sf0.01")
    Gate.gateSegments(spark, "/root/testdata/sf0.01")
    assert(sc.getPersistentRDDs.keySet.size > before.size,
      "second gate generation should persist new frames")
    Gate.evictAll()
    val after = sc.getPersistentRDDs.keySet
    assert(after.diff(before).isEmpty,
      "frames minted by the second generation outlived evictAll")
    assert(after.size < before.size,
      "the first generation's gate caches should be gone too")
  }
}
