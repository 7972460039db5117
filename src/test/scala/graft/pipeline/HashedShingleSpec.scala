package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Round-6 focused tests for the hashed-shingle internals: the
  * scratch-buffer window hashes must be BIT-IDENTICAL to Spark's
  * `xxhash64` / the repo's `fnv1a64` over the joined gram string —
  * including the non-ASCII fallback path the gate corpora (pure
  * [a-z0-9] tokens) never exercise. */
class HashedShingleSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, Seq("alpha", "beta", "gamma", "delta", "alpha", "beta", "gamma")),
    (2L, Seq("café", "naïve", "übermäßig", "beta", "gamma")), // non-ASCII fallback
    (3L, Seq("short")),                                        // < n → empty set
    (4L, Seq("x", "x", "x", "x", "x"))                         // all-equal windows
  ).toDF("id", "w")

  test("hashedShingleSetsFromTokens ≡ xxhash64 over the string sets") {
    val n = 3
    val hashed = Dedup.hashedShingleSetsFromTokens(docs, n)
      .select(col("id"), explode(col("hset")).as("h"))
      .as[(Long, Long)].collect().toSet
    val viaStrings = Dedup.shingleSetsFromTokens(docs, n)
      .select(col("id"), explode(col("set")).as("s"))
      .select(col("id"), xxhash64(col("s")).as("h"))
      .as[(Long, Long)].collect().toSet
    assert(hashed === viaStrings)
    // sizes agree too (distinctness by hash ≡ by string, no collisions here)
    val szH = Dedup.hashedShingleSetsFromTokens(docs, n)
      .select("id", "sz").as[(Long, Long)].collect().toMap
    val szS = Dedup.shingleSetsFromTokens(docs, n)
      .select("id", "sz").as[(Long, Long)].collect().toMap
    assert(szH === szS)
  }

  test("dualHashedShingleSets FNV keys ≡ fnv1a64 over the string sets") {
    val n = 2
    val src = docs.select(col("id").as("doc_id"),
      concat_ws(" ", col("w")).as("text"))
    val dual = Dedup.dualHashedShingleSets(src, n, "doc_id", "text")
      .select(col("id"), explode(col("fset")).as("f"))
      .as[(Long, Long)].collect().toSet
    // tokensCol lowercases + strips non-alnum, so replay that here: the
    // point is ONLY that fnvWindow(w,i,n) == fnv1a64(joined window)
    val toks = src.select(col("doc_id").as("id"),
      filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "").as("w"))
      .as[(Long, Seq[String])].collect()
    val expected = toks.flatMap { case (id, w) =>
      if (w.length < n) Nil
      else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" "))
        .distinct.map(s => (id, Dedup.fnv1a64(s)))
    }.toSet
    assert(dual === expected)
  }
}
