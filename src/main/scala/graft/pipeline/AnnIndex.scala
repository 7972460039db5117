package graft.pipeline

import graft.api.Json
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

/** Materialized ANN indexes: the build step computes and PERSISTS the
  * signature/cell assignment partitioned by bucket, so a probe prunes
  * I/O to its buckets instead of re-scanning (and re-hashing) the whole
  * embedding table per query — the difference between an index and a
  * full scan with extra steps. Directory-partitioned parquet stands in
  * for cluster bucketing; a probe's bucket predicate becomes a partition
  * filter (verified by an explain-based test), so at 100 TB a probe
  * reads `bands`/`nProbe` buckets, not the corpus.
  */
object AnnIndex {

  // ---------------- sign-LSH ----------------

  /** Build a banded sign-LSH index at `dir`: one row per (band, bucket,
    * vector id), written partitionBy(band, bv).
    *
    * Storage/latency trade (round-3): by default bucket rows carry the
    * vec_id ONLY — the index is `bands` × 8 bytes per vector instead of
    * `bands` × the embedding bytes (4× the corpus at the defaults) — and
    * a probe reranks via a join back to the embedding table.
    * `storeVectors = true` inlines the vectors for zero-join probes at
    * `bands`× the storage (the latency-lean deployment). */
  def buildLsh(emb: DataFrame, dir: String, numPlanes: Int = 16, bands: Int = 4,
               seed: Long = 42L, idCol: String = "vec_id",
               vecCol: String = "embedding", storeVectors: Boolean = false): Unit = {
    require(numPlanes % bands == 0)
    val rows = numPlanes / bands
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    val planes = Similarity.hyperplanes(dim, numPlanes, seed)
    val mask = (1L << rows) - 1
    val sig = emb.withColumn("sig", Similarity.signatureCol(col(vecCol), planes))
    val bandArr = array((0 until bands).map(b =>
      shiftright(col("sig"), b * rows).bitwiseAND(lit(mask))): _*)
    val payload = if (storeVectors) Seq(col(idCol), col(vecCol)) else Seq(col(idCol))
    sig.select(payload :+ posexplode(bandArr).as(Seq("band", "bv")): _*)
      .write.mode("overwrite").partitionBy("band", "bv")
      .parquet(s"$dir/lsh_buckets")
    Json.writeFile(s"$dir/lsh_meta.json", JObject("numPlanes" -> JInt(numPlanes),
      "bands" -> JInt(bands), "seed" -> JLong(seed), "dim" -> JInt(dim),
      "storeVectors" -> JInt(if (storeVectors) 1 else 0)))
  }

  /** The bucket frame a probe scans (exposed for plan assertions). */
  def lshProbeScan(spark: SparkSession, dir: String, query: Array[Float]): DataFrame = {
    val meta = lshMeta(dir)
    val numPlanes = meta("numPlanes").toInt
    val bands = meta("bands").toInt
    val seed = meta("seed")
    val rows = numPlanes / bands
    val mask = (1L << rows) - 1
    val planes = Similarity.hyperplanes(query.length, numPlanes, seed)
    var qs = 0L
    planes.zipWithIndex.foreach { case (p, i) =>
      var dot = 0.0
      var j = 0
      while (j < query.length) { dot += query(j).toDouble * p(j); j += 1 }
      if (dot > 0) qs |= (1L << i)
    }
    val idx = spark.read.parquet(s"$dir/lsh_buckets")
    val cond = (0 until bands).map { b =>
      col("band") === b && col("bv") === ((qs >>> (b * rows)) & mask)
    }.reduce(_ || _)
    idx.filter(cond) // band/bv are partition columns → directory pruning
  }

  /** Probe the LSH index: candidates from the query's buckets only,
    * exact cosine rerank, top-k. Same candidate set as
    * Similarity.lshTopK (docs sharing any band), without the full scan.
    *
    * `emb` backs the rerank when the index stores ids only (the default
    * build): the tiny candidate-id set broadcasts into a join against the
    * embedding table. A vector-carrying index (`storeVectors = true`)
    * reranks straight off its pruned buckets and ignores `emb`. */
  def lshTopK(spark: SparkSession, dir: String, query: Array[Float], k: Int,
              emb: DataFrame, idCol: String = "vec_id",
              vecCol: String = "embedding",
              excludeId: Option[Long] = None): DataFrame = {
    val hasVectors = lshMeta(dir)("storeVectors") == 1
    var cands =
      if (hasVectors)
        lshProbeScan(spark, dir, query).select(col(idCol), col(vecCol)).distinct()
      else {
        val ids = lshProbeScan(spark, dir, query).select(col(idCol)).distinct()
        emb.join(broadcast(ids), idCol).select(col(idCol), col(vecCol))
      }
    excludeId.foreach(i => cands = cands.filter(col(idCol) =!= i))
    cands
      .select(col(idCol), Similarity.cosineCol(col(vecCol), query).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("cos"), 4).as("cos"))
  }

  // ---------------- IVF ----------------

  /** Build an IVF index at `dir`: exact-integer k-means coarse quantizer
    * trained on a deterministic HASHED sample (driver-side — the
    * quantizer is tiny; see Similarity.ivfSampleQ for why the hash pick
    * beats a lowest-id sample on time-ordered corpora, and
    * Similarity.kmeansCentroidsQ for why every step is SQL-replayable),
    * every vector assigned to its nearest cell, written
    * partitionBy(cell); grid centroids stored alongside.
    * `nCells <= 0` = auto: ~√N cells (standard IVF sizing). */
  def buildIvf(emb: DataFrame, dir: String, nCells: Int = 0,
               sampleSize: Int = 1024, seed: Long = 42L,
               idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val n = emb.count()
    val sample = Similarity.ivfSampleQ(emb, n, sampleSize, seed, idCol, vecCol)
    val cells = if (nCells > 0) nCells else Similarity.autoCells(n)
    val cents = Similarity.kmeansCentroidsQ(sample, math.min(cells, sample.length))
    val bCents = emb.sparkSession.sparkContext.broadcast(cents)
    val cellUdf = udf((v: Seq[Float]) =>
      Similarity.nearestCentroidQ(Similarity.quantize(v), bCents.value))
    emb.withColumn("cell", cellUdf(col(vecCol)))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/ivf_cells")
    Json.writeFile(s"$dir/ivf_centroids.json",
      JArray(cents.map(c => JArray(c.map(JLong(_)).toList)).toList))
  }

  def readCentroids(dir: String): Array[Array[Long]] =
    Json.readFile(s"$dir/ivf_centroids.json").children
      .map(_.children.map(v => Json.long(v).get).toArray).toArray

  /** The cell frame a probe scans (exposed for plan assertions). */
  def ivfProbeScan(spark: SparkSession, dir: String, query: Array[Float],
                   nProbe: Int = 4): DataFrame = {
    val cents = readCentroids(dir)
    val probeCells = Similarity.probeCellsQ(Similarity.quantize(query.toIndexedSeq), cents, nProbe)
    spark.read.parquet(s"$dir/ivf_cells")
      .filter(col("cell").isin(probeCells.toSeq: _*)) // partition pruning
  }

  /** Probe the IVF index: read only the nProbe nearest cells, exact
    * cosine rerank, top-k. */
  def ivfTopK(spark: SparkSession, dir: String, query: Array[Float], k: Int,
              nProbe: Int = 4, idCol: String = "vec_id",
              vecCol: String = "embedding",
              excludeId: Option[Long] = None): DataFrame = {
    var cands = ivfProbeScan(spark, dir, query, nProbe)
    excludeId.foreach(i => cands = cands.filter(col(idCol) =!= i))
    cands
      .select(col(idCol), Similarity.cosineCol(col(vecCol), query).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("cos"), 4).as("cos"))
  }

  /** `lsh_meta.json`: the build's integer parameters by name. */
  private def lshMeta(dir: String): String => Long = {
    val meta = Json.readFile(s"$dir/lsh_meta.json")
    k => Json.long(meta \ k).getOrElse(sys.error(s"missing $k in $dir/lsh_meta.json"))
  }
}
