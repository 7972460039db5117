package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>). Brute-force cosine is the exactness baseline (a single
  * narrow scan + TakeOrderedAndProject — no shuffle beyond the final
  * top-k); the LSH-bucketed variant is the scale path: signature
  * computation is a narrow map, candidate generation is a bucket join on
  * the band key, and only candidates are reranked exactly.
  */
object Similarity {

  /** cos(v, q) in double precision: dot / (sqrt(|v|²) * sqrt(|q|²)),
    * sequential left-fold accumulation (matches DuckDB's
    * list_cosine_similarity on DOUBLE[] for the oracle).
    *
    * One imperative UDF per row, NOT `aggregate`/`zip_with` column folds:
    * Spark's higher-order functions are CodegenFallback, and interpreted
    * mode has no subexpression elimination, so the fold form re-walked the
    * array per lambda step (measured ~8× slower on the rerank paths). The
    * accumulation order is identical (index-ascending, double), so every
    * oracle hash is unchanged. Null / dim-mismatched vectors yield null,
    * exactly as the null-propagating fold did. */
  def cosineCol(v: Column, q: Array[Float]): Column = {
    val qd = q.map(_.toDouble)
    val nq = math.sqrt(qd.map(x => x * x).sum)
    val f = udf((v: Array[Float]) =>
      if (v == null || v.length != qd.length) None
      else {
        var dot = 0.0
        var nv = 0.0
        var j = 0
        while (j < qd.length) {
          val x = v(j).toDouble
          dot += x * qd(j)
          nv += x * x
          j += 1
        }
        Some(dot / (math.sqrt(nv) * nq))
      })
    f(v)
  }

  /** Exact brute-force cosine top-k against one query vector. */
  def bruteForceTopK(emb: DataFrame, query: Array[Float], k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     excludeId: Option[Long] = None): DataFrame = {
    val base = excludeId.map(i => emb.filter(col(idCol) =!= i)).getOrElse(emb)
    base
      .select(col(idCol), cosineCol(col(vecCol), query).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("cos"), 4).as("cos"))
  }

  /** Deterministic random hyperplanes: `numPlanes` unit-free gaussian
    * vectors of dimension `dim`, seed-derived. */
  def hyperplanes(dim: Int, numPlanes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val r = new java.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(r.nextGaussian()))
  }

  /** Sign-random-projection signature (one int, bit p = sign of v·h_p).
    * Imperative UDF for the same CodegenFallback reason as [[cosineCol]];
    * per-plane dots accumulate index-ascending in double, so the sign
    * bits — and therefore the SQL-replayed band keys — are bit-identical.
    * A null or dim-mismatched vector signs to 0, matching the old fold
    * (null dot fails `> 0`, so every bit took the `otherwise(0)` leg). */
  def signatureCol(v: Column, planes: Array[Array[Double]]): Column = {
    val dim = planes.head.length
    val f = udf((v: Array[Float]) => {
      var s = 0L
      if (v != null && v.length == dim) {
        var i = 0
        while (i < planes.length) {
          val p = planes(i)
          var dot = 0.0
          var j = 0
          while (j < dim) { dot += v(j).toDouble * p(j); j += 1 }
          if (dot > 0) s |= (1L << i)
          i += 1
        }
      }
      s
    })
    f(v)
  }

  /** LSH-bucketed ANN: band the signature into `bands` chunks; candidates
    * share any band value with the query; rerank candidates exactly and
    * return top-k. At cluster scale the banded signature table is the
    * (small) index; the exact rerank touches only candidate rows. */
  def lshTopK(emb: DataFrame, query: Array[Float], k: Int,
              numPlanes: Int = 16, bands: Int = 4, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding",
              excludeId: Option[Long] = None): DataFrame = {
    require(numPlanes % bands == 0)
    val rows = numPlanes / bands
    val dim = query.length
    val planes = hyperplanes(dim, numPlanes, seed)
    val mask = (1L << rows) - 1

    def qSig: Long = {
      var s = 0L
      planes.zipWithIndex.foreach { case (p, i) =>
        var dot = 0.0
        var j = 0
        while (j < dim) { dot += query(j).toDouble * p(j); j += 1 }
        if (dot > 0) s |= (1L << i)
      }
      s
    }
    val qs = qSig
    val qBands = (0 until bands).map(b => ((qs >>> (b * rows)) & mask, b))

    val base = excludeId.map(i => emb.filter(col(idCol) =!= i)).getOrElse(emb)
    val withSig = base.withColumn("sig", signatureCol(col(vecCol), planes))
    val bandMatch = qBands.map { case (bv, b) =>
      shiftright(col("sig"), b * rows).bitwiseAND(lit(mask)) === lit(bv)
    }.reduce(_ || _)
    withSig.filter(bandMatch)
      .select(col(idCol), cosineCol(col(vecCol), query).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("cos"), 4).as("cos"))
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer assigns every
    * vector to a cell; a query probes only the `nProbe` nearest cells and
    * reranks those candidates exactly. The cell table is the "index";
    * at cluster scale it is partitioned by cell id so a probe touches
    * nProbe partitions. Training runs driver-side over a deterministic
    * sample (standard IVF practice — the quantizer is tiny).
    *
    * The quantizer is EXACT-INTEGER (round 4): vectors are quantized to
    * a fixed grid (floor(x·10⁴ + 0.5)), the init is strided over the
    * id-ordered sample (no RNG), Lloyd sums are integer (so
    * order-independent), and each new centroid is snapped back to the
    * grid via floor-division round-half-up. Every step is therefore
    * bit-reproducible in plain SQL — the ann_ivf gate replays the whole
    * build in DuckDB — while the coarse-quantizer quality is unchanged
    * (grid spacing 1e-4 ≪ cell radii; recall pinned in PipelineSpec). */
  val QuantScale = 10000

  /** Default coarse-quantizer cell count: ~√N (standard IVF practice —
    * balances cells scanned per probe against vectors per cell). */
  def autoCells(n: Long): Int =
    math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Deterministic HASHED quantizer training sample: rows where
    * FNV-1a64("ivf-&lt;seed&gt;-&lt;id&gt;") mod max(1, ⌊N/sampleSize⌋) = 0,
    * id-ordered, capped at 4·sampleSize rows (a bounded collect — the
    * expected size is ~sampleSize). Hash-selected, NOT lowest-id: a
    * lowest-id sample is biased whenever ids correlate with content
    * (time-ordered corpora — the usual case), which skews every centroid
    * toward the oldest data. The FNV pick keeps the whole build
    * SQL-replayable (the ann_ivf oracle reproduces the sample exactly). */
  private[pipeline] def ivfSampleQ(emb: DataFrame, n: Long, sampleSize: Int,
                                   seed: Long, idCol: String,
                                   vecCol: String): Array[Array[Long]] = {
    val rate = math.max(1L, n / sampleSize)
    val pick = udf((id: Long) =>
      java.lang.Long.remainderUnsigned(Dedup.fnv1a64(s"ivf-$seed-$id"), rate) == 0L)
    emb.filter(pick(col(idCol))).orderBy(col(idCol)).limit(4 * sampleSize)
      .select(vecCol).collect()
      .map(r => quantize(r.getSeq[Float](0)))
  }

  /** Quantize a float vector onto the integer grid (identical arithmetic
    * to the SQL replay: exact float→double widening, one double multiply,
    * floor(x+0.5)). */
  def quantize(v: Seq[Float]): Array[Long] = {
    val out = new Array[Long](v.length)
    var j = 0
    while (j < out.length) {
      out(j) = math.floor(v(j).toDouble * QuantScale + 0.5).toLong
      j += 1
    }
    out
  }

  /** Exact-integer Lloyd iterations over the quantized sample. Init =
    * sample rows at positions c·(n/k) (integer division) of the id-sorted
    * sample; ties in assignment break to the lowest cell; a cell that
    * loses all members keeps its previous centroid. */
  def kmeansCentroidsQ(sample: Array[Array[Long]], k: Int,
                       iters: Int = 8): Array[Array[Long]] = {
    val dim = sample.head.length
    val stride = sample.length / k
    val cents = Array.tabulate(k)(c => sample(c * stride).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Long](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearestCentroidQ(v, cents)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      (0 until k).foreach { c =>
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) {
            // round-half-up mean, snapped to the grid: floor((2s+n)/(2n))
            cents(c)(j) = Math.floorDiv(2 * sums(c)(j) + counts(c), 2 * counts(c))
            j += 1
          }
        }
      }
    }
    cents
  }

  /** Index of the nearest centroid (integer squared-L2 on the grid;
    * strict `<` keeps the lowest cell on exact ties). */
  def nearestCentroidQ(q: Array[Long], cents: Array[Array[Long]]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0L
      var j = 0
      while (j < q.length) { val x = q(j) - cents(c)(j); d += x * x; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Rank of each cell by integer distance to `q` (lowest cell wins
    * ties), nearest `nProbe` first. */
  def probeCellsQ(q: Array[Long], cents: Array[Array[Long]],
                  nProbe: Int): Array[Int] =
    cents.zipWithIndex.map { case (c, i) =>
      var d = 0L
      var j = 0
      while (j < q.length) { val x = q(j) - c(j); d += x * x; j += 1 }
      (i, d)
    }.sortBy { case (i, d) => (d, i) }.take(nProbe).map(_._1)

  /** IVF top-k for one query vector. `nCells <= 0` = auto (~√N). */
  def ivfTopK(emb: DataFrame, query: Array[Float], k: Int,
              nCells: Int = 0, nProbe: Int = 4, sampleSize: Int = 1024,
              seed: Long = 42L, idCol: String = "vec_id",
              vecCol: String = "embedding", excludeId: Option[Long] = None): DataFrame = {
    val base = excludeId.map(i => emb.filter(col(idCol) =!= i)).getOrElse(emb)
    val n = base.count()
    val sample = ivfSampleQ(base, n, sampleSize, seed, idCol, vecCol)
    val cells = if (nCells > 0) nCells else autoCells(n)
    val cents = kmeansCentroidsQ(sample, math.min(cells, sample.length))
    val bCents = base.sparkSession.sparkContext.broadcast(cents)
    val cellUdf = udf((v: Seq[Float]) => nearestCentroidQ(quantize(v), bCents.value))
    val probeCells = probeCellsQ(quantize(query.toIndexedSeq), cents, nProbe)
    base.withColumn("__cell", cellUdf(col(vecCol)))
      .filter(col("__cell").isin(probeCells.toSeq: _*))
      .select(col(idCol), cosineCol(col(vecCol), query).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("cos"), 4).as("cos"))
  }

  /** All-pairs embedding near-duplicates above a cosine threshold, LSH
    * blocked (pairs sharing any signature band), exact rerank.
    *
    * Fused shape (round 5): the banded rows carry (id, vector, norm), so
    * cos evaluates INSIDE the band-join stage and only the ≥ threshold
    * survivors reach a distinct — near-dups are by construction a small
    * fraction of candidates, so the surviving-pair exchange is tiny.
    * Round 4's ids-first form instead materialized ALL candidate id
    * pairs through a full distinct exchange and joined the vector table
    * back twice; at candidate volume c that moved c·16 B + 2 vector-table
    * joins, vs the fused form's one bands×|corpus| banded exchange and
    * nothing else — strictly less data whenever candidates outnumber
    * corpus rows (always, at any interesting LSH density). The dot/norm
    * kernels are imperative UDFs (see [[cosineCol]]) with the identical
    * index-ascending double accumulation; the norm is computed once per
    * vector, not per pair; a pair sharing several bands evaluates to the
    * same cos and the final distinct collapses it, so the output row set
    * is exactly the old one. */
  def nearDupPairs(emb: DataFrame, threshold: Double, numPlanes: Int = 16,
                   bands: Int = 4, seed: Long = 42L,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(numPlanes % bands == 0)
    val rows = numPlanes / bands
    val dimRow = emb.select(size(col(vecCol))).head()
    val planes = hyperplanes(dimRow.getInt(0), numPlanes, seed)
    val dotUdf = udf((a: Array[Float], b: Array[Float]) =>
      if (a == null || b == null || a.length != b.length) None
      else {
        var d = 0.0
        var j = 0
        while (j < a.length) { d += a(j).toDouble * b(j).toDouble; j += 1 }
        Some(d)
      })
    val normUdf = udf((a: Array[Float]) =>
      if (a == null) None
      else {
        var n = 0.0
        var j = 0
        while (j < a.length) { val x = a(j).toDouble; n += x * x; j += 1 }
        Some(math.sqrt(n))
      })
    // The whole fused stage pipelines off the input scan with no
    // exchange, so a single-file local input would run it in ONE task
    // (the sf0.1 parquet is one row group); spread() widens scan-shaped
    // inputs to defaultParallelism and is a no-op at real scale.
    val sigs = Dedup.spread(emb).select(col(idCol), col(vecCol),
      normUdf(col(vecCol)).as("nrm"),
      signatureCol(col(vecCol), planes).as("sig"))
    val bandArr = array((0 until bands).map(b =>
      shiftright(col("sig"), b * rows).bitwiseAND(lit((1L << rows) - 1))): _*)
    val banded = sigs.select(col(idCol).as("id"), col(vecCol).as("v"),
      col("nrm"), posexplode(bandArr).as(Seq("band", "bv")))
    val l = banded.toDF("ida", "va", "na", "band", "bv")
    val r = banded.toDF("idb", "vb", "nb", "band", "bv")
    l.join(r, Seq("band", "bv"))
      .where(col("ida") < col("idb"))
      .withColumn("cos", dotUdf(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("ida"), col("idb"), round(col("cos"), 4).as("cos"))
      .distinct()
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space with the exact-integer k-means coarse quantizer,
    * then within each cluster drop every vector that has a SMALLER-id
    * neighbor at cosine ≥ `threshold` (deterministic keep-lowest-id
    * representative — the same keep rule as the text dedup family; no
    * transitive closure, matching the paper's within-cluster pruning).
    * Returns (vec_id, cell, is_kept) for every input vector.
    *
    * Scale shape: UNLIKE the IVF index (~√N cells to balance probe
    * cost), semdedup sizes the cell count for FIXED occupancy
    * (`targetOccupancy`, default 64): the in-cell comparison is
    * quadratic in occupancy, so cells = ⌈N / occupancy⌉ keeps per-cell
    * work constant as the corpus grows — total candidate volume is
    * N·occupancy/2 pairs, linear in N. The only exchange is the
    * self-join keyed on the 4-byte cell id; norms are computed once
    * per row before the join, and the quantizer trains on the same
    * hashed ~1k-row sample the IVF build uses, so the whole operator
    * (k-means included) replays exactly in the DuckDB gate oracle. */
  def semDedup(emb: DataFrame, threshold: Double, targetOccupancy: Int = 64,
               sampleSize: Int = 1024, seed: Long = 42L,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(targetOccupancy >= 1, s"need targetOccupancy >= 1; got $targetOccupancy")
    val n = emb.count()
    val cells = math.max(1L, math.ceil(n.toDouble / targetOccupancy).toLong).toInt
    val sample = ivfSampleQ(emb, n, sampleSize, seed, idCol, vecCol)
    val cents = kmeansCentroidsQ(sample, math.min(cells, sample.length))
    val bCents = emb.sparkSession.sparkContext.broadcast(cents)
    val cellUdf = udf((v: Seq[Float]) => nearestCentroidQ(quantize(v), bCents.value))
    val dotUdf = udf((a: Array[Float], b: Array[Float]) =>
      if (a == null || b == null || a.length != b.length) None
      else {
        var d = 0.0
        var j = 0
        while (j < a.length) { d += a(j).toDouble * b(j).toDouble; j += 1 }
        Some(d)
      })
    val normUdf = udf((a: Array[Float]) =>
      if (a == null) None
      else {
        var nn = 0.0
        var j = 0
        while (j < a.length) { val x = a(j).toDouble; nn += x * x; j += 1 }
        Some(math.sqrt(nn))
      })
    val assigned = Dedup.spread(emb)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        normUdf(col(vecCol)).as("nrm"), cellUdf(col(vecCol)).as("cell"))
      .persist()
    assigned.count()
    val l = assigned.toDF("ida", "va", "na", "cell")
    val r = assigned.toDF("idb", "vb", "nb", "cell")
    val dropped = l.join(r, Seq("cell"))
      .where(col("ida") < col("idb"))
      .where(dotUdf(col("va"), col("vb")) / (col("na") * col("nb"))
        >= lit(threshold))
      .select(col("idb").as("id")).distinct()
    val out = assigned.join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        not(coalesce(col("__drop"), lit(false))).as("is_kept"))
      .persist()
    out.count() // materialize before dropping the assignment cache
    assigned.unpersist()
    out
  }
}
