package graft

import graft.analysis.Analyzers
import graft.build.IndexBuilder
import graft.corpus.{DocIds, TranscriptGen}

/** One timed index build in a FRESH JVM (spawned by [[Bench]]).
  *
  * Why a subprocess: when every scaling window runs in the one bench
  * JVM, each build inherits the heap the previous builds aged — at the
  * 1.94M-turn corpus the 32-core window's analyze stage measured 3.4×
  * the CPU of the identical build in a fresh JVM (GC debt, not the
  * engine). The same reasoning already moved the calibration probes
  * into subprocesses in round 3 (in-JVM probes measured 20× GC
  * inflation); round 4 moves the measured builds themselves.
  *
  * Protocol (stdout, last line):
  *   `GRAFT_BUILD <nTurns> <secs> <coresDelivered> <stealCores>`
  *
  * The corpus is generated and persisted untimed; a quarter-size warm
  * build runs first (fresh JVM ⇒ cold C2 — the hot build path compiles
  * on any corpus size), then the timed full build. Delivery (process
  * CPU / wall) and host steal (/proc/stat) are measured inside the
  * child, bracketing probes stay in the parent.
  */
object BenchBuild {

  private def stealJiffies(): Long =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      line.trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }

  private def processCpuSecs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case s: com.sun.management.OperatingSystemMXBean => s.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val numConvs = args(1).toLong
    val outDir = args(2)
    val warmConvs = args(3).toLong
    val localDir = args(4)

    // two tasks per core for every stage of the build: a straggler gets
    // half a wave of exposure at the stage tail
    val spark = LocalSpark.session(cores, s"graft-bench-build-$cores",
      shufflePartitions = cores * 2, extra = Seq(
        "spark.local.dir" -> localDir,
        // Execution memory off-heap: the postings sort/parquet stage's
        // sorter pages are task-lifetime objects that G1 keeps evacuating
        // and ParallelGC keeps survivor-copying (measured 185 s GC @8 /
        // 1,835 core-s GC @32 in one window); off-heap removes them from
        // the GC entirely (same stage, same weather: 0.2–6 s GC).
        "spark.memory.offHeap.enabled" -> "true",
        "spark.memory.offHeap.size" -> "16g",
        // AQE partition coalescing folds the volume-sized postings
        // exchange back to ≤ core-count partitions (64→32 at 32 cores,
        // 16→9 at 8), turning the sort/write reduce into a single
        // straggler-exposed wave; the explicit partition count IS the
        // tail-hiding choice, so keep it.
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false"))
    try {
      if (warmConvs > 0) {
        val warmTurns = TranscriptGen.generate(spark, warmConvs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        warmTurns.count()
        IndexBuilder.buildAndSave(DocIds.forTurns(warmTurns), Analyzers.Icat,
          s"$outDir-warm", hotDfThreshold = 10000L, writeCorpus = true)
        warmTurns.unpersist(blocking = true)
        spark.catalog.clearCache()
      }

      val turns = TranscriptGen.generate(spark, numConvs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nTurns = turns.count()
      System.gc()

      val steal0 = stealJiffies(); val cpu0 = processCpuSecs()
      val t0 = System.nanoTime()
      // assignLazy: turns is cached above, so id materialization fuses
      // into buildAndSave's first full-scan job (the hot-term sample)
      IndexBuilder.buildAndSave(
        DocIds.assignLazy(turns.toDF(), Seq("conv_id", "turn_idx")),
        Analyzers.Icat, outDir, hotDfThreshold = 10000L, writeCorpus = false)
      val secs = (System.nanoTime() - t0) / 1e9
      val stealC = (stealJiffies() - steal0) / 100.0 / secs
      val deliv = if (cpu0 < 0) -1.0 else (processCpuSecs() - cpu0) / secs

      println(f"GRAFT_BUILD $nTurns ${secs}%.3f ${deliv}%.2f ${stealC}%.2f")
    } finally spark.stop()
  }
}
