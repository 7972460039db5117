package graft

/** Round-6 optimization measurement harness — SEPARATE from the frozen
  * graft.Bench (driver contract). Nothing here feeds the driver's
  * artifacts; it exists so optimization work can time individual pieces
  * (gate queries, corpus generation, the latency-index build) and dump
  * physical plans without re-running the whole bench.
  *
  * Modes (first arg):
  *   gates [sfDir] [names…]  — Bench-protocol warm+timed count() of every
  *                             (or the named) gate query at local[$CPUS];
  *                             prints a sorted table + one JSON line
  *   plans <outDir> [sfDir] [names…]
  *                           — write explain("formatted") of each gate
  *                             query to <outDir>/<name>.txt
  *   gen [numConvs]          — time TranscriptGen.generate().count()
  *                             (the untimed leg every bench build
  *                             subprocess pays) and the raw analyzer
  *                             kernel over the generated text
  */
object BenchExtra {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("gates")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    mode match {
      case "gates" =>
        val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val only = args.drop(2).toSet
        val spark = LocalSpark.session(cpus, "graft-bench-extra")
        // same one-time index warms as Bench's gate section
        Seq("ann_lsh", "bm25_term", "bm25_wand").foreach { n =>
          try { SparkEntry.queries(n)(spark, sfDir).count(); () }
          catch { case _: Throwable => () }
        }
        val gateTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (n, _) => only.isEmpty || only.contains(n) }
          .foreach { case (name, fn) =>
            val t = try {
              fn(spark, sfDir).count() // warm
              time(fn(spark, sfDir).count())._2
            } catch { case e: Throwable =>
              System.err.println(s"[bench-extra] $name FAILED: $e"); -1.0 }
            gateTimes(name) = t
          }
        gateTimes.toSeq.sortBy(-_._2).foreach { case (n, t) =>
          println(f"GATE $n%-28s $t%8.3f s")
        }
        println("BENCH_EXTRA_JSON " + gateTimes.map { case (k, v) =>
          s""""$k":${java.lang.String.format(java.util.Locale.ROOT, "%.3f",
            Double.box(v))}""" }.mkString("{", ",", "}"))
        spark.stop()

      case "plans" =>
        val outDir = args(1)
        val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
        val only = args.drop(3).toSet
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        val spark = LocalSpark.session(cpus, "graft-bench-extra")
        SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (n, _) => only.isEmpty || only.contains(n) }
          .foreach { case (name, fn) =>
            try {
              val df = fn(spark, sfDir)
              val txt = df.queryExecution.explainString(
                org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(s"$outDir/$name.txt"), txt)
            } catch { case e: Throwable =>
              System.err.println(s"[bench-extra] plan $name FAILED: $e") }
          }
        spark.stop()

      case "jobs" =>
        // per-Spark-job decomposition of ONE gate query's warm run:
        // job wall + gaps (driver-serial time) — where a 0.5-3 s gate
        // query actually spends its time at local[32]
        val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
        val names = args.drop(2).toSeq
        val spark = LocalSpark.session(cpus, "graft-bench-extra")
        Seq("ann_lsh", "bm25_term", "bm25_wand").foreach { n =>
          try { SparkEntry.queries(n)(spark, sfDir).count(); () }
          catch { case _: Throwable => () }
        }
        final class L extends org.apache.spark.scheduler.SparkListener {
          case class J(id: Int, start: Long, var end: Long, var tasks: Int,
                       var taskMs: Long, var names: List[String] = Nil)
          val jobs = new scala.collection.mutable.ArrayBuffer[J]
          private val byId = new scala.collection.mutable.HashMap[Int, J]
          private val stageToJob = new scala.collection.mutable.HashMap[Int, J]
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            synchronized {
              val j = J(e.jobId, e.time, e.time, 0, 0L)
              jobs += j; byId(e.jobId) = j; e.stageIds.foreach(stageToJob(_) = j)
            }
          override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            synchronized { byId.get(e.jobId).foreach(_.end = e.time) }
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            synchronized {
              stageToJob.get(e.stageInfo.stageId).foreach { j =>
                j.tasks += e.stageInfo.numTasks
                j.taskMs += e.stageInfo.taskMetrics.executorRunTime
                j.names = (e.stageInfo.name.take(60) +
                  f" [${e.stageInfo.taskMetrics.executorRunTime / 1000.0}%.2fs]") :: j.names
              }
            }
        }
        names.foreach { name =>
          SparkEntry.queries(name)(spark, sfDir).count() // warm
          val l = new L
          spark.sparkContext.addSparkListener(l)
          val (_, secs) = time(SparkEntry.queries(name)(spark, sfDir).count())
          Thread.sleep(300) // let listener events drain
          spark.sparkContext.removeSparkListener(l)
          var prevEnd = 0L
          var jobWall = 0.0
          l.jobs.sortBy(_.start).foreach { j =>
            val gap = if (prevEnd == 0) 0.0 else (j.start - prevEnd) / 1000.0
            val wall = (j.end - j.start) / 1000.0
            jobWall += wall
            println(f"JOB $name job=${j.id}%4d gap=$gap%6.3f wall=$wall%7.3f " +
              f"taskSum=${j.taskMs / 1000.0}%8.3f tasks=${j.tasks}%4d " +
              j.names.reverse.mkString(" | "))
            prevEnd = math.max(prevEnd, j.end)
          }
          println(f"JOBS $name total=$secs%.3f nJobs=${l.jobs.size} " +
            f"jobWall=$jobWall%.3f gaps=${secs - jobWall}%.3f")
        }
        spark.stop()

      case "gen" =>
        val numConvs = args.lift(1).map(_.toLong).getOrElse(24000L)
        val spark = LocalSpark.session(cpus, "graft-bench-extra")
        import spark.implicits._
        // cold + warm generation timing (count materializes every row)
        (1 to 2).foreach { pass =>
          val (n, secs) = time(corpus.TranscriptGen.generate(spark, numConvs)
            .map(_.text.length).reduce(_ + _))
          println(f"GEN pass$pass numConvs=$numConvs chars=$n wall=$secs%.3f s")
        }
        // raw analyzer kernel over the same text, through the engine UDF path
        val turns = corpus.TranscriptGen.generate(spark, numConvs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        turns.count()
        (1 to 2).foreach { pass =>
          val (n, secs) = time(turns
            .map(t => analysis.Analyzers.Icat(t.text).terms.length.toLong)
            .reduce(_ + _))
          println(f"ANALYZE pass$pass tokens=$n wall=$secs%.3f s")
        }
        spark.stop()

      case other =>
        System.err.println(s"unknown mode $other"); sys.exit(2)
    }
  }
}
