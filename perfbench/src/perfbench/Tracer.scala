package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Work counted for one layer across every call made into it. */
final class LayerCounts {
  var calls = 0L
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val secs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
}

/** Per-layer spans and Spark work counters for the traced run.
  *
  * Every call into a layer runs under its own job group,
  * `pb|<layer>|<n>`, set on the calling thread (or passed to
  * `searchWithTimeout`, which sets it on the thread that submits the
  * jobs). The listener maps a job's stages to the layer named by its
  * group, so counts are attributed by group and not by time window:
  * listener events arrive asynchronously, after the call has returned. */
final class Tracer(sc: SparkContext) {
  private val layers = mutable.LinkedHashMap.empty[String, LayerCounts]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private var seq = 0L

  private def counts(layer: String): LayerCounts =
    layers.getOrElseUpdate(layer, new LayerCounts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith("pb|")).foreach { group =>
        val layer = group.split('|')(1)
        counts(layer).jobs += 1
        e.stageIds.foreach(stageLayer(_) = layer)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (layer <- stageLayer.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counts(layer)
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
      }
    }
  }

  def attach(): Unit = sc.addSparkListener(listener)
  def detach(): Unit = { drain(); sc.removeSparkListener(listener) }

  /** A fresh job group for one call into `layer`. */
  def group(layer: String): String = synchronized { seq += 1; s"pb|$layer|$seq" }

  /** Times `f` as one call into `layer`, its jobs grouped on this thread. */
  def span[T](layer: String)(f: => T): T = {
    sc.setJobGroup(group(layer), layer, interruptOnCancel = false)
    try timedSpan(layer)(f)
    finally sc.clearJobGroup()
  }

  /** Times `f` as one call into `layer`; `f` groups its own jobs. */
  def timedSpan[T](layer: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally record(layer, (System.nanoTime() - t0) / 1e9)
  }

  def record(layer: String, secs: Double): Unit = synchronized {
    val c = counts(layer)
    c.calls += 1
    c.secs += secs
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Counters of `layer` after the listener bus has drained. */
  def apply(layer: String): LayerCounts = { drain(); synchronized(counts(layer)) }
}
