package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** The job groups of the Spark jobs `f` starts, once the listener bus
    * has delivered their events. */
  protected def jobGroupsOf[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val l = new SparkSuite.JobGroups
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.ListenerBusDrain(sc)
      (r, l.groups.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(l)
  }
}

object SparkSuite {
  lazy val session: SparkSession = LocalSpark.session(4, "graft-test", logLevel = "WARN")

  /** The job-group id of every Spark job started while attached. */
  private final class JobGroups extends org.apache.spark.scheduler.SparkListener {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      groups.add(Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
  }
}
