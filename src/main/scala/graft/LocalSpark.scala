package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session shared by graft's mains and test suites:
  * `local[cores]`, `shufflePartitions` shuffle partitions (default: one
  * per core), UTC session time zone, no UI, and the driver bound to
  * 127.0.0.1 (avoids port and hostname flakes). `extra` settings are
  * applied on top, for a caller's own memory or planner choices. */
object LocalSpark {
  def session(cores: Int, appName: String, shufflePartitions: Int = 0,
              logLevel: String = "ERROR",
              extra: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        if (shufflePartitions > 0) shufflePartitions else cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
    val s = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
