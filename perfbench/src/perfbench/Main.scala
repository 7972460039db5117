package perfbench

import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`; `work` is a scratch directory the run owns. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"))
  }
}

/** Size of one workload's run: the corpus (conversations), how often it
  * is set up, warm-up requests, facet requests, and the write round of a
  * traced run (conversations added, documents deleted). */
final case class Shape(convs: Int, setups: Int, warmup: Int, facets: Int,
                       addConvs: Int, deleteDocs: Int)

object Main {
  val Workloads: Set[String] = Set("search_hot", "search_selective")
  private val Size = Shape(convs = 100, setups = 3, warmup = 12, facets = 4,
    addConvs = 10, deleteDocs = 50)

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    require(Workloads(o.workload), s"unknown workload ${o.workload}")
    val cores = Runtime.getRuntime.availableProcessors()
    // the session graft.Bench runs its latency section in
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        val (json, correct) = new Run(spark, o, Size).run()
        println(json)
        if (correct) 0 else 2
      } catch {
        case NonFatal(e) => e.printStackTrace(); 1
      } finally spark.stop()
    sys.exit(code)
  }
}
