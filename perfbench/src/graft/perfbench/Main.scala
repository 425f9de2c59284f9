package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one measured window.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work-dir <dir> --results <file>`
  *
  * The run starts a local[4] session, generates the workload's inputs from
  * the seed, builds the workload's state several times (setup), runs the
  * workload's fixed number of checked warm-up operations, then runs checked
  * operations closed-loop until the window ends. With `--trace 0` it
  * reports the end-to-end metrics; with `--trace 1` it registers the
  * engine listeners, alternates traced and untraced operations to measure
  * tracing overhead, and then measures the per-layer breakdown by running
  * pipeline prefixes into the `noop` sink.
  * The last stdout line is the result JSON.
  */
object Main {

  /** Local-mode width: the benchmark host has four cores. */
  val Cores = 4

  /** Workload state is built this many times; setup_s reports the median.
    * Session start is a single event per run, so it is reported apart
    * (session_s) and is not part of setup_s.
    */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workDir: String, results: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, usage(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t   => usage(s"--trace must be 0 or 1, got $t")
    }
    val seconds = need("seconds").toIntOption.filter(_ > 0).getOrElse(usage("--seconds must be a positive integer"))
    val seed = need("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val w = need("workload")
    if (!Workload.names.contains(w)) usage(s"unknown workload $w (known: ${Workload.names.mkString(", ")})")
    Args(w, seed, seconds, trace, need("work-dir"), need("results"))
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def session(workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores * 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      // cap the status history the listeners keep, so the live heap tracks
      // the workload's state rather than how many jobs the window ran
      .config("spark.ui.retainedJobs", 50)
      .config("spark.ui.retainedStages", 50)
      .config("spark.ui.retainedTasks", 1000)
      .config("spark.sql.ui.retainedExecutions", 50)
      .config("spark.sql.streaming.numRecentProgressUpdates", 10)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val code =
      try new Runner(args).run()
      catch {
        case e: Throwable =>
          System.err.println("perfbench: run aborted")
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }
}
