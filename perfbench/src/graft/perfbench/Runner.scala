package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.model.{Dict, Page}
import graft.pipeline.KgPipeline
import graft.text.{AhoCorasick, HtmlCodec}
import Stats.{median, secondsSince, timed}

/** Measured parts of one operation: its wall time, the wall time of its
  * light step (see each workload), the work items it completed, and the
  * wall times of its named steps.
  */
final case class Op(wallS: Double, auxS: Double, items: Long, steps: Map[String, Double] = Map.empty)

/** One benchmark workload. Implementations drive the engine only through
  * its public module functions and check every operation's output.
  */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long) {
  /** Generates the seeded inputs under `dir`. Not timed. */
  def generate(): Unit
  /** Builds the workload's state from scratch; the last repetition's state
    * serves the operations.
    */
  def setup(rep: Int): Unit
  def op(i: Int): Op
  /** Checked, unmeasured operations before the measured window. Operation
    * times fall for the first minute of a JVM while the JIT compiles; a
    * fixed count, not a fixed time, puts every run's window at the same
    * point of that curve whatever the host's speed.
    */
  def warmupOps: Int
  /** Checks the output of operation `i`, outside its timing; returns the
    * failed checks.
    */
  def check(i: Int): Seq[String]
  /** Whole-run checks after the measured window; returns failures. */
  def finalChecks(): Seq[String]
  /** Properties of the generated inputs. */
  def inputProps: Seq[(String, Metric)]
  /** Workload-specific end-to-end readings beyond the common metrics. */
  def extra(ops: Seq[Op]): Seq[(String, Metric)]
  /** Traced-run layer breakdown; runs prefixes after the measured window. */
  def layers(ops: Seq[Op]): Seq[(String, Metric)]

  protected def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def timedNoop(df: => org.apache.spark.sql.DataFrame): Double =
    timed(noop(df))._2

  protected def deleteDir(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  protected def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.toSeq).getOrElse(Nil).map(c => bytesUnder(c.getPath)).sum
  }
}

object Workload {
  val names: Seq[String] = Seq("kg_update", "corpus_dedup", "ann_serve")

  def apply(name: String, spark: SparkSession, dir: String, seed: Long): Workload = name match {
    case "kg_update"    => new KgUpdate(spark, dir, seed)
    case "corpus_dedup" => new CorpusDedup(spark, dir, seed)
    case "ann_serve"    => new AnnServe(spark, dir, seed)
  }

  /** The end-to-end metrics every workload reports (BENCHMARK.json). */
  val endToEnd: Seq[String] = Seq("op_p50_ms", "setup_s", "peak_heap_mb")

  /** The per-layer metrics every traced run reports (BENCHMARK.json). */
  val perLayer: Seq[String] = Seq(
    "sources.scan_s", "sources.bytes_written",
    "text.extract_us_per_page", "text.ac_scan_us_per_page", "pipeline.page_triples_us_per_page",
    "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.util", "spark.task_skew",
    "spark.tasks", "spark.jobs", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "trace.overhead_ms")
}

final class Runner(args: Main.Args) {

  def run(): Int = {
    val t0 = System.nanoTime()
    val heap = new HeapWatch
    val spark = Main.session(args.workDir)
    spark.range(Main.Cores).count()
    val sessionS = secondsSince(t0)

    val w = Workload(args.workload, spark, s"${args.workDir}/data", args.seed)
    val generateS = timed(w.generate())._2
    val setupReps = (0 until Main.SetupReps).map(r => timed(w.setup(r))._2)
    heap.sample()

    val engine = new EngineListener
    val streams = new StreamListener
    if (args.trace) {
      spark.sparkContext.addSparkListener(engine)
      spark.streams.addListener(streams)
    }

    var attempted = 0L
    var gcTraced = 0.0
    var checksS = 0.0
    val failures = mutable.ArrayBuffer.empty[String]
    /** Runs operation `i` (traced: with the engine listener counting) and
      * then checks it; a failed or throwing operation yields no sample.
      */
    def attempt(i: Int, tracedOp: Boolean): Option[Op] = {
      attempted += 1
      try {
        val gc0 = heap.gcSeconds
        if (tracedOp) {
          org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
          engine.on = true
        }
        val o = try w.op(i) finally if (tracedOp) {
          org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
          engine.on = false
          gcTraced += heap.gcSeconds - gc0
        }
        val (bad, tCheck) = timed(w.check(i))
        checksS += tCheck
        if (bad.nonEmpty) failures += s"op $i: ${bad.mkString("; ")}"
        Some(o).filter(_ => bad.isEmpty)
      } catch {
        case e: Exception =>
          failures += s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }

    val warm0 = System.nanoTime()
    var i = 0
    while (i < w.warmupOps) {
      attempt(i, tracedOp = false)
      i += 1
    }
    val warmupS = secondsSince(warm0)
    heap.sample()
    val untraced = mutable.ArrayBuffer.empty[Op]
    val traced = mutable.ArrayBuffer.empty[Op]
    val window0 = System.nanoTime()
    // a traced run needs at least one traced and one untraced operation
    def windowOpen = secondsSince(window0) < args.seconds ||
      (args.trace && (traced.isEmpty || untraced.isEmpty) && secondsSince(window0) < args.seconds + 60)
    while (windowOpen) {
      val tracedOp = args.trace && i % 2 == 0
      val o = attempt(i, tracedOp)
      if (tracedOp) traced ++= o else untraced ++= o
      i += 1
    }
    heap.sample()
    val opsFailed = failures.length
    attempted += 1
    val finalFailures = try w.finalChecks() catch {
      case e: Exception => Seq(s"final checks threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (finalFailures.nonEmpty) failures += s"final: ${finalFailures.mkString("; ")}"
    val failed = opsFailed.toLong + (if (finalFailures.nonEmpty) 1 else 0)

    val measured = if (args.trace) traced.toSeq else untraced.toSeq
    if (measured.isEmpty || untraced.isEmpty) {
      failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))
      System.err.println("perfbench: no operation completed inside the window")
      return 1
    }

    val common = Seq(
      "items_per_s" -> Metric(untraced.map(_.items).sum / untraced.map(_.wallS).sum, "1/s"),
      "op_p50_ms" -> Metric(1000 * median(untraced.map(_.wallS).toSeq), "ms"),
      "aux_p50_ms" -> Metric(1000 * median(untraced.map(_.auxS).toSeq), "ms"),
      "setup_s" -> Metric(median(setupReps), "s"),
      "peak_heap_mb" -> Metric(heap.peakMb, "MB"))
    val runInfo = Seq(
      "session_s" -> Metric(sessionS, "s"),
      "ops_measured" -> Metric(untraced.length.toDouble, "count"),
      "generate_s" -> Metric(generateS, "s"),
      "warmup_s" -> Metric(warmupS, "s"),
      "checks_s" -> Metric(checksS, "s"),
      "failed_ratio" -> Metric(failed.toDouble / attempted, "ratio"))

    val layerMetrics: Seq[(String, Metric)] =
      if (!args.trace) Nil
      else {
        org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
        val tracedWall = traced.map(_.wallS).sum
        val engineMetrics = Seq(
          "spark.task_s" -> Metric(engine.runMs.get / 1000.0, "s"),
          "spark.cpu_s" -> Metric(engine.cpuNs.get / 1e9, "s"),
          "spark.gc_s" -> Metric(gcTraced, "s"),
          "spark.util" -> Metric(engine.runMs.get / 1000.0 / (tracedWall * Main.Cores), "ratio"),
          "spark.task_skew" -> Metric(engine.taskSkew, "ratio"),
          "spark.tasks" -> Metric(engine.tasks.get.toDouble, "count"),
          "spark.jobs" -> Metric(engine.jobs.get.toDouble, "count"),
          "spark.shuffle_read_bytes" -> Metric(engine.shuffleRead.get.toDouble, "bytes"),
          "spark.shuffle_write_bytes" -> Metric(engine.shuffleWrite.get.toDouble, "bytes"),
          "spark.spill_bytes" -> Metric(engine.spill.get.toDouble, "bytes"),
          "trace.overhead_ms" -> Metric(
            1000 * (median(traced.map(_.wallS).toSeq) - median(untraced.map(_.wallS).toSeq)), "ms"))
        val streaming =
          if (args.workload != "kg_update") Nil
          else Seq(
            "streaming.batches" -> Metric(streams.batches.get.toDouble, "count"),
            "streaming.add_batch_ms" -> Metric(perBatch(streams, "addBatch"), "ms"),
            "streaming.wal_commit_ms" -> Metric(perBatch(streams, "walCommit"), "ms"),
            "streaming.query_planning_ms" -> Metric(perBatch(streams, "queryPlanning"), "ms"))
        engineMetrics ++ streaming ++ kernelMicro(args.seed) ++ w.layers(traced.toSeq)
      }

    val all = common ++ w.extra(untraced.toSeq) ++ runInfo ++ w.inputProps.map {
      case (k, v) => s"input.$k" -> v
    } ++ layerMetrics
    all.foreach { case (k, m) => println(f"$k%-40s ${fmt(m.value)} ${m.unit}") }
    failures.foreach(f => println(s"FAILED $f"))

    val reported = if (args.trace) Workload.perLayer else Workload.endToEnd
    val byName = all.toMap
    val missing = reported.filterNot(byName.contains)
    require(missing.isEmpty, s"metrics not produced: ${missing.mkString(", ")}")
    val bad = reported.filter(k => !byName(k).value.isFinite)
    require(bad.isEmpty, s"metrics not finite: ${bad.mkString(", ")}")

    Json.writeFile(args.results, Json.obj(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString, "trace" -> (if (args.trace) "1" else "0"),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "op_wall_s" -> Json.arr(untraced.toSeq.map(o => fmt(o.wallS))),
      "aux_s" -> Json.arr(untraced.toSeq.map(o => fmt(o.auxS))),
      "metrics" -> Json.metrics(all)))
    println(Json.obj(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.metrics(reported.map(k => k -> byName(k)))))
    System.out.flush()
    spark.stop()
    0
  }

  private def perBatch(s: StreamListener, k: String): Double =
    if (s.batches.get == 0) 0.0 else s.totalMs(k).toDouble / s.batches.get

  /** Single-thread driver timings of the per-page text kernels over a fixed
    * seeded page sample (median of five passes), in µs per page.
    */
  private def kernelMicro(seed: Long): Seq[(String, Metric)] = {
    val pages: Seq[Page] = Gen.kgPages(new java.util.SplittableRandom(seed ^ 0x5eedL), "sample", 0, 400, 0.0)
    val trie = AhoCorasick.build(Dict.surfaces)
    val best = KgPipeline.aliasBest
    val texts = pages.map(_.text)
    var sink = 0L
    def perPage(body: => Unit): Double =
      median((0 until 5).map(_ => timed(body)._2)) * 1e6 / pages.length
    Seq(
      "text.extract_us_per_page" -> Metric(perPage(pages.foreach(p => sink += HtmlCodec.extract(p.html).length)), "us"),
      "text.ac_scan_us_per_page" -> Metric(perPage(texts.foreach(t => sink += trie.scan(t, wordBounds = true).length)), "us"),
      "pipeline.page_triples_us_per_page" -> Metric(
        perPage(pages.foreach(p => sink += KgPipeline.pageTriples(trie, best, p).length)), "us"))
  }

  private def fmt(d: Double): String = Json.num(d)
}

/** Minimal JSON rendering for the result line and the results file. */
object Json {
  def num(d: Double): String =
    if (!d.isFinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) java.lang.Long.toString(d.toLong)
    else java.lang.Double.toString(d)
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def metrics(ms: Seq[(String, Metric)]): String =
    obj(ms.map { case (k, m) => k -> obj("value" -> num(m.value), "unit" -> str(m.unit)) }: _*)
  def writeFile(path: String, content: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, (content + "\n").getBytes("UTF-8"))
  }
}


