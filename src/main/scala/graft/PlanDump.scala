package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Dev diagnostic (guide §1.1/§7.2): dump `.explain("formatted")` of named
  * queries to `plans/<tag>/<name>_<suffix>.txt` — the before/after plan
  * evidence for optimization rounds. Mirrors the Bench session config so the
  * dumped plans are the plans the bench actually runs.
  *
  * Usage: runMain graft.PlanDump <suffix> [query names...]
  *   names are `SparkEntry.queries` keys (e.g. q26_minhash_pairs); none =
  *   every registered query;
  *   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench;
  *   SPARK_GRAFT_PLAN_DIR overrides the output dir (default plans/r07).
  * Tokens that change from run to run are masked (`mask`), so two dumps of
  * one commit are byte-equal and a diff across commits shows plan changes
  * only.
  */
object PlanDump {

  /** `plan` with run-to-run tokens masked and the data dir shown as `<dir>`. */
  def mask(plan: String, dir: String): String =
    plan.replace(dir, "<dir>")
      .replaceAll("""#\d+""", "#N") // expression ids
      .replaceAll("""\$Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+""", """\$Lambda""") // JVM lambda identities
      .replaceAll("""plan_id=\d+""", "plan_id=N")
      .replaceAll("""(\w+RDD)\[\d+\]""", "$1[N]") // MapPartitionsRDD[n]

  /** Registry queries (`SparkEntry.queries`) by name, in the order given;
    * no names = every registered query, sorted. An unknown name fails and
    * lists the known ones.
    */
  def named(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")} " +
      s"(known: ${all.keys.toSeq.sorted.mkString(", ")})")
    (if (names.isEmpty) all.keys.toSeq.sorted else names).map(n => n -> all(n))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <suffix> [query names...]")
    val suffix = args.head
    val picked = named(args.tail.toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r07")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", math.max(cpus * 4, 16))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    picked.foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val plan = mask(df.queryExecution.explainString(ExplainMode.fromString("formatted")), dir)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
