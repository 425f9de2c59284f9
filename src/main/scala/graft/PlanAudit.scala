package graft
import org.apache.spark.sql.SparkSession

/** Dev diagnostic: prints shuffle/broadcast counts of the physical plan per
  * query — the quick "is this the plan I'd want at 100×" audit loop
  * (PlanSpec pins the load-bearing shapes in CI; this main is for eyeballing
  * new queries before choosing what to pin). Queries are named by their
  * `SparkEntry.queries` keys. Audited 2026-08-16: q51_ann_multi 1/0,
  * q54_boilerplate 3/2, q55_nodes 6/2, q56_embed_link 1/3 (fact side
  * shuffles once, dims broadcast), q57_pii_redact 0/0, q27_simhash_pairs
  * 3/1 (1/3 when re-audited at sf0.001 on 2026-10-18).
  */
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
object PlanAudit {
  def main(args: Array[String]): Unit = {
    // optional args: audit specific registry queries by name (default:
    // every registered query); with SPARK_GRAFT_AUDIT_TIME=1, also run each
    // query twice (warm + timed) and report wall + task-seconds — the quick
    // "where does the time go" loop without a full bench run
    val picked = PlanDump.named(args.toSeq)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val timeIt = sys.env.get("SPARK_GRAFT_AUDIT_TIME").contains("1")
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
    if (timeIt) spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        taskMs.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
    })
    picked.foreach { case (n, f) =>
      val df = f(spark, dir)
      val p = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val sh = p.collect { case e: ShuffleExchangeLike => e }.size
      val bc = p.collect { case e: BroadcastExchangeLike => e }.size
      if (timeIt) {
        f(spark, dir).count() // warm
        org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
        val t0v = taskMs.get(); val t0 = System.nanoTime()
        f(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
        println(f"[audit] $n shuffles=$sh broadcasts=$bc wall=$wall%.2fs task=${(taskMs.get() - t0v) / 1000.0}%.2fs")
      } else println(s"[audit] $n shuffles=$sh broadcasts=$bc")
    }
    spark.stop()
  }
}
