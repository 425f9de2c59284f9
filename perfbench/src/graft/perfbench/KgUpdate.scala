package graft.perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SparqlColumns
import graft.model.{Dict, Page}
import graft.operators.TripleDiff
import graft.pipeline.{KgPipeline, Manifest}
import graft.sources.Tables
import graft.streaming.StreamIngest
import graft.text.{AhoCorasick, HtmlCodec}
import Stats.{median, timed}

/** kg_update: the paper's daily loop against a graph that setup builds.
  *
  * Setup is the user's cold build: `Manifest.runStage` with the
  * `KgPipeline.triples` → `dedupTriples` transform over a generated page
  * table into an empty layout, plus the node table.
  *
  * One operation is one day, sent closed-loop (the next day is dropped only
  * after the previous one lands):
  *  - the nightly stage re-runs over the unchanged base pages and must
  *    compute no partition (the light step, `aux`);
  *  - a file of new-url pages (1% of the base) is drained by
  *    `StreamIngest.runKgLand` into its own batch partition of the day
  *    layout, and the node table is updated with `mergeNodeTables`;
  *  - a recrawl slice of existing urls with edited text is turned into
  *    triples, diffed against the stored triples with `TripleDiff.diffOps`
  *    and rendered as `INSERT DATA` / `DELETE DATA` commands.
  * Small deltas over large state: fixed per-operation costs dominate.
  */
final class KgUpdate(spark: SparkSession, dir: String, seed: Long) extends Workload(spark, dir, seed) {
  import spark.implicits._

  val NBase = 1000
  val NNew = 10 // new-url pages per day, 1% of the base
  val NRecrawl = 10
  val NParts = 8
  val LongShare = 0.02
  private val Keys = Seq("url", "subj", "pred", "obj")

  private var base: Seq[Page] = Nil
  private val newPages = scala.collection.mutable.ArrayBuffer.empty[Page]
  private var root = ""
  private var day = 0
  private val builds = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
  private var resumed = 0L
  private var lastDay: (Seq[Page], DataFrame, Seq[Page], Array[Row]) = (Nil, null, Nil, Array.empty)

  private def pageTable: DataFrame = Tables.read(spark, dir, "pages")
  private def baseLayout = s"$root/base"
  private def dayLayout = s"$root/days"
  private def streamDir = s"$root/stream"
  private def nodes(d: Int) = s"$root/nodes_$d"

  def generate(): Unit = {
    base = Gen.kgPages(new SplittableRandom(seed), "kg", 0, NBase, LongShare)
    spark.createDataset(base).repartition(Main.Cores).write.parquet(s"$dir/pages.parquet")
  }

  /** The resumable nightly stage over the base page table. */
  private def stage(): Long =
    Manifest.runStage(spark, pageTable, "url", NParts, "kg_triples", baseLayout, s"$root/manifest") { pending =>
      KgPipeline.dedupTriples(KgPipeline.triples(spark, pending.drop("part_key").as[Page], urlParts = Some(NParts)))
    }

  def setup(rep: Int): Unit = {
    if (rep > 0) deleteDir(root)
    root = s"$dir/graph$rep"
    day = 0
    newPages.clear()
    builds += timed(stage())
    Tables.format.write(KgPipeline.nodeTable(spark.read.parquet(baseLayout).drop("part_key")), nodes(0))
    new java.io.File(streamDir).mkdirs()
  }

  private def dayBatches: Set[Long] =
    Option(new java.io.File(dayLayout).listFiles).map(_.toSeq).getOrElse(Nil).map(_.getName)
      .collect { case n if n.startsWith("batch=") => n.stripPrefix("batch=").toLong }.toSet

  /** Drains everything new in the stream directory into the day layout and
    * returns the triples of the batches it landed.
    */
  private def land(): DataFrame = {
    val before = dayBatches
    StreamIngest.runKgLand(spark, streamDir, dayLayout, s"$root/checkpoint")
    val landed = (dayBatches -- before).toSeq
    spark.read.parquet(dayLayout).filter(col("batch").isin(landed: _*)).drop("batch")
  }

  /** One day: setup's three cold builds already ran most of the day's
    * code.
    */
  val warmupOps = 1

  def op(i: Int): Op = {
    day += 1
    val r = new SplittableRandom(seed * 1000003L + day)
    val fresh = Gen.kgPages(r, "kg", NBase + (day - 1).toLong * NNew, NNew, LongShare)
    spark.createDataset(fresh).write.mode("append").parquet(streamDir)
    newPages ++= fresh
    val slice = Iterator.continually(r.nextInt(NBase)).distinct.take(NRecrawl).map(base).toSeq
      .map(p => Gen.recrawl(r, p, 1440L * day))

    val (res, tResume) = timed(stage())
    val (dayTriples, tDrain) = timed(land())
    val (_, tMerge) = timed(Tables.format.write(
      KgPipeline.mergeNodeTables(spark.read.parquet(nodes(day - 1)), KgPipeline.nodeTable(dayTriples)), nodes(day)))
    val (cmds, tDiff) = timed(render(diff(slice)).collect())
    resumed = res
    lastDay = (fresh, dayTriples, slice, cmds)
    Op(tResume + tDrain + tMerge + tDiff, tResume, NNew + NRecrawl,
      Map("drain_s" -> tDrain, "node_merge_s" -> tMerge, "diff_render_s" -> tDiff))
  }

  private def newTriples(slice: Seq[Page]): DataFrame =
    KgPipeline.dedupTriples(KgPipeline.triples(spark, spark.createDataset(slice)))

  private def diff(slice: Seq[Page]): DataFrame =
    TripleDiff.diffOps(
      spark.read.parquet(baseLayout).join(broadcast(slice.map(_.url).toDF("url")), "url"),
      newTriples(slice), Keys)

  private def render(ops: DataFrame): DataFrame =
    ops.select(col("url"), col("op"), col("subj"), col("pred"), col("obj"),
      SparqlColumns.command(col("op"), col("subj"), col("pred"), col("obj")).as("cmd"))

  /** The resume computes nothing; the landed day equals the pageTriples
    * fold over its pages; the diff equals the set difference of the
    * page-local triples of each recrawled page's stored and new versions,
    * and every command renders its triple.
    */
  def check(i: Int): Seq[String] = {
    val (fresh, dayTriples, slice, cmds) = lastDay
    val byUrl = base.map(p => p.url -> p).toMap
    def keys(ps: Seq[Page]) = Fp.fold(ps).map(t => (t.url, t.subj, t.pred, t.obj)).toSet
    val oldK = keys(slice.map(p => byUrl(p.url)))
    val newK = keys(slice)
    val want = (newK -- oldK).map(("INSERT", _)) ++ (oldK -- newK).map(("DELETE", _))
    val got = cmds.map(r => (r.getString(1), (r.getString(0), r.getString(2), r.getString(3), r.getString(4)))).toSet
    Seq(
      Option.when(resumed != 0)(s"day $day: resume of unchanged input computed $resumed partitions"),
      Option.when(Fp.triples(dayTriples) != Fp.triples(Fp.fold(fresh).toDF()))(
        s"day $day: landed triples differ from the pageTriples fold"),
      Option.when(got != want || got.size != cmds.length)(
        s"day $day: diff has ${cmds.length} ops, expected ${want.size}"),
      Option.when(cmds.exists(r =>
        r.getString(5) != s"${r.getString(1)} DATA { ${r.getString(2)} ${r.getString(3)} ${r.getString(4)} . };"))(
        s"day $day: a rendered command does not match its triple")
    ).flatten
  }

  /** Every cold build computed all partitions; the base layout plus the day
    * layout, and the maintained node table, equal a one-shot build over
    * the base and every day's new pages.
    */
  def finalChecks(): Seq[String] = {
    val oneShot = KgPipeline.dedupTriples(KgPipeline.triples(spark, spark.createDataset(base ++ newPages)))
    val stored = spark.read.parquet(baseLayout).drop("part_key")
      .unionByName(spark.read.parquet(dayLayout).drop("batch"))
    val nodeCols = Seq("node", "out_degree", "in_degree", "n_urls")
    Seq(
      Option.when(builds.exists(_._1 != NParts))(s"a cold build computed ${builds.map(_._1).mkString("/")} partitions"),
      Option.when(Fp.triples(stored) != Fp.triples(oneShot))("stored triples differ from a one-shot build"),
      Option.when(Fp.of(spark.read.parquet(nodes(day)), nodeCols) != Fp.of(KgPipeline.nodeTable(oneShot), nodeCols))(
        "maintained node table differs from a one-shot build")
    ).flatten
  }

  def inputProps: Seq[(String, Metric)] = {
    val lens = base.map(_.text.length.toDouble)
    Seq(
      "base_pages" -> Metric(NBase, "count"),
      "base_html_bytes" -> Metric(base.map(_.html.length.toLong).sum.toDouble, "bytes"),
      "text_chars_p50" -> Metric(median(lens), "chars"),
      "text_chars_max" -> Metric(lens.max, "chars"),
      "long_page_share" -> Metric(base.count(_.text.length > 2000).toDouble / NBase, "ratio"),
      "new_pages_per_day" -> Metric(NNew, "count"),
      "recrawled_pages_per_day" -> Metric(NRecrawl, "count"))
  }

  def extra(ops: Seq[Op]): Seq[(String, Metric)] = Seq(
    "build_pages_per_s" -> Metric(NBase / median(builds.map(_._2).toSeq), "1/s"),
    "resume_noop_s" -> Metric(median(ops.map(_.auxS)), "s"),
    "update_day_p50_s" -> Metric(median(ops.map(_.wallS)), "s"))

  /** Prefix self-times of the cold build over the base pages, each prefix
    * sent to a sink and differenced against the one before, plus the day's
    * steps.
    */
  def layers(ops: Seq[Op]): Seq[(String, Metric)] = {
    val ds = pageTable.as[Page]
    val trie = spark.sparkContext.broadcast(AhoCorasick.build(Dict.surfaces))
    val scan = timedNoop(ds.toDF())
    val (_, extract) = timed(KgPipeline.extractText(spark, ds).count())
    val (mentions, ac) = timed(ds.flatMap(p =>
      trie.value.scan(HtmlCodec.extract(p.html), wordBounds = true).map(m => (p.url, m.begin))).count())
    val (linked, link) = timed(KgPipeline.linkedMentions(spark, ds, Some(NParts)).count())
    val raw = KgPipeline.triples(spark, ds, urlParts = Some(NParts))
    val (nRaw, emit) = timed(raw.count())
    val (nOut, dedup) = timed(KgPipeline.dedupTriples(raw).count())
    val (_, write) = timed(Tables.format.overwritePartitions(
      KgPipeline.dedupTriples(raw).withColumn("part_key", Manifest.partKey(col("url"), NParts)),
      s"$dir/prefix_write", "part_key"))
    val (_, lineage) = timed(Manifest.lineage(pageTable, "url", NParts).collect())
    val build = median(builds.map(_._2).toSeq)
    val slice = lastDay._3
    val (_, tNew) = timed(noop(newTriples(slice)))
    val (nDiff, tDiff) = timed(diff(slice).count())
    val (_, tRender) = timed(render(diff(slice)).collect())
    val mismatches = base.count(p => HtmlCodec.extract(p.html) != p.text)
    def step(k: String) = median(ops.map(_.steps(k)))
    Seq(
      "sources.scan_s" -> Metric(scan, "s"),
      "sources.write_s" -> Metric(write - dedup, "s"),
      "sources.bytes_written" -> Metric(bytesUnder(root).toDouble, "bytes"),
      "text.extract_s" -> Metric(extract - scan, "s"),
      "text.ac_scan_s" -> Metric(ac - extract, "s"),
      "text.mentions" -> Metric(mentions.toDouble, "count"),
      "text.extract_mismatches" -> Metric(mismatches.toDouble, "count"),
      "operators.link_s" -> Metric(link - ac, "s"),
      "operators.linked_rows" -> Metric(linked.toDouble, "count"),
      "pipeline.emit_s" -> Metric(emit - link, "s"),
      "pipeline.dedup_s" -> Metric(dedup - emit, "s"),
      "pipeline.triples_raw" -> Metric(nRaw.toDouble, "count"),
      "pipeline.triples_out" -> Metric(nOut.toDouble, "count"),
      "pipeline.dedup_ratio" -> Metric(nOut.toDouble / math.max(1L, nRaw), "ratio"),
      "pipeline.lineage_s" -> Metric(lineage, "s"),
      "pipeline.manifest_s" -> Metric(build - write, "s"),
      "pipeline.cold_build_s" -> Metric(build, "s"),
      "pipeline.partitions_computed" -> Metric(builds.last._1.toDouble, "count"),
      "pipeline.node_merge_s" -> Metric(step("node_merge_s"), "s"),
      "streaming.drain_s" -> Metric(step("drain_s"), "s"),
      "operators.diff_s" -> Metric(tDiff - tNew, "s"),
      "operators.diff_ops_out" -> Metric(nDiff.toDouble, "count"),
      "functions.render_s" -> Metric(tRender - tDiff, "s"),
      "operators.diff_render_step_s" -> Metric(step("diff_render_s"), "s"))
  }
}
