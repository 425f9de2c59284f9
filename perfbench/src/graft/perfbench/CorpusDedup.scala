package graft.perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Sketches
import graft.operators.{Curation, Dedup}
import graft.sources.Tables
import Stats.{median, timed}

/** corpus_dedup: near-dup curation over a generated corpus. Documents come
  * in seeded near-dup families (word edits), a share are exact copies, and
  * one boilerplate paragraph is appended to many documents, which fills a
  * large band bucket. One operation curates (`Curation.metrics` +
  * `keepFilter`, written out as the kept corpus; the light step) and then
  * deduplicates it: MinHash signatures, LSH candidates, exact Jaccard
  * verification and connected-component clusters, written out. Pair
  * exchange and the component shuffles dominate; there is no HTML, mention
  * scan or linking.
  */
final class CorpusDedup(spark: SparkSession, dir: String, seed: Long) extends Workload(spark, dir, seed) {
  import spark.implicits._

  val NDocs = 2000
  val Theta = 0.8
  val BoilerShare = 0.25
  val CopyShare = 0.03

  private var docs: Map[Long, String] = Map.empty
  private var copies: Seq[(Long, Long)] = Nil
  private val boilerIds = scala.collection.mutable.Set.empty[Long]
  private var families = 0
  private var evalGrams: org.apache.spark.broadcast.Broadcast[Set[String]] = _
  private var lastOut = ""

  private def corpus: DataFrame = Tables.read(spark, dir, "docs")

  def generate(): Unit = {
    val r = new SplittableRandom(seed)
    val vocab = Gen.pseudoVocab(r, 4000)
    val boilerplate = Gen.corpusText(r, vocab, 40)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def add(words: Array[String]): Long = {
      val id = out.length.toLong
      val withBoiler = if (r.nextDouble() < BoilerShare) { boilerIds += id; words ++ boilerplate } else words
      out += id -> withBoiler.mkString(" ")
      id
    }
    val copyPairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    while (out.length < NDocs) {
      families += 1
      val root = Gen.corpusText(r, vocab, 40 + r.nextInt(80))
      add(root)
      (0 until r.nextInt(8)).foreach(_ => if (out.length < NDocs) add(Gen.nearDup(r, vocab, root, 0.03)))
      // an exact copy of the family's last doc after some families; at ~4.5
      // docs per family this makes about CopyShare of all docs copies
      if (out.length < NDocs && r.nextDouble() < CopyShare * 4) {
        val (src, text) = out(out.length - 1)
        if (boilerIds(src)) boilerIds += out.length.toLong
        out += out.length.toLong -> text
        copyPairs += src -> (out.length - 1).toLong
      }
    }
    docs = out.toMap
    copies = copyPairs.toSeq
    out.toSeq.toDF("doc_id", "text").repartition(Main.Cores).write.parquet(s"$dir/docs.parquet")
  }

  /** The decontamination gram set of the eval documents, collected and
    * broadcast. Eval documents are every 500th id among those without the
    * boilerplate paragraph, whose grams would flag every boilerplate doc.
    */
  def setup(rep: Int): Unit = {
    val evalIds = docs.keys.filter(id => id % 500 == 0 && !boilerIds(id)).toSeq
    evalGrams = spark.sparkContext.broadcast(
      Curation.evalGramSet(corpus, "text", col("doc_id").isin(evalIds: _*)))
  }

  private def curated: DataFrame =
    Curation.metrics(corpus, "doc_id", "text", evalGrams).filter(Curation.keepFilter).select("doc_id", "text")

  private def candidates(kept: DataFrame): DataFrame =
    Dedup.minHashCandidates(spark, Dedup.minHashSignatures(spark, kept, "doc_id", "text"))

  private def verified(kept: DataFrame): DataFrame =
    Dedup.verifyJaccard(spark, kept, "doc_id", "text", candidates(kept), minJaccard = Theta)

  val warmupOps = 1

  def op(i: Int): Op = {
    if (lastOut.nonEmpty) deleteDir(lastOut)
    lastOut = s"$dir/dedup$i"
    val (_, tCurate) = timed(Tables.format.write(curated, s"$lastOut/kept"))
    val (_, tDedup) = timed {
      val kept = spark.read.parquet(s"$lastOut/kept")
      Tables.format.write(verified(kept), s"$lastOut/pairs")
      Tables.format.write(
        Dedup.clusters(kept, "doc_id", spark.read.parquet(s"$lastOut/pairs").select("id1", "id2")),
        s"$lastOut/clusters")
    }
    Op(tCurate + tDedup, tCurate, NDocs, Map("dedup_s" -> tDedup))
  }

  /** Every emitted pair has exact Jaccard at least Theta, and every
    * injected exact copy lands in its original's cluster.
    */
  def check(i: Int): Seq[String] = {
    val kept = spark.read.parquet(s"$lastOut/kept").select("doc_id").as[Long].collect().toSet
    val pairs = spark.read.parquet(s"$lastOut/pairs").select("id1", "id2").as[(Long, Long)].collect()
    val cluster = spark.read.parquet(s"$lastOut/clusters").select("doc_id", "cluster_id").as[(Long, Long)]
      .collect().toMap
    val shingles = scala.collection.mutable.Map.empty[Long, Set[String]]
    def sh(id: Long) = shingles.getOrElseUpdate(id, Sketches.shingles(docs(id), 5))
    // Sketches.jaccard's exact value, without building the union set
    def jaccard(a: Long, b: Long) = {
      val inter = sh(a).count(sh(b))
      inter.toDouble / (sh(a).size + sh(b).size - inter)
    }
    val low = pairs.count { case (a, b) => jaccard(a, b) < Theta }
    val keptCopies = copies.filter { case (a, b) => kept(a) && kept(b) }
    val split = keptCopies.count { case (a, b) => cluster.get(a).isEmpty || cluster.get(a) != cluster.get(b) }
    Seq(
      Option.when(low > 0)(s"$low emitted pairs have exact Jaccard below $Theta"),
      Option.when(split > 0)(s"$split injected exact duplicates did not collapse"),
      Option.when(keptCopies.isEmpty)("no injected duplicate survived curation"),
      Option.when(cluster.size != kept.size)(s"${cluster.size} cluster rows for ${kept.size} kept docs")
    ).flatten
  }

  def finalChecks(): Seq[String] = Nil

  def inputProps: Seq[(String, Metric)] = Seq(
    "docs" -> Metric(NDocs, "count"),
    "families" -> Metric(families, "count"),
    "exact_copies" -> Metric(copies.length, "count"),
    "duplicate_share" -> Metric((NDocs - families).toDouble / NDocs, "ratio"),
    "boilerplate_docs" -> Metric(boilerIds.size, "count"),
    "text_bytes" -> Metric(docs.values.map(_.length.toLong).sum.toDouble, "bytes"))

  def extra(ops: Seq[Op]): Seq[(String, Metric)] = Seq(
    "dedup_docs_per_s" -> Metric(ops.map(_.items).sum / ops.map(_.wallS).sum, "1/s"))

  def layers(ops: Seq[Op]): Seq[(String, Metric)] = {
    val scan = timedNoop(corpus)
    val curate = timedNoop(curated)
    val kept = spark.read.parquet(s"$lastOut/kept")
    val keptScan = timedNoop(kept)
    val sig = timedNoop(Dedup.minHashSignatures(spark, kept, "doc_id", "text"))
    val (nCand, cand) = timed(candidates(kept).count())
    val (nVer, ver) = timed(verified(kept).count())
    val (_, comp) = timed(noop(Dedup.clusters(kept, "doc_id", verified(kept).select("id1", "id2"))))
    val verPairs = spark.read.parquet(s"$lastOut/pairs").select("id1", "id2").as[(Long, Long)].collect().toSet
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    val keptCopies = copies.filter { case (a, b) => keptIds(a) && keptIds(b) }
    Seq(
      "sources.scan_s" -> Metric(scan, "s"),
      "sources.bytes_written" -> Metric(bytesUnder(lastOut).toDouble, "bytes"),
      "operators.curate_s" -> Metric(curate - scan, "s"),
      "operators.minhash_sig_s" -> Metric(sig - keptScan, "s"),
      "operators.candidates_s" -> Metric(cand - sig, "s"),
      "operators.candidate_pairs" -> Metric(nCand.toDouble, "count"),
      "operators.verify_s" -> Metric(ver - cand, "s"),
      "operators.verified_pairs" -> Metric(nVer.toDouble, "count"),
      "operators.verify_yield" -> Metric(nVer.toDouble / math.max(1L, nCand), "ratio"),
      "operators.components_s" -> Metric(comp - ver, "s"),
      "operators.recall_injected" -> Metric(
        keptCopies.count(verPairs.contains).toDouble / math.max(1, keptCopies.length), "ratio"),
      "operators.dedup_step_s" -> Metric(median(ops.map(_.steps("dedup_s"))), "s"))
  }
}
