package graft.perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Ann
import graft.sources.Tables
import Stats.{median, timed}

/** ann_serve: one client sends requests closed-loop; each request holds 16
  * query vectors and probes an IVF-PQ layout (the light step) and then an
  * IVF layout, both built in setup over seeded base embeddings and their
  * noisy replicas. Latency-bound: per-job overhead and partition pruning
  * dominate. Every fifth request repeats an earlier one and must return the
  * same top-k.
  */
final class AnnServe(spark: SparkSession, dir: String, seed: Long) extends Workload(spark, dir, seed) {
  import spark.implicits._

  val Dim = 64
  val NBase = 2000
  val NVectors = 20000
  val QueriesPerReq = 16
  val K = 10
  val NCells = 16
  val NProbe = 4

  /** Recall floors at k = 10 against `Ann.bruteForceTopK` on eight
    * queries: the lowest recall measured on this generator over 39 seeds
    * (IVF 0.59-0.96, IVF-PQ 0.24-0.54) minus a margin of 0.15.
    */
  val IvfRecallFloor = 0.43
  val PqRecallFloor = 0.08

  private var corpus: Array[Array[Float]] = Array.empty
  private var root = ""
  private var cellSizes: Map[Int, Long] = Map.empty
  private val answers = scala.collection.mutable.Map.empty[Int, (Map[Long, Seq[Long]], Map[Long, Seq[Long]])]
  private val rowsScored = scala.collection.mutable.ArrayBuffer.empty[Long]

  private def vectors: DataFrame = Tables.read(spark, dir, "vectors")
  private def pqPath = s"$root/ivfpq"
  private def ivfPath = s"$root/ivf"

  def generate(): Unit = {
    val r = new SplittableRandom(seed)
    val bases = Array.fill(NBase)(Gen.unit(Gen.gaussian(r, Dim)))
    corpus = Array.tabulate(NVectors)(i => if (i < NBase) bases(i) else Gen.noisy(r, bases(r.nextInt(NBase)), 0.08))
    corpus.indices.map(i => (i.toLong, corpus(i))).toDF("vec_id", "embedding")
      .repartition(Main.Cores).write.parquet(s"$dir/vectors.parquet")
  }

  def setup(rep: Int): Unit = {
    if (rep > 0) deleteDir(root)
    root = s"$dir/layouts$rep"
    Ann.ivfPqWriteLayout(spark, vectors, "vec_id", "embedding", pqPath, NCells)
    Ann.ivfWriteLayoutGate(spark, vectors, "vec_id", "embedding", ivfPath, NCells)
    cellSizes = spark.read.parquet(ivfPath).groupBy("cell").count().as[(Int, Long)].collect().toMap
  }

  /** Request `i`'s queries: noisy copies of random corpus vectors; every
    * fifth request reuses the queries of the request four before it.
    */
  private def queries(i: Int): Array[(Long, Array[Float])] = {
    val src = if (i % 5 == 4) i - 4 else i
    val r = new SplittableRandom(seed * 7919L + src)
    Array.tabulate(QueriesPerReq)(m => (src * 100L + m, Gen.noisy(r, corpus(r.nextInt(NVectors)), 0.05)))
  }

  private def topK(df: DataFrame): Map[Long, Seq[Long]] =
    df.select("query_id", "vec_id", "rank").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, hits) => q -> hits.sortBy(_._3).map(_._2).toSeq }

  val warmupOps = 6

  def op(i: Int): Op = {
    val qs = queries(i)
    val (pq, tPq) = timed(topK(Ann.multiQueryIvfPqPartitioned(spark, pqPath, "vec_id", qs, K, NCells, NProbe)))
    val (ivf, tIvf) = timed(topK(Ann.multiQueryIvfPartitioned(spark, ivfPath, "vec_id", "embedding", qs, K, NCells, NProbe)))
    val cents = Ann.intCentroids(Dim, NCells)
    rowsScored += qs.map { case (_, q) =>
      Ann.rankCellsInt(Ann.milliScaled(q), cents).take(NProbe).map(c => cellSizes.getOrElse(c, 0L)).sum
    }.sum
    answers(i) = (pq, ivf)
    Op(tPq + tIvf, tPq, QueriesPerReq, Map("ivfpq_ms" -> 1000 * tPq, "ivf_ms" -> 1000 * tIvf))
  }

  /** Both layouts answer every query with K hits, and a repeated request
    * returns the same top-k as the request it repeats.
    */
  def check(i: Int): Seq[String] = {
    val (pq, ivf) = answers(i)
    Seq(
      Option.when(pq.size != QueriesPerReq || ivf.size != QueriesPerReq)(
        s"request $i answered ${pq.size} / ${ivf.size} of $QueriesPerReq queries"),
      Option.when((pq.values ++ ivf.values).exists(_.length != K))(s"request $i returned fewer than $K hits"),
      Option.when(i % 5 == 4 && answers.get(i - 4).exists(_ != answers(i)))(
        s"request $i repeated request ${i - 4} with a different top-k")
    ).flatten
  }

  /** Recall@K of both layouts against exact brute force on eight queries. */
  private def recall(): (Double, Double) = {
    val qs = queries(0).take(8)
    val pq = topK(Ann.multiQueryIvfPqPartitioned(spark, pqPath, "vec_id", qs, K, NCells, NProbe))
    val ivf = topK(Ann.multiQueryIvfPartitioned(spark, ivfPath, "vec_id", "embedding", qs, K, NCells, NProbe))
    val exact = qs.map { case (q, v) =>
      q -> Ann.bruteForceTopK(spark, vectors, "vec_id", "embedding", v, K).select("id").as[Long].collect().toSet
    }
    def rec(got: Map[Long, Seq[Long]]) =
      exact.map { case (q, truth) => got.getOrElse(q, Nil).count(truth).toDouble }.sum / (K * qs.length)
    (rec(ivf), rec(pq))
  }

  private lazy val measuredRecall = recall()

  def finalChecks(): Seq[String] = {
    val (ivf, pq) = measuredRecall
    Seq(
      Option.when(ivf < IvfRecallFloor)(f"IVF recall@$K $ivf%.3f below floor $IvfRecallFloor"),
      Option.when(pq < PqRecallFloor)(f"IVF-PQ recall@$K $pq%.3f below floor $PqRecallFloor")
    ).flatten
  }

  def inputProps: Seq[(String, Metric)] = Seq(
    "vectors" -> Metric(NVectors, "count"),
    "base_vectors" -> Metric(NBase, "count"),
    "dim" -> Metric(Dim, "count"),
    "queries_per_request" -> Metric(QueriesPerReq, "count"),
    "largest_cell_share" -> Metric(cellSizes.values.max.toDouble / NVectors, "ratio"))

  def extra(ops: Seq[Op]): Seq[(String, Metric)] = {
    val lat = ops.map(_.wallS * 1000)
    val (ivf, pq) = measuredRecall
    Seq("ann_req_p50_ms" -> Metric(median(lat), "ms"),
      "ann_ivf_recall_at_k" -> Metric(ivf, "ratio"), "ann_ivfpq_recall_at_k" -> Metric(pq, "ratio")) ++
      (Stats.tail(lat) match {
        case Some((v, p)) => Seq("ann_req_tail_ms" -> Metric(v, "ms"), "ann_req_tail_percentile" -> Metric(p, "%"))
        case None         => Nil
      })
  }

  def layers(ops: Seq[Op]): Seq[(String, Metric)] = {
    val (ivf, pq) = measuredRecall
    Seq(
      "sources.scan_s" -> Metric(timedNoop(spark.read.parquet(ivfPath)), "s"),
      "sources.bytes_written" -> Metric(bytesUnder(root).toDouble, "bytes"),
      "operators.ann_probe_ms" -> Metric(median(ops.map(_.steps("ivf_ms"))), "ms"),
      "operators.ann_pq_probe_ms" -> Metric(median(ops.map(_.steps("ivfpq_ms"))), "ms"),
      "operators.ann_rows_scored_per_req" -> Metric(median(rowsScored.map(_.toDouble).toSeq), "count"),
      "operators.ann_recall_at_k" -> Metric(ivf, "ratio"),
      "operators.ann_pq_recall_at_k" -> Metric(pq, "ratio"))
  }
}
