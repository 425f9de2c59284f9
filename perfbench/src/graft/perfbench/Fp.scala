package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.{Dict, Page}
import graft.pipeline.KgPipeline
import graft.text.AhoCorasick

/** Order-independent fingerprints used by the output checks. */
object Fp {
  /** (rows, xor lane, bounded-sum lane) over per-row xxhash64 of `cols`:
    * the xor lane is order-independent, the sum lane catches a row landing
    * twice, and neither can overflow.
    */
  def of(df: DataFrame, cols: Seq[String]): (Long, Long, Long) = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(pmod(h, lit(1L << 31))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  val tripleCols: Seq[String] = Seq("subj", "pred", "obj", "url", "ts")

  def triples(df: DataFrame): (Long, Long, Long) =
    of(df.withColumn("ts", col("ts").cast("long")), tripleCols)

  /** Page-local fold of the triple kernel over `pages` on the driver. */
  def fold(pages: Seq[Page]): Seq[KgPipeline.TripleRow] = {
    val trie = AhoCorasick.build(Dict.surfaces)
    val best = KgPipeline.aliasBest
    pages.flatMap(p => KgPipeline.pageTriples(trie, best, p))
  }
}
