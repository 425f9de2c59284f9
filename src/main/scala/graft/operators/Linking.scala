package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.KgPipeline

/** Entity linking over the (url, surface) rows of `Mentions.present`. The
  * top-1 rule (prior desc, qid asc) is written once, in
  * `KgPipeline.aliasBest`: the alias dictionary is small and local, so
  * resolving a surface is a map lookup (`top1`), not a join and a window —
  * the reference's per-surface href/title resolution
  * (`get_updates.py:883-916`) without its remote SPARQL lookups (806-881).
  *
  * The rest is the candidate-set work that needs every QID of a
  * surface: `saltedJoin`, the skew-resistant join for dims too big to
  * broadcast, and `tfidfScored`, the two-pass corpus-statistic score.
  */
object Linking {

  /** The top-1 QID of `surface` under `KgPipeline.aliasBest`; null for a
    * surface without alias.
    */
  def top1(surface: Column): Column = element_at(typedLit(KgPipeline.aliasBest), surface)

  /** Skew-resistant variant for non-broadcastable dims (SURVEY.md §2.3 J-
    * graft): replicate each dim row SALT times with a salt column, salt the
    * fact side by a url-hash, join on (surface, salt). Head surfaces spread
    * over SALT reducers; AQE skew-join remains the backstop.
    */
  def saltedJoin(facts: DataFrame, dim: DataFrame, salt: Int): DataFrame = {
    val saltedDim = dim.withColumn("salt", explode(array((0 until salt).map(lit): _*)))
    val saltedFacts = facts.withColumn("salt", pmod(hash(col("url")), lit(salt)))
    saltedFacts.join(saltedDim, Seq("surface", "salt")).drop("salt")
  }

  /** TF-IDF context scoring: document frequency per surface via groupBy-count
    * (plain Spark beats a custom Aggregator here — SURVEY.md §2.9), then
    * score = prior * log(N / df). Demonstrates the two-pass corpus statistic
    * shape: the df aggregation is the only extra shuffle and it aggregates
    * partially map-side.
    */
  def tfidfScored(cands: DataFrame, totalDocs: Long): DataFrame = {
    val df = cands.groupBy("surface").agg(countDistinct("url").as("doc_freq"))
    cands
      .join(broadcast(df), Seq("surface"))
      .withColumn("score", col("score") * log(lit(totalDocs.toDouble + 1) / (col("doc_freq") + 1)))
      .drop("doc_freq")
  }
}
