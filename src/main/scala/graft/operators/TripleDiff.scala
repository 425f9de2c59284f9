package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's computational core, distributed: triple-set difference
  * (/root/reference/src/wikidata_update/ttl_compare.py:180-188 —
  * `added = g_new - g_old`, `removed = g_old - g_new`) as shuffle anti-joins
  * keyed on the full triple. This is the pipeline's only required shuffle
  * besides final dedup (SURVEY.md §2.3 J1).
  *
  * Both directions in one pass: the two sides are tagged with membership
  * flags and unioned, and ONE map-side-combining aggregation on the triple
  * key yields added+removed — one shuffle instead of two anti-joins
  * shuffling the same data twice. Per-entity grouping keys ride along so
  * one call diffs every (entity, revision-pair) in the batch at once.
  */
object TripleDiff {

  /** Triple identity columns (null-safe on the optional tag columns). */
  val keyCols: Seq[String] = Seq("entity", "subj", "pred", "obj", "obj_lang", "obj_type")

  /** added = new ∖ old (left_anti). */
  def added(newDf: DataFrame, oldDf: DataFrame, keys: Seq[String] = keyCols): DataFrame =
    antiOn(newDf, oldDf, keys)

  /** removed = old ∖ new (left_anti). */
  def removed(newDf: DataFrame, oldDf: DataFrame, keys: Seq[String] = keyCols): DataFrame =
    antiOn(oldDf, newDf, keys)

  private def antiOn(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame = {
    val cond = keys.map(k => l(k) <=> r(k)).reduce(_ && _)
    l.join(r, cond, "left_anti")
  }

  /** THE diff kernel, over one frame whose rows carry the key columns plus
    * two membership flags (row belongs to the old / the new revision; each
    * row must be in at least one — enforced by the pre-filter). ONE scan and
    * ONE map-side-combining aggregation on the key: the group-by compares
    * null tag columns as equal, which is the `<=>` semantics of
    * `added`/`removed`, and max-combining the flags makes each side a set
    * (like rdflib Graph). When both revisions derive from one frame (q23),
    * the shared subtree is evaluated once (guide §2.3
    * aggregate-before-shuffle, §8 use what the optimizer cannot see).
    */
  def diffOpsFromFlags(
      df: DataFrame, inOld: org.apache.spark.sql.Column,
      inNew: org.apache.spark.sql.Column, keys: Seq[String] = keyCols): DataFrame =
    df.filter(inOld || inNew)
      .select(keys.map(col) :+ inOld.as("__in_old") :+ inNew.as("__in_new"): _*)
      .groupBy(keys.map(col): _*)
      .agg(max(col("__in_old")).as("__in_old"), max(col("__in_new")).as("__in_new"))
      .select(keys.map(col) :+
        when(!col("__in_old"), lit("INSERT"))
          .when(!col("__in_new"), lit("DELETE"))
          .otherwise(lit(null).cast("string")).as("op"): _*)
      .filter(col("op").isNotNull)

  /** Both-directions diff of two frames: the union of the two sides, each
    * row tagged with its side, through `diffOpsFromFlags` — rows tagged
    * op ∈ {INSERT, DELETE}, one aggregation shuffle.
    */
  def diffOps(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String] = keyCols): DataFrame = {
    def tagged(df: DataFrame, old: Boolean) =
      df.select(keys.map(col) :+ lit(old).as("__old") :+ lit(!old).as("__new"): _*)
    diffOpsFromFlags(tagged(oldDf, old = true).unionByName(tagged(newDf, old = false)),
      col("__old"), col("__new"), keys)
  }
}
