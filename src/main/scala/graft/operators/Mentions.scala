package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.model.{Mention, Page}
import graft.text.AhoCorasick

/** Mention detection: one Aho-Corasick pass per page over a broadcast trie —
  * the batched replacement for the reference's per-entity HTTP loop
  * (/root/reference/src/wikidata_update/get_updates.py:1166-1168). The trie
  * is built once on the driver and shipped via Broadcast, so dictionary cost
  * is O(1) per executor regardless of page count; scanning is
  * O(text + matches) per page, embarrassingly parallel, no shuffle.
  *
  * Both steps use raw substring semantics, the SQL-oracle-checkable one; the
  * word-bounded scan runs inside the page-local kernel (`KgPipeline`).
  */
object Mentions {

  /** flatMap pages → every substring occurrence of each surface (the
    * Generator/UDTF role done idiomatically — SURVEY.md §2.9).
    */
  def scan(spark: SparkSession, pages: Dataset[Page], surfaces: Seq[String]): Dataset[Mention] = {
    import spark.implicits._
    val trie = spark.sparkContext.broadcast(AhoCorasick.build(surfaces))
    pages.flatMap { p =>
      trie.value.scan(p.text, wordBounds = false).map { m =>
        Mention(p.url, m.pattern, m.begin, m.end, p.lang)
      }
    }
  }

  /** The surfaces each page contains: distinct (url, surface) over `scan` —
    * the one presence step of the linking queries; its distinct is the
    * only shuffle.
    */
  def present(spark: SparkSession, pages: Dataset[Page], surfaces: Seq[String]): DataFrame =
    scan(spark, pages, surfaces).select(col("url"), col("surface")).distinct()
}
