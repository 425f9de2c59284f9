package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Dict
import graft.sources.Tables
import graft.functions.{SparqlColumns, TextAnalysis, Sketches}
import graft.operators._
import graft.pipeline.{KgPipeline, Manifest}
import org.apache.hadoop.fs.Path

/** Every operator from SURVEY.md §2 (plus the training-data additions) as a
  * named query over /root/testdata tables, each paired with DuckDB-equivalent
  * oracle SQL in `oracle` (omitted only where not SQL-expressible → driver
  * does a rows-only check).
  *
  * Determinism rules applied throughout (hash-compare survival):
  *  - no SUM over doubles (order-dependent): per-row floor-to-scaled-int
  *    first, then BIGINT sums;
  *  - every top-k has a total-order tiebreak;
  *  - row sets are unique; column names aliased identically on both sides.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  /** Materialize a derived table ONCE PER INVOCATION.
    *
    * localCheckpoint, deliberately NOT persist(): persist registers the
    * canonicalized plan with the CacheManager, so a LATER invocation
    * building the same plan would silently reuse the previous run's
    * blocks — cross-run result caching, which the bench contract forbids
    * (every invocation must compute from the parquet inputs). A
    * localCheckpoint is tied to this invocation's RDD instance: computed
    * eagerly here, reused by every reference within THIS query, gone with
    * the query. The checkpointed partitioning (input-split/balance width)
    * is kept as-is: the downstream exchanges are width-controlled at their
    * own definition sites (Dedup.pairParallelism), and a measured
    * coalesce-to-size variant here was strictly slower (it serialized the
    * band/join probe stage for no remaining file-count benefit).
    */
  private def materializedOnce(df: DataFrame): DataFrame = df.localCheckpoint(true)

  // shared url construction (FIXTURES.md §1) — Spark + DuckDB forms
  private def urlCol: org.apache.spark.sql.Column =
    concat(lit("https://example.org/"), col("source"), lit("/doc"), col("doc_id"))
  private val urlSql = "'https://example.org/' || source || '/doc' || doc_id"

  // ---------------------------------------------------------------- core ops

  /** S1+F1+F3: scan with type + time-range predicates pushed to parquet. */
  def q01ScanFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(
        col("event_type").isin("click", "purchase") &&
          col("ts").between(lit("2024-01-05").cast("timestamp"), lit("2024-01-20").cast("timestamp"))
      )
      .select(col("event_id"), col("event_type"), col("user_id"))

  val q01Sql: String =
    """SELECT event_id, event_type, user_id FROM events
      |WHERE event_type IN ('click','purchase')
      |  AND ts BETWEEN TIMESTAMP '2024-01-05' AND TIMESTAMP '2024-01-20'""".stripMargin

  /** O1+O2: global top-k with deterministic tiebreak (TakeOrderedAndProject). */
  def q02TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), floor(col("o_totalprice") * 100).cast("bigint").as("price_cents"))
      .orderBy(col("price_cents").desc, col("o_orderkey").asc)
      .limit(50)

  val q02Sql: String =
    """SELECT o_orderkey, CAST(floor(o_totalprice*100) AS BIGINT) AS price_cents
      |FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 50""".stripMargin

  /** A1/A5: partial+final hash aggregate; scaled-int sums for bit-stability. */
  def q03Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(floor(col("l_quantity")).cast("bigint")).as("sum_qty"),
        sum(floor(col("l_extendedprice") * 100).cast("bigint")).as("sum_price_cents")
      )

  val q03Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |CAST(sum(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** J-broadcast: small dims broadcast — zero shuffle on the fact side. */
  def q04JoinRegions(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"))

  val q04Sql: String =
    """SELECT r_name, count(*) AS n_customers FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  /** U2/J1 shape: anti join. */
  def q05AntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  val q05Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** Semi join. */
  def q06SemiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(
        t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"),
        "left_semi"
      )
      .select(col("c_custkey"), col("c_mktsegment"))

  val q06Sql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus='F')""".stripMargin

  /** U1: distinct union of change streams. */
  def q07Union(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .select(col("n_nationkey").cast("bigint").as("k"), lit("nation").as("src"))
      .unionByName(
        t(s, dir, "region").select(col("r_regionkey").cast("bigint").as("k"), lit("region").as("src"))
      )
      .distinct()

  val q07Sql: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS k, 'nation' AS src FROM nation
      |UNION
      |SELECT CAST(r_regionkey AS BIGINT) AS k, 'region' AS src FROM region""".stripMargin

  /** U2: set difference (the diff kernel's set semantics on a plain table). */
  def q08Except(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
  }

  val q08Sql: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus='O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus='F'""".stripMargin

  /** Window top-k per group (§2.5). */
  def q09WindowTopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(floor(col("o_totalprice") * 100).cast("bigint").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"))
  }

  val q09Sql: String =
    """SELECT o_custkey, o_orderkey, rn FROM (
      |  SELECT o_custkey, o_orderkey,
      |         CAST(row_number() OVER (PARTITION BY o_custkey
      |              ORDER BY CAST(floor(o_totalprice*100) AS BIGINT) DESC, o_orderkey) AS BIGINT) AS rn
      |  FROM orders) WHERE rn <= 3""".stripMargin

  /** A4: exact dedup via hash aggregate. */
  def q10DedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey")).distinct()

  val q10Sql: String = "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"

  // ------------------------------------------------------- scalar functions

  /** C1: prefix canonicalization via the native single-pass Catalyst
    * expression (graft.plans.PrefixReplaceExpr) — the DuckDB oracle runs the
    * sequential 26-replace chain, so the hash compare proves the custom
    * expression's equivalence on real data.
    */
  def q11PrefixReplace(s: SparkSession, dir: String): DataFrame = {
    graft.plans.NativeKernels.ensure(s)
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        concat(lit("http://www.wikidata.org/entity/Q"), col("p_partkey")).as("u1"),
        concat(lit("http://www.wikidata.org/prop/statement/value-normalized/P"), col("p_partkey")).as("u2"),
        concat(lit("see http://schema.org/about and http://www.wikidata.org/prop/direct/P"),
          col("p_partkey")).as("u3")
      )
      .select(
        col("p_partkey"),
        expr("replace_prefixes_fast(u1)").as("entity_short"),
        expr("replace_prefixes_fast(u2)").as("psn_short"),
        expr("replace_prefixes_fast(u3)").as("mixed_short")
      )
  }

  val q11Sql: String = {
    def chain(inner: String): String =
      graft.text.SparqlFormat.prefixes.foldLeft(inner) { case (acc, (uri, p)) =>
        s"replace($acc, '$uri', '$p:')"
      }
    s"""SELECT p_partkey,
       |${chain("'http://www.wikidata.org/entity/Q' || p_partkey")} AS entity_short,
       |${chain("'http://www.wikidata.org/prop/statement/value-normalized/P' || p_partkey")} AS psn_short,
       |${chain("'see http://schema.org/about and http://www.wikidata.org/prop/direct/P' || p_partkey")} AS mixed_short
       |FROM part""".stripMargin
  }

  /** C2: object rendering when-chain over synthesized tagged literals. */
  def q12FormatObject(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(
        col("event_id"),
        concat(lit("He said \""), col("event_type"), lit("\"")).as("lex"),
        when(col("user_id") % 3 === 0, lit("en"))
          .when(col("user_id") % 3 === 1, lit("fr"))
          .otherwise(lit(null).cast("string")).as("lang"),
        when(col("user_id") % 3 === 2 && col("event_id") % 2 === 0,
          lit("http://www.w3.org/2001/XMLSchema#string"))
          .otherwise(lit(null).cast("string")).as("dtype"),
        lit("literal").as("kind")
      )
    e.select(
      col("event_id"),
      SparqlColumns.formatObject(col("lex"), col("lang"), col("dtype"), col("kind")).as("rendered")
    )
  }

  val q12Sql: String =
    """SELECT event_id,
      |CASE
      |  WHEN lang IS NOT NULL THEN '"' || esc || '"@' || lang
      |  WHEN dtype IS NOT NULL THEN replace('"' || esc || '"^^' || dtype,
      |       'http://www.w3.org/2001/XMLSchema#', 'xsd:')
      |  ELSE '"' || esc || '"'
      |END AS rendered
      |FROM (
      |  SELECT event_id,
      |    replace('He said "' || event_type || '"', '"', '\"') AS esc,
      |    CASE WHEN user_id % 3 = 0 THEN 'en'
      |         WHEN user_id % 3 = 1 THEN 'fr' END AS lang,
      |    CASE WHEN user_id % 3 = 2 AND event_id % 2 = 0
      |         THEN 'http://www.w3.org/2001/XMLSchema#string' END AS dtype
      |  FROM events)""".stripMargin

  /** C3: BCE-date sentinel rewrite. */
  def q13BceDates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        concat(lit("\"-"), lit(4000) + col("o_orderkey") % 1000,
          lit("-01-01T00:00:00Z\"^^xsd:dateTime")).as("raw")
      )
      .select(col("o_orderkey"), SparqlColumns.preprocessBceDates(col("raw")).as("bce"))

  val q13Sql: String =
    """SELECT o_orderkey,
      |regexp_replace('"-' || (4000 + o_orderkey % 1000) || '-01-01T00:00:00Z"^^xsd:dateTime',
      |  '"-(\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z)"\^\^xsd:dateTime',
      |  '"BCE_\1"', 'g') AS bce
      |FROM orders""".stripMargin

  /** C6: to_camel_case over the rank-phrase domain. */
  def q14CamelCase(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        when(col("event_type") === "click", lit("\"normal rank\""))
          .when(col("event_type") === "view", lit("\"preferred rank\""))
          .otherwise(lit("\"deprecated rank\"")).as("phrase")
      )
      .select(col("event_id"), SparqlColumns.toCamelCase(col("phrase")).as("camel"))

  val q14Sql: String =
    """SELECT event_id,
      |CASE WHEN event_type='click' THEN 'NormalRank'
      |     WHEN event_type='view' THEN 'PreferredRank'
      |     ELSE 'DeprecatedRank' END AS camel
      |FROM events""".stripMargin

  /** C13: timezone normalization. */
  def q15TzNormalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        SparqlColumns.normalizeTz(
          concat(lit("\"2024-01-0"), lit(1) + col("event_id") % 9,
            lit("T12:00:00+00:00\"^^xsd:dateTime"))
        ).as("norm")
      )

  val q15Sql: String =
    """SELECT event_id,
      |replace('"2024-01-0' || (1 + event_id % 9) || 'T12:00:00+00:00"^^xsd:dateTime',
      |        '+00:00', 'Z') AS norm
      |FROM events""".stripMargin

  /** J3 replacement: deterministic statement-id minting (content hash). */
  def q16MintStatementId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        SparqlColumns.mintStatementId(
          concat(lit("Q"), col("o_custkey")),
          lit("P31"),
          col("o_orderkey").cast("string")
        ).as("statement_id")
      )

  val q16Sql: String =
    """SELECT o_orderkey,
      |'s:Q' || o_custkey || '-' || md5('Q' || o_custkey || '|' || 'P31' || '|' || o_orderkey)
      |  AS statement_id
      |FROM orders""".stripMargin

  // --------------------------------------------------- KG pipeline queries

  /** The byte-identity invariant as a query: html→text extraction must
    * reproduce the text column exactly (compared by the oracle hash).
    */
  def q17ExtractText(s: SparkSession, dir: String): DataFrame = {
    val pages = Tables.pages(s, dir)
    KgPipeline.extractText(s, pages)
      .toDF()
      .select(col("url"), col("text"), col("lang"))
  }

  val q17Sql: String =
    s"SELECT $urlSql AS url, text, lang FROM documents"

  private def surfacesCte: String =
    Dict.surfaces.map(su => s"('$su')").mkString("surfaces(surface) AS (VALUES ", ", ", ")")

  private def aliasesCte: String =
    Dict.aliases.map(a => s"('${a.surface}','${a.qid}',${a.prior})")
      .mkString("aliases(surface, qid, prior) AS (VALUES ", ", ", ")")

  private def docsCte: String =
    s"docs AS (SELECT $urlSql AS url, text FROM documents)"

  /** Mention scan (substring semantics — the SQL-checkable variant; the
    * word-boundary variant runs inside the flagship pipeline).
    */
  def q18Mentions(s: SparkSession, dir: String): DataFrame = {
    val pages = Tables.pages(s, dir)
    Mentions.scan(s, pages, Dict.surfaces)
      .groupBy(col("url"), col("surface"))
      .agg(count(lit(1)).as("n_mentions"))
  }

  val q18Sql: String =
    s"""WITH $docsCte, $surfacesCte
       |SELECT d.url, s.surface,
       |  CAST((length(d.text) - length(replace(d.text, s.surface, ''))) // length(s.surface) AS BIGINT)
       |    AS n_mentions
       |FROM docs d CROSS JOIN surfaces s
       |WHERE length(d.text) - length(replace(d.text, s.surface, '')) > 0""".stripMargin

  /** Entity linking: surfaces present in a doc → top-1 QID by (prior, qid).
    * The dictionary does not depend on url, so the top-1 per (url, surface)
    * is the top-1 per surface: a lookup in `KgPipeline.aliasBest` gives the
    * rows of the SQL's alias join + row_number window.
    */
  def q19LinkTop1(s: SparkSession, dir: String): DataFrame =
    Mentions.present(s, Tables.pages(s, dir), Dict.surfaces)
      .select(col("url"), col("surface"), Linking.top1(col("surface")).as("qid"))

  val q19Sql: String =
    s"""WITH $docsCte, $aliasesCte,
       |present AS (
       |  SELECT DISTINCT d.url, a.surface FROM docs d JOIN aliases a
       |  ON length(d.text) - length(replace(d.text, a.surface, '')) > 0)
       |SELECT url, surface, qid FROM (
       |  SELECT p.url, p.surface, a.qid,
       |         row_number() OVER (PARTITION BY p.url, p.surface
       |                            ORDER BY a.prior DESC, a.qid) AS rn
       |  FROM present p JOIN aliases a ON p.surface = a.surface)
       |WHERE rn = 1""".stripMargin

  /** Triple extraction: entity co-occurrence pairs per page (canonicalized,
    * deduped) — (wd:Qa, wdt:P1001, wd:Qb, url).
    */
  def q20Triples(s: SparkSession, dir: String): DataFrame = {
    // ONE url-keyed aggregation replaces the previous distinct → window-cap
    // → self-join → final distinct (3 wide ops after the linking window →
    // 1): collect_set IS the per-url distinct qid set, array_sort + slice
    // 1..64 IS the deterministic rk ≤ 64 cap (same order — qid asc over a
    // duplicate-free set, so row_number has no ties to break), and the pair
    // set explodes narrowly from the capped array. The per-url pairing
    // bound still holds (≤ 64 qids ⇒ ≤ 64² generated rows per url, never
    // binding on this corpus where distinct entities per page ≤ dict size
    // = 20). Pairs from a per-url SET with qid1 < qid2 are already unique,
    // and url rides every row, so the old trailing distinct was a no-op
    // exchange and is dropped — the output row set is identical.
    val linked = q19LinkTop1(s, dir)
    val capped = linked.groupBy(col("url"))
      .agg(slice(array_sort(collect_set(col("qid"))), 1, 64).as("qids"))
    capped
      .select(col("url"), explode(col("qids")).as("qid1"), col("qids"))
      .select(col("url"), col("qid1"), explode(col("qids")).as("qid2"))
      .filter(col("qid1") < col("qid2"))
      .select(
        concat(lit("wd:"), col("qid1")).as("subj"),
        lit("wdt:" + Dict.properties("cooccurs_with")).as("pred"),
        concat(lit("wd:"), col("qid2")).as("obj"),
        col("url")
      )
  }

  private val q19AsCte: String =
    s"""linked AS (
       |  SELECT url, surface, qid FROM (
       |    SELECT p.url, p.surface, a.qid,
       |           row_number() OVER (PARTITION BY p.url, p.surface
       |                              ORDER BY a.prior DESC, a.qid) AS rn
       |    FROM (SELECT DISTINCT d.url, a.surface FROM docs d JOIN aliases a
       |          ON length(d.text) - length(replace(d.text, a.surface, '')) > 0) p
       |    JOIN aliases a ON p.surface = a.surface)
       |  WHERE rn = 1),
       |ents AS (SELECT DISTINCT url, qid FROM linked)""".stripMargin

  val q20Sql: String =
    s"""WITH $docsCte, $aliasesCte, $q19AsCte
       |SELECT DISTINCT 'wd:' || a.qid AS subj, 'wdt:${Dict.properties("cooccurs_with")}' AS pred,
       |       'wd:' || b.qid AS obj, a.url
       |FROM ents a JOIN ents b ON a.url = b.url AND a.qid < b.qid""".stripMargin

  /** North-rule A4: windowed distinct over (subj, pred, obj, url) with a
    * deterministic survivor — fed duplicated input to prove the collapse.
    */
  def q21DedupTriples(s: SparkSession, dir: String): DataFrame = {
    val tr = q20Triples(s, dir)
    val doubled = tr.unionByName(tr) // duplicate rows on purpose
    Dedup.windowedDistinct(doubled, Seq("subj", "pred", "obj", "url"), "subj")
  }

  val q21Sql: String =
    s"""WITH $docsCte, $aliasesCte, $q19AsCte,
       |tr AS (
       |  SELECT DISTINCT 'wd:' || a.qid AS subj, 'wdt:${Dict.properties("cooccurs_with")}' AS pred,
       |         'wd:' || b.qid AS obj, a.url
       |  FROM ents a JOIN ents b ON a.url = b.url AND a.qid < b.qid),
       |doubled AS (SELECT * FROM tr UNION ALL SELECT * FROM tr)
       |SELECT subj, pred, obj, url FROM (
       |  SELECT subj, pred, obj, url,
       |         row_number() OVER (PARTITION BY subj, pred, obj, url ORDER BY subj) AS rn
       |  FROM doubled) WHERE rn = 1""".stripMargin

  /** A2: SPARQL command emission (`INSERT DATA { s p o . };` grammar). */
  def q22EmitCommands(s: SparkSession, dir: String): DataFrame =
    q19LinkTop1(s, dir)
      .select(
        col("url"),
        col("qid"),
        SparqlColumns.command(
          lit("INSERT"),
          concat(lit("data:"), col("url")),
          lit("schema:about"),
          concat(lit("wd:"), col("qid"))
        ).as("cmd")
      )
      .distinct()

  val q22Sql: String =
    s"""WITH $docsCte, $aliasesCte, $q19AsCte
       |SELECT DISTINCT url, qid,
       |  'INSERT DATA { data:' || url || ' schema:about wd:' || qid || ' . };' AS cmd
       |FROM linked""".stripMargin

  /** J1: the diff kernel over two corpus revisions (old = docs with
    * doc_id % 7 != 0) — single-shuffle flag-aggregate diff, op-tagged.
    */
  def q23TripleDiff(s: SparkSession, dir: String): DataFrame = {
    // both revisions derive from ONE linking pass (old = the %7-filtered
    // subset), so the flags go on that one frame: a single scan + a single
    // aggregation exchange — diffOps over two filtered copies would union
    // the whole mention-scan subtree twice.
    val about = q19LinkTop1(s, dir)
      .select(
        concat(lit("data:"), col("url")).as("subj"),
        lit("schema:about").as("pred"),
        concat(lit("wd:"), col("qid")).as("obj"),
        col("url")
      )
    TripleDiff.diffOpsFromFlags(
      about,
      inOld = expr("cast(regexp_extract(url, 'doc([0-9]+)$', 1) as bigint) % 7 != 0"),
      inNew = lit(true),
      Seq("subj", "pred", "obj"))
  }

  val q23Sql: String =
    s"""WITH $docsCte, $aliasesCte, $q19AsCte,
       |about AS (
       |  SELECT DISTINCT 'data:' || url AS subj, 'schema:about' AS pred, 'wd:' || qid AS obj, url
       |  FROM linked),
       |oldrev AS (SELECT subj, pred, obj FROM about
       |           WHERE CAST(regexp_extract(url, 'doc([0-9]+)$$', 1) AS BIGINT) % 7 != 0),
       |newrev AS (SELECT subj, pred, obj FROM about)
       |SELECT subj, pred, obj, 'INSERT' AS op FROM (SELECT * FROM newrev EXCEPT SELECT * FROM oldrev)
       |UNION ALL
       |SELECT subj, pred, obj, 'DELETE' AS op FROM (SELECT * FROM oldrev EXCEPT SELECT * FROM newrev)""".stripMargin

  /** F1/F2: recentchanges-shaped filter chain (type + QID-title regex). */
  def q24Changes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        concat(lit("Q"), col("user_id")).as("title"),
        when(col("event_type") === "click", lit("edit"))
          .when(col("event_type") === "purchase", lit("new"))
          .otherwise(lit("log")).as("change_type")
      )
      .filter(col("change_type").isin("edit", "new") && col("title").rlike("^Q[0-9]+$"))
      .groupBy(col("title"), col("change_type"))
      .agg(count(lit(1)).as("n_changes"))

  val q24Sql: String =
    """SELECT title, change_type, count(*) AS n_changes FROM (
      |  SELECT 'Q' || user_id AS title,
      |         CASE WHEN event_type='click' THEN 'edit'
      |              WHEN event_type='purchase' THEN 'new'
      |              ELSE 'log' END AS change_type
      |  FROM events)
      |WHERE change_type IN ('edit','new') AND regexp_matches(title, '^Q[0-9]+$')
      |GROUP BY title, change_type""".stripMargin

  // ------------------------------------------------- training-data queries

  /** Exact dedup over documents (hash-groupBy on the content digest). */
  def q25DedupDocs(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "text", "doc_id")

  val q25Sql: String =
    """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
      |CAST(min(doc_id) AS BIGINT) AS survivor_id, count(*) AS n_copies
      |FROM documents GROUP BY fp""".stripMargin

  /** ANN brute force, engine-independent scaled-integer scoring. */
  def q29AnnBrute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    val qB = s.sparkContext.broadcast(query)
    emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, Sketches.scaledDot(v, qB.value)) }
      .toDF("vec_id", "scaled_dot")
      .orderBy(col("scaled_dot").desc, col("vec_id").asc)
      .limit(20)
  }

  val q29Sql: String = {
    val terms = (1 to 64)
      .map(i => s"CAST(floor(CAST(e.embedding[$i] AS DOUBLE)*1000) AS BIGINT)*" +
        s"CAST(floor(CAST(q.embedding[$i] AS DOUBLE)*1000) AS BIGINT)")
      .mkString(" + ")
    s"""SELECT e.vec_id, ($terms) AS scaled_dot
       |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |ORDER BY scaled_dot DESC, e.vec_id LIMIT 20""".stripMargin
  }

  /** Language ID heuristic (marker scoring, fixed priority order). */
  def q30LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))

  val q30Sql: String = {
    val langs = Seq("en", "de", "fr", "es", "zh")
    def score(l: String): String =
      TextAnalysis.stopwords(l)
        .map(w => s"(CASE WHEN contains(' ' || lower(text) || ' ', '${w}') THEN 1 ELSE 0 END)")
        .mkString(" + ")
    val scoreCols = langs.map(l => s"(${score(l)}) AS s_$l").mkString(", ")
    val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val pick = langs.foldRight("'und'") { (l, acc) =>
      s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $acc END"
    }
    s"""SELECT doc_id, $pick AS lang_pred FROM (
       |  SELECT doc_id, $scoreCols, $best AS best FROM (
       |    SELECT doc_id, text, $scoreCols FROM documents))""".stripMargin
  }

  /** Quality scoring (scaled-integer ratios). */
  def q31Quality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id") +: TextAnalysis.qualityColumns(col("text")): _*)

  val q31Sql: String =
    """SELECT doc_id,
      |CAST(length(text) AS BIGINT) AS n_chars,
      |CAST(CASE WHEN trim(text)='' THEN 0
      |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
      |CAST(CASE WHEN trim(text)='' THEN 0 ELSE
      |  length(regexp_replace(text,'\s','','g'))*1000 //
      |  len(regexp_split_to_array(trim(text),'\s+')) END AS BIGINT) AS mean_token_len_milli,
      |CAST(CASE WHEN length(text)=0 THEN 0 ELSE
      |  length(regexp_replace(text,'[^.,;:!?''"()-]','','g'))*1000 // length(text) END AS BIGINT)
      |  AS punct_per_mille,
      |CAST(CASE WHEN length(text)=0 THEN 0 ELSE
      |  length(regexp_replace(text,'[^A-Z]','','g'))*1000 // length(text) END AS BIGINT)
      |  AS upper_per_mille
      |FROM documents""".stripMargin

  /** Document fingerprinting (md5 content key + whitespace-token count). */
  def q32Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens")
      )

  val q32Sql: String =
    """SELECT doc_id,
      |md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
      |CAST(CASE WHEN trim(text)='' THEN 0
      |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      |FROM documents""".stripMargin

  /** BPE-ish token counting (regex pre-tokenizer shape). */
  def q34Tokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
        TextAnalysis.tokenCount(col("text")).as("n_ws")
      )

  val q34Sql: String =
    s"""SELECT doc_id,
       |CAST(len(regexp_extract_all(text, '${TextAnalysis.bpeishPattern}')) AS BIGINT)
       |  AS n_bpeish,
       |CAST(CASE WHEN trim(text)='' THEN 0
       |     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_ws
       |FROM documents""".stripMargin

  /** Streaming-shaped hourly tumbling-window aggregation (batch form). */
  def q35HourlyWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  val q35Sql: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
      |count(*) AS n_events FROM events GROUP BY 1, 2""".stripMargin

  /** Per-partition lineage rows (manifest shape: part key, counts, bounds). */
  def q36Lineage(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy((col("doc_id") % 32).cast("bigint").as("part_key"))
      .agg(
        count(lit(1)).as("rows_in"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc")
      )

  val q36Sql: String =
    """SELECT CAST(doc_id % 32 AS BIGINT) AS part_key, count(*) AS rows_in,
      |CAST(min(doc_id) AS BIGINT) AS min_doc, CAST(max(doc_id) AS BIGINT) AS max_doc
      |FROM documents GROUP BY 1""".stripMargin

  /** Sessionization: the skew-safe secondary-sort form (O(1) memory per key;
    * StreamIngest.sessionizeSorted) cross-checked against the SQL lag/cumsum
    * formulation. The typed flatMapGroups and stateful-streaming forms are
    * proven equal in StreamingSpec.
    */
  def q39Sessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamIngest.sessionizeSorted(s, t(s, dir, "events"), gapMinutes = 30)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events").cast("bigint").as("n_events"))

  val q39Sql: String =
    """SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |count(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |                             ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM (
      |    SELECT user_id, ts,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
      |           WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
      |                > 30*60*1000 THEN 1
      |           ELSE 0 END AS new_sess
      |    FROM events))
      |GROUP BY user_id, sess_id""".stripMargin

  /** F4+F5: owl-namespace and foreign/property-subject triple filters
    * (ttl_compare.py:211-228) over synthesized triples.
    */
  def q41TripleFilters(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events").select(
      col("event_id"),
      when(col("event_id") % 5 === 0, lit("http://www.w3.org/2002/07/owl#someValuesFrom"))
        .otherwise(concat(lit("wdt:P"), col("user_id"))).as("pred"),
      when(col("event_id") % 3 === 0, lit("wd:Q42"))
        .when(col("event_id") % 3 === 1, concat(lit("wd:Q"), col("user_id") + 100))
        .otherwise(concat(lit("wd:P"), col("user_id"))).as("subj"),
      lit("wd:Q5").as("obj")
    )
    raw
      .filter(SparqlColumns.owlFree(col("subj"), col("pred"), col("obj")))
      .filter(SparqlColumns.subjectAllowed(col("subj"), lit("Q42")))
      .select(col("event_id"), col("subj"), col("pred"))
  }

  val q41Sql: String =
    """SELECT event_id, subj, pred FROM (
      |  SELECT event_id,
      |    CASE WHEN event_id % 5 = 0 THEN 'http://www.w3.org/2002/07/owl#someValuesFrom'
      |         ELSE 'wdt:P' || user_id END AS pred,
      |    CASE WHEN event_id % 3 = 0 THEN 'wd:Q42'
      |         WHEN event_id % 3 = 1 THEN 'wd:Q' || (user_id + 100)
      |         ELSE 'wd:P' || user_id END AS subj,
      |    'wd:Q5' AS obj
      |  FROM events)
      |WHERE subj NOT LIKE '%/owl#%' AND pred NOT LIKE '%/owl#%' AND obj NOT LIKE '%/owl#%'
      |  AND (subj NOT LIKE 'wd:Q%' OR subj = 'wd:Q42')
      |  AND subj NOT LIKE 'wd:P%'""".stripMargin

  /** J2: change↔snapshot pairing — each change joins its old and new
    * snapshots by (entity, revision); old_revid==0 resolves to the empty
    * snapshot (new-entity path, ttl_compare.py:339-340) via coalesce.
    */
  def q42ChangeSnapshots(s: SparkSession, dir: String): DataFrame = {
    val changes = t(s, dir, "events").select(
      concat(lit("Q"), col("user_id")).as("entity"),
      col("event_id").as("revid"),
      when(col("event_type") === "purchase", lit(0L)).otherwise(col("event_id") - 1).as("old_revid")
    )
    val snapshots = t(s, dir, "events").select(
      concat(lit("Q"), col("user_id")).as("s_entity"),
      col("event_id").as("s_revid"),
      concat(lit("doc-"), col("user_id"), lit("-"), col("event_id")).as("doc")
    )
    changes
      .join(snapshots,
        col("entity") === col("s_entity") && col("revid") === col("s_revid"), "inner")
      .withColumnRenamed("doc", "new_doc").drop("s_entity", "s_revid")
      .join(snapshots,
        col("entity") === col("s_entity") && col("old_revid") === col("s_revid"), "left_outer")
      .select(
        col("entity"), col("revid"), col("old_revid"), col("new_doc"),
        coalesce(col("doc"), lit("")).as("old_doc")
      )
  }

  val q42Sql: String =
    """WITH changes AS (
      |  SELECT 'Q' || user_id AS entity, event_id AS revid,
      |         CASE WHEN event_type='purchase' THEN 0 ELSE event_id - 1 END AS old_revid
      |  FROM events),
      |snapshots AS (
      |  SELECT 'Q' || user_id AS s_entity, event_id AS s_revid,
      |         'doc-' || user_id || '-' || event_id AS doc
      |  FROM events)
      |SELECT c.entity, CAST(c.revid AS BIGINT) AS revid, CAST(c.old_revid AS BIGINT) AS old_revid,
      |       n.doc AS new_doc, coalesce(o.doc, '') AS old_doc
      |FROM changes c
      |JOIN snapshots n ON c.entity = n.s_entity AND c.revid = n.s_revid
      |LEFT JOIN snapshots o ON c.entity = o.s_entity AND c.old_revid = o.s_revid""".stripMargin

  /** A3/C14: new-entity INSERT synthesis from nested entity JSON docs
    * (from_json + explode + 6-way type dispatch + per-entity fold).
    */
  def q43NewEntity(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "customer").select(
      concat(
        lit("""{"id":"Q"""), col("c_custkey"),
        lit("""","labels":{"en":{"language":"en","value":""""), col("c_name"),
        lit(""""}},"claims":{"P31":[{"mainsnak":{"datavalue":{"type":"wikibase-entityid","value":{"id":"Q5"}}}}],"P2067":[{"mainsnak":{"datavalue":{"type":"quantity","value":{"amount":"+"""),
        col("c_custkey") % 100,
        lit(""""}}}}]}}""")
      ).as("doc")
    )
    NewEntityRdf.fromJson(s, docs, "doc").withColumnRenamed("id", "entity")
  }

  // claims sort by (pid, pos) in the distributed fold, so P2067 < P31
  // lexicographically → P31 is the last line and carries the terminal '.'
  val q43Sql: String =
    """SELECT 'Q' || c_custkey AS entity,
      |'INSERT DATA {' || chr(10) ||
      |'  wd:Q' || c_custkey || ' a schema:Thing ;' || chr(10) ||
      |'    schema:name "' || c_name || '"@en ;' || chr(10) ||
      |'    wdt:P2067 "+' || (c_custkey % 100) || '"^^xsd:decimal ;' || chr(10) ||
      |'    wdt:P31 wd:Q5 .' || chr(10) ||
      |'};' || chr(10) AS insert_block
      |FROM customer""".stripMargin

  // -------------------------------------- near-dup queries (oracle-gated)

  /** Exact all-pairs 5-gram Jaccard in plain SQL (DISTINCT-shingle explode →
    * shingle self-join → |∩| counts → |∪| by inclusion-exclusion). Viable as
    * an oracle because Σ c(shingle)² ≈ 16M at sf0.01 — and correct as one
    * because the corpus is GAPPED: every document pair is either a planted
    * near-dup (J ≥ 0.92) or background (J ≤ 0.35), measured at sf0.001/0.01/
    * 0.1, so any threshold in [0.4, 0.9] selects exactly the planted set —
    * the set the LSH queries must recover (recall at J ≥ 0.92 with 16×4
    * banding: 1-(1-0.92⁴)¹⁶ ≈ 1-2e-9).
    */
  private def jaccardPairsSql(minJaccard: Double): String =
    s"""WITH norm AS (
       |  SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |         CASE WHEN length(t) < 5 THEN t ELSE substr(t, g.i, 5) END AS s
       |  FROM norm, LATERAL (SELECT unnest(generate_series(1, greatest(length(t) - 4, 1))) AS i) g
       |  WHERE t <> ''),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2 FROM inter
       |JOIN sizes s1 ON s1.doc_id = inter.id1
       |JOIN sizes s2 ON s2.doc_id = inter.id2
       |WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= $minJaccard""".stripMargin

  /** MinHash+LSH near-dup candidate pairs at est-Jaccard ≥ 0.7. On the
    * gapped corpus (see jaccardPairsSql) this equals the exact-Jaccard ≥ 0.6
    * set, which is what the oracle computes — gating both LSH recall and
    * estimator calibration.
    */
  def q26MinHashPairs(s: SparkSession, dir: String): DataFrame = {
    // re-balance the single-file scan: shingling+64 minhashes is ~ms/doc CPU,
    // so parallelism must follow cores, not the one input split
    val docs = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
    Dedup.minHashCandidates(s, Dedup.minHashSignatures(s, docs, "doc_id", "text"),
      bands = 16, minEstJaccard = 0.7)
      .select(col("id1"), col("id2"))
  }

  val q26Sql: String = jaccardPairsSql(0.6)

  /** The md5-family 48-bit sketch table — shared by q27 and q91. `pred`
    * filters the DOCUMENTS before the sketch map: a filter placed after
    * the typed map cannot push through it, so a batch-restricted sketch
    * table would otherwise sketch the whole corpus and discard the rest
    * (the md5 vote is the dominant CPU here).
    */
  private def simHash48Table(s: SparkSession, dir: String,
      pred: Column = lit(true)): DataFrame = {
    import s.implicits._
    // single-file scan + ~ms/doc of md5 CPU: re-balance so parallelism
    // follows cores, not the one input split (the q26/q44 pattern)
    t(s, dir, "documents")
      .filter(pred)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, Sketches.simHash48(text)) }
      .toDF("id", "simhash")
  }

  /** SimHash near-dup pairs, ORACLE-GATED: per-word hash = first 12 hex
    * chars of md5(word) (Sketches.simHash48), so sketch construction
    * (majority vote), the 4×12-bit banding and the exact Hamming verify are
    * all reproducible in DuckDB.
    */
  def q27SimHashGate(s: SparkSession, dir: String): DataFrame = {
    Dedup.simHashPairs(s, simHash48Table(s, dir), maxHamming = 3, chunks = 4, chunkBits = 12)
      .select(col("id1"), col("id2"), col("hamming").cast("bigint").as("hamming"))
  }

  val q27GateSql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w FROM documents),
      |wh AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 12))::BIGINT AS h FROM words WHERE w <> ''),
      |bits AS (
      |  SELECT doc_id, b.b,
      |         CASE WHEN sum(((h >> b.b) & 1) * 2 - 1) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM wh CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS b) b
      |  GROUP BY doc_id, b.b),
      |sk AS (SELECT doc_id, CAST(sum(bit * (1::BIGINT << b)) AS BIGINT) AS sh FROM bits GROUP BY doc_id),
      |banded AS (
      |  SELECT doc_id, c.c, (sh >> (c.c * 12)) & 4095 AS chunk
      |  FROM sk CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) c),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
      |  FROM banded a JOIN banded b2 ON a.c = b2.c AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id)
      |SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
      |       CAST(bit_count(xor(s1.sh, s2.sh)) AS BIGINT) AS hamming
      |FROM cand JOIN sk s1 ON s1.doc_id = id1 JOIN sk s2 ON s2.doc_id = id2
      |WHERE bit_count(xor(s1.sh, s2.sh)) <= 3""".stripMargin

  /** Corpus boilerplate removal: a closed-form 4-word "copyright notice"
    * paragraph is prepended to EVERY doc (aligned so original paragraph
    * boundaries are preserved), so the df-threshold drop must remove exactly
    * that paragraph everywhere and reassemble the rest in order.
    */
  def q54Boilerplate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("copyright notice all rights "), col("text")).as("text"))
    Dedup.dropBoilerplate(docs, "doc_id", "text", paraWords = 4, maxDocFreq = 10)
  }

  val q54Sql: String =
    """WITH injected AS (
      |  SELECT doc_id, 'copyright notice all rights ' || text AS text FROM documents),
      |w AS (
      |  SELECT doc_id, g.i - 1 AS i, arr[g.i] AS w
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      |        FROM injected WHERE trim(text) <> '') t,
      |       LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g),
      |paras AS (
      |  SELECT doc_id, i // 4 AS pidx, string_agg(w, ' ' ORDER BY i) AS para
      |  FROM w GROUP BY doc_id, i // 4),
      |bp AS (SELECT para FROM paras GROUP BY para HAVING count(DISTINCT doc_id) >= 10),
      |kept AS (SELECT doc_id, pidx, para FROM paras WHERE para NOT IN (SELECT para FROM bp)),
      |agg AS (SELECT doc_id, string_agg(para, ' ' ORDER BY pidx) AS kept_text
      |        FROM kept GROUP BY doc_id)
      |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, coalesce(a.kept_text, '') AS kept_text
      |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  /** n-gram Jaccard verification over LSH candidates — exact J ≥ 0.6, so the
    * oracle is the literal all-pairs SQL of the same computation.
    */
  def q28JaccardVerify(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
    val cands = Dedup.minHashCandidates(s, Dedup.minHashSignatures(s, docs, "doc_id", "text"),
      bands = 16, minEstJaccard = 0.3)
    Dedup.verifyJaccard(s, docs, "doc_id", "text", cands, shingleN = 5, minJaccard = 0.6)
      .select(col("id1"), col("id2"))
  }

  val q28Sql: String = jaccardPairsSql(0.6)

  /** Multimodal metadata: REAL PNG decode (javax.imageio) over the media
    * binary column; dims/fill are closed-form in doc_id so the decoded
    * metadata is oracle-checkable.
    */
  def q33Multimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageMeta(s, Tables.media(s, dir))
      .toDF()
      .select(col("media_id"), col("width"), col("height"), col("px_sum"))

  val q33Sql: String =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |CAST(16 + doc_id % 48 AS INT) AS width,
      |CAST(16 + doc_id % 24 AS INT) AS height,
      |CAST((16 + doc_id % 48) * (16 + doc_id % 24) * (doc_id % 256) * 3 AS BIGINT) AS px_sum
      |FROM documents""".stripMargin

  /** LSH ANN, ORACLE-GATED: closed-form fnv1a integer planes make the
    * signature, the Hamming ≤ 1 multiprobe set, and hence the exact scan
    * membership SQL-expressible; scoring is the exact scaled-integer dot.
    * This hash-gates the entire probe machinery over the bucket encoding
    * computed on the fly (q63 probes the same layout stored).
    */
  def q37AnnLshGate(s: SparkSession, dir: String): DataFrame =
    onTheFlyTopK(s, dir, Ann.lsh(nPlanes = 5))

  val q37Sql: String = {
    val dim = 64; val nPlanes = 5
    val planes = Ann.intPlanes(dim, nPlanes)
    def milli(ref: String, i: Int) =
      s"CAST(floor(CAST($ref.embedding[$i] AS DOUBLE)*1000) AS BIGINT)"
    val bits = (0 until nPlanes).map { p =>
      val terms = (1 to dim).map(i => s"${milli("e", i)}*(${planes(p)(i - 1)})").mkString(" + ")
      s"CASE WHEN ($terms) >= 0 THEN 1 ELSE 0 END AS b$p"
    }.mkString(",\n")
    val ham = (0 until nPlanes).map(p => s"CASE WHEN s.b$p = q.b$p THEN 0 ELSE 1 END").mkString(" + ")
    val dot = (1 to dim).map(i => s"${milli("s", i)}*${milli("q", i)}").mkString(" + ")
    s"""WITH s AS (SELECT e.vec_id, e.embedding,
       |$bits
       |FROM embeddings e),
       |q AS (SELECT * FROM s WHERE vec_id = 0)
       |SELECT s.vec_id, ($dot) AS scaled_dot
       |FROM s CROSS JOIN q
       |WHERE ($ham) <= 1
       |ORDER BY scaled_dot DESC, s.vec_id LIMIT 20""".stripMargin
  }

  /** Embedding near-dup over corpus ∪ deterministically perturbed copies:
    * copy of vec i gets id i+1e6 and each component scaled by (1 + u/2000),
    * u ∈ [-1,1] from fnv1a(id:i) — cosine(original, copy) ≥ 0.999999 while
    * no natural pair reaches 0.61 at any test SF (measured), so the expected
    * output is exactly the planted (i, i+1e6) pairs and the banded-LSH
    * recall of Dedup.nearDupPairs is oracle-checkable in plain SQL.
    */
  /** (corpus, planted near-dup copies) — shared by q38, q90, and the
    * incremental-union spec.
    */
  private[graft] def plantedEmb(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val planted = emb.as[(Long, Array[Float])].map { case (id, v) =>
      val w = new Array[Float](v.length)
      var i = 0
      while (i < v.length) {
        val u = (math.floorMod(Sketches.fnv1a(s"$id:$i"), 2001L) - 1000L) / 1000.0
        w(i) = (v(i) * (1.0 + u / 2000.0)).toFloat
        i += 1
      }
      (id + 1000000L, w)
    }.toDF("vec_id", "embedding")
    (emb, planted)
  }

  def q38EmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    val (emb, planted) = plantedEmb(s, dir)
    Dedup.nearDupPairs(s, emb.unionByName(planted), "vec_id", "embedding", minCosine = 0.95)
      .select(col("id1"), col("id2"))
  }

  val q38Sql: String =
    """SELECT CAST(vec_id AS BIGINT) AS id1, CAST(vec_id + 1000000 AS BIGINT) AS id2
      |FROM embeddings""".stripMargin

  /** Full KG pipeline output — the flagship, oracle-gated end-to-end. The
    * SQL states the page-local kernel relationally: the word-bounded
    * mention scan as a generate_series position probe, then a top-1 link
    * window, an adjacency lead window and the (subj,pred,obj,url) min-ts
    * dedup. Every url here is one document, so it equals the Spark plan's
    * per-page fold.
    */
  def q40Pipeline(s: SparkSession, dir: String): DataFrame =
    KgPipeline.run(s, dir, numPartitions = s.sparkContext.defaultParallelism)

  val q40Sql: String =
    s"""WITH docs AS (
       |  SELECT $urlSql AS url,
       |         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT)) AS ts,
       |         text
       |  FROM documents),
       |$aliasesCte,
       |surfaces AS (SELECT DISTINCT surface FROM aliases),
       |mentions AS (
       |  SELECT d.url, d.ts, s.surface, g.i - 1 AS begin
       |  FROM docs d CROSS JOIN surfaces s,
       |       LATERAL (SELECT unnest(generate_series(1, length(d.text) - length(s.surface) + 1)) AS i) g
       |  WHERE substr(d.text, g.i, length(s.surface)) = s.surface
       |    AND (g.i = 1 OR NOT regexp_matches(substr(d.text, g.i - 1, 1), '[A-Za-z0-9]'))
       |    AND (g.i + length(s.surface) - 1 = length(d.text)
       |         OR NOT regexp_matches(substr(d.text, g.i + length(s.surface), 1), '[A-Za-z0-9]'))),
       |linked AS (
       |  SELECT url, ts, surface, begin, qid FROM (
       |    SELECT m.url, m.ts, m.surface, m.begin, a.qid,
       |           row_number() OVER (PARTITION BY m.url, m.surface, m.begin
       |                              ORDER BY a.prior DESC, a.qid) AS rn
       |    FROM mentions m JOIN aliases a USING (surface)) WHERE rn = 1),
       |seq AS (
       |  SELECT url, ts, begin, surface, qid,
       |         lead(qid) OVER w AS next_qid,
       |         lead(begin) OVER w AS next_begin
       |  FROM linked WINDOW w AS (PARTITION BY url ORDER BY begin, surface)),
       |tr AS (
       |  SELECT 'data:' || url AS subj, 'schema:about' AS pred, 'wd:' || qid AS obj, url, ts FROM seq
       |  UNION ALL
       |  SELECT 'wd:' || qid, 'wdt:${Dict.properties("followed_by")}', 'wd:' || next_qid, url, ts FROM seq
       |  WHERE next_qid IS NOT NULL AND next_begin - begin <= 30 AND qid <> next_qid)
       |SELECT subj, pred, obj, url, min(ts) AS ts FROM tr GROUP BY subj, pred, obj, url""".stripMargin

  /** E2: the composed MediaWiki diff-table → RDF walk (DiffTableRdf /
    * DiffHtml.convertToRdf) over generated reference-shaped diff documents —
    * 5 blocks per change (schema label edit ×2, qualifier add through the
    * nested-span path with a wb-details strip, rank removal, whole-claim add
    * through handle_claim_updates with minted ?statement substitution), each
    * a closed-form string of (user_id, event_id) so the oracle reproduces
    * the full byte-exact RDF in SQL.
    */
  def q44DiffHtml(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // events is a single small parquet file (one input split) while the walk
    // is ~130 µs/doc of CPU — explicitly re-balance so parallelism follows
    // cores, not file layout (the north-rule pre-partition, as in
    // Tables.pagesPartitioned; measured 11 s → ~1.5 s at sf0.1 local[32])
    val changes = t(s, dir, "events")
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        concat(lit("Q"), col("user_id")).as("entity"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("event_id").cast("long").as("revid"),
        (col("event_id") - 1).cast("long").as("old_revid"),
        col("user_id").cast("long").as("uid"),
        col("event_id").cast("long").as("eid")
      )
      .as[(String, String, Long, Long, Long, Long)]
      .mapPartitions(_.map { case (e, ts, r, o, u, ev) =>
        (e, ts, r, o, graft.text.DiffHtmlGen.generate(u, ev))
      })
      .toDF("entity", "ts", "revid", "old_revid", "diff_html")
    DiffTableRdf.convert(s, changes)
  }

  val q44Sql: String = {
    val sid = """'s:Q' || user_id || '-' || md5('Q' || user_id || '|P31|"human ' || event_id || '"')"""
    """WITH base AS (
      |  SELECT 'Q' || user_id AS entity, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
      |         user_id, event_id, SID AS sid
      |  FROM events)
      |SELECT entity, 'DELETE' AS op,
      |  'DELETE DATA {' || chr(10) || '  wd:Q' || user_id || ' schema:label "old label ' || event_id || '"@en .' || chr(10) || '};' AS rdf,
      |  ts FROM base
      |UNION ALL
      |SELECT entity, 'INSERT',
      |  'INSERT DATA {' || chr(10) || '  wd:Q' || user_id || ' schema:label "new label ' || event_id || '"@en .' || chr(10) || '};',
      |  ts FROM base
      |UNION ALL
      |SELECT entity, 'INSERT',
      |  'INSERT DATA {' || chr(10) || '  ?statement pq:P585 "time ' || event_id || '" .' || chr(10) || chr(10) || '};',
      |  ts FROM base
      |UNION ALL
      |SELECT entity, 'DELETE',
      |  'DELETE DATA{' || chr(10) || '  ?statement wikibase:rank wikibase:NormalRank .' || chr(10) || '};',
      |  ts FROM base
      |UNION ALL
      |SELECT entity, 'INSERT',
      |  'INSERT DATA {' || chr(10) ||
      |  '  ' || sid || ' a wikibase:Statement .' || chr(10) ||
      |  '  ' || sid || ' a wikibase:BestRank .' || chr(10) ||
      |  '  wd:Q' || user_id || ' p:P31 ' || sid || ' .' || chr(10) ||
      |  '  ' || sid || ' psn:P31 <http://www.wikidata.org/wiki/Q5> .' || chr(10) ||
      |  '  wd:Q' || user_id || ' wdtn:P31 <http://www.wikidata.org/wiki/Q5> .' || chr(10) ||
      |  '  wd:Q' || user_id || ' wdt:P31 "human ' || event_id || '" .' || chr(10) ||
      |  '  ' || sid || ' ps:P31 "human ' || event_id || '" .' || chr(10) || '};',
      |  ts FROM base""".stripMargin.replace("SID", sid)
  }

  /** E2+J4+S3 composed: the time-resolved diff walk in `--specific` mode —
    * the diff's time-rendered object resolves its exact datavalue from the
    * per-change entity JSON column (getDatetimeObject), renders as
    * `"…"^^xsd:dateTime`, mints the v:-node, and emits the TimeValue block;
    * every hash in the output is an md5 chain the oracle reproduces in SQL.
    */
  def q46DiffTime(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val changes = t(s, dir, "events")
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        concat(lit("Q"), col("user_id")).as("entity"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("event_id").cast("long").as("revid"),
        (col("event_id") - 1).cast("long").as("old_revid"),
        col("event_id").cast("long").as("eid")
      )
      .as[(String, String, Long, Long, Long)]
      .mapPartitions(_.map { case (e, ts, r, o, ev) =>
        val time = s"+2024-01-01T00:00:0${ev % 10}Z"
        (e, ts, r, o,
          graft.text.DiffHtmlGen.generateReferenceTime(ev),
          graft.text.DiffHtmlGen.entityJsonWithRefTime(e, time))
      })
      .toDF("entity", "ts", "revid", "old_revid", "diff_html", "entity_json")
    DiffTableRdf.convertResolved(s, changes, specific = true)
  }

  val q46Sql: String =
    """WITH base AS (
      |  SELECT 'Q' || user_id AS entity, strftime(ts, '%Y-%m-%d %H:%M:%S') AS tss,
      |         md5('Q' || user_id || '|' || event_id || '|P39') AS h,
      |         '+2024-01-01T00:00:0' || (event_id % 10) || 'Z' AS t,
      |         event_id AS e
      |  FROM events),
      |b2 AS (SELECT *, md5(entity || '|' || e || '|' || h || '|P39') AS tn FROM base)
      |SELECT 'v:' || tn AS entity, 'INSERT' AS op,
      |  'INSERT DATA {' || chr(10) ||
      |  '  v:' || tn || ' a wikibase:TimeValue .' || chr(10) ||
      |  '  v:' || tn || ' wikibase:timeValue ''' || t || '''^^xsd:dateTime .' || chr(10) ||
      |  '  v:' || tn || ' wikibase:timePrecision ''11''^^xsd:integer .' || chr(10) ||
      |  '  v:' || tn || ' wikibase:timeTimezone ''0''^^xsd:integer .' || chr(10) ||
      |  '  v:' || tn || ' wikibase:timeCalendarModel ''http://www.wikidata.org/entity/Q1985727'' .' || chr(10) ||
      |  '};' || chr(10) AS rdf,
      |  tss AS ts FROM b2
      |UNION ALL
      |SELECT entity, 'INSERT',
      |  'INSERT DATA {' || chr(10) ||
      |  '  ?statement prov:wasDerivedFrom ref:' || h || ' .' || chr(10) ||
      |  '  ref:' || h || ' a wikibase:Reference .' || chr(10) ||
      |  '  ref:' || h || ' pr:P813 "' || t || '"^^xsd:dateTime .' || chr(10) ||
      |  '  ref:' || h || ' prv:P813 v:' || tn || ' .' || chr(10) || chr(10) || '};',
      |  tss FROM b2""".stripMargin

  /** J4: v:-time-node resolution — the get_time_node STRSTARTS(prv:) lookup
    * as a broadcast join against a reference-node triple dim (TimeNodes),
    * with a noise pr: row per node that the prefix filter must reject.
    */
  def q45TimeNode(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val refId = md5(concat(
      lit("Q"), col("user_id").cast("string"), lit("|"),
      col("event_id").cast("string"), lit("|P585")))
    val changes = events
      .filter(col("event_type") === "click")
      .select(concat(lit("Q"), col("user_id")).as("entity"), refId.as("ref_id"))
    val dim = events
      .select(
        refId.as("ref_id"),
        lit(TimeNodes.PrvUri + "P585").as("predicate"),
        concat(lit("http://www.wikidata.org/value/"),
          md5(concat(col("event_id").cast("string"), lit("v")))).as("value"))
      .unionByName(events.select(
        refId.as("ref_id"),
        lit("http://www.wikidata.org/prop/reference/P585").as("predicate"),
        lit("noise").as("value")))
    TimeNodes.resolve(changes, dim)
      .select(col("entity"), col("ref_id"), col("time_node"))
  }

  val q45Sql: String =
    """WITH dim AS (
      |  SELECT md5('Q' || user_id || '|' || event_id || '|P585') AS ref_id,
      |         'http://www.wikidata.org/prop/reference/value/P585' AS predicate,
      |         'http://www.wikidata.org/value/' || md5(event_id || 'v') AS value
      |  FROM events
      |  UNION ALL
      |  SELECT md5('Q' || user_id || '|' || event_id || '|P585'),
      |         'http://www.wikidata.org/prop/reference/P585', 'noise'
      |  FROM events),
      |prv AS (
      |  SELECT ref_id, 'v:' || string_split(value, '/')[-1] AS time_node
      |  FROM dim WHERE starts_with(predicate, 'http://www.wikidata.org/prop/reference/value/'))
      |SELECT 'Q' || e.user_id AS entity,
      |       md5('Q' || e.user_id || '|' || e.event_id || '|P585') AS ref_id,
      |       p.time_node
      |FROM events e
      |LEFT JOIN prv p ON p.ref_id = md5('Q' || e.user_id || '|' || e.event_id || '|P585')
      |WHERE e.event_type = 'click'""".stripMargin

  /** Near-dup cluster resolution (connected components + survivor): planted
    * duplicate CHAINS over doc ids — doc d duplicates doc d−1 except at
    * 8-boundaries — so components are the runs [8k, 8k+7], cluster id = 8k,
    * survivor = the run head: all closed-form in doc_id for the oracle. At
    * oracle scale the edge set is far under `Dedup.LocalFinishRows`, so the
    * labels come from the union-find finisher with no star round; the star
    * loop is gated by the limit-0 OperatorsSpec cases.
    */
  def q49Components(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val edges = docs
      .filter(col("doc_id") % 8 =!= 0)
      .select((col("doc_id") - 1).cast("long").as("id1"), col("doc_id").cast("long").as("id2"))
    Dedup.clusters(docs, "doc_id", edges)
  }

  val q49Sql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |CAST(doc_id - doc_id % 8 AS BIGINT) AS cluster_id,
      |doc_id % 8 = 0 AS is_survivor
      |FROM documents""".stripMargin

  /** J-graft gate: the salted replicate-dim join must produce exactly the
    * plain join's rows; filtered to the top-1 QID, they are q19's rows, so
    * the oracle is q19's SQL with the salt folded out by construction. The
    * filter keeps every joined row of the winning QID, so a salted join that
    * duplicated rows would change the hash.
    */
  def q50SaltedLink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val present = Mentions.present(s, Tables.pages(s, dir), Dict.surfaces)
    Linking.saltedJoin(present, Dict.aliases.toDF(), salt = 8)
      .filter(col("qid") === Linking.top1(col("surface")))
      .select(col("url"), col("surface"), col("qid"))
  }

  def q50Sql: String = q19Sql

  /** Batched multi-query ANN: M query vectors scored against the corpus in
    * ONE pass with NO M× intermediate — scoring happens inside the typed
    * aggregator's combine (Ann.MultiQueryTopK), so the aggregation input is
    * the corpus itself and only per-partition M×k buffers cross the single
    * shuffle. PlanSpec asserts one shuffle and no row-amplifying operator
    * below the partial aggregate.
    */
  def q51AnnMulti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1) // bounded: 8 query vectors
    Ann.multiQueryTopK(s, Ann.flat, emb, "vec_id", "embedding", queries, k = 20)
  }

  val q51Sql: String = {
    val dot = (1 to 64).map(i =>
      s"CAST(floor(CAST(e.embedding[$i] AS DOUBLE)*1000) AS BIGINT)*" +
        s"CAST(floor(CAST(q.embedding[$i] AS DOUBLE)*1000) AS BIGINT)").mkString(" + ")
    s"""WITH q AS (SELECT CAST(vec_id AS BIGINT) AS query_id, embedding FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT q.query_id, CAST(e.vec_id AS BIGINT) AS vec_id, ($dot) AS scaled_dot
       |  FROM embeddings e CROSS JOIN q)
       |SELECT query_id, vec_id, scaled_dot, rank FROM (
       |  SELECT query_id, vec_id, scaled_dot,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY scaled_dot DESC, vec_id) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= 20""".stripMargin
  }

  /** TF-IDF context scoring gate: the two-pass corpus-statistic shape (df
    * aggregation + broadcast join back), scores floored to micro-units so
    * the hash compare survives float formatting.
    */
  def q52Tfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val present = Mentions.present(s, Tables.pages(s, dir), Dict.surfaces)
    val cands = present.join(broadcast(Dict.aliases.toDF()), Seq("surface"))
      .select(col("url"), col("surface"), col("qid"), col("prior").as("score"))
    val totalDocs = t(s, dir, "documents").count()
    Linking.tfidfScored(cands, totalDocs)
      .select(col("url"), col("surface"), col("qid"),
        floor(col("score") * 1000000).cast("bigint").as("tfidf_micro"))
  }

  def q52Sql: String =
    s"""WITH $docsCte, $aliasesCte,
       |present AS (
       |  SELECT DISTINCT d.url, a.surface FROM docs d JOIN aliases a
       |  ON length(d.text) - length(replace(d.text, a.surface, '')) > 0),
       |cands AS (SELECT p.url, p.surface, a.qid, a.prior
       |          FROM present p JOIN aliases a ON p.surface = a.surface),
       |df AS (SELECT surface, count(DISTINCT url) AS doc_freq FROM cands GROUP BY surface),
       |n AS (SELECT count(*) AS total FROM documents)
       |SELECT c.url, c.surface, c.qid,
       |  CAST(floor(c.prior * ln((CAST(n.total AS DOUBLE) + 1) / (df.doc_freq + 1)) * 1000000) AS BIGINT)
       |    AS tfidf_micro
       |FROM cands c JOIN df ON c.surface = df.surface CROSS JOIN n""".stripMargin

  /** PII redaction over documents with closed-form planted PII (an email
    * and a phone number derived from doc_id appended to every doc), so the
    * oracle reproduces both the injection and the scrub — pure
    * regexp_replace chain on both engines, no UDF.
    */
  def q57PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-1234")
      ).as("text"))
    docs.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("clean"))
  }

  val q57Sql: String =
    s"""SELECT doc_id,
       |regexp_replace(
       |  regexp_replace(
       |    text || ' contact user' || doc_id || '@example.com or 555-' ||
       |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234',
       |    '${TextAnalysis.emailPattern}', '[EMAIL]', 'g'),
       |  '${TextAnalysis.phonePattern}', '[PHONE]', 'g') AS clean
       |FROM documents""".stripMargin

  /** int8-quantized ANN over the STORED 64 B binary column (the 4×-less-IO
    * claim made physical: OperatorsSpec asserts the on-disk ratio vs the
    * float table): quantization clamp(floor(v·127)) happens once at write;
    * the query-time scan reads qvec only and scores with the exact integer
    * dot, which the oracle reproduces term-for-term from the float source.
    */
  def q60AnnInt8(s: SparkSession, dir: String): DataFrame =
    storedTopK(s, dir, Ann.int8, "int8_q127")

  val q60Sql: String = {
    def q8(ref: String, i: Int) =
      s"greatest(-127, least(127, CAST(floor(CAST($ref.embedding[$i] AS DOUBLE)*127) AS BIGINT)))"
    val dot = (1 to 64).map(i => s"${q8("e", i)}*${q8("q", i)}").mkString(" + ")
    s"""SELECT e.vec_id, ($dot) AS int8_dot
       |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |ORDER BY int8_dot DESC, e.vec_id LIMIT 20""".stripMargin
  }

  /** URL canonicalization over closed-form messy URLs (mixed-case scheme
    * and host, default and non-default ports, tracking params, fragments,
    * missing paths) — every branch of the canonicalizer exercised and the
    * oracle applies the identical regex + list expressions in DuckDB.
    */
  def q59UrlCanon(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events").select(
      col("event_id"),
      when(col("event_id") % 4 === 0,
        concat(lit("HTTP://WWW.Example.com:80/a"), col("event_id")))
        .when(col("event_id") % 4 === 1,
          concat(lit("https://Example.COM:443/p?utm_source=x&b="), col("user_id"), lit("&a=1#f")))
        .when(col("event_id") % 4 === 2,
          concat(lit("https://site.org:8443/x?gclid=abc&z="), col("user_id")))
        .otherwise(concat(lit("http://example"), col("user_id"), lit(".com#frag")))
        .as("url"))
    raw.select(col("event_id"), TextAnalysis.canonicalizeUrl(col("url")).as("canon_url"))
  }

  val q59Sql: String =
    """WITH u AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 4 = 0 THEN 'HTTP://WWW.Example.com:80/a' || event_id
      |         WHEN event_id % 4 = 1 THEN 'https://Example.COM:443/p?utm_source=x&b=' || user_id || '&a=1#f'
      |         WHEN event_id % 4 = 2 THEN 'https://site.org:8443/x?gclid=abc&z=' || user_id
      |         ELSE 'http://example' || user_id || '.com#frag' END AS url
      |  FROM events),
      |c AS (SELECT event_id, regexp_replace(url, '#.*$', '') AS nf FROM u),
      |parts AS (
      |  SELECT event_id,
      |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
      |    coalesce(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '') AS rawpath,
      |    coalesce(regexp_extract(nf, '\?(.*)$', 1), '') AS q
      |  FROM c),
      |qsorted AS (
      |  SELECT *, coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
      |           p -> NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|fbclid|gclid)=') AND p <> '')), '&'), '') AS qs
      |  FROM parts)
      |SELECT event_id,
      |  scheme || '://' ||
      |  CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |       WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |       ELSE hostport END ||
      |  CASE WHEN rawpath = '' THEN '/' ELSE rawpath END ||
      |  CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url
      |FROM qsorted""".stripMargin

  /** The dedup pipeline composed END-TO-END on the real near-dup corpus:
    * minhash-LSH candidates (generous threshold) → EXACT n-gram Jaccard
    * verification at 0.6 → connected components → min-id survivor per
    * cluster for EVERY doc. The verify step applies the oracle's own
    * predicate (exact 5-gram Jaccard ≥ 0.6) to the candidate pairs, so the
    * engine and oracle pair sets agree BY CONSTRUCTION for every candidate —
    * the gate tests the components operator, not a threshold coincidence;
    * the only remaining degree of freedom is LSH recall, which q26 pins on
    * this corpus. The corpus's planted groups include chains (a doc near-dup
    * to two others), so the oracle computes true connected components via a
    * recursive min-label walk.
    */
  def q58DedupE2E(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
    val sigs = Dedup.minHashSignatures(s, docs, "doc_id", "text")
    val cands = Dedup.minHashCandidates(s, sigs, bands = 16, minEstJaccard = 0.5)
    val pairs = Dedup
      .verifyJaccard(s, docs, "doc_id", "text", cands, shingleN = 5, minJaccard = 0.6)
      .select(col("id1"), col("id2"))
    Dedup.clusters(t(s, dir, "documents"), "doc_id", pairs)
  }

  def q58Sql: String =
    s"""WITH RECURSIVE norm AS (
       |  SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |         CASE WHEN length(t) < 5 THEN t ELSE substr(t, g.i, 5) END AS s
       |  FROM norm, LATERAL (SELECT unnest(generate_series(1, greatest(length(t) - 4, 1))) AS i) g
       |  WHERE t <> ''),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id1, id2 FROM inter
       |  JOIN sizes s1 ON s1.doc_id = inter.id1
       |  JOIN sizes s2 ON s2.doc_id = inter.id2
       |  WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.6),
       |e AS (SELECT id1 AS u, id2 AS v FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
       |walk(id, lab) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM e) t
       |  UNION
       |  SELECT e.u, w.lab FROM e JOIN walk w ON w.id = e.v),
       |comp AS (SELECT id, min(lab) AS component FROM walk GROUP BY id)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       |       CAST(coalesce(c.component, d.doc_id) AS BIGINT) AS cluster_id,
       |       coalesce(c.component, d.doc_id) = d.doc_id AS is_survivor
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin

  /** Graph-materialize node table over the flagship pipeline's triples —
    * the north-star "partitioned nodes/edges tables" step's node side,
    * oracle-gated by wrapping the full q40 SQL as a subquery.
    */
  def q55Nodes(s: SparkSession, dir: String): DataFrame =
    KgPipeline.nodeTable(KgPipeline.run(s, dir, numPartitions = s.sparkContext.defaultParallelism))

  def q55Sql: String =
    s"""WITH final AS (SELECT * FROM (
       |$q40Sql
       |) q),
       |outd AS (SELECT subj AS node, count(*) AS out_degree, count(DISTINCT url) AS n_urls
       |         FROM final GROUP BY subj),
       |ind AS (SELECT obj AS node, count(*) AS in_degree FROM final GROUP BY obj)
       |SELECT coalesce(o.node, i.node) AS node,
       |       CAST(coalesce(o.out_degree, 0) AS BIGINT) AS out_degree,
       |       CAST(coalesce(i.in_degree, 0) AS BIGINT) AS in_degree,
       |       CAST(coalesce(o.n_urls, 0) AS BIGINT) AS n_urls
       |FROM outd o FULL OUTER JOIN ind i ON o.node = i.node""".stripMargin

  /** North-star "context-embedding candidate ranking" (the other half of
    * the TF-IDF/embedding link-scoring pair): re-rank link candidates by
    * the scaled-integer dot of (doc context vector, entity vector). Doc
    * vectors join by doc key (a co-partitionable big-big join at scale);
    * entity vectors ride a broadcast (the entity dict is small). Scoring
    * composes the native codegen `scaled_dot_fast`; top-1 per (url, surface)
    * with a qid tiebreak. Entity→vector assignment is the deterministic
    * qid-number mod |corpus| so the oracle reproduces it.
    */
  def q56EmbedLink(s: SparkSession, dir: String): DataFrame = {
    graft.plans.NativeKernels.ensure(s)
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val n = emb.count()
    val present = Mentions.present(s, Tables.pages(s, dir), Dict.surfaces)
    import s.implicits._
    val cands = present.join(broadcast(Dict.aliases.toDF()), Seq("surface"))
      .withColumn("doc_id",
        expr("cast(regexp_extract(url, 'doc([0-9]+)$', 1) as bigint)"))
      .withColumn("ent_vid", expr(s"cast(substr(qid, 2) as bigint) % $n"))
    val docVec = emb.select(col("vec_id").as("doc_id"), col("embedding").as("dvec"))
    // the broadcast side must be the ENTITY vectors only, never the corpus:
    // the entity dict is driver-local, so its vector ids (qid-number mod n)
    // are computable up front and ride the scan as a pushed-down IN filter —
    // the broadcast is then |dict| rows (~20) instead of corpus-sized, which
    // at 100× scale is the difference between a dim broadcast and an OOM
    val entIds = Dict.aliases.map(a => a.qid.substring(1).toLong % n).distinct
    val entVec = emb
      .filter(col("vec_id").isin(entIds: _*))
      .select(col("vec_id").as("ent_vid"), col("embedding").as("evec"))
    val scored = cands
      .join(docVec, Seq("doc_id"))
      .join(broadcast(entVec), Seq("ent_vid"))
      .withColumn("escore", expr("scaled_dot_fast(dvec, evec)"))
    val w = Window.partitionBy(col("url"), col("surface"))
      .orderBy(col("escore").desc, col("qid").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("url"), col("surface"), col("qid"), col("escore"))
  }

  def q56Sql: String = {
    val dot = (1 to 64).map(i =>
      s"CAST(floor(CAST(dv.embedding[$i] AS DOUBLE)*1000) AS BIGINT)*" +
        s"CAST(floor(CAST(ev.embedding[$i] AS DOUBLE)*1000) AS BIGINT)").mkString(" + ")
    s"""WITH $docsCte, $aliasesCte,
       |n AS (SELECT count(*) AS cnt FROM embeddings),
       |present AS (
       |  SELECT DISTINCT d.url, a.surface FROM docs d JOIN aliases a
       |  ON length(d.text) - length(replace(d.text, a.surface, '')) > 0),
       |cands AS (
       |  SELECT p.url, p.surface, a.qid,
       |         CAST(regexp_extract(p.url, 'doc([0-9]+)$$', 1) AS BIGINT) AS doc_id,
       |         CAST(substr(a.qid, 2) AS BIGINT) % n.cnt AS ent_vid
       |  FROM present p JOIN aliases a ON p.surface = a.surface CROSS JOIN n),
       |scored AS (
       |  SELECT c.url, c.surface, c.qid, ($dot) AS escore
       |  FROM cands c
       |  JOIN embeddings dv ON dv.vec_id = c.doc_id
       |  JOIN embeddings ev ON ev.vec_id = c.ent_vid)
       |SELECT url, surface, qid, escore FROM (
       |  SELECT url, surface, qid, escore,
       |         row_number() OVER (PARTITION BY url, surface
       |                            ORDER BY escore DESC, qid) AS rn
       |  FROM scored) WHERE rn = 1""".stripMargin
  }

  // ------------------------------------------- derived physical layouts
  //
  // The ANN layout queries (q60/q61/q62) read a MATERIALIZED form of the
  // embeddings table (cell-partitioned / int8-quantized / PQ codes) — the
  // write-once-query-many shape a 100 TB vector corpus actually ships. The
  // layouts are deterministic functions of the source table, built on first
  // use in this JVM's layout root (repo and testdata are read-only contracts
  // within one process) and removed with it at exit, so a layout is only
  // ever served to the code that built it.

  /** This JVM's layout root: a fresh directory under `java.io.tmpdir`,
    * created on first use and marked delete-on-exit on its Hadoop
    * `FileSystem` (removed when the FileSystem cache closes at JVM exit).
    */
  private lazy val layoutRoot: String = {
    val root = new Path(sys.props("java.io.tmpdir"), s"graft_layouts_${java.util.UUID.randomUUID}")
    val fs = Manifest.fs(SparkSession.active, root)
    require(fs.mkdirs(root) && fs.deleteOnExit(root), s"cannot create layout root $root")
    root.toString
  }

  /** `kind` must encode every layout PARAMETER (cell/plane/codebook counts)
    * — e.g. "ivfcells_c16" — so a parameter change misses the cache instead
    * of probing a layout partitioned under different constants.
    */
  private[graft] def layoutPath(kind: String, dir: String, srcTable: String = "embeddings"): String =
    s"$layoutRoot/${kind}_${java.lang.Long.toHexString(Sketches.fnv1a(dir + "|" + srcTable))}"

  /** Layout paths built in this JVM. A build that throws adds no entry, so
    * the next call redoes it from scratch (every build's first step
    * overwrites its target): a half-built layout is never served.
    */
  private val builtLayouts = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def ensureLayout(path: String)(build: => Unit): String = {
    if (!builtLayouts.contains(path)) { build; builtLayouts.add(path) }
    path
  }

  // Every stored ANN layout is built INCREMENTALLY — a base write of the
  // even-id half, then an APPEND of the odd half — so every oracle run of
  // q60–q64/q73 gates the append lifecycle itself: they pass only if the
  // merged layout is indistinguishable from a one-shot build.

  /** `layout` split-built once under `kind`, read back through its `_meta`
    * guard.
    */
  private def splitBuilt(s: SparkSession, dir: String, layout: Ann.VectorLayout, kind: String): DataFrame = {
    val p = layoutPath(kind, dir)
    ensureLayout(p) {
      val emb = t(s, dir, "embeddings")
      Ann.writeLayout(s, layout, emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", p)
      Ann.appendLayout(s, layout, emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", p)
    }
    Ann.stored(s, layout, p)
  }

  private def query0(s: SparkSession, dir: String): Array[Float] = {
    import s.implicits._
    t(s, dir, "embeddings").filter(col("vec_id") === 0).select(col("embedding")).as[Array[Float]].head()
  }

  /** Top-20 for vector 0 over the stored, split-built `layout`. */
  private def storedTopK(s: SparkSession, dir: String, layout: Ann.VectorLayout, kind: String): DataFrame =
    Ann.topK(s, layout, splitBuilt(s, dir, layout, kind), "vec_id", "embedding", query0(s, dir), k = 20)

  /** Top-20 for vector 0 over `layout` encoded on the fly from the float
    * corpus: the same probe set and scores as the stored layout, without
    * its IO pruning.
    */
  private def onTheFlyTopK(s: SparkSession, dir: String, layout: Ann.VectorLayout): DataFrame = {
    val q = query0(s, dir)
    val emb = Ann.encoded(s, layout, t(s, dir, "embeddings"), "vec_id", "embedding", q.length)
    Ann.topK(s, layout, emb, "vec_id", "embedding", q, k = 20)
  }

  /** IVF over the cell-PARTITIONED layout: same probe set and scores as q47
    * (the oracle is q47's SQL verbatim), but the probe prunes partition
    * directories at the scan — nProbe/nCells of the corpus is READ, not just
    * scored. Partition pruning is PlanSpec-asserted.
    */
  def q61AnnIvfPart(s: SparkSession, dir: String): DataFrame =
    storedTopK(s, dir, Ann.ivf(nCells = 16, nProbe = 4), "ivfcells_c16")

  def q61Sql: String = q47Sql

  /** LSH over the bucket-PARTITIONED layout: the q61 pattern applied to the
    * hyperplane family — same probe set and scores as q37 (oracle is q37's
    * SQL verbatim), with the Hamming≤1 multiprobe set pruning partition
    * directories: 6 of 32 buckets read.
    */
  def q63AnnLshPart(s: SparkSession, dir: String): DataFrame =
    storedTopK(s, dir, Ann.lsh(nPlanes = 5), "lshbuckets_p5")

  def q63Sql: String = q37Sql

  /** Batched IVF over the partitioned layout — q51 × q61 composed: one
    * partition-pruned corpus pass (partition filter = union of the 8
    * queries' probe sets) serves the whole batch; each query scores only
    * vectors assigned to ITS probed cells (checked per row inside the
    * aggregator combine), so every per-query result equals an independent
    * single-query q61 probe — which is what the oracle computes.
    */
  def q64AnnMultiIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val queries = t(s, dir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val ivf = Ann.ivf(nCells = 16, nProbe = 4)
    Ann.multiQueryTopK(s, ivf, splitBuilt(s, dir, ivf, "ivfcells_c16"), "vec_id", "embedding", queries, k = 20)
  }

  def q64Sql: String = {
    val dim = 64; val nCells = 16; val nProbe = 4
    val cents = Ann.intCentroids(dim, nCells)
    val cellRows = cents.zipWithIndex.map { case (xs, c) =>
      val sx2 = xs.map(x => x * x).sum
      s"($c, $sx2, ${xs.mkString(", ")})"
    }.mkString(",\n")
    val xcols = (1 to dim).map(i => s"x$i").mkString(", ")
    def milli(ref: String, i: Int) =
      s"CAST(floor(CAST($ref.embedding[$i] AS DOUBLE)*1000) AS BIGINT)"
    val cellDot = (1 to dim).map(i => s"${milli("e", i)}*x$i").mkString(" + ")
    val qdot = (1 to dim).map(i => s"${milli("e", i)}*${milli("q", i)}").mkString(" + ")
    s"""WITH cells(c, sx2, $xcols) AS (VALUES
       |$cellRows),
       |scored AS (
       |  SELECT e.vec_id, cells.c, cells.sx2 - 2*($cellDot) AS score
       |  FROM embeddings e CROSS JOIN cells),
       |assigned AS (
       |  SELECT vec_id, c FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY score, c) AS rn
       |    FROM scored) WHERE rn = 1),
       |qcells AS (
       |  SELECT query_id, c FROM (
       |    SELECT vec_id AS query_id, c,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY score, c) AS rn
       |    FROM scored WHERE vec_id < 8) WHERE rn <= $nProbe),
       |cand AS (
       |  SELECT qc.query_id, a.vec_id FROM qcells qc JOIN assigned a ON a.c = qc.c),
       |dots AS (
       |  SELECT cd.query_id, CAST(cd.vec_id AS BIGINT) AS vec_id, ($qdot) AS scaled_dot
       |  FROM cand cd
       |  JOIN embeddings e ON e.vec_id = cd.vec_id
       |  JOIN embeddings q ON q.vec_id = cd.query_id)
       |SELECT query_id, vec_id, scaled_dot, rank FROM (
       |  SELECT query_id, vec_id, scaled_dot,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |              ORDER BY scaled_dot DESC, vec_id) AS BIGINT) AS rank
       |  FROM dots) WHERE rank <= 20""".stripMargin
  }

  /** Product-quantization ANN over STORED codes: 8 subspaces × 16 closed-form
    * fnv1a codewords; assignment at write time (8 B/vector stored), query
    * scoring = ADC table lookups. The oracle reproduces assignment + ADC
    * term-for-term from the float source, so the whole PQ machinery is
    * hash-gated; retrieval quality vs brute force is spec-gated
    * (OperatorsSpec).
    */
  def q62AnnPq(s: SparkSession, dir: String): DataFrame =
    storedTopK(s, dir, Ann.pq(m = 8, kw = 16), "pqcodes_m8k16")

  def q62Sql: String = {
    val dim = 64; val m = 8; val kw = 16; val subDim = dim / m
    val books = Ann.pqCodebooks(dim, m, kw)
    val rows = (for { s <- 0 until m; c <- 0 until kw } yield {
      val xs = books(s)(c)
      val sx2 = xs.map(x => x * x).sum
      s"($s, $c, $sx2, ${xs.mkString(", ")})"
    }).mkString(",\n")
    val xcols = (1 to subDim).map(j => s"x$j").mkString(", ")
    def milli(ref: String, idx: String) =
      s"CAST(floor(CAST($ref.embedding[$idx] AS DOUBLE)*1000) AS BIGINT)"
    val subDot = (1 to subDim).map(j => s"${milli("e", s"cb.s*$subDim+$j")}*x$j").mkString(" + ")
    val qDot = (1 to subDim).map(j => s"${milli("q", s"cb.s*$subDim+$j")}*x$j").mkString(" + ")
    s"""WITH cb(s, c, sx2, $xcols) AS (VALUES
       |$rows),
       |assigned AS (
       |  SELECT vec_id, s, c FROM (
       |    SELECT e.vec_id, cb.s, cb.c,
       |           row_number() OVER (PARTITION BY e.vec_id, cb.s
       |                              ORDER BY cb.sx2 - 2*($subDot), cb.c) AS rn
       |    FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
       |qtab AS (
       |  SELECT cb.s, cb.c, ($qDot) AS qdot
       |  FROM cb CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
       |SELECT a.vec_id, CAST(sum(qt.qdot) AS BIGINT) AS pq_dot
       |FROM assigned a JOIN qtab qt ON a.s = qt.s AND a.c = qt.c
       |GROUP BY a.vec_id
       |ORDER BY pq_dot DESC, a.vec_id LIMIT 20""".stripMargin
  }

  /** Benchmark decontamination (the 8-gram-overlap rule): docs with
    * doc_id % 100 == 0 stand in for the eval set; every train doc is
    * flagged when it shares any 8-word gram with any eval doc. The eval
    * gram set rides a broadcast; the corpus pass is a narrow map (zero
    * shuffles). Because the natural corpus shares no cross-doc 8-gram
    * (measured: zero hits), a closed-form canary phrase is planted — eval
    * docs carry canary number (doc_id/100)%5, and train docs with
    * doc_id%10==3 carry canary doc_id%5 — so the operator must DISCOVER the
    * overlap (contaminated ⟺ doc_id%10==3 here) and both classes exist.
    * The oracle reproduces the planting, tokenization (regex split), gram
    * construction (list slice), and the overlap join in SQL.
    */
  /** The canaried corpus — the shared q65/q67 decontamination fixture. */
  private def canariedDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 10 === 3,
        concat(col("text"), lit(" decontamination canary phrase number "),
          col("doc_id") % 5, lit(" alpha beta gamma delta")))
        .when(col("doc_id") % 100 === 0,
          concat(col("text"), lit(" decontamination canary phrase number "),
            col("doc_id").divide(lit(100)).cast("bigint") % 5, lit(" alpha beta gamma delta")))
        .otherwise(col("text")).as("text"))

  def q65Decontaminate(s: SparkSession, dir: String): DataFrame =
    Dedup.decontaminate(canariedDocs(s, dir), "doc_id", "text", col("doc_id") % 100 === 0, n = 8)

  def q65Sql: String =
    s"""WITH dd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 3
       |           THEN text || ' decontamination canary phrase number ' || (doc_id % 5) || ' alpha beta gamma delta'
       |         WHEN doc_id % 100 = 0
       |           THEN text || ' decontamination canary phrase number ' || ((doc_id // 100) % 5) || ' alpha beta gamma delta'
       |         ELSE text END AS text
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), p -> p <> '') AS ws
       |  FROM dd),
       |g AS (
       |  SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
       |  FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS i) t),
       |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
       |hit AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram) WHERE g.doc_id % 100 <> 0)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id, (h.doc_id IS NOT NULL) AS contaminated
       |FROM documents d LEFT JOIN hit h ON h.doc_id = d.doc_id
       |WHERE d.doc_id % 100 <> 0""".stripMargin

  /** Within-doc repetition score (Gopher/MassiveText family): the share of
    * the document occupied by its own most-repeated word 2-gram, in exact
    * integers (max count, total grams, per-million integer-division
    * fraction). Narrow per-row map, zero shuffles.
    */
  def q66Repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val (mx, tot) = TextAnalysis.repetitionStats(text, 2)
        (id, mx, tot, if (tot == 0) 0L else mx * 1000000L / tot)
      })
      .toDF("doc_id", "max_gram_count", "total_grams", "rep_micro")
  }

  def q66Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), p -> p <> '') AS ws
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
       |  FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i) t),
       |cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
       |agg AS (SELECT doc_id, max(c) AS max_gram_count, sum(c) AS total_grams FROM cnt GROUP BY 1)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       |       CAST(coalesce(a.max_gram_count, 0) AS BIGINT) AS max_gram_count,
       |       CAST(coalesce(a.total_grams, 0) AS BIGINT) AS total_grams,
       |       CAST(CASE WHEN coalesce(a.total_grams, 0) = 0 THEN 0
       |            ELSE a.max_gram_count * 1000000 // a.total_grams END AS BIGINT) AS rep_micro
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  /** The corpus-curation flagship — the end-to-end "prepare training data"
    * flow a 100 TB pipeline actually ships: language ID, token count,
    * repetition score, and the decontamination check (vs the broadcast
    * eval-gram set, canaried fixture) computed in ONE narrow pass over the
    * corpus (Curation.metrics — the same code the streaming form runs),
    * the shared keep thresholds (Curation.keepFilter), then the exact-dedup
    * min-id survivor pick over the kept set — a digest-keyed window-min,
    * the only wide op in the whole flow, leaving the corpus read exactly
    * ONCE end to end. The oracle reuses the component queries' SQL verbatim
    * as scoped subqueries over the canaried corpus.
    */
  def q67CurateCorpus(s: SparkSession, dir: String): DataFrame = {
    val canaried = canariedDocs(s, dir)
    val evalGrams = s.sparkContext.broadcast(
      Curation.evalGramSet(canaried, "text", col("doc_id") % 100 === 0))
    // balance the corpus before the metrics map: the documents table is one
    // input split at bench scale, so the repetition/gram/classifier pass —
    // the query's dominant CPU (~0.7 s measured) — would otherwise run in a
    // single task; the exchange moves pre-metrics rows once
    val train = canaried.filter(col("doc_id") % 100 =!= 0)
      .repartition(s.sparkContext.defaultParallelism)
    val keep = Curation.metrics(train, "doc_id", "text", evalGrams)
      .filter(Curation.keepFilter)
    // survivor pick as a window-min over the digest — NOT groupBy + semi-
    // join, which would evaluate the metrics subtree twice and scan the
    // corpus twice. This way the whole flagship is ONE read of documents
    // (PlanSpec-asserted) and ONE wide op (the fp exchange the window
    // sorts behind).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Dedup.contentFingerprint(col("text")))
    keep
      // width-control the survivor exchange: an explicit repartition on the
      // SAME fingerprint expression satisfies the window's clustering, so
      // this is still the query's one wide op — at the cluster's core count
      // instead of the session shuffle width, which bounds the
      // metrics-stage × shuffle-partition file creations
      .repartition(s.sparkContext.defaultParallelism, Dedup.contentFingerprint(col("text")))
      .withColumn("min_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("min_id"))
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"), col("rep_micro"))
  }

  /** The component oracles (q30/q31/q66) are reused verbatim, re-pointed at
    * the canaried corpus CTE (`dd`) — string substitution of their one
    * `FROM documents` source, so a change to a component's SQL flows into
    * the composite automatically.
    */
  def q67Sql: String = {
    def onDd(sql: String) = sql.replace("FROM documents", "FROM dd")
    s"""WITH dd AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 3
       |           THEN text || ' decontamination canary phrase number ' || (doc_id % 5) || ' alpha beta gamma delta'
       |         WHEN doc_id % 100 = 0
       |           THEN text || ' decontamination canary phrase number ' || ((doc_id // 100) % 5) || ' alpha beta gamma delta'
       |         ELSE text END AS text
       |  FROM documents),
       |lang AS (SELECT * FROM (
       |${onDd(q30Sql)}
       |) x1),
       |qual AS (SELECT * FROM (
       |${onDd(q31Sql)}
       |) x2),
       |rep AS (SELECT * FROM (
       |${onDd(q66Sql)}
       |) x3),
       |cont AS (SELECT * FROM (
       |${q65Sql}
       |) x4),
       |keep AS (
       |  SELECT c.doc_id, l.lang_pred, q.n_tokens, r.rep_micro, d.text
       |  FROM cont c
       |  JOIN lang l ON l.doc_id = c.doc_id
       |  JOIN qual q ON q.doc_id = c.doc_id
       |  JOIN rep r ON r.doc_id = c.doc_id
       |  JOIN dd d ON d.doc_id = c.doc_id
       |  WHERE NOT c.contaminated AND l.lang_pred = 'en'
       |    AND q.n_tokens >= 30 AND r.rep_micro < 150000),
       |fps AS (
       |  SELECT keep.*, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM keep),
       |surv AS (SELECT fp, min(doc_id) AS doc_id FROM fps GROUP BY fp)
       |SELECT CAST(f.doc_id AS BIGINT) AS doc_id, f.lang_pred,
       |       CAST(f.n_tokens AS BIGINT) AS n_tokens, CAST(f.rep_micro AS BIGINT) AS rep_micro
       |FROM fps f JOIN surv s ON s.fp = f.fp AND s.doc_id = f.doc_id""".stripMargin
  }

  /** Deterministic stratified sampling (the data-recipe downsampling step):
    * per-source keep rates 1000 − 45·(srcnum mod 20) per-mille, membership
    * by the engine-independent md5 hash bucket — reproducible across runs
    * AND engines, which is exactly what the oracle verifies.
    */
  /** The stratum number of the fixture's "srcN" source labels. */
  private def srcNum = expr("cast(substr(source, 4) as bigint)")

  def q68Sample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("source"))
      .withColumn("keep_permille", lit(1000L) - lit(45L) * pmod(srcNum, lit(20L)))
    operators.Curation.stratifiedSample(docs, "doc_id", col("keep_permille"))
  }

  def q68Sql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
      |       CAST(1000 - 45 * (CAST(substr(source, 4) AS BIGINT) % 20) AS BIGINT) AS keep_permille
      |FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 1000
      |      < 1000 - 45 * (CAST(substr(source, 4) AS BIGINT) % 20)""".stripMargin

  /** Mixture upsampling (the data-recipe weighting step): each doc
    * replicated weight = 1 + (srcnum mod 3) times with an epoch index.
    */
  def q69Mixture(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("source"))
    operators.Curation
      .upsample(docs, lit(1L) + pmod(srcNum, lit(3L)))
      .select(col("doc_id"), col("source"), col("epoch"))
  }

  def q69Sql: String =
    """SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, CAST(t.e AS BIGINT) AS epoch
      |FROM documents d, LATERAL (
      |  SELECT unnest(generate_series(0, CAST(substr(d.source, 4) AS BIGINT) % 3)) AS e) t""".stripMargin

  /** Entity-importance ranking over the KG's adjacency graph — the damped
    * power iteration (PageRank family) in EXACT integer arithmetic: ranks
    * in micro-units, per-edge contribution = r DIV outdeg, damping =
    * (85·Σ) DIV 100, three fixed rounds. Every round is one join + one
    * aggregation keyed on the node — co-partitionable at scale, the same
    * shuffle discipline as the CC operator. Integer division makes every
    * round bit-reproducible in SQL, so the oracle unrolls the three rounds
    * as CTEs over the full q40 pipeline.
    */
  def q70EntityRank(s: SparkSession, dir: String): DataFrame = {
    val triples = KgPipeline.run(s, dir, numPartitions = s.sparkContext.defaultParallelism)
    val edges = triples.filter(col("pred") === "wdt:P1002")
      .select(col("subj").as("u"), col("obj").as("v")).distinct()
    val nodes = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node"))).distinct()
    val outdeg = edges.groupBy("u").agg(count(lit(1)).as("d"))
    var rank = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(rank.withColumnRenamed("node", "u"), Seq("u"))
        .join(outdeg, Seq("u"))
        .select(col("v").as("node"), expr("r DIV d").as("c"))
        .groupBy("node").agg(sum(col("c")).as("contrib"))
      rank = nodes.join(contrib, Seq("node"), "left_outer")
        .select(col("node"),
          (lit(150000L) + expr("(85 * coalesce(contrib, 0L)) DIV 100")).as("r"))
    }
    rank.select(col("node"), col("r").as("rank_micro"))
  }

  def q70Sql: String = {
    def round(prev: String, cur: String): String =
      s"""c$cur AS (
         |  SELECT e.v AS node, CAST(sum($prev.r // d.d) AS BIGINT) AS c
         |  FROM e JOIN $prev ON $prev.node = e.u JOIN d ON d.u = e.u
         |  GROUP BY e.v),
         |$cur AS (
         |  SELECT n.node, CAST(150000 + (85 * coalesce(c$cur.c, 0)) // 100 AS BIGINT) AS r
         |  FROM n LEFT JOIN c$cur ON c$cur.node = n.node)""".stripMargin
    s"""WITH final AS (SELECT * FROM (
       |$q40Sql
       |) q),
       |e AS (SELECT DISTINCT subj AS u, obj AS v FROM final WHERE pred = 'wdt:P1002'),
       |n AS (SELECT u AS node FROM e UNION SELECT v FROM e),
       |d AS (SELECT u, count(*) AS d FROM e GROUP BY u),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT node, r AS rank_micro FROM r3""".stripMargin
  }

  /** Multimodal thumbnailing end-to-end: REAL decode → nearest-neighbor
    * resize → re-encode → re-decode over the binary media column. On the
    * uniform-gray fixtures nearest-neighbor keeps the image uniform, so the
    * resized dims AND pixel sum are closed-form in media_id — the whole
    * imaging loop is hash-gated, not just spec'd. (The encoded byte size is
    * encoder-dependent and stays spec-side.)
    */
  def q71Thumbnail(s: SparkSession, dir: String): DataFrame =
    operators.Multimodal.thumbnailMeta(s, Tables.media(s, dir), maxDim = 16)
      .select(
        col("media_id"),
        col("thumb_w").cast("bigint").as("thumb_w"),
        col("thumb_h").cast("bigint").as("thumb_h"),
        col("thumb_px_sum"))

  def q71Sql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id,
      |         16 + doc_id % 48 AS w, 16 + doc_id % 24 AS h, doc_id % 256 AS g
      |  FROM documents),
      |t AS (
      |  SELECT media_id, g,
      |    CASE WHEN greatest(w, h) <= 16 THEN w
      |         ELSE greatest(1, w * 16 // greatest(w, h)) END AS tw,
      |    CASE WHEN greatest(w, h) <= 16 THEN h
      |         ELSE greatest(1, h * 16 // greatest(w, h)) END AS th
      |  FROM dims)
      |SELECT CAST(media_id AS BIGINT) AS media_id,
      |       CAST(tw AS BIGINT) AS thumb_w, CAST(th AS BIGINT) AS thumb_h,
      |       CAST(tw * th * g * 3 AS BIGINT) AS thumb_px_sum
      |FROM t""".stripMargin

  /** Audio-column metadata: REAL RIFF/WAVE bytes synthesized closed-form
    * per doc (hand-written PCM header, no library) and parsed back by a
    * real header parser — rate, channels, sample count, and exact-integer
    * duration all hash-gated in SQL.
    */
  def q72AudioMeta(s: SparkSession, dir: String): DataFrame =
    operators.Multimodal.audioMeta(s, Tables.audio(s, dir)).toDF()
      .select(
        col("media_id"),
        col("n_bytes"),
        col("is_wav"),
        col("sample_rate").cast("bigint").as("sample_rate"),
        col("channels").cast("bigint").as("channels"),
        col("n_samples"),
        col("duration_ms"))

  def q72Sql: String =
    """WITH a AS (
      |  SELECT doc_id AS media_id,
      |         8000 + (doc_id % 8) * 1000 AS sr,
      |         1 + doc_id % 2 AS ch,
      |         1000 + doc_id % 500 AS n
      |  FROM documents)
      |SELECT CAST(media_id AS BIGINT) AS media_id,
      |       CAST(44 + n * ch * 2 AS BIGINT) AS n_bytes,
      |       TRUE AS is_wav,
      |       CAST(sr AS BIGINT) AS sample_rate,
      |       CAST(ch AS BIGINT) AS channels,
      |       CAST(n AS BIGINT) AS n_samples,
      |       CAST(n * 1000 // sr AS BIGINT) AS duration_ms
      |FROM a""".stripMargin

  /** IVF-PQ — the production vector-index shape (q61 × q62 composed): PQ
    * codes stored partitioned by IVF cell; a query prunes partitions to its
    * probe set AND scores 8 B codes by ADC lookup. The oracle reproduces
    * the full combination: gate-centroid assignment + probe set (q47's
    * machinery) over codebook assignment + ADC sums (q62's).
    */
  def q73AnnIvfPq(s: SparkSession, dir: String): DataFrame =
    storedTopK(s, dir, Ann.ivfPq(nCells = 16, nProbe = 4, m = 8, kw = 16), "ivfpq_c16m8k16")

  def q73Sql: String = {
    val dim = 64; val nCells = 16; val nProbe = 4; val m = 8; val kw = 16; val subDim = dim / m
    val cents = Ann.intCentroids(dim, nCells)
    val cellRows = cents.zipWithIndex.map { case (xs, c) =>
      s"($c, ${xs.map(x => x * x).sum}, ${xs.mkString(", ")})"
    }.mkString(",\n")
    val books = Ann.pqCodebooks(dim, m, kw)
    val cbRows = (for { sp <- 0 until m; c <- 0 until kw } yield {
      val ys = books(sp)(c)
      s"($sp, $c, ${ys.map(y => y * y).sum}, ${ys.mkString(", ")})"
    }).mkString(",\n")
    val xcols = (1 to dim).map(i => s"x$i").mkString(", ")
    val ycols = (1 to subDim).map(j => s"y$j").mkString(", ")
    def milli(ref: String, idx: String) =
      s"CAST(floor(CAST($ref.embedding[$idx] AS DOUBLE)*1000) AS BIGINT)"
    val cellDot = (1 to dim).map(i => s"${milli("e", i.toString)}*x$i").mkString(" + ")
    val subDot = (1 to subDim).map(j => s"${milli("e", s"cb.s*$subDim+$j")}*y$j").mkString(" + ")
    val qDot = (1 to subDim).map(j => s"${milli("q", s"cb.s*$subDim+$j")}*y$j").mkString(" + ")
    s"""WITH cells(c, sx2, $xcols) AS (VALUES
       |$cellRows),
       |cscore AS (
       |  SELECT e.vec_id, cells.c, cells.sx2 - 2*($cellDot) AS score
       |  FROM embeddings e CROSS JOIN cells),
       |cassign AS (
       |  SELECT vec_id, c FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY score, c) AS rn
       |    FROM cscore) WHERE rn = 1),
       |qcells AS (
       |  SELECT c FROM (
       |    SELECT c, row_number() OVER (ORDER BY score, c) AS rn
       |    FROM cscore WHERE vec_id = 0) WHERE rn <= $nProbe),
       |cb(s, c, sy2, $ycols) AS (VALUES
       |$cbRows),
       |passign AS (
       |  SELECT vec_id, s, c FROM (
       |    SELECT e.vec_id, cb.s, cb.c,
       |           row_number() OVER (PARTITION BY e.vec_id, cb.s
       |                              ORDER BY cb.sy2 - 2*($subDot), cb.c) AS rn
       |    FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
       |qtab AS (
       |  SELECT cb.s, cb.c, ($qDot) AS qdot
       |  FROM cb CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q),
       |scored AS (
       |  SELECT pa.vec_id, CAST(sum(qt.qdot) AS BIGINT) AS pq_dot
       |  FROM passign pa JOIN qtab qt ON pa.s = qt.s AND pa.c = qt.c
       |  GROUP BY pa.vec_id)
       |SELECT sc.vec_id, sc.pq_dot
       |FROM scored sc
       |JOIN cassign a ON a.vec_id = sc.vec_id
       |JOIN qcells ON a.c = qcells.c
       |ORDER BY sc.pq_dot DESC, sc.vec_id LIMIT 20""".stripMargin
  }

  /** fastText-style quality-classifier scoring (the one curation filter a
    * real pipeline runs that the heuristic ratios don't cover): a linear
    * bag-of-token model — cue-word lexicon + token-shape features + a
    * hashing-trick OOV bucket table — with closed-form integer weights, so
    * the oracle reproduces score AND keep decision exactly. One narrow
    * codegen'd pass (TextAnalysis.qualityClassifierColumns), zero UDFs,
    * zero shuffles.
    */
  def q74QualityClassifier(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id") +:
        TextAnalysis.qualityClassifierColumns(col("text")): _*)

  def q74Sql: String = {
    val lex = TextAnalysis.qualityLexicon.map(w => s"'$w'").mkString(", ")
    val lw = TextAnalysis.qualityLexiconWeight
    val th = TextAnalysis.qualityThresholdMilli
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), p -> p <> '') AS ws
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
       |tw AS (
       |  SELECT doc_id,
       |    (CASE WHEN regexp_matches(t, '^[a-z]+$$') THEN 8
       |          WHEN regexp_matches(t, '[0-9]') THEN -25
       |          ELSE -10 END)
       |    + (CASE WHEN t IN ($lex) THEN $lw ELSE 0 END)
       |    + ((('0x' || substr(md5(t), 1, 12))::BIGINT % 1024) * 2654435761 % 21 - 10) AS wt
       |  FROM tok),
       |agg AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS score FROM tw GROUP BY doc_id),
       |n AS (SELECT doc_id, len(ws) AS n_tokens FROM w)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       |       CAST(coalesce(n.n_tokens, 0) AS BIGINT) AS n_tokens,
       |       CAST(coalesce(a.score, 0) AS BIGINT) AS ft_score,
       |       (coalesce(a.score, 0) * 1000 >= $th * coalesce(n.n_tokens, 0)
       |        AND coalesce(n.n_tokens, 0) > 0) AS keep
       |FROM documents d
       |LEFT JOIN n ON n.doc_id = d.doc_id
       |LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin
  }

  /** The shared stored-signature layout (q75, q77, q83, q92): built
    * incrementally — even-id base write, odd-id append — like the ANN
    * layouts, and read back through its `_meta` guard.
    */
  private def storedSigs(s: SparkSession, dir: String): DataFrame = {
    val p = layoutPath("minhashsig_h64s5", dir, srcTable = "documents")
    ensureLayout(p) {
      val docs = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
      Dedup.writeSignatureLayout(s, docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", p)
      Dedup.appendSignatureLayout(s, docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", p)
    }
    Dedup.storedSignatures(s, p)
  }

  /** MinHash candidates over the MATERIALIZED signature table: the stored
    * (id, sig) layout is built incrementally (base write + append — each
    * doc is sketched ONCE, ever), then candidate generation runs over the
    * stored signatures without touching document text at all. The oracle is
    * q26's exact-Jaccard SQL verbatim, so the stored path must reproduce
    * the recompute path exactly over the MERGED (write+append) layout —
    * gating both the layout lifecycle and the sketch-once economics that
    * make daily 100 TB dedup re-runs linear in the append, not the corpus.
    */
  def q75MinHashStored(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashCandidates(s, storedSigs(s, dir), bands = 16, minEstJaccard = 0.7)
      .select(col("id1"), col("id2"))

  def q75Sql: String = q26Sql

  /** The INCREMENTAL candidate path itself, oracle-gated: signatures for
    * the "new" (odd-id) batch banded against the full stored table must
    * produce exactly the full corpus's near-dup pairs that touch at least
    * one new doc — which is what the oracle computes (q26's exact-Jaccard
    * SQL restricted to pairs with an odd endpoint). Together with q75 this
    * gates both halves of the daily-append contract:
    * union(yesterday's pairs, today's increment) == full recompute.
    */
  def q77MinHashIncremental(s: SparkSession, dir: String): DataFrame = {
    // the operator materializes the all side itself; the new side's filter
    // reads the stored layout once more (a scan, no sketch)
    val all = storedSigs(s, dir)
    val newSigs = all.filter(col("id") % 2 =!= 0)
    Dedup.minHashCandidatesIncremental(s, all, newSigs, bands = 16, minEstJaccard = 0.7)
      .select(col("id1"), col("id2"))
  }

  def q77Sql: String =
    s"""SELECT id1, id2 FROM (
       |${q26Sql}
       |) WHERE id1 % 2 = 1 OR id2 % 2 = 1""".stripMargin

  /** Decontamination through the BLOOM path (the extreme-eval-size variant):
    * same canaried fixture and same oracle SQL as q65 — the Bloom screen +
    * exact re-check must be indistinguishable from the broadcast exact set,
    * which is precisely what hash-gating it on q65's SQL verbatim proves.
    */
  def q76DecontamBloom(s: SparkSession, dir: String): DataFrame =
    Dedup.decontaminateBloom(
      canariedDocs(s, dir), "doc_id", "text", col("doc_id") % 100 === 0, n = 8)

  def q76Sql: String = q65Sql

  /** Event-correlation interval join — clicks matched to the purchases they
    * precede within a bounded gap: an EQUI-join on the user key with the
    * time range as a join-side predicate, so the plan is a keyed shuffle
    * join (never a cartesian) and the range bound is what lets the
    * streaming twin (StreamIngest.streamIntervalJoin) keep both sides'
    * state finite under watermarks. Gap emitted in exact microseconds.
    */
  /** The ONE interval-join body both twins call (batch q78 below and
    * StreamIngest.streamIntervalJoin): equality is enforced by shared
    * construction, not by two hand-maintained copies. Sides must carry
    * (click_id, c_user, click_ts) / (purchase_id, p_user, purchase_ts).
    * timestampdiff, not unix_micros, for the gap: it accepts both LTZ
    * (batch read) and NTZ (the stream's declared schema) timestamps.
    * Skew: both sides shuffle on user_id, so a degenerate bot user is a
    * hot key — AQE skew-join is the backstop here exactly as for the other
    * keyed joins (BASELINE.md §skew); the range bound keeps the per-key
    * match volume, and in the streaming twin the per-key STATE, bounded.
    */
  private[graft] def intervalJoin(
      clicks: DataFrame, purchases: DataFrame, gapMinutes: Int): DataFrame =
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"interval $gapMinutes minutes"))
      .select(
        col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        expr("timestampdiff(MICROSECOND, click_ts, purchase_ts)").as("gap_us"))

  def q78IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    intervalJoin(clicks, purchases, gapMinutes = 30)
  }

  def q78Sql: String =
    """SELECT CAST(c.event_id AS BIGINT) AS click_id,
      |       CAST(p.event_id AS BIGINT) AS purchase_id,
      |       CAST(c.user_id AS BIGINT) AS user_id,
      |       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |WHERE c.event_type = 'click' AND p.event_type = 'purchase'""".stripMargin

  /** Per-source corpus report — the numbers a recipe builder reads before
    * setting mixture weights (q69): document/token volume, classifier
    * keep-rate, and mean quality score per source stratum. One narrow
    * classifier pass (q74's columns) + ONE aggregate; all ratios exact
    * integers (per-mille / milli via cross-multiplied integer division),
    * so the report is bit-stable at any partitioning.
    */
  /** The report's three phases, split so the INCREMENTAL form (q87) shares
    * them: score (narrow classifier pass), aggregate (pure SUMS per source —
    * the mergeable state), derive (the ratio columns, computed only at read
    * time so stored state stays summable).
    */
  private def reportScored(docs: DataFrame): DataFrame =
    docs.select(col("source") +: TextAnalysis.qualityClassifierColumns(col("text")): _*)

  private def reportAggregate(scored: DataFrame): DataFrame =
    scored.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_docs"),
        sum(col("ft_score")).as("sum_score"))

  private def reportDerive(agg: DataFrame): DataFrame =
    agg.select(
      col("source"), col("n_docs"), col("total_tokens"), col("kept_docs"),
      // `div` (true integer division), NOT `/`: Divide promotes bigints to
      // double, whose 53-bit mantissa would drop low bits once
      // sum_score*1000 passes 2^53 — real at corpus scale — and skew the
      // last digit off the oracle's exact `//`
      expr("kept_docs * 1000 div n_docs").as("keep_per_mille"),
      when(col("total_tokens") === 0, lit(0L))
        .otherwise(expr("sum_score * 1000 div total_tokens"))
        .as("mean_token_score_milli"))

  /** Sum-merge of two report states over DOC-DISJOINT batches — the ONE
    * shared merge algebra (KgPipeline.sumMerge) applied to the report key.
    */
  private def mergeReports(a: DataFrame, b: DataFrame): DataFrame =
    KgPipeline.sumMerge(a, b, "source",
      Seq("n_docs", "total_tokens", "kept_docs", "sum_score"))

  def q79CorpusReport(s: SparkSession, dir: String): DataFrame =
    reportDerive(reportAggregate(reportScored(t(s, dir, "documents"))))

  def q79Sql: String =
    s"""WITH scored AS (
       |${q74Sql}
       |),
       |src AS (SELECT doc_id, source FROM documents)
       |SELECT s.source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(sc.n_tokens) AS BIGINT) AS total_tokens,
       |       CAST(sum(CASE WHEN sc.keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       |       CAST(sum(CASE WHEN sc.keep THEN 1 ELSE 0 END) * 1000
       |            // count(*) AS BIGINT) AS keep_per_mille,
       |       CAST(CASE WHEN sum(sc.n_tokens) = 0 THEN 0
       |            ELSE sum(sc.ft_score) * 1000 // sum(sc.n_tokens) END AS BIGINT)
       |         AS mean_token_score_milli
       |FROM scored sc JOIN src s ON s.doc_id = sc.doc_id
       |GROUP BY s.source""".stripMargin

  /** The daily dedup loop END-TO-END through the incremental path, gated
    * on q58's oracle verbatim: day 1 sketches/pairs/labels the even half;
    * day 2 appends the odd half — signatures for the NEW batch only,
    * incremental candidates (pairs touching the new batch), exact verify,
    * and a label UPDATE over labels-as-edges ∪ new pairs — then survivor
    * flags for every doc from the updated labels. The result must be
    * byte-identical to the one-shot q58 flow over the full corpus, which
    * is exactly what sharing its recursive-CC oracle proves: the
    * incremental machinery is not an approximation.
    */
  def q80DedupIncrE2E(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").repartition(s.sparkContext.defaultParallelism)
    val batchA = docs.filter(col("doc_id") % 2 === 0)
    val batchB = docs.filter(col("doc_id") % 2 =!= 0)
    // day 1: the even half, processed the one-shot way
    val sigsA = Dedup.minHashSignatures(s, batchA, "doc_id", "text")
    val candsA = Dedup.minHashCandidates(s, sigsA, bands = 16, minEstJaccard = 0.5)
    val pairsA = Dedup.verifyJaccard(s, batchA, "doc_id", "text", candsA, shingleN = 5, minJaccard = 0.6)
      .select(col("id1"), col("id2"))
    val labelsA = Dedup.components(s, pairsA)
    // day 2: append the odd half — sketch it alone, band it against all,
    // verify only the new pairs, update the labels
    val sigsB = Dedup.minHashSignatures(s, batchB, "doc_id", "text")
    val all = sigsA.unionByName(sigsB)
    val candsNew = Dedup.minHashCandidatesIncremental(s, all, sigsB, bands = 16, minEstJaccard = 0.5)
    val pairsNew = Dedup.verifyJaccard(s, docs, "doc_id", "text", candsNew, shingleN = 5, minJaccard = 0.6)
      .select(col("id1"), col("id2"))
    val updated = Dedup.componentsIncremental(s, labelsA, pairsNew)
    Dedup.clustersFromLabels(t(s, dir, "documents"), "doc_id", updated)
  }

  def q80Sql: String = q58Sql

  /** The incrementally-landed flagship triple layout (q81, q82): day 1
    * processes the even-doc_id pages, day 2 the odd half — each day's run
    * reads ONLY its batch's pages (KgPipeline.writeTriplesBatch) and lands
    * in its own `batch` partition with a lineage row; day-1 files are
    * byte-untouched by the day-2 landing (PipelineSpec asserts it).
    */
  private def kgTriplesLayout(s: SparkSession, dir: String): String = {
    val p = layoutPath("kgtriples_parity", dir, srcTable = "documents")
    ensureLayout(p) {
      (0 to 1).foreach { b =>
        val pages = Tables.pagesWhere(s, dir, col("doc_id") % 2 === b)
          .repartition(s.sparkContext.defaultParallelism, col("url"))
        KgPipeline.writeTriplesBatch(s, pages, p, b)
      }
    }
  }

  /** The incremental KG pipeline END-TO-END, gated on the flagship's own
    * oracle (q40's SQL verbatim): pages land in daily batches, each batch
    * processed ALONE (page-locality makes per-batch output exact, see
    * writeTriplesBatch), and the MERGED layout must be byte-identical to
    * the one-shot q40 recompute over all pages — the q80 proof applied to
    * the engine's flagship (reference E1, sparql_updates.py:336-462).
    */
  def q81KgIncremental(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(kgTriplesLayout(s, dir))
      .select(col("subj"), col("pred"), col("obj"), col("url"), col("ts"))

  def q81Sql: String = q40Sql

  /** The incrementally-MAINTAINED node table (q82): day 1 stores the node
    * aggregate of batch 0's triples (snapshot state_1); day 2 aggregates
    * ONLY batch 1's triples and merges by degree-sum into snapshot state_2
    * (KgPipeline.mergeNodeTables — yesterday's triples are never re-read).
    * Snapshot-versioned state dirs, the Iceberg-snapshot shape on local
    * parquet: the update writes a NEW state, never overwrites the one it
    * reads.
    */
  /** The two-snapshot maintenance build shared by q82/q87/q93: write day
    * 1's aggregate as snapshot state_1, then state_2 = update(stored
    * state_1) — the update READS snapshot N and WRITES snapshot N+1, never
    * overwriting what it reads (the Iceberg-snapshot shape on local
    * parquet). Both arguments are lazy: nothing is computed when the layout
    * is already built. Older snapshots are deliberately RETAINED — they are
    * the rollback/time-travel surface; production prunes them with a
    * retention policy (Iceberg's expire_snapshots), never at write time.
    */
  private def twoStateLayout(s: SparkSession, p: String)(state1: => DataFrame)(
      update: DataFrame => DataFrame): String =
    ensureLayout(p) {
      Tables.format.write(state1, s"$p/state_1")
      Tables.format.write(update(s.read.parquet(s"$p/state_1")), s"$p/state_2")
    }

  private def kgNodesLayout(s: SparkSession, dir: String): String = {
    def tri = s.read.parquet(kgTriplesLayout(s, dir))
    twoStateLayout(s, layoutPath("kgnodes_parity", dir, srcTable = "documents"))(
      KgPipeline.nodeTable(tri.filter(col("batch") === 0)))(st1 =>
      KgPipeline.mergeNodeTables(st1, KgPipeline.nodeTable(tri.filter(col("batch") === 1))))
  }

  /** Incremental node-degree maintenance gated on q55's SQL verbatim: the
    * degree-sum merge of batch aggregates must equal the full recompute
    * over all triples — update-by-merge is not an approximation.
    */
  def q82KgIncrNodes(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${kgNodesLayout(s, dir)}/state_2")
      .select(col("node"), col("out_degree"), col("in_degree"), col("n_urls"))

  def q82Sql: String = q55Sql

  /** The band-key layout over the stored signatures (q83), built like every
    * layout incrementally: base write of the even-id keys, append of the
    * odd half (parameters persisted/validated via _meta, lineage recorded
    * per batch — the coverage audit inside the pruned read depends on it).
    */
  private def bandLayout(s: SparkSession, dir: String): String =
    builtBandLayout(s, dir, "bandkeys_b16n256")(_ => ())

  /** The ONE even/odd split-build of a band-key layout (q83, q92): base
    * write of the even-id keys, append of the odd half, then `after` (the
    * q92 compaction hook) — so the twin gates cannot drift apart.
    */
  private def builtBandLayout(s: SparkSession, dir: String, kind: String)(
      after: String => Unit): String = {
    val p = layoutPath(kind, dir, srcTable = "documents")
    ensureLayout(p) {
      val sigs = storedSigs(s, dir)
      Dedup.writeBandLayout(s, sigs.filter(col("id") % 2 === 0), p)
      Dedup.appendBandLayout(s, sigs.filter(col("id") % 2 =!= 0), p)
      after(p)
    }
  }

  /** The ONE stored-pruned gate body (q83 over the plain layout, q92 over
    * the compacted one): odd-id batch pruned against the given band layout.
    */
  private def storedPrunedOver(s: SparkSession, dir: String, layout: String): DataFrame = {
    val all = storedSigs(s, dir)
    Dedup.minHashCandidatesStoredPruned(
      s, layout, all, all.filter(col("id") % 2 =!= 0),
      bands = 16, nBuckets = 256, minEstJaccard = 0.7)
      .select(col("id1"), col("id2"))
  }

  /** The stored-PRUNED incremental candidate path, oracle-gated with q77's
    * SQL verbatim: the new (odd-id) batch's band keys become a bucket
    * partition filter on the stored banded layout — the daily-dedup scan
    * reads only the bucket directories the append can collide in (file
    * pruning in THIS gated path is PlanSpec-asserted) — and the surviving
    * pairs must still be exactly the full corpus's near-dup pairs touching
    * the new batch. The in-operator lineage audit proves the layout covers
    * all signatures before pruning.
    */
  def q83MinHashStoredPruned(s: SparkSession, dir: String): DataFrame =
    storedPrunedOver(s, dir, bandLayout(s, dir))

  def q83Sql: String = q77Sql

  /** Real-BPE token counting (TextAnalysis.bpeTokenCountColumns): every
    * word's a-z content encoded by the closed-form merges table with EXACT
    * standard-BPE semantics (single replace-chain pass in priority order —
    * proven equal to the iterative reference encoder in BpeSpec), so the
    * token counts are what a trainer's tokenizer with that merges table
    * would report — not the regex stand-in's approximation. One narrow
    * codegen'd pass, zero UDFs; the oracle applies the IDENTICAL replace
    * chain in DuckDB.
    */
  def q84BpeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id") +:
        TextAnalysis.bpeTokenCountColumns(col("text")): _*)

  def q84Sql: String = {
    val sep = """'||' || regexp_replace(regexp_replace(t, '[^a-z]', '', 'g'), '(.)', '\1||', 'g')"""
    val folded = TextAnalysis.bpeMerges.foldLeft(sep) { case (acc, (a, b)) =>
      s"replace($acc, '|$a||$b|', '|$a$b|')"
    }
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), p -> p <> '') AS ws
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
       |enc AS (SELECT doc_id, $folded AS s FROM tok),
       |cnt AS (SELECT doc_id, (len(s) - len(replace(s, '||', ''))) // 2 - 1 AS n FROM enc),
       |agg AS (SELECT doc_id, sum(n) AS bpe FROM cnt GROUP BY doc_id),
       |nw AS (SELECT doc_id, len(ws) AS n_words FROM w)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       |       CAST(coalesce(nw.n_words, 0) AS BIGINT) AS n_words,
       |       CAST(coalesce(a.bpe, 0) AS BIGINT) AS bpe_tokens
       |FROM documents d
       |LEFT JOIN nw ON nw.doc_id = d.doc_id
       |LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin
  }

  /** The MATERIALIZED graph's edge table read back from the bucketed layout
    * (north-star "partitioned nodes/edges tables"): materializeGraph writes
    * the flagship's triples through the TableFormat seam (16 subj-hash
    * buckets); reading the layout and dropping the bucket column must
    * reproduce q40's rows exactly — gating the bucketed write+read path
    * itself in the artifact of record, not just in specs.
    */
  def q85EdgesLayout(s: SparkSession, dir: String): DataFrame = {
    val p = layoutPath("kggraph_b16", dir, srcTable = "documents")
    ensureLayout(p) {
      KgPipeline.materializeGraph(
        KgPipeline.run(s, dir, numPartitions = s.sparkContext.defaultParallelism), p)
    }
    s.read.parquet(s"$p/edges")
      .select(col("subj"), col("pred"), col("obj"), col("url"), col("ts"))
  }

  def q85Sql: String = q40Sql

  /** The RESUMABLE flagship landing (Manifest.runStage), oracle-gated: the
    * full pipeline lands partitioned by url-hash part_key with per-
    * partition lineage rows; the landed table must reproduce q40's rows
    * exactly, AND a second invocation on unchanged input must compute ZERO
    * partitions (the resume contract, enforced with a require in the gate
    * itself — a driver run fails loudly if resume ever starts recomputing).
    * This puts the checkpoint/resume machinery — the north rule's
    * checkpoint/restart requirement — in the artifact of record, not only
    * in PipelineSpec.
    */
  def q86KgResume(s: SparkSession, dir: String): DataFrame = {
    val p = layoutPath("kgresume_p32", dir, srcTable = "documents")
    ensureLayout(p) {
      KgPipeline.runResumable(s, dir, s"$p/out", s"$p/manifest", nParts = 32)
      val second = KgPipeline.runResumable(s, dir, s"$p/out", s"$p/manifest", nParts = 32)
      require(second == 0L,
        s"resume recomputed $second partitions on unchanged input")
    }
    s.read.parquet(s"$p/out")
      .select(col("subj"), col("pred"), col("obj"), col("url"), col("ts"))
  }

  def q86Sql: String = q40Sql

  /** The incrementally-MAINTAINED corpus report (q87): the q82 pattern
    * applied to the curation side — the stored state is the PURE-SUM
    * aggregate per source (n_docs, total_tokens, kept_docs, sum_score),
    * day 2 aggregates ONLY its batch and sum-merges into a new snapshot,
    * ratios are derived at read time. Gated on q79's SQL verbatim: the
    * maintained report is byte-equal to a full recompute. The lesson it
    * encodes: store summable state, never ratios — a stored per-mille
    * cannot be merged.
    */
  def q87ReportIncr(s: SparkSession, dir: String): DataFrame = {
    def docs = t(s, dir, "documents")
    val p = twoStateLayout(s, layoutPath("report_parity", dir, srcTable = "documents"))(
      reportAggregate(reportScored(docs.filter(col("doc_id") % 2 === 0))))(st1 =>
      mergeReports(st1, reportAggregate(reportScored(docs.filter(col("doc_id") % 2 =!= 0)))))
    reportDerive(s.read.parquet(s"$p/state_2"))
  }

  def q87Sql: String = q79Sql

  /** Incremental DECONTAMINATION (q88): flags are per-doc given the fixed
    * eval set, so the maintained state is simply APPEND-ONLY — day 2 screens
    * its new train batch against the (unchanged) eval set and unions the
    * flags into a new snapshot. Gated on q65's SQL verbatim: the maintained
    * flag table is byte-equal to screening the whole corpus at once. The
    * third merge algebra of the maintenance family: sum (q82/q87),
    * min+sum semigroup (q89), and plain union for per-row state.
    */
  def q88DecontamIncr(s: SparkSession, dir: String): DataFrame = {
    def docs = canariedDocs(s, dir)
    val isEval = col("doc_id") % 100 === 0
    def day(parity: Int) = Dedup.decontaminate(
      docs.filter(isEval || col("doc_id") % 2 === parity), "doc_id", "text", isEval, n = 8)
    val p = twoStateLayout(s, layoutPath("decontam_parity", dir, srcTable = "documents"))(
      day(0))(st1 => st1.unionByName(day(1)))
    s.read.parquet(s"$p/state_2")
  }

  def q88Sql: String = q65Sql

  /** Incremental EXACT-dedup state (q89): the stored state is the
    * (fp → survivor_id, n_copies) aggregate itself, and a corpus append
    * merges its batch aggregate in with the (min, sum) SEMIGROUP — survivor
    * = least of the two candidates, copies = sum — via the ONE shared merge
    * body (KgPipeline.semigroupMerge). Gated on q25's SQL verbatim: the
    * maintained table equals the one-shot groupBy over the whole corpus.
    * This is why `exact` keeps min-id survivors rather than first-seen:
    * min is a semigroup, so the survivor choice is maintainable
    * incrementally AND independent of arrival order.
    */
  def q89DedupIncrState(s: SparkSession, dir: String): DataFrame = {
    def docs = t(s, dir, "documents")
    val p = twoStateLayout(s, layoutPath("exactdedup_parity", dir, srcTable = "documents"))(
      Dedup.exact(docs.filter(col("doc_id") % 2 === 0), "text", "doc_id"))(st1 =>
      KgPipeline.semigroupMerge(st1,
        Dedup.exact(docs.filter(col("doc_id") % 2 =!= 0), "text", "doc_id"),
        "fp",
        Seq(
          "survivor_id" -> ((x: Column, y: Column) => least(x, y)),
          "n_copies" -> ((x: Column, y: Column) => x + y))))
    s.read.parquet(s"$p/state_2")
  }

  def q89Sql: String = q25Sql

  /** Incremental EMBEDDING near-dup (q90): the planted copies ARE the
    * append — `Dedup.nearDupPairsIncremental` bands only the new batch
    * against the full corpus's keys and must recover every planted pair,
    * which is exactly q38's oracle (every near-dup pair in this corpus
    * touches a planted vector). Closes the incremental loop for the
    * embedding family the way q77 closed it for minhash.
    */
  def q90EmbedNearDupIncr(s: SparkSession, dir: String): DataFrame = {
    val (emb, planted) = plantedEmb(s, dir)
    Dedup.nearDupPairsIncremental(
      s, emb.unionByName(planted), planted, "vec_id", "embedding", minCosine = 0.95)
      .select(col("id1"), col("id2"))
  }

  def q90Sql: String = q38Sql

  /** Incremental SIMHASH near-dup (q91) — the last near-dup family's
    * incremental path, gated like q77: the odd-id batch's chunk bands
    * joined against the full sketch table must produce exactly the full
    * corpus's Hamming-verified pairs touching the new batch (q27's gate
    * SQL restricted to odd-endpoint pairs).
    */
  def q91SimHashIncr(s: SparkSession, dir: String): DataFrame = {
    // each half is sketched exactly ONCE (the md5 vote is the dominant
    // CPU): even + odd sketched separately, their union is the all side and
    // the odd table alone the new side. The operator materializes only the
    // all side, so without these checkpoints the new side would md5-sketch
    // the odd docs a second time; the operator's own checkpoint of the
    // union is a copy of these blocks, no sketch.
    val even = materializedOnce(simHash48Table(s, dir, col("doc_id") % 2 === 0))
    val odd = materializedOnce(simHash48Table(s, dir, col("doc_id") % 2 =!= 0))
    Dedup.simHashPairsIncremental(
      s, even.unionByName(odd), odd,
      maxHamming = 3, chunks = 4, chunkBits = 12)
      .select(col("id1"), col("id2"), col("hamming").cast("bigint").as("hamming"))
  }

  def q91Sql: String =
    s"""SELECT id1, id2, hamming FROM (
       |${q27GateSql}
       |) WHERE id1 % 2 = 1 OR id2 % 2 = 1""".stripMargin

  /** The stored-pruned candidate path over a COMPACTED band layout (q92):
    * base write + append accumulate per-batch files, `Tables.compactLayout`
    * rewrites the layout at ~one file per partition (sidecars carried,
    * lineage log aggregated to one row), and the pruned incremental
    * candidates must still be exactly the full corpus's new-touching pairs
    * — q77's SQL verbatim, like q83, so the compaction lifecycle itself is
    * gated in the artifact of record: identical answers, fewer files, the
    * in-operator coverage audit satisfied by the compact row.
    */
  def q92CompactPruned(s: SparkSession, dir: String): DataFrame =
    storedPrunedOver(s, dir,
      builtBandLayout(s, dir, "bandkeys_compact_b16n256")(p =>
        Tables.compactLayout(s, p, "bucket")))

  def q92Sql: String = q77Sql

  /** Incrementally-maintained paragraph-DF state (q93): the corpus
    * statistic behind boilerplate removal — per-paragraph-digest
    * distinct-document frequency — maintained by sum-merge over parity
    * batches (distinct-doc counts over doc-disjoint batches add), over
    * q54's injected fixture so the boilerplate paragraph's df is corpus-
    * sized and every original paragraph's is 1+. The one corpus statistic
    * q54 pays for nightly becomes append-priced; gated byte-equal to the
    * one-shot df aggregate in SQL.
    */
  def q93BoilerplateDfIncr(s: SparkSession, dir: String): DataFrame = {
    def docs = t(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("copyright notice all rights "), col("text")).as("text"))
    val p = twoStateLayout(s, layoutPath("paradf_parity", dir, srcTable = "documents"))(
      Dedup.paragraphDf(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", paraWords = 4))(st1 =>
      KgPipeline.sumMerge(st1,
        Dedup.paragraphDf(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", paraWords = 4),
        "pfp", Seq("df")))
    s.read.parquet(s"$p/state_2")
  }

  def q93Sql: String =
    """WITH injected AS (
      |  SELECT doc_id, 'copyright notice all rights ' || text AS text FROM documents),
      |w AS (
      |  SELECT doc_id, g.i - 1 AS i, arr[g.i] AS w
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      |        FROM injected WHERE trim(text) <> '') t,
      |       LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g),
      |paras AS (
      |  SELECT doc_id, i // 4 AS pidx, string_agg(w, ' ' ORDER BY i) AS para
      |  FROM w GROUP BY doc_id, i // 4)
      |SELECT md5(para) AS pfp, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |FROM paras GROUP BY 1""".stripMargin

  // ----------------------------------------------------------------- maps

  val sqlChecked: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "q01_scan_filter" -> ((q01ScanFilter _, q01Sql)),
    "q02_topk" -> ((q02TopK _, q02Sql)),
    "q03_agg" -> ((q03Agg _, q03Sql)),
    "q04_join_regions" -> ((q04JoinRegions _, q04Sql)),
    "q05_anti_join" -> ((q05AntiJoin _, q05Sql)),
    "q06_semi_join" -> ((q06SemiJoin _, q06Sql)),
    "q07_union" -> ((q07Union _, q07Sql)),
    "q08_except" -> ((q08Except _, q08Sql)),
    "q09_window_topk" -> ((q09WindowTopK _, q09Sql)),
    "q10_dedup_exact" -> ((q10DedupExact _, q10Sql)),
    "q11_prefix_replace" -> ((q11PrefixReplace _, q11Sql)),
    "q12_format_object" -> ((q12FormatObject _, q12Sql)),
    "q13_bce_dates" -> ((q13BceDates _, q13Sql)),
    "q14_camel_case" -> ((q14CamelCase _, q14Sql)),
    "q15_tz_normalize" -> ((q15TzNormalize _, q15Sql)),
    "q16_mint_statement" -> ((q16MintStatementId _, q16Sql)),
    "q17_extract_text" -> ((q17ExtractText _, q17Sql)),
    "q18_mentions" -> ((q18Mentions _, q18Sql)),
    "q19_link_top1" -> ((q19LinkTop1 _, q19Sql)),
    "q20_triples" -> ((q20Triples _, q20Sql)),
    "q21_dedup_triples" -> ((q21DedupTriples _, q21Sql)),
    "q22_emit_commands" -> ((q22EmitCommands _, q22Sql)),
    "q23_triple_diff" -> ((q23TripleDiff _, q23Sql)),
    "q24_changes" -> ((q24Changes _, q24Sql)),
    "q25_dedup_docs" -> ((q25DedupDocs _, q25Sql)),
    "q29_ann_brute" -> ((q29AnnBrute _, q29Sql)),
    "q30_langid" -> ((q30LangId _, q30Sql)),
    "q31_quality" -> ((q31Quality _, q31Sql)),
    "q32_fingerprint" -> ((q32Fingerprint _, q32Sql)),
    "q34_tokens" -> ((q34Tokens _, q34Sql)),
    "q35_hourly_window" -> ((q35HourlyWindow _, q35Sql)),
    "q36_lineage" -> ((q36Lineage _, q36Sql)),
    "q39_sessionize" -> ((q39Sessionize _, q39Sql)),
    "q41_triple_filters" -> ((q41TripleFilters _, q41Sql)),
    "q42_change_snapshots" -> ((q42ChangeSnapshots _, q42Sql)),
    "q43_new_entity" -> ((q43NewEntity _, q43Sql)),
    "q26_minhash_pairs" -> ((q26MinHashPairs _, q26Sql)),
    "q28_jaccard_verify" -> ((q28JaccardVerify _, q28Sql)),
    "q33_multimodal_meta" -> ((q33Multimodal _, q33Sql)),
    "q38_embed_neardup" -> ((q38EmbedNearDup _, q38Sql)),
    "q40_pipeline" -> ((q40Pipeline _, q40Sql)),
    "q44_diff_html" -> ((q44DiffHtml _, q44Sql)),
    "q45_time_node" -> ((q45TimeNode _, q45Sql)),
    "q46_diff_time" -> ((q46DiffTime _, q46Sql)),
    "q48_ann_native" -> ((q48AnnNative _, q48Sql)),
    "q37_ann_lsh" -> ((q37AnnLshGate _, q37Sql)),
    "q47_ann_ivf" -> ((q47AnnIvfGate _, q47Sql)),
    "q49_components" -> ((q49Components _, q49Sql)),
    "q50_salted_link" -> ((q50SaltedLink _, q50Sql)),
    "q51_ann_multi" -> ((q51AnnMulti _, q51Sql)),
    "q52_tfidf" -> ((q52Tfidf _, q52Sql)),
    "q27_simhash_pairs" -> ((q27SimHashGate _, q27GateSql)),
    "q54_boilerplate" -> ((q54Boilerplate _, q54Sql)),
    "q55_nodes" -> ((q55Nodes _, q55Sql)),
    "q56_embed_link" -> ((q56EmbedLink _, q56Sql)),
    "q57_pii_redact" -> ((q57PiiRedact _, q57Sql)),
    "q58_dedup_e2e" -> ((q58DedupE2E _, q58Sql)),
    "q59_url_canon" -> ((q59UrlCanon _, q59Sql)),
    "q60_ann_int8" -> ((q60AnnInt8 _, q60Sql)),
    "q61_ann_ivf_part" -> ((q61AnnIvfPart _, q61Sql)),
    "q62_ann_pq" -> ((q62AnnPq _, q62Sql)),
    "q63_ann_lsh_part" -> ((q63AnnLshPart _, q63Sql)),
    "q64_ann_multi_ivf" -> ((q64AnnMultiIvf _, q64Sql)),
    "q65_decontaminate" -> ((q65Decontaminate _, q65Sql)),
    "q66_repetition" -> ((q66Repetition _, q66Sql)),
    "q67_curate_corpus" -> ((q67CurateCorpus _, q67Sql)),
    "q68_sample" -> ((q68Sample _, q68Sql)),
    "q69_mixture" -> ((q69Mixture _, q69Sql)),
    "q70_entity_rank" -> ((q70EntityRank _, q70Sql)),
    "q71_thumbnail" -> ((q71Thumbnail _, q71Sql)),
    "q72_audio_meta" -> ((q72AudioMeta _, q72Sql)),
    "q73_ann_ivfpq" -> ((q73AnnIvfPq _, q73Sql)),
    "q74_quality_clf" -> ((q74QualityClassifier _, q74Sql)),
    "q75_minhash_stored" -> ((q75MinHashStored _, q75Sql)),
    "q76_decontam_bloom" -> ((q76DecontamBloom _, q76Sql)),
    "q77_minhash_incr" -> ((q77MinHashIncremental _, q77Sql)),
    "q78_interval_join" -> ((q78IntervalJoin _, q78Sql)),
    "q79_corpus_report" -> ((q79CorpusReport _, q79Sql)),
    "q80_dedup_incr_e2e" -> ((q80DedupIncrE2E _, q80Sql)),
    "q81_kg_incremental" -> ((q81KgIncremental _, q81Sql)),
    "q82_kg_incr_nodes" -> ((q82KgIncrNodes _, q82Sql)),
    "q83_minhash_stored_pruned" -> ((q83MinHashStoredPruned _, q83Sql)),
    "q84_bpe_tokens" -> ((q84BpeTokens _, q84Sql)),
    "q85_edges_layout" -> ((q85EdgesLayout _, q85Sql)),
    "q86_kg_resume" -> ((q86KgResume _, q86Sql)),
    "q87_report_incr" -> ((q87ReportIncr _, q87Sql)),
    "q88_decontam_incr" -> ((q88DecontamIncr _, q88Sql)),
    "q89_dedup_incr_state" -> ((q89DedupIncrState _, q89Sql)),
    "q90_embed_neardup_incr" -> ((q90EmbedNearDupIncr _, q90Sql)),
    "q91_simhash_incr" -> ((q91SimHashIncr _, q91Sql)),
    "q92_compact_pruned" -> ((q92CompactPruned _, q92Sql)),
    "q93_paradf_incr" -> ((q93BoilerplateDfIncr _, q93Sql))
  )

  /** ANN scoring via the native codegen kernel `scaled_dot_fast`:
    * same semantics as q29's typed form but with no object ser/deser fence —
    * scan → score → TakeOrderedAndProject is one fused codegen stage. The
    * oracle is the same SQL as q29, so the custom expression is
    * hash-proven equivalent on real data (the q11 pattern).
    */
  def q48AnnNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.NativeKernels.ensure(s)
    val emb = t(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    // float → shortest decimal → parse-as-double → cast float round-trips
    val qArr = s"cast(array(${query.mkString(",")}) as array<float>)"
    emb.select(col("vec_id"),
        expr(s"scaled_dot_fast(embedding, $qArr)").as("scaled_dot"))
      .orderBy(col("scaled_dot").desc, col("vec_id").asc)
      .limit(20)
  }

  // def, not val: this is declared after the sqlChecked map in source order,
  // and a forward val reference would be captured as null at object init
  def q48Sql: String = q29Sql

  /** IVF ANN, ORACLE-GATED: closed-form fnv1a integer centroids make cell
    * assignment (exact-integer argmin with index tiebreak), the nProbe probe
    * set, and the scan membership SQL-expressible — hash-gating the whole
    * assign→probe→scan machinery over the cell encoding computed on the
    * fly (q61 probes the same layout stored).
    */
  def q47AnnIvfGate(s: SparkSession, dir: String): DataFrame =
    onTheFlyTopK(s, dir, Ann.ivf(nCells = 16, nProbe = 4))

  // def, not val: declared after the sqlChecked map in source order — a
  // forward val reference would be captured as null at object init
  def q47Sql: String = {
    val dim = 64; val nCells = 16; val nProbe = 4
    val cents = Ann.intCentroids(dim, nCells)
    val cellRows = cents.zipWithIndex.map { case (xs, c) =>
      val sx2 = xs.map(x => x * x).sum
      s"($c, $sx2, ${xs.mkString(", ")})"
    }.mkString(",\n")
    val xcols = (1 to dim).map(i => s"x$i").mkString(", ")
    def milli(ref: String, i: Int) =
      s"CAST(floor(CAST($ref.embedding[$i] AS DOUBLE)*1000) AS BIGINT)"
    // argmin ‖a−x‖² ≡ argmin (Σx² − 2·a·x): the Σa² term is constant per
    // vector, preserving order AND ties — one 64-term dot per (vector, cell)
    val cellDot = (1 to dim).map(i => s"${milli("e", i)}*x$i").mkString(" + ")
    val qdot = (1 to dim).map(i => s"${milli("e", i)}*${milli("q", i)}").mkString(" + ")
    s"""WITH cells(c, sx2, $xcols) AS (VALUES
       |$cellRows),
       |scored AS (
       |  SELECT e.vec_id, cells.c, cells.sx2 - 2*($cellDot) AS score
       |  FROM embeddings e CROSS JOIN cells),
       |assigned AS (
       |  SELECT vec_id, c FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY score, c) AS rn
       |    FROM scored) WHERE rn = 1),
       |qcells AS (
       |  SELECT c FROM (
       |    SELECT c, row_number() OVER (ORDER BY score, c) AS rn
       |    FROM scored WHERE vec_id = 0) WHERE rn <= $nProbe)
       |SELECT e.vec_id, ($qdot) AS scaled_dot
       |FROM embeddings e
       |JOIN assigned a ON a.vec_id = e.vec_id
       |JOIN qcells ON a.c = qcells.c
       |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |ORDER BY scaled_dot DESC, e.vec_id LIMIT 20""".stripMargin
  }

  /** Empty since round 3: every query is oracle-gated. */
  val rowsOnly: Map[String, (SparkSession, String) => DataFrame] = Map.empty
}
