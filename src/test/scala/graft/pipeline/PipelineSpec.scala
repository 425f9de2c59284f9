package graft.pipeline

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PipelineSpec extends SparkSpec {

  test("E2E: pipeline emits deduped canonical triples; dedup is idempotent") {
    val out = KgPipeline.run(spark, sfDir, numPartitions = 4).cache()
    val n = out.count()
    assert(n > 0)
    // windowed distinct ⇒ (subj,pred,obj,url) unique
    assert(out.select("subj", "pred", "obj", "url").distinct().count() == n)
    // all subjects/objects canonical-prefixed
    assert(out.filter(!col("subj").startsWith("wd:") && !col("subj").startsWith("data:")).count() == 0)
    assert(out.filter(!col("obj").startsWith("wd:")).count() == 0)
    // dedup idempotence
    assert(KgPipeline.dedupTriples(out).count() == n)
    out.unpersist()
  }

  test("E2E golden: fixed two-page corpus produces the exact expected triple set") {
    import spark.implicits._
    import graft.model.Page
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val pages = Seq(
      Page("u1", ts, graft.text.HtmlCodec.generate("u1", "spark query table"), "spark query table", "en"),
      Page("u2", ts, graft.text.HtmlCodec.generate("u2", "scan scan merge"), "scan scan merge", "en")
    ).toDS()
    val triples = KgPipeline.dedupTriples(KgPipeline.triples(spark, pages))
      .select("subj", "pred", "obj", "url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val expected = Set(
      // u1 aboutness: spark→Q1001, query→Q1011, table→Q1013 (prior winner)
      ("data:u1", "schema:about", "wd:Q1001", "u1"),
      ("data:u1", "schema:about", "wd:Q1011", "u1"),
      ("data:u1", "schema:about", "wd:Q1013", "u1"),
      // u1 adjacency chain within 30 chars
      ("wd:Q1001", "wdt:P1002", "wd:Q1011", "u1"),
      ("wd:Q1011", "wdt:P1002", "wd:Q1013", "u1"),
      // u2: scan→Q1002 twice (dedup to one aboutness), merge→Q1005
      ("data:u2", "schema:about", "wd:Q1002", "u2"),
      ("data:u2", "schema:about", "wd:Q1005", "u2"),
      ("wd:Q1002", "wdt:P1002", "wd:Q1005", "u2")
    )
    assert(triples == expected)
  }

  test("repeated urls: triples equal the per-page fold, the same at every url partition count") {
    import spark.implicits._
    import graft.model.{Dict, Page}
    def page(url: String, ts: String, text: String) =
      Page(url, java.sql.Timestamp.valueOf(ts), graft.text.HtmlCodec.generate(url, text), text, "en")
    val pages = Seq(
      // one url, two crawls with different mention chains
      page("u", "2024-01-02 00:00:00", "spark query table"),
      page("u", "2024-01-01 00:00:00", "spark table merge"),
      // one url, two crawls sharing a mention at the same offset
      page("v", "2024-01-01 00:00:00", "scan merge"),
      page("v", "2024-01-03 00:00:00", "scan query"),
      page("w", "2024-01-01 00:00:00", "query table"))
    val trie = graft.text.AhoCorasick.build(Dict.surfaces)
    val best = KgPipeline.aliasBest
    // the fold, deduped to each triple's earliest ts
    val expected = pages.flatMap(p => KgPipeline.pageTriples(trie, best, p))
      .groupBy(t => (t.subj, t.pred, t.obj, t.url))
      .map { case (k, ts) => (k, ts.map(_.ts).minBy(_.getTime)) }.toSet
    assert(expected.contains((("wd:Q1001", "wdt:P1002", "wd:Q1013", "u"),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))))
    val answers = (1 to 6).map { n =>
      KgPipeline.dedupTriples(KgPipeline.triples(spark, pages.toDS(), urlParts = Some(n)))
        .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2), r.getString(3)),
          r.getTimestamp(4))).toSet
    }
    answers.zipWithIndex.foreach { case (a, i) => assert(a == expected, s"urlParts = ${i + 1}") }
    assert(answers.distinct.size == 1)
  }

  test("emit: reference-shaped INSERT command blocks, sorted within block") {
    import spark.implicits._
    val t = Seq(
      ("wd:Q1", "wdt:P1", "wd:Q2", "u1", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      ("wd:Q1", "wdt:P1", "wd:Q0", "u1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    ).toDF("subj", "pred", "obj", "url", "ts")
    val rows = KgPipeline.emit(t).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("block") ==
      "INSERT DATA { wd:Q1 wdt:P1 wd:Q0 . };\nINSERT DATA { wd:Q1 wdt:P1 wd:Q2 . };")
  }

  test("goldenFile: prefix header then blank-line-separated blocks (write_to_file grammar)") {
    val f = KgPipeline.goldenFile(Seq("INSERT DATA { a b c . };", "DELETE DATA { d e f . };"))
    assert(f.startsWith("PREFIX wd: <http://www.wikidata.org/entity/>\n"))
    assert(f.contains("PREFIX data: <https://www.wikidata.org/wiki/Special:EntityData/>\n"))
    assert(f.endsWith("INSERT DATA { a b c . };\n\nDELETE DATA { d e f . };\n\n"))
  }

  test("materializeGraph: bucket-partitioned nodes/edges round-trip; degrees consistent") {
    val tmp = tempDir("graft-graph")
    val triples = KgPipeline.run(spark, sfDir, numPartitions = 4)
    KgPipeline.materializeGraph(triples, tmp, buckets = 8)
    // physical layout: hash-bucket partition dirs on both tables
    def bucketDirs(t: String) = new java.io.File(s"$tmp/$t").listFiles()
      .map(_.getName).filter(_.startsWith("bucket=")).toSeq
    assert(bucketDirs("edges").nonEmpty && bucketDirs("nodes").nonEmpty)
    // edges round-trip exactly (bucket column added, nothing lost/dup'd)
    val edges = spark.read.parquet(s"$tmp/edges")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("subj"), r.getAs[String]("pred"), r.getAs[String]("obj"),
        r.getAs[String]("url"))
    assert(edges.collect().map(key).toSet == triples.collect().map(key).toSet)
    // node table: every subj/obj appears once; Σ out_degree = Σ in_degree = |edges|
    val nodes = spark.read.parquet(s"$tmp/nodes")
    val n = nodes.collect()
    val ids = n.map(_.getAs[String]("node"))
    assert(ids.length == ids.distinct.length)
    val total = triples.count()
    assert(n.map(_.getAs[Long]("out_degree")).sum == total)
    assert(n.map(_.getAs[Long]("in_degree")).sum == total)
  }

  test("runResumable: full-pipeline resume — recompute only stale partitions, output equals direct run") {
    import org.apache.spark.sql.functions.col
    val tmp = tempDir("graft-resume")
    val n1 = KgPipeline.runResumable(spark, sfDir, s"$tmp/triples", s"$tmp/manifest", nParts = 8)
    assert(n1 == 8)
    val n2 = KgPipeline.runResumable(spark, sfDir, s"$tmp/triples", s"$tmp/manifest", nParts = 8)
    assert(n2 == 0) // fully checkpointed: nothing recomputes

    val resumed = spark.read.parquet(s"$tmp/triples")
      .select("subj", "pred", "obj", "url").collect().map(_.toSeq).toSet
    val direct = KgPipeline.run(spark, sfDir, 4)
      .select("subj", "pred", "obj", "url").collect().map(_.toSeq).toSet
    assert(resumed == direct)

    // metrics present per partition
    val man = spark.read.parquet(s"$tmp/manifest")
    assert(man.filter(col("stage") === "kg_triples").count() == 8)
    assert(man.filter(col("rows_out") > 0).count() == 8)
  }

  test("prefix header is byte-identical to the reference's captured output header") {
    val sample = new String(
      Files.readAllBytes(java.nio.file.Paths.get("/root/reference/sample_result.txt")),
      "UTF-8")
    val sampleHeader = sample.linesIterator.take(20).mkString("\n")
    assert(graft.text.SparqlFormat.prefixHeader == sampleHeader)
  }

  test("goldenChangesFile: block layout matches the reference's changes-file grammar") {
    val diff = "DELETE DATA { data:Q1 schema:version \"1\"^^xsd:integer . };\n" +
      "INSERT DATA { data:Q1 schema:version \"2\"^^xsd:integer . };"
    val f = KgPipeline.goldenChangesFile(Seq(("Q1", 1L, 2L, diff)))
    // header, blank, change-info element, blank, diff, blank, separator, blank
    assert(f.contains("\nchanges for entity: Q1 between old_revid: 1 and new_revid: 2\n\n"))
    assert(f.contains(diff + "\n\n"))
    assert(f.contains("\n" + "=" * 80 + "\n"))
    // same shape as the captured sample: info line then blank then commands
    val sample = new String(
      Files.readAllBytes(java.nio.file.Paths.get("/root/reference/sample_result.txt")),
      "UTF-8")
    assert(sample.contains("\nchanges for entity: Q108271934 between old_revid: 2289500175 and new_revid: 2289504733\n\n"))
    assert(sample.contains("\n" + "=" * 80 + "\n"))
  }

  test("manifest: stage resumes — second run computes zero partitions, changed input invalidates") {
    val tmp = tempDir("graft-manifest")
    val input = Tables.pages(spark, sfDir).toDF()
      .select(col("url"), col("text"), col("lang"))
    val stageFn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.withColumn("n_tokens", size(split(col("text"), " ")))

    val n1 = Manifest.runStage(spark, input, "url", 8, "tokenize", s"$tmp/out", s"$tmp/manifest")(stageFn)
    assert(n1 == 8)
    val rows1 = spark.read.parquet(s"$tmp/out").count()
    assert(rows1 == input.count())

    // resume: nothing pending
    val n2 = Manifest.runStage(spark, input, "url", 8, "tokenize", s"$tmp/out", s"$tmp/manifest")(stageFn)
    assert(n2 == 0)

    // changed input (one url dropped) → only affected partitions recompute
    val input2 = input.filter(col("url") =!= "https://example.org/src0/doc0")
    val n3 = Manifest.runStage(spark, input2, "url", 8, "tokenize", s"$tmp/out", s"$tmp/manifest")(stageFn)
    assert(n3 >= 1 && n3 < 8)

    // manifest has lineage metrics
    val man = spark.read.parquet(s"$tmp/manifest")
    assert(man.columns.toSet == Manifest.schemaCols.toSet)
    assert(man.filter(col("rows_out") > 0).count() > 0)

    // recomputed partitions must NOT stay pending (latest-row-wins: the
    // superseded fingerprint row is ignored) — a 4th run computes nothing
    val n4 = Manifest.runStage(spark, input2, "url", 8, "tokenize", s"$tmp/out", s"$tmp/manifest")(stageFn)
    assert(n4 == 0)

    // the fingerprint covers page CONTENT, not just urls: one page's text
    // edited under the same url recomputes, and the landed row is the new one
    def run1(df: org.apache.spark.sql.DataFrame) =
      Manifest.runStage(spark, df, "url", 1, "tokenize", s"$tmp/out1", s"$tmp/manifest1")(stageFn)
    def landed(url: String) = spark.read.parquet(s"$tmp/out1").filter(col("url") === url)
      .select("text").collect().map(_.getString(0)).toSeq
    val u = input2.select("url").head().getString(0)
    assert(run1(input2) == 1)
    val edited = input2.withColumn("text",
      when(col("url") === u, concat(col("text"), lit(" edited"))).otherwise(col("text")))
    assert(run1(edited) == 1)
    assert(landed(u).size == 1 && landed(u).head.endsWith(" edited"))
    // two IDENTICAL rows under a new url cancel in the xor fingerprint;
    // the row count still marks the partition stale, and both rows land
    val nu = "https://example.org/new/doc"
    val twoNew = edited.union(spark.range(2).select(lit(nu).as("url"), lit("a b").as("text"), lit("en").as("lang")))
    assert(run1(twoNew) == 1)
    assert(landed(nu) == Seq("a b", "a b"))
    assert(run1(twoNew) == 0)
  }

  test("manifest: two identical rows replaced by two other identical rows recompute their partition") {
    import spark.implicits._
    val tmp = tempDir("graft-manifest-multiset")
    val id: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = df => df
    def run(input: org.apache.spark.sql.DataFrame, manifest: String) =
      Manifest.runStage(spark, input, "url", 4, "s", s"$tmp/out", manifest)(id)
    val others = (0 until 16).map(i => (s"https://example.org/o/$i", "x")).toDF("url", "text")
    val u = "https://example.org/twice"
    def twice(text: String) = others.union(Seq((u, text), (u, text)).toDF("url", "text"))
    def landed = spark.read.parquet(s"$tmp/out").filter(col("url") === u)
      .select("text").as[String].collect().toSeq

    assert(run(twice("a"), s"$tmp/manifest") == 4)
    // same xor fingerprint (the pair cancels), same row count: only the
    // sum lane sees the change
    assert(run(twice("b"), s"$tmp/manifest") == 1)
    assert(landed == Seq("b", "b"))
    assert(run(twice("b"), s"$tmp/manifest") == 0)

    // a log written before the sum lane existed reads it as null: every
    // partition recomputes once, then the resume is a no-op again
    spark.read.parquet(s"$tmp/manifest").drop("input_sum").write.parquet(s"$tmp/old")
    assert(run(twice("b"), s"$tmp/old") == 4)
    assert(run(twice("b"), s"$tmp/old") == 0)
  }

  test("manifest: empty recompute clears stale partition files; vanished keys are orphaned") {
    import spark.implicits._
    val tmp = tempDir("graft-manifest2")
    def mkInput(urls: Seq[String]) = urls.toDF("url").withColumn("payload", length(col("url")))
    val urls = (0 until 64).map(i => s"https://example.org/u/$i")
    val id: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = df => df

    val n1 = Manifest.runStage(spark, mkInput(urls), "url", 4, "s", s"$tmp/out", s"$tmp/manifest")(id)
    assert(n1 == 4)
    assert(spark.read.parquet(s"$tmp/out").count() == 64)

    // same keys, but the transform now yields ZERO rows for every partition:
    // stale files must be cleared, rows_out must read 0 (not last run's rows)
    val urls2 = urls.map(_ + "x") // every partition's fingerprint changes, keys may shift
    val empty: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.filter(lit(false))
    Manifest.runStage(spark, mkInput(urls2), "url", 4, "s", s"$tmp/out", s"$tmp/manifest")(empty)
    def diskKeys(): Set[String] = new java.io.File(s"$tmp/out").listFiles()
      .map(_.getName).filter(_.startsWith("part_key=")).toSet
    assert(diskKeys().isEmpty) // stale files cleared, nothing rewritten
    val latestOk = Manifest.latestRows(spark.read.parquet(s"$tmp/manifest"), "s")
      .filter(col("status") === "ok")
    assert(latestOk.agg(sum("rows_out")).head().getLong(0) == 0L)

    // input shrinks to keys hashing into ONE partition: the other on-disk
    // partitions are orphans — dirs deleted, `orphaned` rows appended, and a
    // reappearing key recomputes (latest row is non-ok)
    val n3 = Manifest.runStage(spark, mkInput(urls), "url", 4, "s", s"$tmp/out", s"$tmp/manifest")(id)
    assert(n3 == 4 && spark.read.parquet(s"$tmp/out").count() == 64)
    val one = mkInput(urls).withColumn("pk", Manifest.partKey(col("url"), 4))
    val keepKey = one.select("pk").head().getLong(0)
    val shrunk = one.filter(col("pk") === keepKey).drop("pk")
    Manifest.runStage(spark, shrunk, "url", 4, "s", s"$tmp/out", s"$tmp/manifest")(id)
    assert(diskKeys() == Set(s"part_key=$keepKey")) // orphan dirs gone
    assert(spark.read.parquet(s"$tmp/out").count() == shrunk.count())
    // full input returns → the orphaned keys recompute and the output is whole again
    val n5 = Manifest.runStage(spark, mkInput(urls), "url", 4, "s", s"$tmp/out", s"$tmp/manifest")(id)
    assert(n5 == 3 && spark.read.parquet(s"$tmp/out").count() == 64)
  }

  test("incremental KG landing: day-2 leaves day-1 files byte-untouched; merged equals one-shot; lineage audits; day re-run idempotent") {
    val tmp = tempDir("graft-kg-incr")
    val p = s"$tmp/triples"
    val pagesA = Tables.pagesWhere(spark, sfDir, col("doc_id") % 2 === 0)
    val pagesB = Tables.pagesWhere(spark, sfDir, col("doc_id") % 2 === 1)

    KgPipeline.writeTriplesBatch(spark, pagesA, p, 0)
    def day1Files: Set[(String, Long, Long)] = {
      val d = new java.io.File(s"$p/batch=0")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    }
    val before = day1Files
    assert(before.nonEmpty)

    KgPipeline.writeTriplesBatch(spark, pagesB, p, 1)
    // the append-day landing never re-reads or rewrites yesterday's partition
    assert(day1Files == before, "day-2 landing touched day-1 partition files")

    def tripleSet(df: org.apache.spark.sql.DataFrame) = df
      .select("subj", "pred", "obj", "url", "ts").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getTimestamp(4))).toSet
    val merged = tripleSet(spark.read.parquet(p))
    val oneShot = tripleSet(KgPipeline.run(spark, sfDir, numPartitions = 4))
    assert(merged == oneShot && oneShot.nonEmpty,
      s"merged=${merged.size} oneShot=${oneShot.size}")

    // the lineage log covers the full page set exactly once — and with zero
    // IO against the layout's data files
    assert(Tables.auditLayoutLineage(spark, p, Tables.pages(spark, sfDir).toDF(), "url"))

    // a day's re-run is idempotent END TO END: dynamic overwrite rewrites
    // ONLY that day's partition, merged rows unchanged — and the lineage
    // row is SUPERSEDED (idempotency-keyed overwrite), not double-appended,
    // so the audit still vouches for the byte-correct layout
    KgPipeline.writeTriplesBatch(spark, pagesB, p, 1)
    assert(tripleSet(spark.read.parquet(p)) == merged)
    assert(day1Files == before)
    assert(Tables.auditLayoutLineage(spark, p, Tables.pages(spark, sfDir).toDF(), "url"),
      "a re-landed batch double-appended its lineage row")
  }

  test("compaction of a keyed-lineage layout: audit survives, and a later batch RE-LAND still supersedes cleanly") {
    val tmp = tempDir("graft-kg-compact")
    val p = s"$tmp/triples"
    val pagesA = Tables.pagesWhere(spark, sfDir, col("doc_id") % 2 === 0)
    val pagesB = Tables.pagesWhere(spark, sfDir, col("doc_id") % 2 =!= 0)
    KgPipeline.writeTriplesBatch(spark, pagesA, p, 0)
    KgPipeline.writeTriplesBatch(spark, pagesB, p, 1)
    def tripleSet = spark.read.parquet(p)
      .select("subj", "pred", "obj", "url", "ts").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getTimestamp(4))).toSet
    val before = tripleSet
    val allPages = Tables.pages(spark, sfDir).toDF()
    assert(Tables.auditLayoutLineage(spark, p, allPages, "url"))

    // compact: the keyed lineage log must be carried UNCHANGED — an
    // aggregated compact row would break the re-land supersedability below
    Tables.compactLayout(spark, p, "batch")
    assert(tripleSet == before)
    assert(Tables.auditLayoutLineage(spark, p, allPages, "url"))

    // the crash-recovery re-land AFTER compaction: batch 1's keyed lineage
    // row must supersede (not double-append next to) the carried log
    KgPipeline.writeTriplesBatch(spark, pagesB, p, 1)
    assert(tripleSet == before)
    assert(Tables.auditLayoutLineage(spark, p, allPages, "url"),
      "re-land after compaction broke the lineage audit")
  }

  test("semigroupMerge property: for seeded random batches and arbitrary splits, merge of batch aggregates == direct aggregate") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // rows over a small key domain so every regime occurs: keys on one
    // side only, both sides, repeated within a side
    val rows = (0 until 400).map(_ => (s"k${rnd.nextInt(12)}", rnd.nextInt(1000).toLong))
    def agg(xs: Seq[(String, Long)]) = xs.toDF("k", "v")
      .groupBy("k").agg(
        org.apache.spark.sql.functions.sum("v").as("s"),
        org.apache.spark.sql.functions.min("v").as("mn"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val ops = Seq(
      "s" -> ((x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) => x + y),
      "mn" -> ((x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
        org.apache.spark.sql.functions.least(x, y)),
      "n" -> ((x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) => x + y))
    // three different (uneven, non-parity) split points
    Seq(1, 137, 399).foreach { cut =>
      val (a, b) = rows.splitAt(cut)
      val merged = toMap(KgPipeline.semigroupMerge(agg(a), agg(b), "k", ops))
      val direct = toMap(agg(rows))
      assert(merged == direct, s"cut=$cut merged=${merged.size} direct=${direct.size}")
    }
  }

  test("mergeNodeTables: degree-sum merge of batch-disjoint aggregates equals the full recompute") {
    val tri = KgPipeline.run(spark, sfDir, numPartitions = 4).cache()
    val a = tri.filter(col("url").endsWith("0") || col("url").endsWith("2") ||
      col("url").endsWith("4") || col("url").endsWith("6") || col("url").endsWith("8"))
    val b = tri.except(a)
    def nodeSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val mergedNodes = nodeSet(
      KgPipeline.mergeNodeTables(KgPipeline.nodeTable(a), KgPipeline.nodeTable(b)))
    val full = nodeSet(KgPipeline.nodeTable(tri))
    assert(mergedNodes == full && full.nonEmpty)
    tri.unpersist()
  }

  test("nodeTable property: degrees and source counts equal a Scala count over the triples") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // subjects Q0-Q7, objects Q4-Q11: nodes only as subject, only as object
    // and as both; the first 20 triples appear twice
    val once = (0 until 300).map(_ =>
      (s"wd:Q${rnd.nextInt(8)}", "wdt:P1002", s"wd:Q${4 + rnd.nextInt(8)}", s"u${rnd.nextInt(5)}"))
    val tri = once ++ once.take(20)
    val want = (tri.map(_._1) ++ tri.map(_._3)).distinct.map { n =>
      (n, tri.count(_._1 == n).toLong, tri.count(_._3 == n).toLong,
        tri.filter(_._1 == n).map(_._4).distinct.size.toLong)
    }.toSet
    assert(want.exists { case (_, out, in, urls) => out == 0 && in > 0 && urls == 0 })
    assert(want.exists { case (_, out, in, _) => out > 0 && in > 0 })
    val got = KgPipeline.nodeTable(tri.toDF("subj", "pred", "obj", "url")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("sumMerge property: equals a Scala per-key merge under semigroupMerge's one-side and null rules") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // (key, nullable Long, Int) states over a small key domain: keys on one
    // side only, keys on both sides, null values on one side
    def state(): Map[String, (Option[Long], Int)] = Seq.fill(10)(s"k${rnd.nextInt(15)}").distinct
      .map(k => k -> ((if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(100).toLong)), rnd.nextInt(100)))
      .toMap
    val (a, b) = (state(), state())
    val want = (a.keySet ++ b.keySet).map { k =>
      (a.get(k), b.get(k)) match {
        case (Some((v, n)), None) => (k, v, n)
        case (None, Some((v, n))) => (k, v, n)
        case (Some((v1, n1)), Some((v2, n2))) => (k, (v1 ++ v2).reduceOption(_ + _), n1 + n2)
        case (None, None) => sys.error("unreachable")
      }
    }
    val shared = a.keySet & b.keySet
    assert((a.keySet ++ b.keySet) != shared && shared.nonEmpty)
    assert(shared.exists(k => a(k)._1.isEmpty != b(k)._1.isEmpty))
    def df(m: Map[String, (Option[Long], Int)]) =
      m.toSeq.map { case (k, (v, n)) => (k, v, n) }.toDF("k", "v", "n")
    val merged = KgPipeline.sumMerge(df(a), df(b), "k", Seq("v", "n"))
    assert(merged.schema.map(_.dataType) == df(a).schema.map(_.dataType))
    val got = merged.collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getInt(2))).toSet
    assert(got == want)
  }

  test("latest-row reader property: the newest run_seq per (stage, part_key) wins, whatever the append order") {
    val log = s"${tempDir("graft-manifest-latest")}/log"
    val rnd = new scala.util.Random(17)
    // twelve appends with increasing run_seq, written in shuffled order, over
    // two stages and three keys, each row's rows_in = its append index
    val appends = (0 until 12).map { i =>
      (Manifest.nextRunSeq(), if (rnd.nextBoolean()) "s" else "t",
        if (rnd.nextInt(3) == 0) "orphaned" else "ok", (0L until 3L).filter(_ => rnd.nextBoolean()), i.toLong)
    }
    // plus key 9 of stage s: a superseded ok row, and key 10: an orphaned
    // row newer than an ok row (written first, so file order cannot decide)
    val fixed = Seq(
      (Manifest.nextRunSeq(), "s", "ok", Seq(9L, 10L), 100L),
      (Manifest.nextRunSeq(), "s", "ok", Seq(9L), 101L),
      (Manifest.nextRunSeq(), "s", "orphaned", Seq(10L), 102L))
    val all = appends ++ fixed
    rnd.shuffle(appends).foreach { case (seq, stage, status, keys, i) =>
      Manifest.append(spark, log, stage, status, seq, keys.map(k => Map("part_key" -> k, "rows_in" -> i)))
    }
    fixed.reverse.foreach { case (seq, stage, status, keys, i) =>
      Manifest.append(spark, log, stage, status, seq, keys.map(k => Map("part_key" -> k, "rows_in" -> i)))
    }
    val want = all.flatMap { case (seq, stage, status, keys, i) => keys.map(k => ((stage, k), (seq, status, i))) }
      .groupBy(_._1).map { case (key, rows) => key -> rows.map(_._2).maxBy(_._1) }
    assert(want(("s", 9L)) == ((fixed(1)._1, "ok", 101L)))
    assert(want(("s", 10L)) == ((fixed(2)._1, "orphaned", 102L)))
    def read(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[String]("stage"), r.getAs[Long]("part_key")) ->
        ((r.getAs[Long]("run_seq"), r.getAs[String]("status"), r.getAs[Long]("rows_in")))).toMap
    assert(read(Manifest.latestRows(spark, log)) == want)
    assert(read(Manifest.latestRows(spark.read.parquet(log), "s")) == want.filter(_._1._1 == "s"))
  }
}
