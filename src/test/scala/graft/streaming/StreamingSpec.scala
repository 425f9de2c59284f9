package graft.streaming

import graft.SparkSpec
import graft.operators.Ann
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  test("AvailableNow drain: windowed counts land in the sink and match batch") {
    val tmp = tempDir("graft-stream")
    val srcDir = s"$tmp/src"
    new java.io.File(srcDir).mkdirs()
    // stage the events parquet as the stream source dir
    val batch = spark.read.parquet(s"$sfDir/events.parquet")
    batch.write.mode("overwrite").parquet(srcDir)

    val agg = StreamIngest.windowedCounts(StreamIngest.readEvents(spark, srcDir))
    StreamIngest.runAvailableNow(agg, s"$tmp/ckpt", s"$tmp/out")

    val streamed = spark.read.parquet(s"$tmp/out")
      .groupBy().agg(sum("n_events")).head().getLong(0)
    // append-mode emits only watermark-closed windows; the final window(s)
    // may be withheld, so streamed ≤ batch and covers most of it
    val total = batch.count()
    assert(streamed <= total && streamed > total / 2)

    // second drain with same checkpoint: no duplicate output
    StreamIngest.runAvailableNow(agg, s"$tmp/ckpt", s"$tmp/out")
    val streamed2 = spark.read.parquet(s"$tmp/out")
      .groupBy().agg(sum("n_events")).head().getLong(0)
    assert(streamed2 == streamed)
  }

  test("stream-stream interval join: full drain equals the batch interval join row for row") {
    val tmp = tempDir("graft-ssjoin")
    val srcDir = s"$tmp/src"
    new java.io.File(srcDir).mkdirs()
    spark.read.parquet(s"$sfDir/events.parquet").write.mode("overwrite").parquet(srcDir)

    val joined = StreamIngest.streamIntervalJoin(spark, srcDir)
    StreamIngest.runAvailableNow(joined, s"$tmp/ckpt", s"$tmp/out")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = key(spark.read.parquet(s"$tmp/out"))
    val batch = key(graft.Queries.q78IntervalJoin(spark, sfDir))
    assert(streamed == batch && batch.nonEmpty,
      s"streamed=${streamed.size} batch=${batch.size}")
  }

  test("ANN serving drain: streamed top-k equals the batched IVF probe; re-drain appends nothing") {
    import spark.implicits._
    val tmp = tempDir("graft-annserve")
    val layout = s"$tmp/ivf"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    Ann.writeLayout(spark, Ann.ivf(nCells = 16), emb, "vec_id", "embedding", layout)
    // the "query stream": the first 8 vectors arriving as a file batch
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("long").as("query_id"), col("embedding"))
    queries.write.mode("overwrite").parquet(s"$tmp/queries")
    StreamIngest.runAnnServe(spark, Ann.ivf(), s"$tmp/queries", layout, s"$tmp/ckpt", s"$tmp/out")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val served = key(spark.read.parquet(s"$tmp/out"))
    val batch = key(Ann.multiQueryTopK(
      spark, Ann.ivf(), Ann.stored(spark, Ann.ivf(), layout), "vec_id", "embedding",
      queries.as[(Long, Array[Float])].collect().sortBy(_._1), k = 20))
    assert(served == batch && batch.nonEmpty, s"served=${served.size} batch=${batch.size}")
    // exactly-once: a second drain from the same checkpoint answers nothing new
    StreamIngest.runAnnServe(spark, Ann.ivf(), s"$tmp/queries", layout, s"$tmp/ckpt", s"$tmp/out")
    assert(key(spark.read.parquet(s"$tmp/out")) == served)
  }

  test("streaming KG landing: drained layout equals the batch pipeline; re-drain changes nothing; lineage audits") {
    import graft.sources.Tables
    val tmp = tempDir("graft-kgland")
    val pages = Tables.pages(spark, sfDir).toDF()
    pages.write.mode("overwrite").parquet(s"$tmp/pages")

    StreamIngest.runKgLand(spark, s"$tmp/pages", s"$tmp/layout", s"$tmp/ckpt")
    def tripleSet = spark.read.parquet(s"$tmp/layout")
      .select("subj", "pred", "obj", "url", "ts").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getTimestamp(4))).toSet
    val landed = tripleSet
    val batch = graft.pipeline.KgPipeline.run(spark, sfDir, numPartitions = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getTimestamp(4))).toSet
    assert(landed == batch && batch.nonEmpty, s"landed=${landed.size} batch=${batch.size}")
    // the lineage log covers the page set exactly once across micro-batches
    assert(Tables.auditLayoutLineage(spark, s"$tmp/layout", pages, "url"))
    // exactly-once landing: a re-drain from the same checkpoint changes nothing
    StreamIngest.runKgLand(spark, s"$tmp/pages", s"$tmp/layout", s"$tmp/ckpt")
    assert(tripleSet == landed)
    assert(Tables.auditLayoutLineage(spark, s"$tmp/layout", pages, "url"))
  }

  test("a second runKgLand drain reuses the first drain's generated code") {
    import graft.sources.Tables
    import org.apache.spark.metrics.source.CodegenMetrics
    import java.nio.file.{Files, Paths}
    val tmp = tempDir("graft-kgland-codegen")
    val pages = Tables.pages(spark, sfDir).toDF()
    val half = pmod(xxhash64(col("url")), lit(2))
    // both drops are written before the first drain and moved into the
    // source dir by a file rename, so no Spark job runs between the drains
    pages.filter(half === 0).write.parquet(s"$tmp/drop1")
    pages.filter(half === 1).write.parquet(s"$tmp/drop2")
    Files.createDirectories(Paths.get(s"$tmp/pages"))
    def drop(name: String): Unit = new java.io.File(s"$tmp/$name").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.move(f.toPath, Paths.get(s"$tmp/pages/$name-${f.getName}")))
    def drain(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      StreamIngest.runKgLand(spark, s"$tmp/pages", s"$tmp/layout", s"$tmp/ckpt")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    drop("drop1")
    drain()
    drop("drop2")
    // every generated class of the landing and lineage plans is served from
    // Spark's codegen cache; a drain that ran them in its own cloned session
    // (a class loader per run), or inlined its batch id or run_seq as a
    // Long literal, would compile ~15 classes here
    val compiled = drain()
    assert(compiled == 0, s"the second drain compiled $compiled classes")
    assert(spark.read.parquet(s"$tmp/layout").select("batch").distinct().count() == 2)
    assert(Tables.auditLayoutLineage(spark, s"$tmp/layout", pages, "url"))
  }

  test("streaming CONTENT dedup: kept fingerprints equal batch exact-dedup survivors; replay drains nothing") {
    val tmp = tempDir("graft-contentdedup")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // plant replay duplicates: 20 docs re-delivered under new ids with
    // byte-different whitespace/case but identical NORMALIZED content — the
    // case contentFingerprint exists for
    val replayed = docs.limit(20)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .withColumn("text", upper(concat(lit("  "), col("text"), lit(" "))))
    docs.unionByName(replayed).write.mode("overwrite").parquet(s"$tmp/docs")

    val dd = StreamIngest.streamDedupDocs(spark, s"$tmp/docs")
    StreamIngest.runAvailableNow(dd, s"$tmp/ckpt", s"$tmp/out")
    val kept = spark.read.parquet(s"$tmp/out")
    val keptFps = kept.select("fp").collect().map(_.getString(0)).toSet
    // exactly ONE survivor per distinct normalized content — the planted
    // replays (distinct doc_ids, same fp) were dropped by keyed state
    assert(kept.count() == keptFps.size.toLong)
    val batchFps = docs.select(
      graft.operators.Dedup.contentFingerprint(col("text")).as("fp"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(keptFps == batchFps && batchFps.nonEmpty,
      s"kept=${keptFps.size} batch=${batchFps.size}")
    // the case-folded replays really did collide with their originals: the
    // mangled texts normalize to fingerprints the ORIGINAL corpus already
    // has (this is the assertion that fails if contentFingerprint stops
    // normalizing case/whitespace)
    val replayFps = replayed
      .select(graft.operators.Dedup.contentFingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0)).toSet
    assert(replayFps.nonEmpty && replayFps.subsetOf(batchFps),
      s"replays did not collide: ${(replayFps -- batchFps).size} novel fps")

    // exactly-once: a re-drain from the same checkpoint emits nothing
    StreamIngest.runAvailableNow(dd, s"$tmp/ckpt", s"$tmp/out")
    assert(spark.read.parquet(s"$tmp/out").count() == keptFps.size.toLong)
  }

  test("ANN serving over the IVF-PQ layout: per-query rows equal independent ivfPqTopK probes; re-drain appends nothing") {
    import spark.implicits._
    val tmp = tempDir("graft-annserve-pq")
    val layout = s"$tmp/ivfpq"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    Ann.writeLayout(spark, Ann.ivfPq(), emb, "vec_id", "embedding", layout)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long").as("query_id"), col("embedding"))
    queries.write.mode("overwrite").parquet(s"$tmp/queries")
    StreamIngest.runAnnServe(spark, Ann.ivfPq(), s"$tmp/queries", layout, s"$tmp/ckpt", s"$tmp/out")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val served = key(spark.read.parquet(s"$tmp/out")
      .select("query_id", "vec_id", "pq_dot", "rank"))
    // each served query must equal its INDEPENDENT single-query compressed
    // probe (the q73-gated path) — the batched serving loop is pure IO
    // sharing, never a result change
    val expected = queries.as[(Long, Array[Float])].collect().flatMap { case (qid, qv) =>
      Ann.topK(spark, Ann.ivfPq(), Ann.stored(spark, Ann.ivfPq(), layout), "vec_id", "embedding", qv, k = 20)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), r.getLong(1), (i + 1).toLong) }
    }.toSet
    assert(served == expected && expected.nonEmpty,
      s"served=${served.size} expected=${expected.size}")
    // exactly-once: second drain from the same checkpoint answers nothing new
    StreamIngest.runAnnServe(spark, Ann.ivfPq(), s"$tmp/queries", layout, s"$tmp/ckpt", s"$tmp/out")
    assert(key(spark.read.parquet(s"$tmp/out")
      .select("query_id", "vec_id", "pq_dot", "rank")) == served)
  }

  test("streaming recipe (sample + upsample): drain equals the batch recipe row for row") {
    import spark.implicits._
    val tmp = tempDir("graft-recipe")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.write.mode("overwrite").parquet(s"$tmp/docs")
    val rate = lit(1000L) - lit(45L) * pmod(expr("cast(substr(source, 4) as bigint)"), lit(20L))
    val weight = pmod(col("doc_id"), lit(3L)) // weights 0..2 — the 0 drop path included
    val streamed = StreamIngest.streamRecipe(spark, s"$tmp/docs", rate, weight)
    StreamIngest.runAvailableNow(streamed, s"$tmp/ckpt", s"$tmp/out")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "source", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    val got = key(spark.read.parquet(s"$tmp/out"))
    val want = key(graft.operators.Curation.upsample(
      graft.operators.Curation.stratifiedSample(docs, "doc_id", rate), weight)
      .select(col("doc_id").cast("long"), col("source"), col("epoch")))
    assert(got == want && got.nonEmpty, s"streamed=${got.size} batch=${want.size}")
  }

  test("ANN serving: an oversized micro-batch fails fast on the query-collect bound") {
    val tmp = tempDir("graft-annserve-guard")
    val layout = s"$tmp/ivf"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    Ann.writeLayout(spark, Ann.ivf(nCells = 16), emb, "vec_id", "embedding", layout)
    emb.select(col("vec_id").cast("long").as("query_id"), col("embedding"))
      .limit(10).write.mode("overwrite").parquet(s"$tmp/queries")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamIngest.runAnnServe(spark, Ann.ivf(), s"$tmp/queries", layout, s"$tmp/ckpt", s"$tmp/out",
        maxBatchQueries = 4)
    }
    assert(e.getMessage.contains("serving batch") ||
      Option(e.getCause).exists(c => String.valueOf(c.getMessage).contains("serving batch")))
  }

  test("sessionizeStateful (flatMapGroupsWithState) agrees with sessionize on real events") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val a = StreamIngest.sessionize(spark, ev, 30)
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString, r.getInt(3))).toSet
    val b = StreamIngest.sessionizeStateful(spark, ev, 30)
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString, r.getInt(3))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("sessionize: gap splits sessions per user deterministically") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-01-01 10:00:00")),
      (1L, t("2024-01-01 10:10:00")),
      (1L, t("2024-01-01 11:30:00")), // > 30 min gap → new session
      (2L, t("2024-01-01 09:00:00"))
    ).toDF("user_id", "ts")
    val out = StreamIngest.sessionize(spark, ev, gapMinutes = 30)
      .collect().map(r => (r.getLong(0), r.getAs[java.sql.Timestamp](1).toString, r.getInt(3)))
      .toSet
    assert(out == Set(
      (1L, "2024-01-01 10:00:00.0", 2),
      (1L, "2024-01-01 11:30:00.0", 1),
      (2L, "2024-01-01 09:00:00.0", 1)
    ))
  }

  test("streaming KG pipeline: AvailableNow drain produces exactly the batch triple set") {
    val tmp = tempDir("graft-stream-kg")
    // stage the synthesized page table as the stream source
    graft.sources.Tables.pages(spark, sfDir).toDF()
      .write.mode("overwrite").parquet(s"$tmp/pages")
    val triples = StreamIngest.streamTriples(spark, s"$tmp/pages")
    StreamIngest.runAvailableNow(triples, s"$tmp/ckpt", s"$tmp/out")

    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("subj"), r.getAs[String]("pred"), r.getAs[String]("obj"),
        r.getAs[String]("url"), r.getAs[java.sql.Timestamp]("ts").getTime)
    val streamed = spark.read.parquet(s"$tmp/out").collect().map(key).toSet
    val batch = graft.pipeline.KgPipeline.run(spark, sfDir).collect().map(key).toSet
    assert(streamed == batch && streamed.nonEmpty)

    // second drain with the same checkpoint: no new rows (exactly-once)
    StreamIngest.runAvailableNow(triples, s"$tmp/ckpt", s"$tmp/out")
    assert(spark.read.parquet(s"$tmp/out").count() == streamed.size)
  }

  test("mid-stream restart: files added between drains are picked up exactly once") {
    val tmp = tempDir("graft-stream-restart")
    val src = s"$tmp/pages"
    val pages = graft.sources.Tables.pages(spark, sfDir).toDF()
    val first = pages.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
    val later = pages.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
    first.write.mode("overwrite").parquet(src)

    val triples = StreamIngest.streamTriples(spark, src)
    // drain 1, then the query terminates (AvailableNow) — that IS the kill
    StreamIngest.runAvailableNow(triples, s"$tmp/ckpt", s"$tmp/out")
    val afterFirst = spark.read.parquet(s"$tmp/out").count()

    // NEW files land in the source dir while no query is running
    later.write.mode("append").parquet(src)

    // restart from the same checkpoint: only the new files replay
    StreamIngest.runAvailableNow(triples, s"$tmp/ckpt", s"$tmp/out")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("subj"), r.getAs[String]("pred"), r.getAs[String]("obj"),
        r.getAs[String]("url"), r.getAs[java.sql.Timestamp]("ts").getTime)
    val out = spark.read.parquet(s"$tmp/out").collect().map(key)
    val batch = graft.pipeline.KgPipeline.run(spark, sfDir).collect().map(key).toSet
    // exactly the union — nothing missed, nothing replayed twice
    assert(out.length == out.toSet.size, "duplicate rows after restart")
    assert(out.toSet == batch, "restart output != batch over the full corpus")
    assert(afterFirst > 0 && afterFirst < out.length, "both drains must contribute")

    // a third drain with no new files adds nothing
    StreamIngest.runAvailableNow(triples, s"$tmp/ckpt", s"$tmp/out")
    assert(spark.read.parquet(s"$tmp/out").count() == out.length)
  }

  test("streaming curation: AvailableNow drain equals the batch filter chain row for row") {
    import spark.implicits._
    val tmp = tempDir("graft-stream-curate")
    // canaried corpus (the q65/q67 fixture): eval docs (id%100==0) and the
    // id%10==3 train docs share an 8-word canary gram
    val canaried = graft.sources.Tables.read(spark, sfDir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 10 === 3,
        concat(col("text"), lit(" decontamination canary phrase number "),
          col("doc_id") % 5, lit(" alpha beta gamma delta")))
        .when(col("doc_id") % 100 === 0,
          concat(col("text"), lit(" decontamination canary phrase number "),
            col("doc_id").divide(lit(100)).cast("bigint") % 5, lit(" alpha beta gamma delta")))
        .otherwise(col("text")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    canaried.write.mode("overwrite").parquet(s"$tmp/docs")
    val evalGrams = graft.operators.Curation.evalGramSet(
      canaried, "text", col("doc_id") % 100 === 0)
    val curated = StreamIngest.streamCurate(spark, s"$tmp/docs", evalGrams)
    StreamIngest.runAvailableNow(curated, s"$tmp/ckpt", s"$tmp/out")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[String]("lang_pred"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("rep_micro"))
    val streamed = spark.read.parquet(s"$tmp/out").collect().map(key).toSet
    // batch reference: the SAME shared kernel executed as a batch plan over
    // the same files — the assertion is batch-vs-stream EXECUTION parity of
    // one definition, not two hand-kept copies
    import graft.operators.Curation
    val gramsB = spark.sparkContext.broadcast(evalGrams)
    val batch = Curation.metrics(spark.read.parquet(s"$tmp/docs"), "doc_id", "text", gramsB)
      .filter(Curation.keepFilter)
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"), col("rep_micro"))
      .collect().map(key).toSet
    val total = spark.read.parquet(s"$tmp/docs").count()
    assert(streamed == batch && streamed.nonEmpty && streamed.size < total)
    // second drain: exactly-once, nothing replays
    StreamIngest.runAvailableNow(curated, s"$tmp/ckpt", s"$tmp/out")
    assert(spark.read.parquet(s"$tmp/out").count() == streamed.size)
  }

  test("streaming dedup: replayed duplicates within the watermark are dropped exactly once") {
    import spark.implicits._
    val tmp = tempDir("graft-stream-dedup")
    val events = graft.sources.Tables.read(spark, sfDir, "events").limit(2000)
    events.write.mode("overwrite").parquet(s"$tmp/events")
    // a replaying upstream: half the events land AGAIN as a second file
    events.filter(col("event_id") % 2 === 0).write.mode("append").parquet(s"$tmp/events")
    val deduped = StreamIngest.streamDedupEvents(spark, s"$tmp/events")
    StreamIngest.runAvailableNow(deduped, s"$tmp/ckpt", s"$tmp/out")
    val out = spark.read.parquet(s"$tmp/out").select("event_id").collect().map(_.getLong(0))
    val batch = events.select("event_id").distinct().collect().map(_.getLong(0)).toSet
    assert(out.length == out.toSet.size, "duplicates survived the streaming dedup")
    assert(out.toSet == batch, "streaming dedup != batch distinct over the same events")
  }

  test("sessionizeSorted agrees with sessionize on real events") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val a = StreamIngest.sessionize(spark, ev, 30)
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString, r.getInt(3))).toSet
    val b = StreamIngest.sessionizeSorted(spark, ev, 30)
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString, r.getInt(3))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("sessionizeSorted: pathological bot key (200k events, one user) stays bounded") {
    import spark.implicits._
    // one degenerate key with 200k events split into 2k sessions by gap —
    // the secondary-sort path streams over the sorted run holding ONE open
    // session (O(1) per key; Spark's external sort spills), so this is the
    // skew shape that OOMs a per-key-array implementation at scale, passing
    // through the bounded-memory path instead.
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val ev = spark.range(200000).select(
      lit(7L).as("user_id"),
      // 100 events per session burst (1s apart), bursts 1h apart
      expr(s"timestamp_millis(${base}L + (id DIV 100) * 3600000 + (id % 100) * 1000)").as("ts")
    )
    val out = StreamIngest.sessionizeSorted(spark, ev, gapMinutes = 30, numPartitions = 4)
    val agg = out.agg(count(lit(1)), sum("n_events"), max("n_events")).head()
    assert(agg.getLong(0) == 2000L)   // 2000 sessions
    assert(agg.getLong(1) == 200000L) // every event accounted for
    assert(agg.getInt(2) == 100)      // each session exactly one burst
  }
}
