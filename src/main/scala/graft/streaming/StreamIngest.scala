package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Incremental ingestion surface. The reference is poll-batch — one bounded
  * recentchanges window per invocation, ≤501 records, no cross-run state
  * (/root/reference/src/wikidata_update/get_updates.py:104-136, 1158) — so
  * the faithful scale-up is Structured Streaming with
  * `Trigger.AvailableNow`: drain all currently-available input as a bounded
  * run, keep offsets in the checkpoint, exit; the next invocation resumes
  * from the recorded offsets (the poll-batch contract, minus the 501 cap).
  *
  * Watermarking bounds state exactly where the reference's 1-month recency
  * window bounds its queries (get_updates.py:1064-1070).
  */
object StreamIngest {

  /** File-source stream over a parquet events directory. */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING"
      )
      .parquet(path)

  /** Windowed change-rate aggregation: tumbling windows per event type with a
    * late-data watermark — the streaming analogue of the reference's
    * time-range batching (F3).
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n_events")
      )

  /** Streaming form of the KG-construction pipeline: a file-source stream of
    * page rows → the page-local triple kernel the batch pipeline runs
    * (KgPipeline.tripleRows) → append sink. Every triple is a function of
    * its own page, so the streaming plan needs NO window or stateful
    * operator — batch and stream produce identical row sets (StreamingSpec
    * asserts equality against KgPipeline.run), and a crashed drain resumes
    * from checkpointed offsets with no duplicate or lost pages.
    */
  def streamTriples(spark: SparkSession, pagesDir: String): DataFrame = {
    import spark.implicits._
    import graft.model.Page
    graft.pipeline.KgPipeline.tripleRows(spark, spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(pagesDir)
      .as[Page]).toDF()
  }

  /** Streaming KG LANDING — the ingest loop a production KG actually runs,
    * joining the streaming and incremental-landing stories: the page stream
    * drains under AvailableNow, and each micro-batch is processed
    * page-locally (valid for the same reason streamTriples is stateless:
    * every triple is a function of its own page) and LANDED into its own
    * `batch` partition of the incremental triple layout via
    * `KgPipeline.writeTriplesBatch`. The stored table therefore grows
    * exactly like the daily batch loop q81 gates — merged layout ==
    * one-shot recompute — and the landing is idempotent per micro-batch: a
    * crash between the partition write and the offset commit re-executes
    * the batch into the SAME `batch=<id>` partition (dynamic overwrite)
    * with a SUPERSEDED lineage row (idempotency key), so the layout holds
    * exactly-once triples and the coverage audit stays true. StreamingSpec
    * proves drain == batch run, re-drain changes nothing, audit passes.
    *
    * PRECONDITION — url-disjoint micro-batches: `dedupTriples` dedups
    * WITHIN a batch, so "merged == one-shot" requires each url's pages to
    * arrive in one micro-batch and never be re-delivered (true for daily
    * file drops partitioned by crawl, and for the q81 batch loop by
    * construction). A re-crawled url across batches lands one row per
    * batch (each with its batch-local min ts) where the one-shot run keeps
    * the global min — dedupe such streams upstream (the
    * `dropDuplicatesWithinWatermark` pattern of streamDedupDocs, keyed on
    * url) or compact the layout periodically with a batch re-dedup.
    */
  def runKgLand(
      spark: SparkSession,
      pagesDir: String,
      layoutPath: String,
      checkpointDir: String
  ): Unit = {
    import graft.model.Page
    val stream = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(pagesDir)
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        import spark.implicits._
        graft.pipeline.KgPipeline.writeTriplesBatch(spark, batch.as[Page], layoutPath, batchId)
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming corpus curation: the q67 filter chain over a file-source
    * stream of document rows. Every metric is per-row — language ID and
    * token count are stateless Column expressions, repetition and the
    * decontamination check are a narrow typed map against the BROADCAST
    * eval-gram set — so the streaming plan needs no state store and batch
    * and stream produce identical filtered rows (StreamingSpec asserts
    * equality). The batch tail (exact-dedup survivor pick) stays batch-side:
    * its streaming analogue is `dropDuplicates` on the digest under a
    * watermark, which trades the min-id survivor guarantee for first-seen.
    */
  def streamCurate(
      spark: SparkSession,
      docsDir: String,
      evalGrams: Set[String],
      n: Int = graft.operators.Curation.GramN
  ): DataFrame = {
    import graft.operators.Curation
    val gramsB = spark.sparkContext.broadcast(evalGrams)
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .parquet(docsDir)
    // the SAME kernel the batch flagship (q67) runs — metrics + thresholds
    // are defined once in Curation, so batch and stream cannot diverge
    Curation.metrics(stream, "doc_id", "text", gramsB, n)
      .filter(Curation.keepFilter)
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"), col("rep_micro"))
  }

  /** Streaming exact dedup — the stateful member of the streaming suite:
    * duplicates arriving within the watermark horizon are dropped by keyed
    * state (`dropDuplicatesWithinWatermark`), which is how a replaying
    * ingest (at-least-once upstream, crash replays) is de-duplicated
    * without holding unbounded state: the watermark BOUNDS the key-state
    * lifetime, exactly where the batch form's digest aggregate would hold
    * every key forever. Keyed on event_id here; a content-dedup variant
    * keys on Dedup.contentFingerprint(text) with the same state bound.
    */
  def streamDedupEvents(
      spark: SparkSession,
      eventsDir: String,
      watermark: String = "2 hours"
  ): DataFrame =
    readEvents(spark, eventsDir)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup — what an ingest pipeline actually wants from
    * the streaming suite: the exact-dedup (q25) twin, keyed on the SAME
    * normalized-content digest (`Dedup.contentFingerprint`) the batch path
    * groups by, under a watermark so the key state is bounded by the
    * horizon instead of growing one entry per distinct document ever seen.
    * A re-crawled or replay-delivered body whose whitespace/case-normalized
    * content matches an already-seen doc inside the horizon is dropped at
    * ingest time.
    *
    * Survivor semantics: FIRST-SEEN within the horizon, vs the batch form's
    * min-id — the same caveat streamCurate documents; StreamingSpec pins
    * the kept fingerprint SET equal to the batch survivors' and proves a
    * checkpointed re-drain emits nothing. `ingest_ts` is the page-table
    * arrival-time formula (deterministic here; a production ingest uses the
    * crawl timestamp column it already carries).
    */
  def streamDedupDocs(
      spark: SparkSession,
      docsDir: String,
      watermark: String = "2 hours"
  ): DataFrame =
    spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .parquet(docsDir)
      .withColumn("fp", graft.operators.Dedup.contentFingerprint(col("text")))
      .withColumn("ingest_ts",
        expr("timestampadd(MINUTE, cast(doc_id as int), timestamp'2024-01-01 00:00:00')"))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .select(col("doc_id"), col("fp"), col("source"))

  /** Watermarked STREAM-STREAM interval join — the remaining §2.10 join
    * shape: clicks matched to the purchases they precede within
    * `gapMinutes`, both sides unbounded streams. The equi-key (user) plus
    * the two-sided time-range predicate is exactly what lets Spark bound
    * each side's join state: a click older than watermark + gap can never
    * match a future purchase, so its state is evicted — without the range
    * bound the state store would grow forever. Inner join, so rows are
    * emitted as soon as both sides arrive; the batch q78 plan is the same
    * logical join, and StreamingSpec asserts a full drain equals it row
    * for row.
    */
  def streamIntervalJoin(
      spark: SparkSession,
      eventsDir: String,
      watermark: String = "2 hours",
      gapMinutes: Int = 30
  ): DataFrame = {
    val clicks = readEvents(spark, eventsDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = readEvents(spark, eventsDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    // the SAME join body the batch q78 runs (shared construction — the
    // "proven equal" twins cannot drift apart)
    graft.Queries.intervalJoin(clicks, purchases, gapMinutes)
  }

  /** Streaming data-recipe tail: deterministic stratified sampling + mixture
    * upsampling over a document stream. Both are STATELESS — the sample
    * membership is the engine-independent md5 bucket (a pure filter) and
    * upsampling is a narrow explode — so batch and stream produce identical
    * rows (StreamingSpec proves it) and the recipe can run at ingest time
    * instead of as a separate batch pass. `ratePermille`/`weight` are
    * Column expressions over the row, exactly as in the batch forms.
    */
  def streamRecipe(
      spark: SparkSession,
      docsDir: String,
      ratePermille: org.apache.spark.sql.Column,
      weight: org.apache.spark.sql.Column
  ): DataFrame = {
    import graft.operators.Curation
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .parquet(docsDir)
    Curation.upsample(Curation.stratifiedSample(stream, "doc_id", ratePermille), weight)
      .select(col("doc_id"), col("source"), col("epoch"))
  }

  /** ANN SERVING under Structured Streaming — the production loop of a
    * vector index: query vectors arrive as a stream, and each micro-batch
    * is answered by ONE probe of the stored layout (`Ann.multiQueryTopK`:
    * the scan's partition filter is the union of the batch's probe sets,
    * per-query membership checked and scored inside the aggregator
    * combine). Over the IVF-PQ layout the per-batch corpus read is
    * codes-only (~32× smaller than the float layout) AND pruned to the
    * union of the batch's probe cells. The per-batch `collect` is of QUERY
    * vectors only — a serving batch is small by definition and
    * `maxBatchQueries` enforces it, LIMIT-bounded in the plan so an
    * oversized batch trips the guard without ever materializing on the
    * driver — while the corpus side stays distributed and file-pruned.
    * The sink is IDEMPOTENT per micro-batch: results land in a
    * `batch_id=<id>` directory written with overwrite, so a crash after
    * the write but before the offset commit re-executes the batch into the
    * SAME directory instead of appending duplicates — exactly-once
    * results, not just exactly-once offsets (StreamingSpec proves each
    * served query's rows equal an independent probe and a re-drain
    * changes nothing).
    */
  def runAnnServe(
      spark: SparkSession,
      layout: graft.operators.Ann.VectorLayout,
      queriesDir: String,
      layoutPath: String,
      checkpointDir: String,
      outPath: String,
      k: Int = 20,
      maxBatchQueries: Int = 1024
  ): Unit = {
    import spark.implicits._
    val stream = spark.readStream
      .schema("query_id BIGINT, embedding ARRAY<FLOAT>")
      .parquet(queriesDir)
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val qs = batch
          .select(col("query_id").cast("long"), col("embedding"))
          .limit(maxBatchQueries + 1)
          .as[(Long, Array[Float])].collect().sortBy(_._1)
        require(qs.length <= maxBatchQueries,
          s"serving batch exceeds $maxBatchQueries queries - " +
            "split the input or raise the bound")
        if (qs.nonEmpty)
          graft.operators.Ann.multiQueryTopK(spark, layout,
              graft.operators.Ann.stored(spark, layout, layoutPath), "vec_id", "embedding", qs, k)
            .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      }
      .start()
    q.awaitTermination()
  }

  /** Bounded drain: process everything currently available, then stop —
    * offsets live in `checkpointDir`, so re-invocation is incremental.
    */
  def runAvailableNow(agg: DataFrame, checkpointDir: String, outPath: String): Unit = {
    val q = agg.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outPath)
      .start()
    q.awaitTermination()
  }

  /** Bounded-memory sessionization — the 100 TB path: secondary sort
    * (repartition on the user hash, sortWithinPartitions by (user, ts) —
    * Spark's external sort spills to disk) + one streaming pass per
    * partition that holds exactly ONE open session, never a key's event
    * array. A degenerate bot key costs O(1) executor memory here, vs
    * O(events-per-key) in `sessionize`'s flatMapGroups materialization —
    * that difference is an OOM at 100× skew. Identical output contract
    * (the spec asserts equality on a pathological single-key input).
    */
  def sessionizeSorted(
      spark: SparkSession,
      events: DataFrame,
      gapMinutes: Int = 30,
      numPartitions: Int = 0
  ): DataFrame = {
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
    val gapMs = gapMinutes.toLong * 60000
    events
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .repartition(parts, col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"))
      .mapPartitions { rows =>
        var has = false
        var cur = 0L
        var start: java.sql.Timestamp = null
        var last: java.sql.Timestamp = null
        var n = 0
        val closed = rows.flatMap { case (u, t) =>
          if (!has) { has = true; cur = u; start = t; last = t; n = 1; Iterator.empty }
          else if (u != cur || t.getTime - last.getTime > gapMs) {
            val emit = (cur, start, last, n)
            cur = u; start = t; last = t; n = 1
            Iterator.single(emit)
          } else { last = t; n += 1; Iterator.empty }
        }
        // lazily appended — evaluated only after `closed` drains, flushing
        // the final open session of the partition
        closed ++ new Iterator[(Long, java.sql.Timestamp, java.sql.Timestamp, Int)] {
          private var done = false
          def hasNext: Boolean = !done && has
          def next(): (Long, java.sql.Timestamp, java.sql.Timestamp, Int) = {
            done = true; (cur, start, last, n)
          }
        }
      }
      .toDF("user_id", "session_start", "session_end", "n_events")
  }

  /** Per-key sessionization over a bounded drain (batch flatMapGroups) —
    * the typed-API form (§2.9). NOTE: materializes one array per key, so a
    * degenerate bot key can OOM an executor; `sessionizeSorted` above is the
    * skew-safe form and is what q39/the pipeline use. The continuous-stream
    * equivalent with explicit state is `sessionizeStateful` below — same
    * key, same output schema.
    */
  def sessionize(spark: SparkSession, events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroups { (user, it) =>
        val sorted = it.map(_._2).toArray.sortBy(_.getTime)
        if (sorted.isEmpty) Iterator.empty
        else {
          val gapMs = gapMinutes.toLong * 60000
          val sessions = scala.collection.mutable.ListBuffer[(Long, java.sql.Timestamp, java.sql.Timestamp, Int)]()
          var start = sorted(0); var last = sorted(0); var n = 1
          sorted.drop(1).foreach { t =>
            if (t.getTime - last.getTime > gapMs) {
              sessions += ((user, start, last, n)); start = t; n = 0
            }
            last = t; n += 1
          }
          sessions += ((user, start, last, n))
          sessions.iterator
        }
      }
      .toDF("user_id", "session_start", "session_end", "n_events")
  }

  final case class SessionState(start: java.sql.Timestamp, last: java.sql.Timestamp, n: Int)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int)

  /** Custom per-key state via flatMapGroupsWithState — the Structured
    * Streaming stateful primitive (mapGroupsWithState family). Emits a
    * session when the gap is exceeded within a batch; holds the open session
    * in GroupState across triggers, closing it on ProcessingTimeTimeout.
    * Also runs in batch mode (state spans the single batch, open sessions
    * flush at the end), which is how the spec pins its semantics against
    * `sessionize`.
    */
  def sessionizeStateful(spark: SparkSession, events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapMinutes.toLong * 60000

    def close(user: Long, s: SessionState): SessionOut =
      SessionOut(user, s.start, s.last, s.n)

    def fn(user: Long, it: Iterator[(Long, java.sql.Timestamp)],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ListBuffer[SessionOut]()
      var st = state.getOption
      // µs-precision Timestamps preserved; gap compared in ms like sessionize
      it.map(_._2).toArray.sortBy(_.getTime).foreach { t =>
        st match {
          case Some(s) if t.getTime - s.last.getTime <= gapMs =>
            st = Some(s.copy(last = t, n = s.n + 1))
          case Some(s) => out += close(user, s); st = Some(SessionState(t, t, 1))
          case None    => st = Some(SessionState(t, t, 1))
        }
      }
      // poll-batch contract (the reference keeps no cross-run state,
      // get_updates.py:1158): each bounded run closes its open sessions
      st.foreach { s => out += close(user, s); state.remove() }
      out.iterator
    }

    events
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }
}
