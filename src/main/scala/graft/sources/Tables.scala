package graft.sources

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Page
import graft.pipeline.Manifest
import graft.text.HtmlCodec

/** The table-FORMAT seam (SURVEY.md §7.0): every writer shape the engine
  * needs — bucketed layout, dynamic partition overwrite, append — behind one
  * interface, so the physical format is chosen in exactly one place. The
  * sandbox binds Parquet (hash-bucket partition columns standing in for
  * Iceberg's bucket transform); an Iceberg deployment swaps the binding for
  * `df.writeTo(table).partitionedBy(bucket(n, col))` / `overwritePartitions`
  * / `append` plus catalog conf — no call site (KgPipeline.materializeGraph,
  * Manifest.runStage) changes.
  */
trait TableFormat {
  /** The bucket transform: Iceberg's bucket(n, x) stand-in. ONE definition
    * so every bucketed layout — graph node/edge tables, resumable stage
    * outputs — agrees on the assignment function.
    */
  def bucket(c: Column, n: Int): Column

  /** Write `df` with an explicit bucket partition column derived from
    * `bucketCol` (a full-table layout build; overwrite semantics).
    */
  def writeBucketed(df: DataFrame, path: String, bucketCol: Column, n: Int,
      bucketName: String = "bucket"): Unit

  /** Overwrite ONLY the partitions present in `df` (the resumable-stage
    * write): Iceberg's overwritePartitions, dynamic partitionOverwriteMode
    * on Parquet.
    */
  def overwritePartitions(df: DataFrame, path: String, partCol: String): Unit

  /** Full-table overwrite, optionally partitioned by an EXPLICIT semantic
    * column (IVF cell, LSH bucket) — the layout builds — kept on the seam
    * so the build and append halves of the same layout always target the
    * same physical format.
    */
  def write(df: DataFrame, path: String, partCol: Option[String] = None): Unit

  /** Append rows (the manifest log write; an Iceberg table append). With a
    * partition column, new files land inside the partition dirs their rows
    * belong to, existing files untouched — Iceberg's append on a
    * partitioned table, the incremental-refresh primitive for
    * write-once-query-many layouts (a corpus grows daily; rebuilding a
    * 100 TB index for 0.1% new vectors is not a plan).
    */
  def append(df: DataFrame, path: String, partCol: Option[String] = None): Unit
}

object ParquetFormat extends TableFormat {
  def bucket(c: Column, n: Int): Column = pmod(xxhash64(c), lit(n.toLong))

  def writeBucketed(df: DataFrame, path: String, bucketCol: Column, n: Int,
      bucketName: String = "bucket"): Unit =
    df.withColumn(bucketName, bucket(bucketCol, n))
      .write.mode("overwrite").partitionBy(bucketName).parquet(path)

  // partitionOverwriteMode rides the WRITE as an option, never the session
  // conf: a session-level flip would leak into every later overwrite in the
  // same session (a full layout rebuild under leaked dynamic mode would
  // only replace the partitions present in the new data, silently keeping
  // stale files from a crashed previous build)
  def overwritePartitions(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)

  def write(df: DataFrame, path: String, partCol: Option[String] = None): Unit =
    partCol.fold(df.write.mode("overwrite"))(df.write.mode("overwrite")
      .option("partitionOverwriteMode", "static").partitionBy(_)).parquet(path)

  def append(df: DataFrame, path: String, partCol: Option[String] = None): Unit =
    partCol.fold(df.write.mode("append"))(df.write.mode("append").partitionBy(_)).parquet(path)
}

/** Thin IO layer for the named input tables. Keeps every read channel in
  * one place so scans stay pruned/pushed (verify via `.explain`:
  * PushedFilters + ReadSchema). Also the one lifecycle of the stored
  * layouts — `writeLayout` / `appendLayout` / `readLayout`, their `_meta`
  * parameter contract, their rows in the engine's one lineage log
  * (`Manifest`) and compaction.
  */
object Tables {

  /** The process-wide format binding (Parquet here; Iceberg in production). */
  val format: TableFormat = ParquetFormat

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Layout lineage: one row per layout mutation in the engine's one
    * lineage log (`Manifest`'s schema, writer and latest-row reader) under
    * `<layoutPath>/_lineage` — the underscore prefix keeps it invisible to
    * the layout's data scan. `stage` is the op (`build`, `append`,
    * `batch`); `input_fingerprint` and `rows_in` are `Manifest.fingerprint`
    * and the row count of the batch's ids, so an auditor can answer "which
    * source batches are IN this layout, and does the union still match the
    * source?" without listing data files. One tiny aggregate over the
    * (column-pruned) batch ids.
    *
    * `part_key` is the row's supersession key. Pass `idempotencyKey` when
    * the DATA write is idempotent per batch (dynamic partition overwrite —
    * re-landing a day replaces that day's files): a re-run's row then
    * supersedes its own earlier row instead of double-counting it, which
    * would fail `auditLayoutLineage` forever on byte-correct data. Without
    * it the key is the row's own run_seq, so every append counts — a
    * layout where a re-run really does add rows twice gets flagged by the
    * audit.
    *
    * The key joins the aggregate's one row on the driver, not as a `lit`
    * column: a Long literal is inlined into the aggregate's generated code,
    * so every batch id or run_seq would compile a class of its own.
    */
  def recordLayoutLineage(path: String, op: String, batch: DataFrame, idCol: String,
      idempotencyKey: Option[Long] = None): Unit = {
    val runSeq = Manifest.nextRunSeq()
    val ids = batch.agg(Manifest.fingerprint(Seq(col(idCol))), count(lit(1))).head()
    Manifest.append(batch.sparkSession, s"$path/_lineage", op, "ok", runSeq, Seq(Map(
      "part_key" -> idempotencyKey.getOrElse(runSeq), "input_fingerprint" -> ids.getLong(0),
      "rows_in" -> ids.getLong(1))))
  }

  /** The latest lineage row per key of the layout at `path`. */
  def readLayoutLineage(spark: SparkSession, path: String): DataFrame =
    Manifest.latestRows(spark, s"$path/_lineage")

  /** COMPACTION — the missing lifecycle op of append-accumulating layouts:
    * every partitioned `append` lands new small files inside the partition
    * dirs, and at daily-append cadence a year of appends is hundreds of
    * files per partition — file-listing and open-cost dominate the very
    * scans the layout exists to prune. Compact rewrites the layout's DATA
    * with ~one file per partition (repartition on the partition column
    * before the partitioned write) and carries EVERY `_`-sidecar over
    * byte-for-byte — the parameter record AND the lineage log UNCHANGED:
    * the log is batch-sized (tiny) and its rows are load-bearing — an
    * idempotency-keyed row must stay individually supersedable by a later
    * re-land, which collapsing the log into an aggregated row would break.
    * The coverage audit therefore holds before and after trivially, and
    * probes prune exactly as before (spec-asserted). Whether a layout is
    * built is not stored in it (the oracle queries keep a per-JVM
    * build-once set), so compaction never touches that state.
    *
    * Swap discipline, through the path's Hadoop `FileSystem` (a local path
    * or a `file:` URI alike): write to `<path>.compacting`, then two
    * directory renames (old → `.pre_compact`, new → path) and a trash
    * delete. A crash between the renames leaves path absent with the old
    * layout complete at `.pre_compact` — the next invocation RESTORES it
    * before touching anything, so re-running after any crash converges and
    * never deletes the sole surviving copy. On Iceberg this whole operation
    * is `rewrite_data_files` + snapshot expiry, one transactional call; the
    * call-site shape is unchanged.
    */
  def compactLayout(spark: SparkSession, path: String, partCol: String): Unit = {
    val live = new Path(path)
    val tmp = new Path(path + ".compacting")
    val trash = new Path(path + ".pre_compact")
    val fs = Manifest.fs(spark, live)
    def rename(from: Path, to: Path): Unit = require(fs.rename(from, to), s"cannot rename $from to $to")
    // crash recovery FIRST: a previous compaction that died between the two
    // renames left path absent and the old layout at .pre_compact — restore
    // it and redo from scratch. Only then is clearing the work dirs safe
    // (they are never the sole surviving copy).
    if (!fs.exists(live) && fs.exists(trash)) rename(trash, live)
    require(fs.exists(live), s"no layout at $path to compact")
    fs.delete(tmp, true); fs.delete(trash, true)
    val entries = fs.listStatus(live).toSeq
    // the partition column is a PROPERTY of the layout — validate the
    // caller's claim against the on-disk partition dirs: a rewrite
    // partitioned by the wrong column would pass every data/audit check
    // while silently killing partition pruning (the failure mode must be
    // an error, not a wrong answer)
    // DIRECTORIES only (a stray file with '=' in its name must not corrupt
    // the inference), and an empty partition-dir set gets its own message
    // rather than a misleading "partitioned by []" mismatch
    val dirCols = entries
      .filter(e => e.isDirectory && e.getPath.getName.contains("="))
      .map(_.getPath.getName.split("=")(0)).toSet
    require(dirCols.nonEmpty,
      s"no partition directories at $path - nothing to compact " +
        "(empty or unpartitioned layout)")
    require(dirCols == Set(partCol),
      s"layout at $path is partitioned by [${dirCols.mkString(",")}] but compaction " +
        s"was asked to partition by $partCol")
    val data = spark.read.parquet(path).repartition(col(partCol))
    format.write(data, tmp.toString, Some(partCol))
    // carry every `_` sidecar byte-for-byte: _meta keeps parameter
    // validation alive, _lineage keeps the audit AND per-key
    // supersedability intact
    entries.map(_.getPath).filter(p => p.getName.startsWith("_") && p.getName != "_SUCCESS")
      .foreach(p => FileUtil.copy(fs, p, fs, new Path(tmp, p.getName), false,
        spark.sparkContext.hadoopConfiguration))
    rename(live, trash)
    rename(tmp, live)
    fs.delete(trash, true)
    // the path's identity is unchanged but its contents were rewritten:
    // drop memoized meta validations so the next probe re-reads the
    // (carried-over) record rather than trusting pre-compact state
    validatedMeta.removeIf(_.startsWith(path + "|"))
  }

  /** A stored layout as its lifecycle sees it: the integer parameters its
    * rows bake in, recorded under `<path>/_meta`, and its partition column,
    * if any. Every write-once-read-many layout (the ANN vector layouts, the
    * MinHash signature table, the band-key table) is one value of this. The
    * parameters are PART of the layout: a reader probing with DIFFERENT
    * constants is silently wrong (drops candidate pairs, mis-probes cells,
    * mis-ranks buckets), so every append and read validates them — the
    * failure mode must be an error, not a wrong answer.
    */
  final case class Layout(meta: Seq[(String, Int)], partCol: Option[String] = None)

  /** Build a layout: the data (overwrite — which also clears any previous
    * `_meta`, so the data goes first), then the `_meta` record (overwrite —
    * the meta IS the layout's current contract), then one lineage row for
    * `batch`, the source rows the data was derived from.
    */
  def writeLayout(spark: SparkSession, layout: Layout, path: String, rows: DataFrame,
      batch: DataFrame, idCol: String): Unit = {
    format.write(rows, path, layout.partCol)
    format.write(spark.range(1).select(layout.meta.map { case (n, v) => lit(v).as(n) }: _*),
      s"$path/_meta")
    // a rewrite-in-place changes the layout's contract: drop every memoized
    // validation for this path so a probe that matched the OLD parameters
    // re-reads _meta and fails — otherwise the memo would silently disable
    // the guard for exactly the rebuild case it exists to catch
    validatedMeta.removeIf(_.startsWith(path + "|"))
    recordLayoutLineage(path, "build", batch, idCol)
  }

  /** Append a batch to a built layout: the `_meta` check FIRST — so an empty
    * batch against a mismatched layout still fails — then the batch's rows
    * (None: nothing to append, and no lineage row), then its lineage row.
    * New files land inside the partition dirs their rows belong to;
    * existing files are untouched.
    */
  def appendLayout(spark: SparkSession, layout: Layout, path: String, batch: DataFrame,
      idCol: String)(rows: => Option[DataFrame]): Unit = {
    requireLayoutMeta(spark, path, layout.meta: _*)
    rows.foreach { df =>
      format.append(df, path, layout.partCol)
      recordLayoutLineage(path, "append", batch, idCol)
    }
  }

  /** A built layout's rows, after validating its `_meta` contract. */
  def readLayout(spark: SparkSession, layout: Layout, path: String): DataFrame = {
    requireLayoutMeta(spark, path, layout.meta: _*)
    spark.read.parquet(path)
  }

  /** Validate a layout's recorded parameters BY NAME with a single-row
    * guard (a column reorder on rewrite, or a stale multi-row _meta left by
    * a crashed rebuild, must fail loudly rather than validate ordinals).
    *
    * Successful validations are memoized per (path, params) for the JVM's
    * lifetime, so repeated probes of the same layout don't re-read _meta on
    * every query (a driver-side file read inside the query's latency).
    * Sound because (a) a MISMATCHED query never enters the memo — wrong
    * parameters always re-check and throw; (b) a same-JVM rebuild-in-place
    * goes through `writeLayout`, which drops the path's memo entries;
    * and (c) no layout is rebuilt by another JVM under this JVM's feet:
    * the oracle queries' layouts live under a root that only the JVM
    * which created it builds in, and it is deleted when that JVM exits.
    */
  private val validatedMeta =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def requireLayoutMeta(spark: SparkSession, path: String, params: (String, Int)*): Unit = {
    val memoKey = path + "|" + params.map { case (n, v) => s"$n=$v" }.mkString(",")
    if (validatedMeta.contains(memoKey)) return
    val rows = spark.read.parquet(s"$path/_meta").collect()
    require(rows.length == 1,
      s"layout at $path has ${rows.length} _meta rows (expected exactly 1) - " +
        "refusing to guess which parameters the layout was written with")
    val stored = params.map { case (n, _) => n -> rows.head.getAs[Int](n) }
    require(stored == params,
      s"layout at $path was written with ${stored.map { case (n, v) => s"$n=$v" }.mkString(", ")} " +
        s"but queried with ${params.map { case (n, v) => s"$n=$v" }.mkString(", ")} - " +
        "a mismatched reader silently returns wrong results")
    validatedMeta.add(memoKey)
  }

  /** Audit a layout's LINEAGE LOG against its source WITHOUT reading the
    * layout's data files: xor fingerprints over DISJOINT batches compose
    * (xor of the batch fingerprints == the fingerprint of their union), so
    * the latest lineage rows alone predict the source table's (count,
    * fingerprint) — one column-pruned aggregate over the source ids, zero
    * IO against the layout. Returns true iff the RECORDED batches cover the
    * source exactly once. It vouches for the log, not the data files: a
    * data file lost or corrupted AFTER a recorded append still passes (a
    * scrub that re-reads the layout is the stronger, IO-paying check).
    */
  def auditLayoutLineage(spark: SparkSession, path: String,
      source: DataFrame, idCol: String): Boolean = {
    val lin = readLayoutLineage(spark, path)
      .agg(sum(col("rows_in")), bit_xor(col("input_fingerprint"))).head()
    if (lin.isNullAt(0)) return false // no lineage rows ⇒ nothing vouched for
    val src = source.agg(count(lit(1)), Manifest.fingerprint(Seq(col(idCol)))).head()
    lin.getLong(0) == src.getLong(0) && lin.getLong(1) == src.getLong(1)
  }

  /** The pipeline's input page table in BASELINE.json input_hint shape
    * (url, warc_ts, html, text, lang), synthesized deterministically from the
    * `documents` table (FIXTURES.md §1): url from (source, doc_id), warc_ts =
    * 2024-01-01 + doc_id minutes, html generated from text such that
    * extract(html) == text byte-identically.
    *
    * The html synthesis is a narrow per-row map (no shuffle); everything
    * before it is plain Catalyst projection so column pruning reaches the
    * parquet scan.
    */
  def pages(spark: SparkSession, dir: String): Dataset[Page] =
    pagesWhere(spark, dir, lit(true))

  /** `pages` restricted to a document predicate — the batch-ingest read: the
    * filter sits directly on the documents scan (BEFORE the html synthesis
    * map), so a day-batch read scans only that batch's rows wherever the
    * predicate is pushable, never synthesizing pages it will drop.
    */
  def pagesWhere(spark: SparkSession, dir: String, pred: Column): Dataset[Page] =
    pagesShaped(spark, dir, pred, identity)

  /** `pagesWhere` with a caller-chosen re-shaping step applied BETWEEN the
    * narrow projection and the html-synthesis map — so a repartition
    * shuffles (url, ts, text, lang) rows, never the synthesized html bytes.
    */
  private def pagesShaped(
      spark: SparkSession, dir: String, pred: Column,
      shape: DataFrame => DataFrame): Dataset[Page] = {
    import spark.implicits._
    val narrow = read(spark, dir, "documents")
      .filter(pred)
      .select(
        concat(lit("https://example.org/"), col("source"), lit("/doc"), col("doc_id"))
          .as("url"),
        expr("timestampadd(MINUTE, cast(doc_id as int), timestamp'2024-01-01 00:00:00')")
          .as("warc_ts"),
        col("text"),
        col("lang")
      )
    shape(narrow)
      .as[(String, java.sql.Timestamp, String, String)]
      .mapPartitions(_.map { case (url, ts, text, lang) =>
        Page(url, ts, HtmlCodec.generate(url, text), text, lang)
      })
  }

  /** Page table pre-partitioned by url hash — the explicit repartitioning the
    * north_rule requires ahead of the extraction stage, so parallelism scales
    * with cores/executors independent of input file splits. The exchange
    * sits BELOW the html-synthesis map (guide §8: decide placement on small
    * rows, synthesize the heavy payload after the shuffle) — it moves the
    * ~300 B projected document row, not the ~2.5 KB page with html, and the
    * synthesis CPU lands already balanced.
    */
  def pagesPartitioned(spark: SparkSession, dir: String, numPartitions: Int): Dataset[Page] =
    pagesShaped(spark, dir, lit(true), _.repartition(numPartitions, col("url")))

  /** Media fixture table: (media_id, image) where image is a REAL PNG
    * (javax.imageio) with dimensions and fill a closed-form function of
    * doc_id — width 16+id%48, height 16+id%24, gray id%256 — so decoded
    * metadata is oracle-checkable in SQL (q33). Narrow per-row map; the
    * binary column is synthesized, never shuffled.
    */
  def media(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    read(spark, dir, "documents")
      .select(col("doc_id").cast("long"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = 16 + (id % 48).toInt
        val h = 16 + (id % 24).toInt
        val g = (id % 256).toInt
        (id, graft.operators.Multimodal.encodePng(w, h, g))
      })
      .toDF("media_id", "image")
  }

  /** Audio fixture table: (media_id, audio) where audio is a REAL PCM WAV
    * (hand-written RIFF bytes, no library) with rate/channels/length a
    * closed-form function of doc_id — sample rate 8000 + (id%8)·1000,
    * channels 1 + id%2, samples 1000 + id%500 — so parsed metadata is
    * oracle-checkable in SQL (q72). Narrow per-row map; the binary column
    * is synthesized, never shuffled.
    */
  def audio(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    read(spark, dir, "documents")
      .select(col("doc_id").cast("long"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val sr = 8000 + (id % 8).toInt * 1000
        val ch = 1 + (id % 2).toInt
        val n = 1000 + (id % 500).toInt
        (id, graft.operators.Multimodal.encodeWav(sr, ch, n))
      })
      .toDF("media_id", "audio")
  }
}
