package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Checkpoint / resume with per-partition lineage + metrics (north_rule;
  * SURVEY.md §7.5) — the batch-native replacement for the reference's
  * no-state-across-runs posture (get_updates.py:1158 processes one bounded
  * window per invocation and forgets everything).
  *
  * THE lineage log of the engine: one append-only table of rows
  * (stage, part_key, input_fingerprint, input_sum, rows_in, rows_out,
  * wall_ms, status, run_seq), written by `append` and read by `latestRows`
  * — the newest run_seq per (stage, part_key) supersedes every earlier row
  * of that key.
  * Two kinds of writer share it:
  *  - resumable stages (`runStage`): each stage's output is written
  *    partitioned by `part_key` (pmod(xxhash64(url), nParts)); after the
  *    pending partitions land, one row per partition is appended. Resume =
  *    compare the input's per-partition lineage (content fingerprint, sum
  *    lane, row count) with the latest `ok` rows and recompute only the
  *    missing/stale partitions — idempotent because every stage is a
  *    deterministic function of its input partition + broadcast dims, and
  *    writes are overwrite-by-partition;
  *  - stored layouts (`Tables.recordLayoutLineage`): one row per layout
  *    mutation under `<layout>/_lineage`, audited by
  *    `Tables.auditLayoutLineage`.
  *
  * On Iceberg the log append + data write share a transaction per
  * snapshot; on local Parquet (this sandbox) the log is its own
  * append-only table — same read path, weaker atomicity, documented in
  * BASELINE.md.
  */
object Manifest {

  val schema: StructType = StructType.fromDDL(
    "stage STRING, part_key BIGINT, input_fingerprint BIGINT, input_sum BIGINT, rows_in BIGINT, " +
      "rows_out BIGINT, wall_ms BIGINT, status STRING, run_seq BIGINT")

  val schemaCols: Seq[String] = schema.fieldNames.toSeq

  /** Stage partition key = the table seam's bucket transform (ONE bucket
    * function across the engine — resumable stage outputs and the graph
    * tables agree on assignment; on Iceberg this is bucket(nParts, url)).
    */
  def partKey(urlCol: Column, nParts: Int): Column =
    graft.sources.Tables.format.bucket(urlCol, nParts)

  /** THE fingerprint of a set of rows (an aggregate): bitwise XOR of per-row
    * xxhash64 over `cols` — commutative (stable under any scan order),
    * overflow-free under ANSI mode unlike a sum, composable over disjoint
    * batches, and 0 for no rows. Two identical rows cancel, so a consumer
    * compares it together with the row count (and, for stages, the sum
    * lane of `lineage`).
    */
  def fingerprint(cols: Seq[Column]): Column = coalesce(bit_xor(xxhash64(cols: _*)), lit(0L))

  /** Per-partition lineage of a stage input, keyed by part_key: the
    * fingerprint of EVERY column (an edited page under an unchanged url
    * changes it), the row count, and `input_sum`: the sum of a non-negative
    * 31-bit slice of the same per-row hash, which sees the multiset changes
    * the xor cancels (two identical rows replaced by two other identical
    * rows) and cannot overflow below 2^32 rows per partition.
    */
  def lineage(input: DataFrame, urlCol: String, nParts: Int): DataFrame = {
    val cols = input.columns.toSeq.map(col)
    input
      .groupBy(partKey(col(urlCol), nParts).as("part_key"))
      .agg(
        fingerprint(cols).as("input_fingerprint"),
        coalesce(sum(pmod(xxhash64(cols: _*), lit(1L << 31))), lit(0L)).as("input_sum"),
        count(lit(1)).as("rows_in"))
  }

  /** THE reader: the latest row per (stage, part_key) of the log at `path`.
    * The log is append-only (recomputes, orphanings and layout re-lands
    * append, never rewrite), so only the highest run_seq row of a key is
    * authoritative — comparing against every historical row would keep a
    * recomputed partition pending forever. An absent log reads as an empty
    * frame of the shared schema; existence goes through the path's Hadoop
    * FileSystem, so an object-store log is seen too. The log is read with
    * the shared schema, so a column an older log lacks reads as null.
    */
  def latestRows(spark: SparkSession, path: String): DataFrame =
    if (exists(spark, new Path(path))) latest(spark.read.schema(schema).parquet(path))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** One stage's latest rows of an already-read log frame. */
  def latestRows(log: DataFrame, stage: String): DataFrame =
    latest(log.filter(col("stage") === stage))

  private def latest(log: DataFrame): DataFrame =
    log
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("stage"), col("part_key")).orderBy(col("run_seq").desc)))
      .filter(col("rn") === 1)
      .drop("rn")

  /** THE writer: append `rows` — per-key columns, taken by name — to the
    * log at `path` as one file, each stamped with `stage`, `status` and
    * `runSeq`; a schema column `rows` lacks is written as null (not
    * measured).
    */
  private[graft] def append(path: String, stage: String, status: String, runSeq: Long,
      rows: DataFrame): Unit = {
    val stamped = rows.select(col("*"), lit(stage).as("stage"), lit(status).as("status"),
      lit(runSeq).as("run_seq"))
    graft.sources.Tables.format.append(
      stamped.select(schema.fields.toSeq.map { f =>
        val c = if (stamped.columns.contains(f.name)) col(f.name) else lit(null)
        c.cast(f.dataType).as(f.name)
      }: _*).coalesce(1),
      path)
  }

  /** Monotonic per-append sequence for latest-row-wins reads. Layout:
    * millis << 20 | per-JVM random (10 bits) | per-JVM counter (10 bits) —
    * two JVMs appending to the same log in the same millisecond collide
    * only if their random nonces also match (1/1024 per ms, vs certain
    * before), so row_number's run_seq tiebreak can't silently pick a
    * superseded 'ok' row over a newer 'orphaned' one. Positivity of the
    * shifted value needs millis < 2^43 — epoch millis stay below that until
    * ~2248. The 10-bit counter wraps after 1024 appends within one
    * millisecond from one JVM, where same-JVM collisions would return; at
    * one log append per stage run or layout mutation that rate is
    * unreachable.
    */
  private val seqCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private val jvmNonce: Long = new java.security.SecureRandom().nextInt(1024).toLong
  private[graft] def nextRunSeq(): Long =
    (System.currentTimeMillis() << 20) | (jvmNonce << 10) | (seqCounter.incrementAndGet() & 0x3ffL)

  private def fs(spark: SparkSession, path: Path) =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: Path): Boolean = fs(spark, path).exists(path)

  private def deletePartitionDir(spark: SparkSession, outPath: String, key: Long): Unit = {
    val path = new Path(s"$outPath/part_key=$key")
    if (exists(spark, path)) fs(spark, path).delete(path, true)
  }

  /** Output part_key dirs currently on disk. */
  private def outputKeys(spark: SparkSession, outPath: String): Set[Long] = {
    val path = new Path(outPath)
    if (!exists(spark, path)) Set.empty
    else
      fs(spark, path).listStatus(path)
        .iterator
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("part_key=") => n.stripPrefix("part_key=").toLong }
        .toSet
  }

  /** Run one stage resumably: compute only pending partitions, write them
    * with partition-overwrite, append log rows with metrics. Returns the
    * number of partitions actually computed.
    *
    * The input's lineage (≤ nParts rows) is aggregated ONCE per call; the
    * orphan set and the pending set both derive from it. A partition is
    * pending when its latest row is missing or not `ok`, or records a
    * different fingerprint, sum lane or row count (a row without a sum lane,
    * written before the lane existed, recomputes once).
    *
    * Correctness-of-overwrite details (dynamic partition overwrite only
    * rewrites partitions PRESENT in the transform output):
    *  - every pending part_key dir is deleted up front, so a recompute whose
    *    output is empty leaves an empty partition, not last run's stale rows
    *    (and the read-back rows_out metric counts only this run's rows);
    *  - output partitions whose part_key no longer exists in the input at
    *    all (the input rows vanished ⇒ the key never becomes pending) are
    *    reconciled as orphans: their dirs are deleted and an `orphaned`
    *    row is appended, superseding the stale `ok` row — if the key later
    *    reappears, its non-ok latest row makes it pending again.
    */
  def runStage(
      spark: SparkSession,
      input: DataFrame,
      urlCol: String,
      nParts: Int,
      stage: String,
      outPath: String,
      manifestPath: String
  )(transform: DataFrame => DataFrame): Long = {
    import spark.implicits._
    val lin = lineage(input, urlCol, nParts).as[(Long, Long, Long, Long)].collect()
    val runSeq = nextRunSeq()

    // ---- orphan reconciliation: on-disk partitions with no input key left
    val orphans = (outputKeys(spark, outPath) -- lin.map(_._1)).toSeq
    if (orphans.nonEmpty) {
      orphans.foreach(deletePartitionDir(spark, outPath, _))
      append(manifestPath, stage, "orphaned", runSeq,
        orphans.map((_, 0L, 0L, 0L)).toDF("part_key", "rows_in", "rows_out", "wall_ms"))
    }

    val done = latestRows(spark, manifestPath)
      // orphaned/failed ⇒ not done; no sum lane ⇒ written before it existed
      .filter(col("stage") === stage && col("status") === "ok" && col("input_sum").isNotNull)
      .select("part_key", "input_fingerprint", "input_sum", "rows_in")
      .as[(Long, Long, Long, Long)].collect().toSet
    val pending = lin.filterNot(done)
    if (pending.isEmpty) return 0L

    val keyLit = pending.map(_._1).toSeq
    val t0 = System.nanoTime()
    // clear pending partitions so empty recomputes can't keep stale files
    keyLit.foreach(deletePartitionDir(spark, outPath, _))
    val inputPending = input
      .withColumn("part_key", partKey(col(urlCol), nParts))
      .filter(col("part_key").isin(keyLit: _*))

    val out = transform(inputPending)
    val withKey =
      if (out.columns.contains("part_key")) out
      else out.withColumn("part_key", partKey(col(urlCol), nParts))

    graft.sources.Tables.format.overwritePartitions(withKey, outPath, "part_key")

    // read-back row counts; when every recompute was empty there are no
    // partition dirs left to read (schema inference would fail on the bare
    // _SUCCESS marker), so short-circuit to zero counts
    val rowsOut: Map[Long, Long] =
      if (outputKeys(spark, outPath).isEmpty) Map.empty
      else
        spark.read.parquet(outPath)
          .filter(col("part_key").isin(keyLit: _*))
          .groupBy("part_key").agg(count(lit(1))).as[(Long, Long)].collect().toMap

    val wallMs = (System.nanoTime() - t0) / 1000000
    append(manifestPath, stage, "ok", runSeq,
      pending.toSeq.map { case (k, fp, sm, n) => (k, fp, sm, n, rowsOut.getOrElse(k, 0L), wallMs) }
        .toDF("part_key", "input_fingerprint", "input_sum", "rows_in", "rows_out", "wall_ms"))
    keyLit.size.toLong
  }
}
