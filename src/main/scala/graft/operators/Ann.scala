package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Sketches
import graft.plans.NativeKernels
import graft.sources.Tables

/** Vector search over an embedding column (`Array[Float]`). Embedding
  * near-dup pairs are a near-dup family, in Dedup.
  *
  *  - bruteForceTopK: exact cosine top-k against one query vector — a single
  *    narrow map + TakeOrderedAndProject; the baseline and the verifier.
  *  - VectorLayout: every ANN index (IVF, LSH, int8, PQ, IVF-PQ) as one
  *    description — partitioning × stored encoding — stored through the
  *    Tables layout lifecycle (writeLayout / appendLayout / stored) and
  *    served by topK for one query, multiQueryTopK for a batch.
  */
object Ann {

  /** Exact top-k by cosine against `query`. Deterministic tiebreak on id.
    * The per-row score is a narrow map; ordering uses scaled-integer cosine
    * components so results are bit-stable (see Sketches.scaledDot).
    */
  def bruteForceTopK(
      spark: SparkSession,
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int
  ): DataFrame = {
    import spark.implicits._
    val q = spark.sparkContext.broadcast(query)
    embeddings
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, Sketches.cosine(v, q.value)) }
      .toDF("id", "cosine")
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  // ------------------------------------------------- closed-form constants
  //
  // Every ANN index below takes its randomness from fnv1a instead of a
  // trained or Gaussian model, and runs every comparison in exact
  // scaled-integer arithmetic: bucket membership, cell assignment, probe
  // sets and scores all become SQL-expressible, so a DuckDB oracle
  // reproduces the EXACT scan set from the float source and hash-gates the
  // whole probe machinery (q37, q47, q60–q64, q73).

  /** Closed-form integer hyperplanes: plane p component i =
    * fnv1a("plane:p:i") mod 2001 − 1000 ∈ [−1000, 1000].
    */
  def intPlanes(dim: Int, nPlanes: Int): Array[Array[Long]] =
    Array.tabulate(nPlanes)(p =>
      Array.tabulate(dim)(i => math.floorMod(Sketches.fnv1a(s"plane:$p:$i"), 2001L) - 1000L))

  /** Milli-scaled vector components: a_i = floor(v_i · 1000) — the exact
    * integer domain every layout comparison runs in (floor matches SQL
    * floor; float→double widening is exact on both engines).
    */
  def milliScaled(v: Array[Float]): Array[Long] = {
    val a = new Array[Long](v.length)
    var i = 0
    while (i < v.length) { a(i) = math.floor(v(i) * 1000.0).toLong; i += 1 }
    a
  }

  /** Sign bits over integer planes: bit p set iff Σ a_i·c_{p,i} ≥ 0. */
  def signBitsInt(a: Array[Long], planes: Array[Array[Long]]): Long = {
    var bits = 0L
    var p = 0
    while (p < planes.length) {
      var dot = 0L
      var i = 0
      val pl = planes(p)
      while (i < a.length && i < pl.length) { dot += a(i) * pl(i); i += 1 }
      if (dot >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  /** Closed-form integer centroids on the milli scale: cell c component i =
    * fnv1a("centroid:c:i") mod 2001 − 1000.
    */
  def intCentroids(dim: Int, nCells: Int): Array[Array[Long]] =
    Array.tabulate(nCells)(c =>
      Array.tabulate(dim)(i => math.floorMod(Sketches.fnv1a(s"centroid:$c:$i"), 2001L) - 1000L))

  /** Cell ranking: argmin over c of ‖a − x_c‖² with lowest-index tiebreak,
    * computed as score_c = Σx_c² − 2·(a·x_c) (the Σa_i² term is constant
    * per vector, so the argmin — and every tie — is unchanged; this keeps
    * the SQL oracle a single 64-term dot per cell). Returns cell indices
    * best-first.
    */
  def rankCellsInt(a: Array[Long], cents: Array[Array[Long]]): Array[Int] = {
    val scores = Array.tabulate(cents.length) { c =>
      val x = cents(c)
      var sx2 = 0L; var dot = 0L
      var i = 0
      while (i < x.length) {
        sx2 += x(i) * x(i)
        if (i < a.length) dot += a(i) * x(i)
        i += 1
      }
      sx2 - 2 * dot
    }
    cents.indices.sortBy(c => (scores(c), c)).toArray
  }

  /** Closed-form PQ codebooks on the milli scale: subspace s (of m), codeword
    * c (of kw), component j (of dim/m) = fnv1a("pq:s:c:j") mod 2001 − 1000 —
    * the same fnv1a family as the LSH planes / IVF centroids, so assignment
    * and ADC scoring are exactly SQL-expressible (q62's oracle).
    * Returns [m][kw][subDim].
    */
  def pqCodebooks(dim: Int, m: Int, kw: Int): Array[Array[Array[Long]]] = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    Array.tabulate(m)(s => Array.tabulate(kw)(c =>
      Array.tabulate(subDim)(j => math.floorMod(Sketches.fnv1a(s"pq:$s:$c:$j"), 2001L) - 1000L)))
  }

  /** Per-subspace nearest-codeword assignment of a milli-scaled vector:
    * argmin ‖a_sub − x‖² via the same reduced score Σx² − 2·a_sub·x (the
    * Σa² term is subspace-constant), lowest-index tiebreak. One byte per
    * subspace — the stored representation.
    */
  def pqAssign(a: Array[Long], books: Array[Array[Array[Long]]]): Array[Byte] = {
    val m = books.length
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val subDim = books(s)(0).length
      val off = s * subDim
      var bestC = 0
      var bestScore = Long.MaxValue
      var c = 0
      while (c < books(s).length) {
        val x = books(s)(c)
        var sx2 = 0L; var dot = 0L
        var j = 0
        while (j < subDim) {
          sx2 += x(j) * x(j)
          if (off + j < a.length) dot += a(off + j) * x(j)
          j += 1
        }
        val score = sx2 - 2 * dot
        if (score < bestScore) { bestScore = score; bestC = c }
        c += 1
      }
      out(s) = bestC.toByte
      s += 1
    }
    out
  }

  /** ADC (asymmetric distance computation) lookup table for one query:
    * qtab[s][c] = q_sub(milli) · codeword(s, c) — m×kw Longs, built once
    * per query on the driver; per-vector scoring is then m table lookups.
    */
  def pqQueryTable(query: Array[Float], books: Array[Array[Array[Long]]]): Array[Array[Long]] = {
    val qm = milliScaled(query)
    books.zipWithIndex.map { case (book, s) =>
      val subDim = book(0).length
      val off = s * subDim
      book.map { x =>
        var dot = 0L
        var j = 0
        while (j < subDim) {
          if (off + j < qm.length) dot += qm(off + j) * x(j)
          j += 1
        }
        dot
      }
    }
  }

  /** ADC score of stored codes against a query table: Σ_s qtab[s][codes[s]]
    * (an approximate dot — recall vs brute force is spec-gated; the
    * arithmetic itself is exact and oracle-gated by q62/q73).
    */
  def adcScore(qtab: Array[Array[Long]], codes: Array[Byte]): Long = {
    var score = 0L
    var s = 0
    while (s < codes.length) { score += qtab(s)(codes(s) & 0xff); s += 1 }
    score
  }

  /** Scalar (int8) quantization — the memory/IO lever at 100 TB: a 64-dim
    * float32 vector is 256 B; quantized it's 64 B, so a scan reads 4× less
    * and the hot set fits 4× more vectors per executor. q_i =
    * clamp(floor(v_i·127), −127, 127) — floor (not round) so Spark and the
    * SQL oracle agree bit-for-bit, clamp keeps the product sum far inside
    * Long range.
    */
  def quantizeInt8(v: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) {
      val q = math.floor(v(i) * 127.0).toLong
      out(i) = math.max(-127L, math.min(127L, q)).toByte
      i += 1
    }
    out
  }

  /** Integer dot over quantized vectors. */
  def dotInt8(a: Array[Byte], b: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length && i < b.length) { s += a(i).toLong * b(i).toLong; i += 1 }
    s
  }

  /** Quantized brute-force top-k: quantize corpus and query to int8, score
    * with the exact integer dot, deterministic (score desc, id) order — the
    * read-time reference the stored int8 layout must equal row for row.
    * Recall vs the float scorer is spec-asserted, exact agreement is
    * oracle-gated (quantization is floor/clamp arithmetic the SQL oracle
    * reproduces).
    */
  def int8TopK(
      spark: SparkSession,
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int
  ): DataFrame = {
    import spark.implicits._
    val qq = spark.sparkContext.broadcast(quantizeInt8(query))
    embeddings
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val q = qq.value
        it.map { case (id, v) => (id, dotInt8(quantizeInt8(v), q)) }
      }
      .toDF(idCol, "int8_dot")
      .orderBy(col("int8_dot").desc, col(idCol).asc)
      .limit(k)
  }

  // ------------------------------------------------------ vector layouts
  //
  // Every probe path that scans the float corpus prunes COMPUTE (rows
  // scored) but still READS the whole corpus — at 100 TB the win must come
  // from pruning IO. A VectorLayout materializes the corpus once in a
  // probe-friendly physical shape (a write-side cost amortized over every
  // query): partitioned by IVF cell or LSH bucket, so a query's probe set
  // prunes partition DIRECTORIES at the scan, and/or stored compressed
  // (int8 `qvec`, PQ `codes`), so every scan reads fewer bytes. Encoding is
  // a pure function of the vector, so a vector lands in the same partition
  // with the same bytes whether written at build time or appended later —
  // what makes append correct without touching existing files. Parquet
  // partition dirs stand in for Iceberg partition transforms (the
  // KgPipeline.materializeGraph convention).

  /** How a layout partitions its rows, and which partitions a query probes. */
  private[graft] sealed trait Partitioning extends Serializable

  /** No partition column: every row is a candidate for every query. */
  private[graft] case object Unpartitioned extends Partitioning

  /** IVF: `cell` = the nearest of nCells closed-form centroids; a query
    * probes its nProbe nearest cells, so ≈ nProbe/nCells of the layout is
    * READ.
    */
  private[graft] final case class Cells(nCells: Int, nProbe: Int) extends Partitioning

  /** LSH: `bucket` = the nPlanes-bit integer-plane signature; a query
    * probes the nPlanes+1 buckets within Hamming 1 of its own.
    */
  private[graft] final case class Buckets(nPlanes: Int) extends Partitioning {
    require(nPlanes < 32, "the bucket signature must fit in an Int partition key")
  }

  /** What a layout stores per vector, and how a query scores it. */
  private[graft] sealed trait Encoding extends Serializable

  /** The float vector itself, scored by the exact scaled-integer dot. */
  private[graft] case object Float32 extends Encoding

  /** The quantized vector as a 64 B binary `qvec` (4× fewer scan bytes
    * than float32), scored by the exact integer dot.
    */
  private[graft] case object Int8 extends Encoding

  /** m PQ codes as a binary `codes` (8 B at the defaults, ~32× fewer scan
    * bytes), scored by ADC table lookup.
    */
  private[graft] final case class Pq(m: Int, kw: Int) extends Encoding

  /** One ANN index: a partitioning × a stored encoding. Adding a layout is
    * one value of this type; writeLayout, appendLayout, topK and
    * multiQueryTopK serve every value.
    */
  private[graft] final case class VectorLayout(part: Partitioning, enc: Encoding) {
    /** The layout's stored contract. Its parameters are PART of the layout
      * (the band-layout rule): a probe ranking cells against different
      * centroids, or an ADC table built from different codebooks, silently
      * returns wrong top-k — so they are persisted under `<path>/_meta` and
      * validated on every append and probe.
      */
    def table: Tables.Layout = Tables.Layout((part match {
      case Cells(nCells, _) => Seq("n_cells" -> nCells)
      case Buckets(nPlanes) => Seq("n_planes" -> nPlanes)
      case Unpartitioned    => Nil
    }) ++ (enc match {
      case Pq(m, kw) => Seq("m" -> m, "kw" -> kw)
      case Int8      => Seq("int8_scale" -> 127)
      case Float32   => Nil
    }), partCol)

    def partCol: Option[String] = part match {
      case _: Cells      => Some("cell")
      case _: Buckets    => Some("bucket")
      case Unpartitioned => None
    }

    /** The stored vector column (the score's input). */
    def storedCol(vecCol: String): String = enc match {
      case Float32 => vecCol
      case Int8    => "qvec"
      case _: Pq   => "codes"
    }

    /** The score column's name — part of the oracle schemas. */
    def scoreName: String = enc match {
      case Float32 => "scaled_dot"
      case Int8    => "int8_dot"
      case _: Pq   => "pq_dot"
    }
  }

  /** Float vectors partitioned by IVF cell (q47, q61, q64, ann_serve). */
  private[graft] def ivf(nCells: Int = 16, nProbe: Int = 4): VectorLayout =
    VectorLayout(Cells(nCells, nProbe), Float32)

  /** Float vectors partitioned by LSH bucket (q37, q63). */
  private[graft] def lsh(nPlanes: Int = 5): VectorLayout = VectorLayout(Buckets(nPlanes), Float32)

  /** Stored int8 vectors (q60). */
  private[graft] val int8: VectorLayout = VectorLayout(Unpartitioned, Int8)

  /** Stored PQ codes (q62). */
  private[graft] def pq(m: Int = 8, kw: Int = 16): VectorLayout = VectorLayout(Unpartitioned, Pq(m, kw))

  /** IVF-PQ — the production vector-index shape (the FAISS IVFPQ family):
    * PQ codes partitioned by IVF cell, so a query reads nProbe/nCells of an
    * already-32×-smaller table (q73, ann_serve).
    */
  private[graft] def ivfPq(nCells: Int = 16, nProbe: Int = 4, m: Int = 8, kw: Int = 16): VectorLayout =
    VectorLayout(Cells(nCells, nProbe), Pq(m, kw))

  /** The raw float corpus, every row scored: nothing to write (q51). */
  private[graft] val flat: VectorLayout = VectorLayout(Unpartitioned, Float32)

  /** A layout's closed-form constants at one dimension, built once per
    * call: the per-vector encoder shipped to executors, and the per-query
    * probe set and scoring state built on the driver.
    */
  private final class Codec(layout: VectorLayout, dim: Int) extends Serializable {
    private val cents = layout.part match { case Cells(n, _) => intCentroids(dim, n); case _ => null }
    private val planes = layout.part match { case Buckets(n) => intPlanes(dim, n); case _ => null }
    private val books = layout.enc match { case Pq(m, kw) => pqCodebooks(dim, m, kw); case _ => null }

    /** One vector's stored row: (id, the float vector when stored, the
      * stored bytes otherwise, the partition key); milliScaled runs once.
      */
    def encode(id: Long, v: Array[Float]): (Long, Array[Float], Array[Byte], Int) = {
      val a = milliScaled(v)
      val key = layout.part match {
        case _: Cells      => rankCellsInt(a, cents)(0)
        case _: Buckets    => signBitsInt(a, planes).toInt
        case Unpartitioned => 0
      }
      layout.enc match {
        case Float32 => (id, v, null, key)
        case Int8    => (id, null, quantizeInt8(v), key)
        case _: Pq   => (id, null, pqAssign(a, books), key)
      }
    }

    /** The partition keys query q probes (empty when unpartitioned). */
    def probes(q: Array[Float]): Seq[Int] = layout.part match {
      case Cells(_, nProbe) => rankCellsInt(milliScaled(q), cents).take(nProbe).toSeq
      case Buckets(nPlanes) =>
        val sig = signBitsInt(milliScaled(q), planes)
        (sig +: (0 until nPlanes).map(b => sig ^ (1L << b))).map(_.toInt)
      case Unpartitioned => Nil
    }

    /** Query q's scoring state, built once: the vector, its quantization,
      * or its ADC table.
      */
    def prepare(q: Array[Float]): AnyRef = layout.enc match {
      case Float32 => q
      case Int8    => quantizeInt8(q)
      case _: Pq   => pqQueryTable(q, books)
    }

    /** Query q's score over the stored column, as a column: the
      * scaled-dot and int8-dot Catalyst expressions keep scan → score →
      * TakeOrderedAndProject one codegen stage with no object fence (q48,
      * q60); ADC is a UDF over the binary codes with the query table
      * inlined.
      */
    def scoreColumn(q: Array[Float], stored: Column): Column = layout.enc match {
      case Float32 => call_function("scaled_dot_fast", stored, typedLit(q))
      case Int8    => call_function("int8_dot_fast", stored, lit(quantizeInt8(q)))
      case _: Pq =>
        val qtab = pqQueryTable(q, books)
        udf((codes: Array[Byte]) => adcScore(qtab, codes)).apply(stored)
    }
  }

  /** One typed score of a stored row against a prepared query — the
    * multi-query combine's form of Codec.scoreColumn.
    */
  private def scoreRow(enc: Encoding, prepared: AnyRef, v: Array[Float], bytes: Array[Byte]): Long =
    enc match {
      case Float32 => Sketches.scaledDot(v, prepared.asInstanceOf[Array[Float]])
      case Int8    => dotInt8(bytes, prepared.asInstanceOf[Array[Byte]])
      case _: Pq   => adcScore(prepared.asInstanceOf[Array[Array[Long]]], bytes)
    }

  /** The layout's rows computed ON THE FLY from float embeddings — one
    * narrow map, no shuffle — in exactly the stored schema: (idCol, stored
    * vector column[, partition column]). The build and append write these
    * rows; a probe over them (the unpartitioned gate queries q37/q47)
    * scores the same rows a stored layout would return, without its IO
    * pruning.
    */
  private[graft] def encoded(
      spark: SparkSession,
      layout: VectorLayout,
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int
  ): DataFrame = {
    import spark.implicits._
    val codec = spark.sparkContext.broadcast(new Codec(layout, dim))
    embeddings
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val c = codec.value
        it.map { case (id, v) => c.encode(id, v) }
      }
      .toDF(idCol, "_vec", "_bytes", "_key")
      .select(Seq(col(idCol),
        col(if (layout.enc == Float32) "_vec" else "_bytes").as(layout.storedCol(vecCol))) ++
        layout.partCol.map(col("_key").as(_)): _*)
  }

  /** encoded() at the batch's own dimension; None for an empty batch. */
  private def encodedBatch(
      spark: SparkSession, layout: VectorLayout, batch: DataFrame, idCol: String, vecCol: String
  ): Option[DataFrame] = {
    import spark.implicits._
    batch.select(col(vecCol)).as[Array[Float]].take(1).headOption
      .map(v => encoded(spark, layout, batch, idCol, vecCol, v.length))
  }

  /** Materialize a layout through the Tables lifecycle (data, `_meta`,
    * lineage); an empty corpus writes nothing. Partition assignment is a
    * narrow map (each write task writes its rows into the partition dirs it
    * holds); the layout is deterministic from the source table, so
    * rebuild-vs-reuse is a pure cost decision.
    */
  private[graft] def writeLayout(
      spark: SparkSession,
      layout: VectorLayout,
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      path: String
  ): Unit =
    encodedBatch(spark, layout, embeddings, idCol, vecCol).foreach(
      Tables.writeLayout(spark, layout.table, path, _, embeddings, idCol))

  /** Incremental refresh: after the `_meta` check, the new vectors are
    * encoded with the same closed-form constants — appended rows are
    * byte-identical to what a full rebuild would write, in the partitions
    * it would put them in. Existing files are untouched and probes prune
    * exactly as before: the daily-growth lifecycle of a 100 TB index
    * without a rebuild.
    */
  private[graft] def appendLayout(
      spark: SparkSession,
      layout: VectorLayout,
      newVectors: DataFrame,
      idCol: String,
      vecCol: String,
      path: String
  ): Unit =
    Tables.appendLayout(spark, layout.table, path, newVectors, idCol)(
      encodedBatch(spark, layout, newVectors, idCol, vecCol))

  /** A written layout's rows, after validating its `_meta` contract. */
  private[graft] def stored(spark: SparkSession, layout: VectorLayout, path: String): DataFrame =
    Tables.readLayout(spark, layout.table, path)

  /** Keep only the rows in the probed partitions: over a stored layout
    * this is a PARTITION filter, so the scan lists and reads only those
    * directories (PlanSpec-asserted for q61/q63/q73).
    */
  private def probed(layout: VectorLayout, rows: DataFrame, keys: Seq[Int]): DataFrame =
    layout.partCol.fold(rows)(p => rows.filter(col(p).isin(keys.distinct.map(Int.box): _*)))

  /** Single-query top-k over a layout's rows (`stored` or `encoded`):
    * probe-set filter → native score → TakeOrderedAndProject by (score
    * desc, id asc). Output (idCol, scoreName). The oracle reproduces the
    * exact probe set and scores from the float source.
    */
  private[graft] def topK(
      spark: SparkSession,
      layout: VectorLayout,
      rows: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int
  ): DataFrame = {
    val codec = new Codec(layout, query.length)
    NativeKernels.ensure(spark)
    probed(layout, rows, codec.probes(query))
      .select(
        col(idCol).cast("long").as(idCol),
        codec.scoreColumn(query, col(layout.storedCol(vecCol))).as(layout.scoreName))
      .orderBy(col(layout.scoreName).desc, col(idCol).asc)
      .limit(k)
  }

  /** Window top-k per probe group — the generic "k nearest per query" shape
    * for batched multi-query search (Window.partitionBy(query).orderBy
    * desc); the reference multiQueryTopK is proven equal to.
    */
  def topKPerGroup(scored: DataFrame, groupCol: String, scoreCol: String, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol).desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  final case class ScoredId(id: Long, score: Long)

  /** One query's results out of the multi-query aggregator. */
  final case class QueryHits(query_id: Long, hits: Seq[ScoredId])

  /** Score-inside-combine batched top-k: ONE typed Aggregator whose buffer
    * is M bounded top-k lists, scoring every (stored row, query) pair
    * INSIDE `reduce` — the M× row amplification of the
    * flatMap-then-aggregate form disappears (the M scores per row live only
    * as loop state, never as materialized rows), so the aggregation input
    * is the corpus itself and the only shuffled bytes are the per-partition
    * buffers (≤ M·k ScoredIds each). Query m scores a row only when the
    * row's partition key is in m's probe set (`probes` null: every row), so
    * each query gets exactly its single-query topK result while M queries
    * share one partition-pruned pass. Per-query state (vector, quantized
    * vector or ADC table) is prepared once on the driver; the combine is a
    * while loop with no per-(row, query) closure or allocation. The query
    * batch is serialized with the aggregator — one copy per TASK, fine for
    * dashboard-scale M.
    */
  private[graft] final class MultiQueryTopK(
      enc: Encoding, queryIds: Array[Long], prepared: Array[AnyRef], probes: Array[Set[Int]], k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Array[Float], Array[Byte], Int), Array[List[ScoredId]], Seq[QueryHits]] {
    private def better(score: Long, id: Long, than: ScoredId): Boolean =
      score > than.score || (score == than.score && id < than.id)
    private def insert(buf: List[ScoredId], v: ScoredId): List[ScoredId] = {
      val (pre, post) = buf.span(b => better(b.score, b.id, v))
      val merged = pre ::: v :: post
      if (merged.length > k) merged.take(k) else merged
    }
    def zero: Array[List[ScoredId]] = Array.fill(queryIds.length)(Nil)
    def reduce(buf: Array[List[ScoredId]], row: (Long, Array[Float], Array[Byte], Int)): Array[List[ScoredId]] = {
      var m = 0
      while (m < prepared.length) {
        if (probes == null || probes(m).contains(row._4)) {
          val score = scoreRow(enc, prepared(m), row._2, row._3)
          // bounded offer: a full buffer whose tail beats the score skips
          // the insert (the common case once the buffer warms up)
          val b = buf(m)
          if (b.length < k || better(score, row._1, b.last)) buf(m) = insert(b, ScoredId(row._1, score))
        }
        m += 1
      }
      buf
    }
    def merge(a: Array[List[ScoredId]], b: Array[List[ScoredId]]): Array[List[ScoredId]] =
      Array.tabulate(queryIds.length)(m => b(m).foldLeft(a(m))(insert))
    def finish(buf: Array[List[ScoredId]]): Seq[QueryHits] =
      queryIds.indices.map(m => QueryHits(queryIds(m), buf(m)))
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[List[ScoredId]]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[List[ScoredId]]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[QueryHits]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[QueryHits]]()
  }

  /** Batched multi-query top-k over a layout's rows in one pass: the
    * partition filter is the UNION of the M queries' probe sets, scoring is
    * per-query-probe-filtered inside the aggregator combine (see
    * MultiQueryTopK). Output (query_id, idCol, scoreName, rank) — each
    * query's rows equal an independent topK call, and over `flat` the
    * flatMap + per-group window form.
    */
  private[graft] def multiQueryTopK(
      spark: SparkSession,
      layout: VectorLayout,
      rows: DataFrame,
      idCol: String,
      vecCol: String,
      queries: Array[(Long, Array[Float])],
      k: Int
  ): DataFrame = {
    import spark.implicits._
    val codec = new Codec(layout, queries.head._2.length)
    val probes = queries.map { case (_, q) => codec.probes(q) }
    val agg = new MultiQueryTopK(layout.enc, queries.map(_._1), queries.map(q => codec.prepare(q._2)),
      layout.partCol.map(_ => probes.map(_.toSet)).orNull, k)
    val stored = col(layout.storedCol(vecCol))
    val (vec, bytes) =
      if (layout.enc == Float32) (stored, lit(null).cast("binary"))
      else (lit(null).cast("array<float>"), stored)
    probed(layout, rows, probes.flatten.toSeq)
      .select(col(idCol).cast("long"), vec, bytes, layout.partCol.fold(lit(0))(col(_).cast("int")))
      .as[(Long, Array[Float], Array[Byte], Int)]
      .select(agg.toColumn)
      .flatMap(identity(_))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("rank0", "hit")))
      .select(
        col("query_id"),
        col("hit.id").as(idCol),
        col("hit.score").as(layout.scoreName),
        (col("rank0") + 1).cast("bigint").as("rank"))
  }

  // Call sites compiled against these signatures elsewhere in the build
  // (the perfbench harness) — one-line forwarders onto the lifecycle.

  def ivfWriteLayoutGate(spark: SparkSession, embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, nCells: Int = 16): Unit =
    writeLayout(spark, ivf(nCells), embeddings, idCol, vecCol, path)

  def ivfPqWriteLayout(spark: SparkSession, embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, nCells: Int = 16, m: Int = 8, kw: Int = 16): Unit =
    writeLayout(spark, ivfPq(nCells, m = m, kw = kw), embeddings, idCol, vecCol, path)

  def multiQueryIvfPartitioned(spark: SparkSession, layoutPath: String, idCol: String, vecCol: String,
      queries: Array[(Long, Array[Float])], k: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame =
    multiQueryTopK(spark, ivf(nCells, nProbe), stored(spark, ivf(nCells, nProbe), layoutPath),
      idCol, vecCol, queries, k)

  def multiQueryIvfPqPartitioned(spark: SparkSession, layoutPath: String, idCol: String,
      queries: Array[(Long, Array[Float])], k: Int, nCells: Int = 16, nProbe: Int = 4,
      m: Int = 8, kw: Int = 16): DataFrame =
    multiQueryTopK(spark, ivfPq(nCells, nProbe, m, kw),
      stored(spark, ivfPq(nCells, nProbe, m, kw), layoutPath), idCol, "codes", queries, k)
}
