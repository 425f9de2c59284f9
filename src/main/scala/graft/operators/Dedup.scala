package graft.operators

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Sketches
import graft.plans.NativeKernels
import graft.sources.Tables

/** Deduplication operators for the training-data pipeline, from exact to
  * near-dup. Each has a distinct scale profile:
  *
  *  - exact:     one hash-aggregate shuffle on a 16-byte digest — the digest
  *               (not the document body) is the shuffle key, so 100 TB of
  *               text shuffles only ~rows × ~50 B.
  *  - near-dup:  MinHash (signature band slices), SimHash (64-bit sketch
  *               chunks, small Hamming distance) and embedding (hyperplane
  *               sign-bit bands, high cosine) share ONE candidate path:
  *               sketch (narrow) → (id, band, bkey) keys → one bucket-pair
  *               join over band keys and ids → ids-only join-back of the
  *               sketch → the family's own score and filter. Full and
  *               incremental (new batch vs all) runs differ only in the
  *               pair predicate; the MinHash signature and band-key tables
  *               are stored through the Tables layout lifecycle. The
  *               MinHash and SimHash sketch tables and the embedding
  *               (id, vector) payload are materialized at ONE point,
  *               `sketchedOnce`, so the plan branches that read them scan
  *               one checkpoint instead of re-computing their input.
  *  - ngramJaccard: exact verification joined onto LSH candidates only.
  *  - components: connected components over verified pairs → survivors.
  */
object Dedup {

  // compiled once — String.split(regex) recompiles the pattern per call,
  // and these splitters run per document (paragraphs, decontamination grams)
  private val WsPat = java.util.regex.Pattern.compile("\\s+")

  /** Cap a frame's partition count at what its own size estimate justifies
    * (guide §2.2 "fewer, larger map tasks" / §6 input split sizing): the
    * banding/pair stages of candidate generation are cheap per row, and a
    * sketch/signature table scanned at `files.minPartitionNum`-inflated
    * parallelism turns every downstream exchange into M×R shuffle-file
    * creations whose per-task fixed cost dwarfs the data (measured: the
    * band self-join + pair dedup at 32 map tasks × 128 shuffle partitions
    * cost ~26 task-seconds on a 2.5 MB signature table; 4 map tasks, 1.7).
    * Scale-adaptive, not core-count-tuned: partitions = ceil(estimated
    * bytes / targetBytes), and `coalesce` never increases a partition
    * count, so at corpus scale (estimate ≫ partitions × target) this is a
    * no-op. Frames with no usable size estimate are left untouched.
    */
  private def sizeJustifiedCoalesce(df: DataFrame, targetBytes: Long = 64L << 20): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 0 || !est.isValidLong) df
    else df.coalesce(math.max(1L, (est.toLong + targetBytes - 1) / targetBytes)
      .min(Int.MaxValue.toLong).toInt)
  }

  /** The candidate path's one materialization point. A payload frame (a
    * MinHash signature or SimHash sketch table, or the embedding family's
    * (id, vector) frame) is read by several plan
    * branches: the band probe and the band build, and both join-back sides.
    * Left as a plan, its sketch map runs once per branch, and under the
    * size-justified coalesce each run is a single task. So the frame is
    * materialized here first, eagerly (the call itself runs that one job)
    * and at its own partition width (the sketch runs once, in parallel),
    * and only then coalesced; every branch then scans the same
    * checkpointed blocks. `localCheckpoint`, never
    * `persist`: the blocks belong to this invocation's RDD, so a later call
    * over the same plan computes from its inputs again (see
    * `Queries.materializedOnce`). A caller that passes its own checkpoint
    * pays one copy of it here, no sketch.
    */
  private def sketchedOnce(df: DataFrame): DataFrame =
    sizeJustifiedCoalesce(df.localCheckpoint(true))

  /** The canonical normalized-content digest (whitespace-collapsed,
    * lowercased, md5) — THE content identity every exact-dedup consumer
    * shares (exact, q25, the q67 survivor pick). Delegates to the single
    * definition in TextAnalysis so the dedup key and the q32 fingerprint
    * column can never diverge.
    */
  def contentFingerprint(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.TextAnalysis.fingerprint(text)

  /** Exact dedup: survivor = min(id) per normalized-content digest. */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    docs
      .withColumn("fp", contentFingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))
  }

  /** Windowed-distinct survivor pick (north_rule A4): keeps exactly one row
    * per key with a deterministic survivor, preserving all columns.
    */
  def windowedDistinct(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** MinHash signatures: (id, sig array). Narrow map, no shuffle. */
  def minHashSignatures(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      shingleN: Int = 5
  ): DataFrame = {
    import spark.implicits._
    val family = spark.sparkContext.broadcast(Sketches.hashFamily(numHashes))
    docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        // fast path: identical signatures to minHash(shingles(text, n), _)
        // (MinHashFastSpec), without shingle-string/Set materialization
        (id, Sketches.minHashFromHashes(
          Sketches.shingleHashValues(text, shingleN), family.value))
      })
      .toDF("id", "sig")
  }

  // ------------------------------------------------ near-dup candidate path
  //
  // Every near-dup family (MinHash, SimHash, embedding) runs ONE shape:
  //   sketch → (id, band, bkey) keys (`banded`, given the family's per-row
  //   key function) → bucket pairs (`bucketPairs`: the only wide join, over
  //   band keys and ids) → ids-only join-back of the sketch (`joinedBack`)
  //   → the family's own score and filter.
  // The MinHash and SimHash entry points pass every sketch table they read
  // more than once through `sketchedOnce`, the path's one materialization
  // point. The stored-pruned path's all side is the stored signature layout
  // (no sketch to repeat) and is read as it is. The embedding family has
  // no sketch table: its payload is the caller's vector frame, which
  // `nearDupPairs` materializes the same way (the dimension probe, both
  // bander sides and both join-back sides read it), and its sign bits are
  // computed inside the bander.
  // Candidate generation is linear in docs, never all-pairs; the band-key
  // shuffle is the only wide op on the key side, bucket sizes are bounded
  // by similarity structure, with AQE skew-join as backstop for degenerate
  // buckets (e.g. empty docs). A new family is a key function and a verify
  // tail.

  /** The bander: (id, payload) rows → (id, band, bkey) rows, one per band
    * key of the row's payload. One narrow flatMap.
    */
  private def banded[P: TypeTag](rows: DataFrame, keys: P => Array[(Int, Long)]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .as[(Long, P)]
      .flatMap { case (id, p) => keys(p).map { case (b, k) => (id, b, k) } }
      .toDF("id", "band", "bkey")
  }

  /** Bucket pairs: rows of `l` and `r` sharing a (band, bkey)
    * whose ids satisfy `keep`, oriented (min, max) and deduplicated. The
    * full path joins one key frame with itself under `<`; the incremental
    * path joins the new batch's keys with all keys under `=!=`, which emits
    * exactly the pairs touching at least one new id. Only band keys and ids
    * ride the join and the pair-dedup shuffle — sketches and vectors are
    * joined back once per surviving pair.
    */
  private def bucketPairs(l: DataFrame, r: DataFrame, keep: (Column, Column) => Column): DataFrame =
    l.select(col("band"), col("bkey"), col("id").as("id1"))
      .join(r.select(col("band"), col("bkey"), col("id").as("id2")), Seq("band", "bkey"))
      .filter(keep(col("id1"), col("id2")))
      .select(least(col("id1"), col("id2")).as("id1"), greatest(col("id1"), col("id2")).as("id2"))
      .transform(pairParallelism)
      .dropDuplicates("id1", "id2")

  /** The pair-dedup exchange, width-controlled: dropDuplicates alone
    * shuffles at `spark.sql.shuffle.partitions` and AQE then coalesces the
    * READ side by byte size — correct for IO-bound stages, but the stage
    * consuming these pairs (the join-back and score) is CPU-bound per
    * row, so byte-based coalescing serializes it (measured: the whole
    * candidate tail collapsed to one task at sf0.1). An EXPLICIT
    * repartition on the dedup key keeps the same single exchange
    * (dropDuplicates reuses the hash distribution) while pinning the
    * post-shuffle width to the cluster's cores — the repo's convention for
    * CPU-bound stages (cores scale with the cluster, not with one host),
    * which AQE respects because user-specified repartitions are never
    * coalesced.
    */
  private def pairParallelism(pairs: DataFrame): DataFrame =
    pairs.repartition(pairs.sparkSession.sparkContext.defaultParallelism, col("id1"), col("id2"))

  /** The join-back: (id1, id2, p1, p2) — each endpoint's payload from an
    * (id, payload) frame, joined once per surviving pair.
    */
  private def joinedBack(pairs: DataFrame, payload: DataFrame): DataFrame = {
    val Array(id, p) = payload.columns
    pairs
      .join(payload.select(col(id).as("id1"), col(p).as("p1")), Seq("id1"))
      .join(payload.select(col(id).as("id2"), col(p).as("p2")), Seq("id2"))
  }

  /** `bands` band keys of a Long signature: its `width`-bit chunks, low
    * chunk first (SimHash chunks, embedding sign-bit bands).
    */
  private def chunkKeys(bands: Int, width: Int): Long => Array[(Int, Long)] = {
    val mask = (1L << width) - 1
    bits => Array.tabulate(bands)(b => (b, (bits >>> (b * width)) & mask))
  }

  // ------------------------------------------------------------ MinHash

  /** The MinHash key function: one fnv1a key per signature band slice. */
  private def minHashKeys(bands: Int): Array[Long] => Array[(Int, Long)] =
    Sketches.bandKeys(_, bands)

  /** LSH candidate pairs: band the signatures, pair ids inside buckets,
    * then estimate Jaccard from the signatures joined back per pair.
    */
  def minHashCandidates(
      spark: SparkSession,
      sigs0: DataFrame,
      bands: Int = 16,
      minEstJaccard: Double = 0.5
  ): DataFrame = {
    val sigs = sketchedOnce(sigs0)
    val keys = banded(sigs, minHashKeys(bands))
    estimatePairs(spark, sigs, bucketPairs(keys, keys, _ < _), minEstJaccard)
  }

  /** The MinHash verify tail: keep pairs whose signature-estimated Jaccard
    * clears the bar.
    */
  private def estimatePairs(spark: SparkSession, sigs: DataFrame, pairs: DataFrame,
      minEstJaccard: Double): DataFrame = {
    // the agreement count as a NATIVE codegen expression over columnar
    // ArrayData (sig_agree_fast, graft.plans.SigAgreeExpr): zero per-pair
    // allocation. Measured alternatives at sf0.1 candidate volume: the typed
    // .map deserialized two 64-long arrays per pair (GC-heavy serial tail);
    // the zip_with/aggregate HOF form is interpreted, ~2.5× slower than the
    // map. Division mirrors estJaccard exactly: eq.toDouble / s1.length.
    NativeKernels.ensure(spark)
    joinedBack(pairs, sigs)
      .select(col("id1"), col("id2"),
        (expr("sig_agree_fast(p1, p2)").cast("double") / size(col("p1"))).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Incremental candidate generation after a corpus append: band the NEW
    * batch's signatures against the full stored table and emit only pairs
    * touching at least one new doc (old–old pairs were produced by earlier
    * runs — re-emitting them would redo the whole corpus's pair work every
    * day). Union(previous candidates, this) == candidates over the full
    * corpus — the invariant the spec proves.
    *
    * Cost honesty: what this makes append-linear is the EXPENSIVE per-doc
    * work — sketching (the dominant CPU; never recomputed for old docs)
    * and the pair/estimate volume (bounded by buckets the new batch
    * touches). The join's right side still scans and bands the full stored
    * table (corpus-linear IO of the compact sig rows, not of text); when
    * that matters too, `writeBandLayout` + `minHashCandidatesStoredPruned`
    * below materialize the banded keys bucket-partitioned so the new
    * batch's bucket set PRUNES the stored scan at the file level.
    */
  def minHashCandidatesIncremental(
      spark: SparkSession,
      allSigs0: DataFrame,
      newSigs0: DataFrame,
      bands: Int = 16,
      minEstJaccard: Double = 0.5
  ): DataFrame = {
    // the new batch is banded once and read nowhere else
    val allSigs = sketchedOnce(allSigs0)
    val newSigs = sizeJustifiedCoalesce(newSigs0)
    estimatePairs(spark, allSigs,
      bucketPairs(banded(newSigs, minHashKeys(bands)), banded(allSigs, minHashKeys(bands)), _ =!= _),
      minEstJaccard)
  }

  // -------------------------------------------- materialized MinHash layouts

  /** The (id, sig) signature layout's contract: band slices depend on the
    * hash count and the shingles on n, so an append or read with other
    * values would silently lose cross-batch pairs.
    */
  private def signatureLayout(numHashes: Int, shingleN: Int): Tables.Layout =
    Tables.Layout(Seq("num_hashes" -> numHashes, "shingle_n" -> shingleN))

  /** The band-key layout's contract: (id, band, bkey) rows partitioned by
    * `bucket` = a hash bucket of the band key.
    */
  private def bandLayout(bands: Int, nBuckets: Int): Tables.Layout =
    Tables.Layout(Seq("bands" -> bands, "n_buckets" -> nBuckets), Some("bucket"))

  /** Materialize the (id, sig) MinHash signature table through the layout
    * lifecycle — the layout that makes 100 TB dedup re-runnable daily:
    * signatures are computed ONCE per document ever; a corpus append
    * computes signatures for the NEW batch only (appendSignatureLayout) and
    * bands them against the stored table (minHashCandidatesIncremental),
    * instead of re-sketching the whole corpus per run. Lineage rows record
    * which batches are in the table.
    */
  def writeSignatureLayout(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numHashes: Int = 64,
      shingleN: Int = 5
  ): Unit =
    Tables.writeLayout(spark, signatureLayout(numHashes, shingleN), path,
      minHashSignatures(spark, docs, idCol, textCol, numHashes, shingleN), docs, idCol)

  /** Incremental refresh: sketch ONLY the new batch, append. The hash
    * family is closed-form, so appended signatures are identical to what a
    * full rebuild would compute.
    */
  def appendSignatureLayout(
      spark: SparkSession,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numHashes: Int = 64,
      shingleN: Int = 5
  ): Unit =
    Tables.appendLayout(spark, signatureLayout(numHashes, shingleN), path, newDocs, idCol)(
      Some(minHashSignatures(spark, newDocs, idCol, textCol, numHashes, shingleN)))

  /** A written signature layout's (id, sig) rows, after validating its
    * `_meta` contract.
    */
  def storedSignatures(spark: SparkSession, path: String, numHashes: Int = 64,
      shingleN: Int = 5): DataFrame =
    Tables.readLayout(spark, signatureLayout(numHashes, shingleN), path)

  /** Materialize the BANDED keys (id, band, bkey) partitioned by a hash
    * bucket of the band key — the layout that makes the stored side of
    * incremental dedup prunable: a small append touches a bounded set of
    * band-key buckets, and `minHashCandidatesStoredPruned` turns that set
    * into a PARTITION filter on this table, so the daily run reads only
    * the bucket directories the new batch can possibly collide in (the ANN
    * layouts' partition-filter pattern applied to LSH banding). With
    * `nBuckets` ≫ new-batch keys the stored-side IO is append-bounded; a
    * bulk re-run over everything just reads all buckets — same table.
    */
  def writeBandLayout(
      spark: SparkSession,
      sigs: DataFrame,
      path: String,
      bands: Int = 16,
      nBuckets: Int = 256
  ): Unit =
    Tables.writeLayout(spark, bandLayout(bands, nBuckets), path,
      banded(sigs, minHashKeys(bands))
        .withColumn("bucket", Tables.format.bucket(col("bkey"), nBuckets)),
      sigs, "id")

  /** Incremental refresh of the banded-key layout: append the new batch's
    * keys into their bucket partitions.
    */
  def appendBandLayout(
      spark: SparkSession,
      newSigs: DataFrame,
      path: String,
      bands: Int = 16,
      nBuckets: Int = 256
  ): Unit =
    Tables.appendLayout(spark, bandLayout(bands, nBuckets), path, newSigs, "id")(Some(
      banded(newSigs, minHashKeys(bands))
        .withColumn("bucket", Tables.format.bucket(col("bkey"), nBuckets))))

  /** Incremental candidates with the stored side PRUNED: the new batch's
    * band keys determine a bucket set (≤ nBuckets, usually far fewer for a
    * small append), which becomes a partition filter on the stored banded
    * layout — only those bucket directories are read. Semantics equal
    * `minHashCandidatesIncremental` (the spec proves it); the difference
    * is stored-side IO proportional to the APPEND's collision surface
    * instead of the corpus.
    *
    * Ordering contract, ENFORCED: the stored layout must already contain
    * the new batch's keys (`appendBandLayout(newSigs)` before querying) —
    * otherwise new-vs-new collision pairs would silently vanish. Rather
    * than trusting the caller, the lineage audit below checks that the
    * layout's recorded batches cover `allSigs` exactly (one tiny aggregate
    * over the lineage log's latest rows + one column-pruned id aggregate — zero IO
    * against the layout's data files) and throws on a gap. The audit runs
    * before anything is materialized, so a failed call checkpoints nothing;
    * only the new batch then goes through `sketchedOnce`.
    */
  def minHashCandidatesStoredPruned(
      spark: SparkSession,
      bandLayoutPath: String,
      allSigs: DataFrame,
      newSigs: DataFrame,
      bands: Int = 16,
      nBuckets: Int = 256,
      minEstJaccard: Double = 0.5
  ): DataFrame = {
    val stored = Tables.readLayout(spark, bandLayout(bands, nBuckets), bandLayoutPath)
    require(
      Tables.auditLayoutLineage(spark, bandLayoutPath, allSigs, "id"),
      s"band layout at $bandLayoutPath does not cover allSigs - " +
        "appendBandLayout the new batch BEFORE querying the pruned path, " +
        "or new-vs-new collision pairs would be silently dropped")
    // the new batch's keys are read twice (the bucket set and the join), so
    // its table goes through the materialization point; the all side is the
    // stored signature layout, read by the two join-back sides as it is
    val newKeys = banded(sketchedOnce(newSigs), minHashKeys(bands))
    // the bucket set is bounded by nBuckets (a few hundred Longs) — safe to
    // collect and inline as a partition-pruning predicate
    val buckets = newKeys.select(Tables.format.bucket(col("bkey"), nBuckets)).distinct()
      .collect().map(_.getLong(0))
    estimatePairs(spark, allSigs,
      bucketPairs(newKeys, stored.filter(col("bucket").isin(buckets.toSeq.map(Long.box): _*)), _ =!= _),
      minEstJaccard)
  }

  // ------------------------------------------------------------ SimHash

  /** SimHash sketches (id, simhash). */
  def simHashes(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, t) => (id, Sketches.simHash(t)) }
      .toDF("id", "simhash")
  }

  /** SimHash near-dup pairs: band on `chunkBits`-bit chunks (any equal
    * chunk → candidate; Hamming ≤ maxHamming verified exactly). `chunks`
    * chunks guarantee recall for Hamming ≤ chunks−1 by pigeonhole. Defaults
    * cover the 64-bit fnv1a sketch; the oracle-gated md5 variant uses 4×12.
    */
  def simHashPairs(
      spark: SparkSession,
      hashes0: DataFrame,
      maxHamming: Int = 3,
      chunks: Int = 4,
      chunkBits: Int = 16
  ): DataFrame = {
    val hashes = sketchedOnce(hashes0)
    val keys = banded(hashes, chunkKeys(chunks, chunkBits))
    hammingVerified(hashes, bucketPairs(keys, keys, _ < _), maxHamming)
  }

  /** The SimHash verify tail: exact Hamming distance of the sketches joined
    * back per pair, as a codegen'd bit_count(xor) built-in.
    */
  private def hammingVerified(hashes: DataFrame, pairs: DataFrame, maxHamming: Int): DataFrame =
    joinedBack(pairs, hashes)
      .select(col("id1"), col("id2"), bit_count(col("p1").bitwiseXOR(col("p2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** Incremental SimHash near-dup after a corpus append — the
    * `minHashCandidatesIncremental` contract for the SimHash family:
    * chunk-band ONLY the new batch's sketches against the full table and
    * emit Hamming-verified pairs touching at least one new doc.
    * union(previous pairs, this) == simHashPairs over the full corpus.
    */
  def simHashPairsIncremental(
      spark: SparkSession,
      allHashes0: DataFrame,
      newHashes0: DataFrame,
      maxHamming: Int = 3,
      chunks: Int = 4,
      chunkBits: Int = 16
  ): DataFrame = {
    // the new batch is banded once and read nowhere else
    val allHashes = sketchedOnce(allHashes0)
    val newHashes = sizeJustifiedCoalesce(newHashes0)
    val keys = chunkKeys(chunks, chunkBits)
    hammingVerified(allHashes,
      bucketPairs(banded(newHashes, keys), banded(allHashes, keys), _ =!= _), maxHamming)
  }

  // ---------------------------------------------------------- embedding

  /** Deterministic random hyperplanes (seeded), dim × nPlanes. */
  def hyperplanes(dim: Int, nPlanes: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(7)
    Array.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  def signBits(v: Array[Float], planes: Array[Array[Double]]): Long = {
    var bits = 0L
    var p = 0
    while (p < planes.length) {
      var dot = 0.0
      var i = 0
      val pl = planes(p)
      while (i < v.length && i < pl.length) { dot += v(i) * pl(i); i += 1 }
      if (dot >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  /** The embedding key function: the hyperplane sign-bit signature at the
    * corpus's dimension (probed from one vector; an empty corpus has no
    * rows to key, so dimension 0 serves), in `bands` bands of `bandBits`
    * bits.
    */
  private def hyperplaneKeys(spark: SparkSession, vectors: DataFrame, bands: Int,
      bandBits: Int): Array[Float] => Array[(Int, Long)] = {
    import spark.implicits._
    require(bands * bandBits <= 64, "signature must fit in a Long")
    val dim = vectors.select(col("v")).as[Array[Float]].take(1).headOption.fold(0)(_.length)
    val planes = spark.sparkContext.broadcast(hyperplanes(dim, bands * bandBits))
    val chunked = chunkKeys(bands, bandBits)
    v => chunked(signBits(v, planes.value))
  }

  /** Embedding-cosine near-duplicate pairs. The hyperplane signature is
    * split into `bands` independent bands of `bandBits` bits; a pair is a
    * candidate if ANY band matches. Per-bit agreement for angle θ is 1−θ/π,
    * so at cosine 0.95 (θ≈0.318 rad, p≈0.899) recall is 1−(1−p^4)^6 ≈
    * 0.998 with the defaults — vs ≈28% for a single 12-plane bucket. At
    * 100 TB the wide ops move ~24 B/row instead of the embedding payload.
    * Empty input returns an empty frame. The (id, vector) payload goes
    * through `sketchedOnce`, so the caller's plan behind it (a scan, a
    * union, a typed map) runs once per call, not once per reading branch.
    */
  def nearDupPairs(
      spark: SparkSession,
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double = 0.95,
      bands: Int = 6,
      bandBits: Int = 4
  ): DataFrame = {
    val vectors = sketchedOnce(embeddings.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")))
    val keys = banded(vectors, hyperplaneKeys(spark, vectors, bands, bandBits))
    cosineVerified(spark, vectors, bucketPairs(keys, keys, _ < _), minCosine)
  }

  /** The embedding verify tail: exact cosine of the vectors joined back per
    * pair.
    */
  private def cosineVerified(spark: SparkSession, vectors: DataFrame, pairs: DataFrame,
      minCosine: Double): DataFrame = {
    // exact cosine as a NATIVE codegen expression over columnar ArrayData
    // (cosine_fast, graft.plans.CosineExpr — the sig_agree_fast discipline):
    // the typed .map deserialized both float vectors per surviving pair
    // through an object fence; this keeps join → score → filter one codegen
    // span with zero per-pair allocation. Bit-identical to Sketches.cosine
    // (CosineExprSpec; q38/q90 oracle hashes pin it end-to-end).
    NativeKernels.ensure(spark)
    joinedBack(pairs, vectors)
      .select(col("id1"), col("id2"), expr("cosine_fast(p1, p2)").as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Incremental embedding near-dup after a corpus append — the
    * `minHashCandidatesIncremental` contract for the embedding family: band
    * ONLY the new batch against the full corpus's band keys and emit
    * (cosine-verified) pairs touching at least one new vector; old-old
    * pairs were produced by earlier runs. union(previous pairs, this) ==
    * nearDupPairs over the full corpus.
    *
    * Cost honesty (the minhash path's caveat applies here too): what this
    * makes append-bounded is the PAIR/VERIFY volume (bounded by the
    * append's collision surface, never all-pairs). The corpus side still
    * recomputes signBits signatures from the raw vectors each run — a
    * corpus-linear narrow pass. When that matters, materialize the band
    * keys once and append per batch (the `writeBandLayout` pattern — same
    * (id, band, bkey) shape, so the bucket-partitioned layout and its file
    * pruning carry over unchanged); the spec's equality contract is the
    * same either way.
    */
  def nearDupPairsIncremental(
      spark: SparkSession,
      allEmbeddings: DataFrame,
      newEmbeddings: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double = 0.95,
      bands: Int = 6,
      bandBits: Int = 4
  ): DataFrame = {
    val all = allEmbeddings.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val nw = newEmbeddings.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val keys = hyperplaneKeys(spark, all, bands, bandBits)
    cosineVerified(spark, all, bucketPairs(banded(nw, keys), banded(all, keys), _ =!= _), minCosine)
  }

  /** Corpus-level boilerplate removal (the CCNet-style paragraph dedup a
    * web-text pipeline runs before training): split every doc into fixed
    * `paraWords`-word paragraphs, count each distinct paragraph's document
    * frequency across the corpus, drop paragraphs appearing in ≥ maxDocFreq
    * docs (copyright footers, nav bars, cookie banners), reassemble the
    * survivors in order. Two-pass corpus-statistic shape: one aggregation
    * shuffle for the df count — keyed on md5(para), so the wide op moves
    * 16-byte digests, never paragraph text — then a broadcast anti-join on
    * the digest (the boilerplate set is small by definition: it's the head
    * of the frequency distribution) and one groupBy to rebuild.
    *
    * Output: (idCol, kept_text) for EVERY input doc — a doc whose every
    * paragraph was boilerplate keeps an empty string, not a dropped row.
    */
  def dropBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      paraWords: Int = 50,
      maxDocFreq: Long = 1000
  ): DataFrame = {
    val withFp = paragraphRows(docs, idCol, textCol, paraWords)
    val bp = withFp.groupBy("pfp").agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= maxDocFreq)
      .select(col("pfp"))
    val kept = withFp.join(broadcast(bp), Seq("pfp"), "left_anti").drop("pfp")
    val rebuilt = kept.groupBy("id").agg(
      array_join(
        transform(
          array_sort(collect_list(struct(col("pidx"), col("para")))),
          x => x.getField("para")),
        " ").as("kept_text"))
    docs.select(col(idCol).cast("long").as("id"))
      .join(rebuilt, Seq("id"), "left_outer")
      .select(col("id").as(idCol), coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** (id, pidx, para, pfp) paragraph rows — the shared splitter behind
    * boilerplate removal and the df-state maintenance (q93).
    */
  private def paragraphRows(
      docs: DataFrame, idCol: String, textCol: String, paraWords: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = WsPat.split(text.trim).filter(_.nonEmpty)
        toks.grouped(paraWords).zipWithIndex.map { case (ws, i) => (id, i, ws.mkString(" ")) }
      }
      .toDF("id", "pidx", "para")
      .withColumn("pfp", md5(col("para")))
  }

  /** The CORPUS-STATISTIC half of boilerplate removal, exposed for
    * incremental maintenance: per-paragraph-digest distinct-document
    * frequency. Distinct-doc counts over DOC-DISJOINT batches ADD, so the
    * stored (pfp, df) table maintains by sum-merge — the node-table algebra
    * applied to the pipeline's most expensive text statistic (q93 gates
    * it). At 100 TB this is the difference between re-counting every
    * paragraph of the corpus nightly and counting only the day's append.
    */
  def paragraphDf(
      docs: DataFrame, idCol: String, textCol: String, paraWords: Int = 50): DataFrame =
    paragraphRows(docs, idCol, textCol, paraWords)
      .groupBy("pfp").agg(countDistinct(col("id")).as("df"))

  // ------------------------------------------------ cluster resolution (CC)

  /** large-star: every node connects its strictly-larger neighbors to the
    * minimum of its neighborhood (including itself). The neighborhood min
    * rides a WINDOW over the node id rather than groupBy + join-back: the
    * same per-row semantics with ONE shuffle of the edge set instead of two
    * (agg + join re-shuffle) and one scan instead of two — per star the
    * round drops from 3 exchanges to 2. Rows are (Long, Long) pairs only.
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy("u")
    sym
      .withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
    // no trailing distinct: largeStar feeds only smallStar, whose window-min
    // is duplicate-insensitive and whose own trailing distinct restores set
    // semantics — dropping it removes one full exchange PER STAR ROUND at
    // the cost of ≤2|e| (instead of deduped) rows into smallStar's shuffle
  }

  /** small-star: orient edges toward the smaller endpoint, then every node
    * connects its ≤-neighbors (and itself) to the neighborhood minimum.
    * Window-min like largeStar, with BOTH output legs (v → m and u → m)
    * emitted from the one windowed pass by a narrow explode — a unionAll of
    * two references would evaluate the window twice. The u → m leg appears
    * once per row rather than once per node; the trailing distinct
    * collapses the duplicates, so set semantics are unchanged and no extra
    * exchange is spent deduplicating the leg early.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val w = Window.partitionBy("u")
    oriented
      .withColumn("m", min(col("v")).over(w))
      .select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u").as("u"), col("m").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One star round, the body of every iteration of the component loop:
    * large-star, then small-star. PlanSpec asserts on this plan that every
    * exchange moves two-Long rows only.
    */
  private[graft] def starRound(edges: DataFrame): DataFrame = smallStar(largeStar(edges))

  /** The pair count, duplicates included, at or below which the component
    * loop runs `unionFind` instead of star rounds: 2^20 pairs. What the one
    * task holds is its node map, not the pair rows (they stream through): about
    * 50 bytes per node (`LongMap` boxes its values) plus an 8-byte id
    * snapshot, so at most 2^21 nodes here. Measured on a 4-core host, JDK
    * 17, 2^20 generated edges: a perfect matching (2^21 nodes, the worst
    * case) holds 124 MB live after GC and needs a 160 MB heap to finish at
    * all, 224 MB to finish without GC pressure; a random graph (0.9M nodes)
    * holds 60 MB, a chain (1M nodes) 65 MB. Through `componentsWithStatus`
    * on `local[4]` those three graphs take 2.5–4.6 s at this limit and
    * 10.5–69 s through star rounds (the chain does not converge in 20
    * rounds).
    */
  private[graft] val LocalFinishRows: Long = 1L << 20

  /** The local finisher: the whole edge set in ONE task (`coalesce(1)` is a
    * narrow merge of the checkpointed blocks, so no exchange runs and
    * no rows are collected), union-by-min with path halving,
    * so every root is its component's minimum id. Emits one
    * (id, component) row per node.
    */
  private def unionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.as[(Long, Long)].coalesce(1).mapPartitions { rows =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        var p = parent(x)
        while (p != x) {
          val g = parent(p)
          parent(x) = g
          x = g
          p = parent(x)
        }
        x
      }
      rows.foreach { case (u, v) =>
        parent.getOrElseUpdate(u, u)
        parent.getOrElseUpdate(v, v)
        val (ru, rv) = (find(u), find(v))
        if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
      }
      // snapshot the ids: find rewrites parents while the labels stream out
      parent.keys.toArray.iterator.map(id => (id, find(id)))
    }.toDF("id", "component")
  }

  /** Connected components over candidate pairs — the step every pair-
    * emitting near-dup operator (minhash/simhash/embedding) stops short of:
    * a 100 TB dedup keeps one doc per CLUSTER, not per pair. Alternating
    * small-star/large-star joins (Kiveris et al., "Connected Components in
    * MapReduce and Beyond" — no GraphX dependency) for an edge set too
    * large for one task; an edge set that fits one task (`LocalFinishRows`)
    * is resolved instead by one union-find over one partition. The star
    * loop is bounded (converges in O(log n) rounds; n here is the largest
    * component, so the bound is generous).
    *
    * The finisher: the input's pair count (self-loops dropped, duplicates
    * kept) is read by the job that checkpoints the pairs. At or below the
    * limit the method returns `unionFind` of those raw pairs, converged —
    * no distinct, no star round and no except run at all; union-find does
    * not care about duplicate or reversed pairs, and counting them only
    * makes the limit more conservative. The check is made once, not
    * after every round: no measured workload has an edge set above the
    * limit, so a mid-loop exit would be unmeasured code. Labels are
    * identical by construction: the min-id label of a component is unique,
    * whichever path computes it. Above the limit the count costs one pass
    * more than deduplicating first would: the raw pairs are checkpointed
    * and counted, then deduplicated into a second checkpoint, and the raw
    * blocks stay in block storage beside it through the star loop. That
    * path is unmeasured too.
    *
    * Scale shape: every shuffle in every star round moves two-Long rows
    * (node, candidate-parent) — never document payloads (PlanSpec-asserted);
    * the finisher runs no shuffle. `localCheckpoint` truncates the
    * per-iteration lineage so plan size stays constant across rounds.
    *
    * Convergence of the star loop (the Kiveris changed-row counter, adapted
    * to exactness): the per-round check is ONE tiny aggregate over the
    * just-checkpointed edge set — an order-independent signature (count +
    * two independent xor-folds of xxhash64, overflow-free at any edge
    * count) compared to the previous round's. Equal sets always produce
    * equal signatures, so the exact (shuffle-heavy) `except` check runs
    * ONCE, when the signature first repeats, to confirm the fixpoint — a
    * signature collision between distinct sets merely costs one extra
    * except that says "keep going", never a wrong answer.
    *
    * Returns (id, component) for every node appearing in `pairs`, where
    * component = min id of the connected component (so the component id IS
    * the min-id survivor). Component centers map to themselves.
    */
  def components(spark: SparkSession, pairs: DataFrame, maxIters: Int = 20): DataFrame =
    componentsWithStatus(spark, pairs, maxIters)._1

  /** `components` with the convergence flag exposed: past `maxIters` the
    * current labels are RETURNED (flag false, warning logged) rather than
    * the job killed — on a pathological graph a 100 TB run degrades to
    * approximate labels a caller can quarantine, instead of discarding
    * maxIters rounds of cluster work at the finish line. The finisher path
    * is always converged.
    */
  def componentsWithStatus(
      spark: SparkSession,
      pairs: DataFrame,
      maxIters: Int = 20
  ): (DataFrame, Boolean) =
    componentsWithStatus(spark, pairs, maxIters, LocalFinishRows)

  /** The component loop every public entry point reaches. `localFinishRows`
    * is the finisher's pair limit; specs pass 0 to force the star path.
    */
  private[graft] def componentsWithStatus(
      spark: SparkSession,
      pairs: DataFrame,
      maxIters: Int,
      localFinishRows: Long
  ): (DataFrame, Boolean) = {
    val rawPairs = pairs
      .select(col(pairs.columns(0)).cast("long").as("u"), col(pairs.columns(1)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .localCheckpoint(false)
    // the count materializes the checkpoint; an empty pair set finishes here
    // too: unionFind of no rows is no labels
    if (rawPairs.count() <= localFinishRows) return (unionFind(rawPairs), true)
    // order-independent set signature: count + two independent xor-folds
    // (the second over the swapped pair = a different 64-bit hash of the same
    // row). xor cannot overflow at ANY edge count — a sum term would wrap a
    // Long past ~2^32 edges and THROW under ANSI mode, exactly the corpora
    // this operator is pitched at
    def signature(df: DataFrame): (Long, Long, Long) = {
      val r = df.select(
        count(lit(1)),
        expr("bit_xor(xxhash64(u, v))"),
        expr("bit_xor(xxhash64(v, u))")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    // LAZY localCheckpoint + the signature aggregate as its materializing
    // action: one job per round computes the stars, caches the blocks,
    // truncates the lineage AND returns the edge count and the convergence
    // signature — there is no separate checkpoint/count/except job left in
    // the loop at all
    //
    // Partition economy per round: the checkpointed edge set inherits the
    // session's shuffle partition count, so each of the next round's
    // exchanges would create (that many map tasks) × (shuffle partitions)
    // shuffle files regardless of edge volume. The signature aggregate
    // already knows the EXACT edge count, so cap the checkpoint's
    // partitioning at what the rows justify (two-Long rows; ~1M rows per
    // partition ⇒ ~16 MB tasks) — a narrow cached-block merge, a no-op
    // whenever the justified count meets the current one (large graphs).
    def rowJustified(df: DataFrame, rows: Long): DataFrame =
      df.coalesce(math.max(1L, rows >> 20).min(Int.MaxValue.toLong).toInt)
    // above the limit: the star loop's signature and except need set
    // semantics, so deduplicate once from the checkpointed raw pairs (one
    // more job, and the raw blocks are held beside the distinct ones)
    var e = rawPairs.distinct().localCheckpoint(false)
    var sig = signature(e)
    e = rowJustified(e, sig._1)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val next = starRound(e).localCheckpoint(false)
      val nextSig = signature(next)
      val nextBalanced = rowJustified(next, nextSig._1)
      // signature repeat ⇒ run the exact confirmation (once, at fixpoint)
      if (nextSig == sig) converged = nextBalanced.except(e).isEmpty
      sig = nextSig
      e = nextBalanced
      it += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"components did not converge in $maxIters star rounds; returning current labels")
    // at fixpoint edges form stars (node → component min); add the centers —
    // the outer distinct subsumes deduping the center side, so the union
    // needs no inner distinct (one fewer exchange on the label read-out)
    val raw = e.select(col("u").as("id"), col("v").as("component"))
      .unionByName(e.select(col("v").as("id"), col("v").as("component")))
    // converged ⇒ the star forest already has exactly one row per node, so
    // distinct suffices; NOT converged ⇒ a node can still hold several
    // candidate parents, and emitting them all would duplicate every
    // downstream join — collapse to the best (minimum) label per node so
    // the degraded output keeps the one-row-per-id contract
    val labels =
      if (converged) raw.distinct()
      else raw.groupBy("id").agg(min(col("component")).as("component"))
    (labels, converged)
  }

  /** Incremental connected components — the label-update step of daily
    * dedup: yesterday's (id, component) labels ARE a connectivity-
    * preserving contraction of yesterday's graph (every node wired to its
    * component min), so running the component loop over
    * labels-as-edges ∪ today's new candidate pairs yields exactly the
    * components of the full cumulative graph — without ever rebuilding or
    * re-walking yesterday's edge set, whose size is corpus-scale while the
    * label table is one row per node. Composes with
    * `minHashCandidatesIncremental`/`minHashCandidatesStoredPruned` to
    * close the loop: append → new pairs → label update → survivors.
    */
  def componentsIncremental(
      spark: SparkSession,
      oldLabels: DataFrame,
      newPairs: DataFrame,
      maxIters: Int = 20,
      requireConverged: Boolean = true
  ): DataFrame = {
    val asEdges = oldLabels.select(
      col(oldLabels.columns(0)).cast("long").as("u"),
      col(oldLabels.columns(1)).cast("long").as("v"))
    val fresh = newPairs.select(
      col(newPairs.columns(0)).cast("long").as("u"),
      col(newPairs.columns(1)).cast("long").as("v"))
    // same non-convergence stance as clusters(): the daily loop must not be
    // QUIETER about approximate labels than the one-shot path it replaces
    val (labels, converged) =
      componentsWithStatus(spark, asEdges.unionByName(fresh), maxIters)
    if (requireConverged && !converged)
      throw new IllegalStateException(
        s"incremental components did not converge in $maxIters rounds; " +
          "pass requireConverged=false to accept approximate labels")
    labels
  }

  /** Cluster-resolved dedup: every doc gets its cluster id (= min doc id of
    * its near-dup component, itself when unpaired) and a survivor flag.
    * This is the terminal operator of the dedup pipeline: candidates →
    * verify → components → per-cluster survivor pick.
    *
    * Non-convergence is an EXPLICIT caller choice here, not a log line: the
    * default (`requireConverged = true`) throws if the component loop hits
    * `maxIters` without a fixpoint, because a silently-approximate label
    * yields silently-wrong survivor flags. A caller that prefers degraded
    * labels over a dead 100 TB job passes `requireConverged = false` —
    * opting in to approximate clusters knowingly (or calls
    * `componentsWithStatus` itself to quarantine them).
    */
  def clusters(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIters: Int = 20,
      requireConverged: Boolean = true
  ): DataFrame =
    clusters(docs, idCol, pairs, maxIters, requireConverged, LocalFinishRows)

  /** `clusters` at a given finisher limit (specs pass 0). */
  private[graft] def clusters(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIters: Int,
      requireConverged: Boolean,
      localFinishRows: Long
  ): DataFrame = {
    val (comp, converged) =
      componentsWithStatus(docs.sparkSession, pairs, maxIters, localFinishRows)
    if (requireConverged && !converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds; " +
          "pass requireConverged=false to accept approximate cluster labels")
    clustersFromLabels(docs, idCol, comp)
  }

  /** The label→survivor tail of `clusters`, reusable with labels from ANY
    * source — in particular `componentsIncremental`'s updated labels, so
    * the daily loop never recomputes components to re-derive survivors.
    */
  def clustersFromLabels(docs: DataFrame, idCol: String, labels: DataFrame): DataFrame =
    docs
      .select(col(idCol).cast("long").as("id"))
      .join(labels, Seq("id"), "left_outer")
      .select(
        col("id").as(idCol),
        coalesce(col("component"), col("id")).as("cluster_id")
      )
      .withColumn("is_survivor", col(idCol) === col("cluster_id"))

  /** Benchmark decontamination — the step a training-data pipeline runs
    * before anything ships to a trainer: flag every TRAIN document sharing
    * at least one `n`-word gram with any EVAL document (the standard
    * 8-gram-overlap rule of GPT-3/PaLM-style decontamination). Scale shape:
    * the eval set is SMALL by definition, so its gram set is collected once
    * (`Curation.evalGramSet`, which fails fast past `MaxEvalGrams`) and
    * broadcast; the corpus pass is then a narrow map — zero shuffles,
    * the binary/text column is read exactly once. (At extreme eval sizes
    * the broadcast set becomes a Bloom filter + exact re-check join; the
    * call-site shape is unchanged.)
    *
    * `isEval` partitions docs by id; output = one row per TRAIN doc:
    * (idCol, contaminated).
    */
  def decontaminate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isEval: org.apache.spark.sql.Column,
      n: Int = 8
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"), isEval.as("ev"))
    val gramsB = spark.sparkContext.broadcast(Curation.evalGramSet(base, "text", col("ev"), n))
    base.filter(!col("ev"))
      .select(col("id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val g = gramsB.value
        it.map { case (id, text) => (id, wordGrams(text, n).exists(g.contains)) }
      }
      .toDF(idCol, "contaminated")
  }

  /** The extreme-eval-size decontamination variant the broadcast-set form
    * documents: when the eval gram universe is too large to collect+
    * broadcast as exact strings, ship a BLOOM FILTER of it instead (fixed
    * size set by `expectedGrams`/`fpp`, independent of actual gram bytes)
    * and recover exactness with one re-check join on the survivors:
    *
    *  1. build: one distributed `bloomFilter` aggregate over the eval grams
    *     (driver holds ~1.2 MB per 1M grams at 1% fpp — bounded by the
    *     PARAMETERS, never by eval text size);
    *  2. screen (narrow, zero-shuffle): a corpus pass keeps only grams the
    *     filter might contain — no false negatives by construction, so
    *     every truly contaminated doc survives screening;
    *  3. exact re-check: the screened (id, gram) rows — a tiny slice of the
    *     corpus gram volume — semi-join the true eval gram set, turning
    *     Bloom false positives back into clean docs.
    *
    * Output contract is identical to `decontaminate` (one row per TRAIN
    * doc: idCol, contaminated), and DedupSpec proves the two paths equal on
    * a corpus where false positives demonstrably occur.
    */
  def decontaminateBloom(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isEval: org.apache.spark.sql.Column,
      n: Int = 8,
      expectedGrams: Long = 1000000L,
      fpp: Double = 0.01
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"), isEval.as("ev"))
    val evalGrams = base.filter(col("ev")).select(col("text")).as[String]
      .flatMap(wordGrams(_, n)).toDF("gram").distinct()
    val bloomB = spark.sparkContext.broadcast(
      evalGrams.stat.bloomFilter("gram", expectedGrams, fpp))
    val train = base.filter(!col("ev")).select(col("id"), col("text"))
    // screen + project in one narrow pass: emit only the (deduped) grams the
    // filter might contain — the join input is the FP-rate-sized slice of
    // the corpus, not its full gram volume
    val candGrams = train.as[(Long, String)]
      .mapPartitions { it =>
        val bf = bloomB.value
        it.flatMap { case (id, text) =>
          wordGrams(text, n).filter(bf.mightContainString)
            .toSet[String].iterator.map(g => (id, g))
        }
      }
      .toDF("id", "gram")
    val contaminated = candGrams.join(evalGrams, Seq("gram"), "left_semi")
      .select(col("id")).distinct()
      .withColumn("hit", lit(true))
    train.select(col("id"))
      .join(contaminated, Seq("id"), "left_outer")
      .select(col("id").as(idCol), coalesce(col("hit"), lit(false)).as("contaminated"))
  }

  /** Word n-grams of whitespace-tokenized text; empty below n words. The
    * shared tokenization of decontaminate and its streaming form.
    */
  def wordGrams(text: String, n: Int): Iterator[String] = {
    val toks = WsPat.split(text).filter(_.nonEmpty)
    if (toks.length < n) Iterator.empty else toks.sliding(n).map(_.mkString(" "))
  }

  /** Exact n-gram Jaccard verification over candidate pairs: joins the raw
    * text back ONLY for candidates (broadcast the candidate ids when small).
    */
  def verifyJaccard(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      candidates: DataFrame,
      shingleN: Int = 5,
      minJaccard: Double = 0.8
  ): DataFrame = {
    import spark.implicits._
    val txt = docs.select(col(idCol).cast("long").as("jid"), col(textCol).as("jtext"))
    candidates
      .join(txt, col("id1") === col("jid"))
      .withColumnRenamed("jtext", "text1").drop("jid")
      .join(txt, col("id2") === col("jid"))
      .withColumnRenamed("jtext", "text2").drop("jid")
      .select(col("id1"), col("id2"), col("text1"), col("text2"))
      .as[(Long, Long, String, String)]
      .map { case (a, b, t1, t2) =>
        (a, b, Sketches.jaccard(Sketches.shingles(t1, shingleN), Sketches.shingles(t2, shingleN)))
      }
      .toDF("id1", "id2", "jaccard")
      .filter(col("jaccard") >= minJaccard)
  }
}
