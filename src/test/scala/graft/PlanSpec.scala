package graft

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Physical-plan regression guards: the scale properties argued in README
  * ("one url shuffle", broadcast joins, pruned scans) asserted against
  * the actual planner output, so a refactor that silently adds an exchange
  * or widens a scan fails CI.
  */
class PlanSpec extends SparkSpec {

  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p                        => p
    }

  private def countShuffles(df: DataFrame): Int =
    initialPlan(df).collect { case e: ShuffleExchangeLike => e }.size

  private def countBroadcasts(df: DataFrame): Int =
    initialPlan(df).collect { case e: BroadcastExchangeLike => e }.size

  test("flagship pipeline: exactly 2 shuffles (page balance + triple repartition), no broadcast, no window") {
    val df = pipeline.KgPipeline.run(spark, sfDir, numPartitions = 4)
    assert(countShuffles(df) == 2, initialPlan(df).toString)
    assert(countBroadcasts(df) == 0, initialPlan(df).toString)
    assert(initialPlan(df).collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      initialPlan(df).toString)
  }

  test("dedupTriples adds no exchange on url-partitioned input (map-side combining aggregate)") {
    val base = pipeline.KgPipeline.triples(spark, Tables.pagesPartitioned(spark, sfDir, 4))
    val deduped = pipeline.KgPipeline.dedupTriples(base)
    assert(countShuffles(deduped) == countShuffles(base))
  }

  test("q19 top-1 link is a lookup: one shuffle (the presence distinct), no broadcast, no window") {
    val df = Queries.q19LinkTop1(spark, sfDir)
    assert(countShuffles(df) == 1, initialPlan(df).toString)
    assert(countBroadcasts(df) == 0, initialPlan(df).toString)
    assert(initialPlan(df).collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      initialPlan(df).toString)
  }

  test("q04 dims broadcast: no shuffle on the fact side before aggregation") {
    val df = Queries.q04JoinRegions(spark, sfDir)
    assert(countBroadcasts(df) == 2)
    assert(countShuffles(df) == 1) // only the final groupBy
  }

  test("projection pruning reaches the parquet scan (q02 reads 2 of 6 order columns)") {
    val df = Queries.q02TopK(spark, sfDir)
    val scans = initialPlan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.requiredSchema.fieldNames.toSet == Set("o_orderkey", "o_totalprice"))
  }

  test("filter pushdown reaches the parquet scan (q01 pushes type + ts bounds)") {
    val df = Queries.q01ScanFilter(spark, sfDir)
    val scans = initialPlan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("In(event_type") || pushed.contains("event_type"), pushed)
    assert(pushed.contains("ts"), pushed)
  }

  test("diff-table → RDF conversion adds no exchange beyond the explicit input re-balance") {
    val df = Queries.q44DiffHtml(spark, sfDir)
    assert(countShuffles(df) == 1, initialPlan(df).toString) // the repartition only
    assert(countBroadcasts(df) == 0)
    // the operator itself is narrow: no shuffle on already-distributed input
    import spark.implicits._
    val pre = Seq(("Q1", "2024-01-01 00:00:00", 2L, 1L, graft.text.DiffHtmlGen.generate(1, 2)))
      .toDF("entity", "ts", "revid", "old_revid", "diff_html")
    assert(countShuffles(operators.DiffTableRdf.convert(spark, pre)) == 0)
  }

  test("time-node resolution joins by broadcast; the changes side never shuffles") {
    val df = Queries.q45TimeNode(spark, sfDir)
    assert(countBroadcasts(df) == 1, initialPlan(df).toString)
    // the only exchanges belong to the dim-side aggregation, not the fact side
    val plan = initialPlan(df)
    val bcast = plan.collect { case e: BroadcastExchangeLike => e }.head
    val shufflesOutsideDim = countShuffles(df) -
      bcast.collect { case e: ShuffleExchangeLike => e }.size
    assert(shufflesOutsideDim == 0, plan.toString)
  }

  test("native scaled-dot keeps the ANN scan inside whole-stage codegen (no object fence)") {
    def hasObjectFence(df: DataFrame): Boolean =
      initialPlan(df).collect {
        case d: org.apache.spark.sql.execution.DeserializeToObjectExec => d
      }.nonEmpty
    // typed form: ser/deser boundary; native expression: none
    assert(hasObjectFence(Queries.q29AnnBrute(spark, sfDir)))
    val native = Queries.q48AnnNative(spark, sfDir)
    assert(!hasObjectFence(native), initialPlan(native).toString)
    val wsc = initialPlan(native).collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wsc.nonEmpty) // scan → score projection fused
    // and the two forms agree row-for-row (same oracle gates both)
    val a = Queries.q29AnnBrute(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = native.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
  }

  test("bucketed tables sort-merge join with zero exchanges (co-located join)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
      Tables.read(spark, sfDir, "orders")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
      Tables.read(spark, sfDir, "customer")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
      // both sides pre-bucketed on the join key ⇒ Catalyst plans the join
      // with NO shuffle at all — the 100 TB recipe for repeated big-big
      // joins on a stable key (bucketed/partitioned table layout)
      assert(countShuffles(joined) == 0, initialPlan(joined).toString)
      assert(joined.count() == Tables.read(spark, sfDir, "orders").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("AQE skew join splits the hot key at runtime (the salting backstop)") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> scala.util.Try(conf.get(k)).toOption)
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one pathological key carrying ~99% of the fact side
      val facts = spark.range(200000)
        .select(when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          concat(lit("payload-"), col("id")).as("v"))
      val dim = spark.range(1000).select(col("id").as("k"), lit("d").as("d"))
      val joined = facts.join(dim, Seq("k"))
      // execute THIS dataset's own query execution — count()/foreach() plan
      // separate QEs, leaving this one un-executed and un-reoptimized
      joined.collect()
      val finalPlan = (joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p                        => p
      }).toString
      // query stages are leaf nodes to collect(), so assert on the rendered
      // re-optimized plan: the join is marked skew and the hot side's
      // shuffle read is split
      assert(finalPlan.contains("skew=true"), finalPlan)
      assert(finalPlan.contains("AQEShuffleRead coalesced and skewed"), finalPlan)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("connected components: every per-iteration shuffle moves two-Long rows only") {
    import spark.implicits._
    val pairs = (1L to 64L).filter(_ % 8 != 0).map(d => (d - 1, d)).toDF("id1", "id2")
    import org.apache.spark.sql.functions.col
    val comp = operators.Dedup.components(spark, pairs)
    // the fixpoint result is built from localCheckpointed iterations; assert
    // on the plan of one star round, the plan every iteration runs
    val oneRound = operators.Dedup.starRound(pairs.select(col("id1").as("u"), col("id2").as("v")))
    val plan = initialPlan(oneRound)
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    // the two star windows and small-star's distinct
    assert(shuffles.size == 3, plan.toString)
    assert(plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.size == 2,
      plan.toString)
    shuffles.foreach { e =>
      val cols = e.child.output
      assert(cols.size <= 2, s"star shuffle carries ${cols.map(_.name)}")
      assert(cols.forall(_.dataType == org.apache.spark.sql.types.LongType),
        s"star shuffle carries non-Long: ${cols.map(a => a.name -> a.dataType)}")
    }
    // and the result itself is (id, component) Longs only
    assert(comp.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType))
  }

  test("connected components under the finisher limit: the labels plan has no exchange, window or aggregate") {
    import spark.implicits._
    val pairs = (1L to 64L).filter(_ % 8 != 0).map(d => (d - 1, d)).toDF("id1", "id2")
    val comp = operators.Dedup.components(spark, pairs)
    assert(comp.count() == 64)
    // one narrow pass over the checkpointed edge blocks: the star read-out's
    // distinct (an aggregate, and an exchange once the edges span partitions)
    // is gone with the star rounds
    val plan = initialPlan(comp)
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty, plan.toString)
    assert(plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      plan.toString)
    assert(plan.collect { case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a }.isEmpty,
      plan.toString)
  }

  test("connected components under the finisher limit shuffle no pairs: raw pairs, duplicates and all, go to union-find") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val chain = (1L to 64L).filter(_ % 8 != 0).map(d => (d - 1, d))
    val pairs = (chain ++ chain.map(_.swap) ++ chain.take(5) ++ Seq((9L, 9L))).toDF("id1", "id2")
    // (records written, tasks) of every stage that wrote shuffle output
    val shuffled = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val written = e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten
        if (written > 0) shuffled.add(written -> e.stageInfo.numTasks)
      }
    }
    org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val (comp, converged) = operators.Dedup.componentsWithStatus(spark, pairs, 20)
      assert(converged && comp.collect().length == 64)
      org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the pair count's partial aggregates (one row per task) are the only
    // shuffle output; a distinct would move the pairs themselves
    import scala.jdk.CollectionConverters._
    assert(shuffled.asScala.forall { case (rows, tasks) => rows <= tasks }, shuffled.toString)
  }

  test("multi-query ANN: one shuffle total for M queries, combined map-side (≤k rows/group cross it)") {
    val df = Queries.q51AnnMulti(spark, sfDir)
    assert(countShuffles(df) == 1, initialPlan(df).toString)
    val aggs = initialPlan(df).collect {
      case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
    }
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, Final}
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode == Partial)), initialPlan(df).toString)
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode == Final)), initialPlan(df).toString)
    // no M× intermediate: scoring happens INSIDE the aggregator's combine,
    // so nothing below the partial aggregate may amplify rows — the partial
    // agg's input subtree must contain no explode/flatMap-style operator
    // (the explode of the ≤M×k result sits ABOVE the final agg, which is fine)
    val partial = aggs.filter(_.aggregateExpressions.exists(_.mode == Partial))
    assert(partial.nonEmpty)
    partial.foreach { p =>
      val amplifiers = p.child.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
        case m: org.apache.spark.sql.execution.MapPartitionsExec => m
        case f: org.apache.spark.sql.execution.FlatMapGroupsInRExec => f
      }
      assert(amplifiers.isEmpty, s"row-amplifying op below the partial agg: $amplifiers")
    }
  }

  test("embedding link scoring: entity vectors broadcast; scoring stays native (scaled_dot_fast)") {
    val df = Queries.q56EmbedLink(spark, sfDir)
    assert(countBroadcasts(df) >= 2, initialPlan(df).toString) // alias dim + entity vectors
    assert(initialPlan(df).toString.contains("scaled_dot_fast"))
  }

  // covers every near-dup family (MinHash, SimHash, embedding) — they share
  // one bucket-pair join; the name is kept as the test's stable id
  test("embedding near-dup: the bucket self-join shuffles band keys + ids only, never vectors") {
    val families = Seq(
      "minhash" -> Queries.q26MinHashPairs(spark, sfDir),
      "simhash" -> Queries.q27SimHashGate(spark, sfDir),
      "embedding" -> operators.Dedup.nearDupPairs(
        spark, Tables.read(spark, sfDir, "embeddings"), "vec_id", "embedding"))
    families.foreach { case (family, df) =>
      val plan = initialPlan(df)
      val joins = plan.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      // the candidate-pair join is the one keyed on (band, bkey) — whatever
      // physical strategy the planner picks, it must carry nothing but the
      // band key and the ids (signatures, sketches and vectors join back
      // per surviving pair)
      val pairJoins = joins.filter(_.leftKeys.size == 2)
      assert(pairJoins.nonEmpty, s"$family: $plan")
      pairJoins.foreach { j =>
        val carried = j.output.map(_.name)
        assert(carried.forall(Set("band", "bkey", "id1", "id2")), s"$family pair join carries $carried")
      }
    }
  }

  test("near-dup candidates sketch once: every payload reference scans one checkpoint, no sketch map runs under a join") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, MapElementsExec, MapPartitionsExec, RDDScanExec}
    object Stages extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // the direct-caller shape: the operator over an unmaterialized sketch of
    // a parquet scan, with no caller-side materialization
    val docs = Tables.read(spark, sfDir, "documents")
    val families = Seq(
      "minhash" -> operators.Dedup.minHashCandidates(spark,
        operators.Dedup.minHashSignatures(spark, docs, "doc_id", "text"), minEstJaccard = 0.7),
      "simhash" -> operators.Dedup.simHashPairs(spark,
        operators.Dedup.simHashes(spark, docs, "doc_id", "text"), maxHamming = 6))
    families.foreach { case (family, df) =>
      df.collect()
      val executed = df.queryExecution.executedPlan
      val nodes = Stages.collect(executed) { case p => p }
      def objectMaps(p: SparkPlan) =
        Stages.collect(p) { case m @ (_: MapPartitionsExec | _: MapElementsExec) => m }
      // the sketch table is never re-read from the files, and the only object
      // maps left are the banders, with no sketch map beneath them
      assert(nodes.collect { case f: FileSourceScanExec => f }.isEmpty, s"$family: $executed")
      assert(objectMaps(executed).forall(m => objectMaps(m).size == 1), s"$family: $executed")
      val checkpoints = nodes.collect { case r: RDDScanExec => r.rdd.id }
      assert(checkpoints.nonEmpty && checkpoints.distinct.size == 1, s"$family: $executed")
    }
  }

  test("embedding near-dup materializes its payload once: the caller's scan and map run in no plan branch") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, MapElementsExec, RDDScanExec}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    object Stages extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // q38's caller shape: a parquet scan behind a typed map (scaling keeps
    // every cosine)
    val emb = Tables.read(spark, sfDir, "embeddings")
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].map { case (id, v) => (id, v.map(_ * 2f)) }
      .toDF("vec_id", "embedding")
    val df = operators.Dedup.nearDupPairs(spark, emb, "vec_id", "embedding")
    df.collect()
    val executed = df.queryExecution.executedPlan
    val nodes = Stages.collect(executed) { case p => p }
    assert(nodes.collect { case f: FileSourceScanExec => f }.isEmpty, executed.toString)
    assert(nodes.collect { case m: MapElementsExec => m }.isEmpty, executed.toString)
    val checkpoints = nodes.collect { case r: RDDScanExec => r.rdd.id }
    assert(checkpoints.nonEmpty && checkpoints.distinct.size == 1, executed.toString)
  }

  test("q61: IVF probe prunes PARTITIONS at the scan — the layout is read nProbe/nCells, not fully") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    import spark.implicits._
    val df = Queries.q61AnnIvfPart(spark, sfDir) // builds the layout on first use
    df.collect()
    // the cell predicate must be a PARTITION filter on the scan (pruned at
    // file listing), not a post-scan data filter
    val scans = initialPlan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, initialPlan(df).toString)
    assert(scans.head.partitionFilters.nonEmpty, "cell IN (...) is not a partition filter")
    assert(scans.head.partitionFilters.mkString(",").contains("cell"),
      scans.head.partitionFilters.mkString(","))
    // runtime proof: the files the pruned read touches are a strict subset
    // of the layout's files, bounded by the probed cells
    val layout = spark.read.parquet(Queries.layoutPath("ivfcells_c16", sfDir))
    val qv = Tables.read(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0).select("embedding").as[Array[Float]].head()
    val probe = operators.Ann
      .rankCellsInt(operators.Ann.milliScaled(qv), operators.Ann.intCentroids(qv.length, 16))
      .take(4).toSeq
    val filesAll = layout.select(input_file_name()).distinct().count()
    val filesPruned = layout.filter(col("cell").isin(probe.map(Int.box): _*))
      .select(input_file_name()).distinct().count()
    assert(filesPruned > 0 && filesPruned < filesAll,
      s"no file pruning: pruned=$filesPruned all=$filesAll")
  }

  test("layout cache: a complete-looking layout dir this JVM did not build is never served") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, transform}
    val d = tempDir("graft_foreign_layout")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/embeddings.parquet"),
      java.nio.file.Paths.get(s"$d/embeddings.parquet"))
    // plant, at the path q61 reads, a layout with a valid ivf c16 _meta, a
    // completion marker and lineage, holding the NEGATED vectors
    val wrong = Tables.read(spark, d, "embeddings")
      .withColumn("embedding", transform(col("embedding"), x => -x))
    val p = Queries.layoutPath("ivfcells_c16", d)
    operators.Ann.writeLayout(spark, operators.Ann.ivf(nCells = 16, nProbe = 4), wrong,
      "vec_id", "embedding", p)
    val marker = new Path(p, "_GRAFT_COMPLETE")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).create(marker).close()

    val want = Queries.q47AnnIvfGate(spark, d).collect().toSeq
    assert(Queries.q61AnnIvfPart(spark, d).collect().toSeq == want)
    def lineage = Tables.readLayoutLineage(spark, p).select("stage", "run_seq")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val built = lineage
    assert(built.map(_._1) == Seq("append", "build"), built)
    // a second call serves the layout this JVM built, without rebuilding it
    assert(Queries.q61AnnIvfPart(spark, d).collect().toSeq == want)
    assert(lineage == built)
  }

  test("q67: the curation flagship reads the corpus exactly ONCE (fused metrics + window survivor)") {
    val df = Queries.q67CurateCorpus(spark, sfDir)
    val scans = initialPlan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // one FileSourceScan total: metrics, filters, fingerprint, and the
    // survivor pick all hang off a single read of documents (the eval-gram
    // broadcast is a separate bounded pre-job, not part of this plan)
    assert(scans.length == 1, s"expected 1 scan, got ${scans.length}:\n${initialPlan(df)}")
    assert(scans.head.metadata("Location").contains("documents"),
      scans.head.metadata("Location"))
  }

  test("IVF layout append: merged layout equals one-shot build; probe still prunes; lineage recorded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import operators.Ann
    val tmp = tempDir("graft_layout_append")
    val emb = Tables.read(spark, sfDir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0).select("embedding").as[Array[Float]].head()
    // stored rows with binary columns compared by value
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v              => v
    }).toSet
    Seq("ivf" -> Ann.ivf(), "lsh" -> Ann.lsh(), "int8" -> Ann.int8, "pq" -> Ann.pq(), "ivfpq" -> Ann.ivfPq())
      .foreach { case (kind, layout) =>
        val pSplit = s"$tmp/$kind-split"
        val pOne = s"$tmp/$kind-oneshot"
        // base build from 2/3 of the corpus, then append the remaining third
        Ann.writeLayout(spark, layout, emb.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding", pSplit)
        Ann.appendLayout(spark, layout, emb.filter(col("vec_id") % 3 === 0), "vec_id", "embedding", pSplit)
        Ann.writeLayout(spark, layout, emb, "vec_id", "embedding", pOne)
        // appended rows are the rows a full rebuild writes, in the same
        // partitions (the partition column reads back as a value)
        assert(rows(pSplit) == rows(pOne), kind)
        // probe over the merged layout == probe over the one-shot layout
        def probe(p: String) =
          Ann.topK(spark, layout, Ann.stored(spark, layout, p), "vec_id", "embedding", qv, k = 20)
        val merged = probe(pSplit)
        val got = merged.collect().map(_.toSeq).toSeq
        assert(got.nonEmpty && got == probe(pOne).collect().map(_.toSeq).toSeq, kind)
        // a partitioned layout's probe still reads ONLY the probed
        // partitions' files — append must not break partition pruning
        // (appended files live inside the partition dirs)
        layout.partCol.foreach { _ =>
          val scan = initialPlan(merged).collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f
          }.head
          val filesRead = scan.metrics("numFiles").value
          val filesAll = spark.read.parquet(pSplit).inputFiles.length
          assert(filesRead > 0 && filesRead < filesAll,
            s"$kind merged layout lost file pruning: read=$filesRead all=$filesAll")
        }
        // lineage: build + append rows cover every vector exactly once
        val lin = Tables.readLayoutLineage(spark, pSplit).collect()
        assert(lin.map(_.getAs[String]("stage")).sorted.toSeq == Seq("append", "build"), kind)
        assert(lin.map(_.getAs[Long]("rows_in")).sum == emb.count(), kind)
      }
  }

  test("stored-int8 native scoring: no object fence; rows equal the typed stored form") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Queries.q60AnnInt8(spark, sfDir) // builds the layout on first use
    assert(initialPlan(df).collect {
      case d: org.apache.spark.sql.execution.DeserializeToObjectExec => d
    }.isEmpty, initialPlan(df).toString)
    assert(initialPlan(df).toString.contains("int8_dot_fast"))
    val emb = Tables.read(spark, sfDir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0).select("embedding").as[Array[Float]].head()
    val typed = operators.Ann.int8TopK(spark, emb, "vec_id", "embedding", qv, 20)
      .collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq == typed && typed.nonEmpty)
  }

  test("q73: IVF-PQ probe prunes partitions of the stored-codes layout") {
    val df = Queries.q73AnnIvfPq(spark, sfDir)
    df.collect()
    val scans = initialPlan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, initialPlan(df).toString)
    assert(scans.head.partitionFilters.nonEmpty &&
      scans.head.partitionFilters.mkString(",").contains("cell"),
      scans.head.partitionFilters.mkString(","))
    // the scan reads exactly (id, codes) — if the layout ever grows a float
    // column (defeating the 32× IO claim) and the probe reads it, this fails
    assert(scans.head.requiredSchema.fieldNames.toSet == Set("vec_id", "codes"),
      scans.head.requiredSchema.fieldNames.mkString(","))
  }

  test("q63: LSH multiprobe set is a partition filter on the bucket layout") {
    val df = Queries.q63AnnLshPart(spark, sfDir)
    df.collect()
    val scans = initialPlan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, initialPlan(df).toString)
    assert(scans.head.partitionFilters.nonEmpty &&
      scans.head.partitionFilters.mkString(",").contains("bucket"),
      scans.head.partitionFilters.mkString(","))
  }

  test("q92: the COMPACTED gated layout still carries the bucket partition filter") {
    val df = Queries.q92CompactPruned(spark, sfDir) // builds + compacts on first use
    df.collect()
    val scans = initialPlan(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.filter(_.metadata("Location").contains("bandkeys_compact"))
    assert(scans.nonEmpty, initialPlan(df).toString)
    assert(scans.head.partitionFilters.nonEmpty &&
      scans.head.partitionFilters.mkString(",").contains("bucket"),
      scans.head.partitionFilters.mkString(","))
  }

  test("q83: the DRIVER-GATED stored-pruned path carries the bucket partition filter; a small append prunes files through the SAME path") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val df = Queries.q83MinHashStoredPruned(spark, sfDir) // builds sig + band layouts on first use
    df.collect()
    // the band-layout scan in the GATED plan itself (not just the standalone
    // operator spec) must carry the bucket predicate as a PARTITION filter —
    // with the half-corpus gate batch all 256 buckets are touched (the
    // filter is present but unselective), so the strict file pruning is
    // proven below with an append-sized batch through the same operator
    // over the same driver-built layout
    def bandScans(d: org.apache.spark.sql.DataFrame) = initialPlan(d).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.filter(_.metadata("Location").contains("bandkeys"))
    val gated = bandScans(df)
    assert(gated.nonEmpty, initialPlan(df).toString)
    assert(gated.head.partitionFilters.nonEmpty &&
      gated.head.partitionFilters.mkString(",").contains("bucket"),
      gated.head.partitionFilters.mkString(","))

    // daily-append shape: 3 docs against the SAME gated layout (allSigs is
    // unchanged, so the in-operator coverage audit still passes) — the scan
    // the operator executed must have READ a strict subset of the layout's
    // files (scan metric, not a reconstruction)
    val layoutPath = Queries.layoutPath("bandkeys_b16n256", sfDir, srcTable = "documents")
    val allSigs = spark.read.parquet(
      Queries.layoutPath("minhashsig_h64s5", sfDir, srcTable = "documents"))
    val tinySigs = allSigs.filter(col("id") < 3)
    val tiny = operators.Dedup.minHashCandidatesStoredPruned(
      spark, layoutPath, allSigs, tinySigs,
      bands = 16, nBuckets = 256, minEstJaccard = 0.7)
    tiny.collect()
    val tinyScan = bandScans(tiny)
    assert(tinyScan.nonEmpty, initialPlan(tiny).toString)
    assert(tinyScan.head.partitionFilters.mkString(",").contains("bucket"),
      tinyScan.head.partitionFilters.mkString(","))
    // the partition predicate the scan carries selects a strict subset of
    // the layout's files (same bucket assignment the operator inlined)
    import spark.implicits._
    val buckets = tinySigs.as[(Long, Array[Long])].collect()
      .flatMap { case (_, sig) => graft.functions.Sketches.bandKeys(sig, 16).map(_._2) }
      .distinct.toSeq.toDF("bkey")
      .select(Tables.format.bucket(col("bkey"), 256).as("bucket"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val layout = spark.read.parquet(layoutPath)
    val filesAll = layout.select(input_file_name()).distinct().count()
    val filesPruned = layout.filter(col("bucket").isin(buckets.map(Long.box): _*))
      .select(input_file_name()).distinct().count()
    assert(filesPruned > 0 && filesPruned < filesAll,
      s"small append reads the whole layout: pruned=$filesPruned all=$filesAll " +
        s"(buckets ${buckets.size}/256)")
  }
}
