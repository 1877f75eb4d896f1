package graft

import org.apache.spark.sql.SqlCacheProbe
import org.apache.spark.sql.execution.SimpleMode

/** Plan-shape regression gates for the scale-critical queries: these pin
  * the physical-plan properties SCALE.md argues from, so a refactor can't
  * silently reintroduce a pathological shape (the round-1 sketch plan, a
  * lost broadcast, a Cartesian fallback).
  */
class PlanHygieneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(SimpleMode)

  test("sketch query: no Expand (per-distinct-key sketch buffers) and broadcast join") {
    val p = plan("agg_approx_sketch")
    // RewriteDistinctAggregates inserts Expand when a distinct agg shares a
    // plan with object-buffer aggs — the verified round-1 scale-killer
    assert(!p.contains("Expand"), s"sketch plan regained Expand:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"exact-distinct no longer broadcast:\n$p")
  }

  test("sketch query: ONE fused exact-percentile buffer, not two") {
    val p = plan("agg_approx_sketch")
    // r14 fused percentile(x, 0.85) + percentile(x, 0.95) into one
    // percentile(x, array(0.85, 0.95)) — the Percentile aggregate holds a
    // per-group value-counts map PER BUFFER, so a revert doubles that
    // state on every group
    assert(p.contains("[0.85,0.95]"),
      s"exact percentiles no longer share one buffer:\n$p")
  }

  test("rakam ingest: one cohort parse pass — no per-collection union or cache") {
    val p = plan("d2_rakam_ingest")
    // r15 collapsed the per-collection loop (routing cache + C filtered
    // parse passes unioned back together) into a single pass of the one
    // parse loop over every routed row; a Union or InMemoryTableScan here means the loop came back
    assert(!p.contains("Union"), s"d2 regained the per-collection union:\n$p")
    assert(!p.contains("InMemoryTableScan"), s"d2 regained the routing cache:\n$p")
  }

  test("rakam ingest: at most 2 shuffles past the wire repartition") {
    val p = plan("d2_rakam_ingest")
    // the query fabricates its wire with ONE round-robin repartition of
    // the events table; the ingest itself may add only the aggregate's
    // and the ORDER BY's shuffles. The per-collection loop re-reads (or
    // caches) the wire once per collection, so it shows as more of both.
    val exchanges = p.linesIterator.count(_.contains("Exchange "))
    val wire = p.linesIterator.count(_.contains("Exchange RoundRobinPartitioning"))
    assert(wire == 1, s"d2 builds its wire $wire times:\n$p")
    assert(exchanges - wire <= 2, s"d2 grew to ${exchanges - wire} shuffles:\n$p")
  }

  test("k2 reads its NDJSON back through the declared value schema, not an inferred one") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val qe = SparkEntry.queries("k2_ndjson_roundtrip")(spark, dir).queryExecution
    val scans = qe.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, s"k2 has no file scan:\n${qe.sparkPlan}")
    scans.foreach { s =>
      assert(s.relation.dataSchema.simpleString == "struct<value:double>",
        s"k2 scan reads an inferred schema ${s.relation.dataSchema.simpleString}")
      assert(s.requiredSchema.simpleString == "struct<value:double>")
    }
  }

  test("exact dedup: one hash exchange, no sort, no sort aggregate") {
    import graft.operators.EventOps
    import graft.schema.FieldNames
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val in = Seq(("u1", t, 1.0), ("u1", t, 2.0), (null, t, 3.0)).toDF("_user", "_time", "v")
    // the exchange dedupExact folds over (a local relation adds none); a
    // struct min() plans a partial and a final SortAggregate instead
    val p = EventOps.dedupPlacement(in, FieldNames()).queryExecution.explainString(SimpleMode)
    assert(p.linesIterator.count(_.contains("Exchange ")) == 1, s"dedup placement:\n$p")
    assert(!p.contains("Sort"), s"dedup placement sorts:\n$p")
    assert(!p.contains("Union"), s"dedup placement scans its input twice:\n$p")
    // the frame dedupExact returns reads that one shuffle and no other
    val out = EventOps.dedupExact(in)
    assert(shuffles(out.queryExecution.toRdd) == 1)
    assert(!out.queryExecution.explainString(SimpleMode).contains("Sort"))
    val f2 = plan("f2_dedup_exact")
    assert(!f2.contains("SortAggregate"), s"f2 dedup sorts again:\n$f2")
  }

  /** Shuffle dependencies in `rdd`'s lineage. */
  private def shuffles(rdd: org.apache.spark.rdd.RDD[_]): Int =
    rdd.dependencies.map {
      case s: org.apache.spark.ShuffleDependency[_, _, _] => 1 + shuffles(s.rdd)
      case d => shuffles(d.rdd)
    }.sum

  /** Whether any RDD in `rdd`'s lineage is checkpointed. */
  private def checkpointed(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    rdd.isCheckpointed || rdd.dependencies.exists(d => checkpointed(d.rdd))

  /** What the sink saw of one frame `AvroIngest.processBatch` handed it. */
  private final case class AvroFrame(shape: String, plan: String, checkpointed: Boolean,
                                     problems: Seq[String])

  /** Eight tagged Avro records over two collections through
    * `AvroIngest.processBatch` once per `(cfg, dedupBatch)`: for each
    * frame handed to the sink, its write shape, its executed plan, whether
    * its lineage holds a checkpoint, and what it or the session holds of
    * Spark SQL's cache while the batch writes.
    */
  private def avroFrames(runs: (graft.streaming.IngestConfig, Boolean)*): Seq[AvroFrame] = {
    import graft.ingest.AvroIngest
    import graft.schema.{CollectionId, EventSchema}
    import graft.sinks.EventSink
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types._
    import spark.implicits._
    val rowSchema = StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("x", DoubleType)))
    val registry = new EventSchema.Registry()
    val ids = Seq("a", "b").map(CollectionId("p", _))
    ids.foreach(registry.put(_, rowSchema))
    val avro = AvroIngest.avroSchema(rowSchema, "ev")
    val records = (0 until 8).map { i =>
      val rec = new GenericData.Record(avro)
      rec.put("_time", 1700000000000L + i); rec.put("_user", s"u$i"); rec.put("x", i.toDouble)
      val out = new java.io.ByteArrayOutputStream()
      out.write(0) // tag 0: inline, collection from key
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      new GenericDatumWriter[GenericRecord](avro).write(rec, enc)
      enc.flush()
      (s"p.${ids(i % 2).collection}", out.toByteArray)
    }.toDF("key", "value")
    val frames = new java.util.concurrent.ConcurrentLinkedQueue[AvroFrame]()
    // plans an earlier suite left cached in the shared session
    val before = SqlCacheProbe.entries(spark)
    def seen(shape: String, df: DataFrame): Unit = {
      df.collect()
      frames.add(AvroFrame(shape, df.queryExecution.executedPlan.toString,
        checkpointed(df.queryExecution.toRdd), sqlCacheUse(shape, df, before)))
    }
    val sink = new EventSink {
      override def getColumns(id: CollectionId) = None
      override def insert(id: CollectionId, df: DataFrame): Unit = seen("per collection", df)
      override def supportsConsolidated: Boolean = true
      override def insertConsolidated(rows: DataFrame, batchId: Long): Unit = seen("cohort", rows)
    }
    runs.foreach { case (cfg, dedupBatch) =>
      AvroIngest.processBatch(records, registry, sink, cfg = cfg, dedupBatch = dedupBatch)
    }
    frames.toArray.toSeq.map(_.asInstanceOf[AvroFrame])
  }

  /** How a frame the Avro path built, or the session while it writes,
    * uses Spark SQL's cache; empty when it does not. The one cached plan
    * allowed is a cohort frame's own, which the write planner persists to
    * count it before the sink writes it.
    */
  private def sqlCacheUse(shape: String, df: org.apache.spark.sql.DataFrame,
                          before: Int): Seq[String] = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val own = if (shape == "cohort" && SqlCacheProbe.holds(spark, df)) 1 else 0
    val entries = SqlCacheProbe.entries(spark) - before - own
    val analyzed = df.queryExecution.analyzed
    // the RDDs under the frame as built (below a cohort's own cache)
    val lineage = analyzed.collect { case r: LogicalRDD => rdds(r.rdd) }.flatten
    Seq(
      Option.when(entries != 0)(s"$entries other cached plan(s) while the batch writes"),
      Option.when(analyzed.exists(_.isInstanceOf[InMemoryRelation]))("an InMemoryRelation in the plan"),
      Option.when(analyzed.toString.contains("SerializeFromObject"))("a SerializeFromObject in the plan")
    ).flatten ++ lineage.collect {
      // a persisted RDD other than the routed buckets: Spark SQL's cached
      // columnar batches (named after the plan they cache)
      case r if r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE &&
          r.name != graft.ingest.AvroIngest.RoutedName => s"a cached RDD in the lineage: ${r.name}"
    }
  }

  /** `rdd` and every RDD in its lineage. */
  private def rdds(rdd: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    rdd +: rdd.dependencies.flatMap(d => rdds(d.rdd))

  test("avro decode frames: Catalyst rows off the wire, no object (de)serialization") {
    import graft.streaming.IngestConfig
    val frames = avroFrames(
      IngestConfig(consolidateThreshold = 0) -> false, IngestConfig(consolidateThreshold = 2) -> false)
    assert(frames.map(_.shape).toSet == Set("per collection", "cohort"))
    frames.foreach { case AvroFrame(shape, p, _, _) =>
      // an external-Row decode (mapPartitions under Encoders.row) plans as
      // DeserializeToObject → MapPartitions → SerializeFromObject
      assert(!p.contains("SerializeFromObject") && !p.contains("DeserializeToObject"),
        s"$shape avro frame regained the Row serializer boundary:\n$p")
    }
  }

  test("avro frames read the routed buckets, not Spark SQL's columnar cache") {
    import graft.streaming.IngestConfig
    val frames = avroFrames(IngestConfig(consolidateThreshold = 0) -> false,
      IngestConfig(consolidateThreshold = 2) -> false, IngestConfig() -> true)
    assert(frames.map(_.shape).toSet == Set("per collection", "cohort"))
    frames.foreach { f =>
      // the routed batch used to be a typed-tuple pass persisted as a
      // DataFrame, re-scanned and re-filtered by every frame
      assert(f.problems.isEmpty, s"${f.shape} avro frame: ${f.problems.mkString("; ")}\n${f.plan}")
      if (f.shape != "cohort")
        assert(!f.plan.contains("InMemory"), s"${f.shape} avro frame scans a cache:\n${f.plan}")
    }
  }

  test("avro dedupBatch frame: no local checkpoint, no sort aggregate") {
    import graft.streaming.IngestConfig
    val frames = avroFrames(IngestConfig() -> true)
    assert(frames.nonEmpty)
    frames.foreach { case AvroFrame(_, p, cp, _) =>
      // the checkpoint pinned the input order of a row-position uid
      assert(!cp, s"the dedup frame reads a checkpoint:\n$p")
      assert(!p.contains("SortAggregate"), s"the dedup frame sorts:\n$p")
    }
  }

  test("json processBatch: the decoupled batch is the one Spark SQL cache while it writes") {
    import graft.schema.{CollectionId, EventSchema}
    import graft.sinks.EventSink
    import graft.streaming.{IngestConfig, IngestStream}
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val now = System.currentTimeMillis()
    val raw = (0 until 8).map { i =>
      val c = if (i % 2 == 0) "a" else "b"
      s"""{"data":{"_project":"p","_collection":"$c","_time":$now,"_user":"u$i","x":$i}}"""
    }.toDS()
    // plans an earlier suite left cached in the shared session
    val before = SqlCacheProbe.entries(spark)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    def write(shape: String, df: DataFrame): Unit = {
      // a cohort frame's own cache is the write planner's, not the batch's
      val own = if (shape == "cohort" && SqlCacheProbe.holds(spark, df)) 1 else 0
      seen.add(shape -> (SqlCacheProbe.entries(spark) - before - own))
      df.collect()
    }
    val sink = new EventSink {
      override def getColumns(id: CollectionId) = None
      override def insert(id: CollectionId, df: DataFrame): Unit = write("per collection", df)
      override def supportsConsolidated: Boolean = true
      override def insertConsolidated(rows: DataFrame, batchId: Long): Unit = write("cohort", rows)
    }
    Seq(0, 2).foreach { threshold =>
      IngestStream.processBatch(spark, raw, new EventSchema.Registry(), sink, None,
        IngestConfig(consolidateThreshold = threshold))
    }
    val frames = seen.toArray.toSeq.map(_.asInstanceOf[(String, Int)])
    assert(frames.map(_._1).toSet == Set("per collection", "cohort"))
    frames.foreach { case (shape, batchCaches) =>
      // a persisted real-time slice would be a second columnar cache of
      // the same rows, built and rescanned every batch
      assert(batchCaches == 1,
        s"$shape write saw $batchCaches cached plans of the batch; want only the decoupled frame")
    }
    assert(SqlCacheProbe.entries(spark) == before, "the batch left a plan cached")
  }

  test("JSON ingest queries leave no plan in Spark SQL's cache") {
    // the routed batch behind `JsonIngest.ingest`'s frames is cached
    // outside the cache manager, which would keep it for the session
    Seq("d7_ingest_route", "k1_sink_roundtrip").foreach { name =>
      val before = SqlCacheProbe.entries(spark)
      SparkEntry.queries(name)(spark, dir).collect()
      val left = SqlCacheProbe.entries(spark) - before
      assert(left == 0, s"$name left $left plan(s) cached")
    }
  }

  test("decontamination probes broadcast; no shuffle of the corpus against itself") {
    val p = plan("decontam_hits")
    assert(p.contains("BroadcastHashJoin"), s"probe grams not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"decontam fell back to a product join:\n$p")
  }

  test("ANN brute force broadcasts the query set") {
    val p = plan("ann_brute_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus-side product join:\n$p")
  }

  test("relational suite: no Cartesian products anywhere") {
    for (q <- Seq("q3_top_orders", "q5_region_revenue", "q4_semi_exists",
                  "q6_anti_join", "q8_below_avg_qty", "q11_retention",
                  "q12_funnel", "range_price_bands")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a Cartesian product:\n$p")
    }
  }

  test("column pruning reaches the parquet scan") {
    val p = SparkEntry.queries("q1_agg")(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("ReadSchema"), p)
    // q1 touches returnflag/quantity/…, never the wide comment column — a
    // scan reading all columns for a narrow aggregate is wrong at any SF
    assert(!p.contains("l_comment"), s"q1_agg reads unprojected columns:\n$p")
  }

  test("repetition and passage queries: aggregation shapes, no product joins") {
    for (q <- Seq("text_repetition", "quality_gate",
                  "dedup_repeated_passages", "dedup_passage_coverage")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q fell back to a product join:\n$p")
    }
  }

  test("PQ search: queries broadcast for the ADC scan, no Cartesian") {
    val p = plan("ann_pq_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"PQ query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"PQ corpus-side product join:\n$p")
  }

  test("IVF-PQ: candidate fetch is an equi-join on the cell id") {
    val p = plan("ann_ivfpq_topk")
    assert(!p.contains("CartesianProduct"), s"IVF-PQ product join:\n$p")
    // the inverted-file probe must hash-join on _cell, not loop-join
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no equi-join on cell:\n$p")
  }

  test("pipeline dedup and doc pipeline keep single-exchange shapes") {
    val kept = plan("doc_pipeline_kept")
    // one window (fingerprint dedup); everything upstream is map-only
    assert(kept.contains("Window"), kept)
    assert(!kept.contains("CartesianProduct"), kept)
  }

  test("span removal: hash-keyed joins only, no product fallback") {
    val p = plan("dedup_span_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"span removal fell back to a product join:\n$p")
  }

  test("keep-representatives: the drop set joins broadcast (map-only corpus pass)") {
    val p = plan("dedup_keep_representatives")
    assert(p.contains("BroadcastHashJoin"),
      s"non-representative drop set no longer broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"product join:\n$p")
  }

  test("semantic dedup: within-cell equi-join, no product fallback") {
    val p = plan("semantic_dedup")
    // the pairs side must equi-join on the cell id; the only nested-loop /
    // cartesian shapes allowed are the 1-row×1-row certificate assembly
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"cell join lost:\n$p")
    assert(!p.contains("CartesianProduct"), s"pairs fell back to a product:\n$p")
  }

  test("mixture sampling: tiny rate table broadcasts, filter is per-row") {
    for (name <- Seq("sample_mixture", "sample_mixture_epochs")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name rate table not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name grew a shuffle join:\n$p")
    }
  }

  test("token-budget sample: the exact window runs on ONE bucket, not the corpus") {
    val p = plan("sample_token_budget")
    assert(!p.contains("CartesianProduct"), p)
    // the global-sort formulation would put a Window directly over the
    // full scan; the bucketed plan only windows the boundary-bucket FILTER
    // (an equality filter on the shiftright bucket expression must sit
    // below the Window — the _bkt alias itself gets inlined by Catalyst)
    val w = p.indexOf("Window")
    assert(w >= 0, s"no window at all — cutoff semantics changed?\n$p")
    val belowWindow = p.substring(w)
    assert(belowWindow.contains("shiftright") &&
      """ = \d+\)""".r.findFirstIn(belowWindow).isDefined,
      s"window no longer bounded by the bucket-equality filter:\n$p")
  }

  test("pack blocks: the running sum windows per shard, never one partition") {
    val p = plan("pack_blocks")
    // a lost partitionBy would be the single-reducer global-sort shape;
    // the shard-partitioned window prints its partition spec
    assert(p.contains("Window"), s"no window — packing semantics changed?\n$p")
    assert(p.contains("windowspecdefinition(shard"),
      s"pack window lost its shard partitioning:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dsir: weight table broadcasts; scoring never products") {
    val p = plan("dsir_scores")
    assert(p.contains("BroadcastHashJoin"), s"weight table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"dsir product join:\n$p")
  }

  test("incremental dedup: anti-join is NOT a forced broadcast of the corpus") {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val kept = graft.functions.DedupFunctions.incrementalDedup(
      d.where(col("source") =!= "src0"), d.where(col("source") === "src0"),
      "doc_id", "text")
    val p = kept.queryExecution.explainString(SimpleMode)
    assert(p.contains("LeftAnti"), s"anti-join shape lost:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"incremental dedup fell back to a product join:\n$p")
  }

  test("c4 filters: pure map-side plan — no exchange at all before the sort") {
    val p = plan("text_c4_filters")
    assert(!p.contains("CartesianProduct") && !p.contains("Window") &&
      !p.contains("HashAggregate"),
      s"c4 battery grew a non-map-side shape:\n$p")
  }

  test("paragraph dedup, scorecard, decontam removal: no product joins, no global windows") {
    for (q <- Seq("dedup_paragraphs", "quality_scorecard", "decontam_clean",
                  "dedup_incremental_fuzzy", "dedup_incremental")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a Cartesian:\n$p")
      // windowspecdefinition() with an empty partition spec starts with
      // the order column only — cheap proxy: no Window at all is expected
      // for these aggregation-shaped plans
      assert(!p.contains("Window"), s"$q grew a window:\n$p")
    }
  }

  test("nb classifier: bounded model broadcasts, corpus side never products") {
    val p = plan("nb_langid")
    // the label×bucket model and the label-count class table broadcast;
    // the only nested-loop is corpus × class-table — bounded by the
    // label count, a broadcast by construction
    assert(p.contains("BroadcastHashJoin"), s"NB model not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"NB corpus product join:\n$p")
  }

  test("tfidf / winnow pairs / per-source cap: shuffle equi-joins, per-group windows only") {
    for (q <- Seq("tfidf_keywords", "dedup_winnow_pairs", "cap_per_source")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q fell back to a product join:\n$p")
    }
    // tfidf's idf join must NOT be a forced broadcast (vocabulary-sized
    // at web scale) — allow AQE to choose but the static plan stays sort-
    // merge/shuffled-hash
    val tp = SparkEntry.queries("tfidf_keywords")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!tp.contains("broadcast"),
      s"tfidf statically forces a vocabulary broadcast:\n$tp")
    // windows partition by doc/group — never a global single partition
    for (q <- Seq("tfidf_keywords", "cap_per_source")) {
      val p2 = plan(q)
      assert(!p2.contains("Window [") || !p2.contains("partitionBy=[]"),
        s"$q has an unpartitioned window:\n$p2")
    }
  }

  test("token-budget recursion: the deep split stacks bucket filters under the window") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("tok_cnt", length(coalesce(col("text"), lit(""))).cast("long"))
    // windowMaxRows = 0 forces recursion past level 1: the residue the
    // exact window sorts must be fenced by MULTIPLE bucket-equality
    // filters (one per 12-bit level), not the single 1/4096 filter
    val res = graft.operators.Sampling.tokenBudgetSample(
      docs, "doc_id", "tok_cnt", budgetTokens = 1000L, salt = "t",
      windowMaxRows = 0L)
    val p = res.queryExecution.explainString(SimpleMode)
    val w = p.indexOf("Window")
    assert(w >= 0, s"no window — cutoff semantics changed?\n$p")
    val belowWindow = p.substring(w)
    val nLevels = "shiftright".r.findAllIn(belowWindow).size
    assert(nLevels >= 2,
      s"window residue fenced by only $nLevels bucket filter(s):\n$p")
  }

  test("bloom incremental dedup: suspicious set broadcasts, no corpus shuffle join") {
    val p = plan("dedup_incremental_bloom")
    // the semi-join reduction's point: the corpus side is scanned map-side
    // against the BROADCAST suspicious set — a sort-merge join here means
    // the corpus fingerprints are being shuffled every batch again
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"corpus semi-join not broadcast:\n$p")
    assert(p.contains("bloommightcontain") || p.contains("BloomMightContain"),
      s"bloom pre-screen missing from the plan:\n$p")
  }

  test("winnow cap: window shuffle is reused by the pair join, no extra exchange") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val capped = graft.functions.DedupFunctions.winnowNearDups(
      docs, "doc_id", "text", maxDocFreq = 1000)
    // sparkPlan (pre-AQE) so the exchange count is the static plan's, not
    // an adaptive wrapper that hides children until execution
    val executed = capped.queryExecution.sparkPlan
    val exchanges = executed.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the capped fingerprint table is materialized once (localCheckpoint)
    // ALREADY hash-partitioned by _fp from the window's shuffle; both
    // join sides inherit that partitioning, so the plan needs only the
    // pair-aggregation exchange downstream of the join — a cap that cost
    // an extra shuffle per side (3+ exchanges) would defeat its purpose
    assert(exchanges.size <= 1,
      s"winnow cap added per-side exchanges (${exchanges.size}):\n$executed")
    // and the cap itself is present: a window count keyed on _fp
    val uncapped = graft.functions.DedupFunctions.winnowNearDups(
      docs, "doc_id", "text", maxDocFreq = 0)
    val cappedStr = executed.toString
    val uncappedStr = uncapped.queryExecution.sparkPlan.toString
    assert(cappedStr.contains("_keyfreq") || cappedStr != uncappedStr,
      "cap did not change the plan")
  }

  test("z-order rewrite: exactly ONE range-partitioning exchange, no extra shuffle") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val data = spark.range(10000).select($"id".as("y"),
      pmod(hash($"id"), lit(1000)).cast("long").as("x"))
    val z = graft.layout.ZOrder.zorder(data, Seq("x", "y"), bits = 10,
      numPartitions = 8)
    val plan = z.queryExecution.sparkPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size == 1,
      s"z-order should cost exactly one shuffle, found ${exchanges.size}:\n$plan")
    assert(exchanges.head.outputPartitioning.toString.toLowerCase
        .contains("range"),
      s"z-order shuffle is not a range partitioning:\n${exchanges.head}")
  }

  test("ivf assignment runs the native kernel, never the interpreted HOF ranking") {
    // the r11 regression this pins: replacing the compiled assignment with
    // aggregate(zip_with(...))/array_sort structs measured 2.6× SLOWER on
    // the assign-heavy queries — interpreted higher-order functions have
    // no place in a full-corpus pass
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val index = graft.functions.SimilarityFunctions.ivfTrain(
      emb, "embedding", cells = 8)
    for (df <- Seq(index.assign(emb, "vec_id", "embedding"),
                   index.assignProbes(emb, "vec_id", "embedding", 2))) {
      val p = df.queryExecution.explainString(SimpleMode)
      assert(p.toLowerCase.contains("ivfrankcells"), s"native kernel missing:\n$p")
      assert(!p.contains("array_sort") && !p.contains("zip_with"),
        s"interpreted HOF ranking back in the assignment path:\n$p")
      // the `*(n)` prefix is the WholeStageCodegen marker in plan toString
      val ex = df.queryExecution.executedPlan.toString
      val kernelLine = ex.linesIterator.find(_.contains("ivfrankcells"))
        .getOrElse("")
      assert(kernelLine.trim.stripPrefix("+- ").startsWith("*("),
        s"assignment fell out of codegen:\n$ex")
    }
  }

  test("ivf/ivf-pq search: probe selection is the native kernel — no probe-stage exchange") {
    // r14: both searches rank probe cells through IvfRankCells (the
    // ASSIGNMENT metric — the pre-r14 ivfPqSearch ranked by -cosine and
    // disagreed with the inverted file through the ||centroid|| term,
    // capping its certified recall floor below IVF-alone and PQ-alone).
    // The composed form also paid an interpreted aggregate(zip_with)
    // lambda per (query, cell) AND a row_number window — one exchange —
    // per search, on the query side of EVERY batch. Pin both properties:
    // kernel present, no probe-stage zip_with, and exactly the windows
    // the top-k ranking itself needs (1 for IVF, 2 for IVF-PQ's
    // shortlist + re-rank).
    import graft.functions.SimilarityFunctions
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = emb.where(org.apache.spark.sql.functions.col("vec_id") < 20)
    val ivf = SimilarityFunctions.ivfTopK(emb, probes, "vec_id", "embedding", 5,
      cells = 8, nProbe = 2)
    val ivfpq = SimilarityFunctions.ivfPqTopK(emb, probes, "vec_id", "embedding", 5,
      cells = 8, nProbe = 2)
    for ((df, windows, name) <- Seq((ivf, 1, "ivfSearch"), (ivfpq, 2, "ivfPqSearch"))) {
      val p = df.queryExecution.explainString(SimpleMode).toLowerCase
      assert(p.contains("ivfrankcells"), s"$name probe kernel missing:\n$p")
      assert(!p.contains("zip_with"),
        s"$name regained the interpreted probe ranking:\n$p")
      val nWin = p.linesIterator.count(_.trim.matches("^[+:\\-* (\\d)]*window .*"))
      assert(nWin == windows,
        s"$name expected $windows Window op(s) (probe stage must be map-only), got $nWin:\n$p")
    }
  }

  test("winnow fingerprint query: native checksum fold, zero interpreted HOF lambdas") {
    val p = plan("text_winnow_fp")
    assert(p.contains("modpchecksum"), s"native checksum missing:\n$p")
    // the interpreted aggregate/transform HOFs all render lambdafunction(…)
    // — the last full-corpus interpreted fold was removed in r13; keep the
    // whole query lambda-free
    assert(!p.contains("lambdafunction"),
      s"text_winnow_fp regained an interpreted HOF:\n$p")
  }

  test("ANN family + crawl refresh: zero interpreted HOF lambdas anywhere") {
    // r14 lambda-sweep: the finiteVec usability gate (`exists` lambda,
    // evaluated per corpus row on EVERY ANN pass — 48 occurrences in
    // crawl_refresh_e2e's plan alone) and the quantize8 transform chain
    // are native kernels now; keep the whole family lambda-free
    for (q <- Seq("ann_brute_topk", "ann_ivf_topk", "ann_ivfpq_topk",
                  "ann_pq_topk", "ann_pca_topk", "ann_lsh_topk",
                  "ann_quantized_topk", "semantic_dedup",
                  "dedup_embedding_pairs", "emb_centroid_outliers")) {
      val p = plan(q)
      assert(!p.contains("lambdafunction"),
        s"$q regained an interpreted HOF:\n$p")
    }
  }

  test("minhash signature and token estimate: native folds, zero interpreted HOF lambdas") {
    // r14 (r13 verdict task 4): the signature mod-sum checksum and the
    // long-word subword fold were the two remaining full-corpus
    // interpreted folds; tokens()'s filter lambda went with them
    // (array_remove). Keep both whole queries lambda-free.
    for ((q, native) <- Seq("dedup_minhash_sig" -> "modpelementsum",
                            "text_token_estimate" -> "sumlendiv")) {
      val p = plan(q).toLowerCase
      assert(p.contains(native), s"$q native fold missing:\n$p")
      assert(!p.contains("lambdafunction"),
        s"$q regained an interpreted HOF:\n$p")
    }
  }

  test("manifest-pruned read plans as a bare scan — no shuffle, no join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ph_sidx").toString
    spark.range(5000).select($"id".as("x"), ($"id" * 3).as("v"))
      .repartitionByRange(8, $"x").write.mode("overwrite").parquet(base)
    graft.layout.StatsIndex.build(spark, base, Seq("x"))
    val pruned = graft.layout.StatsIndex.prunedRead(spark, base,
      Seq(("x", 100L, 200L)))
    val plan = pruned.queryExecution.sparkPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"pruned read must stay a scan (file skipping is driver-side):\n$plan")
    assert(!plan.toString.contains("Join"),
      s"pruned read must not join at runtime:\n$plan")
  }
}
