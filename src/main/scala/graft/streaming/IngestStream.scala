package graft.streaming

import graft.ingest.{JsonDialect, JsonIngest}
import graft.operators.EventOps
import graft.schema.{EventSchema, FieldNames}
import graft.sinks.EventSink
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** F5 — late-data re-publisher. The reference produces out-of-window records
  * to a second Kafka topic (KafkaHistoricalDataHandler.java:40-69); the
  * publish happens INSIDE the batch function so the offset-commit barrier
  * (C2) covers it: the batch's offsets only commit after both the real-time
  * inserts and the historical hand-off completed.
  */
trait HistoricalHandler extends Serializable {
  def handle(raw: DataFrame): Unit

  /** The hand-off of micro-batch `batchId` (-1 outside a stream), which a
    * crash before the offset commit replays. A handler that can key its
    * output by the batch overrides this to be replay-idempotent; the
    * default is the plain [[handle]], at-least-once.
    */
  def handle(raw: DataFrame, batchId: Long): Unit = handle(raw)
}

/** Historical re-publish to a Kafka topic (needs the kafka connector on the
  * classpath at runtime). At-least-once, as the reference's
  * KafkaHistoricalDataHandler (:40-69) is: a producer cannot take back
  * records, so a batch replayed after a crash between the hand-off and the
  * offset commit publishes its late records again.
  */
final class KafkaHistoricalHandler(bootstrap: String, topic: String) extends HistoricalHandler {
  override def handle(raw: DataFrame): Unit =
    raw.select(col("value").cast("binary").as("value"))
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .save()
}

/** File-backed historical hand-off (test/local stand-in for the topic).
  * Inside a stream each batch overwrites its own `path/batch=N`, like
  * `IngestStream.DeadLetter`, so a replayed batch rewrites its late
  * records instead of appending them twice; outside one it appends to
  * `path`. `spark.read.text(path)` reads every batch back.
  */
final class FileHistoricalHandler(path: String) extends HistoricalHandler {
  override def handle(raw: DataFrame): Unit = handle(raw, -1L)

  override def handle(raw: DataFrame, batchId: Long): Unit =
    if (batchId < 0) raw.select("value").write.mode("append").text(path)
    else raw.select("value").write.mode("overwrite").text(s"$path/batch=$batchId")
}

/** Engine configuration — the reference's operating envelope
  * (BASELINE.md): 15 s stream trigger, real-time day window, promotion
  * heuristic, optional whitelist + dedup.
  */
final case class IngestConfig(
    dialect: JsonDialect = JsonDialect.Fabric,
    names: FieldNames = FieldNames(),
    collectionWhitelist: Seq[String] = Nil,
    outdatedDayIndex: Int = 1,                    // kafka.outdated-day-index
    promoteMinRecords: Long = 1000,               // KafkaRealTimeWorker:370-384
    promoteMinFraction: Double = 0.25,
    triggerSeconds: Int = 15,                     // stream.max-flush-duration
    dedupWithinWatermark: Option[String] = None,  // e.g. Some("30 days") ≈ RocksDB TTL
    splitEnabled: Boolean = true,                 // false on the historical drain
    commitRetries: Int = 3,                       // C4, TargetConnectorCommitter.java:35-39
    commitRetryBaseMillis: Long = 1000,
    writeParallelism: Int = 4,                    // B3 writer queues, S3DatabaseHandler:389-479
    availableNow: Boolean = false,                // drain-everything trigger (bench/backfill)
    consolidateThreshold: Int = 64)               // collections/batch above which same-schema
                                                  // cohorts write in ONE partitioned job
                                                  // (BatchWriter, both wire formats)

/** The streaming ingest pipeline: the reference's Kafka/Kinesis worker loop
  * (SURVEY.md §3.1) re-expressed as one Structured Streaming query.
  *
  * Mechanism the reference hand-rolls that Spark provides (SURVEY §7.1):
  * polling, offset bookkeeping (C1), the multi-table commit barrier (C2 —
  * `foreachBatch` returns ⇒ batch committed), retries (C4), backpressure
  * (B5 — `maxOffsetsPerTrigger`), buffer cadence (B1 — trigger interval).
  * What remains here is only semantics: decouple → whitelist → day-split →
  * historical hand-off → infer/evolve → parse → `_shard_time` → per-table
  * sink insert.
  */
object IngestStream {

  /** Kafka raw source (S1/S2) — requires the spark-sql-kafka connector at
    * runtime. `maxOffsetsPerTrigger` is the declarative replacement for the
    * reference's memory-watermark pause/resume loop (B5).
    */
  def kafkaSource(spark: SparkSession, bootstrap: String, topics: String,
                  maxOffsetsPerTrigger: Long = 300000): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** File-drop source of raw JSON lines (test/local stand-in for a topic).
    * `maxFilesPerTrigger` bounds per-batch intake the way
    * `maxOffsetsPerTrigger` does for Kafka (B5) — and doubles as the
    * batch-cadence control for the replay throughput bench.
    */
  def fileSource(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.text(dir).toDF("value")
  }

  /** S3 — Kinesis raw source: requires the spark-sql-kinesis connector
    * (e.g. the Qubole/AWS `spark-streaming-sql-kinesis` artifact) at
    * runtime; Spark's checkpoint replaces the KCL DynamoDB lease table
    * (KinesisRecordProcessor.java:119-134).
    */
  def kinesisSource(spark: SparkSession, streamName: String, region: String,
                    endpoint: Option[String] = None): DataFrame = {
    val b = spark.readStream.format("aws-kinesis")
      .option("kinesis.streamName", streamName)
      .option("kinesis.region", region)
      .option("kinesis.startingposition", "TRIM_HORIZON")
    endpoint.foreach(e => b.option("kinesis.endpointUrl", e))
    b.load().selectExpr("CAST(data AS STRING) AS value")
  }

  /** C4 — commit retry with exponential backoff (reference: Failsafe 1→60 s,
    * jitter 0.1, ≤3 retries, TargetConnectorCommitter.java:29-46). Wraps
    * sink inserts; task-level failures inside the job are already retried by
    * `spark.task.maxFailures` — this guards job-level sink errors.
    */
  def withRetry[T](maxRetries: Int = 3, baseDelayMillis: Long = 1000,
                   maxDelayMillis: Long = 60000)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: Throwable if attempt < maxRetries =>
          val delay = math.min(maxDelayMillis, baseDelayMillis << attempt)
          // ±10% RANDOM jitter: a sink outage fails every in-flight write
          // at once, and deterministic jitter would retry them in lockstep
          val jitter = (delay * 0.1 *
            (java.util.concurrent.ThreadLocalRandom.current().nextDouble() * 2 - 1)).toLong
          Thread.sleep(math.max(0, delay + jitter))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** JSON path of the dedup user key for a dialect: Fabric wraps event
    * fields under `data`, Rakam under `properties` (FabricJsonDeserializer
    * vs RakamJsonDeserializer envelope shapes).
    */
  private def dedupUserPath(dialect: JsonDialect, names: FieldNames): String =
    dialect match {
      case JsonDialect.Fabric => s"$$.data.${names.userField}"
      case JsonDialect.Rakam  => s"$$.properties.${names.userField}"
    }

  /** F2 (streaming flavor) — duplicate drop keyed on `(_user, _time)` with
    * TTL'd state, the Spark-native equivalent of the reference's RocksDB
    * TtlDB (Deduplicator.java:26-88; 1-month TTL). Uses
    * `dropDuplicatesWithinWatermark` so state is evicted once the watermark
    * passes the TTL; backed by the RocksDB state store provider on a real
    * cluster. Must run BEFORE foreachBatch (state ops live in the query).
    *
    * Rows with a null user or null time pass through UNdeduplicated —
    * the reference's Deduplicator only drops on a present key
    * (AvroDuplicateHandler.isUnique); collapsing all null-key rows that
    * share a `_time` would be silent data loss.
    */
  def deduplicated(decoupled: DataFrame, ttl: String, names: FieldNames,
                   dialect: JsonDialect = JsonDialect.Fabric): DataFrame = {
    val keyed = decoupled.withColumn("_dedup_user",
      get_json_object(col("value"), dedupUserPath(dialect, names)))
    val deduped = keyed
      .filter(col("_dedup_user").isNotNull && col("_time").isNotNull)
      .withWatermark("_time", ttl)
      .dropDuplicatesWithinWatermark("_dedup_user", "_time")
    val passthrough = keyed.filter(col("_dedup_user").isNull || col("_time").isNull)
    deduped.unionByName(passthrough).drop("_dedup_user")
  }

  /** C7 — dead-letter target for batches a sink permanently rejects. The
    * reference SKIPS poisoned batches (commitSync past them,
    * KafkaRealTimeWorker.java:288-292) — silent data loss; we preserve the
    * records instead and still let the stream advance (SURVEY §7.4.4).
    */
  final class DeadLetter(path: String) extends Serializable {
    /** Inside a stream (`batchId` ≥ 0) batch-keyed and overwriting, like
      * every other write in the barrier: a replayed micro-batch rewrites
      * the same `batch=N` directory instead of appending duplicates (the
      * one path that exists to PRESERVE data must itself be exactly-once
      * under replay). Outside a stream it appends.
      */
    def handle(id: graft.schema.CollectionId, raw: DataFrame, batchId: Long): Unit = {
      val dir = s"$path/${id.project}/${id.collection}"
      if (batchId < 0) raw.select(col("value")).write.mode("append").text(dir)
      else raw.select(col("value")).write.mode("overwrite").text(s"$dir/batch=$batchId")
    }
  }

  /** One micro-batch of the JSON pipeline — also the batch path for bulk
    * loads: decouple → whitelist → day-split → historical hand-off →
    * infer/evolve (`JsonIngest.evolve`) → writes through [[BatchWriter]]
    * with the one JSON frame builder (`JsonIngest.parse` of the members
    * plus `_shard_time`) and the C7 dead-letter policy. The historical
    * hand-off and the dead letters are keyed by `batchId` (≥ 0 inside a
    * stream), so a replay can rewrite them.
    *
    * The decoupled batch is the one Spark SQL cache of the batch: the
    * real-time slice, inference and every write read it through the
    * split's filter, which is deterministic because `EventOps.daySplit`
    * pins `today`. Returns per-collection inserted row counts,
    * dead-lettered collections included at 0.
    */
  def processBatch(spark: SparkSession, raw: Dataset[String],
                   registry: EventSchema.Registry, sink: EventSink,
                   historical: Option[HistoricalHandler], cfg: IngestConfig,
                   deadLetter: Option[DeadLetter] = None,
                   batchId: Long = -1L,
                   decoupledIn: Option[DataFrame] = None)
      : Map[graft.schema.CollectionId, Long] = {
    // pre-parse decouple (D-split reads only _time/_collection, ref
    // KafkaDecoupleMessage) + whitelist. A caller that already decoupled
    // (the dedup query feeds routing columns through the state op) passes
    // the frame in so the hot path pays the Jackson scan ONCE per record.
    val decoupled0 = decoupledIn.getOrElse(
      EventOps.decouple(raw, cfg.dialect, cfg.names)
        .filter(col("_project").isNotNull))
    val decoupled = EventOps.whitelist(decoupled0, cfg.collectionWhitelist)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val realTime =
        if (!cfg.splitEnabled) decoupled
        else {
          val split = EventOps.daySplit(decoupled, col("_time"),
            outdatedDayIndex = cfg.outdatedDayIndex,
            promoteMinRecords = cfg.promoteMinRecords,
            promoteMinFraction = cfg.promoteMinFraction)
          // F5: hand historical records off INSIDE the barrier, keyed by
          // the batch so a replay can rewrite them, not append
          historical.foreach(_.handle(split.historical, batchId))
          split.realTime
        }

      // D1-D9: infer, evolve, parse the real-time slice; D10 + insert per
      // table. Schemas only at this point — per-collection DataFrames are
      // constructed inside the write tasks: Dataset construction runs the
      // ANALYZER eagerly, and building C plans up front on the driver
      // serialized ~C × analysis-latency before the first write at high
      // cardinality (measured: the dominant cost at C=1000).
      val routed = realTime.select("value", "_project", "_collection")
      val (batchSchemas, batchSizes) =
        JsonIngest.evolve(routed, registry, cfg.dialect, cfg.names)
      // C7 failure policy: dead-letter each affected collection's raw rows
      // and advance, or abort the batch
      def failAll(ids: Seq[graft.schema.CollectionId], e: Throwable)
          : Seq[(graft.schema.CollectionId, Long)] =
        deadLetter match {
          case Some(dl) => // C7: preserve + advance instead of skip/abort
            // batch-keyed: a replay after a crash between dead-letter and
            // offset commit must not duplicate the preserved records
            ids.foreach(id => dl.handle(id, routed.filter(
              col("_project") === id.project && col("_collection") === id.collection), batchId))
            ids.map(_ -> 0L)
          case None => throw e // abort the batch: offsets never commit
        }

      BatchWriter.write(batchSchemas, batchSizes, sink, cfg, batchId)(
        rows = (ids, schema) => EventOps.withShardTime(
          JsonIngest.parse(routed, Some(ids), schema, cfg.dialect, cfg.names),
          cfg.names),
        onFailure = failAll)
    } finally decoupled.unpersist(false)
  }

  /** S2 — historical (late-data) drain: a second query over the historical
    * topic/path with a slow cadence and a bounded per-trigger intake — the
    * declarative equivalents of the reference's 30-min/500k-lag gate and
    * memory checks (KafkaHistoricalWorker.java:114-219). Runs the same
    * pipeline with the day-split disabled (everything here is already
    * historical and must insert rather than re-route forever).
    */
  def startHistoricalDrain(spark: SparkSession, source: DataFrame,
                           registry: EventSchema.Registry, sink: EventSink,
                           checkpointDir: String,
                           cfg: IngestConfig = IngestConfig(),
                           drainIntervalSeconds: Int = 1800): StreamingQuery =
    start(spark, source, registry, sink, historical = None, checkpointDir,
      cfg.copy(splitEnabled = false, triggerSeconds = drainIntervalSeconds))

  /** Trigger from config: the reference's 15 s poll cadence
    * (stream.max-flush-duration) in steady state; AvailableNow for
    * drain-everything runs (backfills, the replay throughput bench) — same
    * pipeline, the stream stops itself once the source is exhausted.
    */
  private def triggerOf(cfg: IngestConfig): Trigger =
    if (cfg.availableNow) Trigger.AvailableNow()
    else Trigger.ProcessingTime(s"${cfg.triggerSeconds} seconds")

  /** Registry persistence location, checkpoint-adjacent (K4 durability):
    * the schema registry is saved after every committed batch and loaded on
    * start, so a restarted driver keeps the authoritative column order (the
    * reference persists it in MySQL, connector/MetadataDao.java:114-133).
    * A DIRECTORY of per-project shards — one hot collection rewrites one
    * project's file per trigger, not the whole fleet's registry.
    */
  def registryPath(checkpointDir: String): String =
    s"$checkpointDir/graft_schema_registry"

  /** Resume the registry: sharded layout first, then any legacy
    * single-file registry from a pre-sharding checkpoint (merge-on-load
    * keeps both paths clobber-free).
    */
  private def loadRegistry(spark: SparkSession,
                           registry: EventSchema.Registry,
                           checkpointDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    registry.loadSharded(registryPath(checkpointDir), conf)
    registry.load(s"$checkpointDir/graft_schema_registry.json", conf)
  }

  /** Start the continuous query. `source` must provide a string `value`
    * column ([[kafkaSource]] / [[fileSource]]).
    */
  def start(spark: SparkSession, source: DataFrame, registry: EventSchema.Registry,
            sink: EventSink, historical: Option[HistoricalHandler],
            checkpointDir: String, cfg: IngestConfig = IngestConfig()): StreamingQuery = {
    // resume the authoritative schema order from the last run, if any
    loadRegistry(spark, registry, checkpointDir)
    val base = cfg.dedupWithinWatermark match {
      case Some(ttl) =>
        val dec = EventOps.decouple(source.select(col("value")).as(Encoders.STRING),
                                    cfg.dialect, cfg.names)
        // keep the routing columns: the batch function reuses them instead
        // of re-running the per-record decouple scan
        deduplicated(dec.filter(col("_project").isNotNull), ttl, cfg.names,
                     cfg.dialect)
      case None => source.select("value")
    }
    base.writeStream
      .trigger(triggerOf(cfg))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val preDecoupled =
          if (batch.columns.contains("_project")) Some(batch) else None
        processBatch(s, batch.select(col("value")).as(Encoders.STRING),
                     registry, sink, historical, cfg, batchId = batchId,
                     decoupledIn = preDecoupled)
        // K4: persist schema evolution alongside the offset checkpoint,
        // INSIDE the barrier — offsets only commit once the registry that
        // produced this batch's tables is durable
        registry.saveShardedIfChanged(registryPath(checkpointDir),
                      s.sparkContext.hadoopConfiguration)
        () // barrier: returning commits the batch's offsets (C1/C2)
      }
      .start()
  }

  /** Start the continuous AVRO query — the reference's PRIMARY Kafka path
    * (KafkaRealTimeWorker consumes tagged Avro, not JSON). `source` must
    * provide `key: string` + `value: binary` (the Kafka wire shape; any
    * binary file/parquet stream works in tests). Schemas come fixed from
    * the registry — the Avro wire format carries no field names — so there
    * is no inference pass; everything else (barrier, registry durability,
    * single-pass decode, largest-first flush) matches the JSON path.
    */
  def startAvro(spark: SparkSession, source: DataFrame,
                registry: EventSchema.Registry, sink: EventSink,
                checkpointDir: String, cfg: IngestConfig = IngestConfig(),
                keySep: Char = '.',
                bulkFetch: Option[String => Array[Byte]] = None,
                dedupBatch: Boolean = false): StreamingQuery = {
    loadRegistry(spark, registry, checkpointDir)
    source.select(col("key").cast("string").as("key"), col("value"))
      .writeStream
      .trigger(triggerOf(cfg))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ingest.AvroIngest.processBatch(batch, registry, sink, keySep,
          cfg, batchId = batchId, bulkFetch = bulkFetch,
          dedupBatch = dedupBatch)
        registry.saveShardedIfChanged(registryPath(checkpointDir),
                      batch.sparkSession.sparkContext.hadoopConfiguration)
        () // barrier: returning commits the batch's offsets (C1/C2)
      }
      .start()
  }
}
