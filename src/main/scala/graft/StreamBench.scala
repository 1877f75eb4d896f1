package graft

import graft.schema.EventSchema
import graft.sinks.ColumnarSink
import graft.streaming.{IngestMetricsListener, IngestConfig, IngestStream}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Sustained streaming-ingest throughput bench — the reference's actual
  * operating point. BASELINE.md's envelope is ingest throughput (300k
  * records per poll on a 15 s cadence — kafka/KafkaConfig.java:33,
  * stream/StreamConfig.java:14), so this drives the REAL streaming entry
  * (`IngestStream.start`: decouple → whitelist → day-split → infer/evolve →
  * parse → per-collection sink insert → registry save, all inside the
  * offset-commit barrier) rather than a batch query.
  *
  * Shape: the `events` table is serialized to Fabric JSON wire records and
  * written as N chunk files; the file source replays them one file per
  * micro-batch (`maxFilesPerTrigger` — the B5 intake bound) under
  * `Trigger.AvailableNow`, so the run measures drain CAPACITY: how fast the
  * engine can sustain full batches back-to-back. Defaults replay the
  * reference's OWN poll size — 300k records per micro-batch
  * (KafkaConfig.java:33) — so records/s over busy time is directly
  * comparable to its envelope (300k / 15 s = 20k records/s sustained);
  * smaller fixed-overhead-bound batch shapes are measured in SCALE.md
  * §Streaming via the standalone main's knobs.
  *
  * Event times are rebased to "now" so the day-split heuristic routes the
  * whole stream real-time (the steady-state shape); the split, inference,
  * dedup-off, retry and registry-persistence paths all run exactly as in
  * production. Batch-latency distribution and the registry-save share of
  * the barrier ride along in the result.
  */
object StreamBench {

  final case class StreamResult(
      records: Long,
      batches: Int,
      chunks: Int,
      wallSec: Double,
      busySec: Double,
      recordsPerSecBusy: Double,
      recordsPerSecWall: Double,
      batchMsP50: Long,
      batchMsP95: Long,
      batchMsMax: Long,
      registrySaveMs: Long,
      collections: Int,
      // temporal drift (soak signal): mean trigger latency over the first
      // vs last 10 batches IN ARRIVAL ORDER — a growing last/first ratio
      // means per-batch cost climbs as sink files/registry state
      // accumulate, which sorted percentiles cannot show
      batchMsFirst10: Long = 0L,
      batchMsLast10: Long = 0L) {
    def toJson: String =
      f"""{"records":$records,"batches":$batches,"chunks":$chunks,""" +
        f""""wall_sec":$wallSec%.3f,"busy_sec":$busySec%.3f,""" +
        f""""records_per_sec_busy":$recordsPerSecBusy%.0f,""" +
        f""""records_per_sec_wall":$recordsPerSecWall%.0f,""" +
        f""""batch_ms":{"p50":$batchMsP50,"p95":$batchMsP95,"max":$batchMsMax,""" +
        f""""first10_avg":$batchMsFirst10,"last10_avg":$batchMsLast10},""" +
        f""""registry_save_ms":$registrySaveMs,"collections":$collections}"""
  }

  /** Serialize `events` rows as Fabric wire JSON with `_time` rebased to a
    * fixed "now" so every record is same-day (real-time split path). The
    * payload shape matches `SparkEntry.eventsAsFabricJson`; rebasing only
    * touches `_time`.
    */
  private def wireJson(spark: SparkSession, sfDir: String, nowMillis: Long,
                       extraData: String = "", fanout: Int = 0) = {
    val ev = graft.schema.TableContract.check("events",
        spark.read.parquet(s"$sfDir/events.parquet"))
      .repartition(spark.sparkContext.defaultParallelism)
    // fanout > 0 spreads each event type over `fanout/[types]` suffixed
    // collections — the 1k-live-collections soak shape (null-safe: a null
    // user routes to suffix 0 rather than nulling the collection name)
    val collection: org.apache.spark.sql.Column =
      if (fanout <= 0) col("event_type")
      else concat(col("event_type"), lit("_c"),
        coalesce(pmod(col("user_id"), lit(fanout)), lit(0)))
    ev.select(concat(
      lit("""{"id":""""), col("event_id"), lit("""","metadata":{},"data":{"""),
      lit(""""_project":"demo","_collection":""""), collection, lit("\","),
      lit(extraData),
      lit(""""_time":"""), lit(nowMillis), lit(","),
      lit(""""_user":"u"""), col("user_id"), lit("\","),
      lit(""""value":"""), col("value"), lit(","),
      lit(""""props":"""), col("props"),
      lit("}}")).as("value")).as(Encoders.STRING)
  }

  /** Run the replay. `targetRecords` controls how many wire records are
    * staged (the events table is replicated to reach it); `chunks` is the
    * number of micro-batches. Each batch intakes `filesPerBatch` files —
    * the replay analogue of a `filesPerBatch`-partition Kafka topic (one
    * file per batch would serialize the scan+parse onto a single task,
    * which no production source does).
    */
  def run(spark: SparkSession, sfDir: String, chunks: Int = 5,
          targetRecords: Long = 1500000, filesPerBatch: Int = 16,
          fanout: Int = 0): StreamResult = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_streambench")
    val input = s"$tmp/input"
    try {
      // stage the wire stream: replicate events to the target volume, then
      // `filesPerBatch` text files per planned micro-batch
      val one = wireJson(spark, sfDir, System.currentTimeMillis(), fanout = fanout)
      val nEvents = one.count()
      require(nEvents > 0, s"replay needs a non-empty $sfDir/events.parquet")
      val replication = math.max(1, math.ceil(targetRecords.toDouble / nEvents).toInt)
      val wire = Seq.fill(replication)(one).reduce(_.union(_))
      wire.repartition(chunks * filesPerBatch).write.text(input)
      val staged = nEvents * replication

      val registry = new EventSchema.Registry()
      measure(spark, chunks, staged, registry, () =>
        IngestStream.start(spark,
          IngestStream.fileSource(spark, input, maxFilesPerTrigger = Some(filesPerBatch)),
          registry, new ColumnarSink(s"$tmp/sink"), historical = None,
          s"$tmp/checkpoint", IngestConfig(availableNow = true)))
    } finally {
      try {
        java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      } catch { case _: Throwable => () }
    }
  }

  /** Schema-evolution CHURN replay: chunk `c`'s wire records carry one
    * extra top-level data field `f<c>`, and chunks are staged as separate
    * file groups in strictly increasing modification order, so every
    * micro-batch widens each live collection's schema by one column and
    * must re-persist the registry inside its barrier — the reference's
    * ALTER TABLE + metastore-write path (MetadataDao.java:114-133,
    * S3DatabaseHandler schema DDL) exercised CONTINUOUSLY rather than
    * once. The steady-state soak holds this axis at zero (registry saves
    * are version-check no-ops after batch 1); this mode measures the
    * opposite pole: per-batch evolution + save cost as the schema widens
    * to `chunks` extra columns, and parse/sink cost on the widening rows.
    */
  def runEvolve(spark: SparkSession, sfDir: String, chunks: Int = 20,
                targetRecords: Long = 2000000,
                filesPerBatch: Int = 8): StreamResult = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_streambench_ev")
    val input = s"$tmp/input"
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(input))
      val perChunk = math.max(1L, targetRecords / chunks)
      // the staging limit below takes an Int; a >2B-records-per-chunk ask
      // would silently overflow into a wrong (or negative) limit
      require(perChunk <= Int.MaxValue,
        s"targetRecords/chunks = $perChunk exceeds Int.MaxValue — raise chunks")
      // metadata-only count (the wire transform would serialize every row
      // just to count it); an empty corpus has no churn to measure — fail
      // loudly instead of Int.MaxValue-replicating below
      val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
      require(nEvents > 0, s"evolve replay needs a non-empty $sfDir/events.parquet")
      val rep = math.max(1, math.ceil(perChunk.toDouble / nEvents).toInt)
      var staged = 0L
      (0 until chunks).foreach { c =>
        // same envelope, one new data field per chunk: {"data":{...,"f<c>":1,...}}
        val one = wireJson(spark, sfDir, System.currentTimeMillis(),
          extraData = s""""f$c":1,""")
        val wire = Seq.fill(rep)(one).reduce(_.union(_)).limit(perChunk.toInt)
        val stageDir = s"$tmp/stage$c"
        wire.repartition(filesPerBatch).write.text(stageDir)
        staged += perChunk
        // move the part files into the streamed dir with monotone names;
        // the sequential writes give monotone mtimes, so the file source
        // feeds (about) one chunk per trigger under maxFilesPerTrigger
        val parts = new java.io.File(stageDir).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
          .sortBy(_.getName)
        parts.zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(input, f"c$c%05d-$i%03d.txt"))
        }
      }
      val registry = new EventSchema.Registry()
      val res = measure(spark, chunks, staged, registry, () =>
        IngestStream.start(spark,
          IngestStream.fileSource(spark, input, maxFilesPerTrigger = Some(filesPerBatch)),
          registry, new ColumnarSink(s"$tmp/sink"), historical = None,
          s"$tmp/checkpoint", IngestConfig(availableNow = true)))
      // in-band certificate: the churn actually happened — every chunk's
      // field must have reached the registry (a mis-staged replay would
      // otherwise measure the steady-state no-op and report it as churn)
      val missing = (0 until chunks).map(c => s"f$c").filterNot(f =>
        registry.all.values.exists(_.fieldNames.contains(f)))
      require(missing.isEmpty,
        s"evolution churn did not register: missing ${missing.take(5)}")
      res
    } finally {
      try {
        java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      } catch { case _: Throwable => () }
    }
  }

  /** AVRO replay — the reference's PRIMARY Kafka wire format is tagged
    * Avro, not JSON (KafkaRealTimeWorker consumes `key = project.collection`
    * + tag-0 binary payloads); this variant measures `IngestStream
    * .startAvro`: schema-fixed registry, single-pass tagged decode,
    * per-collection (or cohort) sink writes, registry persistence — the
    * same barrier. Records are staged as (key string, value binary)
    * parquet chunks and streamed through the parquet file source with the
    * same files-per-trigger intake bound.
    */
  def runAvro(spark: SparkSession, sfDir: String, chunks: Int = 5,
              targetRecords: Long = 1500000, filesPerBatch: Int = 16): StreamResult = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_streambench_avro")
    val input = s"$tmp/input"
    try {
      val rowSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_time",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("_user",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val avroJson = graft.ingest.AvroIngest.avroSchema(rowSchema, "ev").toString
      val nowMillis = System.currentTimeMillis()

      val ev = graft.schema.TableContract.check("events",
          spark.read.parquet(s"$sfDir/events.parquet"))
        .select(col("event_type"), col("user_id"), col("value"))
      val nEvents = ev.count()
      require(nEvents > 0, s"replay needs a non-empty $sfDir/events.parquet")
      val replication = math.max(1, math.ceil(targetRecords.toDouble / nEvents).toInt)
      val staged = nEvents * replication
      val types = ev.select(col("event_type")).distinct()
        .collect().map(_.getString(0)) // bounded: collection universe

      // distributed tag-0 Avro encode (one writer per task, FIXTURES.md §3)
      val one = ev.select(col("event_type"),
          col("user_id").cast("string").as("u"), col("value"))
        .as[(String, String, Double)]
        .mapPartitions { rows =>
          val schema = new org.apache.avro.Schema.Parser().parse(avroJson)
          val writer = new org.apache.avro.generic.GenericDatumWriter[
            org.apache.avro.generic.GenericRecord](schema)
          rows.map { case (etype, u, v) =>
            val out = new java.io.ByteArrayOutputStream()
            out.write(0) // tag 0: inline, collection from the key
            val enc = org.apache.avro.io.EncoderFactory.get()
              .directBinaryEncoder(out, null)
            val rec = new org.apache.avro.generic.GenericData.Record(schema)
            rec.put("_time", nowMillis)
            rec.put("_user", "u" + u)
            rec.put("value", v)
            writer.write(rec, enc)
            enc.flush()
            (s"demo.$etype", out.toByteArray)
          }
        }.toDF("key", "value")
      Seq.fill(replication)(one).reduce(_.union(_))
        .repartition(chunks * filesPerBatch).write.parquet(input)

      // schema-fixed registry: the Avro wire carries no field names
      val registry = new EventSchema.Registry()
      types.foreach(t =>
        registry.put(graft.schema.CollectionId("demo", t), rowSchema))
      val source = spark.readStream
        .schema("key STRING, value BINARY")
        .option("maxFilesPerTrigger", filesPerBatch)
        .parquet(input)
      measure(spark, chunks, staged, registry, () =>
        IngestStream.startAvro(spark, source, registry,
          new ColumnarSink(s"$tmp/sink"), s"$tmp/checkpoint",
          IngestConfig(availableNow = true)))
    } finally {
      try {
        java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      } catch { case _: Throwable => () }
    }
  }

  /** Drive the staged replay to exhaustion and distill the progress
    * history into a [[StreamResult]].
    */
  private def measure(spark: SparkSession, chunks: Int, staged: Long,
                      registry: EventSchema.Registry,
                      start: () => org.apache.spark.sql.streaming.StreamingQuery)
      : StreamResult = {
    // keep every batch's progress (default history is 100; be explicit)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (chunks + 8).toString)
    val metrics = new IngestMetricsListener().register(spark)
    val t0 = System.nanoTime()
    val query = start()
    try query.awaitTermination()
    finally spark.streams.removeListener(metrics)
    val wallSec = (System.nanoTime() - t0) / 1e9

    val progress = query.recentProgress.toSeq.filter(_.numInputRows > 0)
    val batchMsRaw = progress
      .map(p => Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue()).getOrElse(0L))
    val batchMs = batchMsRaw.sorted
    def meanOf(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L else xs.sum / xs.size
    def pct(q: Double): Long =
      if (batchMs.isEmpty) 0L
      else batchMs(math.min(batchMs.size - 1, (q * batchMs.size).toInt))
    val busySec = batchMs.sum / 1e3
    val records = progress.map(_.numInputRows).sum
    if (records != staged)
      System.err.println(s"[streambench] staged $staged records but " +
        s"progress reports $records — counts below are as-reported")
    StreamResult(
      records = records,
      batches = progress.size,
      chunks = chunks,
      wallSec = wallSec,
      busySec = busySec,
      recordsPerSecBusy = if (busySec > 0) records / busySec else 0.0,
      recordsPerSecWall = if (wallSec > 0) records / wallSec else 0.0,
      batchMsP50 = pct(0.50),
      batchMsP95 = pct(0.95),
      batchMsMax = batchMs.lastOption.getOrElse(0L),
      registrySaveMs = registry.persistMillis,
      collections = registry.all.size,
      batchMsFirst10 = meanOf(batchMsRaw.take(10)),
      batchMsLast10 = meanOf(batchMsRaw.takeRight(10)))
  }

  /** Standalone entry: one JSON line, same contract style as [[Bench]]. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = LocalSpark.session(cpus, "graft-stream-bench")
    val chunks = sys.env.getOrElse("SPARK_GRAFT_STREAM_CHUNKS", "20").toInt
    val target = sys.env.getOrElse("SPARK_GRAFT_STREAM_TARGET", "300000").toLong
    val files = sys.env.getOrElse("SPARK_GRAFT_STREAM_FILES", "8").toInt
    val wire = sys.env.getOrElse("SPARK_GRAFT_STREAM_WIRE", "json")
    // collection-cardinality soak: >0 fans each event type out over this
    // many suffixed collections (json wire only)
    val fanout = sys.env.getOrElse("SPARK_GRAFT_STREAM_FANOUT", "0").toInt
    val r =
      if (wire == "avro") runAvro(spark, sfDir, chunks, target, files)
      else if (wire == "evolve") runEvolve(spark, sfDir, chunks, target, files)
      else run(spark, sfDir, chunks, target, files, fanout)
    println(s"""{"metric":"stream_ingest_$wire","unit":"records_per_sec","value":${r.recordsPerSecBusy.toLong},"detail":${r.toJson},"sf":"$sfDir"}""")
    spark.stop()
  }
}
