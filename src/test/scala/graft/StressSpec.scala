package graft

import graft.ingest.AvroIngest
import graft.schema.{CollectionId, EventSchema}
import graft.sinks.MemorySink
import graft.streaming.{IngestConfig, IngestStream}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.types._

import java.io.ByteArrayOutputStream

/** Scaled-down analogue of the reference's KafkaStressTest
  * (t/io/rakam/presto/KafkaStressTest.java:46-260: 30k events/poll over 100
  * collections with ~10% late data): a 10k-event batch over 50 collections
  * through the full pipeline, asserting routing/split bookkeeping.
  */
class StressSpec extends SparkSpec {

  test("stress shape: 10k events / 50 collections / ~10% late") {
    import spark.implicits._
    val now = System.currentTimeMillis()
    val old = now - 40L * 24 * 3600 * 1000
    val raw = spark.range(10000).select(
      concat(
        lit("""{"data":{"_project":"stress","_collection":"c"""),
        ($"id" % 50), lit("\","),
        lit(""""_time":"""),
        when($"id" % 10 === 0, old).otherwise(now), lit(","),
        lit(""""_user":"u"""), ($"id" % 97), lit("\","),
        lit(""""n":"""), $"id", lit("}}")).as("value")
    ).as[String]

    val registry = new EventSchema.Registry()
    val sink = new MemorySink
    val counts = IngestStream.processBatch(spark, raw, registry, sink, None,
      IngestConfig())

    // 10% late → historical; lateness (id%10) correlates with 5 of the 50
    // collections (50 ≡ 0 mod 10), so those are entirely late and never
    // materialize in the real-time path
    assert(counts.size == 45)
    assert(counts.values.sum == 9000)
    assert(registry.all.size == 45)
    registry.all.values.foreach { st =>
      assert(st.fieldNames.toSeq == Seq("_time", "_user", "n"))
      assert(st("n").dataType == DoubleType) // numbers infer DOUBLE
    }
  }

  private def concat(cols: org.apache.spark.sql.Column*) =
    org.apache.spark.sql.functions.concat(cols: _*)
  private def lit(v: Any) = org.apache.spark.sql.functions.lit(v)
  private def when(c: org.apache.spark.sql.Column, v: Any) =
    org.apache.spark.sql.functions.when(c, v)

  test("100-collection fan-out: JSON batch stays one raw scan + C writes, ~10% late") {
    // the reference's full stress shape (KafkaStressTest.java:107-137 runs
    // 100 collections/poll with ~10% late data); per-batch cost must stay
    // ~linear in C, not the 2C full-batch re-parses the round-1 path did
    import spark.implicits._
    val now = System.currentTimeMillis()
    val old = now - 40L * 24 * 3600 * 1000
    // one accumulator tick per raw row per SCAN: the decouple pre-pass
    // persists its output, so the raw batch must materialize once (plus at
    // most one re-fill on cache pressure), never once per collection
    val scans = spark.sparkContext.longAccumulator("rawScans")
    val raw = spark.range(20000).select(
      concat(
        lit("""{"data":{"_project":"stress","_collection":"c"""),
        ($"id" % 100), lit("\","),
        lit(""""_time":"""),
        when($"id" % 10 === 0, old).otherwise(now), lit(","),
        lit(""""_user":"u"""), ($"id" % 97), lit("\","),
        lit(""""n":"""), $"id", lit("}}")).as("value")
    ).as[String].map { s => scans.add(1); s }

    val histDir = java.nio.file.Files.createTempDirectory("hist").toString
    val registry = new EventSchema.Registry()
    val sink = new MemorySink
    val t0 = System.nanoTime()
    val counts = IngestStream.processBatch(spark, raw, registry, sink,
      Some(new graft.streaming.FileHistoricalHandler(histDir)), IngestConfig())
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"100-collection JSON batch: $secs%.1f s")
    // lateness (id%10==0) correlates with collections ≡ 0 mod 10: those 10
    // are entirely late → historical hand-off, the other 90 insert whole
    assert(counts.size == 90)
    assert(counts.values.sum == 18000)
    assert(counts.values.forall(_ == 200))
    assert(spark.read.text(histDir).count() == 2000) // F5 inside the barrier
    val rawScans = scans.value.toDouble / 20000
    assert(rawScans <= 2.0, f"raw batch scanned $rawScans%.1f times — fan-out is re-reading the source per collection")
    assert(secs < 300, f"per-batch wall time unbounded: $secs%.1f s")
  }

  test("100-collection fan-out: tagged Avro batch decodes each record once") {
    import spark.implicits._
    val registry = new EventSchema.Registry()
    val rowSchema = StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("x", DoubleType)))
    val ids = (0 until 100).map(i => CollectionId("p", s"c$i"))
    ids.foreach(id => registry.put(id, rowSchema))
    // schemas are identical; one writer suffices for all collections
    val avro = AvroIngest.avroSchema(rowSchema, "ev")
    val writer = new GenericDatumWriter[GenericRecord](avro)
    def payload(t: Long, u: String, x: Double): Array[Byte] = {
      val rec = new GenericData.Record(avro)
      rec.put("_time", t); rec.put("_user", u); rec.put("x", x)
      val out = new ByteArrayOutputStream()
      out.write(0) // tag 0: inline, collection from key
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      writer.write(rec, enc)
      enc.flush()
      out.toByteArray
    }
    val records = (0 until 10000).map { i =>
      (s"p.c${i % 100}", payload(1700000000000L + i, s"u${i % 97}", i.toDouble))
    }.toDF("key", "value").repartition(8)

    val sink = new MemorySink
    val t0 = System.nanoTime()
    val counts = AvroIngest.processBatch(records, registry, sink)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"100-collection Avro batch: $secs%.1f s")
    assert(counts.size == 100)
    assert(counts.values.sum == 10000)
    assert(counts.values.forall(_ == 100))
    assert(secs < 300, f"per-batch wall time unbounded: $secs%.1f s")
  }

  test("startAvro: continuous tagged-Avro query drains to the sink with idempotent batches") {
    import spark.implicits._
    val registry = new EventSchema.Registry()
    val id = CollectionId("p", "ev")
    val rowSchema = StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("x", DoubleType)))
    registry.put(id, rowSchema)
    val avro = AvroIngest.avroSchema(rowSchema, "ev")
    val writer = new GenericDatumWriter[GenericRecord](avro)
    def payload(t: Long, u: String, x: Double): Array[Byte] = {
      val rec = new GenericData.Record(avro)
      rec.put("_time", t); rec.put("_user", u); rec.put("x", x)
      val out = new ByteArrayOutputStream()
      out.write(0)
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      writer.write(rec, enc)
      enc.flush()
      out.toByteArray
    }
    val inDir = java.nio.file.Files.createTempDirectory("avro_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("avro_ckpt").toString
    (0 until 5).map(i => (s"p.ev", payload(1700000000000L + i, s"u$i", i.toDouble)))
      .toDF("key", "value").write.mode("overwrite").parquet(inDir)

    val sinkDir = java.nio.file.Files.createTempDirectory("avro_sink").toString
    val sink = new graft.sinks.ColumnarSink(sinkDir)
    val source = spark.readStream
      .schema(StructType(Seq(StructField("key", StringType),
        StructField("value", BinaryType))))
      .parquet(inDir)
    val q = IngestStream.startAvro(spark, source, registry, sink, ckpt,
      IngestConfig(triggerSeconds = 1))
    try q.processAllAvailable() finally q.stop()
    assert(sink.read(spark, id).count() == 5)
    // registry persisted checkpoint-adjacent (K4): a fresh registry resumes
    // from the per-project shard directory
    val fresh = new EventSchema.Registry()
    assert(fresh.loadSharded(IngestStream.registryPath(ckpt),
      spark.sparkContext.hadoopConfiguration))
    assert(fresh.get(id).map(_.fieldNames.toSeq) == Some(Seq("_time", "_user", "x")))
  }

  test("bulk pointers (tag 3) expand through the production Hadoop-FS fetcher in one batch") {
    import spark.implicits._
    val registry = new EventSchema.Registry()
    val rowSchema = StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("x", DoubleType)))
    registry.put(CollectionId("proj", "c1"), rowSchema)
    registry.put(CollectionId("proj", "c2"), rowSchema)
    val avro = AvroIngest.avroSchema(rowSchema, "ev")

    // bulk object: project header + two frames (c1 ×2 rows, c2 ×1 row)
    val obj = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().directBinaryEncoder(obj, null)
    enc.writeString("proj")
    val w = new GenericDatumWriter[GenericRecord](avro)
    enc.writeString("c1"); enc.writeInt(3); enc.writeInt(2)
    (1 to 2).foreach { i =>
      val r = new GenericData.Record(avro)
      r.put("_time", 1700000000000L + i); r.put("_user", s"u$i"); r.put("x", i.toDouble)
      w.write(r, enc)
    }
    enc.writeString("c2"); enc.writeInt(3); enc.writeInt(1)
    val r3 = new GenericData.Record(avro)
    r3.put("_time", 1700000001000L); r3.put("_user", "u3"); r3.put("x", 9.0)
    w.write(r3, enc)
    enc.flush()
    val objPath = java.nio.file.Files.createTempFile("bulk", ".avro")
    java.nio.file.Files.write(objPath, obj.toByteArray)

    // inline record for c1 + a tag-3 pointer to the object
    def inlinePayload(u: String, x: Double): Array[Byte] = {
      val rec = new GenericData.Record(avro)
      rec.put("_time", 1700000002000L); rec.put("_user", u); rec.put("x", x)
      val out = new ByteArrayOutputStream()
      out.write(0)
      val e = EncoderFactory.get().directBinaryEncoder(out, null)
      w.write(rec, e); e.flush()
      out.toByteArray
    }
    // file:-scheme pointer through the PRODUCTION Hadoop-FS fetcher — the
    // same code path an s3a:// key takes on a real cluster
    val pointer = Array[Byte](3) ++
      objPath.toUri.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val records = Seq(
      ("proj.c1", inlinePayload("u0", 0.5)),
      ("ignored", pointer)).toDF("key", "value")

    val sink = new MemorySink
    val counts = AvroIngest.processBatch(records, registry, sink,
      bulkFetch = Some(AvroIngest.HadoopObjectFetcher(spark)))
    assert(counts == Map(
      CollectionId("proj", "c1") -> 3L,   // 1 inline + 2 bulk
      CollectionId("proj", "c2") -> 1L))
    assert(sink.rows(CollectionId("proj", "c1")) == 3)
    assert(sink.rows(CollectionId("proj", "c2")) == 1)
  }

  test("bulk object referencing an unregistered collection skips whole, no abort") {
    import spark.implicits._
    val registry = new EventSchema.Registry()
    val rowSchema = StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType)))
    registry.put(CollectionId("p", "known"), rowSchema)
    val avro = AvroIngest.avroSchema(rowSchema, "ev")
    val obj = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().directBinaryEncoder(obj, null)
    enc.writeString("p")
    enc.writeString("unknowncoll"); enc.writeInt(2); enc.writeInt(1)
    val r = new GenericData.Record(avro)
    r.put("_time", 1700000000000L); r.put("_user", "u1")
    new GenericDatumWriter[GenericRecord](avro).write(r, enc)
    enc.flush()
    val sink = new MemorySink
    val objBytes = obj.toByteArray // serializable capture for the fetcher
    val counts = AvroIngest.processBulk(
      Seq("ptr").toDS(), registry, sink, _ => objBytes)
    assert(counts.isEmpty)           // object skipped, batch continues
    assert(sink.inserted.isEmpty)
  }

  test("avro per-batch dedup drops repeated (user,time), null-key rows pass") {
    import spark.implicits._
    val registry = new EventSchema.Registry()
    val id = CollectionId("p", "ev")
    val rowSchema = StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("x", DoubleType)))
    registry.put(id, rowSchema)
    val avro = AvroIngest.avroSchema(rowSchema, "ev")
    val writer = new GenericDatumWriter[GenericRecord](avro)
    def payload(t: java.lang.Long, u: String, x: Double): Array[Byte] = {
      val rec = new GenericData.Record(avro)
      rec.put("_time", t); rec.put("_user", u); rec.put("x", x)
      val out = new ByteArrayOutputStream()
      out.write(0)
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      writer.write(rec, enc); enc.flush()
      out.toByteArray
    }
    val t0 = 1700000000000L
    val records = Seq(
      ("p.ev", payload(t0, "u1", 1.0)),
      ("p.ev", payload(t0, "u1", 2.0)),  // same (user,time) → dropped
      ("p.ev", payload(t0, null, 3.0)),  // null user: both pass
      ("p.ev", payload(t0, null, 4.0))).toDF("key", "value")
    val sink = new MemorySink
    val counts = AvroIngest.processBatch(records, registry, sink,
      dedupBatch = true)
    assert(counts == Map(id -> 3L))
  }

  test("avro streaming batch: tagged records through registry schemas to sink") {
    import spark.implicits._
    val registry = new EventSchema.Registry()
    val id = CollectionId("p", "ev")
    val rowSchema = StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("x", DoubleType)))
    registry.put(id, rowSchema)
    val avro = AvroIngest.avroSchema(rowSchema, "ev")

    def payload(t: Long, u: String, x: Double): Array[Byte] = {
      val rec = new GenericData.Record(avro)
      rec.put("_time", t); rec.put("_user", u); rec.put("x", x)
      val out = new ByteArrayOutputStream()
      out.write(0) // tag 0: inline, collection from key
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      new GenericDatumWriter[GenericRecord](avro).write(rec, enc)
      enc.flush()
      out.toByteArray
    }

    val records = Seq(
      ("p.ev", payload(1700000000000L, "u1", 1.5)),
      ("p.ev", payload(1700000001000L, "u2", 2.5)),
      ("other.unknown", payload(1700000002000L, "u3", 9.9)), // no schema → skipped
      ("p.ev", Array[Byte](1, 2, 3))                          // legacy tag → skipped
    ).toDF("key", "value")

    val sink = new MemorySink
    val counts = AvroIngest.processBatch(records, registry, sink)
    assert(counts == Map(id -> 2L))
    assert(sink.rows(id) == 2)
    val rows = sink.inserted.get(id).head.collect()
    assert(rows.map(_.getAs[Double]("x")).toSet == Set(1.5, 2.5))
  }

  // The regenerated sf0.1 corpus produced a chain-shaped duplicate graph
  // in practice (the round-5 bench regression); the 64-link parity test in
  // DedupFunctionsSpec is too small to catch round-count blowups, so pin
  // the behavior at a realistic diameter.
  test("10k-link chain CC: alternating star converges within 25 rounds") {
    import spark.implicits._
    import graft.functions.DedupFunctions
    // minhashCandidates-shaped candidate pairs: (id_a < id_b) long ids,
    // one borderline pair linking each doc to the next — diameter 10k
    val chain = spark.range(1, 10000)
      .select($"id".as("id_a"), ($"id" + 1).as("id_b"))

    // O(log n) bound in practice: 25 rounds or the variant throws.
    // The result is consumed inside a helper's frame (not a local of this
    // one) so the checkpointed plans become unreachable before the drain
    // below.
    def assertOneComponent(labels: org.apache.spark.sql.DataFrame): Unit = {
      assert(labels.filter($"label" =!= 1L).isEmpty, "one component labeled 1")
      assert(labels.count() == 10000L)
    }
    assertOneComponent(DedupFunctions
      .connectedComponentsAlternating(chain, "id_a", "id_b", maxIter = 25,
        localMaxEdges = 0))

    // iterative CC localCheckpoints one edge set per round; the bench's
    // drain must release them all (a 20-round run would otherwise leave
    // ~20 materialized RDDs polluting every later measurement)
    graft.Bench.drainBlocks(spark, timeoutMs = 30000)
    assert(spark.sparkContext.getRDDStorageInfo.isEmpty,
      s"blocks left: ${spark.sparkContext.getRDDStorageInfo.map(_.name).mkString(", ")}")
  }

  // Web-scale crawls run 30-50% near-dup: the keep-one-representative drop
  // set is NOT tiny there, and an unconditional broadcast of hundreds of
  // millions of ids OOMs the driver. The size gate must route an
  // over-threshold drop set through a shuffle anti-join instead.
  test("keep-representatives size gate: over-threshold drop set anti-joins without broadcast") {
    import spark.implicits._
    import graft.functions.DedupFunctions
    import org.apache.spark.sql.execution.SimpleMode
    val docs = spark.range(0, 1000)
      .select($"id".as("doc_id"), concat(lit("t"), $"id").as("text"))
    // 100 clusters × 10 docs → 900 non-representatives (90% duplication)
    val pairs = spark.range(0, 1000).where($"id" % 10 =!= 0)
      .select(($"id" - ($"id" % 10)).as("id_a"), $"id".as("id_b"))
    val kept = DedupFunctions.keepRepresentatives(docs, pairs, "doc_id",
      broadcastMaxIds = 10L)
    val p = kept.queryExecution.explainString(SimpleMode)
    assert(!p.contains("BroadcastHashJoin"),
      s"over-threshold drop set still planned as a broadcast:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"no shuffle anti-join in the fallback plan:\n$p")
    assert(kept.collect().map(_.getAs[Long]("doc_id")).toSet ==
      (0L until 1000L by 10).toSet)
    // the same corpus under the DEFAULT gate is genuinely small → broadcast
    val keptSmall = DedupFunctions.keepRepresentatives(docs, pairs, "doc_id")
    assert(keptSmall.queryExecution.explainString(SimpleMode)
      .contains("BroadcastHashJoin"))
  }
}
