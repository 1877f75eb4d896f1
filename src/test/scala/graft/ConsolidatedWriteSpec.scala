package graft

import graft.schema.{CollectionId, EventSchema}
import graft.sinks.ColumnarSink
import graft.streaming.{IngestConfig, IngestStream}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** High-collection-cardinality write consolidation: above
  * `IngestConfig.consolidateThreshold`, same-schema cohorts land in ONE
  * partitioned write job instead of C per-collection jobs (the driver-side
  * job-submission loop was the measured scale bottleneck at 1k+ live
  * collections). The cohort files must be byte-compatible with the
  * per-collection layout — same `project=…/collection=…/batch=…` dirs, same
  * per-file schema — so the at-rest contract (mergeSchema read, compaction,
  * idempotent replay) is unchanged.
  */
class ConsolidatedWriteSpec extends SparkSpec {

  private val nColl = 100
  private val rowsPer = 20

  /** 100 same-schema collections, `rowsPer` rows each, all same-day. */
  private def raw(now: Long) = {
    import spark.implicits._
    spark.range(nColl.toLong * rowsPer).select(
      concat(
        lit("""{"data":{"_project":"demo","_collection":"c"""),
        ($"id" % nColl), lit("\","),
        lit(""""_time":"""), lit(now), lit(","),
        lit(""""_user":"u"""), ($"id" % 7), lit("\","),
        lit(""""n":"""), $"id", lit("}}")).as("value")
    ).as[String]
  }

  private def countJobs(body: => Unit): Int = {
    // count ONLY this spec's jobs (other suites leave streaming queries
    // ticking in the shared session): scope via a job group — the
    // ParallelWrites pool inherits it through the caller's local properties
    val group = s"cons-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id")) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "consolidated-write-spec")
    try { body; org.apache.spark.ListenerBusWait.drain(spark.sparkContext) }
    finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
    jobs.get()
  }

  test("cohort write: same counts + at-rest content as per-collection, O(1) jobs in C") {
    val now = System.currentTimeMillis()
    val perDir = java.nio.file.Files.createTempDirectory("cons_per").toString
    val coDir = java.nio.file.Files.createTempDirectory("cons_co").toString
    val perSink = new ColumnarSink(perDir)
    val coSink = new ColumnarSink(coDir)

    // baseline: consolidation disabled → C per-collection write jobs
    val regA = new EventSchema.Registry()
    val jobsPer = countJobs {
      val counts = IngestStream.processBatch(spark, raw(now), regA, perSink,
        None, IngestConfig(consolidateThreshold = 0), batchId = 7)
      assert(counts.size == nColl && counts.values.forall(_ == rowsPer))
    }

    // consolidated: 100 same-schema collections ≥ threshold → ONE cohort
    val regB = new EventSchema.Registry()
    val jobsCo = countJobs {
      val counts = IngestStream.processBatch(spark, raw(now), regB, coSink,
        None, IngestConfig(consolidateThreshold = 64), batchId = 7)
      assert(counts.size == nColl && counts.values.forall(_ == rowsPer))
    }
    info(s"jobs: per-collection=$jobsPer consolidated=$jobsCo")
    // per-collection issues ≥1 write job per collection; the cohort path
    // must not scale job count with C (decouple/cache + sizes + inference +
    // cohort count + ONE write + margin)
    assert(jobsPer >= nColl, s"baseline should issue >=$nColl jobs, got $jobsPer")
    assert(jobsCo <= 20, s"consolidated path issued $jobsCo jobs — still O(C)")

    // at-rest layout identical: standard partition dirs incl. batch key
    val sample = new org.apache.hadoop.fs.Path(
      s"$coDir/project=demo/collection=c0/batch=7")
    val fs = sample.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(sample), "cohort write must use the standard partition layout")

    // content parity on spot-checked collections: same rows, same columns
    for (c <- Seq("c0", "c17", "c99")) {
      val id = CollectionId("demo", c)
      val a = perSink.read(spark, id)
      val b = coSink.read(spark, id)
      assert(a.columns.sorted.toSeq == b.columns.sorted.toSeq,
        s"$c: schema drift between write shapes")
      val cols = a.columns.filterNot(_ == "_shard_time").sorted.map(col)
      val rowsA = a.select(cols.toIndexedSeq: _*).collect().map(_.toSeq).sortBy(_.toString)
      val rowsB = b.select(cols.toIndexedSeq: _*).collect().map(_.toSeq).sortBy(_.toString)
      assert(rowsA.toSeq == rowsB.toSeq, s"$c: content drift between write shapes")
    }
    // registry evolved identically through both paths
    assert(regA.all.map { case (id, st) => id -> st.json } ==
           regB.all.map { case (id, st) => id -> st.json })
  }

  test("cohort replay: re-running the same batchId overwrites in place, no duplicates") {
    val now = System.currentTimeMillis()
    val dir = java.nio.file.Files.createTempDirectory("cons_replay").toString
    val sink = new ColumnarSink(dir)
    val reg = new EventSchema.Registry()
    val cfg = IngestConfig(consolidateThreshold = 64)
    IngestStream.processBatch(spark, raw(now), reg, sink, None, cfg, batchId = 3)
    // replay (foreachBatch is at-least-once): same batch id re-runs whole
    IngestStream.processBatch(spark, raw(now), reg, sink, None, cfg, batchId = 3)
    val total = (0 until nColl).map { i =>
      sink.read(spark, CollectionId("demo", s"c$i")).count()
    }.sum
    assert(total == nColl.toLong * rowsPer,
      s"replay duplicated rows: $total != ${nColl * rowsPer}")
  }

  test("two schema cohorts write concurrently to one basePath without clobbering") {
    import spark.implicits._
    val now = System.currentTimeMillis()
    // c0..c49: {n}; c50..c99: {n, s} → exactly two same-schema cohorts,
    // submitted concurrently through the bounded pool into ONE basePath
    val mixed = spark.range(nColl.toLong * rowsPer).select(
      concat(
        lit("""{"data":{"_project":"demo","_collection":"c"""),
        (col("id") % nColl), lit("\","),
        lit(""""_time":"""), lit(now), lit(","),
        lit(""""n":"""), col("id"),
        when(col("id") % nColl >= nColl / 2,
          concat(lit(""","s":"x"""), col("id"), lit("\"")))
          .otherwise(lit("")),
        lit("}}")).as("value")).as[String]
    val dir = java.nio.file.Files.createTempDirectory("cons_mixed").toString
    val sink = new ColumnarSink(dir)
    val counts = IngestStream.processBatch(spark, mixed,
      new EventSchema.Registry(), sink, None,
      IngestConfig(consolidateThreshold = 64), batchId = 9)
    assert(counts.size == nColl && counts.values.forall(_ == rowsPer))
    val lo = sink.read(spark, CollectionId("demo", "c3"))
    val hi = sink.read(spark, CollectionId("demo", "c77"))
    assert(lo.count() == rowsPer && hi.count() == rowsPer)
    assert(!lo.columns.contains("s"), "cohort A must not carry cohort B's column")
    assert(hi.columns.contains("s"), "cohort B lost its extra column")
  }

  private val avroRow = StructType(Seq(
    StructField("_time", TimestampType), StructField("_user", StringType),
    StructField("x", DoubleType)))

  /** `nColl` collections registered with [[avroRow]] and `rowsPer` tag-0
    * Avro records each, keyed `project.collection`.
    */
  private def avroBatch(project: String, collection: Int => String)
      : (EventSchema.Registry, org.apache.spark.sql.DataFrame) = {
    import graft.ingest.AvroIngest
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    import spark.implicits._
    val reg = new EventSchema.Registry()
    (0 until nColl).foreach(i => reg.put(CollectionId(project, collection(i)), avroRow))
    val avro = AvroIngest.avroSchema(avroRow, "ev")
    val writer = new GenericDatumWriter[GenericRecord](avro)
    def payload(t: Long, u: String, x: Double): Array[Byte] = {
      val rec = new GenericData.Record(avro)
      rec.put("_time", t); rec.put("_user", u); rec.put("x", x)
      val out = new java.io.ByteArrayOutputStream()
      out.write(0) // tag 0: inline, collection from key
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      writer.write(rec, enc)
      enc.flush()
      out.toByteArray
    }
    val records = (0 until nColl * rowsPer).map { i =>
      (s"$project.${collection(i % nColl)}",
        payload(1700000000000L + i, s"u${i % 7}", i.toDouble))
    }.toDF("key", "value").repartition(4)
    (reg, records)
  }

  test("avro cohort: 100 same-schema collections decode once and write consolidated") {
    import graft.ingest.AvroIngest
    val (reg, records) = avroBatch("p", i => s"c$i")

    val dir = java.nio.file.Files.createTempDirectory("cons_avro").toString
    val sink = new ColumnarSink(dir)
    val jobs = countJobs {
      val counts = AvroIngest.processBatch(records, reg, sink, batchId = 5,
        cfg = IngestConfig(consolidateThreshold = 64))
      assert(counts.size == nColl && counts.values.forall(_ == rowsPer))
    }
    info(s"avro consolidated jobs=$jobs")
    assert(jobs <= 20, s"avro consolidated path issued $jobs jobs — still O(C)")
    // standard layout + readable content
    val id = CollectionId("p", "c42")
    val back = sink.read(spark, id)
    assert(back.count() == rowsPer)
    assert(back.columns.contains("_user") && back.columns.contains("x"))
  }

  test("C7 under cohorts: failing consolidated insert dead-letters every member, batch advances") {
    val now = System.currentTimeMillis()
    val dlDir = java.nio.file.Files.createTempDirectory("cons_dl").toString
    // a sink that advertises consolidation but always fails it; the
    // per-collection insert also fails loudly so the test proves the
    // cohort path (not a silent fallback) handled these collections
    val sink = new graft.sinks.EventSink {
      override def getColumns(id: CollectionId) = None
      override def insert(id: CollectionId, df: org.apache.spark.sql.DataFrame): Unit =
        throw new IllegalStateException("per-collection path must not run here")
      override def supportsConsolidated: Boolean = true
      override def insertConsolidated(rows: org.apache.spark.sql.DataFrame,
                                      batchId: Long): Unit =
        throw new RuntimeException("cohort sink down")
    }
    val counts = IngestStream.processBatch(spark, raw(now),
      new EventSchema.Registry(), sink, None,
      // zero retries so the test doesn't sit in backoff
      IngestConfig(consolidateThreshold = 64, commitRetries = 0,
        commitRetryBaseMillis = 1),
      deadLetter = Some(new IngestStream.DeadLetter(dlDir)), batchId = 4)
    // every member reports 0 inserted and its raw records are preserved
    // under the batch-keyed layout (replay overwrites, never duplicates)
    assert(counts.size == nColl && counts.values.forall(_ == 0L))
    val preserved = spark.read.text(s"$dlDir/demo/*/batch=4").count()
    assert(preserved == nColl.toLong * rowsPer,
      s"dead letter preserved $preserved of ${nColl * rowsPer} raw records")
    // and a REPLAY of the same failing batch leaves counts unchanged
    IngestStream.processBatch(spark, raw(now),
      new EventSchema.Registry(), sink, None,
      IngestConfig(consolidateThreshold = 64, commitRetries = 0,
        commitRetryBaseMillis = 1),
      deadLetter = Some(new IngestStream.DeadLetter(dlDir)), batchId = 4)
    assert(spark.read.text(s"$dlDir/demo/*/batch=4").count() ==
      nColl.toLong * rowsPer)
  }

  test("a user `batch` property survives both write shapes exactly") {
    import spark.implicits._
    val now = System.currentTimeMillis()
    // every event carries a DATA property named `batch` — it collides with
    // the sink's batch=N directory key, where partition inference would
    // silently substitute the directory value for the user's data
    def rawWithBatch = spark.range(nColl.toLong * rowsPer).select(
      concat(
        lit("""{"data":{"_project":"demo","_collection":"b"""),
        ($"id" % nColl), lit("\","),
        lit(""""_time":"""), lit(now), lit(","),
        lit(""""batch":"""), $"id" * 10, lit(","),
        lit(""""n":"""), $"id", lit("}}")).as("value")).as[String]

    val dir = java.nio.file.Files.createTempDirectory("cons_resv").toString
    val sink = new ColumnarSink(dir)
    val counts = IngestStream.processBatch(spark, rawWithBatch,
      new EventSchema.Registry(), sink, None,
      IngestConfig(consolidateThreshold = 64), batchId = 11)
    assert(counts.size == nColl && counts.values.forall(_ == rowsPer))
    // the colliding schema stays on the per-collection (marker) path —
    // EventSink.consolidatable keeps it off the partitioned cohort write
    val markers = new org.apache.hadoop.fs.Path(s"$dir/_graft_commits/demo")
    val fs = markers.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(markers), "reserved-name schema must use per-collection inserts")
    // and the USER's batch values round-trip (not the directory's 11s)
    val back = sink.read(spark, CollectionId("demo", "b5"))
    assert(back.columns.contains("batch"))
    val vals = back.select($"n", $"batch").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(vals.forall { case (n, b) => b == n * 10 },
      s"user batch values clobbered: ${vals.take(3)}")
    // the cohort write itself also escapes `batch` when called directly
    val coDir = java.nio.file.Files.createTempDirectory("cons_resv_co").toString
    val coSink = new ColumnarSink(coDir)
    val rows = back.withColumn("_project", lit("demo"))
      .withColumn("_collection", lit("b5"))
    coSink.insertConsolidated(rows, 11L)
    val back2 = coSink.read(spark, CollectionId("demo", "b5"))
    val vals2 = back2.select($"n", $"batch").collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(vals2 == vals, "consolidated path lost the user batch column")
  }

  test("special characters in collection names land both write shapes in ONE directory") {
    import spark.implicits._
    val now = System.currentTimeMillis()
    // ':' passes name validation but Spark's dynamic partition writer
    // escapes it (%3A) — per-collection writes must use the SAME escaped
    // directory or cohort-written batches become invisible to read()
    def rawColon = spark.range(nColl.toLong * rowsPer).select(
      concat(
        lit("""{"data":{"_project":"demo","_collection":"s:"""),
        ($"id" % nColl), lit("\","),
        lit(""""_time":"""), lit(now), lit(","),
        lit(""""n":"""), $"id", lit("}}")).as("value")).as[String]

    val perDir = java.nio.file.Files.createTempDirectory("cons_esc_per").toString
    val coDir = java.nio.file.Files.createTempDirectory("cons_esc_co").toString
    IngestStream.processBatch(spark, rawColon, new EventSchema.Registry(),
      new ColumnarSink(perDir), None, IngestConfig(consolidateThreshold = 0),
      batchId = 2)
    IngestStream.processBatch(spark, rawColon, new EventSchema.Registry(),
      new ColumnarSink(coDir), None, IngestConfig(consolidateThreshold = 64),
      batchId = 2)
    // the same input shape in tagged Avro through both write shapes: the
    // write planner is shared, so the at-rest layout must be too
    val avroPerDir = java.nio.file.Files.createTempDirectory("cons_esc_avro_per").toString
    val avroCoDir = java.nio.file.Files.createTempDirectory("cons_esc_avro_co").toString
    for ((dir, threshold) <- Seq(avroPerDir -> 0, avroCoDir -> 64)) {
      val (reg, records) = avroBatch("demo", i => s"s:$i")
      val counts = graft.ingest.AvroIngest.processBatch(records, reg,
        new ColumnarSink(dir), batchId = 2,
        cfg = IngestConfig(consolidateThreshold = threshold))
      assert(counts.size == nColl && counts.values.forall(_ == rowsPer))
    }
    val fs = new org.apache.hadoop.fs.Path(perDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // per-collection writes leave commit markers, cohort writes don't:
    // each pair really took both shapes
    for ((per, co) <- Seq(perDir -> coDir, avroPerDir -> avroCoDir)) {
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$per/_graft_commits/demo")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$co/_graft_commits/demo")))
    }
    for (base <- Seq(perDir, coDir, avroPerDir, avroCoDir)) {
      val escaped = new org.apache.hadoop.fs.Path(
        s"$base/project=demo/collection=s%3A7/batch=2")
      assert(fs.exists(escaped), s"$base: expected the escaped layout")
      val n = new ColumnarSink(base).read(spark, CollectionId("demo", "s:7")).count()
      assert(n == rowsPer, s"$base: read() found $n of $rowsPer rows")
    }
  }

  test("below the threshold nothing consolidates; MemorySink never does") {
    val now = System.currentTimeMillis()
    import spark.implicits._
    val few = spark.range(40).select(
      concat(lit("""{"data":{"_project":"demo","_collection":"k"""),
        ($"id" % 2), lit("\","), lit(""""_time":"""), lit(now), lit(","),
        lit(""""n":"""), $"id", lit("}}")).as("value")).as[String]
    val dir = java.nio.file.Files.createTempDirectory("cons_small").toString
    val sink = new ColumnarSink(dir)
    val counts = IngestStream.processBatch(spark, few, new EventSchema.Registry(),
      sink, None, IngestConfig(), batchId = 1)
    assert(counts.values.sum == 40)
    // per-collection path writes through the commit-marker protocol; the
    // cohort path doesn't need markers (dynamic overwrite) — markers
    // present ⇒ the small batch stayed on the per-collection path
    val markers = new org.apache.hadoop.fs.Path(s"$dir/_graft_commits/demo")
    val fs = markers.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(markers), "small batch should use per-collection inserts")

    // an unsupporting sink stays per-collection even above the threshold
    val mem = new graft.sinks.MemorySink
    val counts2 = IngestStream.processBatch(spark, raw(now),
      new EventSchema.Registry(), mem, None,
      IngestConfig(consolidateThreshold = 64), batchId = 2)
    assert(counts2.size == nColl && counts2.values.forall(_ == rowsPer))
  }
}
