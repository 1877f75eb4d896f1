package graft

import graft.ingest.{JsonDialect, JsonEventParser}
import graft.schema.{CollectionId, EventSchema, FieldNames}
import graft.sinks.{ColumnarSink, EventSink, MemorySink}
import graft.streaming.{FileHistoricalHandler, IngestConfig, IngestMetricsListener, IngestStream}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.file.Files

/** Parity tests mirroring the reference suites the ScalaTest layer hadn't
  * covered yet: the historical drain loop, the commit barrier
  * (TestTargetConnectorCommitter), metastore-order evolution
  * (testComplexAlterSchema), the C5 circuit breaker, and a
  * property-based ingest round-trip (beyond the reference's tests).
  */
class PipelineParitySpec extends SparkSpec {

  private def fabric(coll: String, time: Long, extra: String = ""): String =
    s"""{"data":{"_project":"p","_collection":"$coll","_time":$time,"_user":"u1"$extra}}"""

  test("historical drain: re-routed records land in the sink via the drain query") {
    import spark.implicits._
    val old = java.time.Instant.now().minus(java.time.Duration.ofDays(40)).toEpochMilli
    val histDir = Files.createTempDirectory("hist")
    val registry = new EventSchema.Registry()
    val sink = new MemorySink

    // main pipeline re-routes the late record to the historical path
    val raw = Seq(fabric("ev", System.currentTimeMillis()), fabric("ev", old, ""","late":1""")).toDS()
    IngestStream.processBatch(spark, raw, registry, sink,
      Some(new FileHistoricalHandler(s"$histDir/data")), IngestConfig())
    assert(sink.rows(CollectionId("p", "ev")) == 1)

    // drain pass: split disabled, late record inserts instead of re-routing
    val drained = IngestStream.processBatch(spark,
      spark.read.text(s"$histDir/data").select("value").as(Encoders.STRING),
      registry, sink, None, IngestConfig(splitEnabled = false))
    assert(drained(CollectionId("p", "ev")) == 1)
    assert(sink.rows(CollectionId("p", "ev")) == 2)
  }

  test("commit barrier: sink failure aborts the batch (no partial checkpoint)") {
    import spark.implicits._
    val registry = new EventSchema.Registry()
    val failing = new EventSink {
      override def getColumns(id: CollectionId) = None
      override def insert(id: CollectionId, df: DataFrame): Unit =
        throw new RuntimeException("sink down")
    }
    val raw = Seq(fabric("a", System.currentTimeMillis())).toDS()
    // foreachBatch semantics: an exception escaping the batch function
    // means the offsets never commit (C2 — without a dead-letter target the
    // batch aborts after the C4 retries)
    intercept[RuntimeException] {
      IngestStream.processBatch(spark, raw, registry, failing, None,
        IngestConfig(commitRetries = 1, commitRetryBaseMillis = 1))
    }
  }

  test("C4 on the Avro path: a sink commit that fails once is retried, counts stay full") {
    import graft.ingest.AvroIngest
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    import spark.implicits._
    val registry = new EventSchema.Registry()
    val rowSchema = StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("x", DoubleType)))
    val (a, b) = (CollectionId("p", "a"), CollectionId("p", "b"))
    Seq(a, b).foreach(registry.put(_, rowSchema))
    val avro = AvroIngest.avroSchema(rowSchema, "ev")
    def payload(x: Double): Array[Byte] = {
      val rec = new GenericData.Record(avro)
      rec.put("_time", 1700000000000L); rec.put("_user", s"u$x"); rec.put("x", x)
      val out = new java.io.ByteArrayOutputStream()
      out.write(0) // tag 0: inline, collection from key
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      new GenericDatumWriter[GenericRecord](avro).write(rec, enc)
      enc.flush()
      out.toByteArray
    }
    val records = Seq(("p.a", payload(1)), ("p.a", payload(2)), ("p.b", payload(3)))
      .toDF("key", "value")
    val memory = new MemorySink
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new EventSink {
      override def getColumns(id: CollectionId) = None
      override def insert(id: CollectionId, df: DataFrame): Unit =
        if (calls.incrementAndGet() == 1) throw new RuntimeException("transient")
        else memory.insert(id, df)
    }
    val counts = AvroIngest.processBatch(records, registry, flaky,
      cfg = IngestConfig(commitRetries = 1, commitRetryBaseMillis = 1))
    assert(counts == Map(a -> 2L, b -> 1L))
    assert(calls.get() == 3, "one failed attempt plus one insert per collection")
    assert(memory.rows(a) == 2 && memory.rows(b) == 1)
  }

  test("C4 on the Avro bulk path: a sink commit that fails once is retried, counts stay full") {
    import graft.ingest.AvroIngest
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    import spark.implicits._
    val registry = new EventSchema.Registry()
    val rowSchema = StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("x", DoubleType)))
    val (a, b) = (CollectionId("p", "a"), CollectionId("p", "b"))
    Seq(a, b).foreach(registry.put(_, rowSchema))
    val avro = AvroIngest.avroSchema(rowSchema, "ev")
    // one bulk object (S4 framing): project, then a frame per collection
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().directBinaryEncoder(out, null)
    val writer = new GenericDatumWriter[GenericRecord](avro)
    enc.writeString("p")
    Seq("a" -> Seq(1.0, 2.0), "b" -> Seq(3.0)).foreach { case (coll, xs) =>
      enc.writeString(coll); enc.writeInt(3); enc.writeInt(xs.size)
      xs.foreach { x =>
        val rec = new GenericData.Record(avro)
        rec.put("_time", 1700000000000L); rec.put("_user", s"u$x"); rec.put("x", x)
        writer.write(rec, enc)
      }
    }
    enc.flush()
    val obj = out.toByteArray
    val records = Seq(("p.a", Array[Byte](3) ++ "obj-1".getBytes("UTF-8")))
      .toDF("key", "value")
    val memory = new MemorySink
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new EventSink {
      override def getColumns(id: CollectionId) = None
      override def insert(id: CollectionId, df: DataFrame): Unit =
        if (calls.incrementAndGet() == 1) throw new RuntimeException("transient")
        else memory.insert(id, df)
    }
    val counts = AvroIngest.processBatch(records, registry, flaky,
      cfg = IngestConfig(commitRetries = 1, commitRetryBaseMillis = 1),
      bulkFetch = Some(_ => obj))
    assert(counts == Map(a -> 2L, b -> 1L))
    assert(calls.get() == 3, "one failed attempt plus one insert per collection")
    assert(memory.rows(a) == 2 && memory.rows(b) == 1)
  }

  test("C7 dead-letter: failing sink preserves raw records, batch continues") {
    import spark.implicits._
    val registry = new EventSchema.Registry()
    val dlDir = Files.createTempDirectory("dl").toString
    val memory = new MemorySink
    val failFor = CollectionId("p", "bad")
    val partial = new EventSink {
      override def getColumns(id: CollectionId) = None
      override def insert(id: CollectionId, df: DataFrame): Unit =
        if (id == failFor) throw new RuntimeException("poison") else memory.insert(id, df)
    }
    val raw = Seq(
      fabric("good", System.currentTimeMillis()),
      fabric("bad", System.currentTimeMillis(), ""","x":1""")).toDS()
    val counts = IngestStream.processBatch(spark, raw, registry, partial, None,
      IngestConfig(commitRetries = 1, commitRetryBaseMillis = 1),
      deadLetter = Some(new IngestStream.DeadLetter(dlDir)))
    assert(counts(CollectionId("p", "good")) == 1)
    assert(counts(failFor) == 0L)
    assert(memory.rows(CollectionId("p", "good")) == 1)
    val dl = spark.read.text(s"$dlDir/p/bad").collect().map(_.getString(0))
    assert(dl.length == 1 && dl.head.contains("\"x\":1"))
  }

  test("metastore column order is authoritative over insertion order") {
    val names = FieldNames()
    val registry = new EventSchema.Registry()
    val id = CollectionId("p", "c")
    // metastore pre-declares an order that differs from event field order
    registry.put(id, StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("zcol", StringType), StructField("acol", DoubleType))))
    val json = """{"data":{"_project":"p","_collection":"c","acol":1.5,"zcol":"z","newcol":true}}"""
    val (_, fields) = JsonEventParser.inferEvent(json, JsonDialect.Fabric, names).get
    val observed = StructType(fields.toSeq.map { case (n, ft) =>
      StructField(n, ft.sparkType) })
    val authoritative = registry.addColumns(id, observed)
    // registered order kept, new column appended last
    assert(authoritative.fieldNames.toSeq ==
      Seq("_time", "_user", "zcol", "acol", "newcol"))
    val (_, row) = JsonEventParser.parseEvent(json, JsonDialect.Fabric, authoritative, names).get
    assert(row.getString(2) == "z" && row.getDouble(3) == 1.5 && row.getBoolean(4))
  }

  test("C5 circuit breaker trips on 40% error rate over 100+ records") {
    var tripped: Option[String] = None
    val listener = new IngestMetricsListener(onTrip = msg => tripped = Some(msg))
    listener.recordErrors(30) // 30 errors, 0 successes → above threshold but <100 records
    assert(tripped.isEmpty)
    listener.recordErrors(80) // 110 errors total, rate 100% > 40%
    assert(tripped.isDefined)
  }

  test("§2.7 per-phase latency distributions accumulate from query progress") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("in")
    val ckpt = Files.createTempDirectory("ckpt").toString
    Files.write(inDir.resolve("b1.json"),
      fabric("ev", System.currentTimeMillis()).getBytes)
    val listener = new IngestMetricsListener().register(spark)
    try {
      val q = IngestStream.start(spark,
        IngestStream.fileSource(spark, inDir.toString),
        new EventSchema.Registry(), new MemorySink, None, ckpt,
        IngestConfig(triggerSeconds = 1))
      try q.processAllAvailable() finally q.stop()
      // the FLUSHING-analogue phase (addBatch) must be measured; POLLING /
      // CHECKPOINTING analogues (latestOffset, walCommit/commitOffsets)
      // appear whenever the source reports them
      val stats = listener.phaseStats
      assert(stats.contains("addBatch"), s"phases seen: ${stats.keySet}")
      val flush = stats("addBatch")
      assert(flush.count >= 1 && flush.totalMillis >= 0 &&
             flush.maxMillis <= flush.totalMillis)
      assert(flush.meanMillis >= 0.0)
    } finally spark.streams.removeListener(listener)
  }

  test("processBatch: a Rakam `project` property never moves an event into another project") {
    import spark.implicits._
    val now = System.currentTimeMillis()
    def rakam(proj: String, props: String) =
      s"""{"project":"$proj","collection":"c","properties":{$props"_time":$now}}"""
    val raw = Seq(rakam("p", """"project":"evil","x":1,"""), rakam("evil", """"y":2,""")).toDS()
    val registry = new EventSchema.Registry()
    val sink = new MemorySink
    val counts = IngestStream.processBatch(spark, raw, registry, sink, None,
      IngestConfig(dialect = JsonDialect.Rakam))
    val (p, evil) = (CollectionId("p", "c"), CollectionId("evil", "c"))
    assert(counts == Map(p -> 1L, evil -> 1L))
    assert(sink.rows(p) == 1 && sink.rows(evil) == 1)
    // `project` is a data column of p/c, not a routing key
    assert(sink.inserted.get(p).head.select("project", "x").collect().toSeq ==
      Seq(org.apache.spark.sql.Row("evil", 1.0)))
    assert(sink.inserted.get(evil).head.select("y").collect().toSeq ==
      Seq(org.apache.spark.sql.Row(2.0)))
  }
}

class IngestRoundTripPropertySpec extends SparkSpec {
  private val names = FieldNames()

  /** Deterministic scalacheck sampling (no scalatestplus bridge in the
    * offline cache): fixed seed sequence, 100 cases per property.
    */
  private def samples[T](gen: Gen[T], n: Int = 100): Seq[T] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val scalarGen: Gen[(String, Any)] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(90)).map(s => (s""""$s"""", s: Any)),
    Gen.chooseNum(-1e6, 1e6).map(d => (f"$d%.4f", f"$d%.4f".toDouble: Any)),
    Gen.oneOf(true, false).map(b => (b.toString, b: Any)))

  private val fieldsGen: Gen[List[(String, (String, Any))]] =
    Gen.nonEmptyListOf(Gen.zip(
      Gen.identifier.suchThat(_.nonEmpty).map(_.take(20)),
      scalarGen)).map(_.distinctBy(_._1).take(8))

  test("property: scalar fields round-trip through infer+parse") {
    samples(fieldsGen).foreach { fields =>
      val props = fields.map { case (n, (js, _)) => s""""$n":$js""" }.mkString(",")
      val json = s"""{"data":{"_project":"p","_collection":"c",$props}}"""
      val (_, inferred) = JsonEventParser.inferEvent(json, JsonDialect.Fabric, names).get
      val schema = StructType(inferred.toSeq.map { case (n, ft) =>
        StructField(n, ft.sparkType) })
      val (_, row) = JsonEventParser.parseEvent(json, JsonDialect.Fabric, schema, names).get
      fields.foreach { case (n, (_, expected)) =>
        val i = schema.fieldIndex(n)
        expected match {
          case d: Double => assert(row.getDouble(i) == d, s"field $n in $json")
          case b: Boolean => assert(row.getBoolean(i) == b, s"field $n in $json")
          case s: String =>
            // date/timestamp-looking strings coerce; plain strings round-trip
            if (!JsonEventParser.looksLikeDate(s) && !JsonEventParser.looksLikeTimestamp(s))
              assert(row.getString(i) == s, s"field $n in $json")
        }
      }
    }
  }

  test("property: arbitrary garbage never throws from the parse surface (F3)") {
    val garbage = Gen.oneOf(
      Gen.asciiStr.map(_.take(200)),
      Gen.listOf(Gen.chooseNum(Char.MinValue, Char.MaxValue)).map(_.mkString.take(200)),
      Gen.const(""), Gen.const("{"), Gen.const("""{"data":"""),
      Gen.const("""{"data":{"_project":123,"_collection":{}}}"""),
      Gen.asciiStr.map(s => s"""{"data":{"_project":"p","_collection":"c",$s"""))
    samples(garbage, 200).foreach { s =>
      // record-skip semantics: malformed input yields None, never an
      // exception that would poison the partition
      for (d <- Seq(JsonDialect.Fabric, JsonDialect.Rakam)) {
        JsonEventParser.decouple(s, d, names)
        JsonEventParser.inferEvent(s, d, names)
      }
    }
  }

  test("property: decouple routes every record to parseEnvelope's collection") {
    // duplicate keys, routing names shadowed inside the properties, a
    // non-object envelope ahead of the real one, `_time` before and after
    // the routing fields
    val name = Gen.frequency(6 -> Gen.oneOf("\"p\"", "\"q\"", "\"evil\""),
      1 -> Gen.oneOf("\"_bad\"", "\"a/b\"", "1", "null", "{\"x\":\"p\"}"))
    val time = Gen.oneOf("1700000000000", "\"2024-01-02 03:04:05\"", "\"junk\"", "1.5",
      "null", "99999999999999999999", "{\"t\":1}")
    val shadow = Gen.oneOf("\"project\":\"evil\"", "\"collection\":\"evil\"",
      "\"_project\":\"evil\"", "\"_collection\":\"evil\"", "\"x\":[1,{\"_collection\":\"evil\"}]",
      "\"nested\":{\"_project\":\"evil\",\"project\":\"evil\",\"_time\":1}")
    def obj(fields: Seq[String]): String = fields.mkString("{", ",", "}")
    def keyed(k: String, g: Gen[String], min: Int): Gen[Seq[String]] =
      Gen.choose(min, 2).flatMap(Gen.listOfN(_, g.map(v => s""""$k":$v""")))
    def shuffled(xs: Seq[String]): Gen[Seq[String]] =
      Gen.listOfN(xs.size, Gen.choose(0, Int.MaxValue)).map(ks => xs.zip(ks).sortBy(_._2).map(_._1))
    val fabric = for {
      p <- keyed("_project", name, 0); c <- keyed("_collection", name, 0)
      t <- keyed("_time", time, 0); sh <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, shadow))
      data <- shuffled(p ++ c ++ t ++ sh)
      before <- Gen.oneOf(Nil, Seq("\"data\":\"first\""), Seq("\"id\":\"e1\""))
      after <- Gen.oneOf(Nil, Seq("\"metadata\":{}"),
        Seq("\"data\":{\"_project\":\"evil\",\"_collection\":\"evil\"}"))
    } yield JsonDialect.Fabric -> obj(before ++ Seq(s""""data":${obj(data)}""") ++ after)
    val rakam = for {
      p <- keyed("project", name, 1); c <- keyed("collection", name, 1)
      t <- keyed("_time", time, 0); sh <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, shadow))
      props <- shuffled(t ++ sh)
      envelopes <- Gen.oneOf(Seq(obj(props)), Seq("\"first\"", obj(props)),
        Seq(obj(props), "{\"_time\":1}"))
      api <- Gen.oneOf(Nil, Seq("\"api\":{}"))
      top <- shuffled(p ++ c ++ envelopes.map(e => s""""properties":$e""") ++ api)
    } yield JsonDialect.Rakam -> obj(top)
    val probes = Seq(
      JsonDialect.Rakam -> """{"project":"p","collection":"c","properties":{"project":"evil","_time":1}}""",
      JsonDialect.Fabric -> """{"data":{"_project":"p","_collection":"a","_collection":"b","_time":1}}""")
    val routedCount = (probes ++ samples(Gen.oneOf(fabric, rakam), 400)).count { case (d, json) =>
      val envelope = JsonEventParser.parseEnvelope(json, d).map(_._1)
      envelope.foreach { id =>
        assert(JsonEventParser.decouple(json, d, names).map(_._1).contains(id), s"$d: $json")
      }
      envelope.isDefined
    }
    // the property holds on routed records, so the generator must make many
    assert(routedCount >= 100, s"only $routedCount generated records route")
  }

  test("property: arrays infer from first element and round-trip") {
    samples(Gen.nonEmptyListOf(Gen.chooseNum(-1000, 1000)).map(_.take(10))).foreach { xs =>
      val json = s"""{"data":{"_project":"p","_collection":"c","arr":[${xs.mkString(",")}]}}"""
      val (_, inferred) = JsonEventParser.inferEvent(json, JsonDialect.Fabric, names).get
      assert(inferred("arr") == graft.schema.FieldType.FArray(graft.schema.FieldType.FDouble))
      val schema = StructType(Seq(StructField("arr", ArrayType(DoubleType))))
      val (_, row) = JsonEventParser.parseEvent(json, JsonDialect.Fabric, schema, names).get
      assert(row.getSeq[Double](0).toList == xs.map(_.toDouble))
    }
  }
}
