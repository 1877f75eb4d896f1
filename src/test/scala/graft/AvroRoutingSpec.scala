package graft

import graft.ingest.AvroIngest
import graft.schema.{CollectionId, EventSchema}
import graft.sinks.{ColumnarSink, EventSink}
import graft.streaming.IngestConfig
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.CachedBlockLoss
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

/** The routing pass of `AvroIngest.processBatch` against an oracle kept
  * here: each record of a mixed batch decoded on its own by
  * `AvroIngest.decodeTagged` (tag demux, key or payload-prefix routing,
  * inline decode), each bulk pointer expanded by `readBulkObject`, and the
  * per-collection batch dedup applied to the decoded rows. Counts and
  * at-rest rows must match per collection in every write shape, with and
  * without a bulk fetcher, and when a cached block of the routed batch is
  * lost before the first write.
  */
class AvroRoutingSpec extends SparkSpec {

  private val narrow = StructType(Seq(
    StructField("_time", TimestampType), StructField("_user", StringType),
    StructField("x", DoubleType)))
  private val (a, b, c, d) =
    (CollectionId("p", "a"), CollectionId("p", "b"), CollectionId("p", "c"), CollectionId("p", "d"))
  // a, b and c share a schema (a cohort once the threshold is crossed); d
  // has its own and writes alone in every shape
  private val schemaOf: Map[CollectionId, StructType] =
    Map(a -> narrow, b -> narrow, c -> narrow, d -> narrow.add("tag", StringType))
  private val avroOf = schemaOf.map { case (id, st) => id -> AvroIngest.avroSchema(st, id.collection) }

  private def registry(): EventSchema.Registry = {
    val r = new EventSchema.Registry()
    schemaOf.foreach { case (id, st) => r.put(id, st) }
    r
  }

  /** Event `i` of `id` in its writer schema: 4 users × 3 times, so
    * (user, time) keys repeat within a collection; every 11th has no user.
    */
  private def body(id: CollectionId, i: Int): Array[Byte] = {
    val avro = avroOf(id)
    val rec = new GenericData.Record(avro)
    rec.put("_time", 1700000000000L + (i % 3) * 1000L)
    rec.put("_user", if (i % 11 == 0) null else s"u${i % 4}")
    rec.put("x", i.toDouble)
    if (avro.getField("tag") != null) rec.put("tag", s"t${i % 5}")
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().directBinaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](avro).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def avroString(s: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().directBinaryEncoder(out, null)
    enc.writeString(s)
    enc.flush()
    out.toByteArray
  }

  /** A bulk object (S4 framing): the project, then one frame per entry. */
  private def bulkObject(frames: (CollectionId, Seq[Int])*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().directBinaryEncoder(out, null)
    enc.writeString("p")
    frames.foreach { case (id, events) =>
      enc.writeString(id.collection); enc.writeInt(schemaOf(id).length); enc.writeInt(events.size)
      events.foreach(i => out.write(body(id, i)))
    }
    enc.flush()
    out.toByteArray
  }

  private val objects: Map[String, Array[Byte]] = Map(
    "obj-0" -> bulkObject(a -> Seq(100, 101), d -> Seq(102)),
    "obj-1" -> bulkObject(b -> Seq(103)))

  /** 48 inline events over a..d (tag 0, and tag 2 with the collection in
    * the payload prefix), two bulk pointers, and records that must not
    * land: a tombstone, invalid keys, unknown and legacy tags, an
    * unregistered collection, an undecodable payload.
    */
  private val records: Seq[(String, Array[Byte])] = {
    val ids = Seq(a, b, c, d)
    val inline = (0 until 48).map { i =>
      val id = ids(i % 4)
      if (i % 5 == 2) ("junk", Array[Byte](2) ++ avroString(s"p.${id.collection}") ++ body(id, i))
      else (s"p.${id.collection}", Array[Byte](0) ++ body(id, i))
    }
    val others = Seq(
      "p.a" -> (Array[Byte](3) ++ "obj-0".getBytes(UTF_8)),
      "p.b" -> (Array[Byte](3) ++ "obj-1".getBytes(UTF_8)),
      "p.a" -> null,
      "p._tmp" -> (Array[Byte](0) ++ body(a, 200)),
      "nodot" -> (Array[Byte](0) ++ body(a, 201)),
      (null: String) -> (Array[Byte](0) ++ body(a, 202)),
      "p.a" -> (Array[Byte](7) ++ body(a, 203)),
      "p.a" -> (Array[Byte](1) ++ body(a, 204)),
      "p.zzz" -> (Array[Byte](0) ++ body(a, 205)),
      "p.a" -> Array[Byte](0, 0x7e, 0x7e))
    new scala.util.Random(7).shuffle(inline ++ others)
  }

  /** The records over 3 source partitions; every collection lands in more
    * than one.
    */
  private def batch(): DataFrame = {
    val wire = StructType(Seq(StructField("key", StringType), StructField("value", BinaryType)))
    val rows = spark.sparkContext.parallelize(records.map { case (k, v) => Row(k, v) }, 3)
    val spread = rows.glom().collect().toSeq.flatMap(_.flatMap(r =>
      AvroIngest.routingOf(r.getString(0), r.getAs[Array[Byte]](1), '.')).distinct)
      .groupBy(identity).map { case (id, in) => id -> in.size }
    assert(Seq(a, b, c, d).forall(spread.getOrElse(_, 0) > 1), s"partitions per collection: $spread")
    spark.createDataFrame(rows, wire)
  }

  private def schemaFor(id: CollectionId) = schemaOf.get(id).map(st => (avroOf(id), st))

  /** The rows each collection must hold at rest. */
  private def oracle(bulk: Boolean, dedup: Boolean): Map[CollectionId, Seq[Row]] = {
    val inline = records.flatMap { case (k, v) => AvroIngest.decodeTagged(k, v, '.', schemaFor) }
      .groupMap(_._1)(_._2)
      .map { case (id, rows) => id -> (if (dedup) dedupRows(rows) else rows) }
    val expanded =
      if (!bulk) Nil
      else records.flatMap { case (_, v) => AvroIngest.bulkPointerOf(v) }
        .flatMap(p => AvroIngest.readBulkObject(objects(p), id => schemaFor(id).get))
    (inline.toSeq ++ expanded.groupMap(_._1)(_._2)).groupMapReduce(_._1)(_._2)(_ ++ _)
  }

  /** Batch dedup on (user, time): rows missing either pass; of each key,
    * the row smallest in its other columns stays (here `x`, unique).
    */
  private def dedupRows(rows: Seq[Row]): Seq[Row] = {
    val (keyed, open) = rows.partition(r => !r.isNullAt(0) && !r.isNullAt(1))
    open ++ keyed.groupBy(r => (r.get(0), r.get(1))).values.map(_.minBy(_.getDouble(2)))
  }

  private def bag(rows: Seq[Row]): Map[Seq[Any], Int] =
    rows.map(_.toSeq).groupBy(identity).map { case (k, g) => k -> g.size }

  /** A [[ColumnarSink]] that records the write shapes it saw and runs
    * each per-collection write through `single`.
    */
  private final class Recording(dir: String,
                                single: (() => Unit) => Unit = write => write()) extends EventSink {
    val inner = new ColumnarSink(dir)
    val shapes = new ConcurrentLinkedQueue[String]()
    override def getColumns(id: CollectionId) = inner.getColumns(id)
    override def insert(id: CollectionId, df: DataFrame): Unit = {
      shapes.add("single"); single(() => inner.insert(id, df))
    }
    override def insert(id: CollectionId, df: DataFrame, batchId: Long): Unit = {
      shapes.add("single"); single(() => inner.insert(id, df, batchId))
    }
    override def supportsConsolidated: Boolean = true
    override def insertConsolidated(rows: DataFrame, batchId: Long): Unit = {
      shapes.add("cohort"); inner.insertConsolidated(rows, batchId)
    }
  }

  private val shapes = Seq(
    "per collection" -> (IngestConfig(consolidateThreshold = 0), false),
    "cohort" -> (IngestConfig(consolidateThreshold = 2), false),
    "dedupBatch" -> (IngestConfig(consolidateThreshold = 2), true))

  /** Runs one batch into a fresh sink and checks counts, rows at rest and
    * the write shape against the oracle.
    */
  private def check(shape: String, cfg: IngestConfig, dedup: Boolean, bulk: Boolean,
                    sink: String => Recording): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("avro_routing").toString
    val rec = sink(dir)
    val counts = AvroIngest.processBatch(batch(), registry(), rec, cfg = cfg, batchId = 3,
      bulkFetch = if (bulk) Some(objects) else None, dedupBatch = dedup)
    val want = oracle(bulk, dedup)
    val label = s"$shape, bulk fetcher ${if (bulk) "set" else "unset"}"
    assert(want.keySet == Set(a, b, c, d), label)
    assert(counts == want.map { case (id, rows) => id -> rows.size.toLong }, label)
    want.foreach { case (id, rows) =>
      val atRest = rec.inner.read(spark, id).select(schemaOf(id).fieldNames.map(col).toSeq: _*)
        .collect().toSeq
      assert(bag(atRest) == bag(rows), s"$label $id:\n${atRest.mkString("\n")}\nvs\n${rows.mkString("\n")}")
    }
    val seen = rec.shapes.toArray.toSet
    assert(seen.contains("cohort") == (shape == "cohort"), s"$label wrote as $seen")
  }

  for ((shape, (cfg, dedup)) <- shapes; bulk <- Seq(false, true))
    test(s"routing: counts and rows at rest equal the per-record decode — $shape, " +
        s"bulk fetcher ${if (bulk) "set" else "unset"}") {
      check(shape, cfg, dedup, bulk, new Recording(_))
    }

  // The block drops before the first per-collection write, with AQE off
  // as in a streaming micro-batch, so that write is the first to read it
  // (under AQE, building a dedupBatch frame already runs its map stage).
  // A cohort frame is cached and counted by the write planner before the
  // sink sees it, so in the cohort shape the drop hits collection d's write.
  for ((shape, (cfg, dedup)) <- shapes)
    test(s"a cached routed block lost before the first write recomputes to the same rows — $shape") {
      val first = new AtomicBoolean(true)
      @volatile var recomputed: Option[Boolean] = None
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try check(shape, cfg, dedup, bulk = true, dir => new Recording(dir, write =>
        if (!first.getAndSet(false)) write()
        else {
          val block = CachedBlockLoss.drop(spark.sparkContext, AvroIngest.RoutedName)
          write()
          recomputed = Some(CachedBlockLoss.isCached(block))
        }))
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
      assert(recomputed.contains(true), s"the dropped block was not read back: $recomputed")
      assert(spark.sparkContext.getPersistentRDDs.values.forall(_.name != AvroIngest.RoutedName),
        "the routed batch is still cached after the batch")
    }
}
