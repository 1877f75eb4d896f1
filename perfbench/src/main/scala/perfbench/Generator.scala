package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

/** What the generator emitted for one collection. The output checks compare
  * the program's committed tables against these counts:
  * written = emitted - duplicates - late (late records go to the historical
  * hand-off, duplicates are dropped by dedup).
  */
final class CollectionLedger {
  var emitted = 0L
  var duplicates = 0L
  var late = 0L
  /** sum(value) over the records that must reach the sink, in cents. */
  var writtenCents = 0L
  val driftFields = mutable.ArrayBuffer.empty[String]
  def expectedWritten: Long = emitted - duplicates - late
}

/** Per-run ledger: one entry per collection plus, for the open loop, the due
  * time of every staged file's records.
  */
final class Ledger {
  val collections = mutable.LinkedHashMap.empty[String, CollectionLedger]
  def of(c: String): CollectionLedger = collections.getOrElseUpdate(c, new CollectionLedger)
  def emitted: Long = collections.values.map(_.emitted).sum
  def late: Long = collections.values.map(_.late).sum
  def add(other: Ledger): Unit = other.collections.foreach { case (c, o) =>
    val l = of(c)
    l.emitted += o.emitted; l.duplicates += o.duplicates; l.late += o.late
    l.writtenCents += o.writtenCents
    o.driftFields.filterNot(l.driftFields.contains).foreach(l.driftFields += _)
  }
}

/** Shape of the generated event stream. */
final case class Shape(
    collections: Int,
    lateFraction: Double,   // share of records whose event day is 2..20 days back
    dupFraction: Double,    // share of records followed by an exact copy
    stringFields: Int,
    numberFields: Int,
    boolFields: Int)

/** Seeded event generator, separate from the program under test: it only
  * writes input files, and the program only ever sees those files.
  *
  * Records are Fabric JSON envelopes or tag-0 Avro payloads. Each record is
  * stamped with its creation time (`created`, epoch millis). `(_user, _time)`
  * is unique per original record, so the only duplicates the program can
  * find are the ones injected here and counted in the ledger. Generators
  * that stage files in parallel each take a disjoint `seqBase`.
  */
final class Generator(seed: Long, shape: Shape, seqBase: Long = 0L) {
  val project = "bench"
  private val rng = new java.util.SplittableRandom(seed)
  private var seq = seqBase
  val ledger = new Ledger
  private val vocab = Array("alpha", "beta", "gamma", "delta", "omega", "spark",
    "stream", "table", "event", "user", "shard", "batch", "kappa", "sigma")
  /** Drift fields added so far, per collection index. */
  private val drift = mutable.Map.empty[Int, mutable.ArrayBuffer[String]]

  def collectionName(i: Int): String = f"c$i%03d"

  private val driftStart = rng.nextInt(shape.collections)
  private var drifts = 0

  /** Add one new numeric field to the next collection in a seeded round
    * robin, so every seed drifts the same number of distinct collections.
    */
  def addDriftField(): Unit = {
    val c = (driftStart + drifts * 37) % shape.collections
    val f = s"x$drifts"
    drifts += 1
    drift.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += f
  }

  // (_user, _time) stays unique: a user id repeats only every 100003 records,
  // and real-time `_time` is the record's own creation millisecond
  private def user(s: Long): String = "u" + ((s * 7919L) % 100003L)

  private final case class Rec(coll: Int, time: Long, user: String, cents: Long,
                               created: Long, late: Boolean)

  private def next(createdMs: Long, uniqueTimes: Boolean): Rec = {
    val s = seq; seq += 1
    val c = rng.nextInt(shape.collections)
    val late = shape.lateFraction > 0 && rng.nextDouble() < shape.lateFraction
    val base = if (uniqueTimes) createdMs - 10000000L + s else createdMs
    val time = if (late) base - (2L + rng.nextInt(19)) * 86400000L else base
    Rec(c, time, user(s), rng.nextInt(1000000).toLong, createdMs, late)
  }

  private def account(r: Rec, dup: Boolean): Unit = {
    val l = ledger.of(collectionName(r.coll))
    l.emitted += (if (dup) 2 else 1)
    if (dup) l.duplicates += 1
    if (r.late) l.late += 1 else l.writtenCents += r.cents
  }

  private def json(r: Rec): String = {
    val sb = new java.lang.StringBuilder(320)
    sb.append("{\"id\":\"").append(seq).append("\",\"metadata\":{},\"data\":{")
    sb.append("\"_project\":\"").append(project).append("\",\"_collection\":\"")
      .append(collectionName(r.coll)).append("\",\"_time\":").append(r.time)
      .append(",\"_user\":\"").append(r.user).append("\",\"value\":")
      .append(r.cents / 100).append('.').append(f2(r.cents % 100))
      .append(",\"created\":").append(r.created)
    var i = 0
    while (i < shape.stringFields) {
      sb.append(",\"s").append(i).append("\":\"").append(vocab(rng.nextInt(vocab.length))).append('"')
      i += 1
    }
    i = 0
    while (i < shape.numberFields) {
      sb.append(",\"n").append(i).append("\":").append(rng.nextInt(10000)); i += 1
    }
    i = 0
    while (i < shape.boolFields) {
      sb.append(",\"b").append(i).append("\":").append(rng.nextBoolean()); i += 1
    }
    drift.get(r.coll).foreach(_.foreach { f =>
      sb.append(",\"").append(f).append("\":1")
      // a drift field is owed to the registry once a real-time record carries it
      val l = ledger.of(collectionName(r.coll))
      if (!r.late && !l.driftFields.contains(f)) l.driftFields += f
    })
    sb.append("}}").toString
  }

  private def f2(c: Long): String = if (c < 10) "0" + c else c.toString

  private def dupRoll(): Boolean = shape.dupFraction > 0 && rng.nextDouble() < shape.dupFraction

  /** Write `n` original JSON records (plus injected copies) to `target`,
    * atomically: the file appears under its final name only when complete.
    * `createdMs(i)` is the creation time of the i-th record.
    */
  def writeJson(target: File, n: Int, createdMs: Int => Long,
                uniqueTimes: Boolean = false): Long = {
    val tmp = new File(target.getParentFile, "." + target.getName + ".tmp")
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(tmp),
      StandardCharsets.UTF_8), 1 << 16)
    var lines = 0L
    try {
      var i = 0
      while (i < n) {
        val r = next(createdMs(i), uniqueTimes)
        val line = json(r)
        w.write(line); w.write('\n'); lines += 1
        val dup = dupRoll()
        if (dup) { w.write(line); w.write('\n'); lines += 1 }
        account(r, dup)
        i += 1
      }
    } finally w.close()
    Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    lines
  }

  /** Row schema of the Avro collections (fixed in the registry). */
  def avroRowSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(
      Seq(StructField("_time", TimestampType), StructField("_user", StringType),
        StructField("value", DoubleType), StructField("created", LongType)) ++
      (0 until shape.stringFields).map(i => StructField(s"s$i", StringType)) ++
      (0 until shape.numberFields).map(i => StructField(s"n$i", DoubleType)) ++
      (0 until shape.boolFields).map(i => StructField(s"b$i", BooleanType)))
  }

  /** Write `n` original tag-0 Avro records (plus injected copies, in the same
    * file so they land in the same micro-batch) as a `key STRING, value
    * BINARY` parquet file: the Kafka wire shape the Avro path consumes.
    */
  def writeAvro(target: File, n: Int, createdMs: Long): Long = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser

    val schemas = (0 until shape.collections).map(c =>
      graft.ingest.AvroIngest.avroSchema(avroRowSchema, collectionName(c)))
    val writers = schemas.map(s => new GenericDatumWriter[GenericRecord](s))
    val msg = MessageTypeParser.parseMessageType(
      "message m { required binary key (UTF8); required binary value; }")
    val groups = new SimpleGroupFactory(msg)
    val tmp = new File(target.getParentFile, "." + target.getName + ".tmp")
    val conf = new org.apache.hadoop.conf.Configuration()
    val out = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(tmp.getAbsolutePath))
      .withType(msg).withConf(conf).build()
    val bytes = new java.io.ByteArrayOutputStream(256)
    var enc: org.apache.avro.io.BinaryEncoder = null
    var lines = 0L
    try {
      var i = 0
      while (i < n) {
        val r = next(createdMs, uniqueTimes = true)
        val rec = new GenericData.Record(schemas(r.coll))
        rec.put("_time", r.time)
        rec.put("_user", r.user)
        rec.put("value", r.cents / 100.0)
        rec.put("created", r.created)
        (0 until shape.stringFields).foreach(k =>
          rec.put(s"s$k", vocab(rng.nextInt(vocab.length))))
        (0 until shape.numberFields).foreach(k => rec.put(s"n$k", rng.nextInt(10000).toDouble))
        (0 until shape.boolFields).foreach(k => rec.put(s"b$k", rng.nextBoolean()))
        bytes.reset()
        bytes.write(0) // tag 0: inline record, collection from the key
        enc = org.apache.avro.io.EncoderFactory.get().directBinaryEncoder(bytes, enc)
        writers(r.coll).write(rec, enc)
        enc.flush()
        val g = groups.newGroup()
          .append("key", s"$project.${collectionName(r.coll)}")
          .append("value", Binary.fromConstantByteArray(bytes.toByteArray))
        out.write(g); lines += 1
        val dup = dupRoll()
        if (dup) { out.write(g); lines += 1 }
        account(r, dup)
        i += 1
      }
    } finally out.close()
    new File(tmp.getParentFile, "." + tmp.getName + ".crc").delete()
    Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    lines
  }
}

/** Open-loop file dropper for `ref_stress`: one thread writes a file every
  * `periodMs` on a fixed schedule, whatever the engine does. Record `i` of
  * the run is due at `t0 + i / rate`; a file holds the records that fell due
  * during its period and is written when its period ends.
  */
final class OpenLoopDropper(gen: Generator, dir: File, t0Ms: Long, ratePerSec: Int,
                            periodMs: Int, driftEveryMs: Long, stopAtMs: Long)
    extends Thread("perfbench-generator") {
  setDaemon(true)
  /** (file name, first due ms, last due ms, records incl. copies, originals) */
  val files = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double, Long, Int)]()
  /** How late each file landed behind its schedule, ms. */
  val lateness = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  @volatile var failure: Throwable = null

  override def run(): Unit =
    try {
      val perMs = ratePerSec / 1000.0
      var k = 0
      var nextDrift = t0Ms + driftEveryMs
      var emitted = 0L // originals so far
      while (t0Ms + (k + 1).toLong * periodMs <= stopAtMs) {
        val end = t0Ms + (k + 1).toLong * periodMs
        val sleep = end - System.currentTimeMillis()
        if (sleep > 0) Thread.sleep(sleep)
        while (nextDrift <= end) { gen.synchronized(gen.addDriftField()); nextDrift += driftEveryMs }
        val upto = math.round((end - t0Ms) * perMs)
        val n = (upto - emitted).toInt
        val first = emitted
        val name = f"f$k%06d.json"
        val lines = gen.synchronized(gen.writeJson(new File(dir, name), n,
          i => (t0Ms + (first + i) / perMs).toLong))
        lateness.add(System.currentTimeMillis() - end)
        files.add((name, t0Ms + first / perMs, t0Ms + (upto - 1) / perMs, lines, n))
        emitted = upto
        k += 1
      }
    } catch { case _: InterruptedException => () case t: Throwable => failure = t }
}
