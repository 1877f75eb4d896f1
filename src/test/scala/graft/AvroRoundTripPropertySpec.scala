package graft

import graft.ingest.AvroIngest
import graft.schema.{CollectionId, EventSchema}
import graft.sinks.EventSink
import graft.streaming.IngestConfig
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.io.ByteArrayOutputStream
import scala.jdk.CollectionConverters._

/** Property round-trip for the Avro wire path: random schemas + random
  * (nullable) values → encode with the derived writer schema → decode via
  * the tagged-record path → external Row, field by field; and the same
  * records through `processBatch`, per collection and as cohorts, must
  * land exactly the rows the external-Row decode (`Encoders.row` over the
  * decoded values) produces. Complements the JSON property spec with the
  * schema-fixed wire format.
  */
class AvroRoundTripPropertySpec extends SparkSpec {

  private def samples[T](gen: Gen[T], n: Int = 100, seed: Long = 7L): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(seed + i)))

  // epoch bounds: 0001-01-01, the 1582-10-15 calendar switch, 1900-01-01
  // (the end of Spark's rebase tables) and 2100-01-01
  private val (year1Ms, switchMs, y1900Ms, y2100Ms) =
    (-62135596800000L, -12219292800000L, -2208988800000L, 4102444800000L)
  private val (year1Day, switchDay, y1900Day) = (-719162, -141427, -25567)

  private val text: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(50)),
    Gen.listOf(Gen.oneOf("é", "ß", "中", "😀", "a", " ")).map(_.take(20).mkString))

  // (spark type, avro-side value generator)
  private val typeGens: Seq[(DataType, Gen[Any])] = Seq(
    StringType -> text,
    LongType -> Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2),
    DoubleType -> Gen.chooseNum(-1e9, 1e9),
    BooleanType -> Gen.oneOf(true, false),
    TimestampType -> Gen.oneOf(Gen.chooseNum(0L, y2100Ms), Gen.chooseNum(year1Ms, switchMs),
      Gen.chooseNum(switchMs, y1900Ms)),
    DateType -> Gen.oneOf(Gen.chooseNum(0, 40000), Gen.chooseNum(year1Day, switchDay),
      Gen.chooseNum(switchDay, y1900Day)),
    BinaryType -> Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray),
    ArrayType(DoubleType) -> Gen.nonEmptyListOf(Gen.chooseNum(-1000.0, 1000.0)).map(_.take(5)),
    ArrayType(StringType) -> Gen.listOf(Gen.option(text)).map(_.take(8).map(_.orNull)),
    MapType(StringType, LongType) -> Gen.mapOf(Gen.zip(Gen.alphaNumStr.map("k" + _.take(6)),
      Gen.option(Gen.chooseNum(-1000L, 1000L).map(Long.box)))).map(_.map { case (k, v) => k -> v.orNull }))

  private def valueGen(dt: DataType): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 4 -> typeGens.find(_._1 == dt).get._2)

  private val fieldGen: Gen[(DataType, Any)] = Gen.frequency(
    10 -> Gen.oneOf(typeGens).flatMap { case (dt, g) => g.map(v => (dt, v)) },
    1 -> Gen.const((StringType, null: Any))) // nullable union exercised

  private val rowGen: Gen[List[(String, (DataType, Any))]] =
    Gen.nonEmptyListOf(Gen.zip(
      Gen.identifier.suchThat(_.nonEmpty).map("f" + _.take(12)),
      fieldGen)).map(_.distinctBy(_._1).take(6))

  /** The Avro datum of a generated value. */
  private def avroValue(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (BinaryType, bs: Array[Byte]) => java.nio.ByteBuffer.wrap(bs)
    case (ArrayType(_, _), xs: List[_]) => new java.util.ArrayList[Any](xs.asJava)
    case (MapType(_, _, _), m: Map[_, _]) => new java.util.HashMap[Any, Any](m.asJava)
    case (_, x) => x
  }

  /** The external value the tagged decode returned before it decoded
    * straight into Catalyst rows: java.sql types, Seq and Map.
    */
  private def externalValue(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (TimestampType, ms: Long) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(ms))
    case (DateType, days: Int) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))
    case (_, x) => x
  }

  private def encode(avro: org.apache.avro.Schema, values: Seq[(String, DataType, Any)],
                     prefix: Array[Byte]): Array[Byte] = {
    val rec = new GenericData.Record(avro)
    values.foreach { case (n, dt, v) => rec.put(n, avroValue(dt, v)) }
    val out = new ByteArrayOutputStream()
    out.write(prefix)
    val enc = EncoderFactory.get().directBinaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](avro).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  /** Tag 2: the collection rides an Avro-string prefix of the payload. */
  private def tag2Prefix(routing: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(2)
    val enc = EncoderFactory.get().directBinaryEncoder(out, null)
    enc.writeString(routing)
    enc.flush()
    out.toByteArray
  }

  /** Byte arrays compare by content, collections element-wise. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row         => r.toSeq.map(norm)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k -> norm(x) }.toMap
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case x => x
  }
  private def bag(rows: Seq[Row]): Map[Any, Int] =
    rows.map(norm).groupBy(identity).map { case (k, g) => k -> g.size }

  test("property: random schemas/values round-trip encode→decode") {
    samples(rowGen).foreach { fields =>
      val schema = StructType(fields.map { case (n, (dt, _)) =>
        StructField(n, dt) })
      val avro = AvroIngest.avroSchema(schema, "ev")
      val payload = encode(avro, fields.map { case (n, (dt, v)) => (n, dt, v) },
        Array[Byte](0)) // tag 0: inline, routing from key

      val Some((id, row)) = AvroIngest.decodeTagged("p.c", payload, '.',
        _ => Some((avro, schema)))
      assert(id == CollectionId("p", "c"))
      fields.foreach { case (n, (dt, v)) =>
        val i = schema.fieldIndex(n)
        (dt, v) match {
          case (_, null)          => assert(row.isNullAt(i), s"$n not null")
          case (StringType, s)    => assert(row.getString(i) == s, n)
          case (LongType, l)      => assert(row.getLong(i) == l, n)
          case (DoubleType, d)    => assert(row.getDouble(i) == d, n)
          case (BooleanType, b)   => assert(row.getBoolean(i) == b, n)
          case (TimestampType, ms: Long) =>
            assert(row.getTimestamp(i).getTime == ms, n)
          case (DateType, days: Int) =>
            assert(row.getDate(i).toLocalDate.toEpochDay == days.toLong, n)
          case (BinaryType, bs: Array[Byte]) =>
            assert(row.getAs[Array[Byte]](i).sameElements(bs), n)
          case (ArrayType(_, _), xs: List[_]) =>
            assert(row.getSeq[Any](i).toList == xs, n)
          case (MapType(_, _, _), m: Map[_, _]) =>
            assert(row.getMap[Any, Any](i) == m, n)
          case other => fail(s"unexpected case $other")
        }
      }
      assert(norm(row) == norm(Row.fromSeq(fields.map { case (_, (dt, v)) =>
        externalValue(dt, v) })), "decoded row differs from the external-Row decode")
    }
  }

  /** Captures what each write shape hands the sink, as external rows. */
  private final class CaptureSink extends EventSink {
    val single = new java.util.concurrent.ConcurrentHashMap[CollectionId, Seq[Row]]()
    val cohort = new java.util.concurrent.ConcurrentHashMap[CollectionId, Seq[Row]]()
    override def getColumns(id: CollectionId) = None
    override def insert(id: CollectionId, df: DataFrame): Unit =
      single.merge(id, df.collect().toSeq, (a, b) => a ++ b)
    override def supportsConsolidated: Boolean = true
    override def insertConsolidated(rows: DataFrame, batchId: Long): Unit =
      rows.collect().foreach { r =>
        val n = r.length
        cohort.merge(CollectionId(r.getString(n - 2), r.getString(n - 1)),
          Seq(Row.fromSeq(r.toSeq.take(n - 2))), (a, b) => a ++ b)
      }
  }

  /** 24 random schemas, each registered for two collections, several
    * records of different string/array lengths per collection in ONE
    * partition (a reused decode buffer leaking into an emitted row shows),
    * tag-0 and tag-2 payloads, one corrupt payload. Returns the records,
    * the registry and the expected rows per collection.
    */
  private def batch(): (DataFrame, EventSchema.Registry, Map[CollectionId, (StructType, Seq[Row])]) = {
    import spark.implicits._
    val registry = new EventSchema.Registry()
    val schemas = samples(rowGen, 24, seed = 1000L)
    val recGen = (fields: List[(String, (DataType, Any))]) =>
      Gen.sequence[List[Any], Any](fields.map { case (_, (dt, _)) => valueGen(dt) })
    val perCollection = schemas.zipWithIndex.flatMap { case (fields, s) =>
      val schema = StructType(fields.map { case (n, (dt, _)) => StructField(n, dt) })
      Seq(CollectionId("p", s"a$s"), CollectionId("p", s"b$s")).map { id =>
        registry.put(id, schema)
        val avro = AvroIngest.avroSchema(schema, id.collection)
        val values = fields.map(_._2._2) +: samples(recGen(fields), 5, seed = 31L * s + id.hashCode)
        val records = values.zipWithIndex.map { case (vs, i) =>
          val typed = fields.zip(vs).map { case ((n, (dt, _)), v) => (n, dt, v) }
          val (key, prefix) =
            if (i % 2 == 0) (s"p.${id.collection}", Array[Byte](0))
            else ("ignored", tag2Prefix(s"p.${id.collection}"))
          (key, encode(avro, typed, prefix))
        }
        val expected = values.map(vs => Row.fromSeq(fields.zip(vs).map {
          case ((_, (dt, _)), v) => externalValue(dt, v) }))
        id -> (schema, records, expected)
      }
    }
    // a union branch index no schema has: undecodable, must be skipped
    val corrupt = ("p.a0", Array[Byte](0, 0x7e, 0x7e))
    val records = (perCollection.flatMap(_._2._2) :+ corrupt).toDF("key", "value").coalesce(1)
    (records, registry, perCollection.map { case (id, (st, _, exp)) => id -> (st, exp) }.toMap)
  }

  test("the decoder's arithmetic date/time range starts where Spark's calendar rebase ends") {
    import org.apache.spark.sql.catalyst.util.RebaseDateTime
    assert(AvroIngest.ArithmeticMillisFrom * 1000 >= RebaseDateTime.lastSwitchJulianTs)
    assert(AvroIngest.ArithmeticMillisFrom == y1900Ms)
  }

  test("processBatch lands exactly the external-Row decode, per collection and as cohorts") {
    val zones = Seq(java.util.TimeZone.getDefault.getID, "America/Los_Angeles")
    val saved = java.util.TimeZone.getDefault
    try zones.foreach { zone =>
      // the JVM zone drives the java.sql calendar path of pre-1900 values
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(zone))
      val (records, registry, expected) = batch()
      val want = expected.map { case (id, (st, rows)) =>
        id -> spark.createDataFrame(rows.asJava, st).collect().toSeq }
      Seq(0 -> "per collection", 2 -> "cohort").foreach { case (threshold, shape) =>
        val sink = new CaptureSink
        val counts = AvroIngest.processBatch(records, registry, sink,
          cfg = IngestConfig(consolidateThreshold = threshold))
        val landed = if (threshold == 0) sink.single else sink.cohort
        assert((if (threshold == 0) sink.cohort else sink.single).isEmpty,
          s"$zone $shape: the batch took the other write shape")
        assert(counts == want.map { case (id, rows) => id -> rows.size.toLong })
        want.foreach { case (id, rows) =>
          val got = Option(landed.get(id)).getOrElse(Nil)
          assert(bag(got) == bag(rows), s"$zone $shape $id:\n${got.mkString("\n")}\nvs\n${rows.mkString("\n")}")
        }
      }
    } finally java.util.TimeZone.setDefault(saved)
  }
}
