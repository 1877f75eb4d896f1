package graft

import graft.ingest.{JsonDialect, JsonEventParser, JsonIngest}
import graft.schema._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Golden tests for the dynamic-schema JSON parser — ports the reference's
  * TestDeserializer/TestKafkaJsonDeserializer assertions (SURVEY.md §5) to
  * row-level checks.
  */
class JsonEventParserSpec extends AnyFunSuite {
  private val names = FieldNames()

  private def infer(json: String, dialect: JsonDialect = JsonDialect.Fabric) =
    JsonEventParser.inferEvent(json, dialect, names).get

  test("all-types inference: numbers→DOUBLE, date/ts sniffing, arrays, maps") {
    val json =
      """{"id":"1","metadata":{},"data":{
        |  "_project":"Proj","_collection":"Coll",
        |  "colstring":"hello","colint":5,"coldouble":3.25,"colbool":true,
        |  "coldate":"2024-03-01","colts":"2024-03-01 10:30:00",
        |  "colarr":["a","b"],"colarrnum":[1,2],"colmap":{"k":1.5},
        |  "colnull":null,"colemptyarr":[],"colemptyobj":{}
        |}}""".stripMargin
    val (id, fields) = infer(json)
    assert(id == CollectionId("proj", "coll")) // project/collection lowercased
    assert(fields("colstring") == FieldType.FString)
    assert(fields("colint") == FieldType.FDouble)    // the load-bearing default
    assert(fields("coldouble") == FieldType.FDouble)
    assert(fields("colbool") == FieldType.FBoolean)
    assert(fields("coldate") == FieldType.FDate)
    assert(fields("colts") == FieldType.FTimestamp)
    assert(fields("colarr") == FieldType.FArray(FieldType.FString))
    assert(fields("colarrnum") == FieldType.FArray(FieldType.FDouble))
    assert(fields("colmap") == FieldType.FMap(FieldType.FDouble))
    // null / empty array / empty object do not create columns
    assert(!fields.contains("colnull"))
    assert(!fields.contains("colemptyarr"))
    assert(!fields.contains("colemptyobj"))
    // routing fields are not data columns
    assert(!fields.contains("_project") && !fields.contains("_collection"))
  }

  test("routing names are path segments: separators/traversal/reserved skip the record") {
    def route(proj: String, coll: String) = JsonEventParser.decouple(
      s"""{"data":{"_project":"$proj","_collection":"$coll","v":1}}""",
      JsonDialect.Fabric, names)
    assert(route("demo", "clicks").isDefined)
    // each of these would land bytes outside basePath/<project>/<collection>
    // (or inside the reserved '_'-prefixed control dirs) if allowed through
    assert(route("demo", "a/b").isEmpty)
    assert(route("demo", "..").isEmpty)
    assert(route("a\\\\b", "c").isEmpty)
    assert(route("_staging", "c").isEmpty)
    assert(route("demo", "_reserved").isEmpty)
    assert(route(".hidden", "c").isEmpty)
    assert(!graft.schema.CollectionId.isValid("demo", "a/b"))
    intercept[IllegalArgumentException] {
      graft.schema.CollectionId.normalize("demo", "a/b")
    }
    // printable ASCII only: non-ASCII names have locale-dependent
    // filesystem path behavior (a POSIX-locale JVM cannot even create
    // the directory) — rejected at ingest, documented narrowing
    assert(!graft.schema.CollectionId.isValid("demo", "中文"))
    assert(!graft.schema.CollectionId.isValid("demo", "café"))
    assert(!graft.schema.CollectionId.isValid("demo", "tab\tname"))
    assert(graft.schema.CollectionId.isValid("demo", """say "hi"""")) // quotes OK
    // decouple (the streaming pre-parse) routes them to the malformed lane
    assert(JsonEventParser.decouple(
      """{"data":{"_project":"_staging","_collection":"c","_time":1}}""",
      JsonDialect.Fabric, names).isEmpty)
    // Avro key framing skips them too
    assert(graft.ingest.AvroIngest.collectionFromKey("demo.a/b", '.').isEmpty)
  }

  test("_time is always TIMESTAMP; Fabric accepts epoch millis") {
    val json = """{"data":{"_project":"p","_collection":"c","_time":1754956800000}}"""
    val (_, fields) = infer(json)
    assert(fields("_time") == FieldType.FTimestamp)
    val schema = StructType(Seq(StructField("_time", TimestampType)))
    val (_, row) = JsonEventParser.parseEvent(json, JsonDialect.Fabric, schema, names).get
    assert(row.getTimestamp(0).toInstant.toEpochMilli == 1754956800000L)
  }

  test("Rakam dialect: numeric timestamps → null, unknown top-level → skip") {
    val schema = StructType(Seq(StructField("_time", TimestampType)))
    val ok = """{"project":"p","collection":"c","properties":{"_time":"2026-08-12T00:00:00"}}"""
    val (_, row) = JsonEventParser.parseEvent(ok, JsonDialect.Rakam, schema, names).get
    assert(row.getTimestamp(0) != null)
    // numeric _time would be epoch-coerced only via the _time rule; a generic
    // timestamp column nulls numerics in the Rakam dialect:
    val tsCol = StructType(Seq(StructField("ts", TimestampType)))
    val numTs = """{"project":"p","collection":"c","properties":{"ts":123456}}"""
    val (_, r2) = JsonEventParser.parseEvent(numTs, JsonDialect.Rakam, tsCol, names).get
    assert(r2.isNullAt(0))
    val unknown = """{"project":"p","collection":"c","extra":1,"properties":{}}"""
    assert(JsonEventParser.parseEvent(unknown, JsonDialect.Rakam, tsCol, names).isEmpty)
  }

  test("strings truncated to 100 chars") {
    val long = "x" * 250
    val json = s"""{"data":{"_project":"p","_collection":"c","s":"$long"}}"""
    val schema = StructType(Seq(StructField("s", StringType)))
    val (_, row) = JsonEventParser.parseEvent(json, JsonDialect.Fabric, schema, names).get
    assert(row.getString(0).length == 100)
  }

  test("duplicate keys: first value wins") {
    val json = """{"data":{"_project":"p","_collection":"c","testcolumn":"1","testcolumn":"2"}}"""
    val schema = StructType(Seq(StructField("testcolumn", StringType)))
    val (_, row) = JsonEventParser.parseEvent(json, JsonDialect.Fabric, schema, names).get
    assert(row.getString(0) == "1")
  }

  test("unparseable date/timestamp → null; lenient Jackson scalar coercions") {
    val schema = StructType(Seq(
      StructField("d", DateType), StructField("t", TimestampType)))
    val json = """{"data":{"_project":"p","_collection":"c","d":"not-a-date","t":"nope"}}"""
    val (_, row) = JsonEventParser.parseEvent(json, JsonDialect.Fabric, schema, names).get
    assert(row.isNullAt(0) && row.isNullAt(1))

    // reference parity: scalar targets coerce leniently (getValueAs*)
    val schema2 = StructType(Seq(
      StructField("b1", BooleanType), StructField("b2", BooleanType),
      StructField("n1", DoubleType), StructField("n2", DoubleType),
      StructField("l", LongType), StructField("s", StringType)))
    val json2 =
      """{"data":{"_project":"p","_collection":"c",
        |"b1":"true","b2":"yes","n1":"2.5","n2":"junk","l":true,"s":{"k":1}}}""".stripMargin
    val (_, r2) = JsonEventParser.parseEvent(json2, JsonDialect.Fabric, schema2, names).get
    assert(r2.getBoolean(0) && !r2.getBoolean(1))     // "true"→true, garbage→false
    assert(r2.getDouble(2) == 2.5 && r2.getDouble(3) == 0.0) // garbage→0
    assert(r2.getLong(4) == 1L)                       // bool→1
    assert(r2.getString(5) == """{"k":1}""")          // container→JSON into STRING

    // mismatched container in a non-string scalar/array/map column → null
    val schema3 = StructType(Seq(
      StructField("x", DoubleType), StructField("a", ArrayType(DoubleType)),
      StructField("m", MapType(StringType, DoubleType))))
    val json3 =
      """{"data":{"_project":"p","_collection":"c","x":[1],"a":{"k":1},"m":[2]}}"""
    val (_, r3) = JsonEventParser.parseEvent(json3, JsonDialect.Fabric, schema3, names).get
    assert(r3.isNullAt(0) && r3.isNullAt(1) && r3.isNullAt(2))

    // the ONLY record-skip: nested container inside a non-STRING array/map
    val arrD = StructType(Seq(StructField("a", ArrayType(DoubleType))))
    val nested = """{"data":{"_project":"p","_collection":"c","a":[1,{"x":1}]}}"""
    assert(JsonEventParser.parseEvent(nested, JsonDialect.Fabric, arrD, names).isEmpty)
  }

  test("heterogeneous/nested arrays JSON-encode into ARRAY_STRING") {
    val json = """{"data":{"_project":"p","_collection":"c","a":[{"x":1},{"y":2}]}}"""
    val (_, fields) = infer(json)
    assert(fields("a") == FieldType.FArray(FieldType.FString))
    val schema = StructType(Seq(StructField("a", ArrayType(StringType))))
    val (_, row) = JsonEventParser.parseEvent(json, JsonDialect.Fabric, schema, names).get
    assert(row.getSeq[String](0) == Seq("""{"x":1}""", """{"y":2}"""))
  }

  test("map values: key dedup first-wins, nested JSON-encoded for MAP_STRING") {
    val json = """{"data":{"_project":"p","_collection":"c","m":{"k":{"n":1},"k":"dup"}}}"""
    val schema = StructType(Seq(StructField("m", MapType(StringType, StringType))))
    val (_, row) = JsonEventParser.parseEvent(json, JsonDialect.Fabric, schema, names).get
    assert(row.getMap[String, String](0) == Map("k" -> """{"n":1}"""))
  }

  test("declared-schema coercions: LONG, INTEGER, TIME, DECIMAL, BINARY") {
    // these types are never inferred — they exist only via a pre-declared
    // (metastore) schema (SURVEY §1.2)
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("t", IntegerType),          // TIME = seconds-of-day convention
      StructField("d", DecimalType(38, 18)), StructField("b", BinaryType)))
    val json =
      """{"data":{"_project":"p","_collection":"c",
        |"l":9007199254740993,"i":42,"t":86399,"d":1.25,"b":"aGVsbG8="}}""".stripMargin
    val (_, row) = JsonEventParser.parseEvent(json, JsonDialect.Fabric, schema, names).get
    assert(row.getLong(0) == 9007199254740993L) // exact: no double roundtrip
    assert(row.getInt(1) == 42 && row.getInt(2) == 86399)
    assert(row.getDecimal(3) == new java.math.BigDecimal("1.25"))
    assert(new String(row.getAs[Array[Byte]](4)) == "hello")
    // lenient numeric coercion: unparseable string into LONG column → 0
    val bad = """{"data":{"_project":"p","_collection":"c","l":"nope"}}"""
    val (_, r) = JsonEventParser.parseEvent(bad, JsonDialect.Fabric,
      StructType(Seq(StructField("l", LongType))), names).get
    assert(r.getLong(0) == 0L)
    // TIME (declared-FieldType-only; IntegerType round-trips as FInteger):
    // LocalTime strings parse to seconds-of-day, numbers pass through
    import graft.ingest.JVal
    assert(JsonEventParser.coerce(JVal.JStr("01:02:03"), FieldType.FTime,
      isTime = false, JsonDialect.Fabric) == 3723)
    assert(JsonEventParser.coerce(JVal.JNum("86399"), FieldType.FTime,
      isTime = false, JsonDialect.Fabric) == 86399)
  }

  test("schema evolution: existing order kept, new appended, types widen") {
    val existing = StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("a", DoubleType)))
    val observed = StructType(Seq(
      StructField("b", StringType), StructField("a", DoubleType)))
    val evolved = EventSchema.evolve(existing, observed)
    assert(evolved.fieldNames.toSeq == Seq("_time", "_user", "a", "b"))
    assert(EventSchema.widen(DateType, TimestampType) == TimestampType)
    assert(EventSchema.widen(DoubleType, StringType) == StringType)
    assert(EventSchema.widen(IntegerType, DoubleType) == DoubleType)
  }

  test("default schema for a new collection") {
    val s = EventSchema.defaultSchema()
    assert(s.fieldNames.toSeq == Seq("_time", "_user"))
    assert(s("_time").dataType == TimestampType)
  }
}

class JsonIngestSpec extends SparkSpec {
  test("entry (driver smoke): returns rows at sf0.001") {
    val rows = graft.SparkEntry.entry(spark).collect()
    assert(rows.length == 5 && rows.map(_.getAs[Long]("n")).sum == 1000)
  }

  test("distributed ingest: routing, inference merge, evolution, parse") {
    import spark.implicits._
    val raw = Seq(
      """{"data":{"_project":"p","_collection":"a","_time":1700000000000,"x":1,"s":"v1"}}""",
      """{"data":{"_project":"p","_collection":"a","_time":1700000001000,"x":2.5,"newcol":"n"}}""",
      """{"data":{"_project":"p","_collection":"b","flag":true}}""",
      """not json at all""",
      """{"data":{"_project":"p"}}"""
    ).toDS().repartition(2)
    val registry = new EventSchema.Registry()
    val (routed, out) = JsonIngest.ingest(raw, registry, JsonDialect.Fabric)
    try {
      assert(out.keySet == Set(CollectionId("p", "a"), CollectionId("p", "b")))
      val a = out(CollectionId("p", "a"))
      // default columns first (registry order), then observed fields
      assert(a.schema.fieldNames.take(2).toSeq == Seq("_time", "_user"))
      assert(a.schema("x").dataType == DoubleType)
      assert(a.count() == 2)
      assert(a.where($"newcol".isNotNull).count() == 1) // null-filled for row 1
      val b = out(CollectionId("p", "b"))
      assert(b.schema("flag").dataType == BooleanType)
      assert(b.count() == 1)
    } finally routed.unpersist()
  }
}
