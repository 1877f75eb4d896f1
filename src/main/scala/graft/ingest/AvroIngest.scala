package graft.ingest

import graft.schema.{CollectionId, FieldNames}
import graft.streaming.BatchWriter
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, Decoder, DecoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.graftshim.DataFrameBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.ByteBuffer
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Avro wire path (SURVEY.md §2.1 S3-S5, §2.2 D5-D6).
  *
  * The spark-avro connector is the right tool when payloads are whole-record
  * Avro; the reference's wire format is not — payloads carry a 1-byte type
  * tag, optional embedded collection prefix, and a custom bulk framing
  * (FIXTURES.md §3-4) — so decoding is done with avro-core
  * (`GenericDatumReader` + `ResolvingDecoder`) by one per-task
  * [[CatalystDecoder]], mirroring the reference's AvroPageDatumReader
  * (m/org/apache/avro/io/AvroPageDatumReader.java:58-157) including the
  * writer-schema-shorter-than-reader null-fill (:84-108) and the bulk
  * truncated-schema projection (setLastColumnIndex:196-206).
  *
  * A batch ([[processBatch]]) is routed once: one pass over the source's
  * Catalyst rows puts each record's payload bytes into a per-partition
  * bucket for its collection — the reference's per-table buffers
  * (`MiddlewareBuffer.java:34-54`) — and the buckets are kept as a plain
  * RDD, outside Spark SQL's columnar cache. One frame builder serves every
  * write, a collection being a cohort of one: it decodes only its members'
  * buckets, the decoder writes Catalyst values into a reused internal row,
  * and the frame (like the bulk expansion's) wraps its output RDD as a
  * DataFrame (`DataFrameBridge.ofRows`), so no external `Row`,
  * `Encoders.row` serializer or typed tuple pass sits on the batch path.
  * The Row-returning API ([[decodeRecord]], [[decodeTagged]],
  * [[readBulkObject]]) converts the same decoder's rows.
  */
object AvroIngest {

  /** Record-type demux (S5, KinesisRecordProcessor.java:79-99): first payload
    * byte routes the record.
    */
  sealed trait RecordKind
  object RecordKind {
    /** tags 0/2: inline Avro event; collection from key (tag 0) or an Avro
      * string prefix of the payload (tag 2). */
    final case class Inline(collectionFromPayload: Boolean) extends RecordKind
    /** tag 1: legacy bulk — an error in the reference. */
    case object LegacyBulk extends RecordKind
    /** tag 3: bulk pointer — payload carries an object-store key. */
    case object BulkPointer extends RecordKind
    final case class Unknown(tag: Byte) extends RecordKind
  }

  def kindOf(payload: Array[Byte]): RecordKind =
    // null = a Kafka tombstone record; must record-skip (F3), not NPE the
    // whole batch into a crash-loop on the same offsets
    if (payload == null || payload.isEmpty) RecordKind.Unknown(-1)
    else payload(0) match {
      case 0 => RecordKind.Inline(collectionFromPayload = false)
      case 2 => RecordKind.Inline(collectionFromPayload = true)
      case 1 => RecordKind.LegacyBulk
      case 3 => RecordKind.BulkPointer
      case t => RecordKind.Unknown(t)
    }

  /** Kafka key framing `project.collection` / Kinesis `project|collection`
    * (KafkaAvroMessageTransformer.java:31-54, KinesisMessageEventTransformer.java:44-71).
    */
  def collectionFromKey(key: String, sep: Char): Option[CollectionId] = {
    val i = key.indexOf(sep)
    if (i <= 0 || i >= key.length - 1) None
    else {
      val (p, c) = (key.substring(0, i), key.substring(i + 1))
      // invalid names skip the record (S5 demux treats it as unroutable)
      // instead of throwing: names become sink path segments
      if (CollectionId.isValid(p, c)) Some(CollectionId.normalize(p, c)) else None
    }
  }

  // ------------------------------------------------------------ schema map

  /** StructType → Avro reader schema: nullable union per column, checkpoint
    * column excluded; the reference's AvroUtil.convertAvroSchema type map
    * (AvroUtil.java:44-72): VARCHAR→string, BIGINT/TIME/TIMESTAMP→long,
    * DOUBLE→double, BOOLEAN→boolean, DATE/INTEGER→int, VARBINARY→bytes,
    * ARRAY/MAP of nullable element. All fields default to null so a shorter
    * writer schema resolves cleanly.
    */
  def avroSchema(st: StructType, name: String,
                 names: FieldNames = FieldNames()): Schema = {
    val fields = st.fields.toSeq
      .filterNot(_.name == names.checkpointField)
      .map { f =>
        val s = Schema.createUnion(java.util.List.of(
          Schema.create(Schema.Type.NULL), avroType(f.dataType)))
        val fld = new Schema.Field(sanitize(f.name), s,
          null, Schema.Field.NULL_DEFAULT_VALUE)
        fld
      }
    val rec = Schema.createRecord(sanitize(name), null, "graft.avro", false)
    rec.setFields(fields.asJava)
    rec
  }

  private def sanitize(n: String): String =
    if (n.headOption.exists(c => c.isLetter || c == '_')) n.map(c => if (c.isLetterOrDigit || c == '_') c else '_')
    else "_" + n.map(c => if (c.isLetterOrDigit || c == '_') c else '_')

  private def avroType(dt: DataType): Schema = dt match {
    case StringType    => Schema.create(Schema.Type.STRING)
    case LongType      => Schema.create(Schema.Type.LONG)
    case TimestampType => Schema.create(Schema.Type.LONG)   // epoch millis
    case DoubleType    => Schema.create(Schema.Type.DOUBLE)
    case BooleanType   => Schema.create(Schema.Type.BOOLEAN)
    case DateType      => Schema.create(Schema.Type.INT)    // epoch days
    case IntegerType   => Schema.create(Schema.Type.INT)
    case BinaryType    => Schema.create(Schema.Type.BYTES)
    case ArrayType(e, _) =>
      Schema.createArray(Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.NULL), avroType(e))))
    case MapType(StringType, v, _) =>
      Schema.createMap(Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.NULL), avroType(v))))
    case other => throw new IllegalArgumentException(s"no avro mapping for $other")
  }

  /** D6 — temporary-schema projection for bulk frames: writer declared fewer
    * leading columns than the reader schema (AvroPageDatumReader.setLastColumnIndex).
    */
  def truncatedSchema(reader: Schema, colCount: Int): Schema = {
    val fields = reader.getFields.asScala.take(colCount).map { f =>
      new Schema.Field(f.name(), f.schema(), f.doc(), Schema.Field.NULL_DEFAULT_VALUE)
    }
    val rec = Schema.createRecord(reader.getName + "_w" + colCount, null,
      reader.getNamespace, false)
    rec.setFields(fields.asJava)
    rec
  }

  // -------------------------------------------------------------- decoding

  /** Per-task tagged-Avro → Catalyst decoder for one row schema — the
    * reference's AvroPageDatumReader (AvroPageDatumReader.java:58-157),
    * which decodes straight into columnar blocks, on Spark's internal rows.
    * One `BinaryDecoder` is reused across payloads; each (writer, reader)
    * schema pair gets one [[Reader]] (a `GenericDatumReader`, a reused
    * `GenericRecord`, the field positions resolved once); every value is
    * written into one reused `SpecificInternalRow` in its Catalyst form —
    * `UTF8String` over the `Utf8` bytes, epoch micros, epoch days, array
    * and map data — so no external `Row` and no `Encoders.row` serializer
    * stand between the wire and the plan.
    *
    * A returned row is reused and may point into Avro's reused buffers: it
    * is valid until the next decode. `RDDScanExec` projects each input row
    * to an `UnsafeRow` before it pulls the next one; anything that keeps
    * rows must copy them through an `UnsafeProjection`.
    *
    * @param routing appends the `_project`/`_collection` columns of a
    *                batch frame, set through [[route]]
    */
  final class CatalystDecoder(rowSchema: StructType,
                              names: FieldNames = FieldNames(),
                              routing: Boolean = false) {
    private val width = rowSchema.length
    private val row = new SpecificInternalRow(rowSchema.fields.toSeq.map(_.dataType) ++
      (if (routing) Seq(StringType, StringType) else Nil))
    private val converters = rowSchema.fields.map(f => catalystOf(f.dataType))
    private var in: BinaryDecoder = _
    private lazy val toScala = CatalystTypeConverters.createToScalaConverter(rowSchema)

    /** Resolves `writer` (possibly shorter: missing trailing fields
      * null-fill via the reader defaults) against `reader`.
      */
    def reader(writer: Schema, reader: Schema): Reader = new Reader(writer, reader)

    /** One resolved (writer, reader) pair of this decoder. */
    final class Reader private[CatalystDecoder] (writer: Schema, reader: Schema) {
      private val datum = new GenericDatumReader[GenericRecord](writer, reader)
      private var rec: GenericRecord = _
      // row column → reader field position; -1 = always null (the
      // checkpoint column, injected later by D10)
      private val positions = rowSchema.fields.map { f =>
        if (f.name == names.checkpointField) -1
        else Option(reader.getField(sanitize(f.name))).fold(-1)(_.pos())
      }

      /** Reads the next record off `in` without converting it (a bulk walk
        * stepping over another collection's frame).
        */
      def skip(in: Decoder): Unit = rec = datum.read(rec, in)

      /** Reads the next record off `in` into the decoder's reused row. */
      def read(in: Decoder): InternalRow = {
        skip(in)
        var i = 0
        while (i < width) {
          val v = if (positions(i) < 0) null else rec.get(positions(i))
          if (v == null) row.setNullAt(i) else row.update(i, converters(i)(v))
          i += 1
        }
        row
      }

      /** Decodes the record that starts at `offset` of `payload`. */
      def decode(payload: Array[Byte], offset: Int): InternalRow = {
        in = DecoderFactory.get().binaryDecoder(payload, offset, payload.length - offset, in)
        read(in)
      }

      /** Decodes an inline payload (tag 0 or 2): past the tag byte and, for
        * tag 2, past the embedded routing prefix.
        */
      def decodeInline(payload: Array[Byte]): InternalRow = {
        in = DecoderFactory.get().binaryDecoder(payload, 1, payload.length - 1, in)
        if (payload(0) == 2) in.skipString()
        read(in)
      }
    }

    /** Sets the routing columns of a batch frame's row. */
    def route(project: UTF8String, collection: UTF8String): Unit = {
      row.update(width, project)
      row.update(width + 1, collection)
    }

    /** The external `Row` of a decoded row (the Row-returning API). */
    def toRow(r: InternalRow): Row = toScala(r).asInstanceOf[Row]
  }

  /** At and above 1900-01-01, `java.sql.Timestamp`/`Date` (hybrid Julian
    * calendar, JVM zone) followed by Spark's Julian→Gregorian rebase — the
    * conversion `Encoders.row` applies — is plain arithmetic: Spark's
    * rebase tables end there in every zone
    * (`RebaseDateTime.lastSwitchJulianTs`, pinned by
    * AvroRoundTripPropertySpec; a constant here, because initializing
    * `RebaseDateTime` loads every zone's rebase table).
    * Older values take that conversion itself, so they decode exactly as
    * the external-Row path did.
    */
  private[graft] val ArithmeticMillisFrom: Long = -2208988800000L
  private val ArithmeticDaysFrom: Int = -25567

  private val utf8Value: Any => Any = {
    case u: Utf8 =>
      val s = UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
      // malformed UTF-8 normalizes the way a java.lang.String round trip does
      if (s.isValid) s else UTF8String.fromString(u.toString)
    case s => UTF8String.fromString(s.toString)
  }
  private val timestampValue: Any => Any = v => {
    val ms = v.asInstanceOf[java.lang.Long].longValue()
    if (ms >= ArithmeticMillisFrom) Math.multiplyExact(ms, 1000L)
    else DateTimeUtils.fromJavaTimestamp(
      java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(ms)))
  }
  private val dateValue: Any => Any = v => {
    val days = v.asInstanceOf[java.lang.Integer].intValue()
    if (days >= ArithmeticDaysFrom) days
    else DateTimeUtils.fromJavaDate(
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong)))
  }
  private val binaryValue: Any => Any = v => {
    val b = v.asInstanceOf[ByteBuffer]
    val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
  }

  /** Avro generic value → Catalyst value, for a non-null `v`. */
  private def catalystOf(dt: DataType): Any => Any = dt match {
    case StringType    => utf8Value
    case TimestampType => timestampValue
    case DateType      => dateValue
    case BinaryType    => binaryValue
    case ArrayType(et, _) =>
      val elem = catalystOf(et)
      v => {
        val c = v.asInstanceOf[java.util.Collection[_]]
        val out = new Array[Any](c.size())
        var i = 0
        val it = c.iterator()
        while (it.hasNext) {
          val e = it.next()
          out(i) = if (e == null) null else elem(e)
          i += 1
        }
        new GenericArrayData(out)
      }
    case MapType(_, vt, _) =>
      val value = catalystOf(vt)
      v => {
        // entries in the order the external-Row path emitted them (an
        // immutable Map built from the decoded java map), so committed
        // lines keep their key order
        val m = v.asInstanceOf[java.util.Map[_, _]].asScala
          .map { case (k, mv) => k.toString -> mv }.toMap
        val keys = new Array[Any](m.size)
        val values = new Array[Any](m.size)
        var i = 0
        m.foreach { case (k, mv) =>
          keys(i) = UTF8String.fromString(k)
          values(i) = if (mv == null) null else value(mv)
          i += 1
        }
        new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
      }
    case _ => identity // long, int, double, boolean: the boxed value itself
  }

  /** Decode one inline Avro event against the collection schema, honoring a
    * (possibly shorter) writer schema: missing trailing fields null-fill via
    * Avro schema resolution (reader defaults).
    */
  def decodeRecord(payload: Array[Byte], offset: Int, writer: Schema,
                   reader: Schema, rowSchema: StructType,
                   names: FieldNames = FieldNames()): Row = {
    val c = rowApi(writer, reader, rowSchema, names)
    c.dec.toRow(c.reader.decode(payload, offset))
  }

  /** The Row API's decoder, one per thread, kept while calls pass the same
    * schema objects — as a caller parsing its schemas once per partition
    * does — so a per-record call does not rebuild it.
    */
  private final class RowApi(val writerSchema: Schema, val readerSchema: Schema,
                             val rowSchema: StructType, val names: FieldNames) {
    val dec = new CatalystDecoder(rowSchema, names)
    val reader: CatalystDecoder#Reader = dec.reader(writerSchema, readerSchema)
  }
  private val rowApis = new ThreadLocal[RowApi]
  private def rowApi(writer: Schema, reader: Schema, rowSchema: StructType,
                     names: FieldNames): RowApi = {
    val c = rowApis.get()
    if (c != null && (c.writerSchema eq writer) && (c.readerSchema eq reader) &&
        (c.rowSchema eq rowSchema) && c.names == names) c
    else {
      val fresh = new RowApi(writer, reader, rowSchema, names)
      rowApis.set(fresh)
      fresh
    }
  }

  /** Full tagged-record decode (the per-record path of the reference's
    * KafkaAvroMessageTransformer/KinesisMessageEventTransformer): tag
    * demux (S5) + key/payload routing + inline decode. Returns None for
    * legacy-bulk/unknown tags and unroutable or undecodable records
    * (record-skip, F3); bulk pointers (tag 3) must be handled by the caller
    * via [[readBulkObject]] after fetching the object.
    */
  def decodeTagged(key: String, payload: Array[Byte], keySep: Char,
                   schemaFor: CollectionId => Option[(Schema, StructType)],
                   names: FieldNames = FieldNames())
      : Option[(CollectionId, Row)] =
    try {
      routingOf(key, payload, keySep).flatMap { id =>
        schemaFor(id).map { case (reader, rowSchema) =>
          val c = rowApi(reader, reader, rowSchema, names)
          id -> c.dec.toRow(c.reader.decodeInline(payload))
        }
      }
    } catch { case _: Exception => None }

  /** Every row `decode` produces from `payloads`, leaving out the ones it
    * cannot decode (record-skip, F3).
    */
  private def decodeEach(payloads: Iterator[Array[Byte]])(
      decode: Array[Byte] => InternalRow): Iterator[InternalRow] =
    payloads.flatMap { p =>
      try Iterator.single(decode(p)) catch { case _: Exception => Iterator.empty }
    }

  /** Tag-3 payload → the object-store pointer it carries (UTF-8 key). */
  def bulkPointerOf(payload: Array[Byte]): Option[String] =
    kindOf(payload) match {
      case RecordKind.BulkPointer if payload.length > 1 =>
        Some(new String(payload, 1, payload.length - 1,
          java.nio.charset.StandardCharsets.UTF_8))
      case _ => None
    }

  /** Routing-only extraction: tag demux + collection id from the key (tag 0)
    * or the embedded Avro-string prefix (tag 2), WITHOUT decoding the record
    * body. The cheap first pass of [[processBatch]].
    */
  def routingOf(key: String, payload: Array[Byte], keySep: Char): Option[CollectionId] =
    kindOf(payload) match {
      case RecordKind.Inline(fromPayload) =>
        try {
          if (fromPayload) {
            val dec = DecoderFactory.get().binaryDecoder(payload, 1, payload.length - 1, null)
            collectionFromKey(dec.readString(), keySep)
          } else collectionFromKey(key, keySep)
        } catch { case _: Exception => None }
      case _ => None
    }

  /** Batch/stream processing of tagged Avro records: decode every inline
    * record against the registry's declared schemas (Avro is always
    * schema-fixed — the wire format carries no field names), group by
    * collection, and write through [[graft.streaming.BatchWriter]], the
    * planner the JSON `IngestStream.processBatch` uses too. This function
    * supplies only the one Avro frame builder; a failed write aborts the
    * batch.
    *
    * One routing pass ([[route]]) reads the source's Catalyst rows once and
    * turns each source partition into one map of buckets, collection →
    * payloads (tag-3 pointers under [[BulkKey]] when `bulkFetch` is set;
    * records that do not route are dropped). The buckets are persisted as
    * an RDD (`MEMORY_AND_DISK`), not through Spark SQL's cache manager, and
    * the job that fills that cache also returns each bucket's size — the
    * per-collection counts the planner needs, with no shuffle. Absent
    * collections then run no job at all.
    *
    * Each frame reads only its own buckets: the frame of a member set (one
    * collection, or a same-schema cohort) takes those members' buckets of
    * every cached partition, in one decode loop; the bulk expansion takes
    * the marker bucket. So a frame decodes O(its own rows), not O(batch),
    * which matters at the reference's 100-collection stress shape
    * (t/io/rakam/presto/KafkaStressTest.java:107-137), where `dedupBatch`
    * keeps every collection on the per-collection path. A frame is its
    * payloads mapped through a per-task [[CatalystDecoder]], each row
    * tagged with its `_project`/`_collection`, and wrapped back into a
    * DataFrame: its plan is a scan of the decoded rows, and the decode runs
    * lazily inside the frame's write job, the record body decoded exactly
    * once. A partition holding none of the members builds no decoder.
    * Undecodable records are skipped (F3).
    *
    * Memory: each routed payload is held once, as the byte array the
    * source row carried (no key, no per-row routing columns); a partition
    * that does not fit in memory spills to disk whole. Recompute: a lost
    * cached block is rebuilt from the same source partition, and a
    * partition's buckets depend on that partition's records alone, so a
    * recomputed block holds the same payloads in the same order.
    *
    * `records` needs `key: string` and `value: binary` columns (the Kafka
    * source shape). Bulk pointers (tag 3) are expanded through `bulkFetch`
    * when given ([[readBulkObject]] framing; object-store access is
    * environment-specific) and dropped otherwise. Returns per-collection
    * inserted row counts; collections with no rows are left out.
    */
  def processBatch(records: org.apache.spark.sql.DataFrame,
                   registry: graft.schema.EventSchema.Registry,
                   sink: graft.sinks.EventSink,
                   keySep: Char = '.',
                   cfg: graft.streaming.IngestConfig = graft.streaming.IngestConfig(),
                   batchId: Long = -1L,
                   bulkFetch: Option[String => Array[Byte]] = None,
                   dedupBatch: Boolean = false)
      : Map[CollectionId, Long] = {
    val spark = records.sparkSession
    val names = cfg.names
    val schemas = registry.all // (tiny) driver-side snapshot, serialized to tasks
    val schemaPairs: Map[CollectionId, (String, StructType)] = schemas.map {
      case (id, st) => id -> (avroSchema(st, id.collection, names).toString, st)
    }

    val routed = route(records, keySep, wantBulk = bulkFetch.isDefined)
      .setName(RoutedName)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (pointerBucket, present) = routed
        .map(_.map { case (id, payloads) => id -> payloads.length.toLong })
        .collect().flatten
        .groupMapReduce(_._1)(_._2)(_ + _)
        .partition(_._1 == BulkKey)

      /** The one Avro frame builder: every member's rows decoded in one
        * pass over its buckets, each record against its OWN collection's
        * reader schema (cohort members share the StructType but keep their
        * record names), tagged with its routing columns. A partition that
        * holds none of the members builds no decoder.
        */
      def decode(ids: Seq[CollectionId], rowSchema: StructType): DataFrame = {
        val members = ids.map(id => id -> schemaPairs(id)._1)
        val rows = routed.mapPartitions(_.flatMap { buckets =>
          val held = members.filter { case (id, _) => buckets.contains(id) }
          if (held.isEmpty) Iterator.empty
          else {
            val dec = new CatalystDecoder(rowSchema, names, routing = true)
            held.iterator.flatMap { case (id, avroJson) =>
              // the avro schema parses once per member a partition holds
              val reader = new Schema.Parser().parse(avroJson)
              val r = dec.reader(reader, reader)
              val (p, c) = (UTF8String.fromString(id.project), UTF8String.fromString(id.collection))
              decodeEach(buckets(id).iterator) { payload =>
                val out = r.decodeInline(payload)
                dec.route(p, c)
                out
              }
            }
          }
        })
        val decoded = DataFrameBridge.ofRows(spark, rows, BatchWriter.withRouting(rowSchema))
        // F2 per-batch duplicate drop on (user, time) — the reference's
        // AvroDuplicateHandler runs on the DECODED record (null keys pass);
        // dedupBatch keeps frames to one collection, so the routing
        // columns are constant here
        if (dedupBatch && rowSchema.fieldNames.contains(names.userField) &&
            rowSchema.fieldNames.contains(names.timeField))
          graft.operators.EventOps.dedupExact(decoded, names)
        else decoded
      }

      // dedupBatch keeps every collection on the per-collection path: its
      // (user, time) dedup key must never span collections
      val inline: Map[CollectionId, Long] = BatchWriter.write(
        schemas.filter { case (id, _) => present.contains(id) }, present,
        sink, cfg, batchId, cohorts = !dedupBatch)(
        rows = decode, onFailure = (_, e) => throw e)
        .filter { case (_, n) => n > 0 }

      bulkFetch match {
        case Some(fetch) if pointerBucket.nonEmpty =>
          // S4: expand the tag-3 pointers of the marker buckets (no second
          // source scan) through the injected fetcher
          val pointers = spark.createDataset(routed.flatMap(
            _.get(BulkKey).iterator.flatMap(_.iterator.flatMap(bulkPointerOf))))(
            org.apache.spark.sql.Encoders.STRING)
          val bulk = writeBulk(pointers, registry, sink, fetch, cfg,
            // disjoint replay-marker space: an inline write and a bulk
            // write of the SAME collection in the SAME batch must not
            // dedupe each other at the sink
            if (batchId >= 0) batchId + BulkBatchIdOffset else batchId)
          (inline.keySet ++ bulk.keySet).map(id =>
            id -> (inline.getOrElse(id, 0L) + bulk.getOrElse(id, 0L))).toMap
        case _ => inline
      }
    } finally routed.unpersist(blocking = false)
  }

  /** Routes each record once (the reference's per-table buffers,
    * `MiddlewareBuffer.java:34-54`): a record with an inline routing goes,
    * as its payload bytes, into its source partition's bucket for its
    * collection, in arrival order; with `wantBulk`, tag-3 pointers go into
    * the [[BulkKey]] bucket. The rest (tombstones, legacy and unknown tags,
    * invalid keys, pointers with no fetcher) are dropped here (F3
    * record-skip). One map of buckets per source partition.
    */
  private def route(records: DataFrame, keySep: Char,
                    wantBulk: Boolean): RDD[Map[CollectionId, Array[Array[Byte]]]] = {
    import org.apache.spark.sql.functions.col
    records.select(col("key").cast("string"), col("value")).queryExecution.toRdd
      .mapPartitions { rows =>
        val buckets = mutable.HashMap.empty[CollectionId, mutable.ArrayBuffer[Array[Byte]]]
        rows.foreach { row =>
          val key = if (row.isNullAt(0)) null else row.getUTF8String(0).toString
          val payload = row.getBinary(1) // a copy: the input row is reused
          routingOf(key, payload, keySep)
            .orElse(Option.when(wantBulk && kindOf(payload) == RecordKind.BulkPointer)(BulkKey))
            .foreach(buckets.getOrElseUpdate(_, mutable.ArrayBuffer.empty) += payload)
        }
        Iterator.single(buckets.iterator.map { case (id, ps) => id -> ps.toArray }.toMap)
      }
  }

  /** The name of the routed batch's cached RDD. */
  private[graft] val RoutedName: String = "AvroIngest routed batch"

  /** Bucket key of tag-3 pointers in the routed batch. The empty name is
    * collision-proof: `CollectionId.normalize` requires non-empty
    * project/collection, so no real routing key can equal it.
    */
  private val BulkKey: CollectionId = CollectionId("", "")

  /** Keeps bulk-expansion batch markers disjoint from inline ones. */
  val BulkBatchIdOffset: Long = 1L << 40

  /** Production S4 object fetcher (pass it as `bulkFetch`): resolves each
    * pointer as a Hadoop FileSystem path (`s3a://bucket/key`, `gs://`,
    * `hdfs://`, `file:`) — the reference's S3 client fetch
    * (kinesis/KinesisMessageEventTransformer.java:80-84) generalized to any
    * Hadoop-supported store, credentials riding the standard `fs.s3a.*`
    * configuration. Hadoop `Configuration` is not serializable, so the
    * fetcher ships the session's conf entries and rebuilds the conf lazily
    * once per executor JVM; `FileSystem` instances come from Hadoop's own
    * per-scheme cache, so repeated fetches don't re-handshake.
    */
  final class HadoopObjectFetcher(confProps: Array[(String, String)])
      extends (String => Array[Byte]) with Serializable {
    @transient private lazy val conf = {
      val c = new org.apache.hadoop.conf.Configuration()
      confProps.foreach { case (k, v) => c.set(k, v) }
      c
    }
    def apply(key: String): Array[Byte] = {
      val p = new org.apache.hadoop.fs.Path(key)
      val in = p.getFileSystem(conf).open(p)
      try in.readAllBytes() finally in.close()
    }
  }

  object HadoopObjectFetcher {
    def apply(spark: org.apache.spark.sql.SparkSession): HadoopObjectFetcher = {
      val conf = spark.sparkContext.hadoopConfiguration
      // ship only entries that differ from a stock Configuration — the
      // executor-side rebuild reloads the defaults anyway, and the full
      // merged conf is hundreds of redundant entries per task binary
      val defaults = new org.apache.hadoop.conf.Configuration()
      new HadoopObjectFetcher(
        conf.iterator().asScala
          .map(e => e.getKey -> e.getValue)
          .filter { case (k, v) => defaults.getRaw(k) != v }
          .toArray)
    }
  }

  /** S4 — distributed bulk-object expansion: fetch each pointed-to object
    * ONCE (cached bytes); `fetch` is the injected object-store client
    * (S3/GCS/file), serialized to executors; one object = one fetch+decode
    * task, so throughput scales with pointer count. Objects referencing
    * unregistered collections are skipped whole (the stream can't be
    * resumed past an unknown schema — record-skip semantics, F3).
    *
    * Writes go through [[graft.streaming.BatchWriter]] one collection at a
    * time (a bulk write never joins a cohort): largest first, on the
    * bounded writer pool, each sink commit retried with backoff (C4); a
    * write that still fails aborts the batch.
    *
    * Decode cost: frames INTERLEAVE collections inside one byte stream, so
    * reaching collection X's records requires walking the whole object —
    * the per-collection pass re-reads the cached bytes, costing C+1
    * record decodes for a C-collection object (fetch stays 1×), though
    * only collection X's records convert to rows. That is near-optimal for
    * the reference's typical few-tables-per-object shape; a
    * decode-once/re-encode-per-collection pipeline only wins for large C —
    * revisit if bulk objects with many collections become the norm.
    */
  def processBulk(pointers: org.apache.spark.sql.Dataset[String],
                  registry: graft.schema.EventSchema.Registry,
                  sink: graft.sinks.EventSink,
                  fetch: String => Array[Byte],
                  names: FieldNames = FieldNames(),
                  batchId: Long = -1L)
      : Map[CollectionId, Long] =
    writeBulk(pointers, registry, sink, fetch,
      graft.streaming.IngestConfig(names = names), batchId)

  /** [[processBulk]] under the caller's write policy (`processBatch` passes
    * its own `cfg`).
    */
  private def writeBulk(pointers: org.apache.spark.sql.Dataset[String],
                        registry: graft.schema.EventSchema.Registry,
                        sink: graft.sinks.EventSink,
                        fetch: String => Array[Byte],
                        cfg: graft.streaming.IngestConfig,
                        batchId: Long)
      : Map[CollectionId, Long] = {
    val spark = pointers.sparkSession
    import spark.implicits._

    val names = cfg.names
    val schemaPairs: Map[CollectionId, (String, StructType)] =
      registry.all.map { case (id, st) =>
        id -> (avroSchema(st, id.collection, names).toString, st)
      }
    // parsed once per collection per task (BulkReaders keeps it); an
    // unknown id throws → object skipped
    val schemaFor = (cid: CollectionId) => {
      val (json, st) = schemaPairs(cid)
      (new Schema.Parser().parse(json), st)
    }

    val fetched = pointers.map(p => (p, fetch(p))).toDF("pointer", "bytes")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // which collections live in which OBJECT, with their record counts
      // (bounded: objects/batch × collections/object) — the per-collection
      // pass below then decodes only the objects that actually contain it,
      // so a single-collection object is decoded twice total, not once per
      // collection in the batch
      val membership = fetched.queryExecution.toRdd.mapPartitions { it =>
        val frames = new BulkReaders(schemaFor, names)
        it.flatMap { row =>
          val counts = mutable.HashMap.empty[CollectionId, Long]
          try walkBulk(row.getBinary(1), frames, _ => true) { (id, _) =>
            counts(id) = counts.getOrElse(id, 0L) + 1
          } catch { case _: Exception => counts.clear() }
          val ptr = row.getString(0)
          counts.iterator.map { case (id, n) => (ptr, id, n) }
        }
      }.collect().groupBy(_._2)

      // the members' records of the objects that hold them, each row
      // projected with its collection's routing columns
      def decode(ids: Seq[CollectionId], rowSchema: StructType): DataFrame = {
        val ptrs = ids.flatMap(membership(_).map(_._1)).toSet
        val fields = rowSchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
          BoundReference(i, f.dataType, f.nullable)
        }
        val rows = fetched.queryExecution.toRdd.mapPartitions { it =>
          val frames = new BulkReaders(schemaFor, names)
          val project = ids.map(id => id -> UnsafeProjection.create(fields ++ Seq(
            Literal(UTF8String.fromString(id.project), StringType),
            Literal(UTF8String.fromString(id.collection), StringType)))).toMap
          it.flatMap { row =>
            if (!ptrs.contains(row.getString(0))) Nil
            else {
              // an object decodes whole or not at all: a corrupt frame
              // drops the object's rows, never half of them
              val out = mutable.ArrayBuffer.empty[InternalRow]
              try {
                walkBulk(row.getBinary(1), frames, project.contains)((id, r) =>
                  out += project(id)(r).copy())
                out
              } catch { case _: Exception => Nil }
            }
          }
        }
        DataFrameBridge.ofRows(spark, rows, BatchWriter.withRouting(rowSchema))
      }

      BatchWriter.write(
        membership.map { case (id, _) => id -> schemaPairs(id)._2 },
        membership.map { case (id, objects) => id -> objects.map(_._3).sum },
        sink, cfg, batchId, cohorts = false)(
        rows = decode, onFailure = (_, e) => throw e)
        .filter { case (_, n) => n > 0 }
    } finally fetched.unpersist(false)
  }

  // ------------------------------------------------------------- bulk frame

  /** S4 — bulk object format (FIXTURES.md §4): Avro binary stream of
    * `project:string` then repeated `{collection:string, columnCount:int,
    * recordCount:int, records…}` until EOF. `schemaFor` supplies the reader
    * schema per collection (metastore lookup in the reference,
    * AvroMessageEventTransformer.java:100-123).
    */
  def readBulkObject(bytes: Array[Byte],
                     schemaFor: CollectionId => (Schema, StructType),
                     names: FieldNames = FieldNames())
      : Seq[(CollectionId, Row)] = {
    val readers = new BulkReaders(schemaFor, names)
    val out = Seq.newBuilder[(CollectionId, Row)]
    walkBulk(bytes, readers, _ => true) { (id, row) =>
      out += id -> readers.decoder(id).toRow(row)
    }
    out.result()
  }

  /** Per-task readers for bulk frames: one [[CatalystDecoder]] per
    * collection and one reader per declared column count — a frame whose
    * writer declared fewer leading columns than the reader schema reads
    * through [[truncatedSchema]] (D6). An unknown collection throws from
    * `schemaFor`.
    */
  private final class BulkReaders(schemaFor: CollectionId => (Schema, StructType),
                                  names: FieldNames) {
    private val decoders =
      mutable.HashMap.empty[CollectionId, (CatalystDecoder, Schema)]
    private val readers =
      mutable.HashMap.empty[(CollectionId, Int), CatalystDecoder#Reader]

    def decoder(id: CollectionId): CatalystDecoder = entry(id)._1

    def apply(id: CollectionId, colCount: Int): CatalystDecoder#Reader =
      readers.getOrElseUpdate((id, colCount), {
        val (dec, reader) = entry(id)
        val writer = if (colCount < reader.getFields.size) truncatedSchema(reader, colCount)
                     else reader
        dec.reader(writer, reader)
      })

    private def entry(id: CollectionId): (CatalystDecoder, Schema) =
      decoders.getOrElseUpdate(id, {
        val (reader, rowSchema) = schemaFor(id)
        (new CatalystDecoder(rowSchema, names), reader)
      })
  }

  /** Walks one bulk object frame by frame: each record of a collection
    * `keep` accepts is read into its decoder's reused row and handed to
    * `emit` (valid until the next record); every other record is read past.
    */
  private def walkBulk(bytes: Array[Byte], readers: BulkReaders,
                       keep: CollectionId => Boolean)(
      emit: (CollectionId, InternalRow) => Unit): Unit = {
    val dec = DecoderFactory.get().binaryDecoder(bytes, null)
    val project = dec.readString()
    while (!dec.isEnd) {
      val collection = dec.readString()
      val colCount = dec.readInt()
      val recCount = dec.readInt()
      // F3 record-skip, not object-abort: an INVALID routing name (e.g. a
      // '_'-prefixed collection) must not lose the object's other, valid
      // collections. The stream is sequential, so its frames still have to
      // be DECODED to reach the next collection — decode via the registry
      // schema (legacy registries can hold such names) and drop the rows.
      // Only a collection the registry doesn't know at all aborts the
      // object: without a schema the stream can't be resumed past it.
      val valid = CollectionId.isValid(project, collection)
      val id =
        if (valid) CollectionId.normalize(project, collection)
        else CollectionId(project.toLowerCase(java.util.Locale.ROOT),
                          collection.toLowerCase(java.util.Locale.ROOT))
      val reader = readers(id, colCount)
      val wanted = valid && keep(id)
      var i = 0
      while (i < recCount) {
        if (wanted) emit(id, reader.read(dec)) else reader.skip(dec)
        i += 1
      }
    }
  }
}
