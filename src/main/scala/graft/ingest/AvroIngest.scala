package graft.ingest

import graft.schema.{CollectionId, FieldNames}
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.avro.util.Utf8
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Avro wire path (SURVEY.md §2.1 S3-S5, §2.2 D5-D6).
  *
  * The spark-avro connector is the right tool when payloads are whole-record
  * Avro; the reference's wire format is not — payloads carry a 1-byte type
  * tag, optional embedded collection prefix, and a custom bulk framing
  * (FIXTURES.md §3-4) — so decoding is done with avro-core
  * (`GenericDatumReader` + `ResolvingDecoder`) inside `mapPartitions`,
  * mirroring the reference's AvroPageDatumReader
  * (m/org/apache/avro/io/AvroPageDatumReader.java:58-157) including the
  * writer-schema-shorter-than-reader null-fill (:84-108) and the bulk
  * truncated-schema projection (setLastColumnIndex:196-206).
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

  /** Decode one inline Avro event against the collection schema, honoring a
    * (possibly shorter) writer schema: missing trailing fields null-fill via
    * Avro schema resolution (reader defaults).
    */
  def decodeRecord(payload: Array[Byte], offset: Int, writer: Schema,
                   reader: Schema, rowSchema: StructType,
                   names: FieldNames = FieldNames()): Row = {
    val datum = new GenericDatumReader[GenericRecord](writer, reader)
    val dec = DecoderFactory.get().binaryDecoder(payload, offset,
      payload.length - offset, null)
    toRow(datum.read(null, dec), rowSchema, names)
  }

  /** GenericRecord → external Row aligned to `rowSchema` (checkpoint column
    * null — injected later by D10).
    */
  def toRow(rec: GenericRecord, rowSchema: StructType,
            names: FieldNames = FieldNames()): Row = {
    val values = rowSchema.fields.map { f =>
      if (f.name == names.checkpointField) null
      else {
        val avroField = rec.getSchema.getField(sanitize(f.name))
        if (avroField == null) null
        else convert(rec.get(avroField.pos()), f.dataType)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      values.asInstanceOf[Array[Any]], rowSchema)
  }

  private def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: Utf8, StringType) => u.toString
    case (s: CharSequence, StringType) => s.toString
    case (l: java.lang.Long, TimestampType) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(l))
    case (i: java.lang.Integer, DateType) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
    case (b: ByteBuffer, BinaryType) =>
      val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
    case (arr: java.util.Collection[_], ArrayType(e, _)) =>
      arr.asScala.toSeq.map(convert(_, e))
    case (m: java.util.Map[_, _], MapType(_, vt, _)) =>
      m.asScala.map { case (k, mv) => k.toString -> convert(mv, vt) }.toMap
    case (x, _) => x
  }

  /** Full tagged-record decode (the per-record path of the reference's
    * KafkaAvroMessageTransformer/KinesisMessageEventTransformer): tag
    * demux (S5) + key/payload routing + inline decode. Returns None for
    * legacy-bulk/unknown tags and unroutable records (record-skip, F3);
    * bulk pointers (tag 3) must be handled by the caller via
    * [[readBulkObject]] after fetching the object.
    */
  def decodeTagged(key: String, payload: Array[Byte], keySep: Char,
                   schemaFor: CollectionId => Option[(Schema, StructType)],
                   names: FieldNames = FieldNames())
      : Option[(CollectionId, Row)] =
    kindOf(payload) match {
      case RecordKind.Inline(fromPayload) =>
        try {
          if (fromPayload) {
            // tag 2: collection = avro-string prefix `project|collection`
            val dec = DecoderFactory.get().binaryDecoder(payload, 1, payload.length - 1, null)
            val embedded = dec.readString()
            val offset = 1 + (payload.length - 1 - dec.inputStream().available())
            collectionFromKey(embedded, keySep).flatMap { id =>
              schemaFor(id).map { case (reader, rowSchema) =>
                id -> decodeRecord(payload, offset, reader, reader, rowSchema, names)
              }
            }
          } else {
            collectionFromKey(key, keySep).flatMap { id =>
              schemaFor(id).map { case (reader, rowSchema) =>
                id -> decodeRecord(payload, 1, reader, reader, rowSchema, names)
              }
            }
          }
        } catch { case _: Exception => None }
      case _ => None
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
    * supplies only the Avro frame builders; a failed write aborts the batch.
    *
    * Single-pass shape (round-1 verdict #4): one routing-only scan of the
    * source tags every record with its collection and is persisted; each
    * collection then filters the cached routed batch and decodes ONLY its
    * own records, with the inserted-row count folded into the sink write
    * via `Observation` — so the record body is decoded exactly once, and
    * with C collections the source is scanned once, not 2C times (the
    * reference's stress shape is 100 collections,
    * t/io/rakam/presto/KafkaStressTest.java:107-137).
    *
    * `records` needs `key: string` and `value: binary` columns (the Kafka
    * source shape). Bulk pointers (tag 3) must be handled by the caller via
    * [[readBulkObject]] (object-store access is environment-specific).
    * Returns per-collection inserted row counts; collections with no rows
    * are left out.
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
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.functions.col

    val names = cfg.names
    val schemas = registry.all // (tiny) driver-side snapshot, serialized to tasks
    val schemaPairs: Map[CollectionId, (String, StructType)] = schemas.map {
      case (id, st) => id -> (avroSchema(st, id.collection, names).toString, st)
    }

    // bulk pointers (tag 3) ride the routed pass under a marker routing key
    // so the source is still scanned exactly ONCE per batch
    val wantBulk = bulkFetch.isDefined
    val routed = records.select(col("key").cast("string"), col("value"))
      .as[(String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (key, payload) =>
          routingOf(key, payload, keySep) match {
            case Some(id) => (id.project, id.collection, key, payload)
            case None =>
              if (wantBulk && kindOf(payload) == RecordKind.BulkPointer)
                (BulkMarker, BulkMarker, key, payload)
              else (null, null, key, payload)
          }
        }
      }.toDF("_project", "_collection", "key", "value")
      .filter(col("_project").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one tiny aggregation tells which collections are present (absent
      // ones skip their decode+write jobs entirely) and how big each is
      val present = routed.groupBy(col("_project"), col("_collection")).count()
        .collect()
        .map(r => CollectionId(r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap

      def decodeSingle(id: CollectionId, rowSchema: StructType)
          : org.apache.spark.sql.DataFrame = {
        val avroJson = schemaPairs(id)._1
        val decoded = routed
          .filter(col("_project") === id.project && col("_collection") === id.collection)
          .select(col("key"), col("value")).as[(String, Array[Byte])]
          .mapPartitions { rows =>
            // parse the avro schema once per partition, not per record
            val reader = new Schema.Parser().parse(avroJson)
            val lookup = (cid: CollectionId) =>
              if (cid == id) Some((reader, rowSchema)) else None
            rows.flatMap { case (key, payload) =>
              decodeTagged(key, payload, keySep, lookup, names).map(_._2)
            }
          }(Encoders.row(rowSchema))
        // F2 per-batch duplicate drop on (user, time) — the reference's
        // AvroDuplicateHandler runs on the DECODED record (null keys pass).
        // The dedup split reads its input twice; a lazy checkpoint keeps
        // the record decode at once-per-record
        if (dedupBatch && rowSchema.fieldNames.contains(names.userField) &&
            rowSchema.fieldNames.contains(names.timeField))
          graft.operators.EventOps.dedupExact(decoded.localCheckpoint(false), names)
        else decoded
      }

      /** Same-schema cohort: decode every member's rows in ONE pass (each
        * record still resolves against its OWN collection's reader schema —
        * members share the StructType but keep their record names).
        */
      def decodeCohort(ids: Seq[CollectionId], rowSchema: StructType)
          : org.apache.spark.sql.DataFrame = {
        val members: Map[(String, String), String] =
          ids.map(id => (id.project, id.collection) -> schemaPairs(id)._1).toMap
        val outSchema = StructType(rowSchema.fields ++ Seq(
          StructField("_project", StringType, nullable = false),
          StructField("_collection", StringType, nullable = false)))
        val memberB = spark.sparkContext.broadcast(members)
        routed
          .select(col("_project"), col("_collection"), col("key"), col("value"))
          .mapPartitions { rows =>
            val m = memberB.value
            // one parsed reader schema per member per task (Schema.Parser
            // is single-use; parsed lazily so a task touching few members
            // pays for few)
            val readers = scala.collection.mutable.HashMap.empty[(String, String), Schema]
            rows.flatMap { r =>
              val p = r.getString(0); val c = r.getString(1)
              m.get((p, c)) match {
                case None => Iterator.empty
                case Some(avroJson) =>
                  val reader = readers.getOrElseUpdate((p, c),
                    new Schema.Parser().parse(avroJson))
                  val id = CollectionId(p, c)
                  decodeTagged(r.getString(2), r.getAs[Array[Byte]](3), keySep,
                    cid => if (cid == id) Some((reader, rowSchema)) else None,
                    names)
                    .map { case (_, row) => Row.fromSeq(row.toSeq :+ p :+ c) }
                    .iterator
              }
            }
          }(Encoders.row(outSchema))
      }

      // dedupBatch keeps every collection on the per-collection path: its
      // (user, time) dedup key must never span collections
      val inline: Map[CollectionId, Long] = graft.streaming.BatchWriter.write(
        schemas.filter { case (id, _) => present.contains(id) }, present,
        sink, cfg, batchId, cohorts = !dedupBatch)(
        single = decodeSingle, cohort = decodeCohort,
        onFailure = (_, e) => throw e)
        .filter { case (_, n) => n > 0 }

      bulkFetch match {
        case None => inline
        case Some(fetch) =>
          // S4: expand tag-3 pointers (already tagged in the cached routed
          // batch — no second source scan) through the injected fetcher
          val pointers = routed.filter(col("_project") === BulkMarker)
            .select(col("value")).as[Array[Byte]]
            .flatMap(bulkPointerOf(_))
          val bulk = processBulk(pointers, registry, sink, fetch, names,
            // disjoint replay-marker space: an inline write and a bulk
            // write of the SAME collection in the SAME batch must not
            // dedupe each other at the sink
            if (batchId >= 0) batchId + BulkBatchIdOffset else batchId)
          (inline.keySet ++ bulk.keySet).map(id =>
            id -> (inline.getOrElse(id, 0L) + bulk.getOrElse(id, 0L))).toMap
      }
    } finally routed.unpersist(false)
  }

  /** Keeps bulk-expansion batch markers disjoint from inline ones. */
  val BulkBatchIdOffset: Long = 1L << 40

  /** Production S4 object fetcher (the default): resolves each pointer as a
    * Hadoop FileSystem path (`s3a://bucket/key`, `gs://`, `hdfs://`,
    * `file:`) — the reference's S3 client fetch
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

  /** [[processBulk]] wired to the production [[HadoopObjectFetcher]]; the
    * `fetch`-taking overload stays for tests and exotic stores.
    */
  def processBulk(pointers: org.apache.spark.sql.Dataset[String],
                  registry: graft.schema.EventSchema.Registry,
                  sink: graft.sinks.EventSink): Map[CollectionId, Long] =
    processBulk(pointers, registry, sink,
      HadoopObjectFetcher(pointers.sparkSession))

  /** Routing-key marker for tag-3 rows inside the routed batch. The empty
    * string is collision-proof: `CollectionId.normalize` requires
    * non-empty project/collection, so no real routing key can equal it.
    */
  private val BulkMarker: String = ""

  /** S4 — distributed bulk-object expansion: fetch each pointed-to object
    * ONCE (cached bytes); `fetch` is the injected object-store client
    * (S3/GCS/file), serialized to executors; one object = one fetch+decode
    * task, so throughput scales with pointer count. Objects referencing
    * unregistered collections are skipped whole (the stream can't be
    * resumed past an unknown schema — record-skip semantics, F3).
    *
    * Decode cost: frames INTERLEAVE collections inside one byte stream, so
    * reaching collection X's records requires walking the whole object —
    * the per-collection pass re-decodes the cached bytes, costing C+1
    * record decodes for a C-collection object (fetch stays 1×). That is
    * near-optimal for the reference's typical few-tables-per-object shape;
    * a decode-once/re-encode-per-collection pipeline only wins for large C
    * and would add a full Row→Avro encoder — revisit if bulk objects with
    * many collections become the norm.
    */
  def processBulk(pointers: org.apache.spark.sql.Dataset[String],
                  registry: graft.schema.EventSchema.Registry,
                  sink: graft.sinks.EventSink,
                  fetch: String => Array[Byte],
                  names: FieldNames = FieldNames(),
                  batchId: Long = -1L)
      : Map[CollectionId, Long] = {
    val spark = pointers.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.{Encoders, Observation}
    import org.apache.spark.sql.functions.{count, lit}

    val schemaPairs: Map[CollectionId, (String, StructType)] =
      registry.all.map { case (id, st) =>
        id -> (avroSchema(st, id.collection, names).toString, st)
      }
    def lookupFor(): CollectionId => (Schema, StructType) = {
      val cache = scala.collection.mutable.Map[CollectionId, (Schema, StructType)]()
      cid => cache.getOrElseUpdate(cid, {
        val (json, st) = schemaPairs(cid) // unknown id throws → object skipped
        (new Schema.Parser().parse(json), st)
      })
    }

    val fetched = pointers.map(p => (p, fetch(p)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // which collections live in which OBJECT (bounded: objects/batch ×
      // collections/object) — the per-collection pass below then decodes
      // only the objects that actually contain it, so a single-collection
      // object is decoded twice total, not once per collection in the batch
      val membership = fetched.mapPartitions { it =>
        val lookup = lookupFor()
        it.flatMap { case (ptr, bytes) =>
          try readBulkObject(bytes, lookup, names).map(_._1).distinct.map(ptr -> _)
          catch { case _: Exception => Seq.empty }
        }
      }.distinct().collect()
      val byCollection: Map[CollectionId, Set[String]] =
        membership.groupBy(_._2).map { case (cid, arr) =>
          cid -> arr.map(_._1).toSet
        }

      byCollection.keys.toSeq.sortBy(id => (id.project, id.collection))
        .flatMap { id =>
          val rowSchema = schemaPairs(id)._2
          val enc = Encoders.row(rowSchema)
          val ptrs = byCollection(id)
          val decoded = fetched
            .filter(r => ptrs.contains(r._1))
            .mapPartitions { it =>
              val lookup = lookupFor()
              it.flatMap { case (_, bytes) =>
                try readBulkObject(bytes, lookup, names)
                  .collect { case (cid, row) if cid == id => row }
                catch { case _: Exception => Seq.empty }
              }
            }(enc)
          val n = graft.util.ObservedCount.insertCounted(sink, id, decoded, batchId)
          if (n > 0) Some(id -> n) else None
        }.toMap
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
    val dec = DecoderFactory.get().binaryDecoder(bytes, null)
    val out = Seq.newBuilder[(CollectionId, Row)]
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
      val (reader, rowSchema) = schemaFor(id)
      val writer = if (colCount < reader.getFields.size) truncatedSchema(reader, colCount)
                   else reader
      val datum = new GenericDatumReader[GenericRecord](writer, reader)
      var i = 0
      while (i < recCount) {
        val rec = datum.read(null, dec)
        if (valid) out += id -> toRow(rec, rowSchema, names)
        i += 1
      }
    }
    out.result()
  }
}
