package graft.schema

import org.apache.spark.sql.types._

/** Logical event-field types of the ingestion engine.
  *
  * Mirrors the reference's rakam `FieldType` surface (see
  * /root/reference/src/main/java/io/rakam/presto/deserialization/json/FabricJsonDeserializer.java:313-602
  * for the full coercion/inference matrix) re-expressed as a Scala ADT
  * bridged to Spark SQL `DataType`s.
  *
  * Notable choices (SURVEY.md §1.2):
  *  - TIME is stored as seconds-of-day in an `IntegerType` column (the
  *    reference's Raptor storage does the same widening, StorageTypeConverter.java:59-61).
  *  - DECIMAL maps to `DecimalType(38, 18)` — the reference recognized the
  *    token but wrote null (a TODO in its source); we do better.
  *  - Nested structs are rejected at ingest ("Nested properties are not
  *    supported", FabricJsonDeserializer.java:303-310); nested values inside
  *    arrays/maps are JSON-encoded strings.
  */
sealed trait FieldType extends Serializable {

  /** Spark SQL type this logical type is carried as. */
  def sparkType: DataType = this match {
    case FieldType.FString    => StringType
    case FieldType.FBoolean   => BooleanType
    case FieldType.FDouble    => DoubleType
    case FieldType.FLong      => LongType
    case FieldType.FInteger   => IntegerType
    case FieldType.FDate      => DateType
    case FieldType.FTimestamp => TimestampType
    case FieldType.FTime      => IntegerType // seconds-of-day convention
    case FieldType.FDecimal   => DecimalType(38, 18)
    case FieldType.FBinary    => BinaryType
    case FieldType.FArray(e)  => ArrayType(e.sparkType, containsNull = true)
    case FieldType.FMap(v)    => MapType(StringType, v.sparkType, valueContainsNull = true)
  }

  def isComplex: Boolean = this match {
    case FieldType.FArray(_) | FieldType.FMap(_) => true
    case _                                       => false
  }
}

object FieldType {
  case object FString    extends FieldType
  case object FBoolean   extends FieldType
  case object FDouble    extends FieldType
  case object FLong      extends FieldType
  case object FInteger   extends FieldType
  case object FDate      extends FieldType
  case object FTimestamp extends FieldType
  case object FTime      extends FieldType
  case object FDecimal   extends FieldType
  case object FBinary    extends FieldType
  final case class FArray(element: FieldType) extends FieldType
  final case class FMap(value: FieldType)     extends FieldType

  /** Inverse bridge, used when a pre-declared schema arrives as Spark types.
    * IntegerType round-trips to FInteger (not FTime) — TIME is a convention
    * that only the declared schema can introduce.
    */
  def fromSpark(dt: DataType): FieldType = dt match {
    case StringType         => FString
    case BooleanType        => FBoolean
    case DoubleType         => FDouble
    case FloatType          => FDouble
    case LongType           => FLong
    case IntegerType        => FInteger
    case ShortType          => FInteger
    case ByteType           => FInteger
    case DateType           => FDate
    case TimestampType      => FTimestamp
    case _: DecimalType     => FDecimal
    case BinaryType         => FBinary
    case ArrayType(e, _)    => FArray(fromSpark(e))
    case MapType(_, v, _)   => FMap(fromSpark(v))
    case other => throw new IllegalArgumentException(s"unsupported ingest type: $other")
  }
}

/** Table identity: (project = tenant/database, collection = event type).
  * Reference: SchemaTableName, project lowercased, collection ≤ 100 chars
  * (FabricJsonDeserializer.java:95-103,114-121,164-177).
  */
final case class CollectionId(project: String, collection: String) {
  def path: String = s"$project/$collection"
}

object CollectionId {
  val MaxCollectionLength = 100

  /** Routing names become FILESYSTEM PATH SEGMENTS in every sink
    * (`basePath/project/collection/...`), so beyond the reference's rules
    * (null/empty/≤100 — FabricJsonDeserializer.checkCollectionValid:95-102
    * imposes no charset) they must not smuggle separators or traversal
    * ("a/b" would write outside the collection dir, ".." escapes
    * basePath) and must not collide with the reserved '_'-prefixed
    * control dirs (`_graft_commits`). Names are
    * further restricted to PRINTABLE ASCII: path behavior for wider
    * charsets is locale-dependent (a JVM under a POSIX locale cannot
    * even create the directory), and a table name that works on one
    * executor's filesystem config and fails on another is an operational
    * hazard at fleet scale — a documented narrowing of the reference.
    */
  private def validName(s: String): Boolean =
    s != null && s.nonEmpty && s.head != '_' && s.head != '.' &&
      s.forall(c => c >= 0x20 && c <= 0x7e && c != '/' && c != '\\')

  /** True when both routing fields are ingestible — the malformed-record
    * guard (F3) used by the parse paths so a bad name skips the record
    * instead of aborting the batch.
    */
  def isValid(project: String, collection: String): Boolean =
    validName(project) && validName(collection) &&
      collection.length <= MaxCollectionLength

  /** Validates + normalizes routing fields exactly like the reference:
    * project lowercased; collection non-empty, ≤100 chars, must not start
    * with '_' (reserved), lowercased — plus the path-safety rules of
    * [[isValid]].
    */
  def normalize(project: String, collection: String): CollectionId = {
    require(project != null && project.nonEmpty, "project is empty")
    require(collection != null && collection.nonEmpty, "collection is empty")
    require(collection.length <= MaxCollectionLength,
      s"collection name too long (${collection.length} > $MaxCollectionLength)")
    require(isValid(project, collection),
      s"invalid routing name '$project'/'$collection': names are path " +
        "segments and must not start with '_' or '.' or contain separators")
    CollectionId(project.toLowerCase(java.util.Locale.ROOT),
                 collection.toLowerCase(java.util.Locale.ROOT))
  }
}
