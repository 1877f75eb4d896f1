package graft.ingest

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.io.JsonStringEncoder
import graft.schema.{CollectionId, FieldNames, FieldType}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import scala.collection.mutable

/** Wire dialect of the JSON envelope.
  *
  * Reference behaviors replicated (SURVEY.md §1.2/§2.2, FIXTURES.md §1-2):
  *  - Fabric: `{id, metadata, data:{_project,_collection,…props}}`; numeric
  *    epoch-millis accepted for TIMESTAMP columns
  *    (FabricJsonDeserializer.java:373-390).
  *  - Rakam: `{project, collection, properties:{…}}`; unknown top-level keys
  *    are an error (RakamJsonDeserializer.java:156-157); numeric timestamp
  *    values coerce to null (RakamJsonDeserializer.java:363-377).
  */
sealed trait JsonDialect extends Serializable {
  /** epoch-millis numbers accepted as TIMESTAMP values? */
  def numericTimestamps: Boolean
}
object JsonDialect {
  case object Fabric extends JsonDialect { val numericTimestamps = true }
  case object Rakam  extends JsonDialect { val numericTimestamps = false }
}

/** Malformed record: logged + skipped by callers (JSON path logs & continues,
  * reference json/JsonMessageEventTransformer.java:44-60).
  */
final class MalformedEventException(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** Minimal JSON value tree built via Jackson *streaming* parse with the
  * reference's duplicate-key semantics: first value wins, later duplicates
  * are `skipChildren()`ed (FabricJsonDeserializer.java:249-256). Number
  * lexemes are preserved for loss-free re-encoding of nested values.
  */
object JVal {
  sealed trait JVal extends Serializable
  case object JNull extends JVal
  final case class JStr(v: String) extends JVal
  final case class JNum(text: String) extends JVal {
    def toDouble: Double = java.lang.Double.parseDouble(text)
    def toLong: Long = try java.lang.Long.parseLong(text)
                       catch { case _: NumberFormatException => toDouble.toLong }
  }
  final case class JBool(v: Boolean) extends JVal
  final case class JArr(items: Vector[JVal]) extends JVal
  final case class JObj(fields: Vector[(String, JVal)]) extends JVal {
    lazy val toMap: Map[String, JVal] = fields.toMap
  }

  /** Read the value starting at the parser's current token. */
  def read(p: JsonParser): JVal = p.currentToken() match {
    case JsonToken.VALUE_NULL   => JNull
    case JsonToken.VALUE_STRING => JStr(p.getText)
    case JsonToken.VALUE_TRUE   => JBool(true)
    case JsonToken.VALUE_FALSE  => JBool(false)
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => JNum(p.getText)
    case JsonToken.START_ARRAY =>
      val items = Vector.newBuilder[JVal]
      while (p.nextToken() != JsonToken.END_ARRAY) items += read(p)
      JArr(items.result())
    case JsonToken.START_OBJECT =>
      val fields = Vector.newBuilder[(String, JVal)]
      val seen = mutable.HashSet.empty[String]
      while (p.nextToken() != JsonToken.END_OBJECT) {
        val name = p.currentName()
        p.nextToken()
        if (seen.add(name)) fields += name -> read(p)
        else p.skipChildren() // duplicate key: first wins
      }
      JObj(fields.result())
    case t => throw new MalformedEventException(s"unexpected token $t")
  }

  private val enc = JsonStringEncoder.getInstance()

  /** Re-encode a value as compact JSON (for the nested-value-as-string rule). */
  def encode(v: JVal): String = {
    val sb = new java.lang.StringBuilder
    encodeTo(v, sb)
    sb.toString
  }
  private def encodeTo(v: JVal, sb: java.lang.StringBuilder): Unit = v match {
    case JNull    => sb.append("null")
    case JBool(b) => sb.append(b)
    case JNum(t)  => sb.append(t)
    case JStr(s)  => sb.append('"').append(enc.quoteAsString(s)).append('"')
    case JArr(items) =>
      sb.append('[')
      var first = true
      items.foreach { i => if (!first) sb.append(','); first = false; encodeTo(i, sb) }
      sb.append(']')
    case JObj(fields) =>
      sb.append('{')
      var first = true
      fields.foreach { case (k, fv) =>
        if (!first) sb.append(','); first = false
        sb.append('"').append(enc.quoteAsString(k)).append('"').append(':')
        encodeTo(fv, sb)
      }
      sb.append('}')
  }
}

/** Streaming parser for dynamic-schema event JSON.
  *
  * This is the engine's one genuinely custom component: Spark's
  * `from_json`/`schema_of_json` have different semantics (LongType for ints,
  * no date sniffing, no truncation, nulls create columns, duplicate keys
  * last-wins), so the reference's rules
  * (FabricJsonDeserializer.java:313-602) are implemented here and driven
  * from `mapPartitions`.
  *
  * Inference rules (getTypeForUnknown, ref :497-602):
  *  - any JSON number → DOUBLE (the load-bearing default)
  *  - string → DATE if `yyyy-MM-dd`, TIMESTAMP if timestamp-like, else STRING
  *  - field named `_time` → always TIMESTAMP
  *  - array/map → element/value type from FIRST element; empty → no column;
  *    complex first element → ARRAY_STRING / MAP_STRING with JSON-encoding
  *  - null / empty array / empty object → column not created
  * Coercion rules (getValue, ref :313-495):
  *  - strings truncated to 100 chars
  *  - un-parseable date/timestamp values → null
  *  - scalar type mismatch → whole record skipped
  *  - duplicate keys: first value wins
  */
object JsonEventParser {
  import JVal._

  val MaxStringLength = 100

  private val factory = new JsonFactory()

  /** Parse an arbitrary JSON document to the first-wins value tree (used by
    * registry persistence and tooling, not the event hot path).
    */
  def mapperRead(json: String): JVal.JVal = {
    val p = factory.createParser(json)
    try { p.nextToken(); JVal.read(p) } finally p.close()
  }

  // ------------------------------------------------------------- envelope

  /** Full parse of the envelope: routing id + the properties object. */
  def parseEnvelope(json: String, dialect: JsonDialect): Option[(CollectionId, JObj)] =
    try {
      val p = factory.createParser(json)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return None
        val root = read(p).asInstanceOf[JObj]
        envelopeOf(root, dialect)
      } finally p.close()
    } catch { case _: Exception => None }

  private def envelopeOf(root: JObj, dialect: JsonDialect): Option[(CollectionId, JObj)] =
    dialect match {
      case JsonDialect.Fabric =>
        root.toMap.get("data") match {
          case Some(data: JObj) =>
            (data.toMap.get("_project"), data.toMap.get("_collection")) match {
              case (Some(JStr(proj)), Some(JStr(coll)))
                  if CollectionId.isValid(proj, coll) =>
                Some((CollectionId.normalize(proj, coll), data))
              case _ => None
            }
          case _ => None
        }
      case JsonDialect.Rakam =>
        val allowed = Set("project", "collection", "properties", "api")
        if (root.fields.exists { case (k, _) => !allowed(k) })
          throw new MalformedEventException("unknown top-level field")
        (root.toMap.get("project"), root.toMap.get("collection"),
         root.toMap.get("properties")) match {
          case (Some(JStr(proj)), Some(JStr(coll)), Some(props: JObj))
              if CollectionId.isValid(proj, coll) =>
            Some((CollectionId.normalize(proj, coll), props))
          case _ => None
        }
    }

  /** Pre-parse extraction of (routing, event-time) only — the reference's
    * DecoupleMessage (KafkaDecoupleMessage.java:46-114) and the engine's one
    * JSON routing scan: streams tokens, `skipChildren()` on everything else,
    * early-exits once routing and `_time` are known. Time is returned as
    * epoch millis (numeric value passed through; string value sniffed with
    * [[parseTimestamp]]).
    *
    * Routes exactly as [[parseEnvelope]] does, so a record is inferred,
    * counted and parsed under the collection it was routed to: the first
    * occurrence of each key wins (`data`/`properties`, `_project`/
    * `_collection`, `_time`), and Rakam routing is read at the top level
    * only — a `project` property never re-routes an event.
    */
  def decouple(json: String, dialect: JsonDialect, names: FieldNames)
      : Option[(CollectionId, Option[Long])] =
    try {
      val p = factory.createParser(json)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return None
        val fabric = dialect == JsonDialect.Fabric
        val (projField, collField, propsField) =
          if (fabric) ("_project", "_collection", "data")
          else ("project", "collection", "properties")
        var proj: String = null; var projSeen = false
        var coll: String = null; var collSeen = false
        var time: Option[Long] = None; var timeSeen = false
        var propsSeen = false
        def routed = projSeen && collSeen
        def string(): String =
          if (p.currentToken() == JsonToken.VALUE_STRING) p.getText
          else { p.skipChildren(); null }
        // consumes a routing key's value; false for any other key
        def routingKey(name: String): Boolean = {
          if (name == projField) {
            if (projSeen) p.skipChildren() else { projSeen = true; proj = string() }
          } else if (name == collField) {
            if (collSeen) p.skipChildren() else { collSeen = true; coll = string() }
          }
          name == projField || name == collField
        }
        // Fabric: everything lives inside `data`. Rakam: `_time` inside
        // `properties`, routing at the top level.
        def inProps(): Unit =
          while (!(routed && timeSeen) && p.nextToken() != JsonToken.END_OBJECT) {
            val name = p.currentName(); p.nextToken()
            if (fabric && routingKey(name)) ()
            else if (name == names.timeField && !timeSeen) {
              timeSeen = true
              time = p.currentToken() match {
                case JsonToken.VALUE_NUMBER_INT =>
                  try Some(p.getLongValue) catch { case _: Exception => None }
                case JsonToken.VALUE_STRING => parseTimestamp(p.getText).map(_.getTime)
                case _ => p.skipChildren(); None
              }
            } else p.skipChildren()
          }
        def done = if (fabric) propsSeen else routed && (timeSeen || propsSeen)
        while (!done && p.nextToken() != JsonToken.END_OBJECT) {
          val name = p.currentName(); p.nextToken()
          if (!fabric && routingKey(name)) ()
          else if (name == propsField && !propsSeen) {
            propsSeen = true
            if (p.currentToken() == JsonToken.START_OBJECT) inProps() else p.skipChildren()
          } else p.skipChildren()
        }
        if (proj != null && coll != null && CollectionId.isValid(proj, coll))
          Some((CollectionId.normalize(proj, coll), time))
        else None
      } finally p.close()
    } catch { case _: Exception => None }

  // -------------------------------------------------------------- inference

  /** Infer the field types of one event. Returns the routing id plus fields
    * in document order (duplicates: first wins; null/empty: skipped).
    * Routing/reserved fields are excluded from the data columns.
    */
  def inferEvent(json: String, dialect: JsonDialect, names: FieldNames)
      : Option[(CollectionId, mutable.LinkedHashMap[String, FieldType])] =
    try {
      parseEnvelope(json, dialect).map { case (id, data) =>
        val out = mutable.LinkedHashMap.empty[String, FieldType]
        data.fields.foreach { case (name, v) =>
          if (!isReserved(name, names) && !out.contains(name))
            inferValue(v, name, names).foreach(ft => out += name -> ft)
        }
        (id, out)
      }
    } catch { case _: Exception => None }

  private def isReserved(name: String, names: FieldNames): Boolean =
    name == "_project" || name == "_collection" || name == names.checkpointField

  /** getTypeForUnknown (ref :497-602). None = do not create a column. */
  def inferValue(v: JVal, fieldName: String, names: FieldNames): Option[FieldType] = {
    if (fieldName == names.timeField) return Some(FieldType.FTimestamp) // _time rule, ref :500-502
    v match {
      case JNull    => None
      case _: JNum  => Some(FieldType.FDouble) // ints infer DOUBLE, ref :529-531
      case _: JBool => Some(FieldType.FBoolean)
      case JStr(s) =>
        if (looksLikeDate(s)) Some(FieldType.FDate)
        else if (looksLikeTimestamp(s)) Some(FieldType.FTimestamp)
        else Some(FieldType.FString)
      case JArr(items) =>
        if (items.isEmpty) None // empty array: no column, ref :535-540
        else items.head match {
          case _: JArr | _: JObj => Some(FieldType.FArray(FieldType.FString)) // nested → JSON-encoded
          case JNull => // null first element: container later ⇒ ARRAY_STRING,
                        // all-scalar ⇒ no column (ref :549-560)
            if (items.exists(i => i.isInstanceOf[JArr] || i.isInstanceOf[JObj]))
              Some(FieldType.FArray(FieldType.FString))
            else None
          case first => inferValue(first, "", names).map(FieldType.FArray(_))
        }
      case JObj(fields) =>
        if (fields.isEmpty) None // empty object: no column, ref :550-571
        else fields.head._2 match {
          case _: JArr | _: JObj => Some(FieldType.FMap(FieldType.FString))
          case JNull => // same null-first fallback as arrays (ref :580-593)
            if (fields.exists { case (_, fv) => fv.isInstanceOf[JArr] || fv.isInstanceOf[JObj] })
              Some(FieldType.FMap(FieldType.FString))
            else None
          case first => inferValue(first, "", names).map(FieldType.FMap(_))
        }
    }
  }

  // --------------------------------------------------------------- coercion

  /** Parse one event against a fixed schema; values aligned to `schema`
    * field order, missing fields null. Returns None for malformed records or
    * scalar type mismatches (record-skip semantics, ref
    * JsonMessageEventTransformer.java:50-60).
    */
  def parseEvent(json: String, dialect: JsonDialect, schema: StructType,
                 names: FieldNames): Option[(CollectionId, Row)] =
    try {
      parseEnvelope(json, dialect).flatMap { case (id, data) =>
        val values = new Array[Any](schema.length)
        val idx = fieldIndex(schema)
        data.fields.foreach { case (name, v) =>
          idx.get(name) match {
            case Some(i) =>
              values(i) = coerce(v, FieldType.fromSpark(schema(i).dataType),
                                 isTime = schema(i).name == names.timeField, dialect)
            case None => ()
          }
        }
        Some((id, new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(values, schema)))
      }
    } catch {
      case _: MalformedEventException => None
      case _: Exception => None
    }

  // per-schema field index, hoisted across records within a partition.
  private val indexCache = new java.util.concurrent.ConcurrentHashMap[StructType, Map[String, Int]]()
  private def fieldIndex(schema: StructType): Map[String, Int] =
    indexCache.computeIfAbsent(schema, s => s.fieldNames.zipWithIndex.toMap)

  /** getValue (ref :313-495) — faithful to the reference's leniency model:
    *
    *  - scalar targets use Jackson's lenient `getValueAs*` coercions
    *    (numeric strings parse into numeric columns, garbage → 0/false,
    *    booleans → 0/1) — matching the reference byte-for-byte
    *  - a container value in a scalar column: STRING ⇒ compact-JSON-encoded
    *    (untruncated, ref :488-493); other scalars ⇒ null (skipChildren)
    *  - a mismatched container (array in a MAP column etc.) ⇒ null
    *    (ref :404-407, :457-462)
    *  - the ONLY record-skip: a nested container inside an ARRAY/MAP whose
    *    element type is not STRING (ref :437-444, :471-478)
    *  - un-parseable date/timestamp strings ⇒ null
    *
    * Documented deviations: DECIMAL parses properly (the reference writes
    * null — a TODO in its source); TIME accepts numbers as seconds-of-day
    * and parses `LocalTime` strings to seconds-of-day (the reference's
    * `LocalTime.getSecond()` keeps only the seconds-of-minute component).
    */
  def coerce(v: JVal, target: FieldType, isTime: Boolean, dialect: JsonDialect): Any = {
    if (v == JNull) return null
    target match {
      case FieldType.FString => v match {
        case JStr(s)  => truncate(s) // ref :325-328
        case JNum(t)  => truncate(t)
        case JBool(b) => b.toString
        case c        => JVal.encode(c) // container → JSON-encoded, ref :488-490
      }
      case FieldType.FBoolean => v match {
        case JBool(b) => java.lang.Boolean.valueOf(b)
        case JNum(t)  => java.lang.Boolean.valueOf(asLongLenient(t) != 0L)
        case JStr(s)  => java.lang.Boolean.valueOf(s.trim.equalsIgnoreCase("true"))
        case _        => null
      }
      case FieldType.FDouble => v match {
        case n: JNum  => java.lang.Double.valueOf(n.toDouble)
        case JStr(s)  => java.lang.Double.valueOf(asDoubleLenient(s))
        case JBool(b) => java.lang.Double.valueOf(if (b) 1.0 else 0.0)
        case _        => null
      }
      case FieldType.FLong => v match {
        case n: JNum  => java.lang.Long.valueOf(n.toLong)
        case JStr(s)  => java.lang.Long.valueOf(asLongLenient(s))
        case JBool(b) => java.lang.Long.valueOf(if (b) 1L else 0L)
        case _        => null
      }
      case FieldType.FInteger => v match {
        case n: JNum  => java.lang.Integer.valueOf(n.toLong.toInt)
        case JStr(s)  => java.lang.Integer.valueOf(asLongLenient(s).toInt)
        case JBool(b) => java.lang.Integer.valueOf(if (b) 1 else 0)
        case _        => null
      }
      case FieldType.FTime => v match {
        case n: JNum => java.lang.Integer.valueOf(n.toLong.toInt) // seconds-of-day
        case JStr(s) =>
          try java.lang.Integer.valueOf(java.time.LocalTime.parse(s).toSecondOfDay)
          catch { case _: Exception => null }
        case _ => null
      }
      case FieldType.FDecimal => v match {
        case JNum(t) => new java.math.BigDecimal(t)
        case JStr(s) => try new java.math.BigDecimal(s.trim)
                        catch { case _: Exception => null }
        case _       => null
      }
      case FieldType.FDate => v match {
        case JStr(s) => parseDate(s).orNull // un-parseable → null (ref :356-372)
        case _       => null // numeric → null (ref :360-362)
      }
      case FieldType.FTimestamp => v match {
        case n: JNum =>
          // Fabric: epoch millis accepted; Rakam: numeric timestamps → null
          // except for the canonical `_time` field (ref :373-390 vs Rakam :363-377)
          if (dialect.numericTimestamps || isTime)
            java.sql.Timestamp.from(Instant.ofEpochMilli(n.toLong))
          else null
        case JStr(s) => parseTimestamp(s).orNull
        case _       => null
      }
      case FieldType.FBinary => v match {
        case JStr(s) => try java.util.Base64.getDecoder.decode(s)
                        catch { case _: Exception => null }
        case _       => null
      }
      case FieldType.FArray(elem) => v match {
        case JArr(items) =>
          items.map {
            case JNull => null
            case el @ (_: JArr | _: JObj) =>
              if (elem == FieldType.FString) JVal.encode(el)
              else throw new MalformedEventException( // record skip, ref :471-478
                "nested array element for non-string array")
            case el => coerce(el, elem, isTime = false, dialect)
          }
        case _ => null // non-array for ARRAY column → null (ref :457-462)
      }
      case FieldType.FMap(valueT) => v match {
        case JObj(fields) => // key dedup first-wins already applied by JVal.read
          fields.map { case (k, mv) =>
            val coerced = mv match {
              case JNull => null
              case nested @ (_: JArr | _: JObj) =>
                if (valueT == FieldType.FString) JVal.encode(nested)
                else throw new MalformedEventException( // record skip, ref :437-444
                  "nested map value for non-string map")
              case el => coerce(el, valueT, isTime = false, dialect)
            }
            k -> coerced
          }.toMap
        case _ => null // non-object for MAP column → null (ref :404-407)
      }
    }
  }

  /** Jackson `NumberInput.parseAsLong` semantics: integral parse, fall back
    * to double-truncation, then 0.
    */
  private def asLongLenient(s: String): Long = {
    val t = s.trim
    try java.lang.Long.parseLong(t)
    catch {
      case _: NumberFormatException =>
        try java.lang.Double.parseDouble(t).toLong
        catch { case _: NumberFormatException => 0L }
    }
  }

  private def asDoubleLenient(s: String): Double =
    try java.lang.Double.parseDouble(s.trim)
    catch { case _: NumberFormatException => 0.0 }

  private def truncate(s: String): String =
    if (s.length > MaxStringLength) s.substring(0, MaxStringLength) else s

  // ------------------------------------------------------------ date/time

  def looksLikeDate(s: String): Boolean = parseDate(s).isDefined

  def parseDate(s: String): Option[java.sql.Date] =
    if (s.length != 10) None
    else try Some(java.sql.Date.valueOf(LocalDate.parse(s)))
    catch { case _: Exception => None }

  def looksLikeTimestamp(s: String): Boolean = parseTimestamp(s).isDefined

  /** Timestamp sniffing: ISO local/offset datetimes with space or 'T'
    * separator, optional fractional seconds, optional zone. Zone-less values
    * are interpreted as UTC (session timezone is pinned to UTC).
    */
  def parseTimestamp(s: String): Option[java.sql.Timestamp] = {
    if (s.length < 19 || s.length > 35) return None
    if (s.charAt(4) != '-' || s.charAt(7) != '-') return None
    val normalized = if (s.charAt(10) == ' ') s.substring(0, 10) + "T" + s.substring(11) else s
    try {
      val hasZone = normalized.length > 19 &&
        (normalized.endsWith("Z") || normalized.lastIndexOf('+') > 10 ||
         normalized.lastIndexOf('-') > 10)
      if (hasZone)
        Some(java.sql.Timestamp.from(OffsetDateTime.parse(normalized).toInstant))
      else
        Some(java.sql.Timestamp.from(
          LocalDateTime.parse(normalized, DateTimeFormatter.ISO_LOCAL_DATE_TIME)
            .toInstant(ZoneOffset.UTC)))
    } catch { case _: Exception => None }
  }
}
