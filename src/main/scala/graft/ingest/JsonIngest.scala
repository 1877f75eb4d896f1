package graft.ingest

import graft.operators.EventOps
import graft.schema.{CollectionId, EventSchema, FieldNames}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed two-pass ingest of dynamic-schema JSON events.
  *
  * Spark's streaming model fixes the analyzed schema per query, while the
  * reference evolves schemas mid-batch (FabricJsonDeserializer.java:266-301).
  * The Spark-native resolution (SURVEY.md §7.3) is:
  *
  *   route  — `EventOps.decouple`, the one JSON routing scan: each raw
  *            record gains `_project`/`_collection`/`_time` columns
  *            (null routing = malformed, dropped).
  *   pass 1 INFER — one distributed sweep: per-partition type inference
  *                  (tiny per-collection schemas cross the wire, never
  *                  data), merged on the driver in partition order →
  *                  deterministic authoritative order (existing-then-new,
  *                  D9), then evolved into the registry ([[evolve]]).
  *   pass 2 PARSE — per collection (or per same-schema cohort): filter on
  *                  the routing columns (no JSON re-parse) then full-parse
  *                  the matching rows against the now-fixed StructType.
  *
  * The routed batch is cached once between the passes (by [[ingest]], or
  * by `IngestStream.processBatch` for the streaming path), so the full JSON
  * parse runs at most twice per record regardless of collection count —
  * the same two-phase shape the reference uses (routing pre-pass + full
  * parse, SURVEY §4). Nothing here accumulates data on the driver: only
  * schemas do.
  */
object JsonIngest {

  /** Pass 1 with per-collection row counts folded into the same sweep.
    * The streaming hot path needs both the observed schemas and the
    * batch's per-collection sizes (largest-first flush order + cohort
    * gating); counting inside the inference fold saves one job + one
    * shuffle per micro-batch — measurable against the ~1 s fixed
    * per-trigger overhead that dominates small batches.
    */
  def inferSchemasWithCounts(raw: Dataset[String], dialect: JsonDialect,
                             names: FieldNames = FieldNames())
      : (Map[CollectionId, StructType], Map[CollectionId, Long]) = {
    val spark = raw.sparkSession
    import spark.implicits._
    // Per-partition: merge every event's inferred fields into one schema
    // per collection, then emit (partitionId, project, collection,
    // schemaJson, rows). Only schemas + counts cross the wire, never data.
    val partial: Array[(Int, String, String, String, Long)] = raw.mapPartitions { it =>
      val acc = scala.collection.mutable.LinkedHashMap.empty[CollectionId, (StructType, Long)]
      it.foreach { json =>
        JsonEventParser.inferEvent(json, dialect, names).foreach { case (id, fields) =>
          val observed = StructType(fields.toSeq.map { case (n, ft) =>
            StructField(n, ft.sparkType, nullable = true)
          })
          acc(id) = acc.get(id) match {
            case Some((cur, n)) => (EventSchema.evolve(cur, observed), n + 1)
            case None           => (observed, 1L)
          }
        }
      }
      val pid = org.apache.spark.TaskContext.getPartitionId()
      acc.iterator.map { case (id, (st, n)) =>
        (pid, id.project, id.collection, st.json, n)
      }
    }.collect()

    // Driver-side merge in partition order → deterministic column order.
    val merged = scala.collection.mutable.LinkedHashMap.empty[CollectionId, StructType]
    val counts = scala.collection.mutable.HashMap.empty[CollectionId, Long]
    partial.sortBy(_._1).foreach { case (_, p, c, js, n) =>
      val id = CollectionId(p, c)
      val st = DataType.fromJson(js).asInstanceOf[StructType]
      merged(id) = merged.get(id) match {
        case Some(cur) => EventSchema.evolve(cur, st)
        case None      => st
      }
      counts(id) = counts.getOrElse(id, 0L) + n
    }
    (merged.toMap, counts.toMap)
  }

  /** Pass 1 plus the registry step, shared by [[ingest]] and the streaming
    * batch: the observed schemas of `routed` merged into `registry`
    * (existing columns first in registered order, new columns appended —
    * metastore semantics D8/D9). Returns each present collection's
    * authoritative schema and its row count in `routed`.
    */
  def evolve(routed: DataFrame, registry: EventSchema.Registry,
             dialect: JsonDialect, names: FieldNames)
      : (Map[CollectionId, StructType], Map[CollectionId, Long]) = {
    val (observed, counts) = inferSchemasWithCounts(
      routed.select(col("value")).as(Encoders.STRING), dialect, names)
    (observed.map { case (id, obs) =>
      registry.getOrCreate(id)
      id -> registry.addColumns(id, obs)
    }, counts)
  }

  /** Pass 2: parse the rows of one collection against its fixed schema.
    * `routed` holds `value`, `_project` and `_collection`, as
    * `EventOps.decouple` emits them.
    */
  def parseCollection(routed: DataFrame, id: CollectionId, schema: StructType,
                      dialect: JsonDialect, names: FieldNames = FieldNames()): DataFrame = {
    val spark = routed.sparkSession
    import spark.implicits._
    val subset = routed
      .filter($"_project" === id.project && $"_collection" === id.collection)
      .select($"value").as[String]
    val enc = Encoders.row(schema)
    subset.mapPartitions { it =>
      it.flatMap { json =>
        JsonEventParser.parseEvent(json, dialect, schema, names).map(_._2)
      }
    }(enc)
  }

  /** Pass-2 variant for a same-schema COHORT of collections: parse every
    * member's rows against the shared fixed schema in one distributed pass,
    * tagging each output row with its routing columns so one partitioned
    * write can land the whole cohort (`EventSink.insertConsolidated`).
    * Per-record semantics are exactly [[parseCollection]]'s (the same
    * `JsonEventParser.parseEvent` call against the same authoritative
    * schema) — only the job structure changes: ONE scan of the cached
    * batch for C collections instead of C filtered scans, which is what
    * keeps the driver off the critical path at 10k live collections.
    */
  def parseCohort(routed: DataFrame, members: Set[(String, String)],
                  schema: StructType, dialect: JsonDialect,
                  names: FieldNames = FieldNames()): DataFrame =
    parseTagged(routed, Some(routed.sparkSession.sparkContext.broadcast(members)),
      schema, dialect, names)

  /** [[parseCohort]] over EVERY routed row: when the whole batch shares
    * one fixed schema, the member set is redundant — `EventOps.decouple`
    * has already validated and normalized each row's collection
    * (CollectionId.isValid + normalize), so filtering the cohort to "all
    * valid collections" is a no-op. One scan, no membership broadcast, no
    * per-collection loop.
    */
  def parseAllRouted(routed: DataFrame, schema: StructType,
                     dialect: JsonDialect,
                     names: FieldNames = FieldNames()): DataFrame =
    parseTagged(routed, None, schema, dialect, names)

  /** The per-row parse loop behind [[parseCohort]] and [[parseAllRouted]]:
    * rows of `members` (every routed row when None) parsed against
    * `schema`, tagged with their `_project`/`_collection`.
    */
  private def parseTagged(routed: DataFrame,
                          members: Option[Broadcast[Set[(String, String)]]],
                          schema: StructType, dialect: JsonDialect,
                          names: FieldNames): DataFrame = {
    val outSchema = StructType(schema.fields ++ Seq(
      StructField("_project", StringType, nullable = false),
      StructField("_collection", StringType, nullable = false)))
    routed.select(col("value"), col("_project"), col("_collection"))
      .mapPartitions { it =>
        val m = members.map(_.value)
        it.flatMap { r =>
          val p = r.getString(1); val c = r.getString(2)
          if (p == null || c == null || m.exists(!_((p, c)))) Iterator.empty
          else JsonEventParser.parseEvent(r.getString(0), dialect, schema, names)
            .map(t => Row.fromSeq(t._2.toSeq :+ p :+ c)).iterator
        }
      }(Encoders.row(outSchema))
  }

  /** Batch ingest: route → infer → evolve registry → per-collection
    * parse. Registry order is authoritative (metastore semantics D8/D9).
    * The parsed frames are lazy plans over the routed batch, which is
    * returned too, cached: the caller unpersists it once the frames are
    * consumed.
    */
  def ingest(raw: Dataset[String], registry: EventSchema.Registry,
             dialect: JsonDialect = JsonDialect.Fabric,
             names: FieldNames = FieldNames())
      : (DataFrame, Map[CollectionId, DataFrame]) = {
    val routed = EventOps.decouple(raw, dialect, names)
      .filter(col("_project").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (schemas, _) = evolve(routed, registry, dialect, names)
    (routed, schemas.map { case (id, schema) =>
      id -> parseCollection(routed, id, schema, dialect, names)
    })
  }
}
