package graft.ingest

import graft.operators.EventOps
import graft.schema.{CollectionId, EventSchema, FieldNames}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.DataFrameBridge
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
  *   pass 2 PARSE — one loop ([[parse]]) for any member set: one
  *                  collection, a same-schema cohort or every routed row.
  *                  It filters on the routing columns (no JSON re-parse),
  *                  then full-parses the matching rows against the
  *                  now-fixed StructType.
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

  /** Pass 2, the one JSON parse loop: the routed rows of `members` (every
    * routed row when None) parsed against `schema` by
    * `JsonEventParser.parseEvent`, each tagged with its `_project` and
    * `_collection` — the frame `BatchWriter` writes, for one collection
    * as for a same-schema cohort. `routed` holds `value`, `_project` and
    * `_collection`, as `EventOps.decouple` emits them.
    *
    * Members are picked by a Catalyst predicate on the routing columns
    * (per project, `_collection IN (...)`, which Spark plans as a hash-set
    * probe past ten names and as an equality for one), so only member rows
    * leave the scan of the cached batch and reach the parser: one pass for
    * C collections. Rows with no routing (malformed, see `decouple`) never
    * parse.
    */
  def parse(routed: DataFrame, members: Option[Seq[CollectionId]],
            schema: StructType, dialect: JsonDialect,
            names: FieldNames = FieldNames()): DataFrame = {
    val spark = routed.sparkSession
    import spark.implicits._
    val routable = col("_project").isNotNull && col("_collection").isNotNull
    val picked = members.fold(routable)(_.groupBy(_.project).map { case (p, ids) =>
      col("_project") === p && col("_collection").isin(ids.map(_.collection): _*)
    }.reduceOption(_ || _).getOrElse(lit(false)))
    routed.filter(picked)
      .select(col("value"), col("_project"), col("_collection")).as[(String, String, String)]
      .mapPartitions(_.flatMap { case (json, p, c) =>
        JsonEventParser.parseEvent(json, dialect, schema, names)
          .map(t => Row.fromSeq(t._2.toSeq :+ p :+ c))
      })(Encoders.row(graft.streaming.BatchWriter.withRouting(schema)))
  }

  /** [[parse]] of one collection, in its schema alone. */
  def parseCollection(routed: DataFrame, id: CollectionId, schema: StructType,
                      dialect: JsonDialect, names: FieldNames = FieldNames()): DataFrame =
    parse(routed, Some(Seq(id)), schema, dialect, names).drop("_project", "_collection")

  /** [[parse]] of a same-schema cohort, given as (project, collection). */
  def parseCohort(routed: DataFrame, members: Set[(String, String)],
                  schema: StructType, dialect: JsonDialect,
                  names: FieldNames = FieldNames()): DataFrame =
    parse(routed, Some(members.toSeq.map { case (p, c) => CollectionId(p, c) }),
      schema, dialect, names)

  /** Batch ingest: route → infer → evolve registry → per-collection
    * parse. Registry order is authoritative (metastore semantics D8/D9).
    *
    * Inference and every parsed frame read the routed batch, so it is
    * computed once and persisted as a plain RDD of its Catalyst rows,
    * outside Spark SQL's cache manager (which would hold it for the life of
    * the session). The parsed frames are lazy plans over it. The RDD is
    * returned too: a caller may unpersist it once the frames are consumed;
    * otherwise Spark's ContextCleaner frees it once the frames are garbage.
    */
  def ingest(raw: Dataset[String], registry: EventSchema.Registry,
             dialect: JsonDialect = JsonDialect.Fabric,
             names: FieldNames = FieldNames())
      : (RDD[InternalRow], Map[CollectionId, DataFrame]) = {
    val decoupled = EventOps.decouple(raw, dialect, names)
      .filter(col("_project").isNotNull)
    val cached = decoupled.queryExecution.toRdd.map(_.copy())
      .setName("JsonIngest routed batch")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val routed = DataFrameBridge.ofRows(raw.sparkSession, cached, decoupled.schema)
    val (schemas, _) = evolve(routed, registry, dialect, names)
    (cached, schemas.map { case (id, schema) =>
      id -> parseCollection(routed, id, schema, dialect, names)
    })
  }
}
