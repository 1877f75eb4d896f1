package graft.streaming

import graft.schema.CollectionId
import graft.sinks.EventSink
import graft.util.{ObservedCount, ParallelWrites}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The write planner for one micro-batch, shared by every wire format
  * (`IngestStream.processBatch` for JSON, `AvroIngest.processBatch` for
  * tagged Avro). It runs inside the `foreachBatch` commit barrier and owns
  * the whole write policy; a wire format only supplies frame builders.
  *
  * - Shape: above `IngestConfig.consolidateThreshold` collections, on a
  *   sink that supports it, non-empty collections with an EXACT schema
  *   fingerprint shared by two or more members write as one cohort — one
  *   partitioned job (`EventSink.insertConsolidated`) whose files are
  *   byte-identical to the per-collection path. Empty and schema-unique
  *   collections, and schemas carrying a directory-column name
  *   (`EventSink.consolidatable`), write one by one.
  * - Order: largest first across both shapes — the reference's
  *   MiddlewareBuffer flush policy (MiddlewareBuffer.java:78-80): the
  *   biggest share of the cached batch stays pinned for the shortest time
  *   and the longest writes front-load instead of trailing the barrier.
  * - Submission: a bounded pool (`ParallelWrites`, the B3 writer queues);
  *   a failure surfaces only after every in-flight write finished.
  * - C4: every sink commit retries with backoff (`IngestStream.withRetry`,
  *   TargetConnectorCommitter.java:29-46).
  */
object BatchWriter {

  /** Writes `schemas` (the collections present in the batch, each with its
    * authoritative schema) and returns the rows inserted per collection.
    *
    * @param sizes     rows per collection in this batch
    * @param cohorts   false keeps every collection on the per-collection
    *                  path (e.g. a dedup key must never span collections)
    * @param single    one collection's rows in its schema
    * @param cohort    the members' rows in their shared schema plus
    *                  `_project`/`_collection` routing columns
    * @param onFailure what a failed write of these collections returns —
    *                  dead-letter and report counts, or rethrow to abort
    *                  the batch (offsets never commit)
    */
  def write(schemas: Map[CollectionId, StructType], sizes: Map[CollectionId, Long],
            sink: EventSink, cfg: IngestConfig, batchId: Long,
            cohorts: Boolean = true)(
      single: (CollectionId, StructType) => DataFrame,
      cohort: (Seq[CollectionId], StructType) => DataFrame,
      onFailure: (Seq[CollectionId], Throwable) => Seq[(CollectionId, Long)])
      : Map[CollectionId, Long] = {
    type Entry = (CollectionId, StructType)
    def sizeOf(id: CollectionId): Long = sizes.getOrElse(id, 0L)
    def commit[T](f: => T): T =
      IngestStream.withRetry(cfg.commitRetries, cfg.commitRetryBaseMillis)(f)

    def runSingle(id: CollectionId, schema: StructType): Seq[(CollectionId, Long)] = {
      val df = single(id, schema)
      // the inserted-row count rides on the write job itself (a fresh
      // Observation per attempt, inside the retry); the batch id flows
      // through for sink-side replay idempotence
      try Seq(id -> commit(ObservedCount.insertCounted(sink, id, df, batchId)))
      catch { case e: Throwable => onFailure(Seq(id), e) }
    }

    def runCohort(group: Seq[Entry]): Seq[(CollectionId, Long)] = {
      val ids = group.map(_._1)
      val df = cohort(ids, group.head._2).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // the counts job is the cohort's first materialization of the
        // frame — inside the failure scope, so a poisoned record fails the
        // cohort exactly like a single write (which materializes inside
        // its wrapped write job)
        try {
          val counts = df.groupBy(col("_project"), col("_collection")).count()
            .collect()
            .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
          commit(sink.insertConsolidated(df, batchId))
          ids.map(id => id -> counts.getOrElse((id.project, id.collection), 0L))
        } catch { case e: Throwable => onFailure(ids, e) }
      } finally df.unpersist(false)
    }

    val entries = schemas.toSeq
    val consolidate = cohorts && cfg.consolidateThreshold > 0 &&
      entries.size >= cfg.consolidateThreshold && sink.supportsConsolidated
    val (groups, singles) =
      if (!consolidate) (Nil, entries)
      else {
        val (withRows, empty) = entries.partition { case (id, _) => sizeOf(id) > 0 }
        val (multi, lone) = withRows.groupBy { case (_, st) => st.json }.values.toSeq
          .partition(g => g.size >= 2 && EventSink.consolidatable(g.head._2))
        (multi, empty ++ lone.flatten)
      }
    val tasks: Seq[Either[Entry, Seq[Entry]]] =
      (singles.map(Left(_)) ++ groups.map(Right(_))).sortBy {
        case Left((id, _)) => -sizeOf(id)
        case Right(g)      => -g.map(e => sizeOf(e._1)).sum
      }
    ParallelWrites.run(tasks, cfg.writeParallelism) {
      case Left((id, st)) => runSingle(id, st)
      case Right(g)       => runCohort(g)
    }.flatten.toMap
  }
}
