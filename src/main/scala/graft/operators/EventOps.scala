package graft.operators

import graft.ingest.{JsonDialect, JsonEventParser}
import graft.schema.FieldNames
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ColumnBridge, DataFrameBridge}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, MapType, StructType}

import scala.jdk.CollectionConverters._

/** The reference's filter/predicate operators (SURVEY.md §2.3) re-expressed
  * as composable DataFrame transforms. All of these are narrow (no shuffle)
  * except the batch dedup's one exchange and the day-split promotion
  * histogram, which is one tiny aggregate.
  */
object EventOps {

  /** F1 — collection whitelist: non-members dropped pre-parse
    * (ref kafka/KafkaRealTimeWorker.java:103-104,352-354). Catalyst compiles
    * `isin` on a routing column to a codegen'd set probe; with a large list
    * it becomes an O(1) hash-set — no shuffle either way.
    */
  def whitelist(routed: DataFrame, allowed: Seq[String],
                collectionCol: String = "_collection"): DataFrame =
    if (allowed.isEmpty) routed
    else routed.filter(col(collectionCol).isin(allowed.map(_.toLowerCase): _*))

  /** D10 — checkpoint-column injection: `_shard_time` constant per batch
    * (ref deserialization/PageReader.buildPage:55-81; the RLE block is
    * Catalyst constant folding here — `current_timestamp()` is evaluated
    * once per query, not per row).
    */
  def withShardTime(df: DataFrame, names: FieldNames = FieldNames()): DataFrame =
    df.withColumn(names.checkpointField, current_timestamp())

  /** F2 (batch flavor) — exact duplicate drop on the reference's dedup key
    * `(_user, _time)`: a hash lookup per key, like the reference's
    * (ref kinesis/AvroDuplicateHandler.java:93-111). Rows with a null user
    * or time pass through UNdeduplicated — the reference only drops on a
    * PRESENT key (isUnique), and a plain `dropDuplicates` over the whole
    * frame would silently collapse all null-key rows.
    *
    * One hash exchange places keyed rows by `xxhash64(user, time)` and
    * null-key rows by a hash of their own content (map columns, which
    * cannot be hashed, are skipped). Placement depends on row content
    * alone, so a map stage recomputed after a fetch failure — even over
    * input whose order is not fixed, such as a shuffle read — sends every
    * row to the same reducer again: none is duplicated or lost.
    *
    * Each reduce partition folds its rows through a hash table from key to
    * current survivor. A row replaces the survivor when it is smaller under
    * the ascending ordering of the remaining columns in frame order — the
    * ordering `min(struct(rest))` compares with — so the kept row is the
    * lexicographic minimum, the same under any arrival order, rerun or
    * recomputed stage. Null-key rows stream straight through. Frames with a
    * non-orderable column (e.g. a map) keep the first row that arrives per
    * key.
    *
    * Memory: the table holds one row per distinct key of a reduce
    * partition, which is that partition's output, and does not spill. The
    * streaming callers' micro-batches are capped by their source
    * (`maxOffsetsPerTrigger`, `maxFilesPerTrigger`).
    *
    * The result is a frame over the folded Catalyst rows
    * ([[DataFrameBridge.ofRows]]). In a batch session with adaptive
    * execution on, building it runs the map stage (AQE plans the reduce
    * side from the map outputs); streaming micro-batches run with AQE off,
    * so there the frame stays lazy until its sink writes it.
    */
  def dedupExact(df: DataFrame, names: FieldNames = FieldNames()): DataFrame = {
    val schema = df.schema
    val (u, t) = (schema.fieldIndex(names.userField), schema.fieldIndex(names.timeField))
    val rest = schema.indices.filterNot(i => i == u || i == t)
    def ref(i: Int) = BoundReference(i, schema(i).dataType, schema(i).nullable)
    // a float key groups -0.0 with 0.0 and every NaN together, as a
    // Spark aggregate would (xxhash64 already places them alike)
    val keyExprs = Seq(u, t).map(ref).map {
      case r if r.dataType == DoubleType || r.dataType == FloatType => NormalizeNaNAndZero(r)
      case r => r
    }
    val order =
      if (rest.forall(i => RowOrdering.isOrderable(schema(i).dataType)))
        rest.map(i => SortOrder(ref(i), Ascending))
      else Nil
    val folded = dedupPlacement(df, names).queryExecution.toRdd.mapPartitions { rows =>
      val keyOf = UnsafeProjection.create(keyExprs)
      val smaller: (InternalRow, InternalRow) => Boolean =
        if (order.isEmpty) (_, _) => false
        else GenerateOrdering.generate(order).lt
      val survivors = new java.util.HashMap[UnsafeRow, InternalRow]()
      rows.filter { row =>
        val nullKey = row.isNullAt(u) || row.isNullAt(t)
        if (!nullKey) {
          val key = keyOf(row)
          val kept = survivors.get(key)
          if (kept == null) survivors.put(key.copy(), row.copy())
          else if (smaller(row, kept)) survivors.replace(key, row.copy())
        }
        nullKey
      } ++ survivors.values.iterator.asScala
    }
    DataFrameBridge.ofRows(df.sparkSession, folded, schema)
  }

  /** The one hash exchange [[dedupExact]] folds over: keyed rows placed by
    * `xxhash64(user, time)`, null-key rows by a hash of their non-map
    * columns.
    */
  private[graft] def dedupPlacement(df: DataFrame, names: FieldNames): DataFrame = {
    val cols = df.queryExecution.analyzed.output.map(ColumnBridge.column)
    def at(field: String) = cols(df.schema.fieldIndex(field))
    val (user, time) = (at(names.userField), at(names.timeField))
    df.repartition(when(user.isNotNull && time.isNotNull, xxhash64(user, time))
      .otherwise(xxhash64(df.schema.indices.filterNot(i => hasMap(df.schema(i).dataType))
        .map(cols): _*)))
  }

  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Result of the real-time/historical split (F4). */
  final case class DaySplit(realTime: DataFrame, historical: DataFrame,
                            promotedDays: Set[Int])

  /** F4 — real-time/historical day-split with the promotion heuristic
    * (ref kafka/KafkaRealTimeWorker.java:330-387):
    *
    *  - event day within `[today - outdatedDayIndex, today]` → real-time
    *  - other days are grouped; a day with more than `promoteMinRecords`
    *    records AND more than `promoteMinFraction` of the batch is promoted
    *    back to real-time (a backfill burst is "hot" again)
    *  - the rest is historical (re-routed, not merged — F5)
    *
    * `timeCol` may be any timestamp column (pre-parse callers pass the
    * cheaply-extracted event time, see [[decouple]]). The histogram is one
    * small aggregate over event days (≤ thousands of distinct days), safe
    * to collect. `today` is evaluated once, by that histogram job, and both
    * slices filter against the value it saw: every later job that reads a
    * slice splits the batch the same way, even across midnight.
    */
  def daySplit(df: DataFrame, timeCol: Column,
               today: Column = current_date(),
               outdatedDayIndex: Int = 1,
               promoteMinRecords: Long = 1000,
               promoteMinFraction: Double = 0.25): DaySplit = {
    val day = unix_date(to_date(timeCol))
    // histogram of ALL days in one job, split driver-side exactly like the
    // reference's Int2ObjectArrayMap pass
    val hist = df.select(day.as("_day"), unix_date(to_date(today)).as("_today"))
      .groupBy(col("_day")).agg(count(lit(1)), max(col("_today"))).collect()
    // `today` as the histogram job saw it; a slice that re-evaluated the
    // column in a later job could see another day
    val pinned = hist.collect { case r if !r.isNullAt(2) => r.getInt(2) }.reduceOption(_ max _)
    val counts = hist.map { r =>
      (if (r.isNullAt(0) || pinned.isEmpty) None else Some(pinned.get - r.getInt(0))) -> r.getLong(1)
    }
    val total = counts.map(_._2).sum
    val promoted = counts.collect {
      case (Some(idx), cnt) if !(idx >= 0 && idx <= outdatedDayIndex) && // out-of-window days only
        cnt > promoteMinRecords && cnt > promoteMinFraction * total => idx
    }.toSet

    val dayIdx = pinned.fold(lit(null).cast("int"))(t => lit(t) - day)
    val tagged = df.withColumn("_day_idx", dayIdx)
    val inWindow = col("_day_idx").between(0, outdatedDayIndex)
    val isRealTime =
      if (promoted.isEmpty) inWindow
      else inWindow || col("_day_idx").isin(promoted.toSeq: _*)
    DaySplit(
      realTime = tagged.filter(isRealTime).drop("_day_idx"),
      historical = tagged.filter(!isRealTime || col("_day_idx").isNull).drop("_day_idx"),
      promotedDays = promoted)
  }

  /** Pre-parse routing+time extraction (the reference's DecoupleMessage,
    * kafka/KafkaDecoupleMessage.java:46-114): reads ONLY `_time` and the
    * routing fields from the raw JSON, so the split can re-route historical
    * records without ever fully parsing them. Emits the raw value plus
    * `_project`/`_collection`/`_time` columns (nulls = malformed). The one
    * JSON routing scan: the streaming batch, `JsonIngest.ingest` and the
    * declared-schema queries all route through it.
    */
  def decouple(raw: Dataset[String], dialect: JsonDialect,
               names: FieldNames = FieldNames()): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.map { json =>
      JsonEventParser.decouple(json, dialect, names) match {
        case Some((id, time)) =>
          (json, id.project, id.collection,
           time.map(java.lang.Long.valueOf).orNull)
        case None => (json, null: String, null: String, null: java.lang.Long)
      }
    }.toDF("value", "_project", "_collection", "_time_millis")
      .withColumn("_time", timestamp_millis(col("_time_millis")))
      .drop("_time_millis")
  }

  /** B4 — batch-concat on commit: staged slices of one table become one
    * insert; schemas may differ batch-to-batch (monotonic widening), so
    * align by name and null-fill (ref TargetConnectorCommitter.java:58-68 →
    * `unionByName(allowMissingColumns)`).
    */
  def concatBatches(batches: Seq[DataFrame]): Option[DataFrame] =
    batches.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
}
