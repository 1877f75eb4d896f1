package graft.operators

import graft.ingest.{JsonDialect, JsonEventParser}
import graft.schema.FieldNames
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The reference's filter/predicate operators (SURVEY.md §2.3) re-expressed
  * as composable DataFrame transforms. All of these are narrow (no shuffle)
  * except the day-split promotion histogram, which is one tiny aggregate.
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
    * `(_user, _time)` (ref kinesis/AvroDuplicateHandler.java:93-111).
    * Rows with a null user or time pass through UNdeduplicated — the
    * reference only drops on a PRESENT key (isUnique), and a plain
    * `dropDuplicates` over the whole frame would silently collapse all
    * null-key rows.
    *
    * The KEPT row of a keyed group is deterministic: the lexicographic
    * minimum of the remaining columns (in frame order) wins, via a
    * `min(struct(...))` aggregate — same single shuffle as
    * `dropDuplicates`, but a stage recomputed after a shuffle-fetch
    * failure (or a rerun of the query) reproduces the identical survivor,
    * where `dropDuplicates` keeps an arbitrary first row per key.
    * Null-key rows have no such guarantee. Each is grouped on a
    * `monotonically_increasing_id`, which depends on the order its input
    * partition yields rows in: a map stage recomputed over input whose
    * order is not fixed can give a row another id, so it can hash to
    * another reducer and be duplicated or lost. Callers must pin that
    * order; the Avro path's `localCheckpoint` before this call
    * (`AvroIngest.processBatch`) exists for exactly that. Frames carrying
    * a non-orderable column (e.g. a map) fall back to the
    * arbitrary-keeper `dropDuplicates`.
    */
  def dedupExact(df: DataFrame, names: FieldNames = FieldNames()): DataFrame = {
    val keyCols = Seq(names.userField, names.timeField)
    val rest = df.columns.filterNot(keyCols.contains).toSeq
    val hasKey =
      col(names.userField).isNotNull && col(names.timeField).isNotNull
    val orderable = rest.forall(c =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(df.schema(c).dataType))
    // ONE scan for both populations: the old shape unioned the
    // aggregated keyed rows with `df.where(!hasKey)` — a SECOND full
    // evaluation of the input (for the ingest queries that is a second
    // full JSON parse of every record). Instead, null-key rows ride the
    // same aggregate as their own singleton groups via a synthetic group
    // id that is null for keyed rows and globally unique for null-key
    // rows (partition id ⊕ offset — uniqueness, not the value, is what
    // matters, and a singleton group's min(struct(rest)) is the row
    // itself). Grouping on (user, time, uid) cannot mix the two
    // populations: keyed rows have uid null, null-key rows never share a
    // uid.
    require(!df.columns.contains("_graft_uid"),
      "dedupExact: input already carries the synthetic _graft_uid column")
    val uid = when(!hasKey, monotonically_increasing_id())
    val grouped = keyCols :+ "_graft_uid"
    if (rest.isEmpty || !orderable)
      df.withColumn("_graft_uid", uid)
        .dropDuplicates(grouped)
        .drop("_graft_uid")
    else
      df.withColumn("_graft_uid", uid)
        .groupBy(grouped.map(col): _*)
        .agg(min(struct(rest.map(col): _*)).as("_graft_rest"))
        .select(df.columns.toSeq.map(c =>
          if (keyCols.contains(c)) col(c)
          else col("_graft_rest").getField(c).as(c)): _*)
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
    * cheaply-extracted event time, see [[Decouple]]). The histogram is one
    * small aggregate over day indices (≤ thousands of distinct days), safe
    * to collect.
    */
  def daySplit(df: DataFrame, timeCol: Column,
               today: Column = current_date(),
               outdatedDayIndex: Int = 1,
               promoteMinRecords: Long = 1000,
               promoteMinFraction: Double = 0.25): DaySplit = {
    val dayIdx = datediff(today, to_date(timeCol))
    val tagged = df.withColumn("_day_idx", dayIdx)
    val inWindow = col("_day_idx").between(0, outdatedDayIndex)

    // histogram of ALL days in one job (tiny result — ≤ thousands of
    // distinct days), split driver-side: the previous shape ran a second
    // full pass just to count the in-window rows the first pass filtered
    // out. Driver-side heuristic exactly like the reference's
    // Int2ObjectArrayMap pass.
    val hist = tagged
      .groupBy(col("_day_idx")).count().collect()
      .map(r => (if (r.isNullAt(0)) Int.MinValue else r.getInt(0)) -> r.getLong(1)).toMap
    val total = hist.values.sum
    val promoted = hist.collect {
      case (day, cnt) if day != Int.MinValue &&
        !(day >= 0 && day <= outdatedDayIndex) && // out-of-window days only
        cnt > promoteMinRecords && total > 0 && cnt > promoteMinFraction * total => day
    }.toSet

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
    * `_project`/`_collection`/`_time` columns (nulls = malformed).
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
