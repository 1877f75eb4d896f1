package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** As-of (time-series) join: for each left row, the most recent right row
  * with `rightTime <= leftTime` in the same key group, optionally within a
  * tolerance.
  *
  * Spark-first formulation (build-prompt custom-operator case (a): compose
  * existing ops): UNION both sides tagged by origin, ONE shuffle+sort per
  * key group, then a running `last(right_payload, ignoreNulls)` window —
  * O(n log n) with no per-row lookups, no range explosion, AQE-compatible.
  * This is the standard scalable as-of pattern (vs. a broadcast
  * interval-join which explodes on wide tolerances); it would become a
  * custom `SparkPlan` only if the sort needed fusing with a custom state
  * layout.
  *
  * SKEW: a window partition is one key group — AQE's skew handling splits
  * sort-merge JOIN partitions, not window partitions, so a pathologically
  * hot key (one user with 20% of the events) serializes on a single task.
  * `skewBuckets > 1` switches to the segmented-scan formulation: the time
  * axis is split into `skewBuckets` ranges, the running window runs per
  * (key, bucket) — the hot key's rows spread over `skewBuckets` tasks —
  * and rows whose bucket holds no earlier right row take their match from
  * a per-(key, bucket) carry-in table (last right payload of every
  * PRECEDING bucket: at most keys × buckets rows, prefix-scanned with a
  * tiny window and joined back; AQE broadcasts it). Identical output to
  * the single-window plan — AsOfJoinSpec pins parity and the per-task
  * row bound under a planted hot key.
  *
  * Output: every left column, plus the matched right payload columns
  * (null when no match) — right columns must not collide with left ones
  * (pre-rename on the caller side).
  */
object AsOfJoin {

  /** Pure bucket-count policy for [[asOfJoinAuto]]: below the share
    * threshold the single-window plan wins (no carry-in join, no extra
    * aggregate); above it, the hot key's rows should spread over about
    * `topShare × parallelism` tasks so its partition levels with the
    * rest of the cluster, capped to keep the carry table (keys × buckets)
    * and the bucket min/max aggregate trivial.
    */
  def chooseSkewBuckets(topShare: Double, parallelism: Int,
                        threshold: Double = 0.05,
                        maxBuckets: Int = 32): Int =
    if (topShare < threshold || topShare.isNaN) 1
    else math.min(maxBuckets, math.max(2, math.ceil(topShare * parallelism).toInt))

  /** Cheap skew probe: the share of the hottest key group across both
    * inputs, measured on a bounded seeded sample (one narrow-column scan
    * + a map-side-combinable aggregate over the sample — strictly cheaper
    * than the join's own shuffle). Deterministic: fixed sample seed.
    */
  def probeTopKeyShare(left: DataFrame, right: DataFrame, on: Seq[String],
                       totalRows: Long,
                       sampleFraction: Double = 0.01): Double = {
    val keys = left.select(on.map(col): _*)
      .unionByName(right.select(on.map(col): _*))
    // sample at least ~100k rows (when available) so a >=5% key is seen
    // with overwhelming probability; never more than the whole input
    val frac = math.min(1.0,
      math.max(sampleFraction, 100000.0 / math.max(1L, totalRows)))
    val agg = keys.sample(withReplacement = false, frac, seed = 42)
      .groupBy(on.map(col): _*).agg(count(lit(1)).as("_c"))
      .agg(max(col("_c")).as("_max"), sum(col("_c")).as("_n")).head()
    if (agg.isNullAt(0) || agg.isNullAt(1) || agg.getLong(1) == 0L) 0.0
    else agg.getLong(0).toDouble / agg.getLong(1).toDouble
  }

  /** [[asOfJoin]] with `skewBuckets` chosen automatically (round-9
    * verdict task #6): a seeded key-histogram sample estimates the
    * hottest key's share; the segmented-scan mode engages only when the
    * share clears `skewShareThreshold` AND the hot key's estimated row
    * count clears `minHotRows` — skew share alone is the wrong gate
    * (measured: at 400k hot rows the single-window plan beats segmented
    * 1.75 s vs 5.74 s on local[32]; the mitigation pays only once one
    * task's sort of the hot partition is genuinely oversized — spill
    * territory, hundreds of MB). Inputs below `minProbeRows` skip the
    * probe entirely. NOTE: the probe runs `count()` + a sampled aggregate
    * over both inputs — callers with expensive upstream lineage should
    * persist first (or pick `skewBuckets` manually, the knob remains).
    */
  def asOfJoinAuto(left: DataFrame, right: DataFrame, on: Seq[String],
                   leftTime: String, rightTime: String,
                   tolerance: Option[Column] = None,
                   skewShareThreshold: Double = 0.05,
                   minProbeRows: Long = 1000000L,
                   minHotRows: Long = 2000000L,
                   maxBuckets: Int = 32,
                   sampleFraction: Double = 0.01): DataFrame = {
    val total = left.count() + right.count()
    val buckets =
      if (total < minProbeRows) 1
      else {
        val share = probeTopKeyShare(left, right, on, total, sampleFraction)
        if ((share * total).toLong < minHotRows) 1
        else chooseSkewBuckets(share,
          left.sparkSession.sparkContext.defaultParallelism,
          skewShareThreshold, maxBuckets)
      }
    asOfJoin(left, right, on, leftTime, rightTime, tolerance, buckets)
  }

  def asOfJoin(left: DataFrame, right: DataFrame, on: Seq[String],
               leftTime: String, rightTime: String,
               tolerance: Option[Column] = None,
               skewBuckets: Int = 1): DataFrame = {
    require(skewBuckets >= 1, s"skewBuckets must be >= 1, got $skewBuckets")
    val leftPayload = left.columns.filterNot(on.contains).toSeq
    val rightPayload = right.columns.filterNot(on.contains).toSeq
    require(leftPayload.intersect(rightPayload).isEmpty,
      s"overlapping non-key columns: ${leftPayload.intersect(rightPayload).mkString(",")}")

    val rStructType = StructType(right.select(rightPayload.map(col): _*).schema.fields)

    val lhs = left.select(
      on.map(col) ++ Seq(
        col(leftTime).as("_t"), lit(1).as("_src"),
        struct(leftPayload.map(col): _*).as("_lpay"),
        lit(null).cast(rStructType).as("_rpay")): _*)
    // ANSI join semantics (what SQL ASOF — and so the DuckDB oracle —
    // does): a NULL in any join key satisfies no equality and a NULL
    // right time satisfies no `<=`, so such right rows can match NOTHING
    // — drop them before the union. Without this the window formulation
    // would invent its own semantics: partitionBy groups NULL keys
    // together (null-keyed rows would match each other) and NULLs sort
    // first under asc (a null-time right row would match every later
    // left row). Left rows always survive (left-join shape); a
    // null-keyed or null-timed left row simply matches nothing.
    val rhs = right
      .where((on.map(col(_).isNotNull) :+ col(rightTime).isNotNull)
        .reduce(_ && _))
      .select(
      on.map(col) ++ Seq(
        col(rightTime).as("_t"), lit(0).as("_src"),
        lit(null).cast(StructType(left.select(leftPayload.map(col): _*).schema.fields)).as("_lpay"),
        struct(rightPayload.map(col): _*).as("_rpay")): _*)
    val union = lhs.unionByName(rhs)

    val matched =
      if (skewBuckets == 1) {
        // right rows sort BEFORE left rows at equal time (_src 0 < 1), so
        // `rightTime == leftTime` matches (ASOF >= semantics)
        val w = Window.partitionBy(on.map(col): _*)
          .orderBy(col("_t").asc, col("_src").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        union
          .withColumn("_match", last(col("_rpay"), ignoreNulls = true).over(w))
          .where(col("_src") === 1)
      } else {
        // segmented scan: bucket the time axis on the GLOBAL [min, max]
        // range (one 2-value aggregate — cheap, and monotone casts keep
        // ordering), window per (key, bucket), then fill bucket-local
        // misses from the carry-in of preceding buckets.
        //
        // The union feeds three consumers (the min/max aggregate, the
        // per-bucket window, the carry seed) — cache it so an expensive
        // upstream lineage is not re-executed per consumer. persist (NOT
        // localCheckpoint): lineage survives, so a lost executor's blocks
        // recompute instead of failing the job — the property that
        // matters on a large cluster with preemptible executors; the
        // min/max aggregate below materializes the cache.
        val mat = union.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // Monotone numeric image of _t. Plain cast("double") covers
        // numerics (identity) and TimestampType (epoch seconds — tz-free).
        // TimestampNTZ has no numeric cast and a session-tz round-trip
        // would be non-monotone across DST gaps, so NTZ maps through
        // wall-clock FIELD extraction (day number + time of day), which is
        // monotone on NTZ by construction and touches no timezone.
        val tNum: Column = mat.schema("_t").dataType match {
          case org.apache.spark.sql.types.TimestampNTZType =>
            datediff(col("_t").cast("date"), lit("1970-01-01")).cast("double") * 86400d +
              hour(col("_t")) * 3600d + minute(col("_t")) * 60d +
              date_part(lit("SECOND"), col("_t")).cast("double")
          case _ => col("_t").cast("double")
        }
        val Array(mn, mx) = mat
          .agg(min(tNum), max(tNum)).head().toSeq.toArray
        val (lo, hi) = (Option(mn).map(_.asInstanceOf[Double]).getOrElse(0.0),
                        Option(mx).map(_.asInstanceOf[Double]).getOrElse(0.0))
        val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
        // null _t never reaches floor (greatest skips nulls → bucket 0),
        // matching the single-window plan where asc-sort puts nulls FIRST
        val bucketed = mat.withColumn("_b",
          least(lit(skewBuckets - 1), greatest(lit(0),
            floor((tNum - lit(lo)) / lit(span) * skewBuckets).cast("int"))))
        val w = Window.partitionBy((on :+ "_b").map(col): _*)
          .orderBy(col("_t").asc, col("_src").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = bucketed
          .withColumn("_match", last(col("_rpay"), ignoreNulls = true).over(w))
          .where(col("_src") === 1)
        // last right payload per (key, bucket): keys × buckets rows max.
        // Seeded from EVERY populated (key, bucket) — a bucket holding
        // only left rows still needs the carry from earlier buckets —
        // with the right side's last payload where one exists. A null-_t
        // right row sorts FIRST under the single-window plan, so it is
        // still matchable: coalesce its ordering key to -inf instead of
        // letting max_by ignore the null.
        val bucketLast = bucketed
          .groupBy((on :+ "_b").map(col): _*)
          .agg(max_by(col("_rpay"),
            when(col("_src") === 0,
              coalesce(tNum, lit(Double.NegativeInfinity)))).as("_blast"))
        // carry-in for bucket b = last right payload over buckets < b
        // (tiny per-key window: at most `skewBuckets` rows per key)
        val cw = Window.partitionBy(on.map(col): _*).orderBy(col("_b").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val carry = bucketLast
          .withColumn("_carry", last(col("_blast"), ignoreNulls = true).over(cw))
          .select((on :+ "_b").map(col) :+ col("_carry"): _*)
        // NULL-SAFE key equality: the single-window plan groups null keys
        // into their own window partition (they match each other), so the
        // carry attach must not drop them — a plain equi-join would.
        val ckeys = on.indices.map(i => s"_ck$i")
        val carryRenamed = carry.select(
          on.zip(ckeys).map { case (k, ck) => col(k).as(ck) } ++
            Seq(col("_b").as("_cb"), col("_carry")): _*)
        val joinCond = on.zip(ckeys)
          .map { case (k, ck) => local(k) <=> carryRenamed(ck) }
          .foldLeft(local("_b") === carryRenamed("_cb"))(_ && _)
        local.join(carryRenamed, joinCond, "left")
          .withColumn("_match", coalesce(col("_match"), col("_carry")))
          .drop(ckeys ++ Seq("_b", "_cb", "_carry"): _*)
      }

    // tolerance: an interval (timestamp times) or numeric delta — the match
    // must satisfy rightTime >= leftTime - tolerance, else null
    val withTolerance = tolerance match {
      case Some(tol) =>
        matched.withColumn("_match",
          when(col(s"_match.$rightTime") >= col("_t") - tol, col("_match")))
      case None => matched
    }

    val projected = on.map(col) ++
      Seq(col("_t").as(leftTime)) ++
      leftPayload.map(c => col(s"_lpay.$c").as(c)) ++
      rightPayload.map(c => col(s"_match.$c").as(c))
    withTolerance.select(projected: _*)
  }
}
