package graft

import graft.functions.{DedupFunctions, SimilarityFunctions, TextFunctions}
import graft.ingest.{AvroIngest, JsonDialect, JsonIngest}
import graft.operators.EventOps
import graft.schema.{CollectionId, EventSchema, FieldNames}
import graft.sinks.ColumnarSink
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` keys map to SURVEY.md §2 operator ids (prefixes s/d/f/b/k =
  * ingestion dataflow operators; q/w = the relational query surface served
  * by Catalyst; text_/dedup_/ann_/mm_ = the beyond-reference
  * LLM-pipeline operators). Every key with a SQL-expressible result also
  * appears in [[oracleSql]]; non-SQL-expressible ops (LSH buckets, stub
  * kernels) are rows-only checked and covered by ScalaTest instead.
  */
object SparkEntry {

  private val names = FieldNames()

  /** The driver's `events.parquet` has shipped `ts` under two encodings:
    * an INT64-nanos long (read as BIGINT under
    * `spark.sql.legacy.parquet.nanosAsLong`) and, since the 2026-08-13
    * regeneration, a native `timestamp[us]` (TIMESTAMP_NTZ). Dispatch on
    * the column type actually present so either encoding works, and the
    * session timezone is pinned to UTC so the NTZ→timestamp cast is
    * value-preserving. The DuckDB replay is an explicit integer FLOOR
    * division over `epoch_us` — NOT `epoch_ms`, which truncates toward
    * zero and disagrees with Spark's `unix_millis` (Math.floorDiv) by
    * 1 ms on every pre-1970 timestamp that is not an exact millisecond
    * multiple (XL fuzz seed 17 caught the divergence as a dedup-key
    * collision the oracle didn't have).
    */
  private[graft] def tsMillis(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      // FLOOR, not bare `div` (which truncates toward zero): subtracting
      // the non-negative pmod remainder makes the dividend an exact
      // multiple, where div == floor — matching unix_millis
      // (Math.floorDiv) on the other branch and the oracle's floor
      // replay on pre-1970 nanos. (Doubles can't do it: ns magnitudes
      // exceed 2^53.)
      case LongType => expr("(ts - pmod(ts, 1000000)) div 1000000")
      case _        => unix_millis(col("ts").cast("timestamp"))
    }

  /** `ts` as a proper TIMESTAMP column (micros precision), either encoding. */
  private[graft] def tsTimestamp(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      // same floor-division form as tsMillis, at ns→µs
      case LongType => timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000"))
      case _        => col("ts").cast("timestamp")
    }

  /** Rebuild the driver `events` parquet as Fabric-envelope JSON lines —
    * the wire shape the reference ingests (FIXTURES.md §1). Collection =
    * event_type, project = "demo"; the props JSON object is inlined so its
    * `k` field exercises dynamic map inference.
    */
  def eventsAsFabricJson(spark: SparkSession, sfDir: String): Dataset[String] = {
    // the Fabric wire format wants epoch millis (either `ts` encoding).
    // one parquet file < maxPartitionBytes = ONE scan partition; spread the
    // wire stream across the cluster before the (CPU-bound) parse passes
    val ev = graft.schema.TableContract.check("events",
        spark.read.parquet(s"$sfDir/events.parquet"))
      .repartition(spark.sparkContext.defaultParallelism)
    // NULL-SAFE per field: concat() nulls the WHOLE line if any argument
    // is null, which would silently drop the event engine-side while the
    // oracles still count the row. Null columns serialize as JSON nulls
    // (null collection → empty name → routing validity drops it on both
    // sides; null ts → "_time":null → historical split on both sides).
    ev.select(concat(
      lit("""{"id":""""), coalesce(col("event_id").cast("string"), lit("")),
      lit("""","metadata":{},"data":{"""),
      lit(""""_project":"demo","_collection":""""),
      coalesce(jsonEsc(col("event_type")), lit("")), lit("\","),
      lit(""""_time":"""), coalesce(tsMillis(ev).cast("string"), lit("null")),
      lit(","),
      when(col("user_id").isNull, lit(""""_user":null,"""))
        .otherwise(concat(lit(""""_user":"u"""), col("user_id"), lit("\","))),
      lit(""""value":"""), coalesce(finiteOrNull(col("value")).cast("string"), lit("null")),
      lit(","),
      lit(""""props":"""), propsOrNull(col("props")),
      lit("}}")).as("value")).as(Encoders.STRING)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")

  /** Documents with a deterministic synthetic crawl URL (the corpus
    * tables carry no URL column, so the url_* queries synthesize one the
    * same way d2/d7 synthesize JSON wire from `events`). The residues
    * are chosen to exercise every canonicalization rule: mixed-case
    * scheme/host, `www.`, default (`:443`) and non-default (`:8080`)
    * ports, trailing slash, unsorted params, `utm_`/`gclid` tracking
    * params, and fragments. Mirrored verbatim by [[urlSynthSql]].
    */
  private def docUrls(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // pmod, not %: a negative doc_id's `% 4` is negative in both engines
    // (sign of the dividend), which here would be element_at index 0 —
    // an error in Spark, NULL in DuckDB; the oracle CASEs on the same
    // ((doc_id%4)+4)%4 form
    val suffix = element_at(
      array(lit(".example.com"), lit(".example.co.uk"),
        lit(".blog.org"), lit(".news.net")),
      (pmod($"doc_id", lit(4)) + 1).cast("int"))
    docs(s, dir).select($"doc_id", $"source", $"text", concat(
      when($"doc_id" % 2 === 0, "https").otherwise("HTTPS"), lit("://"),
      when($"doc_id" % 3 === 0, "WWW.").otherwise(""), $"source", suffix,
      when($"doc_id" % 5 === 0, ":443")
        .when($"doc_id" % 7 === 0, ":8080").otherwise(""),
      lit("/Docs/"), $"doc_id" % 3,
      when($"doc_id" % 2 === 0, "/").otherwise(""),
      lit("?b=2&a="), $"doc_id" % 2,
      when($"doc_id" % 2 === 0, "&utm_source=feed").otherwise(""),
      when($"doc_id" % 5 === 0, "&gclid=g1").otherwise(""),
      when($"doc_id" % 3 === 0, "#sec").otherwise("")).as("url"))
  }

  /** One DSIR corpus snapshot per (session-lifetime, sfDir): built lazily
    * on first use, reused by every later `corpus_drift` invocation (bench
    * warmup + runs time only the drift scoring, not the snapshot build),
    * and deleted recursively on JVM exit.
    */
  private val driftSnapshots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def driftSnapshotDir(s: SparkSession, dir: String,
                               corpus: DataFrame): String =
    driftSnapshots.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files.createTempDirectory("drift_snapshot")
      graft.operators.Dsir.snapshot(corpus, "text", buckets = 1024)
        .save(p.toString)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
        } catch { case _: Throwable => () }
      }))
      p.toString
    })
  /** Engine-portable fixed-point rounding, SHADOWING functions.round for
    * every query in this object: `floor(x·10^s + 0.5) / 10^s` evaluated
    * in IEEE doubles produces bit-identical results in Spark and DuckDB,
    * while the engines' native round() disagree on decimal-half doubles
    * (Spark: HALF_UP on the shortest decimal representation — 0.145→0.15;
    * DuckDB: scaled-binary rounding — 0.145::DOUBLE→0.14). A single
    * aggregate landing on such a value would flip the driver's hash
    * compare. The oracle SQL uses the same floor form. (TextFunctions
    * .basisPoints documents the same rule at scale 4.)
    */
  private def round(c: org.apache.spark.sql.Column, scale: Int)
      : org.apache.spark.sql.Column = {
    val f = math.pow(10, scale)
    // non-finite passthrough: Spark's floor() returns LONG, so floor(Inf)
    // would silently become Long.MaxValue while DuckDB's floor(Inf) stays
    // Inf — NaN/Inf aggregates must survive rounding unchanged on both
    when(isnan(c) || abs(c) === lit(Double.PositiveInfinity), c)
      .otherwise(floor(c * lit(f) + lit(0.5)) / lit(f))
  }

  /** JSON string-escape for values interpolated into synthesized wire
    * lines: backslash first, then quote — a routing name like `say "hi"`
    * is VALID (no separators/control chars) and must survive the JSON
    * round-trip instead of corrupting the whole line.
    */
  private def jsonEsc(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")

  /** Raw `props` JSON embedded into a wire line, or JSON null when the
    * stored string is not valid JSON (a malformed props value must not
    * take the whole EVENT down — the row survives with null props on
    * both engines; oracles guard with json_valid the same way).
    */
  private def propsOrNull(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(get_json_object(c, "$").isNotNull, c).otherwise(lit("null"))

  /** Measure column for a JSON wire line: JSON has no NaN/Infinity, so a
    * non-finite double serializes as null — the EVENT survives with a
    * null measure on both engines (oracles mirror with isfinite()).
    */
  private def finiteOrNull(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(!isnan(c) && abs(c) =!= lit(Double.PositiveInfinity), c)

  /** Order-independent rounded SUM: each row quantizes to integer units
    * (floor(x·10^s + 0.5), non-finite skipped), the INTEGER sum is exact
    * under any partitioning/fold order, and the final /10^s division of
    * a < 2^53 integer is bit-identical in both engines. A plain
    * round(sum(double)) is NOT cross-engine stable: float addition is
    * non-associative, so two engines (or two Spark runs with different
    * partition orders) can land ulps apart and flip the last decimal —
    * observed on the hostile corpus. Oracles use the same formula.
    */
  private def sumRound(c: org.apache.spark.sql.Column, scale: Int)
      : org.apache.spark.sql.Column = {
    val f = math.pow(10, scale)
    sum(when(!isnan(c) && abs(c) =!= lit(Double.PositiveInfinity),
      floor(c * lit(f) + lit(0.5)))) / lit(f)
  }

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    // contract check is schema-metadata only (no job) — see TableContract
    graft.schema.TableContract.check(name,
      s.read.parquet(s"$dir/$name.parquet"))

  /** Self-validating recall certificate for an approximate top-k result —
    * the `agg_approx_sketch` pattern applied to ANN: join the approximate
    * top-k against the exact brute-force top-k IN the query and emit one
    * row of engine-stable facts. `n_queries`/`n_exact` the oracle
    * recomputes from the probe predicate; `recall_floor_bp` is the
    * contract constant; `recall_ok` asserts the approximate method met it
    * (a recall regression flips the flag and fails the hash compare —
    * unlike a rows-only check, which would not notice).
    */
  /** Typed zero-row result for queries whose dynamic input (the routed
    * collection map, most often) came out empty: the oracle returns zero
    * rows there, and a reduce() over zero per-collection frames — or a
    * read of a sink nothing was written to — would throw instead.
    */
  private def emptyResult(s: SparkSession, cols: (String, DataType)*): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(cols.map { case (n, t) => StructField(n, t) }))

  /** The certificate totals are CLOSED-FORM — `n_queries` = finite probe
    * vectors, `n_exact` = n_queries × min(k, finite corpus − 1) — rather
    * than counted off the brute-force result. On any corpus with more
    * than k+1 usable vectors the two are identical (brute force emits
    * exactly min(k, n−1) rows per finite probe); on degenerate corpora
    * (empty, single-vector) only the closed form is DuckDB-replayable,
    * so both engines compute it and the hash compare holds on any data.
    *
    * Hits are TIE-AWARE: an approximate neighbor counts when its exact
    * cosine_bp reaches the query's exact 5th-best — the standard
    * recall-with-ties definition. Under the basis-point quantization a
    * mass-duplicated corpus (drill waves 8/10) puts whole tie CLASSES at
    * one score, and exact-id matching would then grade the approximate
    * method on which tie member it picked — luck, not recall. Tie-aware
    * hits are a superset of id-exact hits, so every previously-passing
    * corpus still passes.
    */
  private def recallCertificate(approx: DataFrame, exact: DataFrame,
                                recallFloorBp: Long,
                                corpus: DataFrame, probes: DataFrame,
                                vecCol: String, idCol: String,
                                k: Int): DataFrame = {
    val nQueries = probes.where(SimilarityFunctions.finiteVec(vecCol))
      .select(col(idCol)).agg(count_distinct(col(idCol))).head().getLong(0)
    val nCorpus = corpus.where(SimilarityFunctions.finiteVec(vecCol)).count()
    val nExact = nQueries * math.min(k.toLong, math.max(nCorpus - 1, 0L))
    val thresh = exact.groupBy(col("query_id"))
      .agg(min(col("cosine_bp")).as("_min_bp"))
    val hits = approx.select(col("query_id"), col("cosine_bp"))
      .join(thresh, Seq("query_id"))
      .where(col("cosine_bp") >= col("_min_bp"))
      .agg(count(lit(1)).as("_n_hits"))
    hits.select(lit(nQueries).as("n_queries"), lit(nExact).as("n_exact"),
      lit(recallFloorBp).as("recall_floor_bp"),
      (col("_n_hits") * 10000 >= nExact * recallFloorBp)
        .cast("long").as("recall_ok"))
  }

  /** Multiset equality of two same-schema frames in ONE aggregation pass:
    * tag rows +1/-1, group by every column, and look for any nonzero sum.
    * Exactly equivalent to `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty`
    * (Spark compiles EACH exceptAll to this same union+sum+filter shape,
    * plus a row-replicating Generate) — so the fused form runs one job and
    * one exchange where the two-probe form ran two of each, for the
    * identical boolean. Used by the swap-identity certificates.
    */
  private def multisetEqual(a: DataFrame, b: DataFrame): Boolean = {
    // the helper columns must not collide with a data column — a frame
    // already carrying `_ms`/`_d` would group wrong silently (ADVICE r14;
    // same defensive style as insertConsolidated's clash check)
    require(!a.columns.exists(c => c == "_ms" || c == "_d"),
      s"multisetEqual: input columns ${a.columns.mkString(", ")} collide " +
        "with the helper columns _ms/_d — rename them first")
    val cols = a.columns.map(col).toSeq
    a.select(cols: _*).withColumn("_ms", lit(1L))
      .unionAll(b.select(cols: _*).withColumn("_ms", lit(-1L)))
      .groupBy(cols: _*).agg(sum(col("_ms")).as("_d"))
      .where(col("_d") =!= 0L)
      .isEmpty
  }

  /** One-row degenerate result for ann_ivf_incremental on a corpus with
    * zero usable vectors: nothing to train, append, or certify — all
    * contracts trivially hold, matching the oracle's aggregate row.
    */
  private def emptyAnnIncrementalResult(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, 0L, 5000L, 1L, 0L, 1L)).toDF("n_queries", "n_exact",
      "recall_floor_bp", "recall_ok", "n_appended", "identical")
  }

  /** Full JSON ingest of the events wire stream → per-collection frames. */
  private def ingested(s: SparkSession, dir: String): Map[CollectionId, DataFrame] = {
    val registry = new EventSchema.Registry()
    val (_, parsed) = JsonIngest.ingest(eventsAsFabricJson(s, dir), registry)
    parsed
  }

  /** Stable union of the per-collection frames with a collection column.
    * MAP columns are normalized to their JSON encoding first: collections
    * can legitimately infer DIFFERENT map value types for the same nested
    * field (numeric k in one collection, string k in another), and the
    * union's type coercion would insert a runtime-failing cast — as a
    * JSON string the column unions losslessly, stays orderable (the
    * deterministic dedup keeper needs that), and consumers extract with
    * get_json_object + try_cast.
    */
  private def ingestedUnion(s: SparkSession, dir: String): DataFrame = {
    val parts = ingested(s, dir).toSeq.sortBy(_._1.collection).map { case (id, df) =>
      val jsonSafe = df.columns.foldLeft(df) { (d, c) =>
        d.schema(c).dataType match {
          case _: org.apache.spark.sql.types.MapType =>
            d.withColumn(c, to_json(col(c)))
          case _ => d
        }
      }
      jsonSafe.withColumn("collection", lit(id.collection))
    }
    if (parts.isEmpty)
      // an empty (or fully-invalid) wire batch routes ZERO collections;
      // the consumers' groupBys then yield the oracle's zero rows. The
      // schema carries every column a consumer references (the columns
      // the parser emits for any non-empty events batch).
      emptyResult(s, "collection" -> StringType, "_user" -> StringType,
        "_time" -> TimestampType, "value" -> DoubleType,
        "props" -> StringType)
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    ingestedUnion(spark, "/root/testdata/sf0.001")
      .groupBy($"collection")
      .agg(count(lit(1)).as("n"), sumRound($"value", 2).as("sum_value"))
      .orderBy($"collection")
  }

  // =================================================================
  // queries
  // =================================================================

  /** LSH candidate pairs → alternating-star connected components →
    * `(cluster_id, n_members, max_member)` per duplicate family. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = DedupFunctions.minhashCandidates(docs(s, dir), "doc_id",
      "text", k = 12, nBands = 4, shingleSize = 3, maxBandFreq = 1000)
    DedupFunctions.connectedComponentsAlternating(pairs, "id_a", "id_b")
      .groupBy($"label".as("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max($"v").as("max_member"))
      .orderBy($"cluster_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- ingestion dataflow operators (SURVEY §2) --------------------

    // D1-D7: dynamic-schema JSON ingest end-to-end (routing, inference,
    // evolution, coercion), rolled up per collection.
    "d7_ingest_route" -> ((s, dir) => {
      import s.implicits._
      ingestedUnion(s, dir).groupBy($"collection").agg(
          count(lit(1)).as("n_events"),
          sumRound($"value", 2).as("sum_value"),
          // props is JSON-normalized by ingestedUnion; try_cast: a
          // non-numeric k contributes NULL (D3 mismatch-skip semantics),
          // never an ANSI cast failure
          sumRound(expr("try_cast(get_json_object(props, '$.k') AS DOUBLE)"), 2)
            .as("sum_props_k"),
          count($"_user").as("n_users"))
        .orderBy($"collection")
    }),

    // F1: collection whitelist pre-parse on the decoupled stream.
    "f1_whitelist" -> ((s, dir) => {
      import s.implicits._
      val dec = EventOps.decouple(eventsAsFabricJson(s, dir), JsonDialect.Fabric)
      EventOps.whitelist(dec, Seq("purchase", "view", "click"))
        .groupBy($"_collection".as("collection")).count()
        .orderBy($"collection")
    }),

    // F4: real-time/historical day-split (window anchored at the corpus
    // max date so the result is deterministic) incl. promotion heuristic.
    "f4_day_split" -> ((s, dir) => {
      import s.implicits._
      val dec = EventOps.decouple(eventsAsFabricJson(s, dir), JsonDialect.Fabric)
        .filter($"_project".isNotNull)
        .persist()
      val maxDay = dec.agg(max(to_date($"_time"))).head().getDate(0)
      val split = EventOps.daySplit(dec, $"_time", today = lit(maxDay))
      val out = split.realTime.select(lit("realtime").as("bucket"))
        .unionAll(split.historical.select(lit("historical").as("bucket")))
        .groupBy($"bucket").agg(count(lit(1)).as("n")).orderBy($"bucket")
      out.collect() // materialize before unpersist
      dec.unpersist()
      out
    }),

    // F2: exact dedup on the reference key (_user, _time) after ingest.
    "f2_dedup_exact" -> ((s, dir) => {
      import s.implicits._
      val all = ingestedUnion(s, dir)
      // `collection` leads the non-key columns so dedupExact's
      // deterministic lexicographic-min keeper resolves cross-collection
      // (user, time) collisions to min(collection) — which the oracle
      // reproduces exactly (an arbitrary dropDuplicates keeper wouldn't
      // even be stable across Spark reruns)
      val ordered = all.select(
        (Seq("collection") ++ all.columns.filterNot(_ == "collection"))
          .map(col): _*)
      EventOps.dedupExact(ordered, names)
        .groupBy($"collection").agg(count(lit(1)).as("n_distinct"))
        .orderBy($"collection")
    }),

    // D5/D6: Avro wire roundtrip — rows encoded to tagged Avro binary
    // (10% with a truncated writer schema missing the trailing column,
    // exercising null-fill resolution), decoded back, aggregated.
    "d5_avro_roundtrip" -> ((s, dir) => avroRoundtrip(s, dir)),

    // D2: Rakam-dialect ingest — events re-serialized into the Rakam
    // envelope (routing at top level, fields under `properties`,
    // RakamJsonDeserializer.java:137-157). `seen_at` alternates ISO string
    // (parses) with numeric millis: Rakam REJECTS numeric values for
    // timestamp columns (→ null, ref :363-377) EXCEPT the canonical
    // `_time`, which stays numeric here to pin the exception (ref :350-360).
    "d2_rakam_ingest" -> ((s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "events")
        .repartition(s.sparkContext.defaultParallelism)
      // null-safe like eventsAsFabricJson: one null column must not null
      // the whole wire line (the oracle still counts the row)
      val wire = ev.select(concat(
        lit("""{"project":"demo","collection":""""),
        coalesce(jsonEsc($"event_type"), lit("")), lit("\","),
        lit(""""properties":{"_time":"""),
        coalesce(tsMillis(ev).cast("string"), lit("null")), lit(","),
        when($"user_id".isNull, lit(""""_user":null,"""))
          .otherwise(concat(lit(""""_user":"u"""), $"user_id", lit("\","))),
        lit(""""value":"""), coalesce(finiteOrNull($"value").cast("string"), lit("null")),
        lit(","),
        lit(""""seen_at":"""),
        coalesce(
          when($"event_id" % 10 === 0, tsMillis(ev).cast("string"))
            .otherwise(concat(lit("\""),
              date_format(timestamp_millis(tsMillis(ev)),
                          "yyyy-MM-dd'T'HH:mm:ss"), lit("\""))),
          lit("null")),
        lit("}}")).as("value")).as(Encoders.STRING)
      // Declared-schema parse against a metastore-declared TIMESTAMP column —
      // the reference's shape: column types never change once created
      // (MetadataDao.java:114-133), so a Rakam client sending a numeric
      // into `seen_at` nulls that value rather than retyping the column.
      // (Inference-driven evolve() would widen the mixed-type column to
      // STRING — registry drift resolution, a different code path.)
      val schema = StructType(Seq(
        StructField("_time", TimestampType), StructField("_user", StringType),
        StructField("value", DoubleType), StructField("seen_at", TimestampType)))
      // Every collection here shares the ONE declared schema, so the
      // per-collection loop (persist the routing cache + C filtered parse
      // passes + a distinct-collect of the collection universe, then a
      // full recompute when the caller materializes the returned frame)
      // collapses to a single cohort parse pass (guide §1.2 step 1).
      // decouple already validated + normalized every collection name
      // with the same CollectionId.isValid/normalize the old loop applied
      // driver-side, and parseAllRouted's per-record semantics are exactly
      // parseCollection's — same parseEvent, same schema.
      val routed = EventOps.decouple(wire, JsonDialect.Rakam)
        .filter($"_project".isNotNull)
      JsonIngest.parseAllRouted(routed, schema, JsonDialect.Rakam)
        .groupBy($"_collection".as("collection")).agg(
          count(lit(1)).as("n_events"),
          count($"seen_at").as("n_seen"),                     // numeric → null
          // `div` truncates toward zero like the oracle's `//` — exact
          // for pre-1970 timestamps where unix_timestamp (floor) differs
          sum(expr("unix_millis(_time) div 1000")).as("sum_time_s"),
          sumRound($"value", 2).as("sum_value"))
        .orderBy($"collection")
    }),

    // D3+K1 corner: DECIMAL and BINARY through the full JSON ingest →
    // parquet → read-back path. The reference RECOGNIZED both tokens but
    // wrote null for DECIMAL (a TODO, FabricJsonDeserializer.java:352-355)
    // and threw on Avro BYTES (AvroPageDatumReader.java:150-153); graft
    // maps them to DecimalType(38,18)/BinaryType (FieldType.scala:33-34).
    // This query proves the mapping end-to-end: a metastore-declared
    // column coerces the JSON string value into the DECLARED type, the
    // columnar rest format round-trips it exactly, and the DuckDB oracle
    // recomputes both columns from the raw events table.
    "d_decimal_binary_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "events")
        .repartition(s.sparkContext.defaultParallelism)
      // exact-decimal string assembled from integers (double formatting is
      // not engine-stable) + base64 payload of a deterministic string
      // null-safe per field (one null column must not null the whole
      // line); composite fields go JSON-null when ANY part is null, the
      // same null-propagation the oracle's `||` concatenation has
      val wire = ev.select(concat(
        lit("""{"id":""""), coalesce($"event_id".cast("string"), lit("")),
        lit("""","metadata":{},"data":{"""),
        lit(""""_project":"demo","_collection":"dbin","_time":"""),
        coalesce(tsMillis(ev).cast("string"), lit("null")), lit(","),
        lit(""""eid":"""), coalesce($"event_id".cast("string"), lit("null")),
        lit(","),
        lit("\"amount\":"),
        when($"event_id".isNull || $"user_id".isNull, lit("null"))
          .otherwise(concat(lit("\""), $"event_id", lit("."),
            lpad(pmod($"user_id", lit(1000L)).cast("string"), 3, "0"),
            lit("\""))),
        lit(","),
        lit("\"payload\":"),
        // payload source bounded in BYTES (12 chars x <=4 UTF-8 bytes +
        // ':' + <=5 digits = 54 <= 57) so the base64 NEVER crosses the
        // 76-char threshold where Spark MIME-chunks with CRLF — invalid
        // inside a JSON string (found by the hostile drill; a chars-only
        // cap was still breakable by CJK names or 19-digit ids)
        when($"event_type".isNull || $"event_id".isNull, lit("null"))
          .otherwise(concat(lit("\""),
            base64(concat(substring($"event_type", 1, 12), lit(":"),
              pmod($"event_id", lit(100000L))).cast("binary")),
            lit("\""))),
        lit("}}")).as("value")).as(Encoders.STRING)
      // declared-schema parse against metastore-DECLARED column types (the
      // d2 pattern): inference would type the JSON string values as
      // STRING; a pre-created DECIMAL/BINARY column coerces instead
      val id = CollectionId("demo", "dbin")
      val schema = StructType(Seq(
        StructField("eid", LongType),
        StructField("amount", DecimalType(38, 18)),
        StructField("payload", BinaryType)))
      // no persist: the routed frame feeds exactly ONE consumer (the
      // parse → parquet write below), so caching it only paid a full
      // cache-build pass for zero reuse — wire → route → parse → write
      // now fuses into one codegen'd pass (guide §5: cache only on reuse)
      val routed = EventOps.decouple(wire, JsonDialect.Fabric)
        .filter($"_project".isNotNull)
      val parsed = JsonIngest.parseCollection(routed, id, schema,
        JsonDialect.Fabric)
      val base = java.nio.file.Files.createTempDirectory("graft_dbin").toString
      parsed.write.mode("overwrite").parquet(base)
      s.read.parquet(base).select(
          $"eid",
          $"amount".cast("string").as("amount_str"),
          md5($"payload").as("payload_md5"),
          length($"payload").cast("long").as("payload_len"))
        .orderBy($"eid")
    }),

    // K1+B4: columnar sink roundtrip — per-collection partitioned write
    // with schema evolution at rest, read back through mergeSchema.
    "k1_sink_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
      val sink = new ColumnarSink(base)
      val parsed = ingested(s, dir)
      // bounded-parallel inserts — disjoint collection paths, see
      // e2e_pipeline
      graft.util.ParallelWrites.run(
        parsed.toSeq.sortBy(_._1.collection), 4) { case (id, df) =>
        sink.insert(id, df)
      }
      // read back PER COLLECTION (the reference's access pattern — one
      // table per collection): a cross-collection mergeSchema read can
      // legitimately fail when two collections infer incompatible nested
      // types for the same field name. Bounded-parallel plan construction
      // (the mergeSchema load lists + merges footers eagerly per
      // collection) — see e2e_pipeline's read-back
      val parts = graft.util.ParallelWrites.run(
        parsed.keys.toSeq.sortBy(_.collection), 4) { id =>
        sink.read(s, id).agg(
            count(lit(1)).as("n"),
            sumRound($"value", 2).as("sum_value"))
          .select(lit(id.collection).as("collection"), $"n", $"sum_value")
      }
      if (parts.isEmpty) // zero collections routed: the oracle's 0 rows
        emptyResult(s, "collection" -> StringType, "n" -> LongType,
          "sum_value" -> DoubleType)
      else parts.reduce(_.unionByName(_)).orderBy($"collection")
    }),

    // K1 at collection CARDINALITY: 100 same-schema collections through
    // the full streaming batch entry (IngestStream.processBatch) with the
    // consolidation threshold crossed, so the cohort path — one parse
    // pass + ONE dynamic-partition-overwrite write — does the landing
    // (ConsolidatedWriteSpec pins the job shape; this query puts the
    // at-rest CONTENT under the DuckDB oracle). splitEnabled=false is the
    // historical-drain shape: every record inserts regardless of its
    // event-day, which keeps the oracle an exact whole-table aggregate.
    "k1_consolidated_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "events")
        .repartition(s.sparkContext.defaultParallelism)
      // null-safe: a null event_type or user_id empties the collection
      // name, which routing validity then drops — mirrored by the
      // oracle's user_id IS NOT NULL filter on top of the ing CTE
      val wire = ev.select(concat(
        lit("""{"data":{"_project":"demo","_collection":""""),
        coalesce(concat(jsonEsc($"event_type"), lit("_c"), ($"user_id" % 20)), lit("")),
        lit("\","),
        lit(""""_time":"""), coalesce(tsMillis(ev).cast("string"), lit("null")),
        lit(","),
        when($"user_id".isNull, lit(""""_user":null,"""))
          .otherwise(concat(lit(""""_user":"u"""), $"user_id", lit("\","))),
        lit(""""value":"""), coalesce(finiteOrNull($"value").cast("string"), lit("null")),
        lit("}}")).as("value")).as(Encoders.STRING)
      val base = java.nio.file.Files.createTempDirectory("graft_cons").toString
      val sink = new ColumnarSink(base)
      graft.streaming.IngestStream.processBatch(s, wire,
        new EventSchema.Registry(), sink,
        historical = None,
        graft.streaming.IngestConfig(splitEnabled = false,
          consolidateThreshold = 64),
        batchId = 11)
      // an all-invalid (or empty) batch lands nothing — readAll over a
      // bare sink root cannot infer a schema; the oracle returns 0 rows
      val landed = new java.io.File(base).listFiles()
      if (landed == null || landed.isEmpty)
        emptyResult(s, "collection" -> StringType, "n" -> LongType,
          "sum_value" -> DoubleType)
      else sink.readAll(s)
        .groupBy($"collection".cast("string").as("collection")).agg(
          count(lit(1)).as("n"),
          sumRound($"value", 2).as("sum_value"))
        .orderBy($"collection")
    }),

    // Full pipeline e2e (BASELINE.md bench shape): decouple → day-split →
    // infer/evolve/parse → per-collection dedup → _shard_time → columnar
    // sink → read back.
    "e2e_pipeline" -> ((s, dir) => {
      import s.implicits._
      val dec = EventOps.decouple(eventsAsFabricJson(s, dir), JsonDialect.Fabric)
        .filter($"_project".isNotNull).persist()
      val maxDay = dec.agg(max(to_date($"_time"))).head().getDate(0)
      val split = EventOps.daySplit(dec, $"_time", today = lit(maxDay))
      val registry = new EventSchema.Registry()
      val (routed, parsed) = JsonIngest.ingest(
        split.realTime.select("value").as(Encoders.STRING), registry)
      val base = java.nio.file.Files.createTempDirectory("graft_e2e").toString
      val sink = new ColumnarSink(base)
      // bounded-parallel per-collection inserts (guide §2.6 overlap of
      // independent jobs) — the same ParallelWrites pool the streaming
      // flush uses; collections write to disjoint sink paths, so order
      // does not affect content
      graft.util.ParallelWrites.run(
        parsed.toSeq.sortBy(_._1.collection), 4) { case (id, df) =>
        sink.insert(id, EventOps.withShardTime(EventOps.dedupExact(df, names)))
      }
      routed.unpersist(); dec.unpersist()
      // per-collection read-back (see k1_sink_roundtrip): incompatible
      // nested types across collections must not fail the whole read.
      // Plan construction itself is driver-blocking per collection (the
      // mergeSchema load lists files and reads footers eagerly), so build
      // the per-collection frames from the same bounded pool the inserts
      // use — read-only, order restored by the final orderBy
      val parts = graft.util.ParallelWrites.run(
        parsed.keys.toSeq.sortBy(_.collection), 4) { id =>
        sink.read(s, id).agg(count(lit(1)).as("n"))
          .select(lit(id.collection).as("collection"), $"n")
      }
      if (parts.isEmpty) // zero collections routed: the oracle's 0 rows
        emptyResult(s, "collection" -> StringType, "n" -> LongType)
      else parts.reduce(_.unionByName(_)).orderBy($"collection")
    }),

    // Approximate sketches (HLL++ cardinality, t-digest-style quantiles).
    // Each engine checks ITS OWN sketch against exact values computed in
    // the same query, so the output (exact count + two in-bounds flags) is
    // engine-stable and oracle-checkable.
    //
    // Plan note (round-1 verdict): never mix count_distinct with
    // object-buffer aggregates (HLL / QuantileSummaries / exact percentile)
    // in ONE agg — Spark's RewriteDistinctAggregates expands to groups of
    // (key, distinctKey) and allocates every sketch buffer per DISTINCT
    // orderkey (150k at sf0.1; measured 10.9s vs 1.9s split). Three small
    // aggregations joined on the 3-row group key keep every agg map-side
    // combinable and codegen-friendly.
    "agg_approx_sketch" -> ((s, dir) => {
      import s.implicits._
      val li = tbl(s, dir, "lineitem")
        .select($"l_returnflag", $"l_orderkey", $"l_extendedprice")
      // All the NON-distinct aggregates (HLL, approx + exact percentile —
      // object buffers, but only 3 of each) fuse into one
      // ObjectHashAggregate pass over the scan.
      val sk = li.groupBy($"l_returnflag").agg(
        approx_count_distinct($"l_orderkey").as("approx_orders"),
        percentile_approx(
          when(!isnan($"l_extendedprice") &&
            abs($"l_extendedprice") =!= lit(Double.PositiveInfinity),
            $"l_extendedprice"), lit(0.9), lit(10000)).as("p90_approx"),
        // ONE exact-percentile buffer evaluating both cut points (the
        // Percentile aggregate holds a counts map per buffer; two separate
        // calls held two identical maps per group) — same values exactly
        expr("percentile(CASE WHEN NOT isnan(l_extendedprice) AND abs(l_extendedprice) <> CAST('Infinity' AS DOUBLE) THEN l_extendedprice END, array(0.85, 0.95))").as("_p8595"))
      // Exact distinct via two-stage hash agg — no Expand, pure codegen.
      // null keys excluded: count(DISTINCT x) skips nulls (and so does
      // the HLL sketch) — the unfiltered distinct would count the NULL
      // group as one extra "order"
      val ex = li.select($"l_returnflag", $"l_orderkey")
        .where($"l_orderkey".isNotNull).distinct()
        .groupBy($"l_returnflag").agg(count(lit(1)).as("exact_orders"))
      sk.join(broadcast(ex), "l_returnflag")
        .select(
          $"l_returnflag",
          $"exact_orders",
          // HLL++ default rsd 0.05 → 3σ = 15% band (min 4 absolute).
          (abs($"approx_orders" - $"exact_orders") <=
            greatest(lit(4), floor($"exact_orders" * 0.15))).cast("long").as("hll_ok"),
          ($"p90_approx".between(element_at($"_p8595", 1),
            element_at($"_p8595", 2))).cast("long").as("p90_ok"))
        .orderBy($"l_returnflag")
    }),

    // ---- relational query surface (Catalyst built-ins, SURVEY §2.8) --

    // Semi join (EXISTS): orders with any heavy lineitem, counted by
    // priority.
    "q4_semi_exists" -> ((s, dir) => {
      import s.implicits._
      val heavy = tbl(s, dir, "lineitem").filter($"l_quantity" > 45)
      tbl(s, dir, "orders")
        .join(heavy, $"o_orderkey" === heavy("l_orderkey"), "left_semi")
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    }),

    // Anti join (NOT EXISTS): customers with no orders, by segment.
    "q6_anti_join" -> ((s, dir) => {
      import s.implicits._
      val ord = tbl(s, dir, "orders")
      tbl(s, dir, "customer")
        .join(ord, $"c_custkey" === ord("o_custkey"), "left_anti")
        .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_mktsegment")
    }),

    // Grouping sets: rollup over returnflag/linestatus.
    "q7_rollup" -> ((s, dir) => {
      import s.implicits._
      tbl(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), sumRound($"l_quantity", 2).as("sum_qty"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    }),

    // Pricing-summary style aggregate over lineitem.
    "q1_agg" -> ((s, dir) => {
      import s.implicits._
      val li = tbl(s, dir, "lineitem")
      li
        // string literal cast to the COLUMN's own type — not
        // java.sql.Timestamp.valueOf, which builds the instant in the JVM
        // DEFAULT timezone and shifts the boundary on any driver whose
        // default tz isn't the session's UTC
        .filter($"l_shipdate" <=
          lit("1998-09-01 00:00:00").cast(li.schema("l_shipdate").dataType))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sumRound($"l_quantity", 2).as("sum_qty"),
          sumRound($"l_extendedprice", 2).as("sum_base_price"),
          sumRound($"l_extendedprice" * (lit(1) - $"l_discount"), 2).as("sum_disc_price"),
          // order-independent avg: integer basis-point sum / (n * 1e4)
          (sum(when(!isnan($"l_discount") &&
                abs($"l_discount") =!= lit(Double.PositiveInfinity),
              floor($"l_discount" * 10000 + 0.5))) /
            (count(when(!isnan($"l_discount") &&
                abs($"l_discount") =!= lit(Double.PositiveInfinity), 1)) *
              lit(10000.0))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // 3-way join + top-N (broadcast the filtered dimension).
    "q3_top_orders" -> ((s, dir) => {
      import s.implicits._
      val cust = tbl(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      val ord = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(sumRound($"l_extendedprice" * (lit(1) - $"l_discount"), 2).as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey".asc)
        .limit(10)
    }),

    // Multi-join star query with broadcast dims (region→nation→customer…).
    "q5_region_revenue" -> ((s, dir) => {
      import s.implicits._
      val region = tbl(s, dir, "region")
      val nation = tbl(s, dir, "nation")
      val cust = tbl(s, dir, "customer")
      val ord = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy($"r_name")
        .agg(sumRound($"l_extendedprice" * (lit(1) - $"l_discount"), 2).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy($"r_name")
    }),

    // Window functions: top order per customer (bounded output).
    "w1_top_order_per_customer" -> ((s, dir) => {
      import s.implicits._
      val ord = tbl(s, dir, "orders").filter($"o_custkey" < 500)
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      ord.withColumn("rn", row_number().over(w))
        .where($"rn" === 1)
        .select($"o_custkey", $"o_orderkey",
          round($"o_totalprice", 2).as("top_price"))
        .orderBy($"o_custkey")
    }),

    // Event-time tumbling-window aggregation (beyond-reference: the
    // reference re-routes late data but has no windowed aggregation).
    "w2_tumbling_window" -> ((s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "events")
      ev.select(timestamp_millis(tsMillis(ev)).as("ts"), $"value")
        .groupBy(window($"ts", "1 day").as("w"))
        .agg(count(lit(1)).as("n"), sumRound($"value", 2).as("sum_value"))
        .select($"w.start".as("day_start"), $"n", $"sum_value")
        .orderBy($"day_start")
    }),

    // Cohort retention — rakam's signature product-analytics query: users
    // grouped by first-seen day, counted per day-offset of return.
    "q11_retention" -> ((s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "events")
      val u = ev
        .select($"user_id", to_date(timestamp_millis(tsMillis(ev))).as("d"))
        .distinct()
      val first = u.groupBy($"user_id").agg(min($"d").as("d0"))
      u.join(first, "user_id")
        .groupBy(datediff($"d", $"d0").as("day_offset"))
        .agg(count_distinct($"user_id").as("n_users"))
        .orderBy($"day_offset")
    }),

    // Ordered event funnel (view → click → purchase, strictly increasing
    // times) — sequential conditional-min joins, all keyed on user_id so
    // the shuffles co-partition.
    "q12_funnel" -> ((s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "events")
      val e = ev.select($"user_id", $"event_type", tsMillis(ev).as("ms"))
      // each stage is read twice (its own count + the next stage's join);
      // lazy checkpoints materialize each once instead of re-running the
      // whole upstream funnel per use
      val v = e.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ms").as("v_ms"))
        .localCheckpoint(false)
      val c = e.filter($"event_type" === "click").join(v, "user_id")
        .filter($"ms" > $"v_ms")
        .groupBy($"user_id").agg(min($"ms").as("c_ms"))
        .localCheckpoint(false)
      val p = e.filter($"event_type" === "purchase").join(c, "user_id")
        .filter($"ms" > $"c_ms")
        .groupBy($"user_id").agg(min($"ms").as("p_ms"))
      v.agg(count(lit(1)).as("step_view")).crossJoin(
        c.agg(count(lit(1)).as("step_click"))).crossJoin(
        p.agg(count(lit(1)).as("step_purchase")))
    }),

    // Gap-based sessionization (session_window, 30-min gap) rolled up per
    // user — the batch face of the streaming session-window support.
    // Sessions merge while consecutive events are < 30 min apart.
    "w3_sessions" -> ((s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "events")
      ev.select($"user_id", timestamp_millis(tsMillis(ev)).as("t"))
        // session_window silently drops null-timestamp rows; make the
        // exclusion explicit so the oracle mirrors it
        .where($"t".isNotNull)
        .groupBy($"user_id", session_window($"t", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy($"user_id").agg(
          count(lit(1)).as("n_sessions"),
          sum($"n_events").as("n_events"),
          max($"n_events").as("max_session_events"))
        .orderBy($"user_id")
    }),

    // w3 through the STREAMING path (round-9 verdict #7): the same events
    // drain through Sessionize.sessions (session_window + watermark,
    // append mode) as a file-replay stream, then roll up to the exact
    // w3_sessions shape — the oracle SQL is identical, so this pins
    // batch ≡ streaming sessionization under the DuckDB oracle, not just
    // the unit-spec parity. A sentinel row keyed by a dedicated struct
    // flag (never a magic user id — hostile corpora own the whole id
    // domain) arrives one day after max(t) to push the watermark past
    // every real session's close, so append mode emits them all before
    // the drain ends; sentinel sessions filter out by the flag.
    "w3_sessions_stream" -> ((s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "events")
      val uidType = ev.schema("user_id").dataType
      val rows0 = ev.select(
          struct($"user_id".as("uid"), lit(false).as("sentinel")).as("k"),
          timestamp_millis(tsMillis(ev)).as("t"))
        .where($"t".isNotNull)
      // PRE-1970 rebase: Spark's streaming state ops start with the event
      // -time watermark at epoch 0 and DROP first-batch rows older than
      // it — a pre-1970 event would silently vanish from the streaming
      // path while the batch oracle keeps it (found by fuzz seed 23).
      // Gap sessionization depends only on time DIFFERENCES and this
      // rollup carries no absolute boundaries, so shifting every event by
      // one constant is exact; shift only when needed.
      // min and max in ONE aggregate job (max was a second full scan over
      // the shifted rows; shifting by a constant lets it derive from the
      // unshifted max driver-side)
      val mm = rows0.agg(min($"t"), max($"t")).head()
      val minT = mm.getAs[java.sql.Timestamp](0)
      val offsetMs =
        if (minT != null && minT.getTime < 0L) -minT.getTime else 0L
      val rows = rows0.withColumn("t",
        timestamp_millis(unix_millis($"t") + offsetMs))
      val tmp = java.nio.file.Files.createTempDirectory("graft_w3ss").toString
      val inDir = s"$tmp/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def publish(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val staged = s"$tmp/staged_$name"
        df.write.mode("overwrite").parquet(staged)
        fs.listStatus(new org.apache.hadoop.fs.Path(staged))
          .filter(_.getPath.getName.endsWith(".parquet"))
          .zipWithIndex.foreach { case (st, i) =>
            fs.rename(st.getPath,
              new org.apache.hadoop.fs.Path(s"$inDir/${name}_$i.parquet")); ()
          }
      }
      publish("real", rows)
      val maxT0 = mm.getAs[java.sql.Timestamp](1)
      val maxT =
        if (maxT0 == null) null
        else new java.sql.Timestamp(maxT0.getTime + offsetMs)
      val qn = "w3ss_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val stream = s.readStream.schema(rows.schema).parquet(inDir)
      val q = graft.streaming.Sessionize.sessions(stream, "k", "t",
          "30 minutes", watermark = Some("1 minute"))
        .writeStream.format("memory").queryName(qn).outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try {
        q.processAllAvailable()
        val closeMs = Option(maxT).map(_.getTime).getOrElse(0L) + 86400000L
        publish("fin", s.range(1).select(
          struct(lit(null).cast(uidType).as("uid"), lit(true).as("sentinel")).as("k"),
          timestamp_millis(lit(closeMs)).as("t")))
        q.processAllAvailable()
      } finally q.stop()
      val rolled = s.table(qn).where(!$"k.sentinel")
        .groupBy($"k.uid".as("user_id")).agg(
          count(lit(1)).as("n_sessions"),
          sum($"n_events").as("n_events"),
          max($"n_events").as("max_session_events"))
        .orderBy($"user_id")
      // freeze driver-side (bounded: one row per user) so the memory view
      // can be dropped before the next query plans
      val out = rolled.collect()
      val schema = rolled.schema
      s.catalog.dropTempView(qn)
      s.createDataFrame(s.sparkContext.parallelize(out.toIndexedSeq, 1), schema)
    }),

    // Z-order layout cells: the exact Morton arithmetic `layout/ZOrder`
    // range-partitions files by at rewrite time — integer-exact equi-width
    // bucketize (8 bits per dim) + bit interleave over (user_id, event
    // time), replayed cross-engine so the oracle hash-pins the cell math
    // a 100 TB OPTIMIZE-style rewrite would cluster on. (The pruning
    // effect itself is pinned in ZOrderSpec via scan metrics — an x-only
    // box scans 8.8× fewer rows than the time-sorted layout.)
    "layout_zorder_cells" -> ((s, dir) => {
      import s.implicits._
      val ev = tbl(s, dir, "events")
      // SECONDS domain: an 8-bit bucketize over millis breaks the 2^53
      // exactness bound past ~1100-year spans; floor(ms/1000.0) is the
      // same IEEE computation in DuckDB, so the map is shared exactly
      val ms = floor(tsMillis(ev) / lit(1000.0)).cast("long")
      val r = ev.agg(
        min($"user_id".cast("long")), max($"user_id".cast("long")),
        min(ms), max(ms)).head()
      // an all-null dimension (null min/max) means every row's z is null
      // — the oracle's NULL arithmetic reaches the same empty result;
      // degrade the bounds like ZOrder.zorder does instead of NPE-ing
      def bound(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
      val anyAllNull = (0 to 3).exists(r.isNullAt)
      val z = graft.layout.ZOrder.zValue(Seq(
        graft.layout.ZOrder.bucketize($"user_id".cast("long"),
          bound(0), bound(1), 8),
        graft.layout.ZOrder.bucketize(ms, bound(2), bound(3), 8)), 8)
      // null user/ts rows have no z-cell; drop them explicitly — under
      // LIMIT the engines' opposite NULL sort defaults (Spark first,
      // DuckDB last) would otherwise select different top-100 sets
      ev.select(z.as("z"))
        .where($"z".isNotNull && lit(!anyAllNull))
        .groupBy($"z").agg(count(lit(1)).as("n_rows"))
        .orderBy($"z").limit(100)
    }),

    // Stats-manifest pruned read, maintained AT WRITE TIME: lineitem lands
    // through ColumnarSink with a min/max manifest on l_orderkey (three
    // batch-keyed inserts, range-clustered so files
    // carry tight key ranges — the reference computes shard stats at
    // write, InMemoryOrcStorageManager.java:188-207), then prunedRead
    // serves a selective key range. Result must equal the oracle's plain
    // full-scan filter; the file-level skipping itself (fewer files
    // opened, replay no-dup, conservative staleness) is pinned in
    // StatsIndexSpec.
    "layout_stats_prune" -> ((s, dir) => {
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_statsidx").toString
      val sink = new ColumnarSink(base, statsColumns = Seq("l_orderkey"))
      val id = CollectionId("demo", "lineitem")
      val li = tbl(s, dir, "lineitem")
        .select($"l_orderkey", $"l_returnflag", $"l_quantity")
      // an empty corpus would land three file-less batch dirs that parquet
      // schema inference can't read back — the oracle's answer is 0 rows
      if (li.isEmpty)
        emptyResult(s, "l_returnflag" -> StringType, "n" -> LongType,
          "sum_qty" -> DoubleType)
      else {
        sink.insertBatch(id, li.where($"l_orderkey" <= 200)
          .repartitionByRange(4, $"l_orderkey"), 0L)
        sink.insertBatch(id, li.where($"l_orderkey" > 200 && $"l_orderkey" <= 400)
          .repartitionByRange(4, $"l_orderkey"), 1L)
        sink.insertBatch(id, li.where($"l_orderkey" > 400)
          .repartitionByRange(8, $"l_orderkey"), 2L)
        sink.prunedRead(s, id, Seq(("l_orderkey", 50L, 150L)))
          .where($"l_orderkey".between(50L, 150L))
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"), sumRound($"l_quantity", 2).as("sum_qty"))
          .orderBy($"l_returnflag")
      }
    }),

    // K2: NDJSON-gzip sink roundtrip (file rolling + serialization), read
    // back per collection.
    "k2_ndjson_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_ndjson").toString
      val sink = new graft.sinks.NdjsonGzipSink(base)
      val parsed = ingested(s, dir)
      // bounded-parallel inserts — disjoint collection paths, see
      // e2e_pipeline
      graft.util.ParallelWrites.run(
        parsed.toSeq.sortBy(_._1.collection), 4) { case (id, df) =>
        sink.insert(id, df)
      }
      // explicit read schema: the aggregate touches only `value`, and an
      // inferred read pays a FULL decompress+parse of every gzip NDJSON
      // file at plan time (per collection, serial on the driver) before
      // the real scan parses it all again. For numeric JSON the result is
      // the inferred read's: every line yields a row (count unchanged),
      // `value` is null where absent/null, and numbers widen to double.
      // A string `value` differs: PERMISSIVE reads it as null even when it
      // is numeric ("1.25"), where an inferred read would type the column
      // string and the ANSI cast in the sum would fail the query on a
      // non-numeric one (SinkSpec pins the declared read).
      val parts = parsed.keys.toSeq.sortBy(_.collection).map { id =>
        s.read.schema("value DOUBLE").json(sink.path(id))
          .agg(count(lit(1)).as("n"), sumRound($"value", 2).as("sum_value"))
          .select(lit(id.collection).as("collection"), $"n", $"sum_value")
      }
      if (parts.isEmpty) // zero collections routed: the oracle's 0 rows
        emptyResult(s, "collection" -> StringType, "n" -> LongType,
          "sum_value" -> DoubleType)
      else parts.reduce(_ unionAll _)
    }),

    // Correlated-aggregate filter (TPC-H q17 shape): lineitems under 50%
    // of their part's average quantity.
    "q8_below_avg_qty" -> ((s, dir) => {
      import s.implicits._
      val li = tbl(s, dir, "lineitem")
      val avgQty = li.groupBy($"l_partkey".as("p_key"))
        .agg(avg($"l_quantity").as("avg_qty"))
      li.join(avgQty, $"l_partkey" === $"p_key")
        .where($"l_quantity" < $"avg_qty" * 0.5)
        .agg(count(lit(1)).as("n"),
             sumRound($"l_extendedprice", 2).as("sum_price"))
    }),

    // Exact interpolated quantiles (DuckDB quantile_cont ≡ Spark
    // percentile); thousandths via the stable floor form.
    "q9_quantiles" -> ((s, dir) => {
      import s.implicits._
      tbl(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          // percentiles over the FINITE values only (engines disagree on
          // where NaN ranks)
          floor(expr("percentile(CASE WHEN NOT isnan(l_quantity) AND abs(l_quantity) <> CAST('Infinity' AS DOUBLE) THEN l_quantity END, 0.5)") * 1000 + 0.5).cast("long").as("p50_qty_milli"),
          floor(expr("percentile(CASE WHEN NOT isnan(l_extendedprice) AND abs(l_extendedprice) <> CAST('Infinity' AS DOUBLE) THEN l_extendedprice END, 0.9)") * 1000 + 0.5).cast("long").as("p90_price_milli"))
        .orderBy($"l_returnflag")
    }),

    // As-of join (custom operator): each purchase matched to the user's
    // latest prior click — union+sort+window formulation, one shuffle.
    // skewBuckets=8 runs the segmented-window variant (time-bucketed
    // windows + carry-in): a pathologically hot user key spreads over 8
    // tasks instead of serializing on one — output identical to the
    // single-window plan (AsOfJoinSpec pins parity + the row bound).
    "asof_purchase_click" -> ((s, dir) => {
      import s.implicits._
      val evRaw = tbl(s, dir, "events")
      val ev = evRaw.select($"event_id", $"user_id",
        tsTimestamp(evRaw).as("ts"), $"event_type")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"event_id")
      // one click per (user, ts), max click_id as the tiebreak: two clicks
      // at the same microsecond would otherwise resolve arbitrarily in
      // BOTH engines (the window's last() and DuckDB's ASOF alike),
      // flipping the hash run-to-run
      val clicks = ev.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts")
        .agg(max($"event_id").as("click_id"))
        .withColumnRenamed("ts", "click_ts")
      // the AUTO entry point, probe forced on (minProbeRows = 1) so the
      // seeded skew probe + two-part gate run under this oracle every
      // round; at this SF the gate correctly picks the single-window plan
      // (hot-row count below the measured crossover), and the plan-level
      // auto≡manual parity across bucket counts is pinned by AsOfJoinSpec
      graft.operators.AsOfJoin.asOfJoinAuto(
          purchases, clicks, Seq("user_id"), "ts", "click_ts",
          minProbeRows = 1)
        .select($"event_id", $"click_id")
        .orderBy($"event_id")
    }),

    // Range join (custom operator): lineitem prices into overlapping price
    // bands — bucketized equi-join, no cross product.
    "range_price_bands" -> ((s, dir) => {
      import s.implicits._
      val bands = s.range(0, 40).select($"id".as("band"),
        ($"id" * 1500.0).as("lo"), ($"id" * 1500.0 + 3000.0).as("hi"))
      val li = tbl(s, dir, "lineitem").select($"l_extendedprice")
      graft.operators.RangeJoin.rangeJoin(li, "l_extendedprice",
          bands, "lo", "hi", bucketWidth = 3000.0)
        .groupBy($"band")
        .agg(count(lit(1)).as("n"), sumRound($"l_extendedprice", 2).as("sum_price"))
        .orderBy($"band")
    }),

    // Same range-join family, but through PURE SQL + the Catalyst rewrite
    // rule (plans/RangeJoinRewrite): the user writes the naive
    // point-in-interval join and the optimizer plans the bucketed
    // equi-join. The plan shape is asserted in-query (no nested-loop
    // join); the small aggregated result is frozen driver-side so the
    // opt-in conf can be unset before the next query plans.
    "range_bands_rule" -> ((s, dir) => {
      GraftExtensions.register(s)
      tbl(s, dir, "lineitem").select(col("l_extendedprice"))
        .createOrReplaceTempView("rj_lineitem")
      tbl(s, dir, "nation").select(col("n_nationkey"))
        .createOrReplaceTempView("rj_nation")
      s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "2600")
      try {
        val df = s.sql(
          """WITH bands AS (
            |  SELECT n_nationkey AS band, n_nationkey * 1200.0 AS lo,
            |         n_nationkey * 1200.0 + 2600.0 AS hi
            |  FROM rj_nation)
            |SELECT band, count(*) AS n,
            |       sum(CASE WHEN NOT isnan(l_extendedprice)
            |                  AND abs(l_extendedprice) <> CAST('Infinity' AS DOUBLE)
            |             THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
            |             -- CAST: a bare 100.0 literal is DECIMAL in Spark
            |             -- SQL and would type the result decimal, not the
            |             -- oracle's double
            |             END) / CAST(100 AS DOUBLE) AS sum_price
            |FROM rj_lineitem JOIN bands
            |  ON l_extendedprice >= lo AND l_extendedprice < hi
            |GROUP BY band ORDER BY band""".stripMargin)
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("BroadcastNestedLoop") &&
          !plan.contains("CartesianProduct"),
          "range-join rewrite did not fire; plan:\n" + plan)
        val rows = df.collect() // ≤ |nation| aggregated rows
        s.createDataFrame(
          s.sparkContext.parallelize(rows.toIndexedSeq, 1), df.schema)
      } finally s.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
    }),

    // Same rewrite activated PER-QUERY by the SQL RANGE_JOIN hint — the
    // scoped path (round-9 verdict #4): the session conf stays UNSET, the
    // analyzer rule (ResolveRangeJoinHint, injected by GraftExtensions at
    // session build) turns the hint into the RangeJoinHint marker, and
    // the optimizer rewrites only the annotated query. Bands are offset
    // from range_bands_rule's so the two queries' oracles differ.
    "range_bands_hint" -> ((s, dir) => {
      tbl(s, dir, "lineitem").select(col("l_extendedprice"))
        .createOrReplaceTempView("rjh_lineitem")
      tbl(s, dir, "nation").select(col("n_nationkey"))
        .createOrReplaceTempView("rjh_nation")
      require(!s.conf.getOption(graft.plans.RangeJoinRewrite.WidthConf)
        .exists(_.trim.toDoubleOption.exists(_ > 0)),
        "hint query must run with the session-global width UNSET")
      val df = s.sql(
        """WITH bands AS (
          |  SELECT n_nationkey AS band, n_nationkey * 1100.0 AS lo,
          |         n_nationkey * 1100.0 + 2400.0 AS hi
          |  FROM rjh_nation)
          |SELECT /*+ RANGE_JOIN(2400) */ band, count(*) AS n,
          |       sum(CASE WHEN NOT isnan(l_extendedprice)
          |                  AND abs(l_extendedprice) <> CAST('Infinity' AS DOUBLE)
          |             THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
          |             END) / CAST(100 AS DOUBLE) AS sum_price
          |FROM rjh_lineitem JOIN bands
          |  ON l_extendedprice >= lo AND l_extendedprice < hi
          |GROUP BY band ORDER BY band""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(!plan.contains("BroadcastNestedLoop") &&
        !plan.contains("CartesianProduct"),
        "hinted range-join rewrite did not fire; plan:\n" + plan)
      val rows = df.collect() // ≤ |nation| aggregated rows
      s.createDataFrame(
        s.sparkContext.parallelize(rows.toIndexedSeq, 1), df.schema)
    }),

    // The rewrite rule's TIMESTAMP path under the oracle: events joined
    // to overlapping 2-hour windows (1-hour step) anchored at min(ts).
    // The anchor is a bounded 1-row driver read so the window table has
    // no embedded cross join (keeps the no-BNLJ plan assert meaningful);
    // bucketWidth is in seconds on time domains.
    "range_time_windows" -> ((s, dir) => {
      import s.implicits._
      GraftExtensions.register(s)
      val ev = tbl(s, dir, "events")
      ev.select($"event_id", $"user_id", tsTimestamp(ev).as("t"))
        .createOrReplaceTempView("rt_events")
      // empty events: NULL min — anchor at epoch 0 (the join against the
      // empty event side yields the oracle's 0 groups either way)
      val t0Row = ev.agg(unix_micros(min(tsTimestamp(ev)))).head()
      val t0 = if (t0Row.isNullAt(0)) 0L else t0Row.getLong(0)
      s.range(0, 40).select($"id".as("w"),
          timestamp_micros(lit(t0) + $"id" * 3600000000L).as("ws"),
          timestamp_micros(lit(t0) + ($"id" + 2) * 3600000000L).as("we"))
        .createOrReplaceTempView("rt_windows")
      s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "7200")
      try {
        val df = s.sql(
          """SELECT w, count(*) AS n, count(DISTINCT user_id) AS n_users
            |FROM rt_events JOIN rt_windows ON t >= ws AND t < we
            |GROUP BY w ORDER BY w""".stripMargin)
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("BroadcastNestedLoop") &&
          !plan.contains("CartesianProduct"),
          "timestamp range-join rewrite did not fire; plan:\n" + plan)
        val rows = df.collect() // ≤ 40 aggregated rows
        s.createDataFrame(
          s.sparkContext.parallelize(rows.toIndexedSeq, 1), df.schema)
      } finally s.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
    }),

    // Interval × interval overlap join (RangeJoin.overlapJoin): per
    // (brand, size) retail-price spans against fixed price bands —
    // bucketed equi-join with the first-shared-bucket ownership rule, no
    // cross product, each overlapping pair exactly once.
    "overlap_price_spans" -> ((s, dir) => {
      import s.implicits._
      val spans = tbl(s, dir, "part")
        .groupBy($"p_brand", $"p_size")
        .agg(min($"p_retailprice").as("lo"), max($"p_retailprice").as("hi"))
      val bands = s.range(0, 40).select($"id".as("band"),
        ($"id" * 1500.0).as("blo"), ($"id" * 1500.0 + 3000.0).as("bhi"))
      graft.operators.RangeJoin.overlapJoin(
          spans, "lo", "hi", bands, "blo", "bhi", bucketWidth = 1500.0)
        .groupBy($"p_brand", $"p_size")
        .agg(count(lit(1)).as("n_bands"), min($"band").as("first_band"))
        .orderBy($"p_brand", $"p_size")
    }),

    // The overlap path of the rewrite rule through PURE SQL: the same
    // spans×bands intersection as overlap_price_spans, written as the
    // naive SQL idiom and planned as the double-explode bucketed
    // equi-join with the first-shared-bucket ownership residual.
    "overlap_spans_rule" -> ((s, dir) => {
      GraftExtensions.register(s)
      tbl(s, dir, "part").select(col("p_brand"), col("p_size"),
          col("p_retailprice")).createOrReplaceTempView("ov_part")
      s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "1500")
      try {
        val df = s.sql(
          """WITH spans AS (
            |  SELECT p_brand, p_size,
            |         min(p_retailprice) AS lo, max(p_retailprice) AS hi
            |  FROM ov_part GROUP BY p_brand, p_size),
            |bands AS (
            |  SELECT id AS band, id * 1500.0 AS blo, id * 1500.0 + 3000.0 AS bhi
            |  FROM range(40))
            |SELECT p_brand, p_size, count(*) AS n_bands,
            |       min(band) AS first_band
            |FROM spans JOIN bands ON lo < bhi AND blo < hi
            |GROUP BY p_brand, p_size
            |ORDER BY p_brand, p_size""".stripMargin)
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("BroadcastNestedLoop") &&
          !plan.contains("CartesianProduct"),
          "overlap rewrite did not fire; plan:\n" + plan)
        val rows = df.collect() // bounded: one row per (brand, size)
        s.createDataFrame(
          s.sparkContext.parallelize(rows.toIndexedSeq, 1), df.schema)
      } finally s.conf.unset(graft.plans.RangeJoinRewrite.WidthConf)
    }),

    // Set operations: nations present in segment A but not B, and in both.
    "q10_setops" -> ((s, dir) => {
      import s.implicits._
      val cust = tbl(s, dir, "customer")
      val a = cust.filter($"c_mktsegment" === "BUILDING").select($"c_nationkey")
      val b = cust.filter($"c_mktsegment" === "MACHINERY").select($"c_nationkey")
      a.except(b).select($"c_nationkey", lit("only_building").as("tag"))
        .unionAll(a.intersect(b).select($"c_nationkey", lit("both").as("tag")))
        .orderBy($"tag", $"c_nationkey")
    }),

    // ---- LLM-pipeline operators: text analysis ----------------------

    // Per-document text analysis: token count, punctuation ratio,
    // language-ID heuristic, quality score, content fingerprint.
    "text_stats" -> ((s, dir) => {
      import s.implicits._
      // fused native expression: all five signals in one string pass
      // (contract identical to the composed TextFunctions originals —
      // pinned by TextStatsSpec against the composed plan + the oracle)
      docs(s, dir)
        .select($"doc_id",
          graft.functions.expressions.TextStats.textStats($"text").as("_st"))
        .select(
          $"doc_id",
          $"_st.n_tokens".as("n_tokens"),
          $"_st.punct_bp".as("punct_bp"),
          $"_st.lang_pred".as("lang_pred"),
          $"_st.quality_bp".as("quality_bp"),
          $"_st.fingerprint".as("fingerprint"))
        .orderBy($"doc_id")
    }),

    // Composed cleaning pipeline (language → quality floor → exact dedup)
    // as ONE plan: the kept corpus and the stage-by-stage funnel counts.
    "doc_pipeline_kept" -> ((s, dir) => {
      import s.implicits._
      graft.operators.DocPipeline.clean(docs(s, dir), "doc_id", "text")
        .select($"doc_id", $"lang_pred", $"quality_bp", $"fingerprint")
        .orderBy($"doc_id")
    }),
    "doc_pipeline_funnel" -> ((s, dir) =>
      graft.operators.DocPipeline.funnel(docs(s, dir), "doc_id", "text")),

    // Token-bounded overlapping chunking (64-token windows, 16 overlap) —
    // the context-window splitter; one row per chunk with its fingerprint.
    "text_chunks" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select($"doc_id",
          posexplode(TextFunctions.chunks($"text", 64, 16))
            .as(Seq("chunk_idx", "chunk")))
        .select($"doc_id", $"chunk_idx",
          TextFunctions.tokenCount($"chunk").as("chunk_tokens"),
          md5($"chunk").as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_idx")
    }),

    // PII scrub: redaction counts + fingerprint of the scrubbed text (the
    // synthetic corpus is PII-free, so this pins the no-op side; the
    // positive side is spec-pinned on synthetic PII rows).
    "text_redact" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select($"doc_id",
          TextFunctions.piiCount($"text", TextFunctions.PiiPatterns(0)._1)
            .as("n_urls"),
          TextFunctions.piiCount($"text", TextFunctions.PiiPatterns(1)._1)
            .as("n_emails"),
          md5(TextFunctions.redact($"text")).as("redacted_md5"))
        .orderBy($"doc_id")
    }),

    // Benchmark decontamination: corpus docs sharing any exact 3-gram
    // with the probe set (docs 0-4) — broadcast probe grams, one count agg.
    "decontam_hits" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      DedupFunctions.ngramContamination(
          d.filter($"doc_id" >= 5), d.filter($"doc_id" < 5),
          "doc_id", "text", n = 3)
        .orderBy($"doc_id")
    }),

    // Decontamination REMOVAL (the acting half of decontam_hits): docs
    // sharing any probe 3-gram are anti-joined away; survivors summarized
    // per source — the pass that actually ships a clean corpus.
    "decontam_clean" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val corpus = d.filter($"doc_id" >= 5)
      val dirty = DedupFunctions.ngramContamination(
        corpus, d.filter($"doc_id" < 5), "doc_id", "text", n = 3)
      corpus.join(dirty.select($"doc_id"), Seq("doc_id"), "left_anti")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_clean"), sum($"doc_id").as("id_sum"))
        .orderBy($"source")
    }),

    // Deterministic stratified sampling: hash-gated keep decision —
    // reproducible across engines/partitionings, unlike RNG sampling.
    "sample_stratified" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.stratifiedSample(docs(s, dir), "doc_id",
          "source", Map("src0" -> 500, "src1" -> 9000), defaultBp = 2000,
          salt = "graft")
        .groupBy($"source").agg(
          count(lit(1)).as("n_kept"), sum($"doc_id").as("id_sum"))
        .orderBy($"source")
    }),

    // Mixture sampling: resample toward target source weights under a doc
    // budget (the data-mixing step of a training run). Rates are exact
    // integer floor arithmetic — bit-reproducible in the oracle.
    "sample_mixture" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.mixtureSample(docs(s, dir), "doc_id", "source",
          Map("src0" -> 8L, "src1" -> 4L, "src2" -> 2L, "src3" -> 1L,
            "src4" -> 1L),
          budgetDocs = 300L, salt = "mix2")
        .groupBy($"source").agg(
          count(lit(1)).as("n_kept"), sum($"doc_id").as("id_sum"))
        .orderBy($"source")
    }),

    // Square-root temperature mixture (α=0.5, the multilingual balancing
    // recipe): rates ∝ isqrt(source size) under a doc budget — exact
    // integer arithmetic end to end.
    "sample_mixture_sqrt" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.sqrtMixtureSample(docs(s, dir), "doc_id",
          "source", budgetDocs = 400L, salt = "mixs")
        .groupBy($"source").agg(
          count(lit(1)).as("n_kept"), sum($"doc_id").as("id_sum"))
        .orderBy($"source")
    }),

    // Mixture resampling with upsampling: a small high-weight source runs
    // multiple epochs (full copies + hash-gated fractional copy), the big
    // ones run a fraction of one — the LLaMA-style data recipe applied as
    // one deterministic plan.
    "sample_mixture_epochs" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.mixtureResample(docs(s, dir), "doc_id",
          "source", Map("src0" -> 1L, "src1" -> 1L, "src5" -> 30L),
          budgetDocs = 600L, salt = "mix3")
        .groupBy($"source").agg(
          count(lit(1)).as("n_rows"), count_distinct($"doc_id").as("n_docs"),
          sum($"doc_id").as("id_sum"), sum($"epoch").as("epoch_sum"))
        .orderBy($"source")
    }),

    // Deterministic train/val/test split assignment: hash ranges in basis
    // points — stable under corpus growth, no RNG, leak-free over a
    // deduped corpus.
    "corpus_splits" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.assignSplits(docs(s, dir), "doc_id",
          Seq("train" -> 9000, "val" -> 500, "test" -> 500), salt = "graft")
        .groupBy($"split").agg(
          count(lit(1)).as("n_docs"), sum($"doc_id").as("id_sum"))
        .orderBy($"split")
    }),

    // Leakage-safe splits: hash-split by DUPLICATE-CLUSTER key instead of
    // doc id, so near-duplicate docs always land in the same split and
    // the val/test sets never leak paraphrases of training docs. The
    // query certifies the property in-band: leaky_groups_safe counts
    // clusters spanning >1 split under cluster-keyed assignment (0 by
    // construction), leaky_groups_naive counts them under doc-id-keyed
    // assignment (>0 on any corpus with near-dups — the bug this
    // operator exists to prevent). Plan: banded minhash candidates →
    // O(log n) CC (checkpointed, computed once) → broadcast-size label
    // join → per-row hash assignment fused into the scan.
    "splits_leakage_safe" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val pairs = DedupFunctions.minhashCandidates(d, "doc_id", "text",
        k = 12, nBands = 4, shingleSize = 3, maxBandFreq = 1000)
      val labels = DedupFunctions
        .connectedComponentsAlternating(pairs, "id_a", "id_b")
        .withColumnRenamed("v", "doc_id")
      val keyed = d.select($"doc_id")
        .join(labels, Seq("doc_id"), "left")
        .withColumn("split_key", coalesce($"label", $"doc_id"))
      val weights = Seq("train" -> 9000, "val" -> 500, "test" -> 500)
      val safe = graft.operators.Sampling.assignSplits(keyed, "split_key",
        weights, salt = "graft")
      val naive = graft.operators.Sampling.assignSplits(keyed, "doc_id",
        weights, salt = "graft")
      def leaky(a: DataFrame, name: String): DataFrame =
        a.groupBy($"split_key").agg(countDistinct($"split").as("ns"))
          .agg(sum(when($"ns" > 1, 1L).otherwise(0L)).as(name))
      safe.groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("id_sum"),
          countDistinct($"split_key").as("n_groups"))
        .crossJoin(leaky(safe, "leaky_groups_safe"))
        .crossJoin(leaky(naive, "leaky_groups_naive"))
        .orderBy($"split")
    }),

    // Deterministic shard plan for training export: hash-uniform shard
    // assignment + within-shard order — the no-global-sort shuffled-read
    // layout, pinned per shard (count, id_sum, order-key checksum).
    "corpus_shard_plan" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Sampling.assignShards(docs(s, dir), "doc_id",
          numShards = 16, salt = "exp")
        .groupBy($"shard").agg(count(lit(1)).as("n_docs"),
          sum($"doc_id").as("id_sum"),
          // modular checksum: raw 60-bit order keys would overflow a
          // BIGINT sum on both engines
          sum($"shard_order" % 1000000007L).as("order_sum"))
        .orderBy($"shard")
    }),

    // Sequence packing plan: documents → fixed 512-token training blocks
    // per shard (shard-parallel running sum — no global sort), summarized
    // as per-shard block counts and boundary-spanning docs.
    "pack_blocks" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).withColumn("tok_cnt",
        size(TextFunctions.tokens(coalesce($"text", lit("")))).cast("long"))
      graft.operators.Sampling.packBlocks(d, "doc_id", "tok_cnt",
          blockTokens = 512L, numShards = 8, salt = "pack")
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"tok_cnt").as("token_sum"),
          (max($"block_end") + 1).as("n_blocks"),
          sum($"spans_boundary".cast("long")).as("n_split_docs"))
        .orderBy($"shard")
    }),

    // Deterministic token-budget sample ("~20k tokens of this corpus"):
    // greedy prefix in seeded-hash priority order, selected through the
    // bucketed-histogram cutoff (no global sort — see
    // Sampling.tokenBudgetSample). The oracle replays the naive global
    // cumulative sum; both must pick the identical doc set.
    "sample_token_budget" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).withColumn("tok_cnt",
        size(TextFunctions.tokens(coalesce($"text", lit("")))).cast("long"))
      graft.operators.Sampling.tokenBudgetSample(d, "doc_id", "tok_cnt",
          budgetTokens = 20000L, salt = "mix")
        .agg(count(lit(1)).as("n_docs"), sum($"tok_cnt").as("token_sum"),
          sum($"doc_id").as("id_sum"))
    }),

    // Capstone corpus-prep composition: clean (lang+quality+dedup) →
    // deterministic 50% sample → 64-token chunks, summarized — the whole
    // training-data pass as one declarative plan.
    "corpus_prep" -> ((s, dir) => {
      import s.implicits._
      val cleaned = graft.operators.DocPipeline.clean(docs(s, dir), "doc_id", "text")
      val sampled = graft.operators.Sampling
        .deterministicSample(cleaned, "doc_id", 5000, "prep")
      sampled.select($"doc_id",
          posexplode(TextFunctions.chunks($"text", 64, 16))
            .as(Seq("chunk_idx", "chunk")))
        .agg(count(lit(1)).as("n_chunks"),
          count_distinct($"doc_id").as("n_docs"),
          sum(TextFunctions.tokenCount($"chunk")).as("sum_chunk_tokens"))
    }),

    // Column profiling over the corpus (row/null/distinct counts, min/max
    // per column) — the pre-training data-quality pass.
    "profile_documents" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"lang", $"source",
        length($"text").as("text_len"))
      graft.operators.Profiler.profile(d).orderBy($"column")
    }),

    // Cleaning normalization: stopword-stripped, whitespace-collapsed text.
    "text_normalize" -> ((s, dir) => {
      import s.implicits._
      val stop = TextFunctions.LangMarkers.toMap.apply("en")
      docs(s, dir).select($"doc_id",
          TextFunctions.normalize($"text", stop).as("normalized"))
        .orderBy($"doc_id")
    }),

    // Corpus vocabulary: top-20 tokens by document frequency.
    "text_vocab_topk" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir)
        .select($"doc_id", explode(array_distinct(TextFunctions.tokens($"text"))).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("df"))
        .orderBy($"df".desc, $"tok".asc)
        .limit(20)
    }),

    // Statistical LM quality score (the CCNet perplexity-filter stage):
    // per-doc average negative log bigram probability under an add-one
    // bigram model of the corpus itself — fluent text low, gibberish high.
    "text_lm_score" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      graft.operators.LmScore.perplexityScore(d, d, "doc_id", "text")
        .select($"doc_id", $"n_bigrams",
          TextFunctions.basisPoints($"avg_neg_logp").as("nlp_bp"))
        .orderBy($"doc_id")
    }),

    // BPE training statistics (Sennrich et al. 2016): round-0 weighted
    // character-pair counts over the corpus vocabulary — the table the
    // first merge argmaxes over, top-20 with deterministic tie-break.
    "bpe_pair_counts" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Bpe.pairCounts(docs(s, dir), "text")
        .orderBy($"cnt".desc, $"pair".asc).limit(20)
    }),

    // BPE train + segment certificate: 8 merges learned on the corpus,
    // the corpus re-segmented under them. SQL-checkable facts (word and
    // char totals, the first merge = the round-0 argmax) plus in-query
    // verified invariants (words <= subwords <= chars, and the merges
    // genuinely compressed the corpus) — the recall-certificate pattern
    // applied to an iterative algorithm SQL cannot replay.
    "bpe_segment_cert" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val merges = graft.operators.Bpe.train(d, "text", numMerges = 8)
      // Any-data certificate columns: `has_merges`/`first_merge` replay
      // round 1 exactly (the oracle mirrors train's minPairCount=2 stop
      // rule), and on a corpus where NO merge is trainable the bound/
      // compression claims are vacuous on both sides (zero merges leave
      // the char-level segmentation, which compresses nothing) — while
      // ONE applied merge provably compresses, so `compressed` is the
      // oracle's constant 1 whenever has_merges is.
      graft.operators.Bpe.subwordCounts(d, "doc_id", "text", merges)
        .agg(coalesce(sum($"n_words"), lit(0L)).as("n_words"),
          sum($"n_chars").as("n_chars"),
          sum($"n_subwords").as("_n_sub"))
        .select($"n_words", $"n_chars",
          lit(if (merges.nonEmpty) 1L else 0L).as("has_merges"),
          lit(merges.headOption.map(_.pair).orNull).as("first_merge"),
          coalesce(($"_n_sub" >= $"n_words" && $"_n_sub" <= $"n_chars")
            .cast("long"), lit(1L)).as("bounds_ok"),
          (if (merges.isEmpty) lit(0L)
           else ($"_n_sub" < $"n_chars").cast("long")).as("compressed"))
    }),

    // Token-budget estimate (portable BPE-ish arithmetic).
    "text_token_estimate" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select($"doc_id",
          TextFunctions.subwordCountEstimate($"text").cast("long").as("est_tokens"))
        .orderBy($"doc_id")
    }),

    // Rolling-hash fingerprint (native Catalyst expression). The oracle
    // mirrors the double Rabin-Karp byte fold with DuckDB list_reduce —
    // exact, because the synthetic corpus is pure ASCII (byte = codepoint,
    // the same property the mm_features oracle already leans on).
    "text_rolling_fingerprint" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select($"doc_id",
        TextFunctions.rollingHash($"text").as("rhash")).orderBy($"doc_id")
    }),

    // Markup stripping (tag removal + entity decode + whitespace collapse):
    // the synthetic corpus is markup-free, so this pins the no-op side
    // (tag count 0, fingerprint = normalized text); the positive side is
    // spec-pinned on real HTML fixtures — same pattern as text_redact.
    "text_strip_markup" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select($"doc_id",
          size(regexp_extract_all($"text", lit("<[^>]*>"), lit(0))).as("n_tags"),
          md5(TextFunctions.stripMarkup($"text")).as("stripped_md5"))
        .orderBy($"doc_id")
    }),

    // Gopher-style repetition profile: duplicate-line / duplicate-token
    // fractions and top bigram/trigram character shares, in basis points —
    // the boilerplate/spam signals of a pre-training quality pass.
    "text_repetition" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Repetition.profile(docs(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    }),

    // Repetition quality gate (token-volume floor + repetition ceilings)
    // summarized per source — the corpus-level effect of the Gopher rules.
    "quality_gate" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Repetition.gate(docs(s, dir), "doc_id", "text")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("id_sum"),
          sum($"n_tokens").as("kept_tokens"))
        .orderBy($"source")
    }),

    // C4-style structural cleaning battery (Raffel et al. 2020 §2.2):
    // line-level terminal-punct/min-words/javascript rules + page-level
    // lorem-ipsum/brace gates, annotated per doc with the scrubbed text's
    // md5 so the oracle replays the full line surgery. The synthetic
    // corpus is single-line punctuation-free word soup, so the query first
    // manufactures document structure DETERMINISTICALLY (both engines run
    // the identical rewrite): ' row '/' value ' become sentence breaks,
    // ' spark ' becomes the 'javascript' banner word, and docs containing
    // 'vector vector' get a trailing '{'. At sf0.01 that leaves every rule
    // with real work (~88 pages kept, ~36 brace-dropped, ~380 with a
    // javascript line).
    "text_c4_filters" -> ((s, dir) => {
      import s.implicits._
      val synth = concat(
        replace(replace(replace($"text", lit(" spark "), lit(" javascript ")),
          lit(" row "), lit(".\n")), lit(" value "), lit(".\n")),
        when(contains($"text", lit("vector vector")), lit(" {"))
          .otherwise(lit("")))
      graft.operators.HeuristicFilters.annotate(
          docs(s, dir).withColumn("text", synth), "doc_id", "text")
        .select($"doc_id", $"n_lines", $"n_kept_lines",
          $"kept".cast("long").as("kept"),
          md5($"clean_text").as("clean_md5"))
        .orderBy($"doc_id")
    }),

    // Corpus quality SCORECARD: all four quality-signal families (C4
    // structural, Gopher repetition, lang+quality floor, LM perplexity)
    // per source in ONE composed plan — the pre-training readiness
    // report. Runs over the same deterministically synthesized structure
    // as text_c4_filters so the structural rules have real work.
    "quality_scorecard" -> ((s, dir) => {
      import s.implicits._
      val synth = concat(
        replace(replace(replace($"text", lit(" spark "), lit(" javascript ")),
          lit(" row "), lit(".\n")), lit(" value "), lit(".\n")),
        when(contains($"text", lit("vector vector")), lit(" {"))
          .otherwise(lit("")))
      graft.operators.DocPipeline.scorecard(
          docs(s, dir).withColumn("text", synth), "doc_id", "text")
        .groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          sum($"c4_ok".cast("long")).as("n_c4"),
          sum($"gopher_ok".cast("long")).as("n_gopher"),
          sum($"langq_ok".cast("long")).as("n_langq"),
          sum($"lm_ok".cast("long")).as("n_lm"),
          sum($"all_ok".cast("long")).as("n_all"))
        .orderBy($"source")
    }),

    // DSIR importance scores (Xie et al. 2023): hashed-unigram
    // log-likelihood ratio of a target-domain sample (source=src5) vs the
    // raw corpus, in exact integer micro-nats — the "score the crawl
    // against wiki/books" selection pass.
    "dsir_scores" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      graft.operators.Dsir.importanceScores(
          d, d.where($"source" === "src5"), "doc_id", "text", buckets = 1024)
        .orderBy($"doc_id")
    }),

    // Corpus drift: KL(target ‖ raw) over hashed unigram buckets in
    // integer count×micro-nat units — the between-snapshot distribution
    // monitor, built on the DSIR weight table.
    "corpus_drift" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      // the monitor's deployed lifecycle: snapshot the corpus to storage
      // once, then drift every new batch against the LOADED snapshot (the
      // old corpus is never re-tokenized). Integer counts round-trip
      // parquet exactly, so the result is identical to in-query training.
      // The snapshot is built ONCE per (session, sfDir) — repeated bench
      // invocations time only the drift scoring, and the temp directory
      // is removed on JVM exit instead of accumulating per run.
      val snapDir = driftSnapshotDir(s, dir, d)
      graft.operators.Dsir.driftFromSnapshot(
        graft.operators.Dsir.loadSnapshot(s, snapDir),
        d.where($"source" === "src5"), "text")
    }),

    // Crawl-to-crawl snapshot diff: the id-keyed delta report a recurring
    // crawl computes before anything else runs. Two snapshots derive
    // deterministically from documents — old drops every 7th id, new
    // drops every 5th and content-revises every 3rd — and diff by the
    // per-id min-md5 fingerprint: added / removed / changed / unchanged.
    // pmod on both sides (negative ids); null-id docs drop identically in
    // both engines (null pmod predicate). The revision coalesces null
    // text to '' BEFORE appending so a revised null-text doc actually
    // changes (null || suffix would stay null = unchanged on one side
    // only if mirrored sloppily — both sides coalesce).
    "corpus_diff" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"text")
      val oldSnap = d.where(pmod($"doc_id", lit(7)) =!= 0)
      val newSnap = d.where(pmod($"doc_id", lit(5)) =!= 0)
        .withColumn("text",
          when(pmod($"doc_id", lit(3)) === 0,
            concat(coalesce($"text", lit("")), lit(" rev2")))
            .otherwise($"text"))
      graft.operators.CorpusDiff.diff(oldSnap, newSnap, "doc_id", "text")
        .orderBy($"doc_id")
    }),

    // The nightly-crawl refresh, composed end-to-end from the pieces the
    // rounds built separately: snapshot diff → the added/changed docs
    // re-enter the pipeline → incremental dedup against the retained
    // corpus → the survivors' embeddings ivfAppendBatch into the
    // persisted index → the refreshed index re-certifies recall over the
    // union and provably contains every indexed newcomer. Each stage is
    // the scale-shaped operator (one-shuffle diff, fingerprint anti-join,
    // assignment append); the composition is what a recurring 100 TB
    // crawl actually runs per night. Changed docs are re-embedded and
    // re-appended (their superseded rows are what an out-of-band
    // compaction/retrain pass clears — the append is what's certified).
    "crawl_refresh_e2e" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"text")
      val oldSnap = d.where(pmod($"doc_id", lit(7)) =!= 0)
      val newSnap = d.where(pmod($"doc_id", lit(5)) =!= 0)
        .withColumn("text",
          when(pmod($"doc_id", lit(3)) === 0,
            concat(coalesce($"text", lit("")), lit(" rev2")))
            .otherwise($"text"))
      val delta = graft.operators.CorpusDiff.diff(oldSnap, newSnap,
        "doc_id", "text").cache()
      // one conditional-count aggregate (also materializes the cache)
      // where two filtered counts ran two jobs over the same delta
      val deltaCounts = delta.agg(
        count(when($"status" === "added", 1)).as("_na"),
        count(when($"status" === "changed", 1)).as("_nc")).head()
      val nAdded = deltaCounts.getLong(0)
      val nChanged = deltaCounts.getLong(1)
      val freshIds = delta.where($"status".isin("added", "changed"))
        .select($"doc_id")
      val freshBatch = newSnap.join(freshIds, Seq("doc_id"))
      val survivors = DedupFunctions.incrementalDedup(freshBatch, oldSnap,
        "doc_id", "text").cache()
      val nSurvivors = survivors.count()
      val emb = tbl(s, dir, "embeddings")
        .where(SimilarityFunctions.finiteVec("embedding"))
      // cached like delta/survivors above: each embedding frame feeds
      // several downstream jobs (counts, appends, union, containment)
      val baseEmb = emb.join(
        oldSnap.select($"doc_id".as("vec_id")).distinct(), Seq("vec_id"))
        .cache()
      val incEmb = emb.join(
        survivors.select($"doc_id".as("vec_id")).distinct(), Seq("vec_id"))
        .cache()
      val removedIds = delta.where($"status" === "removed")
        .select($"doc_id".as("vec_id")).distinct()
      val keptBase = baseEmb.join(removedIds, Seq("vec_id"), "left_anti")
        .cache()
      // three INDEPENDENT counts (disjoint cached frames) overlap on the
      // idle-tail pool instead of serializing three job latencies
      // (guide §2.6); each count also materializes its frame's cache
      val Seq(nBase, nKeptBase, nIndexed) =
        graft.util.ParallelWrites.run(
          Seq(baseEmb, keptBase, incEmb), 3)(_.count())
      val counts = (df: DataFrame) => df
        .withColumn("n_added", lit(nAdded))
        .withColumn("n_changed", lit(nChanged))
        .withColumn("n_survivors", lit(nSurvivors))
        .withColumn("n_indexed", lit(nIndexed))
        .withColumn("n_purged", lit(nBase - nKeptBase))
        .withColumn("n_index_total", lit(nKeptBase + nIndexed))
      if (nBase + nIndexed == 0)
        counts(Seq((0L, 0L, 5000L, 1L, 1L, 1L, 1L, 1L)).toDF("n_queries",
          "n_exact", "recall_floor_bp", "recall_ok", "new_in_index",
          "removed_purged", "drift_quiet", "index_untouched"))
      else {
        val tmp = java.nio.file.Files.createTempDirectory("graft_crawl").toString
        val inv = s"$tmp/inv"
        // bootstrap like ann_ivf_incremental: a snapshot with no indexed
        // base trains the quantizer on whatever the crawl brings
        val ivf = SimilarityFunctions.ivfTrain(
          if (nBase > 0) baseEmb else incEmb, "embedding", cells = 16)
        SimilarityFunctions.ivfAppendBatch(ivf, inv, baseEmb,
          "vec_id", "embedding", 0L)
        if (nIndexed > 0)
          SimilarityFunctions.ivfAppendBatch(ivf, inv, incEmb,
            "vec_id", "embedding", 1L)
        // NEGATIVE drift arm (the trigger arm is certified by
        // ann_ivf_retrain/ann_ivfpq_retrain): an in-distribution crawl
        // must leave the monitor QUIET — ivfRetrainIfDrifted returns
        // None, the old index keeps serving, and nothing about the
        // published artifact moves (same epoch bytes, same row count,
        // still no co-located quantizer — a retrain would have published
        // one). The threshold is the increment's own measured error, so
        // `err > err` is false by construction on ANY corpus: the
        // certificate pins the no-trigger CONTRACT (None ⇒ untouched),
        // deterministically, not a data-dependent trigger decision.
        val fsInv = new org.apache.hadoop.fs.Path(inv)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def fileContent(path: String): Option[String] = {
          val p = new org.apache.hadoop.fs.Path(path)
          if (!fsInv.exists(p)) None
          else {
            val in = fsInv.open(p)
            try Some(new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8))
            finally in.close()
          }
        }
        val epochBefore = fileContent(SimilarityFunctions.ivfEpochPath(inv))
        val rowsBefore = nBase + nIndexed // what the two appends just wrote
        val incErrBp = SimilarityFunctions.quantizationErrorBp(
          ivf, if (nIndexed > 0) incEmb else baseEmb, "embedding")
        val acted = SimilarityFunctions.ivfRetrainIfDrifted(s, inv, ivf,
          if (nIndexed > 0) incEmb else baseEmb, "embedding",
          driftThresholdBp = incErrBp, cells = 16)
        val driftQuiet = acted.isEmpty
        val untouched =
          fileContent(SimilarityFunctions.ivfEpochPath(inv)) == epochBefore &&
          s.read.parquet(inv).count() == rowsBefore &&
          !fsInv.exists(new org.apache.hadoop.fs.Path(
            SimilarityFunctions.ivfQuantizerPath(inv)))
        // the REMOVED half of the delta: tombstone-compact the vanished
        // docs out of the index (atomic swap, quantizer unchanged)
        if (!removedIds.isEmpty)
          SimilarityFunctions.ivfCompact(s, inv, ivf, removedIds, "vec_id")
        val served = s.read.parquet(inv)
        // both containment checks in ONE job: every indexed newcomer is IN
        // the served set (anti-join survivors = missing) and no vanished
        // doc remains in it (inner-join hits = lingering) — previously two
        // separate count jobs over the same served ids
        val servedIds = served.select($"neighbor_id").distinct()
        val contain = incEmb.select($"vec_id".as("neighbor_id")).distinct()
          .join(servedIds, Seq("neighbor_id"), "left_anti")
          .select(lit("missing").as("_k"))
          .unionAll(servedIds
            .join(removedIds.select($"vec_id".as("neighbor_id")),
              Seq("neighbor_id"))
            .select(lit("lingering").as("_k")))
          .groupBy($"_k").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val missing = contain.getOrElse("missing", 0L)
        val lingering = contain.getOrElse("lingering", 0L)
        val unionEmb = keptBase.unionByName(incEmb)
        val probes = unionEmb.filter($"vec_id" < 20)
        recallCertificate(
            SimilarityFunctions.ivfSearch(served, probes, ivf,
              "vec_id", "embedding", 5, nProbe = 4),
            SimilarityFunctions.bruteForceTopK(unionEmb, probes,
              "vec_id", "embedding", 5),
            recallFloorBp = 5000, unionEmb, probes, "embedding", "vec_id", 5)
          .transform(counts)
          .withColumn("new_in_index", lit(if (missing == 0) 1L else 0L))
          .withColumn("removed_purged", lit(if (lingering == 0) 1L else 0L))
          .withColumn("drift_quiet", lit(if (driftQuiet) 1L else 0L))
          .withColumn("index_untouched", lit(if (untouched) 1L else 0L))
      }
    }),

    // Winnowing near-dup pairs: docs sharing ≥2 winnowed fingerprints —
    // passage-level overlap detection (guaranteed hit for shared
    // passages of ≥ w+2 tokens), the minhash-pairs join shape.
    "dedup_winnow_pairs" -> ((s, dir) => {
      import s.implicits._
      // maxDocFreq mirrors the oracle's stop-fingerprint HAVING clause —
      // both sides drop fingerprints shared by > 1000 docs before pairing
      DedupFunctions.winnowNearDups(docs(s, dir), "doc_id", "text",
          n = 3, w = 8, minShared = 2, maxDocFreq = 1000)
        .orderBy($"id_a", $"id_b")
    }),

    // Word-entropy quality signals: unnormalized Shannon entropy
    // n·H in integer micro-nats + distinct-token ratio — the
    // boilerplate/noise screens (low entropy = repeated boilerplate,
    // high distinct ratio on long docs = token soup).
    "text_entropy" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Entropy.wordEntropy(docs(s, dir), "doc_id", "text")
        .orderBy($"doc_id")
    }),

    // Winnowing fingerprints (Schleimer et al. SIGMOD'03): windowed-min
    // selection over word-3-gram hashes, ~2/(w+1) density with a
    // guaranteed hit for any shared passage of ≥ w+2 tokens. Output:
    // per-doc gram/fingerprint counts + a mod-p checksum of the
    // selected set (order-independent, so engines may disagree on
    // array order but never on the set).
    "text_winnow_fp" -> ((s, dir) => {
      import s.implicits._
      val fp = TextFunctions.winnowedFingerprints($"text", n = 3, w = 8)
      docs(s, dir).select($"doc_id",
          size(TextFunctions.shingles($"text", 3)).cast("long").as("n_grams"),
          size(fp).cast("long").as("n_fp"),
          // native codegen'd fold — the interpreted aggregate() HOF was
          // the last full-corpus interpreted fold (r12 verdict #4)
          graft.functions.expressions.ModPChecksum
            .mod_p_checksum(fp, 1000000007L).as("fp_checksum"))
        .orderBy($"doc_id")
    }),

    // Per-source cap: keep each source's 15 best documents by heuristic
    // quality score (doc_id tiebreak) — the per-domain ceiling that
    // stops any one host dominating the training mix (sources carry ≥25
    // docs at every SF, so a cap of 15 genuinely cuts).
    "cap_per_source" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select($"doc_id", $"source",
        TextFunctions.basisPoints(TextFunctions.qualityScore($"text"))
          .as("quality_bp"))
      graft.operators.Sampling.capPerGroup(d, "doc_id", "source",
          "quality_bp", k = 15)
        .orderBy($"source", $"rank")
    }),

    // URL canonicalization + crawl dedup: raw URLs that differ only in
    // scheme/host case, www., default ports, fragments, trailing
    // slashes, param order, or tracking params collapse to one
    // canonical form; the group is the crawl-frontier dedup unit
    // (min-doc_id keeper). Per-row narrow normalize fused into the
    // scan, then ONE hash shuffle on the canonical key.
    "url_dedup_canonical" -> ((s, dir) => {
      import s.implicits._
      docUrls(s, dir)
        .select($"doc_id", $"url",
          graft.functions.UrlFunctions.normalizeUrl($"url").as("canonical_url"))
        .groupBy($"canonical_url")
        .agg(count(lit(1)).as("n_raw"),
          countDistinct($"url").as("n_raw_distinct"),
          min($"doc_id").as("keeper_doc"))
        .orderBy($"canonical_url")
    }),

    // Registered-domain curation: extract the pay-level domain from each
    // doc's URL host, drop blocklisted domains, and keep the top-k docs
    // per domain by quality — the per-site cap every crawl corpus
    // applies so no single domain dominates training. The hot-group
    // caveat of capPerGroup applies (one domain = much of the corpus →
    // pre-thin with stratifiedSample); here domains are few and huge BY
    // CONSTRUCTION, which is exactly the shape the cap exists for.
    "url_domain_cap" -> ((s, dir) => {
      import s.implicits._
      val u = docUrls(s, dir)
      val d = u.select($"doc_id",
          graft.functions.UrlFunctions.registeredDomain(
            graft.functions.UrlFunctions.urlHost($"url")).as("domain"),
          TextFunctions.basisPoints(TextFunctions.qualityScore($"text"))
            .as("quality_bp"))
        .filter(!$"domain".isin("news.net"))
      graft.operators.Sampling.capPerGroup(d, "doc_id", "domain",
          "quality_bp", k = 8)
        .orderBy($"domain", $"rank")
    }),

    // Naive Bayes classifier round-trip: train a hashed-unigram
    // multinomial NB on the corpus's own lang labels (doc_id%5!=0),
    // predict the held-out fifth — the fastText-shaped quality/language
    // filter, deterministic end-to-end in integer micro-nats. NOTE: the
    // synthetic corpus draws every lang's text from the SAME 31-word
    // pool, so labels are text-independent and the Bayes-correct answer
    // is the majority-prior argmax — this query gates the exact train+
    // score arithmetic; CurationOpsSpec pins real class separation on a
    // corpus where the vocabularies actually differ.
    "nb_langid" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      graft.operators.NaiveBayes.classify(
          d.where($"doc_id" % 5 === 0), d.where($"doc_id" % 5 =!= 0),
          "doc_id", "lang", "text", buckets = 1024)
        .join(d.select($"doc_id", $"lang"), Seq("doc_id"))
        .select($"doc_id", $"pred", $"score_unats",
          ($"pred" === $"lang").cast("long").as("hit"))
        .orderBy($"doc_id")
    }),

    // TF-IDF keyword extraction: per-doc top-5 terms by integer
    // tf × micro-nat-idf score — the topic/keyword signal for curation
    // and per-domain balancing. Rank-stable (term-string tiebreak).
    "tfidf_keywords" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Tfidf.topKeywords(docs(s, dir), "doc_id", "text", k = 5)
        .orderBy($"doc_id", $"rank")
    }),

    // ---- LLM-pipeline operators: dedup family -----------------------

    // Exact dedup via normalized-content fingerprint.
    "dedup_exact_docs" -> ((s, dir) => {
      import s.implicits._
      DedupFunctions.exactDedup(docs(s, dir), "doc_id", "text")
        .select($"_fp".as("fp"), $"doc_id", $"n_copies")
        .orderBy($"doc_id")
    }),

    // Incremental dedup: the src0 partition plays the existing corpus, the
    // rest the incoming batch — batch content already in the corpus is
    // anti-joined away, then the batch dedups within itself (min-id wins).
    "dedup_incremental" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      DedupFunctions.incrementalDedup(
          d.where($"source" =!= "src0"), d.where($"source" === "src0"),
          "doc_id", "text")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("id_sum"))
        .orderBy($"source")
    }),

    // Same crawl-vs-corpus dedup through the Bloom semi-join reduction:
    // bloom-negative batch rows skip the join, positives are exactly
    // verified — results identical to dedup_incremental by construction,
    // so the two queries share one oracle SQL.
    "dedup_incremental_bloom" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      DedupFunctions.incrementalDedupBloom(
          d.where($"source" =!= "src0"), d.where($"source" === "src0"),
          "doc_id", "text", expectedDistinct = 1 << 16)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("id_sum"))
        .orderBy($"source")
    }),

    // Paragraph-level exact dedup (RefinedWeb/MassiveText line dedup):
    // each distinct normalized line survives once corpus-wide (smallest
    // doc, first position), docs reassembled from survivors. Line
    // structure is synthesized deterministically like text_c4_filters
    // (' row '/' value ' become line breaks); the short repeated segments
    // of the word-soup corpus then behave exactly like web boilerplate.
    "dedup_paragraphs" -> ((s, dir) => {
      import s.implicits._
      val synth = replace(replace($"text", lit(" row "), lit("\n")),
        lit(" value "), lit("\n"))
      DedupFunctions.dedupParagraphs(
          docs(s, dir).withColumn("text", synth), "doc_id", "text")
        .select($"doc_id", $"n_lines", $"n_kept_lines",
          md5($"clean_text").as("clean_md5"))
        .orderBy($"doc_id")
    }),

    // FUZZY incremental dedup: near-duplicates of the corpus (src0) found
    // in the incoming batch through the cross-corpus MinHash band join —
    // no corpus self-join. Batch docs with any corpus candidate at
    // Jaccard >= 0.5 are the drop set, summarized per source.
    "dedup_incremental_fuzzy" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      // maxBandFreq mirrors the oracle's per-side stop-band HAVING clause
      val cands = DedupFunctions.minhashCandidatesAcross(
        d.where($"source" =!= "src0"), d.where($"source" === "src0"),
        "doc_id", "text", k = 12, nBands = 4, shingleSize = 3,
        maxBandFreq = 1000)
      val dropped = cands.where($"jaccard" >= 0.5)
        .select($"batch_id".as("doc_id")).distinct()
      d.where($"source" =!= "src0")
        .join(dropped, Seq("doc_id"), "left_semi")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_dropped"), sum($"doc_id").as("id_sum"))
        .orderBy($"source")
    }),

    // MinHash signatures (k=12 over 3-shingles), collapsed to per-doc
    // sum/min/max so the oracle compares scalars, not arrays.
    "dedup_minhash_sig" -> ((s, dir) => {
      import s.implicits._
      val sig = DedupFunctions.minhashSignature($"text", 12, 3)
      // checksum the signature with a modded sum: 12 values < 2^61 would
      // overflow an int64 sum for short (few-shingle) documents. Native
      // codegen'd fold — the aggregate(transform(...)) HOF was one of the
      // two last interpreted full-corpus lambdas (r13 verdict task 4)
      docs(s, dir).select(
          $"doc_id",
          graft.functions.expressions.ModPElementSum
            .mod_p_element_sum(sig, 1000003L).as("sig_sum"),
          array_min(sig).as("sig_min"),
          array_max(sig).as("sig_max"))
        .orderBy($"doc_id")
    }),

    // MinHash-LSH candidate pairs (banded bucket join) with exact
    // token-Jaccard on each candidate.
    "dedup_minhash_pairs" -> ((s, dir) => {
      import s.implicits._
      // maxBandFreq mirrors the oracle's stop-band HAVING clause — both
      // sides drop band buckets holding > 1000 docs before pairing
      DedupFunctions.minhashCandidates(docs(s, dir), "doc_id", "text",
          k = 12, nBands = 4, shingleSize = 3, maxBandFreq = 1000)
        .select($"id_a", $"id_b",
          TextFunctions.basisPoints($"jaccard").as("jaccard_bp"))
        .orderBy($"id_a", $"id_b")
    }),

    // Duplicate CLUSTERS: LSH candidate pairs → connected components →
    // one group per duplicate family labeled by its smallest member (what
    // a keep-one-representative pass actually needs; pairs alone can't
    // express transitive duplicates A~B~C).
    "dedup_clusters" -> dedupClusters,

    // Registered name of the former auto-escalating CC entry point, kept
    // so the query surface stays whole; it is the same plan as
    // dedup_clusters now that one CC algorithm remains.
    "dedup_clusters_auto" -> dedupClusters,

    // SimHash (60-bit, token multiset) per document.
    "dedup_simhash" -> ((s, dir) => {
      import s.implicits._
      // tokenless documents (null/empty/whitespace text) have NULL
      // signatures and no row — the oracle's unnest-based replay drops
      // them the same way
      docs(s, dir).select($"doc_id",
          DedupFunctions.simhash64($"text").as("simhash"))
        .where($"simhash".isNotNull)
        .orderBy($"doc_id")
    }),

    // SimHash near-dup PAIRS within Hamming radius 3 via multi-index band
    // blocking (pigeonhole over 4×15-bit bands — exact recall, one
    // shuffle, no n² comparison).
    "dedup_simhash_pairs" -> ((s, dir) => {
      import s.implicits._
      DedupFunctions.simhashNearDups(docs(s, dir), "doc_id", "text",
          maxHamming = 3)
        .orderBy($"id_a", $"id_b")
    }),

    // Blocked n-gram Jaccard near-dup pairs (block = lang × source).
    "dedup_ngram_jaccard" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).withColumn("blk", concat($"lang", lit("|"), $"source"))
      DedupFunctions.ngramJaccardPairs(d, "doc_id", "text", "blk", n = 3,
          threshold = 0.05)
        .select($"id_a", $"id_b",
          TextFunctions.basisPoints($"jaccard").as("jaccard_bp"))
        .orderBy($"id_a", $"id_b")
    }),

    // Embedding-cosine near-dup pairs blocked by label.
    "dedup_embedding_pairs" -> ((s, dir) => {
      import s.implicits._
      DedupFunctions.embeddingNearDups(
          tbl(s, dir, "embeddings"), "vec_id", "embedding", "label", 0.3)
        .select($"id_a", $"id_b",
          TextFunctions.basisPoints($"cosine").as("cosine_bp"))
        .orderBy($"id_a", $"id_b")
    }),

    // SemDeDup (Abbas et al. 2023): k-means-partitioned semantic dedup.
    // The cluster assignment is not SQL-expressible, but the CLAIM is —
    // within-cell drops are a SUBSET of the brute-force drop set (every
    // emitted drop is backed by an exact cosine), so the certificate pins
    // n_extra = 0 (precision 1) plus a measured-recall floor; the oracle
    // recomputes the deterministic facts and asserts both flags.
    "semantic_dedup" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val index = SimilarityFunctions.ivfTrain(emb, "embedding", cells = 8)
      val semDrops = DedupFunctions.semanticDedupDrops(
        index.assignProbes(emb, "vec_id", "embedding", probes = 2), 0.3)
      val bruteDrops = DedupFunctions.embeddingNearDups(
          emb.withColumn("_one", lit(1)), "vec_id", "embedding", "_one", 0.3)
        .select($"id_b".as("drop_id")).distinct()
      val floorBp = 8000L
      val totals = emb.where(SimilarityFunctions.finiteVec("embedding"))
        .agg(count(lit(1)).as("n_vecs"))
        .crossJoin(bruteDrops.agg(count(lit(1)).as("n_brute_drops")))
      val hits = semDrops.join(bruteDrops, Seq("drop_id"))
        .agg(count(lit(1)).as("_n_hits"))
      val extra = semDrops.join(bruteDrops, Seq("drop_id"), "left_anti")
        .agg(count(lit(1)).as("n_extra"))
      totals.crossJoin(hits).crossJoin(extra) // all 1 row × 1 row
        .select($"n_vecs", $"n_brute_drops", $"n_extra",
          lit(floorBp).as("recall_floor_bp"),
          ($"_n_hits" * 10000 >= $"n_brute_drops" * floorBp)
            .cast("long").as("recall_ok"))
    }),

    // Cross-document repeated passages (5-token windows): the windowed
    // exact-substring dedup signal — verbatim passages shared across docs.
    "dedup_repeated_passages" -> ((s, dir) => {
      import s.implicits._
      DedupFunctions.repeatedPassages(docs(s, dir), "doc_id", "text", 5)
        .orderBy($"win_hash")
    }),

    // Per-document duplicate-passage coverage: share of a doc's 5-token
    // windows that also appear in another document (basis points).
    "dedup_passage_coverage" -> ((s, dir) => {
      import s.implicits._
      DedupFunctions.passageDupCoverage(docs(s, dir), "doc_id", "text", 5)
        .orderBy($"doc_id")
    }),

    // Duplicate-SPAN removal (the rewrite half of exact-substring dedup):
    // every cross-doc 5-token span survives exactly once, in its smallest
    // doc; other docs lose the covered tokens. Output is per-doc counts +
    // the md5 of the rewritten text (DuckDB rebuilds the whole surgery).
    "dedup_span_removal" -> ((s, dir) => {
      import s.implicits._
      DedupFunctions.removeRepeatedSpans(docs(s, dir), "doc_id", "text", 5)
        .select($"doc_id", $"n_tokens", $"n_removed",
          md5($"cleaned").as("cleaned_md5"))
        .orderBy($"doc_id")
    }),

    // The dedup capstone a pipeline actually runs: LSH pairs → star CC →
    // keep the smallest doc per duplicate family, drop the rest — then
    // per-source survivor accounting.
    "dedup_keep_representatives" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val pairs = DedupFunctions.minhashCandidates(d, "doc_id", "text",
        k = 12, nBands = 4, shingleSize = 3, maxBandFreq = 1000)
      DedupFunctions.keepRepresentatives(d, pairs, "doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("id_sum"))
        .orderBy($"source")
    }),

    // ---- LLM-pipeline operators: similarity search ------------------

    // Exact brute-force cosine top-5 for the probe set (vec_id < 20).
    "ann_brute_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      SimilarityFunctions.bruteForceTopK(
          emb, emb.filter($"vec_id" < 20), "vec_id", "embedding", 5)
        .orderBy($"query_id", $"rank")
    }),

    // int8-quantized brute-force top-k — the 100 TB storage tier: fixed
    // symmetric range keeps quantization per-row deterministic, so the
    // quantized ranking is exactly mirrorable (integer dot products).
    "ann_quantized_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
        // pre-filter: quantize8 clamps non-finite inputs into VALID int
        // codes, which would smuggle unusable vectors past finiteVec
        .where(SimilarityFunctions.finiteVec("embedding"))
        .select($"vec_id",
          SimilarityFunctions.quantize8($"embedding", 1.0).as("q"))
        .persist()
      emb.count()
      val out = SimilarityFunctions.bruteForceTopK(
          emb, emb.filter($"vec_id" < 10), "vec_id", "q", 5)
        .orderBy($"query_id", $"rank")
      out.collect() // materialize before unpersist
      emb.unpersist()
      out
    }),

    // IVF ANN (k-means coarse quantizer, nProbe cells): approximate by
    // construction, so the query emits a recall CERTIFICATE against the
    // in-query brute-force answer instead of the (engine-specific)
    // neighbor rows — deterministic, hash-checkable, and a recall
    // regression fails the gate. The neighbor-level contract stays pinned
    // in SimilaritySpec.
    "ann_ivf_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter($"vec_id" < 20)
      recallCertificate(
        SimilarityFunctions.ivfTopK(emb, probes, "vec_id", "embedding", 5,
          cells = 16, nProbe = 4),
        SimilarityFunctions.bruteForceTopK(emb, probes, "vec_id", "embedding", 5),
        recallFloorBp = 5000, emb, probes, "embedding", "vec_id", 5)
    }),

    // PCA-reduced ANN — the dimensionality-reduction tier: 24 of 64
    // directions scanned for the shortlist, exact re-rank restores
    // recall. Certificate vs in-query brute force (see ann_ivf_topk).
    "ann_pca_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter($"vec_id" < 20)
      recallCertificate(
        SimilarityFunctions.pcaTopK(emb, probes, "vec_id", "embedding", 5,
          pcaK = 24, shortlist = 64),
        SimilarityFunctions.bruteForceTopK(emb, probes, "vec_id", "embedding", 5),
        recallFloorBp = 5000, emb, probes, "embedding", "vec_id", 5)
    }),

    // PQ (product-quantized) ANN — the compressed storage tier: 8 byte
    // codes per 64-dim vector, ADC shortlist + exact re-rank. Recall
    // certificate vs in-query brute force (see ann_ivf_topk).
    "ann_pq_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter($"vec_id" < 20)
      recallCertificate(
        SimilarityFunctions.pqTopK(emb, probes, "vec_id", "embedding", 5),
        SimilarityFunctions.bruteForceTopK(emb, probes, "vec_id", "embedding", 5),
        recallFloorBp = 4000, emb, probes, "embedding", "vec_id", 5)
    }),

    // IVF-PQ — the billion-scale composition: cell probing bounds the
    // candidate set, PQ codes bound scan bandwidth, exact re-rank restores
    // recall. Recall certificate vs in-query brute force (see ann_ivf_topk).
    // Floor 4000 bp since r14: probe ranking moved onto the ASSIGNMENT
    // metric (the pre-r14 -cosine ranking disagreed with the inverted
    // file's squared-Euclid-on-normalized assignment through the
    // ||centroid|| term, capping the certified floor at 3000) and the ADC
    // shortlist is 128 (at 40 the shortlist itself was the recall cap:
    // measured 3700 bp at sf0.1 vs 5000 at 128 — converged to IVF-alone's
    // 5400; 128 exact re-rank cosines per query is noise next to the ADC
    // scan of ~nProbe/cells of the corpus). Achieved: 5200 bp at sf0.01,
    // 5000 bp at sf0.1.
    "ann_ivfpq_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter($"vec_id" < 20)
      recallCertificate(
        SimilarityFunctions.ivfPqTopK(emb, probes, "vec_id", "embedding", 5,
          cells = 16, nProbe = 4, shortlist = 128),
        SimilarityFunctions.bruteForceTopK(emb, probes, "vec_id", "embedding", 5),
        recallFloorBp = 4000, emb, probes, "embedding", "vec_id", 5)
    }),

    // Incremental IVF maintenance — the nightly-crawl shape: the quantizer
    // trains ONCE on the historical half (even vec_ids) and persists; the
    // new half (odd vec_ids) is assigned against the PERSISTED centroids
    // and APPENDED to the inverted file — no retrain, no rebuild. The
    // query certifies BOTH contracts: search over the incrementally-grown
    // inverted file is row-identical to search over a from-scratch
    // assignment of the union corpus (`identical`), and recall against
    // in-query brute force holds the same floor as ann_ivf_topk.
    "ann_ivf_incremental" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      // persisted for the query's span: the usable set feeds the emptiness
      // gate, both parity halves (assign + append), and the certificate —
      // without it each action re-reads and re-filters the parquet scan
      val usable = emb.where(SimilarityFunctions.finiteVec("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // unpersisted on EVERY exit (finally): the returned certificate frame
      // reads the materialized index parquet + the base table, never
      // `usable`, so dropping the cache before returning is free — and
      // leaving it would accumulate blocks across the suite (ADVICE r14)
      try {
      if (usable.isEmpty)
        emptyAnnIncrementalResult(s)
      else {
        val probes = emb.filter($"vec_id" < 20)
        val old = usable.filter($"vec_id" % 2 === 0)
        val fresh = usable.filter($"vec_id" % 2 =!= 0)
        val tmp = java.nio.file.Files.createTempDirectory("graft_ivfinc").toString
        val oldNonEmpty = !old.isEmpty
        // degenerate corpora (one parity absent) bootstrap the quantizer
        // from whatever exists; the primary corpus trains on the old half
        val ivf = SimilarityFunctions.ivfTrain(
          if (oldNonEmpty) old else usable, "embedding", cells = 16)
        ivf.save(s"$tmp/quantizer")
        // everything below serves from the PERSISTED artifacts — the
        // driver-restart shape at scale
        val loaded = SimilarityFunctions.ivfLoad(s"$tmp/quantizer")
        val invPath = s"$tmp/inv"
        if (oldNonEmpty)
          loaded.assign(old, "vec_id", "embedding")
            .write.mode("overwrite").parquet(invPath)
        val nAppended = fresh.count()
        if (nAppended > 0)
          SimilarityFunctions.ivfAppend(loaded, invPath, fresh,
            "vec_id", "embedding")
        val inv = s.read.parquet(invPath)
        val incr = SimilarityFunctions.ivfSearch(inv, probes, loaded,
          "vec_id", "embedding", 5, nProbe = 4)
        val rebuilt = SimilarityFunctions.ivfSearch(
          loaded.assign(usable, "vec_id", "embedding"), probes, loaded,
          "vec_id", "embedding", 5, nProbe = 4)
        val outCols = Seq("query_id", "neighbor_id", "cosine_bp", "rank").map(col)
        // one-pass multiset equality (see multisetEqual) — identical
        // boolean to the two-directional exceptAll probes, half the jobs
        val identical = multisetEqual(incr.select(outCols: _*),
          rebuilt.select(outCols: _*))
        recallCertificate(incr,
            SimilarityFunctions.bruteForceTopK(emb, probes, "vec_id", "embedding", 5),
            recallFloorBp = 5000, emb, probes, "embedding", "vec_id", 5)
          .withColumn("n_appended", lit(nAppended))
          .withColumn("identical", lit(if (identical) 1L else 0L))
      }
      } finally usable.unpersist(false)
    }),

    // The retrain+rebuild act that closes the incremental lifecycle:
    // build the index as two crawls against a v1 quantizer trained on
    // HALF the corpus (the drifted-world shape), monitor quantization
    // error, then ivfRetrain — fresh spherical fit over the union read
    // from the inverted file itself, one re-assignment pass, atomic dir
    // swap with the quantizer co-located inside. The certificate proves
    // the swap end-state: every union row served, swapped file identical
    // to a fresh rebuild under the new quantizer, co-located quantizer
    // round-trips, and post-retrain search recall over the union holds
    // the same floor as ann_ivf_topk.
    "ann_ivf_retrain" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      // vec_id.isNotNull: a NULL-id row would fall out of BOTH parity
      // halves (three-valued % compare) yet still count in nUnion and the
      // fresh rebuild — flipping served_all/swap_identity on any-data
      // corpora. The oracle's n_union mirrors the same filter.
      // persisted for the query's span: the usable set feeds the gate,
      // both parity halves, the trainer sample, the drift monitor, the
      // rebuild, and the certificate — ~8 actions that would otherwise
      // each re-read and re-filter the parquet scan
      val usable = emb.where(SimilarityFunctions.finiteVec("embedding") &&
        $"vec_id".isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the emptiness gate and the later n_union count were two separate
      // jobs; one count up front serves both (n == 0 ⇔ isEmpty).
      // unpersisted on every exit — see ann_ivf_incremental
      try {
      val nUnion = usable.count()
      if (nUnion == 0)
        Seq((0L, 0L, 5000L, 1L, 0L, 1L, 1L, 1L)).toDF("n_queries", "n_exact",
          "recall_floor_bp", "recall_ok", "n_union", "served_all",
          "swap_identity", "quantizer_roundtrip")
      else {
        val tmp = java.nio.file.Files.createTempDirectory("graft_ivfret").toString
        val inv = s"$tmp/inv"
        val old = usable.filter($"vec_id" % 2 === 0)
        val freshHalf = usable.filter($"vec_id" % 2 =!= 0)
        val oldNonEmpty = !old.isEmpty
        val base = if (oldNonEmpty) old else freshHalf
        val inc = if (oldNonEmpty) freshHalf else old
        val v1 = SimilarityFunctions.ivfTrain(base, "embedding", cells = 16)
        SimilarityFunctions.ivfAppendBatch(v1, inv, base,
          "vec_id", "embedding", 0L)
        if (!inc.isEmpty)
          SimilarityFunctions.ivfAppendBatch(v1, inv, inc,
            "vec_id", "embedding", 1L)
        // the monitor reads the signal (not asserted — data-dependent);
        // the retrain is unconditional here so the certificate always
        // exercises the swap
        SimilarityFunctions.quantizationErrorBp(v1, usable, "embedding")
        val next = SimilarityFunctions.ivfRetrain(s, inv, cells = 16)
        val swapped = s.read.parquet(inv)
        val servedAll = swapped.count() == nUnion
        val rebuilt = next.assign(usable, "vec_id", "embedding")
        val swapCols = Seq("neighbor_id", "_cell", "_cv").map(col)
        // one-pass multiset equality (see multisetEqual) — identical
        // boolean to the two-directional exceptAll probes, half the jobs
        val identity = multisetEqual(swapped.select(swapCols: _*),
          rebuilt.select(swapCols: _*))
        val reloaded = SimilarityFunctions.ivfLoad(
          SimilarityFunctions.ivfQuantizerPath(inv))
        val roundtrip = reloaded.clusterCenters.map(_.toSeq).toSeq ==
          next.clusterCenters.map(_.toSeq).toSeq
        val probes = emb.filter($"vec_id" < 20)
        recallCertificate(
            SimilarityFunctions.ivfSearch(swapped, probes, next,
              "vec_id", "embedding", 5, nProbe = 4),
            SimilarityFunctions.bruteForceTopK(emb, probes,
              "vec_id", "embedding", 5),
            recallFloorBp = 5000, emb, probes, "embedding", "vec_id", 5)
          .withColumn("n_union", lit(nUnion))
          .withColumn("served_all", lit(if (servedAll) 1L else 0L))
          .withColumn("swap_identity", lit(if (identity) 1L else 0L))
          .withColumn("quantizer_roundtrip", lit(if (roundtrip) 1L else 0L))
      }
      } finally usable.unpersist(false)
    }),

    // The PQ arm of the retrain act (r12 verdict task 3): drift response
    // retrains BOTH artifacts — fresh spherical centroids AND a fresh PQ
    // codebook — and ivfRetrain re-encodes `_codes` in the same rebuild
    // pass. The certificate proves the swapped index end-state under ADC
    // + exact re-rank serving: every union row served, swapped rows
    // (codes included) identical to a from-scratch IVF-PQ build under
    // the new artifacts, co-located quantizer round-trips, and
    // post-retrain ADC search recall holds ann_ivfpq_topk's floor.
    "ann_ivfpq_retrain" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      // persisted + counted once up front — see ann_ivf_retrain (the same
      // ~8-action fan-out over the usable set, plus the two PQ trainers);
      // unpersisted on every exit — see ann_ivf_incremental
      val usable = emb.where(SimilarityFunctions.finiteVec("embedding") &&
        $"vec_id".isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      val nUnion = usable.count()
      if (nUnion == 0)
        Seq((0L, 0L, 4000L, 1L, 0L, 1L, 1L, 1L)).toDF("n_queries", "n_exact",
          "recall_floor_bp", "recall_ok", "n_union", "served_all",
          "swap_identity", "quantizer_roundtrip")
      else {
        val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpqret").toString
        val inv = s"$tmp/inv"
        val old = usable.filter($"vec_id" % 2 === 0)
        val freshHalf = usable.filter($"vec_id" % 2 =!= 0)
        val oldNonEmpty = !old.isEmpty
        val base = if (oldNonEmpty) old else freshHalf
        val inc = if (oldNonEmpty) freshHalf else old
        val v1 = SimilarityFunctions.ivfTrain(base, "embedding", cells = 16)
        val v1Pq = SimilarityFunctions.pqTrain(base, "embedding",
          m = 8, codes = 16)
        SimilarityFunctions.ivfAppendBatch(v1, inv, base,
          "vec_id", "embedding", 0L, pq = Some(v1Pq))
        if (!inc.isEmpty)
          SimilarityFunctions.ivfAppendBatch(v1, inv, inc,
            "vec_id", "embedding", 1L, pq = Some(v1Pq))
        // monitor reads the signal (data-dependent, not asserted); the
        // retrain is unconditional so the certificate always swaps
        SimilarityFunctions.quantizationErrorBp(v1, usable, "embedding")
        val v2Pq = SimilarityFunctions.pqTrain(usable, "embedding",
          m = 8, codes = 16)
        val next = SimilarityFunctions.ivfRetrain(s, inv, cells = 16,
          pq = Some(v2Pq))
        val swapped = s.read.parquet(inv)
        val servedAll = swapped.count() == nUnion
        // map-only code column (an id join would fan out on duplicate
        // vec_ids — the hostile drill's mass-dup corpus)
        val rebuilt = next.assign(usable, "vec_id", "embedding")
          .withColumn("_codes", graft.functions.expressions.PqExpressions
            .pq_encode(col("_cv").cast("array<double>"), v2Pq.codebooks))
        val swapCols = Seq("neighbor_id", "_cell", "_cv", "_codes").map(col)
        // one-pass multiset equality (see multisetEqual) — identical
        // boolean to the two-directional exceptAll probes, half the jobs
        val identity = multisetEqual(swapped.select(swapCols: _*),
          rebuilt.select(swapCols: _*))
        val reloaded = SimilarityFunctions.ivfLoad(
          SimilarityFunctions.ivfQuantizerPath(inv))
        val roundtrip = reloaded.clusterCenters.map(_.toSeq).toSeq ==
          next.clusterCenters.map(_.toSeq).toSeq
        val probes = emb.filter($"vec_id" < 20)
        recallCertificate(
            // shortlist 128 + assignment-metric probe ranking: the same
            // 4000 bp serving floor as ann_ivfpq_topk (see its comment)
            SimilarityFunctions.ivfPqSearch(swapped, probes, next, v2Pq,
              "vec_id", "embedding", 5, nProbe = 4, shortlist = 128),
            SimilarityFunctions.bruteForceTopK(emb, probes,
              "vec_id", "embedding", 5),
            recallFloorBp = 4000, emb, probes, "embedding", "vec_id", 5)
          .withColumn("n_union", lit(nUnion))
          .withColumn("served_all", lit(if (servedAll) 1L else 0L))
          .withColumn("swap_identity", lit(if (identity) 1L else 0L))
          .withColumn("quantizer_roundtrip", lit(if (roundtrip) 1L else 0L))
      }
      } finally usable.unpersist(false)
    }),

    // Multi-probe LSH ANN. Recall certificate vs in-query brute force
    // (see ann_ivf_topk).
    "ann_lsh_topk" -> ((s, dir) => {
      import s.implicits._
      val emb = tbl(s, dir, "embeddings")
      val probes = emb.filter($"vec_id" < 20)
      recallCertificate(
        SimilarityFunctions.lshTopK(emb, probes, "vec_id", "embedding", 5,
          nPlanes = 3),
        SimilarityFunctions.bruteForceTopK(emb, probes, "vec_id", "embedding", 5),
        recallFloorBp = 5000, emb, probes, "embedding", "vec_id", 5)
    }),

    // Embedding-space outlier signal: cosine of every vector against its
    // label's centroid (micro-unit-quantized mean — the quantization makes
    // a distributed float mean hash-comparable; cosine is scale-invariant).
    "emb_centroid_outliers" -> ((s, dir) => {
      import s.implicits._
      SimilarityFunctions.centroidCosines(
          tbl(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .select($"vec_id", $"label",
          TextFunctions.basisPoints($"centroid_cos").as("centroid_cos_bp"))
        .orderBy($"vec_id")
    }),

    // ---- LLM-pipeline operators: multimodal plumbing ----------------

    // Media features composed into brute-force ANN (the point of the fixed
    // feature schema) — oracle-checked: DuckDB rebuilds the byte-histogram
    // features (float32-rounded, then double cosine, same fold order).
    "mm_ann_compose" -> ((s, dir) => mmAnnCompose(s, dir)),

    // Image near-dup via perceptual hash: 40 deterministic image families
    // (random per-column luminance + row shift = 64 chaotic dHash bits per
    // family) × 5 variants (clean + 4 noisy copies), rendered to real PNGs
    // in the executors, hashed with the ImageIO dHash kernel, and paired
    // through Hamming band blocking. DuckDB can't decode images, so the
    // oracle checks CERTIFICATE facts (the bpe_segment_cert pattern):
    // corpus shape constants plus in-query recall/precision bounds over
    // the known family structure — ≥80% of within-family pairs found,
    // cross-family pairs under the collision budget.
    "mm_image_dedup" -> ((s, dir) => {
      import s.implicits._
      val imgs = s.range(0, 200).as[Long].mapPartitions { it =>
        it.map { i =>
          val fam = (i / 5).toInt
          val variant = (i % 5).toInt
          val colProfile = {
            val r = new scala.util.Random(fam * 2654435761L)
            Array.fill(32)(r.nextInt(256))
          }
          val noise = new scala.util.Random(i * 1299709L + 15485863L)
          val im = new java.awt.image.BufferedImage(32, 32,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 32) {
            var x = 0
            while (x < 32) {
              val base = (colProfile(x) + y * 37) % 256
              val v0 = if (variant == 0) base else base + noise.nextInt(13) - 6
              val v = math.max(0, math.min(255, v0))
              im.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(im, "png", bos)
          (i, bos.toByteArray)
        }
      }.toDF("id", "bytes")
        .select($"id", graft.multimodal.Multimodal.asMedia($"bytes",
          lit("image/png")).as("media"))
      val hashes = graft.multimodal.Multimodal.imageHashes(imgs, "id", "media")
        .localCheckpoint(true) // render+hash once; both pair sides read this
      val nDecodable = hashes.where($"dhash".isNotNull).count()
      val pairs = graft.functions.DedupFunctions
        .hammingNearDups(hashes, "id", "dhash", maxHamming = 7)
        .localCheckpoint(true)
      val within = pairs.where(expr("id_a div 5") === expr("id_b div 5")).count()
      val cross = pairs.count() - within
      // 40 families × C(5,2) = 400 possible within-family pairs
      require(within >= 320, s"within-family recall too low: $within/400")
      require(cross <= 40, s"cross-family collisions over budget: $cross")
      Seq((200L, nDecodable, 1L, 1L))
        .toDF("n_images", "n_decodable", "recall_ok", "precision_ok")
    }),

    // Multimodal feature extraction, oracle-checked: the text/plain stub
    // kernel is a byte histogram, and the corpus is pure ASCII — so each
    // normalized float bucket × byte count recovers the EXACT integer
    // character-class count DuckDB can compute from the text itself. The
    // image/* kernel path (real ImageIO decode) is pinned by MultimodalSpec.
    "mm_features" -> ((s, dir) => {
      import s.implicits._
      // text IS NOT NULL on both sides: a null document would DROP from
      // the kernel pass (no media bytes) while the oracle emits a
      // null-count row. Exact-count recovery also assumes docs small
      // enough for float32 ratios to resolve single characters (< ~4 MB;
      // the synthetic corpus is orders of magnitude under that).
      val base = docs(s, dir).where($"text".isNotNull)
      val media = base.select($"doc_id",
        graft.multimodal.Multimodal.asMedia(encode($"text", "utf-8"),
          lit("text/plain")).as("media"))
      val feats = graft.multimodal.Multimodal
        .extractFeatures(media, "doc_id", "media", 16)
      // the kernel normalizes by BYTE count (the media payload is the
      // UTF-8 encoding), so the exact-count recovery multiplies by the
      // OCTET length — length() counts chars and diverges on multibyte
      feats.join(base.select($"doc_id", octet_length($"text").as("n_bytes")),
          "doc_id")
        .select($"doc_id", $"n_bytes",
          org.apache.spark.sql.functions.round(element_at($"features", 1) * $"n_bytes").cast("long").as("b0_cnt"),
          org.apache.spark.sql.functions.round(element_at($"features", 6) * $"n_bytes").cast("long").as("b5_cnt"),
          org.apache.spark.sql.functions.round(element_at($"features", 11) * $"n_bytes").cast("long").as("b10_cnt"),
          org.apache.spark.sql.functions.round(element_at($"features", 16) * $"n_bytes").cast("long").as("b15_cnt"))
        .orderBy($"doc_id")
    }),
  )

  /** mm→ANN composition: stub media features feed the similarity operators
    * directly (the point of the fixed feature schema) — rows-only.
    */
  private def mmAnnCompose(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // null/empty docs are excluded on BOTH sides: the oracle's
    // count/length(text) feature divides by zero for an empty doc (NULL
    // in DuckDB) while the kernel guard yields a zero vector
    val media = docs(s, dir)
      .where($"text".isNotNull && length($"text") > 0)
      .select($"doc_id",
        graft.multimodal.Multimodal.asMedia(encode($"text", "utf-8"),
          lit("text/plain")).as("media"))
    val feats = graft.multimodal.Multimodal
      .extractFeatures(media, "doc_id", "media", 16)
      .persist()
    feats.count()
    val out = SimilarityFunctions.bruteForceTopK(
        feats, feats.filter($"doc_id" < 5), "doc_id", "features", 3)
      .orderBy($"query_id", $"rank")
    out.collect() // materialize before unpersist
    feats.unpersist()
    out
  }

  /** D5/D6 implementation: distributed Avro encode/decode roundtrip. */
  private def avroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rowSchema = StructType(Seq(
      StructField("_time", TimestampType), StructField("_user", StringType),
      StructField("value", DoubleType), StructField("k", DoubleType)))
    val full = AvroIngest.avroSchema(rowSchema, "events")
    val trunc = AvroIngest.truncatedSchema(full, 3) // drops trailing `k`

    val evRaw = tbl(s, dir, "events")
    val src = evRaw
      .repartition(s.sparkContext.defaultParallelism)
      .select(
      $"event_id",
      tsMillis(evRaw).as("ms"),
      concat(lit("u"), $"user_id").as("_user"),
      // non-finite measures become null at the ingest boundary (the JSON
      // twin is FORCED to by the format; the avro path matches so the
      // two D-paths agree with each other and the oracles' isfinite())
      finiteOrNull($"value").as("value"),
      expr("try_cast(get_json_object(props, '$.k') AS DOUBLE)").as("k"))

    val decoded = src.mapPartitions { rows =>
      // writer/reader hoisted per partition (reference reuses decoders the
      // same way, AvroMessageEventTransformer.java:42,68)
      val wFull = new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](full)
      val wTrunc = new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](trunc)
      rows.map { r =>
        // null event_id writes the FULL schema (the oracle's CASE on a
        // null id also falls through to non-truncated); every field is
        // null-tolerant — the avro columns are nullable unions
        val truncated = !r.isNullAt(0) && r.getLong(0) % 10 == 0
        val schema = if (truncated) trunc else full
        val rec = new org.apache.avro.generic.GenericData.Record(schema)
        rec.put("_time",
          if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)))
        rec.put("_user", r.getString(2))
        rec.put("value",
          if (r.isNullAt(3)) null else java.lang.Double.valueOf(r.getDouble(3)))
        if (!truncated) rec.put("k",
          if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4)))
        val out = new java.io.ByteArrayOutputStream()
        val enc = org.apache.avro.io.EncoderFactory.get().directBinaryEncoder(out, null)
        (if (truncated) wTrunc else wFull).write(rec, enc)
        enc.flush()
        (truncated, out.toByteArray)
      }
    }.mapPartitions { recs =>
      // one decoder per partition, one resolved reader per writer schema
      val dec = new AvroIngest.CatalystDecoder(rowSchema)
      val (rFull, rTrunc) = (dec.reader(full, full), dec.reader(trunc, full))
      recs.map { case (truncated, bytes) =>
        val row = dec.toRow((if (truncated) rTrunc else rFull).decode(bytes, 0))
        (row.getAs[java.sql.Timestamp]("_time"), row.getAs[String]("_user"),
         Option(row.getAs[java.lang.Double]("value")).map(_.doubleValue),
         Option(row.getAs[java.lang.Double]("k")).map(_.doubleValue))
      }
    }.toDF("_time", "_user", "value", "k")

    decoded.agg(
      count(lit(1)).as("n"),
      sumRound($"value", 2).as("sum_value"),
      sumRound($"k", 2).as("sum_k"),
      count($"k").as("n_k"),
      max($"_time").as("max_time"))
  }

  // =================================================================
  // oracle SQL (DuckDB dialect differences handled: datediff arg order,
  // regexp_replace 'g' flag, json_extract)
  // =================================================================

  /** Shared SQL fragments mirroring TextFunctions/DedupFunctions exactly —
    * tokens, shingles, the 60-bit md5 hash, language marker sets.
    */
  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ",", "]")

  private val tokensSql =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)"""

  /** DuckDB replay of [[docUrls]]'s synthetic URL (same residues, same
    * literals). Yields CTE `u(doc_id, source, url)`.
    */
  private val urlSynthSql =
    """u AS (SELECT doc_id, source,
      |  (CASE WHEN doc_id%2=0 THEN 'https' ELSE 'HTTPS' END) || '://' ||
      |  (CASE WHEN doc_id%3=0 THEN 'WWW.' ELSE '' END) || source ||
      |  (CASE ((doc_id%4)+4)%4 WHEN 0 THEN '.example.com' WHEN 1 THEN '.example.co.uk'
      |        WHEN 2 THEN '.blog.org' ELSE '.news.net' END) ||
      |  (CASE WHEN doc_id%5=0 THEN ':443' WHEN doc_id%7=0 THEN ':8080' ELSE '' END) ||
      |  '/Docs/' || (doc_id%3) ||
      |  (CASE WHEN doc_id%2=0 THEN '/' ELSE '' END) ||
      |  '?b=2&a=' || (doc_id%2) ||
      |  (CASE WHEN doc_id%2=0 THEN '&utm_source=feed' ELSE '' END) ||
      |  (CASE WHEN doc_id%5=0 THEN '&gclid=g1' ELSE '' END) ||
      |  (CASE WHEN doc_id%3=0 THEN '#sec' ELSE '' END) AS url
      | FROM documents)""".stripMargin

  /** DuckDB replay of `UrlFunctions.urlHost`: CTE `h(doc_id, url, host)`
    * built on `u` — scheme stripped, fragment dropped, authority
    * lowercased, port and `www.` removed. Same regexes as the Spark
    * expressions (Java-regex ∩ RE2 subset).
    */
  private val urlHostSql =
    """p AS (SELECT doc_id, url,
      |  lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |  regexp_extract(trim(url), '^[A-Za-z][A-Za-z0-9+.-]*://([^#]*)', 1) AS rest
      | FROM u),
      |a AS (SELECT *, lower(regexp_extract(rest, '^([^/?]+)', 1)) AS auth,
      |  regexp_extract(rest, '^[^/?]+(.*)$', 1) AS pathq FROM p),
      |h AS (SELECT *,
      |  regexp_replace(regexp_extract(auth, '^([^:]+)', 1), '^www\.', '') AS host,
      |  regexp_extract(auth, ':([0-9]+)$', 1) AS port FROM a)""".stripMargin

  private val shinglesSql = // word 3-shingles with the short-text fallback
    // mirrors WordShingles.compute exactly: null text → NULL, zero
    // tokens → ZERO shingles (not one empty shingle), short text → one
    // all-tokens shingle
    """CASE WHEN toks IS NULL THEN NULL
      |  WHEN len(toks) = 0 THEN []::VARCHAR[]
      |  WHEN len(toks) >= 3
      |  THEN list_transform(generate_series(1, len(toks) - 2),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |  ELSE [array_to_string(toks, ' ')] END""".stripMargin

  private val jaccardSql = // distinct-element jaccard of toks_a/toks_b
    """CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) = 0 THEN 0.0
      |     ELSE len(list_intersect(a.toks, b.toks))::DOUBLE /
      |          len(list_distinct(list_concat(a.toks, b.toks))) END""".stripMargin

  private val hash60Sql = // Hash60 contract: int(md5(s)[0:15], 16)
    """('0x' || substr(md5(s), 1, 15))::BIGINT"""

  /** floor(x*10000 + 0.5) — see TextFunctions.basisPoints: round() at exact
    * half-boundaries differs between engines on the same double.
    */
  private def bpSql(x: String): String = s"floor(($x) * 10000 + 0.5)::BIGINT"

  /** Cosine mirroring expressions.CosineSim exactly: per-accumulator
    * left-to-right sums (bit-identical to the native loop), 0 on zero norm.
    * `list_cosine_similarity` is avoided — its internal accumulation order
    * is unspecified.
    */
  private def cosineSql(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_sum(list_transform($a, x -> x*x)))
       |        * sqrt(list_sum(list_transform($b, x -> x*x))) = 0 THEN 0.0
       |     ELSE list_sum(list_transform(generate_series(1, len($a)),
       |            i -> ($a)[i] * ($b)[i]))
       |        / (sqrt(list_sum(list_transform($a, x -> x*x)))
       |           * sqrt(list_sum(list_transform($b, x -> x*x)))) END""".stripMargin

  private val seededSigSql = // MinHash60 contract (see expressions.Hash60)
    """list_transform(generate_series(0, 11),
      |    i -> list_min(list_transform(hs,
      |      h -> (((1103515245*i + 12345) % 1073741789 + 1) * (h & 1073741823)
      |          + ((134775813*i + 1) % 1073741789 + 1) * (h >> 30)
      |          + i) % 2305843009213693951)))""".stripMargin

  /** Per-doc annotation CTE (lang-id, quality, fingerprint) shared by the
    * text_stats and doc-pipeline oracles — mirrors [[DocPipeline.annotate]].
    */
  private def docAnnotateCte(src: String = "documents"): String = {
    val langScores = TextFunctions.LangMarkers.map { case (lang, ms) =>
      s"len(list_intersect(toks, ${sqlList(ms)})) AS s_$lang"
    }.mkString(",\n    ")
    val langCase = TextFunctions.LangMarkers.map { case (lang, _) =>
      s"WHEN s_$lang = g AND s_$lang > 0 THEN '$lang'"
    }.mkString(" ")
    val allMarkers = sqlList(TextFunctions.LangMarkers.flatMap(_._2).distinct)
    s"""t AS (
       |  SELECT doc_id, text, $tokensSql AS toks FROM $src),
       |s AS (
       |  SELECT doc_id, text, toks, len(toks) AS n_tokens,
       |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |      (length(text) - length(replace(replace(replace(replace(replace(replace(
       |         text, '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', '')))::DOUBLE
       |      / length(text) END AS punct,
       |    $langScores,
       |    len(list_intersect(toks, $allMarkers)) AS stopn,
       |    length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
       |      / greatest(len(toks), 1) AS avg_wl
       |  FROM t),
       |ann AS (
       |  SELECT doc_id, n_tokens, ${bpSql("punct")} AS punct_bp,
       |    CASE $langCase ELSE 'und' END AS lang_pred,
       |    ${bpSql(
        """0.3 * least(1.0, n_tokens / 50.0)
          |      + 0.3 * (1.0 - least(1.0, punct * 10.0))
          |      + 0.2 * least(1.0, (stopn::DOUBLE / greatest(n_tokens, 1)) * 4.0)
          |      + 0.2 * least(1.0, greatest(avg_wl - 2.0, 0.0) / 8.0)""".stripMargin)} AS quality_bp,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
       |  FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS g FROM s))""".stripMargin
  }

  /** Repetition-signal base CTE (operators.Repetition): non-empty trimmed
    * lines + tokens per doc, then the per-row duplicate fractions.
    */
  private def repetitionCte(src: String = "documents"): String =
    // NULL text behaves as empty (all signals zero, one row per doc) —
    // the engine's Repetition.profile coalesces the same way
    s"""pr AS (
       |  SELECT doc_id,
       |    list_filter(list_transform(string_split_regex(text, '\\r?\\n'),
       |                x -> trim(x)), x -> len(x) > 0) AS ls,
       |    $tokensSql AS toks
       |  FROM (SELECT doc_id, coalesce(text, '') AS text FROM $src)),
       |row_sig AS (
       |  SELECT doc_id, len(ls)::INT AS n_lines,
       |    CASE WHEN len(ls) = 0 THEN 0 ELSE
       |      ${bpSql("(len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls)")} END
       |      AS dup_line_bp,
       |    CASE WHEN len(toks) = 0 THEN 0 ELSE
       |      ${bpSql("(len(toks) - len(list_distinct(toks)))::DOUBLE / len(toks)")} END
       |      AS dup_token_bp
       |  FROM pr)""".stripMargin

  /** Top word-`n`-gram character-share CTE chain (`tg$n(doc_id, alias)`):
    * mirrors Repetition.topGramShare — count ties break on smallest gram,
    * short texts fall back to the whole-text single gram (WordShingles).
    */
  private def topGramCte(n: Int, alias: String): String = {
    val concat = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""g$n AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= $n
       |    THEN list_transform(generate_series(1, len(toks) - ${n - 1}), i -> $concat)
       |    -- coalesce: array_to_string([]) is NULL; the zero-token doc
       |    -- must keep its one (zero-weight) gram row, like the engine's
       |    -- explode_outer
       |    ELSE [coalesce(array_to_string(toks, ' '), '')] END) AS gram
       |  FROM pr),
       |gc$n AS (SELECT doc_id, gram, count(*) AS cnt FROM g$n GROUP BY 1, 2),
       |tg$n AS (
       |  SELECT doc_id, $alias FROM (
       |    SELECT doc_id,
       |      CASE WHEN sum(cnt * length(gram)) OVER (PARTITION BY doc_id) = 0
       |           THEN 0 ELSE
       |        ${bpSql("(cnt * length(gram))::DOUBLE / " +
                        "sum(cnt * length(gram)) OVER (PARTITION BY doc_id)")} END
       |        AS $alias,
       |      row_number() OVER (PARTITION BY doc_id
       |                         ORDER BY cnt DESC, gram ASC) AS rk
       |    FROM gc$n)
       |  WHERE rk = 1)""".stripMargin
  }

  /** Token-window CTE chain (`wh(doc_id, win_hash)`) for the repeated-
    * passage oracles — mirrors DedupFunctions.passageWindows (WordShingles
    * stride-1 windows, whole-text fallback below `w` tokens, zero-token
    * docs emit NO windows — two blank docs do not "share a passage").
    */
  private def tokenWindowsCte(w: Int): String = {
    val concat = (0 until w).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |wn AS (
       |  SELECT doc_id, unnest(CASE WHEN len(toks) >= $w
       |    THEN list_transform(generate_series(1, len(toks) - ${w - 1}), i -> $concat)
       |    ELSE [array_to_string(toks, ' ')] END) AS win
       |  FROM t WHERE len(toks) > 0),
       |wh AS (SELECT doc_id, md5(win) AS win_hash FROM wn)""".stripMargin
  }

  /** SimHash signature CTE shared by the per-doc and pairs oracles —
    * mirrors expressions.SimHash60 bit for bit.
    */
  private val simhashSigCte: String =
    s"""t AS (SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
       |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM t),
       |bits AS (
       |  SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM h, unnest(generate_series(0, 59)) AS g(b) GROUP BY 1, 2),
       |sig AS (
       |  SELECT doc_id,
       |         sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT
       |           AS simhash
       |  FROM bits GROUP BY 1)""".stripMargin

  /** ANN recall-certificate oracle: the deterministic facts (probe count,
    * exact-result count) recomputed from the table, the contract constant,
    * and the asserted flag — mirrors [[recallCertificate]]'s output shape.
    * Every probe has ≥ 5 non-self neighbors (the corpus is ≥ 500 vectors),
    * so n_exact = 5 · n_queries.
    */
  /** Mirrors [[recallCertificate]]'s closed-form totals: n_exact is
    * n_queries × least(5, finite corpus − 1), so the compare holds on
    * degenerate corpora (empty, single-vector) too.
    */
  private def annRecallOracleSql(floorBp: Long): String =
    s"""WITH femb AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[], x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
       |q AS (SELECT count(DISTINCT vec_id)::BIGINT AS nq FROM femb WHERE vec_id < 20),
       |c AS (SELECT count(*)::BIGINT AS nc FROM femb)
       |SELECT q.nq AS n_queries,
       |       (q.nq * least(5, greatest(c.nc - 1, 0)))::BIGINT AS n_exact,
       |       $floorBp::BIGINT AS recall_floor_bp,
       |       1::BIGINT AS recall_ok
       |FROM q, c""".stripMargin

  /** MinHash banding CTE shared by the pairs and clusters oracles.
    * The `stopb` filter mirrors the engine's `maxBandFreq = 1000` hot-band
    * cap (passed explicitly by every minhash bench query): a band bucket
    * holding more than 1000 docs is dropped on BOTH sides before pairing,
    * so engine and oracle agree at any SF where a copy family exceeds the
    * cap (FunctionsSpec pins the capped-family behavior with planted data).
    */
  private val minhashBandsCte: String =
    s"""t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |sh AS (SELECT doc_id, toks, $shinglesSql AS shingles FROM t),
       |hs AS (SELECT doc_id, toks,
       |       list_transform(shingles, s -> $hash60Sql) AS hs FROM sh),
       |sig AS (SELECT doc_id, toks, $seededSigSql AS sig FROM hs),
       |bands0 AS (
       |  SELECT doc_id, toks, unnest(list_transform(generate_series(0, 3),
       |    b -> b::VARCHAR || ':' ||
       |         md5(array_to_string(sig[(b*3+1):(b*3+3)], ',')))) AS band
       |  FROM sig),
       |stopb AS (SELECT band FROM bands0 GROUP BY band
       |          HAVING count(*) <= 1000),
       |bands AS (SELECT bands0.* FROM bands0 JOIN stopb USING (band))""".stripMargin

  /** Shared oracle CTE mirroring the engine's ingest ROUTING rules
    * (`CollectionId.isValid` + `normalize`, FieldType.scala): records with
    * an invalid collection name (empty, >100 chars, leading '_'/'.', path
    * separators, control chars) are dropped by the parse path, and valid
    * names are lowercased. Every oracle over INGESTED data must apply the
    * same rules or mixed-case / reserved-prefix event types diverge.
    * Exposes the full events row plus `coll` (the normalized collection).
    */
  private def ingestedEventsCte: String =
    """ing AS (
      |  SELECT lower(event_type) AS coll, * FROM events
      |  WHERE event_type IS NOT NULL AND event_type <> ''
      |    AND length(event_type) <= 100
      |    AND substr(event_type, 1, 1) NOT IN ('_', '.')
      |    -- printable ASCII only (CollectionId.validName): wider
      |    -- charsets have locale-dependent filesystem path behavior and
      |    -- are rejected at ingest; ASCII also keeps length() semantics
      |    -- identical across engines (separators fall in the range, so
      |    -- '/' and '\' stay explicitly rejected)
      |    AND position('/' IN event_type) = 0
      |    AND position('\' IN event_type) = 0
      |    AND NOT regexp_matches(event_type, '[^ -~]'))""".stripMargin

    /** DuckDB replay of the engine's µs→ms conversion: exact integer FLOOR
    * division over epoch_us. Spark's unix_millis floors (Math.floorDiv);
    * DuckDB's epoch_ms and `//` truncate toward zero, so on pre-1970
    * timestamps off an exact millisecond multiple they disagree by 1 ms
    * (XL fuzz seed 17). Every oracle site that replays engine millis MUST
    * interpolate this one expression — a drifting copy reintroduces the
    * bug class.
    */
  private val floorMsSql: String =
    "(epoch_us(CAST(ts AS TIMESTAMP)) - " +
      "(epoch_us(CAST(ts AS TIMESTAMP)) % 1000 + 1000) % 1000) // 1000"

  def oracleSql: Map[String, String] = Map(
    "d7_ingest_route" ->
      s"""WITH $ingestedEventsCte
        |SELECT coll AS collection,
        |       count(*) AS n_events,
        |       sum(CASE WHEN isfinite(value) THEN floor((value) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_value,
        |       sum(CASE WHEN props IS NOT NULL AND json_valid(props)
        |                  AND isfinite(TRY_CAST(json_extract(props, '$$.k') AS DOUBLE))
        |                 THEN floor(TRY_CAST(json_extract(props, '$$.k') AS DOUBLE)
        |                            * 100 + 0.5)::BIGINT
        |            END) / 100.0 AS sum_props_k,
        |       count(user_id) AS n_users
        |FROM ing GROUP BY 1 ORDER BY 1""".stripMargin,

    "f1_whitelist" ->
      s"""WITH $ingestedEventsCte
        |SELECT coll AS collection, count(*) AS count
        |FROM ing WHERE coll IN ('purchase','view','click')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "f4_day_split" ->
      s"""WITH $ingestedEventsCte,
        |t AS (
        |  SELECT date_diff('day', CAST(ts AS DATE),
        |                   (SELECT max(CAST(ts AS DATE)) FROM ing)) AS di
        |  FROM ing),
        |tot AS (SELECT count(*) AS n FROM t),
        |hist AS (SELECT di, count(*) AS c FROM t WHERE di > 1 GROUP BY di),
        |promoted AS (SELECT di FROM hist, tot WHERE c > 1000 AND c > 0.25 * n)
        |SELECT CASE WHEN di <= 1 OR di IN (SELECT di FROM promoted)
        |            THEN 'realtime' ELSE 'historical' END AS bucket,
        |       count(*) AS n
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    // Deterministic keeper: the engine's dedupExact keeps the row whose
    // remaining-column struct is the lexicographic MINIMUM — the query
    // orders `collection` first, so the survivor's collection is
    // min(coll) per key. Null-key rows pass through undeduplicated
    // (reference isUnique semantics) instead of collapsing via DISTINCT.
    "f2_dedup_exact" ->
      s"""WITH $ingestedEventsCte,
        |t AS (SELECT coll, user_id,
        |             $floorMsSql AS ms FROM ing),
        |keyed AS (
        |  SELECT min(coll) AS collection FROM t
        |  WHERE user_id IS NOT NULL AND ms IS NOT NULL
        |  GROUP BY user_id, ms),
        |nulls AS (
        |  SELECT coll AS collection FROM t
        |  WHERE user_id IS NULL OR ms IS NULL),
        |u AS (SELECT collection FROM keyed
        |      UNION ALL SELECT collection FROM nulls)
        |SELECT collection, count(*) AS n_distinct
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    // no routing here: the avro roundtrip encodes EVERY row under one
    // fixed record name, so no validity filter applies
    "d5_avro_roundtrip" ->
      s"""SELECT count(*) AS n,
        |       sum(CASE WHEN isfinite(value) THEN floor((value) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_value,
        |       sum(CASE WHEN event_id % 10 = 0
        |                  OR props IS NULL OR NOT json_valid(props)
        |                  OR NOT isfinite(TRY_CAST(json_extract(props, '$$.k') AS DOUBLE))
        |                 THEN NULL
        |                 ELSE floor(TRY_CAST(json_extract(props, '$$.k') AS DOUBLE)
        |                            * 100 + 0.5)::BIGINT END) / 100.0 AS sum_k,
        |       count(CASE WHEN event_id % 10 = 0
        |                  OR props IS NULL OR NOT json_valid(props)
        |             THEN NULL
        |             ELSE TRY_CAST(json_extract(props, '$$.k') AS DOUBLE) END) AS n_k,
        |       max(make_timestamp($floorMsSql * 1000)) AS max_time
        |FROM events""".stripMargin,

    // Rakam numeric-timestamp rule: seen_at is numeric (→ null) for
    // event_id % 10 = 0, an ISO second-precision string otherwise; the
    // canonical _time accepts numeric millis in both dialects.
    // sum_time_s divides with // (truncation toward zero) — the engine
    // mirrors it with `div`, exact for pre-1970 timestamps too.
    "d2_rakam_ingest" ->
      s"""WITH $ingestedEventsCte
        |SELECT coll AS collection,
        |       count(*) AS n_events,
        |       count(CASE WHEN event_id % 10 = 0 OR ts IS NULL
        |             THEN NULL ELSE 1 END) AS n_seen,
        |       sum($floorMsSql // 1000)::BIGINT AS sum_time_s,
        |       sum(CASE WHEN isfinite(value) THEN floor((value) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_value
        |FROM ing GROUP BY 1 ORDER BY 1""".stripMargin,

    // DECIMAL(38,18) prints at full scale in both engines; the binary
    // payload compares as md5-of-bytes + byte length (blob values do not
    // hash-compare portably across parquet readers). The collection is
    // the FIXED "dbin" — event_type is payload CONTENT, so no routing
    // filter applies; the 12-char/%100000 truncation mirrors the builder
    // (which byte-bounds the base64 under Spark's MIME-chunk threshold).
    "d_decimal_binary_roundtrip" ->
      """SELECT event_id AS eid,
        |       CAST(CAST(event_id || '.' ||
        |                 lpad((((user_id % 1000) + 1000) % 1000)::VARCHAR, 3, '0')
        |                 AS DECIMAL(38,18)) AS VARCHAR) AS amount_str,
        |       md5(substr(event_type, 1, 12) || ':' ||
        |           ((event_id % 100000) + 100000) % 100000) AS payload_md5,
        |       strlen(substr(event_type, 1, 12) || ':' ||
        |              ((event_id % 100000) + 100000) % 100000)::BIGINT AS payload_len
        |FROM events ORDER BY 1""".stripMargin,

    "k1_sink_roundtrip" ->
      s"""WITH $ingestedEventsCte
        |SELECT coll AS collection, count(*) AS n,
        |       sum(CASE WHEN isfinite(value) THEN floor((value) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_value
        |FROM ing GROUP BY 1 ORDER BY 1""".stripMargin,

    "k1_consolidated_roundtrip" ->
      s"""WITH $ingestedEventsCte
        |SELECT coll || '_c' || CAST(user_id % 20 AS VARCHAR) AS collection,
        |       count(*) AS n, sum(CASE WHEN isfinite(value) THEN floor((value) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_value
        |FROM ing WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "e2e_pipeline" ->
      s"""WITH $ingestedEventsCte,
        |t AS (
        |  SELECT coll, user_id, $floorMsSql AS ms,
        |         date_diff('day', CAST(ts AS DATE),
        |                   (SELECT max(CAST(ts AS DATE)) FROM ing)) AS di
        |  FROM ing),
        |tot AS (SELECT count(*) AS n FROM t),
        |hist AS (SELECT di, count(*) AS c FROM t WHERE di > 1 GROUP BY di),
        |promoted AS (SELECT di FROM hist, tot WHERE c > 1000 AND c > 0.25 * n),
        |rt AS (SELECT * FROM t WHERE di <= 1 OR di IN (SELECT di FROM promoted)),
        |d AS (SELECT DISTINCT coll, user_id, ms FROM rt
        |      WHERE user_id IS NOT NULL AND ms IS NOT NULL),
        |nl AS (SELECT coll FROM rt WHERE user_id IS NULL OR ms IS NULL),
        |u AS (SELECT coll FROM d UNION ALL SELECT coll FROM nl)
        |SELECT coll AS collection, count(*) AS n
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "q4_semi_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q6_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // HAVING n > 0 pins the one ROLLUP divergence: on a zero-row input
    // DuckDB (per the SQL standard) still emits the grand-total group,
    // Spark's rollup() emits nothing; every real group has n >= 1, so
    // the guard is a no-op on any non-empty input.
    "q7_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       sum(CASE WHEN isfinite(l_quantity) THEN floor((l_quantity) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |HAVING count(*) > 0
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q8_below_avg_qty" ->
      """SELECT count(*) AS n, sum(CASE WHEN isfinite(l_extendedprice) THEN floor((l_extendedprice) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_price
        |FROM lineitem l
        |JOIN (SELECT l_partkey AS p_key, avg(l_quantity) AS avg_qty
        |      FROM lineitem GROUP BY 1) a ON l.l_partkey = a.p_key
        |WHERE l.l_quantity < a.avg_qty * 0.5""".stripMargin,

    // Each engine validates its own sketches against exact values computed
    // in the same query; the emitted columns are engine-stable.
    "agg_approx_sketch" ->
      """WITH ex AS (
        |  SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
        |         quantile_cont(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END, 0.85) AS p85,
        |         quantile_cont(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END, 0.95) AS p95
        |  FROM lineitem GROUP BY 1),
        |ap AS (
        |  SELECT l_returnflag,
        |         approx_count_distinct(l_orderkey) AS approx_orders,
        |         approx_quantile(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END, 0.9) AS p90_approx
        |  FROM lineitem GROUP BY 1)
        |SELECT ex.l_returnflag, exact_orders,
        |       CAST(abs(approx_orders - exact_orders)
        |            <= greatest(4, floor(exact_orders * 0.15)) AS BIGINT) AS hll_ok,
        |       CAST(p90_approx BETWEEN p85 AND p95 AS BIGINT) AS p90_ok
        |FROM ex JOIN ap USING (l_returnflag)
        |ORDER BY 1""".stripMargin,

    "q9_quantiles" ->
      """SELECT l_returnflag,
        |       floor(quantile_cont(CASE WHEN isfinite(l_quantity) THEN l_quantity END, 0.5) * 1000 + 0.5)::BIGINT AS p50_qty_milli,
        |       floor(quantile_cont(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END, 0.9) * 1000 + 0.5)::BIGINT AS p90_price_milli
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "range_price_bands" ->
      """WITH bands AS (
        |  SELECT i AS band, i * 1500.0 AS lo, i * 1500.0 + 3000.0 AS hi
        |  FROM unnest(generate_series(0, 39)) AS t(i))
        |SELECT band, count(*) AS n, sum(CASE WHEN isfinite(l_extendedprice) THEN floor((l_extendedprice) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_price
        |FROM lineitem JOIN bands
        |  ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "range_bands_rule" ->
      """WITH bands AS (
        |  SELECT n_nationkey AS band, n_nationkey * 1200.0 AS lo,
        |         n_nationkey * 1200.0 + 2600.0 AS hi
        |  FROM nation)
        |SELECT band, count(*) AS n, sum(CASE WHEN isfinite(l_extendedprice) THEN floor((l_extendedprice) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_price
        |FROM lineitem JOIN bands
        |  ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "range_bands_hint" ->
      """WITH bands AS (
        |  SELECT n_nationkey AS band, n_nationkey * 1100.0 AS lo,
        |         n_nationkey * 1100.0 + 2400.0 AS hi
        |  FROM nation)
        |SELECT band, count(*) AS n, sum(CASE WHEN isfinite(l_extendedprice) THEN floor((l_extendedprice) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_price
        |FROM lineitem JOIN bands
        |  ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "range_time_windows" ->
      """WITH b AS (SELECT min(CAST(ts AS TIMESTAMP)) AS t0 FROM events),
        |w AS (SELECT i AS w, t0 + to_hours(i) AS ws, t0 + to_hours(i + 2) AS we
        |      FROM unnest(generate_series(0, 39)) AS t(i), b),
        |e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events)
        |SELECT w, count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM e JOIN w ON t >= ws AND t < we
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "overlap_spans_rule" ->
      """WITH spans AS (
        |  SELECT p_brand, p_size,
        |         min(p_retailprice) AS lo, max(p_retailprice) AS hi
        |  FROM part GROUP BY 1, 2),
        |bands AS (
        |  SELECT i AS band, i * 1500.0 AS blo, i * 1500.0 + 3000.0 AS bhi
        |  FROM unnest(generate_series(0, 39)) AS t(i))
        |SELECT p_brand, p_size, count(*) AS n_bands,
        |       min(band) AS first_band
        |FROM spans JOIN bands ON lo < bhi AND blo < hi
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "overlap_price_spans" ->
      """WITH spans AS (
        |  SELECT p_brand, p_size,
        |         min(p_retailprice) AS lo, max(p_retailprice) AS hi
        |  FROM part GROUP BY 1, 2),
        |bands AS (
        |  SELECT i AS band, i * 1500.0 AS blo, i * 1500.0 + 3000.0 AS bhi
        |  FROM unnest(generate_series(0, 39)) AS t(i))
        |SELECT p_brand, p_size, count(*) AS n_bands,
        |       min(band) AS first_band
        |FROM spans JOIN bands ON lo < bhi AND blo < hi
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // ANSI comparison semantics spelled out (drill wave 10): a NULL user
    // or NULL ts satisfies no equality/<=, so such CLICKS match nothing
    // (filtered) and such PURCHASES match nothing but still appear (the
    // UNION ALL branch). DuckDB's ASOF operator would otherwise pair
    // NULL times WITH NULL times — its sorted-merge groups NULLs
    // together, a quirk the engine (per ANSI, AsOfJoin.scala) does not
    // reproduce.
    "asof_purchase_click" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |             max(event_id) AS click_id
        |      FROM events WHERE event_type = 'click'
        |        AND ts IS NOT NULL AND user_id IS NOT NULL GROUP BY 1, 2)
        |SELECT pp.event_id, c.click_id
        |FROM (SELECT * FROM p WHERE ts IS NOT NULL AND user_id IS NOT NULL) pp
        |     ASOF LEFT JOIN c ON pp.user_id = c.user_id AND pp.ts >= c.ts
        |UNION ALL
        |SELECT event_id, NULL AS click_id
        |FROM p WHERE ts IS NULL OR user_id IS NULL
        |ORDER BY event_id""".stripMargin,

    "q10_setops" ->
      """WITH a AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |b AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |SELECT c_nationkey, 'only_building' AS tag FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL
        |SELECT c_nationkey, 'both' AS tag FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |ORDER BY tag, c_nationkey""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(CASE WHEN isfinite(l_quantity) THEN floor((l_quantity) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_qty,
        |       sum(CASE WHEN isfinite(l_extendedprice) THEN floor((l_extendedprice) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_base_price,
        |       sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_disc_price,
        |       sum(CASE WHEN isfinite(l_discount)
        |                 THEN floor(l_discount * 10000 + 0.5)::BIGINT END)
        |         / (count(CASE WHEN isfinite(l_discount) THEN 1 END) * 10000.0)
        |         AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5)::BIGINT END) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT r_name,
        |       sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5)::BIGINT END) / 100.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "w1_top_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100 AS top_price
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |      FROM orders WHERE o_custkey < 500)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    // ts IS NOT NULL: Spark's window() silently drops null-timestamp rows
    "w2_tumbling_window" ->
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day_start,
        |       count(*) AS n, sum(CASE WHEN isfinite(value) THEN floor((value) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_value
        |FROM events WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,

    "q11_retention" ->
      """WITH u AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS d0 FROM u GROUP BY 1)
        |SELECT date_diff('day', d0, d) AS day_offset,
        |       count(DISTINCT user_id) AS n_users
        |FROM u JOIN f USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q12_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type,
        |                  $floorMsSql AS ms FROM events),
        |v AS (SELECT user_id, min(ms) AS v_ms FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(ms) AS c_ms FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND ms > v_ms GROUP BY 1),
        |p AS (SELECT e.user_id, min(ms) AS p_ms FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND ms > c_ms GROUP BY 1)
        |SELECT (SELECT count(*) FROM v) AS step_view,
        |       (SELECT count(*) FROM c) AS step_click,
        |       (SELECT count(*) FROM p) AS step_purchase""".stripMargin,

    // Gaps-and-islands mirror of session_window: a new session starts at
    // gap >= 30 min (Spark merges only strictly-overlapping [t, t+gap)
    // intervals).
    "w3_sessions" ->
      s"""WITH t AS (
        |  SELECT user_id, $floorMsSql AS ms FROM events
        |  WHERE ts IS NOT NULL),
        |o AS (
        |  SELECT user_id, ms,
        |         lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS prev
        |  FROM t),
        |s AS (
        |  SELECT user_id,
        |         sum(CASE WHEN prev IS NULL OR ms - prev >= 1800000
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ms
        |                 ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |g AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions, sum(n)::BIGINT AS n_events,
        |       max(n) AS max_session_events
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical sessionization semantics to w3_sessions — the streaming
    // drain is complete (sentinel closes every window), so the gap-based
    // SQL replay is the same oracle
    "w3_sessions_stream" ->
      s"""WITH t AS (
        |  SELECT user_id, $floorMsSql AS ms FROM events
        |  WHERE ts IS NOT NULL),
        |o AS (
        |  SELECT user_id, ms,
        |         lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS prev
        |  FROM t),
        |s AS (
        |  SELECT user_id,
        |         sum(CASE WHEN prev IS NULL OR ms - prev >= 1800000
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ms
        |                 ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |g AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions, sum(n)::BIGINT AS n_events,
        |       max(n) AS max_session_events
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "layout_zorder_cells" -> {
      // same Morton math as layout/ZOrder in ANSI SQL: integer floor
      // division (//) reproduces bucketize (exact within the documented
      // < 2^53 numerator bound), the interleave is 16 shift/mask terms
      val interleave = (0 until 8).flatMap(i => Seq(
        s"(((ub >> $i) & 1) << ${2 * i})",
        s"(((tb >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH b AS (
         |  SELECT CAST(user_id AS BIGINT) AS u,
         |         CAST(floor($floorMsSql / 1000.0)
         |              AS BIGINT) AS ms FROM events),
         |r AS (SELECT min(u) AS ulo, max(u) AS uhi,
         |             min(ms) AS tlo, max(ms) AS thi FROM b),
         |k AS (
         |  SELECT ((u - ulo) * 255) // GREATEST(1, uhi - ulo) AS ub,
         |         ((ms - tlo) * 255) // GREATEST(1, thi - tlo) AS tb
         |  FROM b, r),
         |c AS (SELECT ($interleave) AS z FROM k)
         |SELECT z, count(*) AS n_rows FROM c WHERE z IS NOT NULL
         |GROUP BY 1 ORDER BY z LIMIT 100""".stripMargin
    },

    "layout_stats_prune" ->
      """SELECT l_returnflag, count(*) AS n,
        |       sum(CASE WHEN isfinite(l_quantity) THEN floor((l_quantity) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 50 AND 150
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "k2_ndjson_roundtrip" ->
      s"""WITH $ingestedEventsCte
        |SELECT coll AS collection, count(*) AS n,
        |       sum(CASE WHEN isfinite(value) THEN floor((value) * 100 + 0.5)::BIGINT END) / 100.0 AS sum_value
        |FROM ing GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_stats" ->
      s"""WITH ${docAnnotateCte()}
         |SELECT doc_id, n_tokens, punct_bp, lang_pred, quality_bp, fingerprint
         |FROM ann ORDER BY doc_id""".stripMargin,

    // DocPipeline.clean: language filter → quality floor → smallest-id
    // representative per fingerprint.
    "doc_pipeline_kept" ->
      s"""WITH ${docAnnotateCte()}
         |SELECT doc_id, lang_pred, quality_bp, fingerprint
         |FROM (SELECT *, row_number() OVER
         |        (PARTITION BY fingerprint ORDER BY doc_id) AS rk
         |      FROM ann WHERE lang_pred = 'en' AND quality_bp >= 2500)
         |WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "doc_pipeline_funnel" ->
      s"""WITH ${docAnnotateCte()}
         |SELECT count(*) AS n_in,
         |  count(*) FILTER (WHERE lang_pred = 'en') AS n_lang,
         |  count(*) FILTER (WHERE lang_pred = 'en' AND quality_bp >= 2500)
         |    AS n_quality,
         |  count(DISTINCT fingerprint)
         |    FILTER (WHERE lang_pred = 'en' AND quality_bp >= 2500) AS n_kept
         |FROM ann""".stripMargin,

    // Chunk starts every 48 tokens (64-token window, 16 overlap); tokens
    // contain no whitespace, so the rejoined chunk re-tokenizes to itself.
    "text_chunks" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |             unnest(generate_series(0, len(toks) - 1, 48)) AS s
         |      FROM t)
         |SELECT doc_id, (s // 48)::INT AS chunk_idx,
         |       len(toks[s+1:s+64])::INT AS chunk_tokens,
         |       md5(array_to_string(toks[s+1:s+64], ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "text_redact" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
        |  len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,24}')) AS n_emails,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |        'https?://[^\s]+', '<URL>', 'g'),
        |        '[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,24}', '<EMAIL>', 'g'),
        |        '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g')) AS redacted_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "decontam_hits" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |             unnest(list_distinct(list_transform($shinglesSql,
         |                    s -> $hash60Sql))) AS gh
         |      FROM t),
         |p AS (SELECT DISTINCT gh FROM g WHERE doc_id < 5)
         |SELECT g.doc_id, count(*) AS n_shared
         |FROM g JOIN p USING (gh) WHERE g.doc_id >= 5
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "decontam_clean" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |             unnest(list_distinct(list_transform($shinglesSql,
         |                    s -> $hash60Sql))) AS gh
         |      FROM t),
         |p AS (SELECT DISTINCT gh FROM g WHERE doc_id < 5),
         |dirty AS (SELECT DISTINCT g.doc_id FROM g JOIN p USING (gh)
         |          WHERE g.doc_id >= 5)
         |SELECT d.source, count(*) AS n_clean, sum(d.doc_id)::BIGINT AS id_sum
         |FROM documents d
         |WHERE d.doc_id >= 5 AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sample_stratified" ->
      """WITH k AS (
        |  SELECT source, doc_id,
        |         ('0x' || substr(md5('graft|' || doc_id::VARCHAR), 1, 15))::BIGINT
        |           % 10000 AS h
        |  FROM documents)
        |SELECT source, count(*) AS n_kept, sum(doc_id)::BIGINT AS id_sum
        |FROM k
        |WHERE h < CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 9000
        |               ELSE 2000 END
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // sqrt-temperature rates replayed with floor(sqrt(n)) — IEEE sqrt is
    // correctly rounded, so the integer floor agrees with BigInt isqrt.
    // NULL sources are unmixable and excluded from the QUOTA, not just the
    // output (the engine counts only non-null sources): without the WHERE,
    // a null-source group inflates wsum and every rate drops — invisible
    // whenever the budget caps all rates at 10000 (fuzz seeds 1-4), wrong
    // the moment the corpus outgrows the budget (seed 5).
    "sample_mixture_sqrt" ->
      """WITH n AS (SELECT source, count(*)::BIGINT AS n FROM documents
        |           WHERE source IS NOT NULL GROUP BY 1),
        |w AS (SELECT sum(floor(sqrt(n))::BIGINT) AS wsum FROM n),
        |r AS (SELECT source, n,
        |        CASE WHEN (10000 * 400 * floor(sqrt(n))::BIGINT)
        |                    // (w.wsum * n) > 10000 THEN 10000
        |             ELSE ((10000 * 400 * floor(sqrt(n))::BIGINT)
        |                    // (w.wsum * n))::BIGINT END AS bp
        |      FROM n CROSS JOIN w)
        |SELECT d.source, count(*) AS n_kept, sum(d.doc_id)::BIGINT AS id_sum
        |FROM documents d JOIN r USING (source)
        |WHERE ('0x' || substr(md5('mixs|' || d.doc_id::VARCHAR), 1, 15))::BIGINT
        |        % 10000 < r.bp
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // mixture rates replayed with the same exact integer floor arithmetic
    // (// is DuckDB integer division); renormalization over present
    // sources matches the operator's contract
    "sample_mixture" ->
      """WITH n AS (SELECT source, count(*)::BIGINT AS n FROM documents
        |           WHERE source IN ('src0','src1','src2','src3','src4')
        |           GROUP BY 1),
        |r AS (SELECT source, n,
        |             CASE source WHEN 'src0' THEN 8 WHEN 'src1' THEN 4
        |                  WHEN 'src2' THEN 2 ELSE 1 END::BIGINT AS w
        |      FROM n),
        |t AS (SELECT sum(w) AS tw FROM r),
        |rb AS (SELECT source, least(10000, (10000 * 300 * w) // (tw * n))
        |         AS rate_bp
        |       FROM r CROSS JOIN t)
        |SELECT source, count(*) AS n_kept, sum(d.doc_id)::BIGINT AS id_sum
        |FROM documents d JOIN rb USING (source)
        |WHERE ('0x' || substr(md5('mix2|' || d.doc_id::VARCHAR), 1, 15))::BIGINT
        |      % 10000 < rate_bp
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // epoch replication replayed: same integer rate arithmetic, full
    // copies = rate div 1, fractional copy hash-gated on the remainder
    "sample_mixture_epochs" ->
      """WITH n AS (SELECT source, count(*)::BIGINT AS n FROM documents
        |           WHERE source IN ('src0','src1','src5') GROUP BY 1),
        |r AS (SELECT source, n,
        |             CASE source WHEN 'src5' THEN 30 ELSE 1 END::BIGINT AS w
        |      FROM n),
        |t AS (SELECT sum(w) AS tw FROM r),
        |rb AS (SELECT source, (10000 * 600 * w) // (tw * n) AS rate_bp
        |       FROM r CROSS JOIN t),
        |k AS (SELECT d.source, d.doc_id,
        |        rate_bp // 10000
        |        + CASE WHEN ('0x' || substr(md5('mix3|' || d.doc_id::VARCHAR),
        |                     1, 15))::BIGINT % 10000 < rate_bp % 10000
        |               THEN 1 ELSE 0 END AS copies
        |      FROM documents d JOIN rb USING (source)),
        |e AS (SELECT source, doc_id,
        |             unnest(generate_series(0::BIGINT, copies::BIGINT - 1))
        |               AS epoch
        |      FROM k WHERE copies >= 1)
        |SELECT source, count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
        |       sum(doc_id)::BIGINT AS id_sum, sum(epoch)::BIGINT AS epoch_sum
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_splits" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5('graft|' || doc_id::VARCHAR), 1, 15))::BIGINT
        |           % 10000 AS h
        |  FROM documents)
        |SELECT CASE WHEN h < 9000 THEN 'train'
        |            WHEN h < 9500 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    // cluster-keyed split replay: the dedup_clusters transitive closure
    // feeding the corpus_splits hash, plus both leak certificates
    "splits_leakage_safe" ->
      s"""WITH RECURSIVE $minhashBandsCte,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach AS (SELECT s AS v, s AS r FROM edges
         |          UNION SELECT e.d, reach.r
         |                FROM reach JOIN edges e ON e.s = reach.v),
         |labels AS (SELECT v, min(r) AS label FROM reach GROUP BY v),
         |k AS (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS split_key
         |      FROM documents d LEFT JOIN labels l ON l.v = d.doc_id),
         |splh AS (SELECT doc_id, split_key,
         |  ('0x' || substr(md5('graft|' || split_key::VARCHAR), 1, 15))::BIGINT
         |    % 10000 AS h_safe,
         |  ('0x' || substr(md5('graft|' || doc_id::VARCHAR), 1, 15))::BIGINT
         |    % 10000 AS h_naive
         | FROM k),
         |sp AS (SELECT doc_id, split_key,
         |  CASE WHEN h_safe < 9000 THEN 'train'
         |       WHEN h_safe < 9500 THEN 'val' ELSE 'test' END AS split,
         |  CASE WHEN h_naive < 9000 THEN 'train'
         |       WHEN h_naive < 9500 THEN 'val' ELSE 'test' END AS nsplit
         | FROM splh),
         |leak_safe AS (SELECT count(*)::BIGINT AS c FROM (
         |  SELECT split_key FROM sp GROUP BY 1 HAVING count(DISTINCT split) > 1)),
         |leak_naive AS (SELECT count(*)::BIGINT AS c FROM (
         |  SELECT split_key FROM sp GROUP BY 1 HAVING count(DISTINCT nsplit) > 1))
         |SELECT split, count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum,
         |  count(DISTINCT split_key) AS n_groups,
         |  (SELECT c FROM leak_safe) AS leaky_groups_safe,
         |  (SELECT c FROM leak_naive) AS leaky_groups_naive
         |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_shard_plan" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5('exp|' || doc_id::VARCHAR), 1, 15))::BIGINT
        |           AS ho
        |  FROM documents)
        |SELECT (ho % 16)::INT AS shard, count(*) AS n_docs,
        |       sum(doc_id)::BIGINT AS id_sum,
        |       sum(ho % 1000000007)::BIGINT AS order_sum
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-shard running sum replayed with the same window; `//` floor-vs-
    // trunc never diverges from Spark's floor(double) here: cum-1 is only
    // negative when cum=0, where greatest() masks the -1/0 disagreement
    "pack_blocks" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
        |        '\s+'), x -> len(x) > 0))::BIGINT AS toks,
        |    ('0x' || substr(md5('pack|' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM documents),
        |s AS (SELECT doc_id, toks, h, (h % 8)::INT AS shard FROM d),
        |c AS (
        |  SELECT shard, doc_id, toks,
        |    sum(toks) OVER (PARTITION BY shard ORDER BY h, doc_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum
        |  FROM s),
        |b AS (
        |  SELECT shard, toks,
        |    ((cum - toks) // 512)::BIGINT AS bs,
        |    greatest(((cum - toks) // 512)::BIGINT,
        |             ((cum - 1) // 512)::BIGINT) AS be
        |  FROM c)
        |SELECT shard, count(*) AS n_docs, sum(toks)::BIGINT AS token_sum,
        |       (max(be) + 1)::BIGINT AS n_blocks,
        |       sum(CASE WHEN be > bs THEN 1 ELSE 0 END)::BIGINT AS n_split_docs
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // naive replay of the token-budget greedy prefix: ONE global cumulative
    // window — fine for an oracle, the engine side uses the bucketed cutoff
    "sample_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
        |        '\s+'), x -> len(x) > 0))::BIGINT AS tok_cnt,
        |    ('0x' || substr(md5('mix|' || doc_id::VARCHAR), 1, 15))::BIGINT AS prio
        |  FROM documents),
        |c AS (
        |  SELECT *, sum(tok_cnt) OVER (ORDER BY prio, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT count(*)::BIGINT AS n_docs, sum(tok_cnt)::BIGINT AS token_sum,
        |       sum(doc_id)::BIGINT AS id_sum
        |FROM c WHERE cum <= 20000""".stripMargin,

    "corpus_prep" ->
      s"""WITH ${docAnnotateCte()},
         |kept AS (
         |  SELECT doc_id, text FROM (
         |    SELECT a.doc_id, d.text,
         |           row_number() OVER (PARTITION BY a.fingerprint
         |                              ORDER BY a.doc_id) AS rk
         |    FROM ann a JOIN documents d USING (doc_id)
         |    WHERE a.lang_pred = 'en' AND a.quality_bp >= 2500)
         |  WHERE rk = 1),
         |samp AS (
         |  SELECT doc_id, text FROM kept
         |  WHERE ('0x' || substr(md5('prep|' || doc_id::VARCHAR), 1, 15))::BIGINT
         |        % 10000 < 5000),
         |t2 AS (SELECT doc_id, $tokensSql AS toks FROM samp),
         |c AS (SELECT doc_id, toks,
         |             unnest(generate_series(0, len(toks) - 1, 48)) AS s
         |      FROM t2)
         |SELECT count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs,
         |       sum(len(toks[s+1:s+64]))::BIGINT AS sum_chunk_tokens
         |FROM c""".stripMargin,

    "profile_documents" -> {
      def col1(name: String, expr: String) =
        s"""SELECT '$name' AS "column", count(*) AS n_rows,
           |  count(*) - count($expr) AS n_nulls,
           |  count(DISTINCT $expr) AS n_distinct,
           |  min($expr)::VARCHAR AS min_value, max($expr)::VARCHAR AS max_value
           |FROM documents""".stripMargin
      Seq(col1("doc_id", "doc_id"), col1("lang", "lang"),
          col1("source", "source"), col1("text_len", "length(text)"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "text_normalize" -> {
      val stop = sqlList(TextFunctions.LangMarkers.toMap.apply("en"))
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents)
         |SELECT doc_id,
         |  CASE WHEN toks IS NULL THEN NULL
         |       -- array_to_string of an EMPTY list is NULL in DuckDB;
         |       -- the engine returns '' for a fully-filtered doc
         |       ELSE coalesce(array_to_string(
         |         list_filter(toks, x -> NOT list_contains($stop, x)), ' '), '')
         |  END AS normalized
         |FROM t ORDER BY doc_id""".stripMargin
    },

    "text_vocab_topk" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |d AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM t)
         |SELECT tok, count(*) AS df FROM d GROUP BY 1
         |ORDER BY df DESC, tok ASC LIMIT 20""".stripMargin,

    // add-one bigram model replayed end-to-end: same context counts
    // (bigram LEFT token), same vocab, same smoothing; ln is IEEE-stable
    // enough for the bp quantization on both engines
    "text_lm_score" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |bgs AS (SELECT doc_id,
         |          unnest(list_transform(generate_series(1, len(toks) - 1),
         |            i -> toks[i] || ' ' || toks[i+1])) AS bg
         |        FROM t WHERE len(toks) >= 2),
         |ab_c AS (SELECT bg, count(*)::BIGINT AS cab FROM bgs GROUP BY 1),
         |a_c AS (SELECT string_split(bg, ' ')[1] AS ctx, count(*)::BIGINT AS ca
         |        FROM bgs GROUP BY 1),
         |vv AS (SELECT count(DISTINCT tok)::BIGINT AS v
         |       FROM (SELECT unnest(toks) AS tok FROM t)),
         |sc AS (SELECT b.doc_id,
         |              -ln((coalesce(ab_c.cab, 0) + 1)::DOUBLE
         |                  / (coalesce(a_c.ca, 0) + vv.v)::DOUBLE) AS nlp
         |       FROM bgs b LEFT JOIN ab_c USING (bg)
         |            LEFT JOIN a_c ON string_split(b.bg, ' ')[1] = a_c.ctx
         |            CROSS JOIN vv),
         |g AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, avg(nlp) AS m
         |      FROM sc GROUP BY 1)
         |SELECT d.doc_id, coalesce(g.n_bigrams, 0)::BIGINT AS n_bigrams,
         |       coalesce(floor(g.m * 10000 + 0.5), 0)::BIGINT AS nlp_bp
         |FROM documents d LEFT JOIN g USING (doc_id) ORDER BY 1""".stripMargin,

    // drift replay: the dsir weight CTEs, dotted with the target counts —
    // a pure integer sum both engines compute identically
    "corpus_drift" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS s FROM documents),
         |bk AS (SELECT doc_id,
         |         ('0x' || substr(md5(s), 1, 15))::BIGINT % 1024 AS bucket
         |       FROM tok),
         |tc AS (SELECT bucket, count(*)::BIGINT AS tn
         |       FROM bk JOIN documents USING (doc_id)
         |       WHERE source = 'src5' GROUP BY 1),
         |rc AS (SELECT bucket, count(*)::BIGINT AS rn FROM bk GROUP BY 1),
         |tt AS (SELECT coalesce(sum(tn), 0)::BIGINT AS t_tot FROM tc),
         |rt AS (SELECT coalesce(sum(rn), 0)::BIGINT AS r_tot FROM rc),
         |w AS (SELECT r.bucket,
         |        floor(ln(((coalesce(tc.tn, 0) + 1) * (rt.r_tot + 1024))::DOUBLE
         |              / ((r.rn + 1) * (tt.t_tot + 1024))::DOUBLE) * 1e6 + 0.5)
         |          ::BIGINT AS w_unats
         |      FROM rc r LEFT JOIN tc USING (bucket)
         |           CROSS JOIN tt CROSS JOIN rt)
         |SELECT count(*)::BIGINT AS n_buckets,
         |       sum(tc.tn)::BIGINT AS t_tokens,
         |       sum(tc.tn * w.w_unats)::BIGINT AS kl_unats_sum
         |FROM tc JOIN w USING (bucket)""".stripMargin,

    // snapshot-diff replay: the same derived snapshots (pmod filters +
    // the coalesce-then-append revision), per-id min-md5 fingerprints,
    // one full outer join — presence decides added/removed, fingerprint
    // equality decides changed/unchanged (fp is never null for a present
    // id: md5 over coalesced text)
    "corpus_diff" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |o AS (SELECT doc_id, min(md5(coalesce(text, ''))) AS old_fp
        |      FROM d WHERE ((doc_id % 7) + 7) % 7 <> 0 GROUP BY doc_id),
        |n AS (SELECT doc_id, min(md5(coalesce(t, ''))) AS new_fp FROM (
        |        SELECT doc_id,
        |          CASE WHEN ((doc_id % 3) + 3) % 3 = 0
        |               THEN coalesce(text, '') || ' rev2' ELSE text END AS t
        |        FROM d WHERE ((doc_id % 5) + 5) % 5 <> 0) GROUP BY doc_id)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.old_fp = n.new_fp THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  o.old_fp, n.new_fp
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY 1""".stripMargin,

    // crawl_refresh_e2e: the composed pipeline's deterministic facts —
    // the diff counts (corpus_diff CTEs), the dedup survivor count
    // (dedup_incremental CTEs against the old snapshot as corpus), the
    // indexed-increment and total index sizes (femb joins on the id),
    // and the ANN certificate counts; recall_ok and new-doc containment
    // are contract flags the Spark side proves (tie-aware recall vs
    // brute force, anti-join emptiness).
    "crawl_refresh_e2e" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |o AS (SELECT * FROM d WHERE ((doc_id % 7) + 7) % 7 <> 0),
         |ns AS (SELECT doc_id,
         |         CASE WHEN ((doc_id % 3) + 3) % 3 = 0
         |              THEN coalesce(text, '') || ' rev2' ELSE text END AS text
         |       FROM d WHERE ((doc_id % 5) + 5) % 5 <> 0),
         |ofp AS (SELECT doc_id, min(md5(coalesce(text, ''))) AS fp
         |        FROM o GROUP BY 1),
         |nfp AS (SELECT doc_id, min(md5(coalesce(text, ''))) AS fp
         |        FROM ns GROUP BY 1),
         |delta AS (SELECT coalesce(ofp.doc_id, nfp.doc_id) AS doc_id,
         |    CASE WHEN ofp.doc_id IS NULL THEN 'added'
         |         WHEN nfp.doc_id IS NULL THEN 'removed'
         |         WHEN ofp.fp = nfp.fp THEN 'unchanged'
         |         ELSE 'changed' END AS status
         |  FROM ofp FULL OUTER JOIN nfp ON ofp.doc_id = nfp.doc_id),
         |cfp AS (SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp FROM o),
         |fresh AS (SELECT ns.doc_id,
         |            md5(regexp_replace(lower(trim(ns.text)), '\\s+', ' ', 'g')) AS fp
         |          FROM ns JOIN delta USING (doc_id)
         |          WHERE delta.status IN ('added', 'changed')),
         |fresh2 AS (SELECT * FROM fresh f
         |           WHERE NOT EXISTS (SELECT 1 FROM cfp c WHERE c.fp = f.fp)),
         |win AS (SELECT min(doc_id) AS doc_id FROM fresh2 GROUP BY fp),
         |surv AS (SELECT f.doc_id FROM fresh2 f JOIN win w ON f.doc_id = w.doc_id),
         |femb AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[], x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
         |oid AS (SELECT DISTINCT doc_id FROM o),
         |sid AS (SELECT DISTINCT doc_id FROM surv),
         |rid AS (SELECT DISTINCT doc_id FROM delta WHERE status = 'removed'),
         |be AS (SELECT femb.vec_id FROM femb JOIN oid ON femb.vec_id = oid.doc_id),
         |kb AS (SELECT vec_id FROM be b
         |       WHERE NOT EXISTS (SELECT 1 FROM rid r WHERE r.doc_id = b.vec_id)),
         |ie AS (SELECT femb.vec_id FROM femb JOIN sid ON femb.vec_id = sid.doc_id),
         |u AS (SELECT vec_id FROM kb UNION ALL SELECT vec_id FROM ie),
         |nq AS (SELECT count(DISTINCT vec_id)::BIGINT AS v FROM u WHERE vec_id < 20),
         |nc AS (SELECT count(*)::BIGINT AS v FROM u)
         |SELECT nq.v AS n_queries,
         |       (nq.v * least(5, greatest(nc.v - 1, 0)))::BIGINT AS n_exact,
         |       5000::BIGINT AS recall_floor_bp,
         |       1::BIGINT AS recall_ok,
         |       1::BIGINT AS new_in_index,
         |       1::BIGINT AS removed_purged,
         |       (SELECT count(*) FROM delta WHERE status = 'added')::BIGINT AS n_added,
         |       (SELECT count(*) FROM delta WHERE status = 'changed')::BIGINT AS n_changed,
         |       (SELECT count(*) FROM surv)::BIGINT AS n_survivors,
         |       (SELECT count(*) FROM ie)::BIGINT AS n_indexed,
         |       ((SELECT count(*) FROM be) - (SELECT count(*) FROM kb))::BIGINT AS n_purged,
         |       nc.v AS n_index_total,
         |       1::BIGINT AS drift_quiet,
         |       1::BIGINT AS index_untouched
         |FROM nq, nc""".stripMargin,

    // DSIR replay: hashed-unigram bucket counts for target (src5) and raw
    // (all), one ln per bucket of the exact integer ratio, micro-nat
    // quantization, INTEGER per-doc sums (order-independent — the same
    // no-float-accumulation discipline as the centroid oracle). Target is
    // a subset of raw, so every scored bucket exists in rc and the
    // raw-left-join covers the full outer join the operator builds.
    "dsir_scores" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS s FROM documents),
         |bk AS (SELECT doc_id,
         |         ('0x' || substr(md5(s), 1, 15))::BIGINT % 1024 AS bucket
         |       FROM tok),
         |tc AS (SELECT bucket, count(*)::BIGINT AS tn
         |       FROM bk JOIN documents USING (doc_id)
         |       WHERE source = 'src5' GROUP BY 1),
         |rc AS (SELECT bucket, count(*)::BIGINT AS rn FROM bk GROUP BY 1),
         |tt AS (SELECT coalesce(sum(tn), 0)::BIGINT AS t_tot FROM tc),
         |rt AS (SELECT coalesce(sum(rn), 0)::BIGINT AS r_tot FROM rc),
         |w AS (SELECT r.bucket,
         |        floor(ln(((coalesce(tc.tn, 0) + 1) * (rt.r_tot + 1024))::DOUBLE
         |              / ((r.rn + 1) * (tt.t_tot + 1024))::DOUBLE) * 1e6 + 0.5)
         |          ::BIGINT AS w_unats
         |      FROM rc r LEFT JOIN tc USING (bucket)
         |           CROSS JOIN tt CROSS JOIN rt),
         |sc AS (SELECT b.doc_id, count(*)::BIGINT AS n_toks,
         |              sum(w.w_unats)::BIGINT AS score_unats
         |       FROM bk b JOIN w USING (bucket) GROUP BY 1)
         |SELECT d.doc_id, coalesce(sc.n_toks, 0)::BIGINT AS n_toks,
         |       coalesce(sc.score_unats, 0)::BIGINT AS score_unats
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY 1""".stripMargin,

    // winnow-pairs replay: the winnow CTE + fingerprint self-join
    "dedup_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |g AS (SELECT doc_id, $shinglesSql AS gs FROM t),
         |h AS (SELECT doc_id,
         |        list_transform(gs,
         |          s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
         |      FROM g),
         |w AS (SELECT doc_id, list_distinct(CASE WHEN len(hs) >= 8
         |        THEN list_transform(generate_series(1, len(hs) - 7),
         |               i -> list_min(hs[i:i+7]))
         |        ELSE [list_min(hs)] END) AS fp
         |      FROM h),
         |e0 AS (SELECT doc_id, unnest(fp) AS fp FROM w),
         |stop AS (SELECT fp FROM e0 GROUP BY fp HAVING count(*) <= 1000),
         |e AS (SELECT e0.* FROM e0 JOIN stop USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       count(*)::BIGINT AS n_shared
         |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""".stripMargin,

    // word-entropy replay: per-(doc,token) integer counts, each ln of an
    // exact integer micro-nat-floored, integer n·L(n) − Σ c·L(c)
    "text_entropy" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*)::BIGINT AS c
         |       FROM tok GROUP BY 1, 2),
         |ag AS (SELECT doc_id, sum(c)::BIGINT AS n_toks,
         |         count(*)::BIGINT AS n_distinct,
         |         sum(c * floor(ln(c::DOUBLE) * 1e6 + 0.5)::BIGINT)::BIGINT
         |           AS clnc
         |       FROM tf GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(ag.n_toks, 0)::BIGINT AS n_toks,
         |  coalesce(ag.n_distinct, 0)::BIGINT AS n_distinct,
         |  coalesce(floor(ag.n_distinct::DOUBLE / ag.n_toks * 10000 + 0.5),
         |    0)::BIGINT AS distinct_bp,
         |  coalesce(ag.n_toks
         |      * floor(ln(ag.n_toks::DOUBLE) * 1e6 + 0.5)::BIGINT
         |      - ag.clnc, 0)::BIGINT AS ent_nunats
         |FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY 1""".stripMargin,

    // winnowing replay: shingle-hash list, windowed list_min selection,
    // distinct set, order-independent mod-p checksum via list_reduce
    "text_winnow_fp" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |g AS (SELECT doc_id, $shinglesSql AS gs FROM t),
         |h AS (SELECT doc_id, gs,
         |        list_transform(gs,
         |          s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
         |      FROM g),
         |w AS (SELECT doc_id, len(gs)::BIGINT AS n_grams,
         |        CASE WHEN hs IS NULL THEN NULL
         |             WHEN len(hs) = 0 THEN []::BIGINT[]
         |             WHEN len(hs) >= 8 THEN list_distinct(
         |               list_transform(generate_series(1, len(hs) - 7),
         |                 i -> list_min(hs[i:i+7])))
         |             ELSE list_distinct([list_min(hs)]) END AS fp
         |      FROM h)
         |SELECT doc_id, n_grams, len(fp)::BIGINT AS n_fp,
         |  CASE WHEN fp IS NULL THEN NULL
         |       ELSE list_reduce(list_prepend(0,
         |         list_transform(fp, x -> x % 1000000007)),
         |         (a, b) -> (a + b) % 1000000007)::BIGINT END AS fp_checksum
         |FROM w ORDER BY doc_id""".stripMargin,

    // per-source cap replay: quality annotation CTE + a per-source
    // row_number with the doc_id tiebreak
    "cap_per_source" ->
      s"""WITH ${docAnnotateCte()},
         |j AS (SELECT d.doc_id, d.source, ann.quality_bp
         |      FROM documents d JOIN ann USING (doc_id)),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY source
         |         ORDER BY quality_bp DESC, doc_id ASC)::BIGINT AS rank
         |       FROM j)
         |SELECT doc_id, source, quality_bp, rank FROM rk
         |WHERE rank <= 15 ORDER BY source, rank""".stripMargin,

    // url canonicalization replay: identical regex chain + param
    // filter/sort, grouped on the canonical form
    "url_dedup_canonical" -> {
      val tracking = sqlList(graft.functions.UrlFunctions.TrackingKeys)
      s"""WITH $urlSynthSql,
         |$urlHostSql,
         |n AS (SELECT *,
         |  CASE WHEN rtrim(regexp_extract(pathq, '^([^?]*)', 1), '/') = ''
         |       THEN '/' ELSE rtrim(regexp_extract(pathq, '^([^?]*)', 1), '/')
         |  END AS npath,
         |  array_to_string(list_sort(list_filter(
         |    string_split(regexp_extract(pathq, '\\?(.*)$$', 1), '&'),
         |    x -> x <> '' AND NOT starts_with(x, 'utm_')
         |         AND NOT list_contains($tracking, split_part(x, '=', 1)))), '&')
         |    AS nquery,
         |  CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
         |            OR (scheme = 'https' AND port = '443')
         |       THEN host ELSE host || ':' || port END AS nauth
         | FROM h),
         |c AS (SELECT doc_id, url,
         |  scheme || '://' || nauth || npath ||
         |  CASE WHEN nquery = '' THEN '' ELSE '?' || nquery END AS canonical_url
         | FROM n)
         |SELECT canonical_url, count(*) AS n_raw,
         |  count(DISTINCT url) AS n_raw_distinct, min(doc_id) AS keeper_doc
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // registered-domain cap replay: host → pay-level domain via the same
    // two regex tiers, blocklist, rank per domain by quality
    "url_domain_cap" ->
      s"""WITH ${docAnnotateCte()},
         |$urlSynthSql,
         |$urlHostSql,
         |rd AS (SELECT doc_id,
         |  CASE WHEN regexp_extract(host,
         |         '${graft.functions.UrlFunctions.TwoLevelSuffixRegex}', 1) <> ''
         |       THEN regexp_extract(host,
         |         '${graft.functions.UrlFunctions.TwoLevelSuffixRegex}', 1)
         |       WHEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) <> ''
         |       THEN regexp_extract(host, '([^.]+\\.[^.]+)$$', 1)
         |       ELSE host END AS domain
         | FROM h),
         |j AS (SELECT rd.doc_id, rd.domain, ann.quality_bp
         |      FROM rd JOIN ann ON rd.doc_id = ann.doc_id
         |      WHERE rd.domain <> 'news.net'),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY domain
         |         ORDER BY quality_bp DESC, doc_id ASC)::BIGINT AS rank
         |       FROM j)
         |SELECT doc_id, domain, quality_bp, rank FROM rk
         |WHERE rank <= 8 ORDER BY domain, rank""".stripMargin,

    // NB replay: the full train+score round-trip — per-class integer
    // counts, one ln per (label,bucket) of an exact integer ratio
    // micro-nat-floored, integer per-doc sums, argmax with label tiebreak
    // lang IS NOT NULL: unlabeled rows train nothing (a NULL "class"
    // would be engine-divergent on argmax ties — Spark sorts nulls
    // first ASC, DuckDB last; NaiveBayes.trainModel drops them)
    "nb_langid" ->
      s"""WITH tr AS (SELECT * FROM documents
         |            WHERE doc_id % 5 != 0 AND lang IS NOT NULL),
         |te AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
         |nt AS (SELECT count(*)::BIGINT AS n FROM tr),
         |cls AS (SELECT lang AS label, count(*)::BIGINT AS n_docs,
         |          coalesce(sum(len($tokensSql)), 0)::BIGINT AS tot_toks
         |        FROM tr GROUP BY 1),
         |cl AS (SELECT label, n_docs, tot_toks,
         |         floor(ln(n_docs::DOUBLE / nt.n::DOUBLE) * 1e6 + 0.5)
         |           ::BIGINT AS prior_unats,
         |         floor(ln(1::DOUBLE / (tot_toks + 1024)::DOUBLE) * 1e6 + 0.5)
         |           ::BIGINT AS dflt_unats
         |       FROM cls CROSS JOIN nt),
         |ttok AS (SELECT lang AS label,
         |           ('0x' || substr(md5(s), 1, 15))::BIGINT % 1024 AS bucket
         |         FROM (SELECT lang, unnest($tokensSql) AS s FROM tr)),
         |wc AS (SELECT label, bucket, count(*)::BIGINT AS n
         |       FROM ttok GROUP BY 1, 2),
         |wt AS (SELECT wc.label, wc.bucket,
         |         floor(ln((wc.n + 1)::DOUBLE / (cl.tot_toks + 1024)::DOUBLE)
         |           * 1e6 + 0.5)::BIGINT AS w_unats
         |       FROM wc JOIN cl USING (label)),
         |dtok AS (SELECT doc_id,
         |           ('0x' || substr(md5(s), 1, 15))::BIGINT % 1024 AS bucket
         |         FROM (SELECT doc_id, unnest($tokensSql) AS s FROM te)),
         |sc AS (SELECT d.doc_id, cl.label,
         |         cl.prior_unats
         |           + sum(coalesce(wt.w_unats, cl.dflt_unats))::BIGINT
         |           AS score_unats
         |       FROM dtok d CROSS JOIN cl
         |            LEFT JOIN wt ON wt.label = cl.label
         |                        AND wt.bucket = d.bucket
         |       GROUP BY 1, 2, cl.prior_unats),
         |emp AS (SELECT te.doc_id, cl.label,
         |          cl.prior_unats::BIGINT AS score_unats
         |        FROM te CROSS JOIN cl
         |        WHERE te.doc_id NOT IN (SELECT DISTINCT doc_id FROM dtok)),
         |al AS (SELECT * FROM sc UNION ALL SELECT * FROM emp),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |         ORDER BY score_unats DESC, label ASC) AS rn FROM al)
         |SELECT r.doc_id, r.label AS pred, r.score_unats,
         |       (r.label = te.lang)::BIGINT AS hit
         |FROM rk r JOIN te USING (doc_id) WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,

    // TF-IDF replay: integer tf/df counts, one ln per distinct df of an
    // exact integer ratio micro-nat-floored (the dsir discipline), integer
    // tf*idf products, row_number with the term-string tiebreak
    "tfidf_keywords" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
         |       FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         |idf AS (SELECT term, df,
         |          floor(ln((nn.n + 1)::DOUBLE / (df + 1)::DOUBLE) * 1e6 + 0.5)
         |            ::BIGINT AS idf_unats
         |        FROM dfq CROSS JOIN nn),
         |sc AS (SELECT tf.doc_id, tf.term, tf.tf,
         |              tf.tf * idf.idf_unats AS score_unats
         |       FROM tf JOIN idf USING (term)),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |         ORDER BY score_unats DESC, term ASC)::BIGINT AS rank
         |       FROM sc)
         |SELECT doc_id, term, tf, score_unats, rank FROM rk
         |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    // round-0 BPE pair table: vocabulary freqs x adjacent character pairs
    "bpe_pair_counts" ->
      s"""WITH tk AS (SELECT unnest($tokensSql) AS w FROM documents),
         |wf AS (SELECT w, count(*)::BIGINT AS f FROM tk GROUP BY 1),
         |p AS (SELECT f, unnest(list_transform(generate_series(1, length(w) - 1),
         |        i -> w[i] || ' ' || w[i+1])) AS pair
         |      FROM wf WHERE length(w) >= 2)
         |SELECT pair, sum(f)::BIGINT AS cnt FROM p GROUP BY 1
         |ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,

    // deterministic facts + literal invariant flags; the 8-round merge
    // loop itself is spec-pinned (Sennrich fixture), not SQL-replayed
    "bpe_segment_cert" ->
      s"""WITH tk AS (SELECT unnest($tokensSql) AS w FROM documents),
         |wf AS (SELECT w, count(*)::BIGINT AS f FROM tk GROUP BY 1),
         |p AS (SELECT f, unnest(list_transform(generate_series(1, length(w) - 1),
         |        i -> w[i] || ' ' || w[i+1])) AS pair
         |      FROM wf WHERE length(w) >= 2),
         |fm AS (SELECT pair FROM (SELECT pair, sum(f) AS cnt FROM p GROUP BY 1)
         |       WHERE cnt >= 2 ORDER BY cnt DESC, pair ASC LIMIT 1)
         |SELECT (SELECT count(*) FROM tk)::BIGINT AS n_words,
         |       (SELECT sum(length(w)) FROM tk)::BIGINT AS n_chars,
         |       (SELECT count(*) FROM fm)::BIGINT AS has_merges,
         |       (SELECT pair FROM fm) AS first_merge,
         |       1::BIGINT AS bounds_ok,
         |       (SELECT count(*) FROM fm)::BIGINT AS compressed""".stripMargin,

    // the four family CTEs over the synthesized corpus, one flags row per
    // doc, per-source rollup — every fragment shared with the standalone
    // family oracles (docAnnotateCte/repetitionCte/topGramCte take the
    // source-table name; c4 and the LM model are inlined over sdocs/t)
    "quality_scorecard" ->
      s"""WITH sdocs AS (
         |  SELECT doc_id, source,
         |    replace(replace(replace(text, ' spark ', ' javascript '),
         |            ' row ', '.' || chr(10)), ' value ', '.' || chr(10))
         |      || CASE WHEN contains(text, 'vector vector') THEN ' {'
         |              ELSE '' END AS text
         |  FROM documents),
         |${docAnnotateCte("sdocs")},
         |${repetitionCte("sdocs")},
         |${topGramCte(2, "top_bigram_bp")},
         |kc AS (
         |  SELECT doc_id,
         |    list_filter(
         |      list_filter(list_transform(string_split_regex(text, '\\r?\\n'),
         |                  x -> trim(x)), x -> len(x) > 0),
         |      x -> regexp_matches(x, '[.!?"]$$')
         |        AND len(list_filter(string_split_regex(x, '\\s+'),
         |                w -> len(w) > 0)) >= 5
         |        AND NOT contains(lower(x), 'javascript')) AS kl
         |  FROM sdocs),
         |bgs AS (SELECT doc_id,
         |          unnest(list_transform(generate_series(1, len(toks) - 1),
         |            i -> toks[i] || ' ' || toks[i+1])) AS bg
         |        FROM t WHERE len(toks) >= 2),
         |ab_c AS (SELECT bg, count(*)::BIGINT AS cab FROM bgs GROUP BY 1),
         |a_c AS (SELECT string_split(bg, ' ')[1] AS ctx, count(*)::BIGINT AS ca
         |        FROM bgs GROUP BY 1),
         |vv AS (SELECT count(DISTINCT tok)::BIGINT AS v
         |       FROM (SELECT unnest(toks) AS tok FROM t)),
         |sc AS (SELECT b.doc_id,
         |              -ln((coalesce(ab_c.cab, 0) + 1)::DOUBLE
         |                  / (coalesce(a_c.ca, 0) + vv.v)::DOUBLE) AS nlp
         |       FROM bgs b LEFT JOIN ab_c USING (bg)
         |            LEFT JOIN a_c ON string_split(b.bg, ' ')[1] = a_c.ctx
         |            CROSS JOIN vv),
         |lmg AS (SELECT doc_id, avg(nlp) AS m FROM sc GROUP BY 1),
         |flags AS (
         |  SELECT d.doc_id, d.source,
         |    (len(kc.kl) >= 3 AND NOT contains(lower(d.text), 'lorem ipsum')
         |     AND NOT contains(d.text, '{')) AS c4_ok,
         |    (ann.n_tokens BETWEEN 25 AND 100000
         |     AND row_sig.dup_token_bp <= 6000
         |     AND tg2.top_bigram_bp <= 800) AS gopher_ok,
         |    (ann.lang_pred = 'en' AND ann.quality_bp >= 2500) AS langq_ok,
         |    (coalesce(floor(lmg.m * 10000 + 0.5), 0) <= 35600) AS lm_ok
         |  FROM sdocs d JOIN kc USING (doc_id) JOIN ann USING (doc_id)
         |       JOIN row_sig USING (doc_id) JOIN tg2 USING (doc_id)
         |       LEFT JOIN lmg USING (doc_id))
         |SELECT source, count(*) AS n_docs,
         |  sum(c4_ok::INT)::BIGINT AS n_c4,
         |  sum(gopher_ok::INT)::BIGINT AS n_gopher,
         |  sum(langq_ok::INT)::BIGINT AS n_langq,
         |  sum(lm_ok::INT)::BIGINT AS n_lm,
         |  sum((c4_ok AND gopher_ok AND langq_ok AND lm_ok)::INT)::BIGINT AS n_all
         |FROM flags GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_token_estimate" ->
      s"""WITH t AS (SELECT doc_id, text, $tokensSql AS toks FROM documents)
         |SELECT doc_id,
         |  (len(toks)
         |   + (length(text) - length(replace(replace(replace(replace(replace(replace(
         |        text, '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', '')))
         |   + coalesce(list_sum(list_transform(toks, x -> length(x) // 8)), 0))::BIGINT
         |  AS est_tokens
         |FROM t ORDER BY doc_id""".stripMargin,

    // Stub text/plain kernel = byte histogram; pure-ASCII corpus makes
    // bucket counts exactly the per-character-class counts below.
    // the kernel histograms UTF-8 BYTES — replay bytes via hex(encode()),
    // not ord(char) codepoints, so multibyte text matches exactly
    "mm_features" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS n_bytes
        |  FROM documents WHERE text IS NOT NULL),
        |k AS (
        |  SELECT doc_id, n_bytes,
        |    list_transform(generate_series(1, n_bytes),
        |      i -> ('0x' || substr(hx, 2*i-1, 2))::BIGINT % 16) AS bs
        |  FROM b)
        |SELECT doc_id, n_bytes,
        |  len(list_filter(bs, x -> x = 0)) AS b0_cnt,
        |  len(list_filter(bs, x -> x = 5)) AS b5_cnt,
        |  len(list_filter(bs, x -> x = 10)) AS b10_cnt,
        |  len(list_filter(bs, x -> x = 15)) AS b15_cnt
        |FROM k ORDER BY doc_id""".stripMargin,

    "text_strip_markup" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '<[^>]*>')) AS n_tags,
        |  md5(trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(text, '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g'))) AS stripped_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // C4 line surgery replayed in full: the same deterministic structure
    // synthesis, the same line split/trim, the same three line rules, the
    // same two page rules, and the md5 of the newline-rejoined survivors
    // (array_to_string of an empty list is NULL in DuckDB — coalesce to ''
    // to match Spark's array_join)
    "text_c4_filters" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    replace(replace(replace(text, ' spark ', ' javascript '),
        |            ' row ', '.' || chr(10)), ' value ', '.' || chr(10))
        |      || CASE WHEN contains(text, 'vector vector') THEN ' {'
        |              ELSE '' END AS text
        |  -- null text behaves as empty, matching the engine coalesce
        |  FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
        |l AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(string_split_regex(text, '\r?\n'),
        |                x -> trim(x)), x -> len(x) > 0) AS ls
        |  FROM base),
        |k AS (
        |  SELECT doc_id, text, len(ls)::BIGINT AS n_lines,
        |    list_filter(ls, x -> regexp_matches(x, '[.!?"]$')
        |      AND len(list_filter(string_split_regex(x, '\s+'),
        |              w -> len(w) > 0)) >= 5
        |      AND NOT contains(lower(x), 'javascript')) AS kl
        |  FROM l)
        |SELECT doc_id, n_lines, len(kl)::BIGINT AS n_kept_lines,
        |  (len(kl) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
        |   AND NOT contains(text, '{'))::BIGINT AS kept,
        |  md5(coalesce(array_to_string(kl, chr(10)), '')) AS clean_md5
        |FROM k ORDER BY doc_id""".stripMargin,

    "text_repetition" ->
      s"""WITH ${repetitionCte()},
         |${topGramCte(2, "top_bigram_bp")},
         |${topGramCte(3, "top_trigram_bp")}
         |SELECT doc_id, n_lines, dup_line_bp, dup_token_bp,
         |       top_bigram_bp, top_trigram_bp
         |FROM row_sig JOIN tg2 USING (doc_id) JOIN tg3 USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "quality_gate" ->
      s"""WITH ${repetitionCte()},
         |${topGramCte(2, "top_bigram_bp")}
         |SELECT d.source, count(*) AS n_kept, sum(d.doc_id)::BIGINT AS id_sum,
         |       sum(len(pr.toks))::BIGINT AS kept_tokens
         |FROM documents d
         |JOIN pr USING (doc_id) JOIN row_sig USING (doc_id)
         |JOIN tg2 USING (doc_id)
         |WHERE len(pr.toks) BETWEEN 25 AND 100000
         |  AND row_sig.dup_token_bp <= 6000 AND tg2.top_bigram_bp <= 800
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_exact_docs" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |       min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // batch (source<>src0) anti-joined against the corpus fingerprint set
    // (src0), then min-id-per-fingerprint within the surviving batch
    "dedup_incremental" ->
      """WITH fps AS (
        |  SELECT doc_id, source,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |fresh AS (
        |  SELECT * FROM fps b WHERE source <> 'src0'
        |    AND NOT EXISTS (SELECT 1 FROM fps c
        |                    WHERE c.source = 'src0' AND c.fp = b.fp)),
        |win AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY fp)
        |SELECT f.source, count(*) AS n_kept, sum(f.doc_id)::BIGINT AS id_sum
        |FROM fresh f JOIN win w ON f.doc_id = w.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the bloom path is a pure accelerator — exact same result contract
    "dedup_incremental_bloom" ->
      """WITH fps AS (
        |  SELECT doc_id, source,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |fresh AS (
        |  SELECT * FROM fps b WHERE source <> 'src0'
        |    AND NOT EXISTS (SELECT 1 FROM fps c
        |                    WHERE c.source = 'src0' AND c.fp = b.fp)),
        |win AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY fp)
        |SELECT f.source, count(*) AS n_kept, sum(f.doc_id)::BIGINT AS id_sum
        |FROM fresh f JOIN win w ON f.doc_id = w.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // full replay of the paragraph surgery: same synthesized line breaks,
    // same per-line fingerprint, lexicographic (doc, idx) owner per
    // distinct line, survivors rejoined in position order (1-based idx vs
    // Spark's 0-based is order-equivalent — only min/order matter)
    "dedup_paragraphs" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    replace(replace(text, ' row ', chr(10)), ' value ', chr(10)) AS t
        |  FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
        |ls AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split_regex(t, '\r?\n'),
        |                x -> trim(x)), x -> len(x) > 0) AS ls
        |  FROM base),
        |ln AS (
        |  SELECT doc_id, e.idx AS idx, e.ln AS ln,
        |         md5(regexp_replace(lower(trim(e.ln)), '\s+', ' ', 'g')) AS fp
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(generate_series(1, len(ls)),
        |            i -> {'idx': i, 'ln': ls[i]})) AS e
        |        FROM ls)),
        |own AS (SELECT fp, min(doc_id) AS oid FROM ln GROUP BY 1),
        |own2 AS (
        |  SELECT l.fp, l.doc_id AS oid, min(l.idx) AS oidx
        |  FROM ln l JOIN own o ON l.fp = o.fp AND l.doc_id = o.oid
        |  GROUP BY 1, 2),
        |kept AS (
        |  SELECT l.doc_id, l.idx, l.ln
        |  FROM ln l JOIN own2 o
        |    ON l.fp = o.fp AND l.doc_id = o.oid AND l.idx = o.oidx),
        |reb AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_kept_lines,
        |         string_agg(ln, chr(10) ORDER BY idx) AS clean
        |  FROM kept GROUP BY 1)
        |SELECT d.doc_id, len(s.ls)::BIGINT AS n_lines,
        |       coalesce(r.n_kept_lines, 0)::BIGINT AS n_kept_lines,
        |       md5(coalesce(r.clean, '')) AS clean_md5
        |FROM documents d JOIN ls s USING (doc_id)
        |     LEFT JOIN reb r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // the same band construction as dedup_minhash_pairs, with source
    // carried through so the join crosses corpus (src0) x batch sides only.
    // stopb mirrors the engine's per-SIDE maxBandFreq=1000 cap (each
    // bandedSignatures call caps its own banded table independently).
    "dedup_incremental_fuzzy" ->
      s"""WITH t AS (SELECT doc_id, source, $tokensSql AS toks FROM documents),
         |sh AS (SELECT doc_id, source, toks, $shinglesSql AS shingles FROM t),
         |hs AS (SELECT doc_id, source, toks,
         |       list_transform(shingles, s -> $hash60Sql) AS hs FROM sh),
         |sig AS (SELECT doc_id, source, toks, $seededSigSql AS sig FROM hs),
         |bands0 AS (
         |  SELECT doc_id, source, toks, unnest(list_transform(generate_series(0, 3),
         |    b -> b::VARCHAR || ':' ||
         |         md5(array_to_string(sig[(b*3+1):(b*3+3)], ',')))) AS band
         |  FROM sig),
         |stopb AS (SELECT band, (source = 'src0') AS is_corpus FROM bands0
         |          GROUP BY 1, 2 HAVING count(*) <= 1000),
         |bands AS (SELECT bands0.* FROM bands0 JOIN stopb
         |          ON bands0.band = stopb.band
         |         AND (bands0.source = 'src0') = stopb.is_corpus),
         |dropped AS (
         |  SELECT DISTINCT b.doc_id, b.source
         |  FROM bands b JOIN bands a ON b.band = a.band
         |  WHERE a.source = 'src0' AND b.source <> 'src0'
         |    AND $jaccardSql >= 0.5)
         |SELECT source, count(*) AS n_dropped, sum(doc_id)::BIGINT AS id_sum
         |FROM dropped GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_minhash_sig" ->
      s"""WITH t AS (SELECT doc_id, $tokensSql AS toks FROM documents),
         |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM t),
         |hs AS (SELECT doc_id, list_transform(shingles, s -> $hash60Sql) AS hs FROM sh),
         |sig AS (SELECT doc_id, $seededSigSql AS sig FROM hs)
         |SELECT doc_id,
         |       list_sum(list_transform(sig, x -> x % 1000003))::BIGINT AS sig_sum,
         |       list_min(sig) AS sig_min, list_max(sig) AS sig_max
         |FROM sig ORDER BY doc_id""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""WITH $minhashBandsCte
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |       ${bpSql(jaccardSql)} AS jaccard_bp
         |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin,

    // Transitive closure of the candidate pairs: DuckDB walks components
    // with a recursive CTE; the engine labels the same components by
    // alternating-star CC (DedupFunctions.connectedComponentsAlternating),
    // each vertex with its component's minimum.
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashBandsCte,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach AS (SELECT s AS v, s AS r FROM edges
         |          UNION SELECT e.d, reach.r
         |                FROM reach JOIN edges e ON e.s = reach.v),
         |labels AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v)
         |SELECT cluster_id, count(*) AS n_members, max(v) AS max_member
         |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical transitive closure (the engine runs the same plan)
    "dedup_clusters_auto" ->
      s"""WITH RECURSIVE $minhashBandsCte,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach AS (SELECT s AS v, s AS r FROM edges
         |          UNION SELECT e.d, reach.r
         |                FROM reach JOIN edges e ON e.s = reach.v),
         |labels AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v)
         |SELECT cluster_id, count(*) AS n_members, max(v) AS max_member
         |FROM labels GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $simhashSigCte
         |SELECT doc_id, simhash FROM sig ORDER BY 1""".stripMargin,

    // Same pigeonhole blocking as the engine: agree on ≥1 of 4 15-bit
    // bands ⇒ candidate; exact Hamming filter after.
    "dedup_simhash_pairs" ->
      s"""WITH $simhashSigCte,
         |bands AS (
         |  SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS bits
         |  FROM sig, unnest(generate_series(0, 3)) AS g(b))
         |SELECT * FROM (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         bit_count(xor(a.simhash, b.simhash)) AS hamming
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.bits = b.bits AND a.doc_id < b.doc_id)
         |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH t0 AS (SELECT doc_id, lang || '|' || source AS blk, $tokensSql AS toks
         |            FROM documents),
         |t AS (SELECT doc_id, blk,
         |      list_distinct(list_transform($shinglesSql, s -> $hash60Sql)) AS toks
         |      FROM t0)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, ${bpSql(jaccardSql)} AS jaccard_bp
         |FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |WHERE $jaccardSql >= 0.05
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_repeated_passages" ->
      s"""WITH ${tokenWindowsCte(5)}
         |SELECT win_hash, count(DISTINCT doc_id) AS n_docs,
         |       count(*) AS n_occurrences, min(doc_id) AS first_doc
         |FROM wh GROUP BY 1
         |HAVING count(DISTINCT doc_id) > 1
         |ORDER BY win_hash""".stripMargin,

    // Full replay of the span surgery: windows (no short-text fallback) →
    // canonical owner per window hash → covered positions in non-owner
    // docs → token-level anti-join → per-doc reassembly in position order.
    "dedup_span_removal" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
        |        '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |wn AS (
        |  SELECT doc_id, i - 1 AS wpos,
        |         md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |             toks[i+3] || ' ' || toks[i+4]) AS h
        |  FROM t, unnest(generate_series(1, len(toks) - 4)) AS g(i)
        |  WHERE len(toks) >= 5),
        |own AS (SELECT h, min(doc_id) AS fd, count(DISTINCT doc_id) AS nd
        |        FROM wn GROUP BY 1),
        |rem AS (
        |  SELECT DISTINCT wn.doc_id AS doc_id, wpos + k AS rpos
        |  FROM wn JOIN own USING (h), unnest(generate_series(0, 4)) AS gk(k)
        |  WHERE own.nd > 1 AND wn.doc_id <> own.fd),
        |tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
        |        FROM t, unnest(generate_series(1, len(toks))) AS gi(i)),
        |kept AS (
        |  SELECT tok.doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
        |  FROM tok LEFT JOIN rem ON rem.doc_id = tok.doc_id AND rem.rpos = tok.pos
        |  WHERE rem.rpos IS NULL GROUP BY 1)
        |SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
        |       coalesce(r.n_removed, 0)::BIGINT AS n_removed,
        |       md5(coalesce(k.cleaned, '')) AS cleaned_md5
        |FROM t
        |LEFT JOIN (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY 1) r
        |  USING (doc_id)
        |LEFT JOIN kept k USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // identical pairs + transitive closure as dedup_clusters, then keep
    // only each component's min id and account survivors per source
    "dedup_keep_representatives" ->
      s"""WITH RECURSIVE $minhashBandsCte,
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach AS (SELECT s AS v, s AS r FROM edges
         |          UNION SELECT e.d, reach.r
         |                FROM reach JOIN edges e ON e.s = reach.v),
         |labels AS (SELECT v, min(r) AS lbl FROM reach GROUP BY v),
         |drops AS (SELECT v FROM labels WHERE v <> lbl)
         |SELECT source, count(*)::BIGINT AS n_kept, sum(doc_id)::BIGINT AS id_sum
         |FROM documents LEFT JOIN drops ON doc_id = v
         |WHERE v IS NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // zero-token docs emit no windows (tokenWindowsCte) and report (0, 0)
    // via the left join from documents — mirrors passageDupCoverage.
    "dedup_passage_coverage" ->
      s"""WITH ${tokenWindowsCte(5)},
         |sh AS (SELECT win_hash FROM wh GROUP BY 1
         |       HAVING count(DISTINCT doc_id) > 1),
         |cov AS (
         |  SELECT doc_id, count(*) AS n_windows,
         |         ${bpSql("sum(CASE WHEN sh.win_hash IS NOT NULL THEN 1 ELSE 0 END)" +
                           "::DOUBLE / count(*)")} AS shared_bp
         |  FROM wh LEFT JOIN sh USING (win_hash)
         |  GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_windows, 0)::BIGINT AS n_windows,
         |       coalesce(shared_bp, 0)::BIGINT AS shared_bp
         |FROM documents d LEFT JOIN cov USING (doc_id)
         |ORDER BY 1""".stripMargin,

    "dedup_embedding_pairs" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[], x -> x IS NULL OR isnan(x) OR isinf(x))) = 0) femb),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |             ${cosineSql("a.e", "b.e")} AS cos
         |      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, ${bpSql("cos")} AS cosine_bp
         |FROM p WHERE cos >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    // SemDeDup certificate: the oracle recomputes the brute-force facts
    // (n_vecs, global drop set at the same threshold) and asserts the two
    // contract flags — subset (n_extra = 0) and the measured-recall floor.
    "semantic_dedup" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[], x -> x IS NULL OR isnan(x) OR isinf(x))) = 0) femb),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |             ${cosineSql("a.e", "b.e")} AS cos
         |      FROM v a JOIN v b ON a.vec_id < b.vec_id),
         |d AS (SELECT DISTINCT id_b FROM p WHERE cos >= 0.3)
         |SELECT (SELECT count(*) FROM v)::BIGINT AS n_vecs,
         |       (SELECT count(*) FROM d)::BIGINT AS n_brute_drops,
         |       0::BIGINT AS n_extra, 8000::BIGINT AS recall_floor_bp,
         |       1::BIGINT AS recall_ok""".stripMargin,

    // per-(label, dim) mean quantized to micro-unit integers on BOTH
    // sides, so the fold-order ulps of a distributed mean can't flip the
    // compare; cosine over the integer centroid is then exact
    "emb_centroid_outliers" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[], x -> x IS NULL OR isnan(x) OR isinf(x))) = 0) femb),
         |cd AS (SELECT label, d, floor(avg(e[d]) * 1000000 + 0.5)::BIGINT AS c
         |       FROM v, unnest(generate_series(1, len(e))) AS g(d)
         |       GROUP BY 1, 2),
         |cent AS (SELECT label, list(c ORDER BY d)::DOUBLE[] AS ce
         |         FROM cd GROUP BY 1)
         |SELECT vec_id, label, ${bpSql(cosineSql("e", "ce"))} AS centroid_cos_bp
         |FROM v JOIN cent USING (label)
         |ORDER BY vec_id""".stripMargin,

    "ann_brute_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |           FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[], x -> x IS NULL OR isnan(x) OR isinf(x))) = 0) femb WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[], x -> x IS NULL OR isnan(x) OR isinf(x))) = 0) femb),
         |s AS (SELECT query_id, neighbor_id,
         |             ${bpSql(cosineSql("qv", "cv"))} AS cosine_bp
         |      FROM q, c WHERE query_id <> neighbor_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                ORDER BY cosine_bp DESC, neighbor_id ASC) AS rank FROM s)
         |SELECT query_id, neighbor_id, cosine_bp, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // ANN recall certificates: the approximate methods themselves are not
    // SQL-expressible (k-means centroids, PQ codebooks), but the CLAIM is —
    // the Spark query joins its approximate top-k against the in-query
    // brute-force top-k and emits (n_queries, n_exact, floor, ok); the
    // oracle recomputes the deterministic facts and asserts the contract
    // flag, so a recall regression breaks the hash compare.
    "ann_ivf_topk" -> annRecallOracleSql(5000),
    "ann_pca_topk" -> annRecallOracleSql(5000),
    "ann_pq_topk" -> annRecallOracleSql(4000),
    // 4000 since r14: assignment-metric probe ranking + shortlist 128
    // (achieved 5200 bp at sf0.01 / 5000 at sf0.1 — see the query comment)
    "ann_ivfpq_topk" -> annRecallOracleSql(4000),
    "ann_lsh_topk" -> annRecallOracleSql(5000),
    // ann_ivf_incremental adds two facts to the recall certificate: the
    // appended-increment size (data-derived: odd vec_ids) and the
    // incremental≡rebuilt identity flag the Spark side proves by
    // two-way exceptAll over the search results.
    "ann_ivf_incremental" ->
      s"""WITH femb AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[], x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
         |q AS (SELECT count(DISTINCT vec_id)::BIGINT AS nq FROM femb WHERE vec_id < 20),
         |c AS (SELECT count(*)::BIGINT AS nc FROM femb),
         |a AS (SELECT count(*)::BIGINT AS na FROM femb WHERE vec_id % 2 <> 0)
         |SELECT q.nq AS n_queries,
         |       (q.nq * least(5, greatest(c.nc - 1, 0)))::BIGINT AS n_exact,
         |       5000::BIGINT AS recall_floor_bp,
         |       1::BIGINT AS recall_ok,
         |       a.na AS n_appended,
         |       1::BIGINT AS identical
         |FROM q, c, a""".stripMargin,

    // ann_ivf_retrain: the deterministic facts of the retrain+swap
    // certificate — union size from the data, query/exact counts like
    // the other ANN certificates, and the contract flags (served_all,
    // swap_identity, quantizer_roundtrip, recall_ok) the Spark side
    // proves by construction (two-way exceptAll, JSON round-trip,
    // post-swap count).
    // n_exact keeps the FULL finite-corpus count (the brute-force
    // certificate scores against every finite vector, null id or not);
    // n_union mirrors the Spark side's vec_id IS NOT NULL filter — a
    // NULL-id row can never enter the parity-split index.
    "ann_ivf_retrain" ->
      s"""WITH femb AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[], x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
         |q AS (SELECT count(DISTINCT vec_id)::BIGINT AS nq FROM femb WHERE vec_id < 20),
         |c AS (SELECT count(*)::BIGINT AS nc FROM femb),
         |u AS (SELECT count(*)::BIGINT AS nu FROM femb WHERE vec_id IS NOT NULL)
         |SELECT q.nq AS n_queries,
         |       (q.nq * least(5, greatest(c.nc - 1, 0)))::BIGINT AS n_exact,
         |       5000::BIGINT AS recall_floor_bp,
         |       1::BIGINT AS recall_ok,
         |       u.nu AS n_union,
         |       1::BIGINT AS served_all,
         |       1::BIGINT AS swap_identity,
         |       1::BIGINT AS quantizer_roundtrip
         |FROM q, c, u""".stripMargin,

    // ann_ivfpq_retrain: same deterministic facts as ann_ivf_retrain with
    // the IVF-PQ serving floor (ann_ivfpq_topk's 4000 bp) — the Spark
    // side proves the PQ re-encode arm by construction (swap identity
    // INCLUDES the `_codes` column).
    "ann_ivfpq_retrain" ->
      s"""WITH femb AS (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[], x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
         |q AS (SELECT count(DISTINCT vec_id)::BIGINT AS nq FROM femb WHERE vec_id < 20),
         |c AS (SELECT count(*)::BIGINT AS nc FROM femb),
         |u AS (SELECT count(*)::BIGINT AS nu FROM femb WHERE vec_id IS NOT NULL)
         |SELECT q.nq AS n_queries,
         |       (q.nq * least(5, greatest(c.nc - 1, 0)))::BIGINT AS n_exact,
         |       4000::BIGINT AS recall_floor_bp,
         |       1::BIGINT AS recall_ok,
         |       u.nu AS n_union,
         |       1::BIGINT AS served_all,
         |       1::BIGINT AS swap_identity,
         |       1::BIGINT AS quantizer_roundtrip
         |FROM q, c, u""".stripMargin,

    // Double Rabin-Karp over the normalized text's UTF-8 BYTES — the
    // byte stream comes back through hex(encode(t)) so multibyte text
    // replays exactly (ord(char) would walk codepoints and diverge).
    // Empty text folds to 0 on both sides; NULL text stays NULL.
    "text_rolling_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id,
        |         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t, hex(encode(t)) AS hx,
        |         list_transform(generate_series(1, strlen(t)),
        |           i -> ('0x' || substr(hx, 2*i-1, 2))::BIGINT) AS cs
        |  FROM n)
        |SELECT doc_id,
        |  CASE WHEN t IS NULL THEN NULL -- (rolling-fp null-text guard)
        |       WHEN length(t) = 0 THEN 0
        |       ELSE (list_reduce(list_prepend(0::BIGINT, cs),
        |               (h, c) -> (h * 257 + c) % 2147483647) << 31)
        |          | list_reduce(list_prepend(0::BIGINT, cs),
        |               (h, c) -> (h * 131 + c) % 2147483629)
        |  END AS rhash
        |FROM c ORDER BY doc_id""".stripMargin,

    // Fixed-range int8 quantization is a pure per-row function — DuckDB
    // rebuilds the identical integer vectors, then the shared cosine.
    "ann_quantized_topk" ->
      s"""WITH q8 AS (
         |  SELECT vec_id, list_transform(embedding::DOUBLE[], x ->
         |    greatest(-127.0, least(127.0, floor(x * 127.0 + 0.5)))) AS qe
         |  FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding::DOUBLE[], x -> x IS NULL OR isnan(x) OR isinf(x))) = 0) femb),
         |q AS (SELECT vec_id AS query_id, qe AS qv FROM q8 WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id, qe AS cv FROM q8),
         |s AS (SELECT query_id, neighbor_id,
         |             ${bpSql(cosineSql("qv", "cv"))} AS cosine_bp
         |      FROM q, c WHERE query_id <> neighbor_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                ORDER BY cosine_bp DESC, neighbor_id ASC) AS rank FROM s)
         |SELECT query_id, neighbor_id, cosine_bp, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // Stub text/plain features rebuilt in SQL: per-bucket byte counts over
    // the ASCII corpus, normalized in float32 exactly as the kernel stores
    // them (::FLOAT), then the shared double-cosine mirror.
    "mm_image_dedup" ->
      """SELECT 200::BIGINT AS n_images, 200::BIGINT AS n_decodable,
        |       1::BIGINT AS recall_ok, 1::BIGINT AS precision_ok""".stripMargin,

    "mm_ann_compose" ->
      s"""WITH b AS (
         |  SELECT doc_id, strlen(text) AS n_bytes,
         |    list_transform(generate_series(1, strlen(text)),
         |      i -> ('0x' || substr(hex(encode(text)), 2*i-1, 2))::BIGINT % 16)
         |      AS bs
         |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
         |f AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(0, 15), k ->
         |      ((len(list_filter(bs, x -> x = k))::DOUBLE
         |        / n_bytes)::FLOAT)::DOUBLE) AS fv
         |  FROM b),
         |q AS (SELECT doc_id AS query_id, fv AS qv FROM f WHERE doc_id < 5),
         |c AS (SELECT doc_id AS neighbor_id, fv AS cv FROM f),
         |s AS (SELECT query_id, neighbor_id,
         |             ${bpSql(cosineSql("qv", "cv"))} AS cosine_bp
         |      FROM q, c WHERE query_id <> neighbor_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                ORDER BY cosine_bp DESC, neighbor_id ASC) AS rank FROM s)
         |SELECT query_id, neighbor_id, cosine_bp, rank FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,
  )
}
