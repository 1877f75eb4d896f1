package perfbench

import java.io.File

import graft.ingest.{AvroIngest, JsonDialect, JsonIngest}
import graft.operators.EventOps
import graft.schema.{CollectionId, EventSchema, FieldNames}
import graft.sinks.{ColumnarSink, EventSink, NdjsonGzipSink}
import graft.streaming.{FileHistoricalHandler, HistoricalHandler, IngestConfig, IngestStream}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. `trace` is the micro-batch id (-1 for the replay). */
final case class Span(name: String, layer: String, startMs: Double, endMs: Double,
                      parent: String, trace: Long) {
  def toJson: String =
    f"""{"name":"$name","layer":"$layer","start_ms":$startMs%.3f,"end_ms":$endMs%.3f,""" +
      f""""parent":"$parent","trace_id":$trace}"""
}

/** Maps a SQL execution to the program layer whose action submitted it.
  *
  * Inside a streaming query every job carries the call site of the query's
  * `start()`, so call sites cannot tell the layers apart; the executed plan
  * can. The first action over a cached frame also computes that frame, so a
  * layer here includes the lazy work upstream of its first action (the
  * replay in [[Tracer]] separates those).
  */
object Layers {
  def ofPlan(plan: String): String = {
    val top = plan.linesIterator.map(_.trim)
      .find(l => l.nonEmpty && !l.startsWith("==") && !l.startsWith("AdaptiveSparkPlan")).getOrElse("")
    if (plan.contains("InsertIntoHadoopFsRelationCommand"))
      if (plan.contains("/historical")) "split" else "sink"
    else if (plan.contains("Keys [1]: [_day_idx")) "split"
    else if (plan.contains("_graft_rest") || plan.contains("_graft_uid")) "dedup"
    // only the Avro path's frames carry the wire `key` column
    else if (plan.contains("key#")) "avro"
    else if (top.contains("SerializeFromObject") && plan.contains("MapPartitions")) "infer"
    else if (plan.contains("Keys [2]: [_project") || plan.contains("Keys [2]: [_collection")) "parse"
    else "engine"
  }
}

/** Per-layer accounting from Spark's own events: SQL executions become
  * spans, and stage task metrics (CPU, shuffle, spill, GC) are attributed to
  * the layer of the execution that ran them.
  */
final class LayerListener extends SparkListener {
  final case class StageStat(layer: String, doneMs: Long, cpuMs: Double, shuffle: Long,
                             spill: Long, gcMs: Long, tasks: Int)
  private val open = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()
  private val execLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val execs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageStat]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      val l = Layers.ofPlan(e.physicalPlanDescription)
      execLayer.put(e.executionId, l)
      open.put(e.executionId, (l, e.time))
    case e: SparkListenerSQLExecutionEnd =>
      Option(open.remove(e.executionId)).foreach { case (l, s) => execs.add((l, s, e.time)) }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val l = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execLayer.get(id.toLong))).getOrElse("engine")
    j.stageIds.foreach(stageLayer.put(_, l))
    jobs.add((l, j.time))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.add(StageStat(Option(stageLayer.get(i.stageId)).getOrElse("engine"),
        i.completionTime.getOrElse(System.currentTimeMillis()),
        m.executorCpuTime / 1e6,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime, i.numTasks))
  }
}

/** The traced run: spans kept in memory and written out at the end, plus a
  * per-layer table. Spans come from wrappers around `EventSink` and
  * `HistoricalHandler`, the query's progress reports, the [[LayerListener]],
  * and a replay of one captured batch through the program's public
  * functions, one layer at a time.
  */
final class Tracer(outDir: File, workload: String) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val listener = new LayerListener
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  @volatile var genLateMs: Double = 0.0
  private def now: Double = System.nanoTime() / 1e6 + offsetMs
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  private val sinkCalls = new java.util.concurrent.atomic.AtomicLong()
  private val sinkRetries = new java.util.concurrent.atomic.AtomicLong()
  private val singleWrites = new java.util.concurrent.atomic.AtomicLong()
  private val cohortWrites = new java.util.concurrent.atomic.AtomicLong()
  private val evolutions = new java.util.concurrent.atomic.AtomicLong()
  private val seenWrites = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long)]()

  private def timed[T](name: String, layer: String, parent: String, trace: Long)(f: => T): T = {
    val s = now
    try f finally spans.add(Span(name, layer, s, now, parent, trace))
  }

  private def noteWrite(key: String, batchId: Long): Unit = {
    sinkCalls.incrementAndGet()
    if (!seenWrites.add((key, batchId))) sinkRetries.incrementAndGet()
  }

  def wrapSink(inner: EventSink): EventSink = new EventSink {
    override def getColumns(id: CollectionId) = inner.getColumns(id)
    override def insert(id: CollectionId, df: DataFrame): Unit = insert(id, df, -1L)
    override def insert(id: CollectionId, df: DataFrame, batchId: Long): Unit = {
      noteWrite(id.toString, batchId); singleWrites.incrementAndGet()
      timed("sink.insert", "sink", s"b$batchId", batchId)(inner.insert(id, df, batchId))
    }
    override def supportsConsolidated: Boolean = inner.supportsConsolidated
    override def insertConsolidated(rows: DataFrame, batchId: Long): Unit = {
      noteWrite("cohort:" + rows.schema.json.hashCode, batchId)
      cohortWrites.incrementAndGet()
      timed("sink.insertConsolidated", "sink", s"b$batchId", batchId)(
        inner.insertConsolidated(rows, batchId))
    }
  }

  def wrapHistorical(inner: HistoricalHandler): HistoricalHandler = new HistoricalHandler {
    override def handle(raw: DataFrame): Unit =
      timed("historical.handle", "split", "", -1L)(inner.handle(raw))
  }

  /** Attach the listeners. Schema evolutions are counted from registry
    * snapshots taken at every progress report.
    */
  def start(spark: SparkSession, registry: EventSchema.Registry): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = snapshot(registry)
      override def onQueryProgress(e: QueryProgressEvent): Unit = snapshot(registry)
    })
  }

  private var widths = Map.empty[CollectionId, Int]
  private def snapshot(registry: EventSchema.Registry): Unit = synchronized {
    val now = registry.all.map { case (id, st) => id -> st.size }
    evolutions.addAndGet(now.count { case (id, n) => widths.get(id).exists(_ < n) })
    widths = now
  }

  def stop(spark: SparkSession): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

  /** Summarize the live run: batch spans from the progress reports, SQL
    * executions as child spans, and self time per layer within each batch.
    */
  def collect(spark: SparkSession, progress: Seq[StreamingQueryProgress], timedIds: Set[Long],
              registry: EventSchema.Registry, sinkDir: File, consumed: Long,
              accounted: Long): Unit = {
    import Workloads.{median, startMs, endMs, trigMs}
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    snapshot(registry)
    val timed = progress.filter(p => timedIds.contains(p.batchId))
    val windows = timed.map(p => (p.batchId, startMs(p).toDouble, endMs(p).toDouble))
    def batchOf(t: Double): Long =
      windows.find { case (_, s, e) => t >= s && t <= e }.map(_._1).getOrElse(-1L)
    timed.foreach { p =>
      val s = startMs(p).toDouble; val e = endMs(p).toDouble
      spans.add(Span("batch", "barrier", s, e, "", p.batchId))
      val lo = trigMs(p, "latestOffset").toDouble
      spans.add(Span("source.latestOffset", "source", s, s + lo, s"b${p.batchId}", p.batchId))
      val cm = trigMs(p, "commitOffsets").toDouble
      val ab = trigMs(p, "addBatch").toDouble
      spans.add(Span("barrier.addBatch", "barrier", e - cm - ab, e - cm, s"b${p.batchId}", p.batchId))
      spans.add(Span("barrier.commitOffsets", "barrier", e - cm, e, s"b${p.batchId}", p.batchId))
    }
    val hist = spans.asScala.filter(_.name == "historical.handle").toSeq
    hist.foreach { h =>
      spans.remove(h)
      val b = batchOf(h.startMs)
      spans.add(h.copy(parent = s"b$b", trace = b))
    }
    val execs = listener.execs.asScala.toSeq
    execs.foreach { case (l, s, e) =>
      val b = batchOf(s.toDouble)
      if (b >= 0) spans.add(Span("sql." + l, l, s.toDouble, e.toDouble, s"b$b", b))
    }
    // self time: each instant of a batch goes to the layers whose SQL
    // executions are running then, split evenly; no execution = driver gap
    val self = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    windows.foreach { case (_, ws, we) =>
      val in = execs.map { case (l, s, e) => (l, math.max(s.toDouble, ws), math.min(e.toDouble, we)) }
        .filter(x => x._3 > x._2)
      val cuts = (in.flatMap(x => Seq(x._2, x._3)) ++ Seq(ws, we)).distinct.sorted
      val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      cuts.sliding(2).foreach {
        case Seq(a, b) =>
          val active = in.filter(x => x._2 <= a && x._3 >= b)
          if (active.isEmpty) acc("driver_gap") += b - a
          else active.foreach(x => acc(x._1) += (b - a) / active.size)
        case _ =>
      }
      (Seq("driver_gap", "split", "infer", "parse", "avro", "dedup", "sink", "registry", "barrier", "engine")
        ++ acc.keys).distinct.foreach(k => self.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += acc(k))
    }
    def selfMs(l: String) = self.get(l).map(x => median(x.toSeq)).getOrElse(0.0)
    val stages = listener.stages.asScala.toSeq
    val jobs = listener.jobs.asScala.toSeq
    val n = math.max(1, timed.size).toDouble
    def inTimed(t: Long) = batchOf(t.toDouble) >= 0
    def jobsOf(l: String) = jobs.count(j => j._1 == l && inTimed(j._2)) / n
    val liveStages = stages.filter(s => inTimed(s.doneMs))
    val stateOps = timed.flatMap(_.stateOperators.toSeq)
    val m = metrics
    m("source.lag_ms") = median(timed.map(p => (trigMs(p, "latestOffset") + trigMs(p, "getBatch")).toDouble))
    m("source.rows") = consumed.toDouble
    m("split.jobs") = jobsOf("split")
    m("split.self_ms") = selfMs("split")
    m("infer.self_ms") = selfMs("infer")
    m("parse.self_ms") = selfMs("parse")
    m("parse.single_writes") = singleWrites.get.toDouble
    m("parse.cohort_writes") = cohortWrites.get.toDouble
    m("avro.self_ms") = selfMs("avro")
    m("registry.evolutions") = evolutions.get.toDouble
    m("registry.persist_ms") = registry.persistMillis.toDouble
    m("registry.collections") = registry.all.size.toDouble
    m("dedup.self_ms") = selfMs("dedup")
    // records the sink and the historical hand-off did not receive, per record offered
    m("dedup.drop_ratio") = if (consumed > 0) 1.0 - accounted.toDouble / consumed else 0.0
    m("dedup.state_rows") = progress.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
    m("dedup.state_bytes") = progress.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0)
    m("dedup.state_commit_ms") = if (stateOps.isEmpty) 0.0 else median(stateOps.map(_.commitTimeMs.toDouble))
    val sinkSpans = spans.asScala.filter(s => s.layer == "sink" && s.name.startsWith("sink.") && timedIds.contains(s.trace))
    m("sink.busy_ms") = sinkSpans.map(s => s.endMs - s.startMs).sum / n
    m("sink.calls") = sinkCalls.get.toDouble
    val files = if (sinkDir.exists())
      java.nio.file.Files.walk(sinkDir.toPath).iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")).toSeq
      else Nil
    m("sink.files") = files.size.toDouble
    m("sink.bytes") = files.map(_.length).sum.toDouble
    m("sink.retries") = sinkRetries.get.toDouble
    m("sink.jobs") = jobsOf("sink")
    m("sink.self_ms") = selfMs("sink")
    m("barrier.add_batch_ms") = median(timed.map(p => trigMs(p, "addBatch").toDouble))
    m("barrier.commit_ms") = median(timed.map(p => (trigMs(p, "walCommit") + trigMs(p, "commitOffsets")).toDouble))
    m("barrier.driver_gap_ms") = selfMs("driver_gap")
    m("engine.self_ms") = selfMs("engine")
    m("barrier.jobs") = jobs.count(j => inTimed(j._2)) / n
    m("spark.shuffle_bytes") = liveStages.map(_.shuffle).sum / n
    m("spark.spill_bytes") = liveStages.map(_.spill).sum / n
    m("spark.gc_ms") = liveStages.map(_.gcMs).sum / n
    m("spark.tasks") = liveStages.map(_.tasks).sum / n
  }

  // ---------------------------------------------------------------- replay

  /** Run `f` under a replay span and return its wall and executor CPU ms. */
  private def step[T](spark: SparkSession, layer: String)(f: => T): (T, Double, Double) = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val s = now
    val out = f
    val e = now
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spans.add(Span("replay." + layer, layer, s, e, "replay", -1L))
    val cpu = listener.stages.asScala.filter(x => x.doneMs >= s - 1 && x.doneMs <= e + 1).map(_.cpuMs).sum
    (out, e - s, cpu)
  }

  private def lastPollFiles(input: File, ext: String, n: Int): Seq[String] =
    input.listFiles().filter(f => f.getName.endsWith(ext) && !f.getName.startsWith("."))
      .sortBy(_.getName).takeRight(n).map(_.getAbsolutePath).toSeq

  /** Replay one steady-state JSON batch through the public pipeline
    * functions in order, each materialized under its own span.
    */
  def replayJson(spark: SparkSession, input: File,
                 registry: EventSchema.Registry, stream: Option[IngestConfig]): Unit = {
    import spark.implicits._
    val names = FieldNames()
    // ref_stress: the files of the last ~1 s of arrivals; drains: one poll
    val files = stream.map(_ => lastPollFiles(input, ".json", 20)).getOrElse(lastPollFiles(input, ".json", 4))
    val dir = new File(input.getParentFile, "replay")
    val raw = spark.read.text(files: _*).as[String].persist(StorageLevel.MEMORY_AND_DISK)
    val (rowsIn, _, _) = step(spark, "source")(raw.count())
    val (decoupled, decMs, decCpu) = step(spark, "decouple") {
      val d = EventOps.whitelist(EventOps.decouple(raw, JsonDialect.Fabric, names)
        .filter(col("_project").isNotNull), Nil).persist(StorageLevel.MEMORY_AND_DISK)
      d.count(); d
    }
    metrics("decouple.busy_ms") = decMs; metrics("decouple.cpu_ms") = decCpu
    metrics("decouple.rows_in") = rowsIn.toDouble
    val decRows = decoupled.count()
    metrics("decouple.rows_out") = decRows.toDouble
    // the streaming dedup is a stateful operator, so it replays as a small
    // AvailableNow query over the decoupled batch staged as parquet
    val (afterDedup, dedMs, _) = stream.flatMap(_.dedupWithinWatermark) match {
      case Some(ttl) =>
        val staged = new File(dir, "decoupled").getAbsolutePath
        decoupled.write.parquet(staged)
        val kept = new java.util.concurrent.atomic.AtomicLong()
        val (_, ms, cpu) = step(spark, "dedup") {
          IngestStream.deduplicated(spark.readStream.schema(decoupled.schema).parquet(staged), ttl, names)
            .writeStream.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .option("checkpointLocation", new File(dir, "dedup-ckpt").getAbsolutePath)
            .foreachBatch { (b: DataFrame, _: Long) => kept.addAndGet(b.count()); () }
            .start().awaitTermination()
        }
        // downstream layers replay on the undeduplicated batch (2% extra rows)
        (decoupled, ms, cpu)
      case None => (decoupled, 0.0, 0.0)
    }
    val ((routed, histRows), splitMs, _) = step(spark, "split") {
      val split = EventOps.daySplit(afterDedup, col("_time"))
      val h = split.historical.persist(StorageLevel.MEMORY_AND_DISK)
      new FileHistoricalHandler(new File(dir, "historical").getAbsolutePath).handle(h)
      val r = split.realTime.select("value", "_project", "_collection").persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      (r, h.count())
    }
    metrics("split.busy_ms") = splitMs
    metrics("split.historical_rows") = histRows.toDouble
    val ((schemas, counts), infMs, infCpu) = step(spark, "infer")(
      JsonIngest.inferSchemasWithCounts(routed.select(col("value")).as(Encoders.STRING),
        JsonDialect.Fabric, names))
    metrics("infer.busy_ms") = infMs; metrics("infer.cpu_ms") = infCpu
    metrics("infer.rows") = counts.values.sum.toDouble
    val reg = new EventSchema.Registry()
    registry.all.foreach { case (id, st) => reg.put(id, st) }
    val (evolved, _, _) = step(spark, "registry")(schemas.map { case (id, obs) =>
      reg.getOrCreate(id); id -> reg.addColumns(id, obs) })
    // same write shapes as the batch function: same-schema cohorts at or
    // above the cardinality threshold, one frame per collection otherwise
    val threshold = IngestConfig().consolidateThreshold
    val groups: Seq[Seq[(CollectionId, org.apache.spark.sql.types.StructType)]] =
      if (evolved.size >= threshold)
        evolved.toSeq.groupBy(_._2.json).values.toSeq.sortBy(-_.size)
      else evolved.toSeq.map(Seq(_))
    val (parsed, parMs, parCpu) = step(spark, "parse") {
      groups.map { g =>
        val df =
          if (g.size >= 2) JsonIngest.parseCohort(routed, g.map(x => (x._1.project, x._1.collection)).toSet,
            g.head._2, JsonDialect.Fabric, names)
          else JsonIngest.parseCollection(routed, g.head._1, g.head._2, JsonDialect.Fabric, names)
        val p = EventOps.withShardTime(df, names).persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        (g, p)
      }
    }
    metrics("parse.busy_ms") = parMs; metrics("parse.cpu_ms") = parCpu
    metrics("parse.rows_out") = parsed.map(_._2.count()).sum.toDouble
    val sink = new ColumnarSink(new File(dir, "sink").getAbsolutePath)
    val (_, sinkMs, _) = step(spark, "sink") {
      parsed.foreach { case (g, p) =>
        if (g.size >= 2) sink.insertConsolidated(p, 0L) else sink.insert(g.head._1, p, 0L)
      }
    }
    metrics("replay.sink_ms") = sinkMs
    metrics("dedup.busy_ms") = dedMs
    Seq("avro.busy_ms", "avro.cpu_ms", "avro.rows_out").foreach(metrics(_) = 0.0)
    parsed.foreach(_._2.unpersist()); routed.unpersist(); decoupled.unpersist(); raw.unpersist()
  }

  /** Replay one steady-state Avro batch: route, decode, dedup, write. */
  def replayAvro(spark: SparkSession, input: File,
                 registry: EventSchema.Registry): Unit = {
    import spark.implicits._
    val names = FieldNames()
    val files = lastPollFiles(input, ".parquet", 4)
    val dir = new File(input.getParentFile, "replay")
    val raw = spark.read.parquet(files: _*).persist(StorageLevel.MEMORY_AND_DISK)
    step(spark, "source")(raw.count())
    val schemas = registry.all
    val pairs = schemas.map { case (id, st) => id -> (AvroIngest.avroSchema(st, id.collection, names).toString, st) }
    val ((decoded, rows), avMs, avCpu) = step(spark, "avro") {
      val out = pairs.toSeq.sortBy(_._1.collection).map { case (id, (avroJson, st)) =>
        val d = raw.select(col("key").cast("string"), col("value")).as[(String, Array[Byte])]
          .filter(r => AvroIngest.routingOf(r._1, r._2, '.').contains(id))
          .mapPartitions { rows =>
            val reader = new org.apache.avro.Schema.Parser().parse(avroJson)
            rows.flatMap { case (k, v) =>
              AvroIngest.decodeTagged(k, v, '.', cid => if (cid == id) Some((reader, st)) else None, names)
                .map(_._2)
            }
          }(Encoders.row(st)).persist(StorageLevel.MEMORY_AND_DISK)
        (id, d)
      }
      (out, out.map(_._2.count()).sum)
    }
    metrics("avro.busy_ms") = avMs; metrics("avro.cpu_ms") = avCpu; metrics("avro.rows_out") = rows.toDouble
    val (deduped, dedMs, _) = step(spark, "dedup") {
      decoded.map { case (id, d) =>
        val x = EventOps.dedupExact(d, names).persist(StorageLevel.MEMORY_AND_DISK); x.count(); (id, x)
      }
    }
    metrics("dedup.busy_ms") = dedMs
    val sink = new NdjsonGzipSink(new File(dir, "sink").getAbsolutePath)
    val (_, sinkMs, _) = step(spark, "sink")(deduped.foreach { case (id, x) => sink.insert(id, x, 0L) })
    metrics("replay.sink_ms") = sinkMs
    Seq("decouple.rows_in", "decouple.busy_ms", "decouple.cpu_ms", "decouple.rows_out", "split.busy_ms", "split.historical_rows",
      "infer.busy_ms", "infer.cpu_ms", "infer.rows", "parse.busy_ms", "parse.cpu_ms", "parse.rows_out")
      .foreach(metrics(_) = 0.0)
    deduped.foreach(_._2.unpersist()); decoded.foreach(_._2.unpersist()); raw.unpersist()
  }

  /** Write every span, one JSON object a line, and the per-layer table. */
  def write(): File = {
    outDir.mkdirs()
    val f = new File(outDir, s"trace-$workload.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startMs).foreach(s => w.println(s.toJson)) finally w.close()
    val t = new java.io.PrintWriter(new File(outDir, s"layers-$workload.txt"), "UTF-8")
    try metrics.toSeq.sortBy(_._1).foreach { case (k, v) => t.println(f"$k%-28s $v%.3f") } finally t.close()
    f
  }
}
