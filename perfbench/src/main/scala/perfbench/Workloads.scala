package perfbench

import java.io.File

import graft.schema.{CollectionId, EventSchema}
import graft.sinks.{ColumnarSink, EventSink, NdjsonGzipSink}
import graft.streaming.{FileHistoricalHandler, HistoricalHandler, IngestConfig, IngestStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import scala.jdk.CollectionConverters._

/** Settings a run is made with. `smoke` shrinks every size so the bench's own
  * tests finish in seconds; `plantLoss` makes the sink lose one record so
  * the output checks can be shown to trip.
  */
final case class RunOpts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                         work: File, cores: Int, smoke: Boolean, plantLoss: Boolean)

/** Everything a workload hands back: end-to-end numbers, per-layer numbers
  * from the traced run, and the output-check verdict.
  */
final case class Outcome(endToEnd: Seq[(String, Double, String)],
                         attempted: Long, failed: Long, problems: Seq[String],
                         detail: Map[String, Double])

object Workloads {

  def stats(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = stats(xs, 0.5)

  def trigMs(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue()).getOrElse(0L)
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + trigMs(p, "triggerExecution")

  /** Read every committed table back through the sink's read path, as
    * count and sum(value) per collection.
    */
  def readBack(spark: SparkSession, sink: EventSink, base: String,
               ids: Seq[CollectionId]): Map[String, (Long, Double)] = sink match {
    case c: ColumnarSink =>
      c.readAll(spark).groupBy(col("collection"))
        .agg(count(lit(1)), sum(col("value"))).collect()
        .map(r => r.getString(0) -> (r.getLong(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
        .toMap
    case n: NdjsonGzipSink =>
      graft.util.ParallelWrites.run(ids.filter(id => new File(n.path(id)).exists()), 4) { id =>
        val r = spark.read.schema("value DOUBLE").json(n.path(id))
          .agg(count(lit(1)), sum(col("value"))).head()
        id.collection -> (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
      }.toMap
  }

  /** Compare read-back tables and historical output with the ledger.
    * Returns the number of records unaccounted for, and what was wrong.
    */
  def check(ledger: Ledger, got: Map[String, (Long, Double)],
            historical: Long, consumed: Long): (Long, Seq[String]) = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var off = 0L
    if (consumed != ledger.emitted) {
      problems += s"source consumed $consumed of ${ledger.emitted} records"
      off += math.abs(ledger.emitted - consumed)
    }
    ledger.collections.foreach { case (c, l) =>
      val (n, s) = got.getOrElse(c, (0L, 0.0))
      if (n != l.expectedWritten) {
        problems += s"$c: read back $n rows, ledger expects ${l.expectedWritten}"
        off += math.abs(n - l.expectedWritten)
      }
      val want = l.writtenCents / 100.0
      if (math.abs(s - want) > 1e-6 * math.max(1.0, math.abs(want)))
        problems += f"$c: sum(value) $s%.2f, ledger expects $want%.2f"
    }
    got.keys.filterNot(ledger.collections.contains).foreach { c =>
      problems += s"$c: table not in the ledger"
      off += got(c)._1
    }
    if (historical != ledger.late) {
      problems += s"historical hand-off holds $historical rows, ledger expects ${ledger.late}"
      off += math.abs(historical - ledger.late)
    }
    val flagged = if (off == 0 && problems.nonEmpty) 1L else off
    (flagged, problems.toSeq)
  }

  def countLines(spark: SparkSession, dir: String): Long =
    if (!new File(dir).exists()) 0L else spark.read.text(dir).count()

  /** A sink that loses the first record it is given: the planted fault the
    * bench's own tests use to show the output checks trip.
    */
  final class LossySink(inner: EventSink) extends EventSink {
    private val lost = new java.util.concurrent.atomic.AtomicBoolean(false)
    private def drop(df: DataFrame): DataFrame =
      if (lost.get()) df
      else {
        val n = df.count()
        if (n > 0 && lost.compareAndSet(false, true)) df.limit((n - 1).toInt) else df
      }
    override def getColumns(id: CollectionId) = inner.getColumns(id)
    override def insert(id: CollectionId, df: DataFrame): Unit = inner.insert(id, drop(df))
    override def insert(id: CollectionId, df: DataFrame, batchId: Long): Unit =
      inner.insert(id, drop(df), batchId)
    override def supportsConsolidated: Boolean = inner.supportsConsolidated
    override def insertConsolidated(rows: DataFrame, batchId: Long): Unit =
      inner.insertConsolidated(drop(rows), batchId)
  }

  /** Read back every table repeatedly, at least 5 times and until about 3 s
    * have gone by (at most 7 times); the median time is `scan_s`. A traced
    * run reports no `scan_s` and reads once, for the output checks.
    */
  private def scanTimed(spark: SparkSession, sink: EventSink, base: String,
                        ids: Seq[CollectionId], traced: Boolean): (Map[String, (Long, Double)], Double) = {
    var got: Map[String, (Long, Double)] = Map.empty
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (times.isEmpty || (!traced && (times.size < 5 || (times.sum < 3.0 && times.size < 7)))) {
      val t = System.nanoTime()
      got = readBack(spark, sink, base, ids)
      times += (System.nanoTime() - t) / 1e9
    }
    (got, median(times.toSeq))
  }

  // ---------------------------------------------------------------- drains

  /** Closed-loop AvailableNow drain: untimed warm-up polls, then timed polls
    * of `poll` records each, one poll per trigger.
    */
  def drain(spark: SparkSession, o: RunOpts, avro: Boolean, tracer: Option[Tracer]): Outcome = {
    val poll = if (o.smoke) 6000 else 300000
    val filesPerPoll = 4
    // timed polls: sized so the drain lasts about `seconds` at this shape's
    // drain rate on a 4-core box (JSON ~60k, Avro ~100k records/s)
    val nominalRps = if (avro) 100000 else 60000
    val timedPolls = if (o.smoke) 2 else math.max(2, math.round(o.seconds.toDouble * nominalRps / poll).toInt)
    val shape = Shape(collections = 5, lateFraction = 0.0,
      dupFraction = if (avro) 0.02 else 0.0, stringFields = 4, numberFields = 4, boolFields = 2)
    val gen = new Generator(o.seed, shape)
    val input = new File(o.work, "input"); input.mkdirs()
    val perFile = poll / filesPerPoll
    // Avro keeps speeding up over its first polls, so it warms up on two
    val warmPolls = if (avro && !o.smoke) 2 else 1
    val t0 = System.currentTimeMillis()
    // files are staged in parallel before anything is timed, each from its
    // own seeded generator
    val files = (0 until (warmPolls + timedPolls)).flatMap(p => (0 until filesPerPoll).map(f => (p, f)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(4, o.cores))
    val staged = try files.zipWithIndex.map { case ((p, f), k) =>
      pool.submit(() => {
        val g = new Generator(o.seed * 1000003L + k, shape, seqBase = k.toLong * perFile)
        val target = new File(input, f"p$p%03d-$f%02d.${if (avro) "parquet" else "json"}")
        if (avro) g.writeAvro(target, perFile, t0) else g.writeJson(target, perFile, _ => t0)
        // distinct, increasing mtimes keep polls in order under maxFilesPerTrigger
        target.setLastModified(t0 - 1000000L + k * 1000L)
        g.ledger
      })
    }.map(_.get()) finally pool.shutdown()
    staged.foreach(gen.ledger.add)
    val stageS = (System.currentTimeMillis() - t0) / 1000.0
    val ids = (0 until shape.collections).map(c => CollectionId(gen.project, gen.collectionName(c)))
    val base = new File(o.work, "sink").getAbsolutePath
    val rawSink: EventSink = if (avro) new NdjsonGzipSink(base) else new ColumnarSink(base)
    val sink0 = if (o.plantLoss) new LossySink(rawSink) else rawSink
    val sink = tracer.map(_.wrapSink(sink0)).getOrElse(sink0)
    val registry = new EventSchema.Registry()
    val ckpt = new File(o.work, "checkpoint").getAbsolutePath
    val cfg = IngestConfig(availableNow = true, writeParallelism = math.min(4, o.cores))
    tracer.foreach(_.start(spark, registry))
    val query: StreamingQuery =
      if (avro) {
        ids.foreach(id => registry.put(id, gen.avroRowSchema))
        val source = spark.readStream.schema("key STRING, value BINARY")
          .option("maxFilesPerTrigger", filesPerPoll).parquet(input.getAbsolutePath)
        IngestStream.startAvro(spark, source, registry, sink, ckpt, cfg, dedupBatch = true)
      } else
        IngestStream.start(spark,
          IngestStream.fileSource(spark, input.getAbsolutePath, Some(filesPerPoll)),
          registry, sink, historical = None, ckpt, cfg)
    query.awaitTermination()
    tracer.foreach(_.stop(spark))
    val progress = query.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
    val timed = progress.filter(_.batchId >= warmPolls)
    val consumed = progress.map(_.numInputRows).sum
    val (got, scanS) = scanTimed(spark, rawSink, base, ids, o.trace)
    val (failed, problems) = check(gen.ledger, got, 0L, consumed)
    val batchMs = timed.map(p => trigMs(p, "triggerExecution").toDouble)
    val windowMs = (timed.map(endMs).max - timed.map(startMs).min).toDouble
    val records = timed.map(_.numInputRows).sum.toDouble
    // closed loop: a poll is issued when its trigger starts, so every record
    // of a batch waits from trigger start to that batch's commit; polls are
    // equal, so each batch is one equally weighted sample
    val fresh = batchMs
    tracer.foreach(_.collect(spark, progress, timed.map(_.batchId).toSet, registry, new File(base),
      consumed, got.values.map(_._1).sum))
    tracer.foreach(t => if (avro) t.replayAvro(spark, input, registry)
                        else t.replayJson(spark, input, registry, None))
    Outcome(
      endToEnd = Seq(
        ("setup_s", (timed.map(startMs).min - Main.jvmStartMs) / 1000.0, "s"),
        ("ingest_rps", records / (windowMs / 1000.0), "1/s"),
        ("batch_p50_ms", median(batchMs), "ms"),
        ("freshness_p50_ms", median(fresh), "ms"),
        ("freshness_p95_ms", stats(fresh, 0.95), "ms"),
        ("scan_s", scanS, "s")),
      attempted = gen.ledger.emitted, failed = failed, problems = problems,
      detail = timed.map(p => s"batch${p.batchId}_ms" -> trigMs(p, "triggerExecution").toDouble).toMap ++
        Map("stage_s" -> stageS, "timed_batches" -> timed.size.toDouble, "timed_records" -> records,
        "warmup_ms" -> progress.headOption.map(trigMs(_, "triggerExecution").toDouble).getOrElse(0.0)))
  }

  // ----------------------------------------------------------- ref_stress

  /** Open-loop freshness at the reference's stress shape: 100 collections,
    * ~17 columns, ~10% late events, injected duplicates, schema drift, a 1 s
    * processing trigger, and arrivals on a fixed schedule.
    */
  def refStress(spark: SparkSession, o: RunOpts, tracer: Option[Tracer]): Outcome = {
    val rate = if (o.smoke) 1000 else 2500
    val periodMs = 50
    val warmupMs = if (o.smoke) 3000L else 5000L
    val windowMs = if (o.smoke) 3000L else o.seconds * 1000L
    val shape = Shape(collections = 100, lateFraction = 0.10, dupFraction = 0.02,
      stringFields = 4, numberFields = 4, boolFields = 3)
    val gen = new Generator(o.seed, shape)
    val input = new File(o.work, "input"); input.mkdirs()
    val base = new File(o.work, "sink").getAbsolutePath
    val histDir = new File(o.work, "historical").getAbsolutePath
    val rawSink: EventSink = new ColumnarSink(base)
    val sink0 = if (o.plantLoss) new LossySink(rawSink) else rawSink
    val sink = tracer.map(_.wrapSink(sink0)).getOrElse(sink0)
    val hist0: HistoricalHandler = new FileHistoricalHandler(histDir)
    val hist = tracer.map(_.wrapHistorical(hist0)).getOrElse(hist0)
    val registry = new EventSchema.Registry()
    val ckpt = new File(o.work, "checkpoint").getAbsolutePath
    val cfg = IngestConfig(triggerSeconds = 1, dedupWithinWatermark = Some("30 days"),
      writeParallelism = math.min(4, o.cores))
    // JIT and code-path warm-up: a short closed-loop drain of the same shape
    // through the same entry point, on its own input, sink and checkpoint
    val warm = new File(o.work, "warm"); new File(warm, "input").mkdirs()
    val warmGen = new Generator(o.seed + 7777777L, shape)
    (0 until 2).foreach(k => warmGen.writeJson(new File(warm, f"input/w$k.json"),
      if (o.smoke) 1000 else 12000, _ => System.currentTimeMillis()))
    IngestStream.start(spark, IngestStream.fileSource(spark, new File(warm, "input").getAbsolutePath, Some(1)),
      new EventSchema.Registry(), new ColumnarSink(new File(warm, "sink").getAbsolutePath),
      Some(new FileHistoricalHandler(new File(warm, "historical").getAbsolutePath)),
      new File(warm, "checkpoint").getAbsolutePath, cfg.copy(availableNow = true)).awaitTermination()

    tracer.foreach(_.start(spark, registry))
    val query = IngestStream.start(spark, IngestStream.fileSource(spark, input.getAbsolutePath),
      registry, sink, Some(hist), ckpt, cfg)
    val t0 = System.currentTimeMillis() + 500
    val winStart = t0 + warmupMs
    val winEnd = winStart + windowMs
    // arrivals go on past the window so the batch that takes its last
    // records is a full one
    val dropper = new OpenLoopDropper(gen, input, t0, rate, periodMs,
      driftEveryMs = 5000L, stopAtMs = winEnd + (if (o.smoke) 1000L else 4000L))
    dropper.start()
    dropper.join()
    if (dropper.failure != null) throw dropper.failure
    // let the engine commit the tail, then stop between batches
    val deadline = System.currentTimeMillis() + 60000L
    val names = dropper.files.asScala.map(_._1).toSet
    def committed(): Boolean = {
      val done = Option(new File(ckpt, "commits").list()).getOrElse(Array.empty[String])
        .filter(_.forall(_.isDigit)).map(_.toLong).toSet
      val log = sourceLog(new File(ckpt, "sources/0"))
      names.forall(n => log.get(n).exists(done))
    }
    while (!committed() && System.currentTimeMillis() < deadline && query.exception.isEmpty)
      Thread.sleep(200)
    query.stop()
    query.exception.foreach(e => throw e)
    tracer.foreach(_.stop(spark))
    val progress = query.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)

    // which batch took which file: the file source's own offset log
    val fileBatch = sourceLog(new File(ckpt, "sources/0"))
    val commitOf = progress.map(p => p.batchId -> endMs(p)).toMap
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Double]
    val windowBatches = scala.collection.mutable.Set.empty[Long]
    var unmatched = 0L
    var consumed = 0L
    var dueInWindow = 0L
    dropper.files.asScala.foreach { case (name, firstDue, lastDue, lines, n) =>
      fileBatch.get(name).flatMap(b => commitOf.get(b).map(b -> _)) match {
        case Some((batch, commit)) =>
          consumed += lines
          var i = 0
          while (i < n) {
            val due = if (n == 1) firstDue else firstDue + (lastDue - firstDue) * i / (n - 1)
            if (due >= winStart && due < winEnd) {
              fresh += commit - due
              dueInWindow += 1
              windowBatches += batch
            }
            i += 1
          }
        case None => unmatched += n
      }
    }
    val inWindow = progress.filter(p => windowBatches.contains(p.batchId))
    // rate over whole batches: records of the batches committed inside the
    // window, except the first, over the time between the first and last
    // of those commits
    val linesOf = dropper.files.asScala.toSeq.flatMap(f => fileBatch.get(f._1).map(_ -> f._4))
      .groupMapReduce(_._1)(_._2)(_ + _)
    val commits = progress.map(p => (endMs(p), p.batchId))
      .filter(c => c._1 >= winStart && c._1 < winEnd).sortBy(_._1)
    val rps =
      if (commits.size >= 2)
        commits.tail.map(c => linesOf.getOrElse(c._2, 0L)).sum / ((commits.last._1 - commits.head._1) / 1000.0)
      else dueInWindow / (windowMs / 1000.0)
    val ids = gen.ledger.collections.keys.toSeq.map(CollectionId(gen.project, _))
    val (got, scanS) = scanTimed(spark, rawSink, base, ids, o.trace)
    val historical = countLines(spark, histDir)
    val (failed0, problems0) = check(gen.ledger, got, historical, consumed)
    val missingDrift = gen.ledger.collections.toSeq.flatMap { case (c, l) =>
      val have = registry.get(CollectionId(gen.project, c)).map(_.fieldNames.toSet).getOrElse(Set.empty)
      l.driftFields.filterNot(have).map(f => s"$c.$f")
    }
    val problems = problems0 ++
      (if (missingDrift.nonEmpty) Seq(s"drift fields not in the registry: ${missingDrift.take(5)}") else Nil) ++
      (if (unmatched > 0) Seq(s"$unmatched arrivals in no committed batch") else Nil)
    val failed = failed0 + (if (failed0 == 0 && problems.nonEmpty) 1 else 0)
    val lateness = dropper.lateness.asScala.map(_.toDouble).toSeq
    tracer.foreach(_.collect(spark, progress, windowBatches.toSet, registry, new File(base),
      consumed, got.values.map(_._1).sum + historical))
    tracer.foreach(_.genLateMs = median(lateness))
    tracer.foreach(_.replayJson(spark, input, registry, Some(cfg)))
    Outcome(
      endToEnd = Seq(
        ("setup_s", (winStart - Main.jvmStartMs) / 1000.0, "s"),
        ("ingest_rps", rps, "1/s"),
        ("batch_p50_ms", median(inWindow.map(p => trigMs(p, "triggerExecution").toDouble)), "ms"),
        ("freshness_p50_ms", median(fresh.toSeq), "ms"),
        ("freshness_p95_ms", stats(fresh.toSeq, 0.95), "ms"),
        ("scan_s", scanS, "s")),
      attempted = gen.ledger.emitted, failed = failed, problems = problems,
      detail = inWindow.map(p => s"batch${p.batchId}_ms" -> trigMs(p, "triggerExecution").toDouble).toMap ++
        Map("arrivals" -> fresh.size.toDouble, "batches_in_window" -> inWindow.size.toDouble,
        "gen_late_ms_p50" -> median(lateness), "gen_late_ms_max" -> (if (lateness.isEmpty) 0.0 else lateness.max),
        "drift_fields" -> gen.ledger.collections.values.map(_.driftFields.size).sum.toDouble))
  }

  /** File name -> batch id, from the file source's metadata log. */
  def sourceLog(dir: File): Map[String, Long] = {
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    Option(dir.listFiles()).getOrElse(Array.empty).filter(f => !f.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toList)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => new File(new java.net.URI(m.group(1)).getPath).getName -> m.group(2).toLong)
      .toMap
  }
}
