package graft

import graft.schema.{CollectionId, EventSchema}
import graft.sinks.{ColumnarSink, EventSink}
import graft.streaming.{FileHistoricalHandler, IngestConfig, IngestStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.StructType

import java.nio.file.Files

/** End-to-end crash-recovery drill for the C2 commit barrier — the
  * reference's core guarantee (BatchRecords.java:44-67: offsets commit only
  * after EVERY table of the batch landed). Each scenario injects a sink
  * failure into a RUNNING streaming query mid-batch (after some per-table
  * writes landed, before the offset commit), lets the query die, restarts
  * `IngestStream.start` from the same checkpointLocation with a healthy
  * sink, and hash-matches the at-rest content against a single
  * uninterrupted run of the same input — proving the marker replay makes
  * the pipeline exactly-once at rest, not merely at-least-once.
  */
class CrashRecoverySpec extends SparkSpec {

  /** Sink wrapper that throws on the Nth batch-keyed insert of one batch.
    * `afterWrite = false` fails BEFORE the write (some cohort members
    * landed data+marker, this one landed nothing); `afterWrite = true`
    * delegates first and then throws (every write + marker landed, the
    * batch still aborts before its offsets commit — the pure-replay case).
    */
  private final class FailingSink(inner: ColumnarSink, failOnInsert: Int,
                                  afterWrite: Boolean) extends EventSink {
    val inserts = new java.util.concurrent.atomic.AtomicInteger(0)
    override def getColumns(id: CollectionId): Option[StructType] =
      inner.getColumns(id)
    override def insert(id: CollectionId, df: DataFrame): Unit =
      inner.insert(id, df)
    override def insert(id: CollectionId, df: DataFrame, batchId: Long): Unit = {
      val n = inserts.incrementAndGet()
      if (!afterWrite && n >= failOnInsert)
        throw new RuntimeException(s"injected sink failure on insert #$n")
      inner.insert(id, df, batchId)
      if (afterWrite && n >= failOnInsert)
        throw new RuntimeException(s"injected post-write failure on insert #$n")
    }
    // cohort writes count against the same injection budget: the crash
    // drill covers the consolidated path's replay idempotence too
    // (dynamic-partition overwrite, not markers)
    override def supportsConsolidated: Boolean = inner.supportsConsolidated
    override def insertConsolidated(rows: DataFrame, batchId: Long): Unit = {
      val n = inserts.incrementAndGet()
      if (!afterWrite && n >= failOnInsert)
        throw new RuntimeException(s"injected cohort failure on insert #$n")
      inner.insertConsolidated(rows, batchId)
      if (afterWrite && n >= failOnInsert)
        throw new RuntimeException(s"injected post-cohort failure on insert #$n")
    }
  }

  private def writeLines(dir: java.nio.file.Path, name: String,
                         lines: Seq[String]): Unit = {
    val tmp = Files.createTempFile("batch", ".json.tmp")
    Files.write(tmp, String.join("\n", lines: _*).getBytes)
    Files.move(tmp, dir.resolve(name)); ()
  }

  private def fabric(coll: String, time: Long, extra: String = ""): String =
    s"""{"data":{"_project":"p","_collection":"$coll","_time":$time,"_user":"u1"$extra}}"""

  /** Six collections, distinct row counts (deterministic largest-first
    * flush order), same event day (all real-time under the split).
    */
  private def batchOne(t: Long): Seq[String] =
    (0 until 6).flatMap(c => (0 to c).map(i =>
      fabric(s"c$c", t + i, s""","v":${c * 10 + i}""")))

  // cheap drill config: no retry backoff, drain-and-stop trigger, one
  // writer thread so "fail on insert #k" is exactly k landed collections
  private val cfg = IngestConfig(availableNow = true, commitRetries = 0,
    writeParallelism = 1)

  private val collections = (0 until 6).map(c => CollectionId("p", s"c$c"))

  /** Order- and layout-insensitive at-rest content: per collection, every
    * row with columns sorted by name, `_shard_time` (wall-clock injection)
    * and the `batch` dir column dropped.
    */
  private def contentOf(sink: ColumnarSink): Map[String, Seq[String]] =
    collections.flatMap { id =>
      val exists = new org.apache.hadoop.fs.Path(sink.path(id))
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(sink.path(id)))
      if (!exists) None
      else {
        val df = sink.read(spark, id).drop("_shard_time", "batch")
        val cols = df.columns.sorted.toIndexedSeq
        Some(id.collection -> df.select(cols.map(col): _*)
          .collect().map(_.toSeq.mkString("|")).toSeq.sorted)
      }
    }.toMap

  /** One uninterrupted run over `inDir` into a fresh sink — the oracle. */
  private def oracleRun(inDir: String): (ColumnarSink, EventSchema.Registry) = {
    val sink = new ColumnarSink(Files.createTempDirectory("cr_oracle").toString)
    val registry = new EventSchema.Registry()
    val q = IngestStream.start(spark, IngestStream.fileSource(spark, inDir),
      registry, sink, None, Files.createTempDirectory("cr_ockpt").toString, cfg)
    try q.processAllAvailable() finally q.stop()
    (sink, registry)
  }

  private def markers(base: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$base/_graft_commits")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(p, true)
      while (it.hasNext) out += it.next().getPath.toString
      out.toSeq
    }
  }

  private def dataFiles(base: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.HashSet.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val hidden = st.getPath.toUri.getPath.split('/')
        .exists(s => s.startsWith("_") || s.startsWith("."))
      if (st.isFile && !hidden) out += st.getPath.toString
    }
    out.toSet
  }

  test("crash mid-batch after partial cohort writes; restart is exactly-once") {
    val inDir = Files.createTempDirectory("cr_in")
    val ckpt = Files.createTempDirectory("cr_ckpt").toString
    val sinkDir = Files.createTempDirectory("cr_sink").toString
    val t = System.currentTimeMillis()
    writeLines(inDir, "b1.json", batchOne(t))

    // run 1: the 3rd batch-keyed insert of the batch blows up — two
    // collections have landed data + markers, four have not, and the
    // batch's offsets never commit
    val failing = new FailingSink(new ColumnarSink(sinkDir), 3, afterWrite = false)
    val q1 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), failing, None, ckpt, cfg)
    val ex = intercept[StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    q1.stop()
    assert(ex.toString.contains("injected") ||
      Option(ex.getCause).exists(_.toString.contains("injected")))
    val landed = markers(sinkDir).size
    assert(landed == 2, s"expected exactly 2 pre-crash markers, got $landed")

    // run 2: a fresh process — new registry instance, healthy sink, SAME
    // checkpoint — replays the uncommitted batch; committed members skip
    // on their markers, the rest land now
    val q2 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), new ColumnarSink(sinkDir), None, ckpt, cfg)
    try q2.processAllAvailable() finally q2.stop()

    val (oracleSink, _) = oracleRun(inDir.toString)
    val got = contentOf(new ColumnarSink(sinkDir))
    val want = contentOf(oracleSink)
    assert(got == want, s"post-recovery content diverged from single-run oracle:\n$got\nvs\n$want")
    assert(got.keySet == collections.map(_.collection).toSet)
    assert(markers(sinkDir).size == 6)
  }

  test("crash after ALL writes landed but before offset commit; replay is a no-op") {
    val inDir = Files.createTempDirectory("cr2_in")
    val ckpt = Files.createTempDirectory("cr2_ckpt").toString
    val sinkDir = Files.createTempDirectory("cr2_sink").toString
    val t = System.currentTimeMillis()
    writeLines(inDir, "b1.json", batchOne(t))

    // run 1: every insert delegates (data + marker on disk for all six),
    // THEN the barrier aborts — offsets uncommitted, at-rest complete
    val failing = new FailingSink(new ColumnarSink(sinkDir), 6, afterWrite = true)
    val q1 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), failing, None, ckpt, cfg)
    intercept[StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    q1.stop()
    assert(markers(sinkDir).size == 6)
    val filesBefore = dataFiles(sinkDir)

    // run 2: the replayed batch must not write a single new data file —
    // every insert short-circuits on its marker
    val q2 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), new ColumnarSink(sinkDir), None, ckpt, cfg)
    try q2.processAllAvailable() finally q2.stop()
    assert(dataFiles(sinkDir) == filesBefore,
      "marker replay re-wrote files that were already committed")

    val (oracleSink, _) = oracleRun(inDir.toString)
    assert(contentOf(new ColumnarSink(sinkDir)) == contentOf(oracleSink))
  }

  test("crash with streaming dedup state: recovery neither duplicates nor loses") {
    // the dedup state op (dropDuplicatesWithinWatermark) lives in the
    // query BEFORE foreachBatch; its state commits with the batch, so a
    // crashed batch must replay with the SAME dedup decisions — this pins
    // the state+sink composition end-to-end, not each half separately
    val inDir = Files.createTempDirectory("cr4_in")
    val ckpt = Files.createTempDirectory("cr4_ckpt").toString
    val sinkDir = Files.createTempDirectory("cr4_sink").toString
    val t = System.currentTimeMillis()
    val dedupCfg = cfg.copy(dedupWithinWatermark = Some("1 hour"))
    // duplicates WITHIN the batch: same (_user, _time) twice per
    // collection — exactly one survivor each may land. The dedup key is
    // GLOBAL (the reference detects re-delivered events regardless of
    // collection), so each collection gets its own distinct time.
    writeLines(inDir, "b1.json",
      (0 until 6).flatMap(c => Seq(
        fabric(s"c$c", t + c, s""","v":${c * 10}"""),
        fabric(s"c$c", t + c, s""","v":${c * 10 + 1}"""), // dup key: dropped
        fabric(s"c$c", t + 1000 + c, s""","v":${c * 10 + 2}"""))))

    val failing = new FailingSink(new ColumnarSink(sinkDir), 3, afterWrite = false)
    val q1 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), failing, None, ckpt, dedupCfg)
    intercept[StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    q1.stop()

    val q2 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), new ColumnarSink(sinkDir), None, ckpt, dedupCfg)
    try q2.processAllAvailable() finally q2.stop()

    // single uninterrupted dedup run = the oracle
    val oSink = new ColumnarSink(Files.createTempDirectory("cr4_oracle").toString)
    val oq = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), oSink, None,
      Files.createTempDirectory("cr4_ockpt").toString, dedupCfg)
    try oq.processAllAvailable() finally oq.stop()

    val got = contentOf(new ColumnarSink(sinkDir))
    val want = contentOf(oSink)
    assert(got == want, s"dedup crash recovery diverged:\n$got\nvs\n$want")
    // and the dedup actually bit: 2 rows per collection, not 3
    got.values.foreach(rows => assert(rows.size == 2, s"rows: $rows"))
  }

  test("crash between two cohort writes: consolidated replay supersedes in place") {
    // the consolidated path's effectively-once mechanism is dynamic-
    // partition OVERWRITE (no markers): a replayed batch must rewrite its
    // own (project, collection, batch) dirs in place — proven here by a
    // crash AFTER cohort 1 landed and BEFORE cohort 2 ran
    val inDir = Files.createTempDirectory("cr5_in")
    val ckpt = Files.createTempDirectory("cr5_ckpt").toString
    val sinkDir = Files.createTempDirectory("cr5_sink").toString
    val t = System.currentTimeMillis()
    // TWO schema shapes → two cohorts of three collections each
    writeLines(inDir, "b1.json",
      (0 until 3).flatMap(c => (0 to c).map(i =>
        fabric(s"c$c", t + i, s""","v":${c * 10 + i}"""))) ++
      (3 until 6).flatMap(c => (0 to c).map(i =>
        fabric(s"c$c", t + i, s""","w":"s${c * 10 + i}""""))))
    val cohortCfg = cfg.copy(consolidateThreshold = 2)

    val failing = new FailingSink(new ColumnarSink(sinkDir), 2, afterWrite = false)
    val q1 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), failing, None, ckpt, cohortCfg)
    intercept[StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    q1.stop()
    // one cohort's three collections landed, the other's did not
    val landed = collections.count { id =>
      new org.apache.hadoop.fs.Path(new ColumnarSink(sinkDir).path(id))
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(new ColumnarSink(sinkDir).path(id)))
    }
    assert(landed == 3, s"expected exactly one landed cohort, got $landed collections")

    val q2 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), new ColumnarSink(sinkDir), None, ckpt, cohortCfg)
    try q2.processAllAvailable() finally q2.stop()

    // oracle: single uninterrupted run through the SAME cohort config
    val oSink = new ColumnarSink(Files.createTempDirectory("cr5_oracle").toString)
    val oq = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), oSink, None,
      Files.createTempDirectory("cr5_ockpt").toString, cohortCfg)
    try oq.processAllAvailable() finally oq.stop()

    val got = contentOf(new ColumnarSink(sinkDir))
    val want = contentOf(oSink)
    assert(got == want, s"cohort crash recovery diverged:\n$got\nvs\n$want")
    assert(got.keySet == collections.map(_.collection).toSet)
  }

  test("crash after the historical hand-off: the replay rewrites the late records, no duplicates") {
    val inDir = Files.createTempDirectory("cr6_in")
    val ckpt = Files.createTempDirectory("cr6_ckpt").toString
    val sinkDir = Files.createTempDirectory("cr6_sink").toString
    val histDir = Files.createTempDirectory("cr6_hist").toString + "/data"
    val t = System.currentTimeMillis()
    val old = t - 40L * 24 * 3600 * 1000
    val late = (0 until 3).map(i => fabric("c0", old + i, s""","late":$i"""))
    writeLines(inDir, "b1.json", batchOne(t) ++ late)

    // run 1: the hand-off lands inside the barrier, then the first sink
    // insert fails, so the batch's offsets never commit
    val failing = new FailingSink(new ColumnarSink(sinkDir), 1, afterWrite = false)
    val q1 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), failing, Some(new FileHistoricalHandler(histDir)), ckpt, cfg)
    intercept[StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    q1.stop()
    assert(spark.read.text(histDir).count() == late.size, "the hand-off did not run before the crash")

    // run 2 replays the batch, hand-off included
    val q2 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), new ColumnarSink(sinkDir),
      Some(new FileHistoricalHandler(histDir)), ckpt, cfg)
    try q2.processAllAvailable() finally q2.stop()

    val handedOff = spark.read.text(histDir).select("value").collect().map(_.getString(0)).toSeq
    assert(handedOff.sorted == late.sorted, s"historical records after the replay: $handedOff")
    val (oracleSink, _) = oracleRun(inDir.toString)
    assert(contentOf(new ColumnarSink(sinkDir)) == contentOf(oracleSink))
  }

  test("crash under schema churn: recovery replays the evolution and the registry converges") {
    val inDir = Files.createTempDirectory("cr3_in")
    val ckpt = Files.createTempDirectory("cr3_ckpt").toString
    val sinkDir = Files.createTempDirectory("cr3_sink").toString
    val t = System.currentTimeMillis()

    // batch 1 commits clean (registry v1 persisted inside the barrier)
    writeLines(inDir, "b1.json", batchOne(t))
    val q1 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), new ColumnarSink(sinkDir), None, ckpt, cfg)
    try q1.processAllAvailable() finally q1.stop()

    // batch 2 widens every collection by `f2` — and crashes mid-batch
    // AFTER the registry already evolved in-memory but BEFORE its barrier
    // save (processBatch throws first), the worst-ordered failure
    writeLines(inDir, "b2.json",
      (0 until 6).map(c => fabric(s"c$c", t + 1000, s""","v":${c},"f2":"x$c"""")))
    val failing = new FailingSink(new ColumnarSink(sinkDir), 4, afterWrite = false)
    val q2 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      new EventSchema.Registry(), failing, None, ckpt, cfg)
    intercept[StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination()
    }
    q2.stop()

    // restart: replay re-infers, re-evolves, lands the rest, saves
    val recoveredRegistry = new EventSchema.Registry()
    val q3 = IngestStream.start(spark, IngestStream.fileSource(spark, inDir.toString),
      recoveredRegistry, new ColumnarSink(sinkDir), None, ckpt, cfg)
    try q3.processAllAvailable() finally q3.stop()

    val (oracleSink, oracleRegistry) = oracleRun(inDir.toString)
    assert(contentOf(new ColumnarSink(sinkDir)) == contentOf(oracleSink))
    // registry consistent with the uninterrupted run: same collections,
    // same authoritative column ORDER (K4), f2 present everywhere
    collections.foreach { id =>
      assert(recoveredRegistry.get(id).map(_.fieldNames.toSeq) ==
        oracleRegistry.get(id).map(_.fieldNames.toSeq), s"registry diverged for $id")
      assert(recoveredRegistry.get(id).exists(_.fieldNames.contains("f2")))
    }
    // and the persisted (checkpoint-adjacent) registry matches what a
    // fresh process would resume with
    val resumed = new EventSchema.Registry()
    resumed.loadSharded(IngestStream.registryPath(ckpt),
      spark.sparkContext.hadoopConfiguration)
    collections.foreach { id =>
      assert(resumed.get(id).map(_.fieldNames.toSeq) ==
        recoveredRegistry.get(id).map(_.fieldNames.toSeq))
    }
  }
}
