package graft

import graft.schema.CollectionId
import graft.sinks.ColumnarSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import java.nio.file.Files

class SinkSpec extends SparkSpec {

  test("insertBatch is idempotent across replays (at-least-once → effectively-once)") {
    import spark.implicits._
    val base = Files.createTempDirectory("sink").toString
    val sink = new ColumnarSink(base)
    val id = CollectionId("p", "c")
    val df = Seq((1, "a"), (2, "b")).toDF("n", "s")
    sink.insertBatch(id, df, batchId = 7)
    // replay of the same batch (crash between write and checkpoint commit)
    sink.insertBatch(id, df, batchId = 7)
    assert(sink.read(spark, id).count() == 2)
    // a new batch appends
    sink.insertBatch(id, Seq((3, "c")).toDF("n", "s"), batchId = 8)
    assert(sink.read(spark, id).count() == 3)
  }

  test("compaction rewrites many small batches into one, preserving rows") {
    import spark.implicits._
    val base = Files.createTempDirectory("sink").toString
    val sink = new ColumnarSink(base)
    val id = CollectionId("p", "c")
    (0 until 5).foreach(b =>
      sink.insertBatch(id, Seq((b, s"v$b")).toDF("n", "s"), batchId = b))
    assert(sink.read(spark, id).count() == 5)
    sink.compact(spark, id)
    assert(sink.read(spark, id).count() == 5)
    val dirs = new java.io.File(s"$base/project=p/collection=c").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.length == 1 && dirs.head.startsWith("batch=compact-"))
  }

  test("ndjson sink: replayed batch overwrites its own directory, no duplicates") {
    import spark.implicits._
    val base = Files.createTempDirectory("ndjson").toString
    val sink = new graft.sinks.NdjsonGzipSink(base)
    val id = CollectionId("p", "c")
    sink.insert(id, Seq(("a", 1)).toDF("s", "n"), batchId = 7)
    sink.insert(id, Seq(("a", 1)).toDF("s", "n"), batchId = 7) // replay
    sink.insert(id, Seq(("b", 2)).toDF("s", "n"), batchId = 8)
    val back = spark.read.json(s"$base/p/c/batch=*")
    assert(back.count() == 2)
  }

  test("k2's declared DOUBLE read of dirty ndjson values: only JSON numbers sum") {
    import spark.implicits._
    val base = Files.createTempDirectory("ndjson_dirty").toString
    val sink = new graft.sinks.NdjsonGzipSink(base)
    val id = CollectionId("p", "c")
    // a number, a numeric string and a non-numeric string, one line each
    sink.insert(id, Seq(2.5).toDF("value"), batchId = 0)
    sink.insert(id, Seq("1.25").toDF("value"), batchId = 1)
    sink.insert(id, Seq("n/a").toDF("value"), batchId = 2)
    // the read k2_ndjson_roundtrip runs per collection: every line still
    // counts, but only the JSON number sums — PERMISSIVE nulls a string
    // value, numeric or not
    val back = spark.read.schema("value DOUBLE").json(sink.path(id))
      .agg(count(lit(1)), count($"value"), sum($"value")).head()
    assert(back.getLong(0) == 3L)
    assert(back.getLong(1) == 1L)
    assert(back.getDouble(2) == 2.5)
  }

  test("ndjson locale-exact mode matches the reference's serialization byte-for-byte") {
    import spark.implicits._
    import java.util.zip.GZIPInputStream
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("ndjson_exact").toString
    val sink = new graft.sinks.NdjsonGzipSink(base, localeExactTimestamps = true)
    val id = CollectionId("p", "c")
    val t = java.time.Instant.parse("2018-03-09T17:45:30.123Z")
    val d = java.time.LocalDate.of(2018, 3, 9)
    sink.insert(id, Seq(
      (java.sql.Timestamp.from(t), java.sql.Date.valueOf(d), "x", 42L, 2.5, true))
      .toDF("_time", "day", "s", "n", "f", "b"))

    val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(base))
      .iterator().asScala.filter(_.toString.endsWith(".json.gz")).flatMap { p =>
        val in = new GZIPInputStream(java.nio.file.Files.newInputStream(p))
        try Iterator.single(in.readAllBytes()) finally in.close()
      }.toList

    // Hard literal golden — NOT derived by calling the formatter the sink
    // itself uses (a shared bug would cancel out). These are the reference's
    // exact output bytes for this event (S3DatabaseHandler.java:72,241-243:
    // `ofLocalizedDateTime(SHORT)` English@UTC = pattern `M/d/yy, h:mm a`
    // under JDK 17 CLDR, all-ASCII, ordinary U+0020 before AM/PM; BASIC_ISO
    // date). If a future JDK's CLDR drifts (e.g. U+202F before AM/PM), this
    // must FAIL so the drift is a conscious decision, not silent.
    val golden =
      "{\"_time\":\"3/9/18, 5:45 PM\",\"day\":\"20180309\",\"s\":\"x\",\"n\":42,\"f\":2.5,\"b\":true}\n"
    assert(bytes.map(new String(_, java.nio.charset.StandardCharsets.UTF_8)) ==
      List(golden))
    assert(bytes.head.sameElements(golden.getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
  }

  test("ORC format roundtrips with schema evolution (the reference's Raptor format)") {
    import spark.implicits._
    val base = Files.createTempDirectory("sinkorc").toString
    val sink = new ColumnarSink(base, format = "orc")
    val id = CollectionId("p", "c")
    sink.insert(id, Seq((1, "a")).toDF("n", "s"))
    sink.insert(id, Seq((2, "b", true)).toDF("n", "s", "flag")) // evolved
    val back = sink.read(spark, id)
    assert(back.count() == 2)
    assert(back.columns.contains("flag"))
    assert(back.where($"flag").count() == 1)
    sink.compact(spark, id)
    assert(sink.read(spark, id).count() == 2)
  }

  test("a write outside a stream and a stream batch into one directory both read back") {
    import spark.implicits._
    // Spark's partition discovery drops files that sit next to `batch=`
    // dirs, so each writer must land BOTH kinds of write in batch dirs
    val base = Files.createTempDirectory("sink_one_layout").toString
    val sink = new ColumnarSink(base)
    val ndjson = new graft.sinks.NdjsonGzipSink(s"$base/ndjson")
    val hist = new graft.streaming.FileHistoricalHandler(s"$base/hist")
    val dead = new graft.streaming.IngestStream.DeadLetter(s"$base/dead")
    val (idA, idB, idC) =
      (CollectionId("p", "plain_first"), CollectionId("p", "stream_first"),
        CollectionId("p", "cohort"))
    val id = CollectionId("p", "c")
    def cohort(df: DataFrame) =
      df.select(lit("p").as("_project"), lit(idC.collection).as("_collection"),
        col("value"))
    type Write = DataFrame => Unit
    // (writer, its writes in order, the read of the directory they share)
    val writers: Seq[(String, Seq[Write], () => DataFrame)] = Seq(
      ("ColumnarSink plain, then stream",
        Seq(sink.insert(idA, _), sink.insertBatch(idA, _, 0L), sink.insert(idA, _)),
        () => sink.read(spark, idA)),
      ("ColumnarSink stream, then plain",
        Seq(sink.insertBatch(idB, _, 0L), sink.insert(idB, _),
          sink.insertBatch(idB, _, 1L)),
        () => sink.read(spark, idB)),
      ("ColumnarSink consolidated -1, then N",
        Seq(df => sink.insertConsolidated(cohort(df), -1L),
          df => sink.insertConsolidated(cohort(df), 3L)),
        () => sink.read(spark, idC)),
      ("NdjsonGzipSink",
        Seq(ndjson.insert(id, _), ndjson.insert(id, _, 0L)),
        () => spark.read.json(ndjson.path(id))),
      ("FileHistoricalHandler",
        Seq(hist.handle(_), hist.handle(_, 0L)),
        () => spark.read.text(s"$base/hist")),
      ("DeadLetter",
        Seq(dead.handle(id, _, -1L), dead.handle(id, _, 0L)),
        () => spark.read.text(s"$base/dead/p/c")))
    writers.foreach { case (name, writes, read) =>
      val written = writes.indices.map(i => s"$name #$i")
      writes.zip(written).foreach { case (w, v) => w(Seq(v).toDF("value")) }
      val back = read().select("value").as[String].collect().sorted.toSeq
      assert(back == written.sorted, s"$name read back $back")
    }

    // compaction rewrites into batch=compact-*; a later plain insert lands
    // in its own batch dir next to it
    sink.compact(spark, idA)
    sink.insert(idA, Seq("after compaction").toDF("value"))
    assert(sink.read(spark, idA).count() == 4)
  }

  test("insertBatch + compaction work through a file: URI (Hadoop FS path)") {
    import spark.implicits._
    // markers and compaction must resolve through the Hadoop FileSystem of
    // basePath, not java.io.File — a scheme-prefixed URI exercises that
    val base = "file:" + Files.createTempDirectory("sinkuri").toString
    val sink = new ColumnarSink(base)
    val id = CollectionId("p", "c")
    val df = Seq((1, "a"), (2, "b")).toDF("n", "s")
    sink.insertBatch(id, df, batchId = 1)
    sink.insertBatch(id, df, batchId = 1) // replay: marker makes it a no-op
    sink.insertBatch(id, Seq((3, "c")).toDF("n", "s"), batchId = 2)
    assert(sink.read(spark, id).count() == 3)
    sink.compact(spark, id)
    assert(sink.read(spark, id).count() == 3)
    val dirs = new java.io.File(s"${base.stripPrefix("file:")}/project=p/collection=c")
      .listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.length == 1 && dirs.head.startsWith("batch=compact-"))
  }

  test("commit markers are unambiguous for names containing underscores") {
    import spark.implicits._
    val base = Files.createTempDirectory("sink").toString
    val sink = new ColumnarSink(base)
    // old flat layout would collide: a_b/c and a/b_c both → "a_b_c_<id>"
    sink.insertBatch(CollectionId("a_b", "c"), Seq((1, "x")).toDF("n", "s"), batchId = 1)
    sink.insertBatch(CollectionId("a", "b_c"), Seq((2, "y")).toDF("n", "s"), batchId = 1)
    assert(sink.read(spark, CollectionId("a_b", "c")).count() == 1)
    assert(sink.read(spark, CollectionId("a", "b_c")).count() == 1)
  }

  test("sink layout prunes partitions on (project, collection) filters") {
    import spark.implicits._
    val base = Files.createTempDirectory("sink").toString
    val sink = new ColumnarSink(base)
    sink.insert(CollectionId("p", "clicks"), Seq((1, "a")).toDF("n", "s"))
    sink.insert(CollectionId("p", "views"), Seq((2, "b")).toDF("n", "s"))

    val filtered = sink.readAll(spark).filter($"collection" === "clicks")
    assert(filtered.count() == 1)
    // the scan must read only the clicks directory (partition pruning)
    val scan = filtered.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    val files = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files.map(_.getPath.toString))
    assert(files.nonEmpty && files.forall(_.contains("collection=clicks")))
  }
}
