package graft

import graft.layout.{StatsIndex, ZOrder}
import org.apache.spark.sql.functions._

class StatsIndexSpec extends SparkSpec {

  test("manifest pruning: box reads a fraction of a z-ordered table's files, exactly") {
    import spark.implicits._
    val n = 100000L
    val data = spark.range(n).select(
      $"id".as("y"),
      pmod(hash($"id"), lit(50000)).cast("long").as("x"),
      ($"id" % 13).as("payload"))
    val dir = java.nio.file.Files.createTempDirectory("sidx").toString
    ZOrder.zorder(data, Seq("x", "y"), bits = 12, numPartitions = 128)
      .write.mode("overwrite").parquet(dir)

    val nFiles = StatsIndex.build(spark, dir, Seq("x", "y"))
    assert(nFiles >= 100, s"expected ~128 files, indexed $nFiles")

    val pruned = StatsIndex.prunedRead(spark, dir,
      Seq(("x", 1000L, 2999L), ("y", 20000L, 29999L)))
    val filesRead = pruned.select(input_file_name()).distinct().count()
    info(s"manifest kept $filesRead of $nFiles files")
    assert(filesRead * 4 <= nFiles,
      s"manifest should prune ≥4×: read $filesRead of $nFiles files")

    // exactness: filtering the superset equals filtering the full table
    val predFull = spark.read.parquet(dir)
      .where($"x".between(1000, 2999) && $"y".between(20000, 29999))
      .agg(count(lit(1)), sum($"payload")).head()
    val predPruned = pruned
      .where($"x".between(1000, 2999) && $"y".between(20000, 29999))
      .agg(count(lit(1)), sum($"payload")).head()
    assert(predFull == predPruned, "pruned read lost rows")
    assert(predFull.getLong(0) > 0, "empty test predicate proves nothing")
  }

  test("sink maintains the manifest at insert time; pruned read skips files exactly") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_sink").toString
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    val id = graft.schema.CollectionId("p", "ev")
    def slice(lo: Long, hi: Long) =
      spark.range(lo, hi).select($"id".as("x"), ($"id" * 3).as("v"))
        .repartitionByRange(4, $"x")
    sink.insertBatch(id, slice(0, 4000), 0L)
    sink.insertBatch(id, slice(4000, 8000), 1L)
    sink.insertBatch(id, slice(8000, 12000), 2L)
    // a write outside a stream indexes too (its own collection keeps the
    // per-collection scoping check below meaningful)
    val id2 = graft.schema.CollectionId("p", "bulk")
    sink.insert(id2, slice(8000, 12000))

    val dataFiles = (sink.read(spark, id).select(input_file_name())
      .union(sink.read(spark, id2).select(input_file_name())))
      .distinct().count()
    val idxRows = spark.read.parquet(sink.statsIndexPath).count()
    assert(idxRows == dataFiles,
      s"manifest rows ($idxRows) must cover every data file ($dataFiles)")

    // a range inside batch 0's key space reads a strict subset of files
    val pruned = sink.prunedRead(spark, id, Seq(("x", 100L, 900L)))
    val readFiles = pruned.select(input_file_name()).distinct().count()
    info(s"pruned read opened $readFiles of $dataFiles files")
    assert(readFiles * 3 <= dataFiles,
      s"expected ≥3× file skipping: $readFiles of $dataFiles")
    val got = pruned.where($"x".between(100, 900))
      .agg(count(lit(1)), sum($"v")).head()
    val want = sink.read(spark, id).where($"x".between(100, 900))
      .agg(count(lit(1)), sum($"v")).head()
    assert(got == want && want.getLong(0) == 801)

    // the shared base-level index scopes per collection: id2's files are
    // indexed and prunable, and never leak into id's pruned read
    val got2 = sink.prunedRead(spark, id2, Seq(("x", 8100L, 8199L)))
      .where($"x".between(8100, 8199)).agg(sum($"v")).head()
    assert(got2 == sink.read(spark, id2).where($"x".between(8100, 8199))
      .agg(sum($"v")).head())

    // marker replay: the same batch id again neither re-writes nor
    // re-indexes — row parity and index size both hold
    sink.insertBatch(id, slice(0, 4000), 0L)
    assert(spark.read.parquet(sink.statsIndexPath).count() == idxRows)
    assert(sink.prunedRead(spark, id, Seq(("x", 100L, 900L)))
      .where($"x".between(100, 900)).count() == 801)
  }

  test("sink manifest: crash-shaped replay supersedes stale entries; compaction re-indexes") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_replay").toString
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    val id = graft.schema.CollectionId("p", "ev")
    def slice(n: Long) =
      spark.range(n).select($"id".as("x"), ($"id" * 7).as("v"))
        .repartitionByRange(4, $"x")
    sink.insertBatch(id, slice(2000), 0L)
    // crash between data+stats and the marker: delete the marker, replay —
    // the overwrite supersedes the files; their index entries go stale and
    // the conservative sweep must skip them without double-reading
    val marker = new org.apache.hadoop.fs.Path(
      s"$base/_graft_commits/p/ev/0")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(marker, false))
    sink.insertBatch(id, slice(2000), 0L)
    val out = sink.prunedRead(spark, id, Seq(("x", 0L, 499L)))
      .where($"x" <= 499)
    assert(out.count() == 500, "stale manifest entries must not duplicate rows")

    // compaction deletes every old file (stale entries again) and appends
    // stats for the compacted replacements — pruning stays exact
    sink.compact(spark, id, targetBytes = 1L << 30)
    val afterCompact = sink.prunedRead(spark, id, Seq(("x", 0L, 499L)))
      .where($"x" <= 499)
    assert(afterCompact.count() == 500)
    assert(sink.read(spark, id).count() == 2000)
  }

  test("sink manifest under schema evolution: a later column prunes pre-evolution files") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_evolve").toString
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x", "y"))
    val id = graft.schema.CollectionId("p", "ev")
    // batch 0 predates column y entirely
    sink.insertBatch(id,
      spark.range(1000).select($"id".as("x")).repartitionByRange(2, $"x"), 0L)
    sink.insertBatch(id,
      spark.range(1000).select($"id".as("x"), ($"id" + 5000).as("y"))
        .repartitionByRange(2, $"x"), 1L)
    // a y-range prunes the y-less batch-0 files (they hold no y values —
    // exact, not conservative) and still returns every matching row
    val got = sink.prunedRead(spark, id, Seq(("y", 5100L, 5199L)))
      .where($"y".between(5100, 5199)).count()
    assert(got == 100)
    val prunedFiles = sink.prunedRead(spark, id, Seq(("y", 5100L, 5199L)))
      .select(input_file_name()).distinct().count()
    assert(prunedFiles <= 2, s"pre-evolution files must prune: $prunedFiles")
  }

  test("manifest self-compacts past the slice threshold; pruning stays exact") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_compactidx").toString
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"),
      statsCompactSlices = 8)
    val id = graft.schema.CollectionId("p", "ev")
    // 24 appends = 24 slices without compaction; threshold 8 keeps the
    // index a handful of files forever
    (0 until 24).foreach { b =>
      sink.insertBatch(id,
        spark.range(b * 100L, b * 100L + 100).select($"id".as("x")), b.toLong)
    }
    val p = new org.apache.hadoop.fs.Path(sink.statsShardPath(id))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val slices = fs.listStatus(p).count(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    assert(slices <= 9, s"manifest not self-compacting: $slices slices")
    // every data file still covered, pruning still exact
    val dataFiles = sink.read(spark, id).select(input_file_name())
      .distinct().count()
    assert(spark.read.parquet(sink.statsIndexPath).count() == dataFiles)
    val pruned = sink.prunedRead(spark, id, Seq(("x", 500L, 599L)))
    assert(pruned.where($"x".between(500, 599)).count() == 100)
    assert(pruned.select(input_file_name()).distinct().count() < dataFiles / 3)
  }

  test("concurrent per-collection inserts keep the shared manifest consistent") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_conc").toString
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    // the batch writer pool runs collections concurrently — the manifest
    // append must serialize (shared _temporary staging) without losing
    // any slice
    val ids = (0 until 6).map(c => graft.schema.CollectionId("p", s"c$c"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      import scala.jdk.CollectionConverters._
      val tasks = ids.map { id =>
        new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = sink.insertBatch(id,
            spark.range(500).select($"id".as("x"), ($"id" * 2).as("v"))
              .repartitionByRange(2, $"x"), 0L)
        }
      }
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    } finally pool.shutdown()
    val idxRows = spark.read.parquet(sink.statsIndexPath).count()
    val dataFiles = ids.map(id => sink.read(spark, id)
      .select(input_file_name()).distinct().count()).sum
    assert(idxRows == dataFiles,
      s"concurrent appends lost manifest slices: $idxRows of $dataFiles")
    ids.foreach { id =>
      assert(sink.prunedRead(spark, id, Seq(("x", 0L, 99L)))
        .where($"x" <= 99).count() == 100)
    }
  }

  test("sharded manifest: each collection's slices land in its own shard dir") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_shard").toString
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    val a = graft.schema.CollectionId("p", "aaa")
    val b = graft.schema.CollectionId("p", "bbb")
    sink.insertBatch(a, spark.range(100).select($"id".as("x")), 0L)
    sink.insertBatch(b, spark.range(100, 200).select($"id".as("x")), 0L)
    for ((id, other) <- Seq((a, "bbb"), (b, "aaa"))) {
      val shard = spark.read.parquet(sink.statsShardPath(id))
      // a one-collection pruned read plans against ONLY its shard — no
      // sibling rows to collect, which is what keeps planning flat as
      // sibling collections grow to 100 TB file counts
      assert(shard.select("_file").as[String].collect()
        .forall(f => f.contains(s"collection=${id.collection}") &&
          !f.contains(s"collection=$other")),
        s"shard for ${id.collection} holds sibling rows")
    }
    assert(sink.prunedRead(spark, a, Seq(("x", 10L, 19L)))
      .where($"x".between(10, 19)).count() == 10)
    assert(sink.prunedRead(spark, b, Seq(("x", 110L, 129L)))
      .where($"x".between(110, 129)).count() == 20)
  }

  test("a later sink widening statsColumns must not prune files indexed under the narrower set") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_widen").toString
    val id = graft.schema.CollectionId("p", "ev")
    // sink v1 indexes only x — but the DATA already carries y
    val sinkV1 = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    sinkV1.insertBatch(id,
      spark.range(100).select($"id".as("x"), ($"id" + 5000).as("y")), 0L)
    // sink v2 over the SAME basePath widens the indexed set to (x, y)
    val sinkV2 = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x", "y"))
    sinkV2.insertBatch(id,
      spark.range(100, 200).select($"id".as("x"), ($"id" + 5000).as("y")), 1L)
    // a y-range matching ONLY batch-0 rows: batch 0's manifest rows carry
    // no y stats because v1 never indexed y — NOT because the files hold
    // no y values. The `_stat_cols` marker keeps the two cases apart;
    // without it this read would silently return 0 rows.
    val got = sinkV2.prunedRead(spark, id, Seq(("y", 5000L, 5099L)))
      .where($"y".between(5000, 5099)).count()
    assert(got == 100, s"widened index dropped narrow-indexed files: $got")
    // and the exact-prune case still holds: a range nothing matches reads 0
    assert(sinkV2.prunedRead(spark, id, Seq(("y", 9000L, 9999L)))
      .where($"y".between(9000, 9999)).count() == 0)
  }

  test("pruned reads racing appends + self-compaction never crash or lose rows") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_race").toString
    // threshold 2 → compaction fires on nearly every append
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"),
      statsCompactSlices = 2)
    val id = graft.schema.CollectionId("p", "ev")
    sink.insertBatch(id, spark.range(100).select($"id".as("x")), 0L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try {
        var b = 1L
        while (!stop.get() && b < 18) {
          sink.insertBatch(id,
            spark.range(b * 100, b * 100 + 100).select($"id".as("x")), b)
          b += 1
        }
      } catch { case t: Throwable => failure.set(t) } finally stop.set(true)
    })
    writer.start()
    try {
      // batch 0's rows are stable the whole run: every racing read must
      // see exactly 50 of them — pruned or degraded-to-full, never fewer
      while (!stop.get()) {
        val n = sink.prunedRead(spark, id, Seq(("x", 0L, 49L)))
          .where($"x" <= 49).count()
        assert(n == 50, s"racing pruned read lost rows: $n")
      }
    } finally { stop.set(true); writer.join(60000) }
    assert(failure.get() == null, s"writer failed: ${failure.get()}")
    // converged state: everything written is pruned-readable
    assert(sink.prunedRead(spark, id, Seq(("x", 0L, 1799L)))
      .where($"x" <= 1799).count() == 1800)
  }

  test("an unreadable manifest degrades to a conservative full read, not a crash") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_corrupt").toString
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    val id = graft.schema.CollectionId("p", "ev")
    sink.insertBatch(id, spark.range(1000).select($"id".as("x")), 0L)
    // torn slice: not parquet at all — the manifest read throws
    val bad = new org.apache.hadoop.fs.Path(
      s"${sink.statsShardPath(id)}/slice-torn.parquet")
    val fs = bad.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(bad, true)
    os.write("this is not parquet".getBytes("UTF-8")); os.close()
    val out = sink.prunedRead(spark, id, Seq(("x", 0L, 99L)))
    assert(out.where($"x" <= 99).count() == 100,
      "fallback full read must still serve every row")
    // loud failure is RESERVED for the caller bug a fallback would mask:
    // pruning on a never-indexed column (checked against a healthy index)
    val base2 = java.nio.file.Files.createTempDirectory("sidx_loud").toString
    val sink2 = new graft.sinks.ColumnarSink(base2, statsColumns = Seq("x"))
    sink2.insertBatch(id, spark.range(10).select($"id".as("x")), 0L)
    intercept[IllegalArgumentException] {
      sink2.prunedRead(spark, id, Seq(("zzz", 0L, 9L)))
    }
  }

  test("orphaned staging dirs from crashed appends are reaped; fresh ones survive") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_reap").toString
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    val id = graft.schema.CollectionId("p", "ev")
    sink.insertBatch(id, spark.range(100).select($"id".as("x")), 0L)
    val shard = new org.apache.hadoop.fs.Path(sink.statsShardPath(id))
    val fs = shard.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed append's leftover (old) and a live append's staging (new)
    val orphan = new org.apache.hadoop.fs.Path(shard, ".staging-orphan")
    val live = new org.apache.hadoop.fs.Path(shard, ".staging-live")
    fs.mkdirs(orphan); fs.mkdirs(live)
    fs.setTimes(orphan, System.currentTimeMillis() - 2 * 3600000L, -1)
    graft.layout.StatsIndex.compactIfNeeded(spark, shard.toString, maxSlices = 0)
    assert(!fs.exists(orphan), "stale staging dir not reaped")
    assert(fs.exists(live), "live staging dir must not be touched")
    // and the reap never broke the manifest: pruning still exact
    assert(sink.prunedRead(spark, id, Seq(("x", 10L, 19L)))
      .where($"x".between(10, 19)).count() == 10)
  }

  test("consolidated cohort maintains every member's shard from ONE stats job") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_cohort").toString
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    // a 6-collection cohort lands via insertConsolidated → appendSharded
    // fans the single stats job's slices into per-collection shards
    val cohort = spark.range(600).select(
      lit("p").as("_project"),
      concat(lit("c"), $"id" % 6).as("_collection"),
      $"id".as("x"), ($"id" * 3).as("v"))
    sink.insertConsolidated(cohort, batchId = 0L)
    val ids = (0 until 6).map(c => graft.schema.CollectionId("p", s"c$c"))
    for (id <- ids) {
      val shard = spark.read.parquet(sink.statsShardPath(id))
      assert(shard.count() >= 1, s"cohort left ${id.collection}'s shard empty")
      assert(shard.select("_file").as[String].collect()
        .forall(_.contains(s"collection=${id.collection}")),
        s"${id.collection}'s shard holds foreign rows")
      // pruned read through the cohort-built shard stays exact
      val want = sink.read(spark, id).where($"x".between(100, 300))
        .agg(count(lit(1)), sum($"v")).head()
      val got = sink.prunedRead(spark, id, Seq(("x", 100L, 300L)))
        .where($"x".between(100, 300)).agg(count(lit(1)), sum($"v")).head()
      assert(got == want)
    }
    // a replayed cohort batch leaves stale entries the sweep skips — row
    // parity must hold after the overwrite supersedes the files
    sink.insertConsolidated(cohort, batchId = 0L)
    assert(sink.prunedRead(spark, ids.head, Seq(("x", 0L, 599L)))
      .where($"x" <= 599).count() == 100)
  }

  test("trust-the-manifest: marked batch dirs plan without a walk; unmarked commits still ride along") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_trust").toString
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    val id = graft.schema.CollectionId("p", "ev")
    sink.insertBatch(id, spark.range(1000).select($"id".as("x"))
      .repartitionByRange(4, $"x"), 0L)
    sink.insertBatch(id, spark.range(1000, 2000).select($"id".as("x"))
      .repartitionByRange(4, $"x"), 1L)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (a) an UNMARKED commit (foreign writer / crashed insert awaiting
    // replay): its rows must ride along unpruned — the per-dir sweep
    // covers exactly the dirs the markers don't
    spark.range(5000, 5010).select($"id".as("x"))
      .coalesce(1).write.parquet(s"${sink.path(id)}/batch=999")
    val got = sink.prunedRead(spark, id, Seq(("x", 4500L, 6000L)))
      .where($"x".between(4500, 6000)).count()
    assert(got == 10, s"unmarked commit's rows were dropped: $got")
    // (b) the marked dirs are NOT walked: plant a non-parquet file in a
    // marked dir — a full sweep would pick it up as unknown and crash the
    // read; the trusted plan never lists the dir, so the read succeeds
    val poison = new org.apache.hadoop.fs.Path(
      s"${sink.path(id)}/batch=0/poison.txt")
    val os = fs.create(poison, true)
    os.write("not parquet".getBytes("UTF-8")); os.close()
    assert(sink.prunedRead(spark, id, Seq(("x", 100L, 199L)))
      .where($"x".between(100, 199)).count() == 100,
      "trusted plan must not walk marked dirs")
    // the generic (caller-certified-nothing) path still sweeps and fails
    // loudly on the poison file — proving (b) exercised the trust branch
    intercept[Exception] {
      graft.layout.StatsIndex.prunedReadWith(spark, sink.path(id),
        sink.statsShardPath(id), Seq(("x", 100L, 199L)),
        Map("mergeSchema" -> "true")).count()
    }
    fs.delete(poison, false)
    // (c) stale manifest entries under a TRUSTED dir are skipped via the
    // O(kept) existence probe: delete one batch-0 data file out-of-band —
    // its manifest row still matches the range but the file is gone
    val victim = graft.util.FsWalk.dataFiles(fs,
      new org.apache.hadoop.fs.Path(s"${sink.path(id)}/batch=0")).head
    fs.delete(new org.apache.hadoop.fs.Path(victim), false)
    val after = sink.prunedRead(spark, id, Seq(("x", 0L, 999L)))
      .where($"x" <= 999).count()
    assert(after < 1000 && after >= 500,
      s"stale trusted entry not skipped (or too much lost): $after")
  }

  test("a trailing-slash basePath still prunes correctly (normalize collapses // and trailing /)") {
    import spark.implicits._
    import graft.layout.StatsIndex.normalize
    // the fast path must match Hadoop Path's slash collapsing — a verbatim
    // `/x//` would make every dataPrefix compare fail and the TRUSTED plan
    // silently read zero rows
    assert(normalize("/x//y/") == "/x/y")
    assert(normalize("/x/") == "/x")
    assert(normalize("/") == "/")
    assert(normalize("file:///x//y") == "/x/y")
    assert(normalize("file:/x//y/") == "/x/y")
    assert(normalize("/a/b") == "/a/b") // clean paths stay on the fast path
    val base =
      java.nio.file.Files.createTempDirectory("sidx_slash").toString + "/"
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    val id = graft.schema.CollectionId("p", "ev")
    sink.insertBatch(id, spark.range(200).select($"id".as("x")), 0L)
    sink.insertBatch(id, spark.range(200, 400).select($"id".as("x")), 1L)
    val got = sink.prunedRead(spark, id, Seq(("x", 0L, 399L)))
      .where($"x" <= 399).count()
    assert(got == 400, s"trailing-slash basePath dropped rows: $got")
    assert(sink.prunedRead(spark, id, Seq(("x", 250L, 399L)))
      .where($"x".between(250, 399)).count() == 150)
  }

  test("trust-the-manifest: a marked dir with no manifest rows (stats were off) is demoted to a walk") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_demote").toString
    val id = graft.schema.CollectionId("p", "ev")
    val statsOn = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    val statsOff = new graft.sinks.ColumnarSink(base)
    statsOn.insertBatch(id, spark.range(100).select($"id".as("x")), 0L)
    // batch 1 lands with a commit marker but NO stats slice — trusting the
    // marker alone would silently drop all its rows from pruned reads
    statsOff.insertBatch(id, spark.range(100, 200).select($"id".as("x")), 1L)
    val got = statsOn.prunedRead(spark, id, Seq(("x", 0L, 199L)))
      .where($"x" <= 199).count()
    assert(got == 200, s"zero-coverage marked dir was trusted: $got")
    // and once a stats-on writer re-covers the dir (compaction), pruning
    // over the whole key space is exact again
    statsOn.compact(spark, id, targetBytes = 1L << 30)
    assert(statsOn.prunedRead(spark, id, Seq(("x", 150L, 199L)))
      .where($"x".between(150, 199)).count() == 50)
  }

  test("consolidated replay un-marks before overwriting: a crash mid-replay leaves a conservatively-swept dir") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sidx_unmark").toString
    val sink = new graft.sinks.ColumnarSink(base, statsColumns = Seq("x"))
    val cohort = spark.range(200).select(
      lit("p").as("_project"),
      concat(lit("c"), $"id" % 2).as("_collection"),
      $"id".as("x"))
    sink.insertConsolidated(cohort, batchId = 0L)
    val c0 = graft.schema.CollectionId("p", "c0")
    val marker = new org.apache.hadoop.fs.Path(s"$base/_graft_commits/p/c0/0")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(marker), "consolidated insert must mark its commits")
    // crash-shaped state: replay overwrote the data (different files, new
    // values) but died before re-appending stats — the marker must already
    // be GONE at that point, or reads would trust a stale manifest. We
    // verify the un-mark happens by interposing on the same sequence:
    // a second insertConsolidated of DIFFERENT data for the same batch id
    // deletes the marker pre-write; simulate the crash by checking parity
    // through a sink whose appendStats is a no-op (statsColumns = Nil
    // writes no slices, so the manifest stays stale).
    val crashSink = new graft.sinks.ColumnarSink(base) // stats off → no re-append
    val replay = spark.range(1000, 1200).select(
      lit("p").as("_project"),
      concat(lit("c"), $"id" % 2).as("_collection"),
      $"id".as("x"))
    crashSink.insertConsolidated(replay, batchId = 0L)
    // stats-off sink doesn't manage markers; the overwrite superseded the
    // data while the manifest still describes the OLD files. The stats-on
    // reader must fall back to the sweep for this dir (marker stale-true
    // here — this pins the END STATE guarantee instead: no row loss)
    val got = sink.prunedRead(spark, c0, Seq(("x", 0L, 2000L)))
      .where($"x" <= 2000).count()
    assert(got == 100, s"post-overwrite pruned read lost rows: $got")
    // and the REAL replay path (stats on) un-marks pre-write: verified by
    // deleting the stats shard so a stale-trust would return 0 rows, then
    // replaying — the pre-write un-mark forces the conservative sweep
    val shard = new org.apache.hadoop.fs.Path(sink.statsShardPath(c0))
    fs.delete(shard, true)
    sink.insertConsolidated(replay, batchId = 0L)
    assert(sink.prunedRead(spark, c0, Seq(("x", 0L, 2000L)))
      .where($"x" <= 2000).count() == 100)
  }

  test("staleness: files written after build are still read (conservative)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sidx_stale").toString
    spark.range(1000).select($"id".as("x"), ($"id" * 2).as("v"))
      .repartitionByRange(8, $"x").write.mode("overwrite").parquet(dir)
    StatsIndex.build(spark, dir, Seq("x"))
    // late arrival OUTSIDE the indexed range — a naive manifest would
    // prune every indexed file and silently miss these rows
    Seq((5000L, 777L)).toDF("x", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    val out = StatsIndex.prunedRead(spark, dir, Seq(("x", 4500L, 6000L)))
      .where($"x" >= 4500 && $"x" <= 6000).collect()
    assert(out.length == 1 && out.head.getLong(1) == 777L,
      "stale file dropped by the manifest")
    // and a disjoint range still prunes to zero files / zero rows
    val none = StatsIndex.prunedRead(spark, dir, Seq(("x", 100000L, 200000L)))
    assert(none.where($"x" >= 100000).count() == 0)
  }
}
