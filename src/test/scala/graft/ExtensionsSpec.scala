package graft

import graft.operators.SkewOps
import graft.schema.{CollectionId, EventSchema}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions registers native expressions as SQL functions") {
    // getOrCreate would return the shared extension-less session; register
    // on it directly (same builders the extensions path injects)
    val s = spark
    GraftExtensions.register(s)
    locally {
      val row = s.sql(
        """SELECT rolling_hash('hello world') AS rh,
          |       word_shingles('a b c d', 3) AS ws,
          |       simhash60(array('x','y')) AS sh,
          |       minhash60(array('a b c'), 4) AS mh,
          |       cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs,
          |       sorted_jaccard(array(1L,2L,3L), array(2L,3L,4L)) AS sj,
          |       hyperplane_bucket(array(1.0d, 0.5d), 3) AS hb
          |""".stripMargin).head()
      assert(row.getLong(0) != 0L)
      assert(row.getSeq[String](1).toSeq == Seq("a b c", "b c d"))
      assert(row.getLong(2) != 0L)
      assert(row.getSeq[Long](3).size == 4)
      assert(row.getDouble(4) == 1.0)
      assert(row.getDouble(5) == 0.5)
      assert(row.getLong(6) >= 0L && row.getLong(6) < 8L)
    }
  }

  test("profiler: per-column rows/nulls/distinct/min/max") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("a"))).toDF("id", "s")
    val p = graft.operators.Profiler.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("id").getLong(1) == 3 && p("id").getLong(2) == 0)
    assert(p("id").getLong(3) == 3)                       // distinct ids
    assert(p("id").getString(4) == "1" && p("id").getString(5) == "3")
    assert(p("s").getLong(2) == 1)                        // one null
    assert(p("s").getLong(3) == 1)                        // distinct non-null
    assert(p("s").getString(4) == "a" && p("s").getString(5) == "a")
  }

  test("saveIfChanged skips the filesystem when nothing evolved") {
    val registry = new EventSchema.Registry()
    val id = CollectionId("p", "c")
    registry.addColumns(id, StructType(Seq(StructField("a", DoubleType))))
    val dir = java.nio.file.Files.createTempDirectory("reg").toString + "/reg"
    val conf = spark.sparkContext.hadoopConfiguration
    assert(registry.saveShardedIfChanged(dir, conf))        // first save runs
    assert(!registry.saveShardedIfChanged(dir, conf))       // steady state: skipped
    registry.addColumns(id, StructType(Seq(StructField("b", StringType))))
    assert(registry.saveShardedIfChanged(dir, conf))        // evolution → save
    // re-observing existing columns is NOT a change
    registry.addColumns(id, StructType(Seq(StructField("b", StringType))))
    assert(!registry.saveShardedIfChanged(dir, conf))
    // a fresh registry that LOADS is already durable — no immediate re-save
    val loaded = new EventSchema.Registry()
    assert(loaded.loadSharded(dir, conf))
    assert(!loaded.saveShardedIfChanged(dir, conf))
  }

  test("sharded registry: 1k collections, per-project files, changed shards only, merge-on-load") {
    val conf = spark.sparkContext.hadoopConfiguration
    val registry = new EventSchema.Registry()
    // 1k collections over 20 projects — the 10k-collection shape scaled
    // down: one registry file would re-serialize all of them on any
    // change; shards bound each write to one project
    for (p <- 0 until 20; c <- 0 until 50)
      registry.addColumns(CollectionId(s"proj$p", s"coll$c"),
        StructType(Seq(StructField(s"f$c", DoubleType))))
    val dir = java.nio.file.Files.createTempDirectory("regshard").toString + "/reg"
    assert(registry.saveShardedIfChanged(dir, conf))
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
    assert(files.length == 20, s"expected one shard per project, got ${files.length}")
    assert(files.map(_.getName).toSet == (0 until 20).map(p => s"proj$p.json").toSet)
    // steady state: nothing rewritten
    assert(!registry.saveShardedIfChanged(dir, conf))
    // one project evolves → exactly that shard rewritten. Every shard
    // first gets a trailing newline (still valid JSON), written through the
    // same filesystem so its checksum stays valid; a rewrite drops it
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def shard(name: String) = new org.apache.hadoop.fs.Path(s"$dir/$name")
    def read(name: String) = {
      val in = fs.open(shard(name))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    files.map(_.getName).foreach { name =>
      val body = read(name)
      val out = fs.create(shard(name), true)
      try out.write((body + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    registry.addColumns(CollectionId("proj7", "coll0"),
      StructType(Seq(StructField("extra", StringType))))
    assert(registry.saveShardedIfChanged(dir, conf))
    val rewritten = files.map(_.getName).filterNot(read(_).endsWith("\n")).toSeq
    assert(rewritten == Seq("proj7.json"), s"rewritten shards: $rewritten")
    assert(read("proj7.json").contains("\"extra\""))

    // fresh load: all 1000 collections back, loaded state already durable
    val loaded = new EventSchema.Registry()
    assert(loaded.loadSharded(dir, conf))
    assert(loaded.all.size == 1000)
    assert(loaded.get(CollectionId("proj7", "coll0")).get.fieldNames
      .contains("extra"))
    assert(!loaded.saveShardedIfChanged(dir, conf))

    // merge-on-load still green through the sharded path: pre-registered
    // in-memory schemas fold in (not clobbered) and stay save-pending
    val merging = new EventSchema.Registry()
    merging.addColumns(CollectionId("proj0", "coll0"),
      StructType(Seq(StructField("pre", StringType))))
    assert(merging.loadSharded(dir, conf))
    val merged = merging.get(CollectionId("proj0", "coll0")).get
    assert(merged.fieldNames.contains("pre") && merged.fieldNames.contains("f0"))
    assert(merging.saveShardedIfChanged(dir, conf),
      "pre-registered schema must survive to the next save")
  }

  test("sharded registry GC: a removed project's shard is deleted, not resurrected") {
    val conf = spark.sparkContext.hadoopConfiguration
    val registry = new EventSchema.Registry()
    for (p <- 0 until 3; c <- 0 until 5)
      registry.addColumns(CollectionId(s"gcp$p", s"coll$c"),
        StructType(Seq(StructField(s"f$c", DoubleType))))
    val dir = java.nio.file.Files.createTempDirectory("reggc").toString + "/reg"
    assert(registry.saveShardedIfChanged(dir, conf))
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".json")) == 3)

    // remove with NO other evolution: the save must still fire (to delete
    // the orphan shard) even though no surviving project changed
    registry.removeProject("gcp1")
    assert(registry.saveShardedIfChanged(dir, conf))
    val names = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".json")).map(_.getName).toSet
    assert(names == Set("gcp0.json", "gcp2.json"),
      s"deleted project's shard not GC'd: $names")
    // steady state after the GC: nothing to write or delete
    assert(!registry.saveShardedIfChanged(dir, conf))

    // the deleted project must NOT come back on a fresh load
    val loaded = new EventSchema.Registry()
    assert(loaded.loadSharded(dir, conf))
    assert(loaded.all.keys.map(_.project).toSet == Set("gcp0", "gcp2"))

    // a stale shard from an old run (project absent from the registry)
    // is swept by the next changed save, even without removeProject
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(dir, "stale.json"),
      """[{"project":"stale","collection":"c","schema":{"type":"struct","fields":[]}}]""")
    registry.addColumns(CollectionId("gcp0", "newc"),
      StructType(Seq(StructField("x", DoubleType))))
    assert(registry.saveShardedIfChanged(dir, conf))
    assert(!new java.io.File(dir).listFiles().map(_.getName).contains("stale.json"),
      "stale shard survived a changed save")
  }

  test("registry evolution is thread-safe under concurrent addColumns") {
    import scala.jdk.CollectionConverters._
    val registry = new EventSchema.Registry()
    val id = CollectionId("p", "c")
    // 8 threads race to add disjoint column sets; compute() must serialize
    // the merges so no observed column is lost and order stays stable
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 20).foreach { i =>
            registry.addColumns(id, StructType(Seq(
              StructField(s"c${t}_$i", DoubleType))))
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val names = registry.get(id).get.fieldNames.toSet
    val expected = (for (t <- 0 until 8; i <- 0 until 20) yield s"c${t}_$i").toSet
    assert(expected.subsetOf(names), s"lost columns: ${expected -- names}")
    // defaults (_time/_user) lead; every later evolve preserves the order
    assert(registry.get(id).get.fieldNames.take(2).toSeq == Seq("_time", "_user"))
  }

  test("two concurrent save writers evolving one project never lose columns") {
    // the deployed shape: two streaming queries in ONE driver share the
    // registry and each runs addColumns + saveShardedIfChanged inside its
    // own commit barrier. Saves serialize on the registry (see
    // saveShardedIfChanged), so no interleaving can leave the on-disk
    // shard missing a column that a version skip then hides. (Cross-driver
    // writers are out of scope by design — two separate processes must
    // merge through loadSharded, mirroring the reference's single
    // metastore DAO.)
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("regrace").toString + "/reg"
    val registry = new EventSchema.Registry()
    val id1 = CollectionId("racep", "stream1")
    val id2 = CollectionId("racep", "stream2") // same project → same shard
    val rounds = 25
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until rounds).foreach { i =>
            registry.addColumns(if (w == 1) id1 else id2,
              StructType(Seq(StructField(s"w${w}_f$i", DoubleType))))
            barrier.await() // maximal interleave: both saves race each round
            registry.saveShardedIfChanged(dir, conf)
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    // no trailing flush on the shared registry: the LAST racing save must
    // already have persisted every column either writer added before it
    val loaded = new EventSchema.Registry()
    assert(loaded.loadSharded(dir, conf))
    val c1 = loaded.get(id1).get.fieldNames.toSet
    val c2 = loaded.get(id2).get.fieldNames.toSet
    val miss1 = (0 until rounds).map(i => s"w1_f$i").filterNot(c1)
    val miss2 = (0 until rounds).map(i => s"w2_f$i").filterNot(c2)
    assert(miss1.isEmpty && miss2.isEmpty,
      s"lost columns on disk: $miss1 $miss2")
    // and the version bookkeeping is consistent with the disk state:
    // nothing evolved since the last save, so the next one is a no-op
    assert(!registry.saveShardedIfChanged(dir, conf))
  }

  test("saltedJoin equals plain join; saltedCount equals plain count") {
    import spark.implicits._
    // skewed: 90% of rows share key 1
    val large = ((1 to 900).map(i => (1, s"v$i")) ++ (1 to 100).map(i => (i + 1, s"w$i")))
      .toDF("k", "v")
    val small = (1 to 101).map(i => (i, s"dim$i")).toDF("k", "d")
    val plain = large.join(small, Seq("k")).count()
    val salted = SkewOps.saltedJoin(large, small, "k", salts = 8).count()
    assert(plain == salted)
    val counts = SkewOps.saltedCount(large, "k", salts = 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts(1) == 900 && counts(50) == 1)
  }

  test("load merges into pre-registered schemas instead of clobbering them") {
    val conf = spark.sparkContext.hadoopConfiguration
    val id = CollectionId("p", "c")
    // durable state from an earlier run: _time, a:int
    val old = new EventSchema.Registry()
    old.put(id, StructType(Seq(
      StructField("_time", TimestampType), StructField("a", IntegerType))))
    val dir = java.nio.file.Files.createTempDirectory("regmerge").toString + "/reg"
    assert(old.saveShardedIfChanged(dir, conf))

    // restarted driver pre-registers BEFORE load (startAvro window): the
    // same collection evolved — a widened to long, new column b
    val reg = new EventSchema.Registry()
    reg.addColumns(id, StructType(Seq(
      StructField("a", LongType), StructField("b", StringType))))
    assert(reg.loadSharded(dir, conf))

    // evolve semantics: file's authoritative order leads, pre-registered
    // extras append, common types widen — NOT the file's stale schema
    val merged = reg.get(id).get
    assert(merged.fieldNames.toSeq == Seq("_time", "a", "_user", "b"))
    assert(merged("a").dataType == LongType, "stale file type clobbered the widened one")
    assert(merged("b").dataType == StringType)
    // the merged (not-yet-durable) state must still trigger a save
    assert(reg.saveShardedIfChanged(dir, conf))
    assert(!reg.saveShardedIfChanged(dir, conf))
  }

  test("registry save/load round-trips authoritative order") {
    val reg = new EventSchema.Registry()
    val id = CollectionId("p", "c")
    reg.put(id, StructType(Seq(
      StructField("_time", TimestampType), StructField("zed", DoubleType),
      StructField("arr", ArrayType(StringType)))))
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("regrt").toString + "/reg"
    assert(reg.saveShardedIfChanged(dir, conf))
    val reg2 = new EventSchema.Registry()
    assert(reg2.loadSharded(dir, conf))
    assert(reg2.get(id).get.fieldNames.toSeq == Seq("_time", "zed", "arr"))
    assert(reg2.get(id).get("arr").dataType == ArrayType(StringType))
  }
}
