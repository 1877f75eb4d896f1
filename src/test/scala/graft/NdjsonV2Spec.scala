package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream
import scala.jdk.CollectionConverters._

class NdjsonV2Spec extends SparkSpec {

  private def gzLines(dir: Path): Seq[String] =
    Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".ndjson.gz"))
      .flatMap { p =>
        val r = new BufferedReader(new InputStreamReader(
          new GZIPInputStream(Files.newInputStream(p))))
        try Iterator.continually(r.readLine()).takeWhile(_ != null).toList
        finally r.close()
      }.toSeq

  test("DSv2 batch write: staged commit, per-collection layout, gzip NDJSON") {
    import spark.implicits._
    val out = Files.createTempDirectory("v2out")
    Seq(
      ("demo", "clicks", """{"a":1}"""),
      ("demo", "clicks", """{"a":2}"""),
      ("demo", "views", """{"b":1}"""))
      .toDF("project", "collection", "value")
      .write.format("graft-ndjson").mode("append").save(out.toString)

    assert(!Files.exists(out.resolve("_staging"))) // staging cleaned on commit
    val clicks = gzLines(out.resolve("demo/clicks"))
    assert(clicks.toSet == Set("""{"a":1}""", """{"a":2}"""))
    assert(gzLines(out.resolve("demo/views")) == Seq("""{"b":1}"""))
  }

  test("DSv2 read path: round-trip with column pruning") {
    import spark.implicits._
    val out = Files.createTempDirectory("v2rt")
    Seq(
      ("demo", "clicks", """{"a":1}"""),
      ("demo", "views", """{"b":2}"""),
      ("other", "clicks", """{"c":3}"""))
      .toDF("project", "collection", "value")
      .write.format("graft-ndjson").mode("append").save(out.toString)

    val back = spark.read.format("graft-ndjson").load(out.toString)
    assert(back.count() == 3)
    assert(back.where($"project" === "demo").count() == 2)
    val vals = back.where($"collection" === "clicks")
      .select($"value").collect().map(_.getString(0)).toSet
    assert(vals == Set("""{"a":1}""", """{"c":3}"""))
    // pruned scan still works with a subset of columns
    assert(back.select($"collection").distinct().count() == 2)
  }

  test("DSv2 read path: routing filters prune directories at planning time") {
    import spark.implicits._
    val out = Files.createTempDirectory("v2prune")
    Seq(
      ("p1", "clicks", """{"a":1}"""),
      ("p1", "views", """{"a":2}"""),
      ("p2", "clicks", """{"a":3}"""),
      ("p2", "views", """{"a":4}"""))
      .toDF("project", "collection", "value")
      .write.format("graft-ndjson").mode("append").save(out.toString)

    def scanPartitions(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head.inputPartitions.collect {
        case p: graft.sinks.v2.NdjsonFilePartition => p
      }

    val read = () => spark.read.format("graft-ndjson").load(out.toString)

    // equality on both routing columns: exactly one directory planned
    val q1 = read().filter($"project" === "p1" && $"collection" === "clicks")
    assert(q1.select($"value").as[String].collect().toSeq == Seq("""{"a":1}"""))
    val parts1 = scanPartitions(q1)
    assert(parts1.nonEmpty &&
      parts1.forall(p => p.project == "p1" && p.collection == "clicks"))

    // IN-list prunes to the listed collections of one project
    val q2 = read().filter($"project" === "p2" && $"collection".isin("clicks", "views"))
    assert(q2.count() == 2)
    val parts2 = scanPartitions(q2)
    assert(parts2.map(_.collection).sorted == Seq("clicks", "views") &&
      parts2.forall(_.project == "p2"))

    // a disjunction is not separable: nothing pruned, results still correct
    val q3 = read().filter($"project" === "p1" || $"collection" === "views")
    assert(q3.count() == 3)
    assert(scanPartitions(q3).length == 4)
  }

  test("DSv2 streaming write: epochs commit through the same protocol") {
    import spark.implicits._
    val in = Files.createTempDirectory("v2in")
    val out = Files.createTempDirectory("v2out")
    val ckpt = Files.createTempDirectory("v2ckpt")
    Files.write(in.resolve("batch1.txt"), "x1\nx2".getBytes)

    val q = spark.readStream.text(in.toString)
      .select(lit("demo").as("project"), lit("ev").as("collection"),
        $"value")
      .writeStream.format("graft-ndjson")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "the AvailableNow query did not finish within 60 s")

    assert(gzLines(out.resolve("demo/ev")).toSet == Set("x1", "x2"))
  }

  test("commit is idempotent under epoch replay and scoped to its query") {
    import graft.sinks.v2.{NdjsonCommit, StagedFiles}
    val out = Files.createTempDirectory("v2replay")
    val rel = "demo/ev/part-00000-0-qq1-e5.ndjson.gz"
    def stage(qid: String, content: String): String = {
      val staged = out.resolve(s"_staging/$qid/task-x/$rel")
      Files.createDirectories(staged.getParent)
      Files.write(staged, content.getBytes)
      staged.toString
    }
    // a concurrent query's in-flight staging must survive q1's commit
    val otherStaged = stage("q-other", "other")

    val first = stage("q1", "attempt-1")
    NdjsonCommit.rename(out.toString, "q1",
      Array(StagedFiles(Seq((first, rel)))), streaming = true, epoch = 5)
    assert(Files.exists(out.resolve(rel)))
    assert(Files.exists(out.resolve("_epochs/q1/e5"))) // epoch manifest

    // replayed epoch: same final name regenerated — must not throw, must
    // not duplicate, and must clean its own staged copy
    val replay = stage("q1", "attempt-2")
    NdjsonCommit.rename(out.toString, "q1",
      Array(StagedFiles(Seq((replay, rel)))), streaming = true, epoch = 5)
    assert(new String(Files.readAllBytes(out.resolve(rel))) == "attempt-1")
    assert(!Files.exists(out.resolve("_staging/q1")))
    assert(Files.exists(java.nio.file.Paths.get(otherStaged)))

    // replay with a DIFFERENT partition split: new names would not collide,
    // but the epoch manifest blocks the whole duplicate commit
    val rel2 = "demo/ev/part-00009-0-qq1-e5.ndjson.gz"
    val splitReplay = stage("q1", "attempt-3")
    NdjsonCommit.rename(out.toString, "q1",
      Array(StagedFiles(Seq((splitReplay, rel2)))), streaming = true, epoch = 5)
    assert(!Files.exists(out.resolve(rel2)), "different-split replay duplicated data")

    // BATCH commits must never silently skip: a name collision there is a
    // real conflict, not a replay
    val batchDup = stage("q2", "batch-data")
    intercept[java.io.IOException] {
      NdjsonCommit.rename(out.toString, "q2",
        Array(StagedFiles(Seq((batchDup, rel)))), streaming = false)
    }
  }

  test("replay sweep is confined to its own query: concurrent streams share a path safely") {
    import graft.sinks.v2.{NdjsonCommit, StagedFiles}
    val out = Files.createTempDirectory("v2concurrent")
    def stage(qid: String, rel: String, content: String): String = {
      val staged = out.resolve(s"_staging/$qid/task-x/$rel")
      Files.createDirectories(staged.getParent)
      Files.write(staged, content.getBytes)
      staged.toString
    }
    // query A commits epoch 5 into demo/ev
    val relA = "demo/ev/part-00000-0-qqA-e5.ndjson.gz"
    NdjsonCommit.rename(out.toString, "qA",
      Array(StagedFiles(Seq((stage("qA", relA, "A-data"), relA)))),
      streaming = true, epoch = 5)
    assert(Files.exists(out.resolve(relA)))

    // query B crashed mid-commit on ITS epoch 5: one file renamed into the
    // same target dir, no manifest for qB yet
    val relBpartial = "demo/ev/part-00000-0-qqB-e5.ndjson.gz"
    val partial = out.resolve(relBpartial)
    Files.createDirectories(partial.getParent)
    Files.write(partial, "B-partial".getBytes)

    // query B replays epoch 5 with a different split: the rollback sweep
    // must remove ONLY qB's partial file — an epoch-only suffix would have
    // deleted qA's committed epoch-5 data here
    val relB = "demo/ev/part-00007-0-qqB-e5.ndjson.gz"
    NdjsonCommit.rename(out.toString, "qB",
      Array(StagedFiles(Seq((stage("qB", relB, "B-data"), relB)))),
      streaming = true, epoch = 5)

    assert(Files.exists(out.resolve(relA)), "concurrent query's committed file was swept")
    assert(new String(Files.readAllBytes(out.resolve(relA))) == "A-data")
    assert(!Files.exists(partial), "own partial-attempt file must be swept")
    assert(new String(Files.readAllBytes(out.resolve(relB))) == "B-data")
  }

  test("two concurrent streaming queries on one path keep both outputs") {
    import spark.implicits._
    val in1 = Files.createTempDirectory("v2cin1")
    val in2 = Files.createTempDirectory("v2cin2")
    val out = Files.createTempDirectory("v2cout")
    Files.write(in1.resolve("b.txt"), "a1\na2".getBytes)
    Files.write(in2.resolve("b.txt"), "b1".getBytes)

    def start(in: Path, coll: String) = spark.readStream.text(in.toString)
      .select(lit("demo").as("project"), lit(coll).as("collection"), $"value")
      .writeStream.format("graft-ndjson")
      .option("path", out.toString)
      .option("checkpointLocation", Files.createTempDirectory("v2cckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()

    // both run epoch 0 against the same base path
    val q1 = start(in1, "ev1")
    val q2 = start(in2, "ev2")
    assert(q1.awaitTermination(60000) && q2.awaitTermination(60000),
      "an AvailableNow query did not finish within 60 s")

    assert(gzLines(out.resolve("demo/ev1")).toSet == Set("a1", "a2"))
    assert(gzLines(out.resolve("demo/ev2")) == Seq("b1"))
  }

  test("two batch appends to the same path never collide (per-job name token)") {
    import spark.implicits._
    val out = Files.createTempDirectory("v2append")
    Seq(("demo", "ev", "x1")).toDF("project", "collection", "value")
      .write.format("graft-ndjson").mode("append").save(out.toString)
    Seq(("demo", "ev", "x2")).toDF("project", "collection", "value")
      .write.format("graft-ndjson").mode("append").save(out.toString)
    assert(gzLines(out.resolve("demo/ev")).toSet == Set("x1", "x2"))
  }
}
