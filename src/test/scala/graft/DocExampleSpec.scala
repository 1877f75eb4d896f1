package graft

import graft.schema.EventSchema
import graft.sinks.ColumnarSink
import graft.streaming.{IngestConfig, IngestStream}

import java.nio.file.Files

/** Pins the README "Quick start" example — same calls, file source instead
  * of the Kafka broker.
  */
class DocExampleSpec extends SparkSpec {
  test("README quick start compiles and runs against the file source") {
    val inDir = Files.createTempDirectory("qs_in")
    val dataDir = Files.createTempDirectory("qs_data").toString
    val ckpt = Files.createTempDirectory("qs_chk").toString
    val now = System.currentTimeMillis()
    Files.write(inDir.resolve("b1.json"), Seq(
      s"""{"data":{"_project":"demo","_collection":"clicks","_time":$now,"_user":"u1","page":"/a"}}""",
      s"""{"data":{"_project":"demo","_collection":"spam","_time":$now,"_user":"u2"}}"""
    ).mkString("\n").getBytes)

    val registry = new EventSchema.Registry()          // in-flight schema authority
    val sink     = new ColumnarSink(dataDir)           // partitioned, idempotent batches

    val query = IngestStream.start(
      spark,
      IngestStream.fileSource(spark, inDir.toString),  // kafkaSource on a real broker
      registry, sink,
      historical = None,
      checkpointDir = ckpt,
      IngestConfig(
        collectionWhitelist = Seq("clicks", "views"),
        dedupWithinWatermark = Some("30 days")))       // TTL'd (_user,_time) dedup
    try query.processAllAvailable() finally query.stop()

    // later, query the sink like any table:
    val n = spark.read.option("mergeSchema", "true")
      .parquet(s"$dataDir/project=demo/collection=clicks").count()
    assert(n == 1) // whitelist dropped the spam collection
  }

  test("README training-data preparation example runs end to end") {
    import graft.functions.{DedupFunctions, TextFunctions}
    import graft.operators.{DocPipeline, Sampling}
    import org.apache.spark.sql.functions._

    val docs = sf("documents")

    val cleaned = DocPipeline.clean(docs, "doc_id", "text",
      DocPipeline.Config(lang = "en", minQualityBp = 2500))

    val pairs    = DedupFunctions.minhashCandidates(cleaned, "doc_id", "text")
    val clusters = DedupFunctions.connectedComponentsAlternating(pairs, "id_a", "id_b")
    assert(clusters.columns.toSeq == Seq("v", "label"))
    val deduped  = DedupFunctions.keepRepresentatives(cleaned, pairs, "doc_id")
    assert(deduped.count() <= cleaned.count())

    val evalSet = docs.filter(col("doc_id") < 5)
    val dirty   = DedupFunctions.ngramContamination(deduped, evalSet, "doc_id", "text")
    val corpus  = Sampling.deterministicSample(
        deduped.join(dirty, Seq("doc_id"), "left_anti"), "doc_id", 5000, "run1")
      .select(col("doc_id"),
        posexplode(TextFunctions.chunks(col("text"), 512, 64))
          .as(Seq("chunk_idx", "chunk")))
    val rows = corpus.count()
    assert(rows > 0 && corpus.columns.toSeq == Seq("doc_id", "chunk_idx", "chunk"))

    // readiness report → splits → block plan → shard export
    val report = DocPipeline.scorecard(deduped, "doc_id", "text")
    assert(report.count() == deduped.count() &&
      report.columns.contains("all_ok"))
    val splits = Sampling.assignSplits(deduped, "doc_id")
    val packed = Sampling.packBlocks(
      splits.where(col("split") === "train")
        .withColumn("n_tok", TextFunctions.tokenCount(col("text")).cast("long")),
      "doc_id", "n_tok", blockTokens = 2048, numShards = 4)
    assert(packed.columns.contains("block_start") && packed.count() > 0)
    val shardDir = Files.createTempDirectory("shards").toString + "/out"
    Sampling.exportShuffled(deduped, "doc_id", shardDir, numShards = 4)
    assert(spark.read.parquet(shardDir).count() == deduped.count())
  }
}
