package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Run through `perfbench/run.py`, which builds the
  * program from source and launches this class:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        [--out <dir>] [--cores <n>] [--smoke] [--plant-loss]
  *
  * The last stdout line is one JSON object: `correct`, `attempted`, `failed`
  * and `metrics` (the end-to-end metrics, or the per-layer ones with
  * `--trace 1`). The exit code is nonzero when an output check fails.
  */
object Main {
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  val workloads = Seq("json_poll", "avro_poll", "ref_stress")

  /** Per-layer metrics printed by a traced run, in order. A layer a
    * workload does not run reports zero work.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "source.lag_ms" -> "ms", "source.rows" -> "count",
    "decouple.busy_ms" -> "ms", "decouple.cpu_ms" -> "ms", "decouple.rows_in" -> "count",
    "decouple.rows_out" -> "count",
    "split.busy_ms" -> "ms", "split.historical_rows" -> "count", "split.jobs" -> "count",
    "split.self_ms" -> "ms",
    "infer.busy_ms" -> "ms", "infer.cpu_ms" -> "ms", "infer.rows" -> "count", "infer.self_ms" -> "ms",
    "registry.evolutions" -> "count", "registry.persist_ms" -> "ms", "registry.collections" -> "count",
    "parse.busy_ms" -> "ms", "parse.cpu_ms" -> "ms", "parse.rows_out" -> "count",
    "parse.single_writes" -> "count", "parse.cohort_writes" -> "count", "parse.self_ms" -> "ms",
    "avro.busy_ms" -> "ms", "avro.cpu_ms" -> "ms", "avro.rows_out" -> "count", "avro.self_ms" -> "ms",
    "dedup.busy_ms" -> "ms", "dedup.self_ms" -> "ms", "dedup.drop_ratio" -> "ratio",
    "dedup.state_rows" -> "count", "dedup.state_bytes" -> "bytes", "dedup.state_commit_ms" -> "ms",
    "sink.busy_ms" -> "ms", "sink.calls" -> "count", "sink.files" -> "count", "sink.bytes" -> "bytes",
    "sink.retries" -> "count", "sink.jobs" -> "count", "sink.self_ms" -> "ms",
    "barrier.add_batch_ms" -> "ms", "barrier.commit_ms" -> "ms", "barrier.driver_gap_ms" -> "ms",
    "barrier.jobs" -> "count", "engine.self_ms" -> "ms",
    "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes", "spark.gc_ms" -> "ms",
    "spark.tasks" -> "count",
    "bench.canary_ms" -> "ms", "bench.gen_late_ms" -> "ms", "bench.traced_batch_p50_ms" -> "ms")

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A fixed CPU-bound job, timed beside every run: a slow canary marks a
    * loud machine, not a slow program.
    */
  def canaryMs(spark: SparkSession): Double = {
    val t = System.nanoTime()
    spark.range(0L, 40000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(hash(id) % 1000)").collect()
    (System.nanoTime() - t) / 1e6
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric is not a number: $v")
    else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val o = RunOpts(
      workload = arg(args, "--workload").getOrElse(sys.error("--workload is required")),
      seed = arg(args, "--seed").map(_.toLong).getOrElse(1L),
      seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10),
      trace = arg(args, "--trace").contains("1"),
      work = new File(arg(args, "--work").getOrElse(sys.error("--work is required"))),
      cores = arg(args, "--cores").map(_.toInt).getOrElse(4),
      smoke = args.contains("--smoke"),
      plantLoss = args.contains("--plant-loss"))
    require(workloads.contains(o.workload), s"unknown workload ${o.workload}; one of ${workloads.mkString(", ")}")
    val out = new File(arg(args, "--out").getOrElse(new File(o.work, "out").getPath))
    o.work.mkdirs()
    val spark = session(o.cores, o.work)
    val tracer = if (o.trace) Some(new Tracer(out, o.workload)) else None
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    canaryMs(spark) // the first job pays JIT and codegen warm-up; untimed
    val canaryBefore = canaryMs(spark)
    val r = o.workload match {
      case "json_poll"  => Workloads.drain(spark, o, avro = false, tracer)
      case "avro_poll"  => Workloads.drain(spark, o, avro = true, tracer)
      case "ref_stress" => Workloads.refStress(spark, o, tracer)
    }
    val canaryAfter = canaryMs(spark)
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)
    val endToEnd = r.endToEnd :+ (("peak_rss_mb", rssMb, "MB"))
    r.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val errorFrac = r.failed.toDouble / math.max(1L, r.attempted)
    val detail = (r.detail ++ endToEnd.map(m => m._1 -> m._2) ++ Map(
      "session_s" -> sessionS, "canary_before_ms" -> canaryBefore, "canary_after_ms" -> canaryAfter,
      "error_frac" -> errorFrac)).toSeq.sortBy(_._1)
    println("{\"detail\":{" + detail.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",") + "}}")
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => endToEnd
      case Some(t) =>
        t.metrics("bench.canary_ms") = (canaryBefore + canaryAfter) / 2
        t.metrics("bench.gen_late_ms") = t.genLateMs
        t.metrics("bench.traced_batch_p50_ms") = endToEnd.find(_._1 == "batch_p50_ms").get._2
        val f = t.write()
        System.err.println(s"[perfbench] spans and layer table written under ${f.getParent}")
        perLayer.map { case (k, u) =>
          (k, t.metrics.getOrElse(k, throw new IllegalStateException(s"traced run produced no $k")), u)
        }
    }
    spark.stop()
    val correct = r.failed == 0 && r.problems.isEmpty
    println(s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},"metrics":{""" +
      metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",") + "}}")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
