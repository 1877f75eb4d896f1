package graft.tools

import graft.{Bench, LocalSpark, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}

/** Plan and timing probe over the registered queries (not part of the
  * driver contract). Modes:
  *
  *  - `sweep [sfDir [names…]]`: one line per query (all registered
  *    queries by default) with its plan's operator counts — exchanges,
  *    unions, sort aggregates, sort-merge joins, broadcast nested loops,
  *    cartesian products, cache scans, windows — plus the number of
  *    interpreted lambdas and the higher-order functions that carry them,
  *    so a red-flag shape anywhere on the surface shows up in one run;
  *  - `explain <names…>`: the formatted physical plan of each query;
  *  - `time <name> [sfDir]`: three runs of one query, each split into
  *    fn (driver-side actions and plan construction), plan (analysis and
  *    optimization) and exec (the noop sink).
  *
  * The sf dir defaults to `SPARK_GRAFT_SF_DIR`, else sf0.001; the
  * session runs `local[SPARK_GRAFT_CPUS]`, else one slot per core.
  * Usage: sbt 'runMain graft.tools.Probe sweep /root/testdata/sf0.01'
  */
object Probe {

  private val hofNames = Seq("aggregate(", "transform(", "filter(", "exists(",
    "zip_with(", "forall(", "array_sort(lambdafunction", "map_filter(",
    "transform_keys(", "transform_values(", "reduce(")

  private def count(plan: String, tok: String): Int =
    plan.sliding(tok.length).count(_ == tok)

  private val sweepHeader: String =
    f"${"query"}%-28s exch union sortagg smj bnlj cart inmem window lambdas hofs"

  /** The sweep line of one query; a query whose plan cannot be built
    * gets an `ERROR` line instead of stopping the sweep.
    */
  private def sweepLine(spark: SparkSession, sfDir: String, name: String): String =
    try {
      val p = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(SimpleMode)
      val hofs = hofNames.filter(p.contains).map(_.stripSuffix("("))
      f"$name%-28s ${count(p, "Exchange")}%4d ${count(p, "Union")}%5d " +
        f"${count(p, "SortAggregate")}%7d ${count(p, "SortMergeJoin")}%3d " +
        f"${count(p, "BroadcastNestedLoop")}%4d ${count(p, "CartesianProduct")}%4d " +
        f"${count(p, "InMemoryTableScan")}%5d ${count(p, "Window")}%6d " +
        f"${count(p, "lambdafunction")}%7d ${if (hofs.isEmpty) "-" else hofs.mkString("/")}"
    } catch {
      case t: Throwable => f"$name%-28s ERROR ${String.valueOf(t.getMessage).take(80)}"
    }

  /** fn/plan/exec seconds of one run of `name`. */
  private def time(spark: SparkSession, sfDir: String, name: String)
      : (Double, Double, Double) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    val t3 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  /** Runs one mode, handing each output line to `out`. */
  def run(spark: SparkSession, args: Seq[String], out: String => Unit): Unit = {
    val defaultSf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    def known(names: Seq[String]): Seq[String] = {
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      names
    }
    args match {
      case "sweep" +: rest =>
        val sfDir = rest.headOption.getOrElse(defaultSf)
        val names =
          if (rest.size > 1) known(rest.tail) else SparkEntry.queries.keys.toSeq.sorted
        out(sweepHeader)
        names.foreach(n => out(sweepLine(spark, sfDir, n)))
      case "explain" +: names if names.nonEmpty =>
        known(names).foreach { n =>
          out(s"\n========== $n ==========")
          try out(SparkEntry.queries(n)(spark, defaultSf).queryExecution
            .explainString(FormattedMode))
          catch { case e: Throwable => out(s"explain failed: $e") }
        }
      case Seq("time", name, sfOpt @ _*) if sfOpt.size <= 1 =>
        known(Seq(name))
        val sfDir = sfOpt.headOption.getOrElse(defaultSf)
        // warmup: JIT, codegen and parquet footer caches, as in Bench
        try time(spark, sfDir, "q1_agg") catch { case _: Throwable => () }
        Bench.drainBlocks(spark)
        (1 to 3).foreach { i =>
          val (fn, plan, exec) = time(spark, sfDir, name)
          out(f"[probe] $name run$i fn=$fn%.2fs plan=$plan%.2fs " +
            f"exec=$exec%.2fs total=${fn + plan + exec}%.2fs")
          Bench.drainBlocks(spark)
        }
      case _ =>
        throw new IllegalArgumentException(
          "usage: Probe sweep [sfDir [names…]] | explain <names…> | time <name> [sfDir]")
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = LocalSpark.session(cpus, "graft-probe")
    try run(spark, args.toSeq, println) finally spark.stop()
  }
}
