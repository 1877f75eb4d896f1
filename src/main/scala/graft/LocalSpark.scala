package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe of graft's mains ([[Bench]], [[Verify]],
  * [[StreamBench]], [[tools.Probe]]): `local[cpus]` with the engine's
  * extensions (SQL functions and the RANGE_JOIN hint) and the settings
  * every registered query assumes.
  */
object LocalSpark {
  def session(cpus: String, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // driver testdata carries TIMESTAMP(NANOS) parquet columns, which the
      // Spark reader rejects unless surfaced as nanos-longs (graft converts
      // them explicitly where used — see SparkEntry.tsMillis)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
