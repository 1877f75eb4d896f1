package graft

import graft.ingest.{JsonDialect, JsonEventParser}
import graft.operators.EventOps
import graft.schema.FieldNames
import org.apache.spark.sql.functions._

class EventOpsSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private def fabric(coll: String, time: String, extra: String = ""): String =
    s"""{"data":{"_project":"p","_collection":"$coll","_time":$time$extra}}"""

  test("decouple: reads only routing+time, early-exit, malformed → nulls") {
    import spark.implicits._
    val rows = Seq(
      fabric("a", "1700000000000"),
      """{"data":{"_collection":"c","big":{"x":[1,2,3]},"_project":"p","_time":"2024-01-02 03:04:05"}}""",
      """garbage""",
      """{"data":{"_project":"p","_collection":"c"}}"""
    ).toDS()
    val out = EventOps.decouple(rows, JsonDialect.Fabric).collect()
    assert(out(0).getAs[String]("_collection") == "a")
    assert(out(0).getAs[java.sql.Timestamp]("_time").getTime == 1700000000000L)
    // routing fields after data fields still found (testOrdering equivalent)
    assert(out(1).getAs[String]("_collection") == "c")
    assert(out(1).getAs[java.sql.Timestamp]("_time").getTime ==
      java.time.Instant.parse("2024-01-02T03:04:05Z").toEpochMilli)
    assert(out(2).getAs[String]("_project") == null)
    assert(out(3).getAs[String]("_collection") == "c") // no _time → null time
    assert(out(3).getAs[java.sql.Timestamp]("_time") == null)
  }

  test("whitelist drops non-members") {
    import spark.implicits._
    val df = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("_collection", "v")
    val kept = EventOps.whitelist(df, Seq("A", "c")).collect().map(_.getString(0)).sorted
    assert(kept.toSeq == Seq("a", "c"))
    assert(EventOps.whitelist(df, Nil).count() == 3) // empty list = allow all
  }

  test("daySplit: window, promotion heuristic, null times → historical") {
    import spark.implicits._
    val today = java.sql.Date.valueOf("2024-03-10")
    def ts(day: String) = java.sql.Timestamp.valueOf(s"$day 12:00:00")
    // 4 in-window, 1500 on one old day (promoted: >1000 and >25%), 3 on
    // another old day (not promoted), 1 null
    val rows =
      (1 to 2).map(_ => ts("2024-03-10")) ++ (1 to 2).map(_ => ts("2024-03-09")) ++
      (1 to 1500).map(_ => ts("2024-02-01")) ++ (1 to 3).map(_ => ts("2023-12-25")) :+
      null.asInstanceOf[java.sql.Timestamp]
    val df = rows.toDF("_time")
    val split = EventOps.daySplit(df, col("_time"), today = lit(today))
    assert(split.promotedDays == Set(38)) // 2024-02-01 is 38 days before today
    assert(split.realTime.count() == 4 + 1500)
    assert(split.historical.count() == 3 + 1)

    // without the burst, the old day stays historical
    val small = ((1 to 2).map(_ => ts("2024-03-10")) ++ (1 to 3).map(_ => ts("2024-02-01"))).toDF("_time")
    val s2 = EventOps.daySplit(small, col("_time"), today = lit(today))
    assert(s2.promotedDays.isEmpty && s2.realTime.count() == 2 && s2.historical.count() == 3)
  }

  test("daySplit runs ONE histogram job (r14 single-pass fusion pin)") {
    import spark.implicits._
    val today = java.sql.Date.valueOf("2024-03-12")
    def ts(d: String) = java.sql.Timestamp.valueOf(d + " 00:00:00")
    val df = ((1 to 50).map(_ => ts("2024-03-12")) ++
      (1 to 30).map(_ => ts("2024-01-05"))).toDF("_time")
    df.count() // materialize scan-side caches before counting jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      EventOps.daySplit(df, col("_time"), today = lit(today))
      // listener delivery is async: every job start was posted before
      // daySplit returned, so a drained bus holds the complete count
      org.apache.spark.ListenerBusWait.drain(spark.sparkContext)
      assert(jobs.get() >= 1, "the listener saw no daySplit job")
      // ONE action: the full-day histogram collect (AQE splits one
      // aggregate action into at most 2 jobs — shuffle stage + result
      // stage). The pre-r14 shape ran a SECOND action (the in-window
      // count), which lands at 3-4 jobs under the same accounting.
      assert(jobs.get() <= 2, s"daySplit ran ${jobs.get()} jobs — a second " +
        "histogram/count action is back (expected <=2: one AQE-staged collect)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("daySplit pins today: a clock flip after the split neither loses nor duplicates a record") {
    import spark.implicits._
    def date(d: String) = java.sql.Date.valueOf(d)
    // three records on each day around a two-day window that ends 03-10
    val days = Seq("2024-03-08", "2024-03-09", "2024-03-10", "2024-03-11", "2024-03-12")
    val df = days.flatMap(d => (1 to 3).map(i => (java.sql.Timestamp.valueOf(s"$d 12:00:00"), s"$d#$i")))
      .toDF("_time", "id")
    // `today` read off a clock the test moves, evaluated wherever Spark
    // evaluates it
    val today = udf(() => DaySplitClock.today).asNondeterministic()
    DaySplitClock.today = date("2024-03-10")
    val split = EventOps.daySplit(df, col("_time"), today = today())
    // midnight passes before each slice's job
    DaySplitClock.today = date("2024-03-11")
    val realTime = split.realTime.select("id").as[String].collect().toSeq
    DaySplitClock.today = date("2024-03-12")
    val historical = split.historical.select("id").as[String].collect().toSeq
    assert((realTime ++ historical).sorted == df.select("id").as[String].collect().toSeq.sorted,
      s"realTime $realTime + historical $historical is not the input")
    assert(realTime.map(_.take(10)).toSet == Set("2024-03-09", "2024-03-10"))
  }

  test("dedupExact drops repeated (_user,_time) pairs; null keys all pass") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq(("u1", t, 1.0), ("u1", t, 2.0), ("u2", t, 3.0)).toDF("_user", "_time", "v")
    assert(EventOps.dedupExact(df).count() == 2)
    // reference isUnique only acts on PRESENT keys: two null-user rows
    // sharing a _time must both survive (AvroDuplicateHandler.java:93-111)
    val withNulls = Seq((Option("u1"), t, 1.0), (None, t, 2.0), (None, t, 3.0))
      .toDF("_user", "_time", "v")
    assert(EventOps.dedupExact(withNulls).count() == 3)
  }

  test("dedupExact keeps a DETERMINISTIC row: lexicographic min of the rest") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // same (user, time) key across different collections/values: the
    // survivor must be the smallest remaining tuple — stable across
    // reruns and recomputed stages, where dropDuplicates keeps whichever
    // row a partition happens to deliver first
    val df = Seq(
      ("views", "u1", t, 9.0), ("clicks", "u1", t, 5.0),
      ("clicks", "u1", t, 2.0), ("buys", "u2", t, 1.0))
      .toDF("collection", "_user", "_time", "v")
      .repartition(8)
    (1 to 3).foreach { _ =>
      val out = EventOps.dedupExact(df).orderBy("_user")
        .collect().map(r => (r.getString(0), r.getDouble(3))).toSeq
      assert(out == Seq(("clicks", 2.0), ("buys", 1.0)),
        s"nondeterministic or wrong keeper: $out")
    }
  }

  test("dedupExact single-scan: null-key rows survive verbatim in both branches") {
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // orderable branch: null-user duplicates (same _time, same value) must
    // BOTH survive with their original values — they stream through the
    // fold, which may not collapse or mutate them
    val df = Seq(
      (Option("u1"), Option(t), 5.0), (Option("u1"), Option(t), 2.0),
      (None, Option(t), 7.0), (None, Option(t), 7.0),
      (Option("u2"), Option.empty[java.sql.Timestamp], 9.0))
      .toDF("_user", "_time", "v").repartition(4)
    val out = EventOps.dedupExact(df).collect()
      .map(r => (Option(r.getString(0)), Option(r.getTimestamp(1)), r.getDouble(2)))
    assert(out.length == 4)
    assert(out.count(x => x._1.isEmpty && x._3 == 7.0) == 2)   // both null-user rows
    assert(out.count(x => x._2.isEmpty && x._3 == 9.0) == 1)   // null-time row
    assert(out.count(x => x._1.contains("u1")) == 1 &&
      out.find(_._1.contains("u1")).get._3 == 2.0)             // deterministic keeper
    // non-orderable branch (map column → first-arrival keeper): same
    // null-key pass-through, keyed dups still collapse
    val m = Seq(
      ("u1", Option(t), Map("a" -> 1)), ("u1", Option(t), Map("a" -> 2)),
      (null.asInstanceOf[String], Option(t), Map("b" -> 3)),
      (null.asInstanceOf[String], Option(t), Map("b" -> 4)))
      .toDF("_user", "_time", "props").repartition(4)
    val outM = EventOps.dedupExact(m)
    assert(outM.count() == 3)
    assert(outM.where($"_user".isNull).count() == 2)
    assert(outM.columns.toSeq == m.columns.toSeq)
  }

  test("concatBatches aligns evolving schemas by name") {
    import spark.implicits._
    val a = Seq((1.0, "x")).toDF("v", "s")
    val b = Seq((2.0, true)).toDF("v", "flag")
    val merged = EventOps.concatBatches(Seq(a, b)).get
    assert(merged.columns.sorted.toSeq == Seq("flag", "s", "v"))
    assert(merged.count() == 2)
    assert(merged.where($"flag".isNull).count() == 1)
  }

  test("withShardTime adds a constant timestamp column") {
    import spark.implicits._
    val df = EventOps.withShardTime(Seq(1, 2).toDF("v"))
    assert(df.columns.contains("_shard_time"))
    assert(df.select("_shard_time").distinct().count() == 1)
  }
}

/** A wall clock the day-split test moves by hand. */
object DaySplitClock {
  @volatile var today: java.sql.Date = java.sql.Date.valueOf("2024-03-10")
}
