package graft

import graft.operators.EventOps
import org.apache.spark.{FetchFailed, FetchFailureInjection, ListenerBusWait}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.graftshim.DataFrameBridge
import org.apache.spark.sql.types._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Yields each partition in another order every time it is computed, as a
  * shuffle read does when its blocks arrive in another order.
  */
object ArrivalOrder {
  private val computes = new AtomicInteger
  def vary[T](rows: Iterator[T]): Iterator[T] = {
    val v = rows.toVector
    val k = if (v.isEmpty) 0 else computes.incrementAndGet() % v.size
    (v.drop(k) ++ v.take(k)).iterator
  }
}

/** Batch dedup under a recomputed map stage: the output of a run whose
  * reduce stage loses its map outputs once must equal a clean run's, row
  * for row, when the input's order within partitions is not fixed.
  */
class DedupRecomputeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("_user", StringType), StructField("_time", TimestampType),
    StructField("v", LongType), StructField("s", StringType)))

  // 4 partitions × 500 rows: a third have a null user or time (several
  // of them identical), the rest repeat 60 users × 5 times
  private val rows = (0 until 2000).map { i =>
    val t = new java.sql.Timestamp(1700000000000L + (i % 5) * 1000L)
    if (i % 3 == 0) Row(null, t, (i % 40).toLong, "null-user")
    else if (i % 31 == 0) Row(s"u${i % 60}", null, i.toLong, "null-time")
    else Row(s"u${i % 60}", t, (i * 7919 % 1000).toLong, s"s${i % 13}")
  }

  private def multiset(rs: Array[Row]): Map[Seq[Any], Int] =
    rs.toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  /** The output multiset, and the id of the shuffle under the frame. */
  private def run(inject: Boolean): (Map[Seq[Any], Int], Int) = {
    val src = spark.sparkContext.parallelize(rows, 4).mapPartitions(ArrivalOrder.vary)
    val out = EventOps.dedupExact(spark.createDataFrame(src, schema))
    val rdd = out.queryExecution.toRdd
    (multiset(DataFrameBridge.ofRows(spark,
      if (inject) FetchFailureInjection.failFirstAttempt(rdd) else rdd, out.schema).collect()),
      FetchFailureInjection.shuffleOf(rdd))
  }

  for ((mode, conf) <- Seq(
      "AQE off (streaming batches)" -> Map("spark.sql.adaptive.enabled" -> "false"),
      "AQE on, no coalescing" -> Map("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")))
    test(s"dedupExact: a recomputed map stage keeps the output multiset — $mode") {
      val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
      // (stage, shuffle) of every task that failed on a fetch, and the
      // (stage, attempt) of every stage attempt that ran or failed. The
      // injected task drops all map outputs of its shuffle, so a sibling
      // reduce task may fail first, on a missing output location: any
      // fetch failure of that shuffle counts, whatever its message.
      val fetchFailures = new ConcurrentLinkedQueue[(Int, Int)]
      val submitted = new ConcurrentLinkedQueue[(Int, Int)]
      val failedAttempts = new ConcurrentLinkedQueue[(Int, Int)]
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
          case f: FetchFailed => fetchFailures.add((e.stageId, f.shuffleId))
          case _ => ()
        }
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          submitted.add((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          if (e.stageInfo.failureReason.isDefined)
            failedAttempts.add((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
      }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sparkContext.addSparkListener(listener)
      try {
        val (clean, _) = run(inject = false)
        val (faulted, shuffleId) = run(inject = true)
        ListenerBusWait.drain(spark.sparkContext)
        val reducers = fetchFailures.asScala.collect { case (stage, `shuffleId`) => stage }.toSet
        assert(reducers.size == 1,
          s"the injected fetch failure did not fail one stage reading shuffle $shuffleId: $reducers")
        val reducer = reducers.head
        assert(failedAttempts.asScala.toSeq == Seq(reducer -> 0),
          s"stage $reducer should fail once, in its first attempt: ${failedAttempts.asScala}")
        assert(submitted.asScala.exists { case (s, attempt) => s == reducer && attempt > 0 },
          s"stage $reducer never ran a second attempt")
        val keyed = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
          .map(r => (r.get(0), r.get(1))).distinct.size
        assert(clean.values.sum == rows.count(r => r.isNullAt(0) || r.isNullAt(1)) + keyed)
        val diff = (clean.keySet ++ faulted.keySet).filter(k => clean.get(k) != faulted.get(k))
        assert(diff.isEmpty, s"${diff.size} rows differ after the recompute, e.g. " +
          diff.take(3).map(k => s"$k: clean ${clean.get(k)}, recomputed ${faulted.get(k)}"))
      } finally {
        spark.sparkContext.removeSparkListener(listener)
        before.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    }
}
