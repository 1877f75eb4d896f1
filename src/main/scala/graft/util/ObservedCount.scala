package graft.util

import graft.schema.CollectionId
import graft.sinks.EventSink
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Reads a row count that was folded into a sink write via
  * `df.observe(obs, count(...))` — so the insert and its count accounting
  * share ONE job instead of executing the (expensive) parse/decode plan
  * twice (round-1 verdict #4/#5).
  *
  * The write itself is synchronous, but observed metrics are delivered on
  * the listener bus (async), so this polls briefly; if no metrics ever
  * arrive — e.g. an idempotent sink short-circuited a replayed batch and
  * ran NO action at all — it falls back to the caller's explicit count
  * (replays are rare; paying one extra job there is fine).
  */
object ObservedCount {

  def apply(obs: Observation, metric: String = "n")(fallback: => Long): Long = {
    // obs.future completes when the listener delivers the observed row;
    // Await with a bounded timeout (Observation.get would block forever on
    // a short-circuited write). The write call is synchronous, so when an
    // action DID run the metrics land within milliseconds — 2 s only ever
    // elapses on the no-action path (e.g. an idempotent sink skipping a
    // replayed batch), keeping a C-collection replay at ~2C s worst case
    // instead of stalling recovery.
    try {
      val row = scala.concurrent.Await.result(
        obs.future, scala.concurrent.duration.Duration(2, "s"))
      row.getAs[Any](metric) match {
        case n: Number => n.longValue()
        case _         => fallback
      }
    } catch { case _: java.util.concurrent.TimeoutException => fallback }
  }

  /** One insert attempt with the row count riding the write job — the
    * single shared implementation for every batch path. The Observation is
    * created PER ATTEMPT: Spark's listener completes an observation on a
    * FAILED execution too (with a zero/partial row), so reusing one across
    * a retry would return the poisoned first-attempt count after a
    * successful retry. Callers wrap THIS in their retry policy.
    */
  def insertCounted(sink: EventSink, id: CollectionId, df: DataFrame,
                    batchId: Long): Long = {
    val obs = Observation()
    sink.insert(id, df.observe(obs, count(lit(1)).as("n")), batchId)
    apply(obs)(df.count())
  }
}
