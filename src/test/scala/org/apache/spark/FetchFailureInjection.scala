package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.shuffle.FetchFailedException

import scala.reflect.ClassTag

/** Makes Spark recompute a shuffle-map stage, as a lost shuffle file does
  * (the map output tracker and `FetchFailedException` are private to
  * Spark). The first attempt of the stage that reads `rdd`'s nearest
  * shuffle reads all of its partition 0, then drops every map output of
  * that shuffle and fails with a fetch failure. The scheduler reruns the
  * whole map stage, then the reduce partitions that have not finished;
  * the ones that did finish in the first attempt keep their results.
  * Local mode only: the task and the map output tracker share one JVM.
  */
object FetchFailureInjection {
  def failFirstAttempt[T: ClassTag](rdd: RDD[T]): RDD[T] = {
    val shuffleId = shuffleOf(rdd)
    rdd.mapPartitionsWithIndex { (partition, rows) =>
      if (partition != 0 || TaskContext.get().stageAttemptNumber() > 0) rows
      else {
        rows.foreach(_ => ())
        SparkEnv.get.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
          .unregisterAllMapAndMergeOutput(shuffleId)
        throw new FetchFailedException(null, shuffleId, -1L, -1, partition,
          "injected: map outputs lost")
      }
    }
  }

  /** The id of the shuffle whose map outputs [[failFirstAttempt]] drops. */
  def shuffleOf(rdd: RDD[_]): Int = nearestShuffle(rdd).getOrElse(
    throw new IllegalArgumentException(s"no shuffle in the lineage of $rdd")).shuffleId

  private def nearestShuffle(rdd: RDD[_]): Option[ShuffleDependency[_, _, _]] =
    rdd.dependencies.collectFirst { case s: ShuffleDependency[_, _, _] => s }
      .orElse(rdd.dependencies.iterator.flatMap(d => nearestShuffle(d.rdd)).nextOption())
}
