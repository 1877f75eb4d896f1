package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Loses one cached block of a persisted RDD, as an evicted block or a
  * lost executor does (the block manager is private to Spark). The next
  * task that reads that partition recomputes it from the RDD's lineage and
  * caches it again. Local mode only: the driver's block manager is the
  * executor's.
  */
object CachedBlockLoss {

  /** Removes the cached partition `partition` of the newest persisted RDD
    * named `name`, and returns its block id. Throws when there is no such
    * RDD or the block is not cached, so a test cannot drop nothing.
    */
  def drop(sc: SparkContext, name: String, partition: Int = 0): RDDBlockId = {
    val rdd = sc.getPersistentRDDs.values.filter(_.name == name).toSeq
      .sortBy(_.id).lastOption.getOrElse(
        throw new IllegalStateException(s"no persisted RDD named '$name'"))
    val block = RDDBlockId(rdd.id, partition)
    if (!isCached(block)) throw new IllegalStateException(s"$block is not cached")
    SparkEnv.get.blockManager.removeBlock(block, tellMaster = true)
    if (isCached(block)) throw new IllegalStateException(s"$block is still cached")
    block
  }

  /** Whether some block manager holds `block`. */
  def isCached(block: RDDBlockId): Boolean =
    SparkEnv.get.blockManager.master.getLocations(block).nonEmpty
}
