package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Test access to the RDD blocks the driver's block manager holds. A
  * persisted RDD that nothing released keeps its blocks only until GC
  * lets the context cleaner drop them, so a spec that checks for
  * released pins holds the cleaner off while it looks.
  */
object RddBlocks {

  /** Run `body` while the cleaner cannot clean: its thread cleans only
    * while holding the cleaner's own monitor.
    */
  def withoutCleaner[T](sc: SparkContext)(body: => T): T = sc.cleaner match {
    case Some(c) => c.synchronized(body)
    case None    => body
  }

  /** Ids of the RDDs with blocks in the driver's block manager. */
  def held(sc: SparkContext): Set[Int] =
    sc.env.blockManager.getMatchingBlockIds(_.isRDD)
      .collect { case RDDBlockId(id, _) => id }.toSet
}
