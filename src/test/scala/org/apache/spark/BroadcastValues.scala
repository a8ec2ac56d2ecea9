package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test access to the values of the broadcasts the driver still holds,
  * which Spark's block manager keeps package-private.
  */
object BroadcastValues {
  /** Values of the live broadcasts with ids in `(after, before)`. */
  def between(sc: SparkContext, after: Long, before: Long): Seq[Any] = {
    val bm = sc.env.blockManager
    (after + 1 until before).flatMap { id =>
      // reading the whole iterator releases the block's read lock
      bm.getLocalValues(BroadcastBlockId(id)).toSeq.flatMap(_.data.toList)
    }
  }
}
