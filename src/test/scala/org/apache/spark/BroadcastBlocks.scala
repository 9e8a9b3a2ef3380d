package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.storage.BroadcastBlockId

/** The live broadcasts as the block manager master sees them, for specs that
  * check who releases a broadcast. The block manager is `private[spark]`,
  * hence the package.
  */
object BroadcastBlocks {

  /** ids of the broadcasts that still hold blocks in any block manager */
  def live(): Set[Long] =
    SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case BroadcastBlockId(id, _) => id }.toSet

  /** whether broadcast `id`'s value, as the driver holds it, is a `T` */
  def holds[T: ClassTag](id: Long): Boolean =
    SparkEnv.get.blockManager.getLocalValues(BroadcastBlockId(id))
      // reading the values to the end releases the block's read lock
      .exists(_.data.toList.exists(implicitly[ClassTag[T]].runtimeClass.isInstance))
}
