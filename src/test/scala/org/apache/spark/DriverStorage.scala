package org.apache.spark

/** The driver's storage memory and broadcast blocks, for leak checks in
  * specs (the memory manager and block manager are spark-private).
  */
object DriverStorage {
  def memoryUsed: Long = SparkEnv.get.memoryManager.storageMemoryUsed
  def broadcastBlocks: Int =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast).size
}
