package org.apache.spark

/** What the benchmark's listeners need from Spark internals: waiting until
  * they have seen every posted event, and naming SQL metric updates. */
object E2eBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes and files read by file-source scans in a batch of driver-side
    * SQL metric updates, told apart by the metrics' names. */
  def fileScans(updates: Seq[(Long, Long)]): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    updates.foreach { case (id, v) =>
      util.AccumulatorContext.get(id).flatMap(_.name) match {
        case Some("size of files read") => bytes += v
        case Some("number of files read") => files += v
        case _ => ()
      }
    }
    (bytes, files)
  }
}
