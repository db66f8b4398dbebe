package graft

/** The RDDs whose blocks the block manager stored and nobody has
  * unpersisted since (block updates minus `onUnpersistRDD`): a
  * `localCheckpoint` stays here until it is freed, or, without a free,
  * until a GC lets ContextCleaner drop it. Register it on the session
  * before the code under test runs, then [[assertNoneLive]].
  */
class RddBlocks extends org.apache.spark.scheduler.SparkListener {
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  override def onBlockUpdated(e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId.asRDDId.foreach { id =>
      if (e.blockUpdatedInfo.storageLevel.isValid) live.add(id.rddId)
    }
  override def onUnpersistRDD(e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
    live.remove(e.rddId)
  /** `exempt` names RDDs that outlive the code under test on purpose
    * (SessionCache entries, a handle it returns).
    */
  def assertNoneLive(exempt: Int => Boolean = _ => false): Unit =
    org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
      val held = live.toArray.map(_.asInstanceOf[Int]).filterNot(exempt)
      assert(held.isEmpty, s"checkpoints still hold blocks: ${held.mkString(", ")}")
    }
}
