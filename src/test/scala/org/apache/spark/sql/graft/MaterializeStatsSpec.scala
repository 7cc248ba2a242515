package org.apache.spark.sql.graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** The size [[CheckpointBridge.materialize]] declares must be the size of
  * the blocks it stored, however far the asynchronous listener bus lags:
  * the declared stats steer broadcast-vs-shuffle planning downstream. */
class MaterializeStatsSpec extends graft.SparkSpec {

  test("materialize declares its block bytes while the app-status queue is stalled") {
    val sc = spark.sparkContext
    val release = new CountDownLatch(1)
    // holds the app-status queue at the materializing job's start, so the
    // status store sees none of its block updates until released
    val stall = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        release.await(120, TimeUnit.SECONDS); ()
      }
    }
    sc.listenerBus.addToStatusQueue(stall)
    try {
      val ck = CheckpointBridge.materialize(spark.range(1000).toDF("id"), CheckpointBridge.Stats)
      val leaf = ck.queryExecution.analyzed.collectLeaves().collectFirst {
        case l: LogicalRDD => l
      }.get
      val bytes = SparkEnv.get.blockManager.master.getStorageStatus.toSeq.flatMap(
        _.rddBlocks.collect { case (RDDBlockId(id, _), st) if id == leaf.rdd.id =>
          st.memSize + st.diskSize })
      assert(bytes.nonEmpty && bytes.sum > 0)
      assert(leaf.stats.sizeInBytes == BigInt(bytes.sum))
      CheckpointBridge.free(ck)
    } finally {
      release.countDown()
      sc.listenerBus.removeListener(stall)
    }
  }
}
