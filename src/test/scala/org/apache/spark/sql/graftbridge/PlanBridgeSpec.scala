package org.apache.spark.sql.graftbridge

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.scalatest.funsuite.AnyFunSuite

/** Freeing a localCheckpoint's blocks: the blocks, the persistent-RDD
  * entry and the storage status go, and Spark's "lineage has been
  * truncated" WARN is not logged. Lives in Spark's package to read the
  * block manager's view of the freed RDD.
  */
class PlanBridgeSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def rddBlocks(rddId: Int): Int =
    spark.sparkContext.env.blockManager.master
      .getMatchingBlockIds(_.asRDDId.exists(_.rddId == rddId), true).size

  /** Spark's WARN-or-worse messages logged while `f` runs, kept off the
    * console.
    */
  private def warnings(f: => Unit): Seq[String] = {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "graft-unpersist-guard", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        captured.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val sparkLogs = new LoggerConfig("org.apache.spark", Level.WARN, false)
    sparkLogs.addAppender(appender, Level.WARN, null)
    cfg.addLogger("org.apache.spark", sparkLogs)
    ctx.updateLoggers()
    try f
    finally {
      cfg.removeLogger("org.apache.spark")
      ctx.updateLoggers()
      appender.stop()
    }
    captured.toArray(Array.empty[String]).toSeq
  }

  private def truncatedWarn(msgs: Seq[String]): Boolean =
    msgs.exists(_.contains("lineage has been truncated"))

  private def checkpointed(): (org.apache.spark.sql.DataFrame, Int) = {
    val df = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 2 AS v").localCheckpoint()
    val ids = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(ids.length == 1, s"expected one LogicalRDD leaf, got ${ids.length}")
    assert(spark.sparkContext.getPersistentRDDs.contains(ids.head))
    assert(rddBlocks(ids.head) > 0, "the eager checkpoint must hold blocks")
    (df, ids.head)
  }

  test("unpersistCheckpointBlocks frees a checkpoint's blocks without the lineage-truncated WARN") {
    val (df, id) = checkpointed()
    val logged = warnings(PlanBridge.unpersistCheckpointBlocks(df, blocking = true))
    val sc = spark.sparkContext
    assert(!sc.getPersistentRDDs.contains(id), "the freed RDD is still registered as persistent")
    assert(!sc.getRDDStorageInfo.exists(_.id == id), "the freed RDD still reports a storage level")
    assert(rddBlocks(id) == 0, "the freed RDD still holds blocks")
    assert(!truncatedWarn(logged), logged.mkString("\n"))
    // the capture is live: RDD.unpersist on the same shape logs the WARN
    val (other, otherId) = checkpointed()
    val viaRdd = warnings(other.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = true): Unit
      case _ => ()
    })
    assert(truncatedWarn(viaRdd), "RDD.unpersist no longer logs the WARN; the check is vacuous")
    assert(rddBlocks(otherId) == 0)
  }
}
