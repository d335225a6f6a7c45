package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}

/** Logical-plan surgery for FINAL (driver-bounded) result frames.
  *
  * Spark plans a global `orderBy` as a range-partitioned sort whose
  * `RangePartitioner` first runs a SEPARATE sampling job over the child to
  * estimate split bounds. Upstream shuffle map outputs are reused, but the
  * child's final stage — for map-only plans, the ENTIRE pipeline (parquet
  * scan, codecs, hash kernels) — executes twice per action: once to sample,
  * once for the real range exchange (guide §2.4: "an orderBy used only to
  * make output deterministic" is a removable exchange).
  *
  * Every declared graft query ends in exactly such a presentation sort, and
  * every declared result is a driver-bounded report (the driver's own sink
  * writes them `coalesce(1)`). For a bounded result the same totally-ordered
  * output is produced by ONE round-robin shuffle into a single partition
  * plus a partition-local sort: no sampling pass, no range exchange, all
  * upstream parallelism intact (repartition, not coalesce, so scans/aggs
  * keep their task count). Output rows and their order are identical — ties
  * were arbitrary under range sort too, and the driver canonicalizes by
  * value-sorting before hashing.
  */
object PlanBridge {

  /** Rewrite a ROOT global Sort into Repartition(1) + local sort; any other
    * root (e.g. TakeOrdered via orderBy+limit, Window projections) is
    * returned unchanged. Applied centrally by `GraftQuery` so the rewrite
    * covers exactly the final presentation sort of each declared query and
    * nothing else.
    */
  def desampleFinalSort(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case s @ Sort(_, true, child, _) =>
        val spark = df.sparkSession
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.classic.Dataset.ofRows(
          spark,
          s.copy(global = false,
            child = Repartition(numPartitions = 1, shuffle = true, child)))
      case _ => df
    }

  /** Actually free the block-manager blocks behind a `localCheckpoint()`ed
    * frame. `Dataset.unpersist` only consults the CacheManager — which never
    * saw a checkpoint (it tracks `persist`ed queries), so on a checkpointed
    * Dataset it is a silent NO-OP (verified empirically on Spark 4.1: the
    * persisted RDD count is unchanged after `Dataset.unpersist`). The blocks
    * belong to the RDD inside the plan's `LogicalRDD` leaf; unpersisting
    * THAT releases them. Safe on any frame: non-checkpointed plans simply
    * have no LogicalRDD leaf (and an unpersisted RDD unpersist is a no-op).
    *
    * Freed through `SparkContext.unpersistRDD`, the call `RDD.unpersist`
    * makes, without `RDD.unpersist`'s per-RDD "lineage has been truncated"
    * WARN (hundreds per bench run). It drops the blocks, the
    * persistent-RDD entry and the status store's storage entry, exactly
    * as `RDD.unpersist` does; only the freed RDD object keeps its own
    * storage-level field, and reading a freed checkpoint fails the same
    * way either way (its blocks are its only data).
    */
  def unpersistCheckpointBlocks(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking)
      case _ => ()
    }
}
