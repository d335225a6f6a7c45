package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.AnnServeRegistry

/** `graft_ann_serve(path, query_id, query_vec[, target_recall, topk])` —
  * the calibrated ANN serving tier exposed to SQL (r13 verdict #5): each
  * row's vector is answered from the process-local snapshot
  * ([[graft.operators.AnnLocalCodes]] — byte-packed PQ codes in memory,
  * exact-rerank vectors mmap'd from the [[graft.operators.AnnVecStore]]
  * sidecar) at the calibration persisted with the index. Returns
  * `array<struct<neighbor_id, dist, rk>>`; explode for one row per hit.
  * Row-identical to the Scala `serve()` at the same knobs
  * (AnnServeSqlSpec pins both encodings).
  *
  * The serving gates are the same as `serve()`'s and FAIL LOUDLY: a
  * missing/non-covering calibration, a missing vecstore sidecar, or an
  * over-cap corpus throws with the remedy named — SQL callers get no
  * silently-degraded answers. Freshness: the snapshot re-checks the
  * index save fingerprint (one stat of the index's commit marker) at
  * most every few seconds, not per row; a re-saved index is picked up
  * within that window.
  *
  * Evaluation needs a SparkSession in the evaluating JVM to OPEN the
  * snapshot (one-time; searches after that are pure arithmetic + mmap
  * reads) — true in local mode, driver-side evaluation, and any executor
  * that shares the driver JVM. A multi-JVM cluster serving deployment
  * should pre-ship the index artifacts and open per executor via the
  * Scala API; this function's home turf is the SQL-first serving node.
  */
/** @param pinnedGen the serving generation captured at ANALYSIS time
  *   (right after the builder's warm) — every row of this query answers
  *   from that one index save even if a concurrent query's warm()
  *   refreshes the handle mid-flight (the consistent-read contract).
  *   -1 when the path was not a foldable literal.
  */
case class AnnServe(
    path: Expression,
    queryId: Expression,
    queryVec: Expression,
    targetRecall: Expression,
    topK: Expression,
    pinnedGen: Long = -1L)
  extends Expression with CodegenFallback {

  // input coercion happens at registration (GraftExtensions wraps the
  // args in casts to string/long/array<double>/double/int — the
  // ImplicitCastInputTypes trait's contract, which is sql-private)
  override def children: Seq[Expression] =
    Seq(path, queryId, queryVec, targetRecall, topK)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("neighbor_id", LongType, nullable = false),
      StructField("dist", DoubleType, nullable = false),
      StructField("rk", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val p = path.eval(input)
    val q = queryId.eval(input)
    val v = queryVec.eval(input)
    if (p == null || q == null || v == null) return null
    // NULL target_recall/topk propagate like the other args (r14 advice:
    // an unchecked unbox NPE'd here instead)
    val trv = targetRecall.eval(input)
    val kv = topK.eval(input)
    if (trv == null || kv == null) return null
    val hits = AnnServeRegistry.search(
      p.asInstanceOf[UTF8String].toString,
      q.asInstanceOf[Long],
      v.asInstanceOf[ArrayData].toDoubleArray(),
      trv.asInstanceOf[Double], kv.asInstanceOf[Int], pinnedGen)
    new GenericArrayData(hits.map(h =>
      InternalRow(h.neighborId, h.dist, h.rk): Any))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(path = newChildren(0), queryId = newChildren(1),
      queryVec = newChildren(2), targetRecall = newChildren(3),
      topK = newChildren(4))
}
