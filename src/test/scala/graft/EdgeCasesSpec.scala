package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cluster.{ClusterEngine, ClusterOptions, GridReference}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.operators.AsOfJoin

/** Degenerate-input behavior across the public surface (reference
  * edge-cases.test.ts:13-125 analogue, extended to the new operators).
  */
class EdgeCasesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("text functions on empty and single-token strings") {
    val df = Seq((0L, ""), (1L, "word"), (2L, "  ")).toDF("id", "text")
      .select(col("id"), tokens(col("text")).as("tk"), col("text"))
    val rows = df.select(
      col("id"),
      size(col("tk")),
      minhashBandMins(col("tk"), 3, 4).isNull,
      fingerprint(col("text"))).orderBy("id").collect()
    assert(rows.forall(!_.isNullAt(3))) // fingerprint always defined
    assert(rows(0).getBoolean(2)) // "" → <3 tokens → null band mins
    assert(rows(1).getBoolean(2))
  }

  test("vector kernels on empty and mismatched arrays") {
    val df = Seq(
      (0L, Array.empty[Float], Array.empty[Float]),
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)))
      .toDF("id", "a", "b")
    val rows = df.select(col("id"),
      VectorFunctions.dotExact(col("a"), col("b")).cast("double"),
      VectorFunctions.dotApprox(col("a"), col("b"))).orderBy("id").collect()
    assert(rows(0).getDouble(1) == 0.0 && rows(0).getDouble(2) == 0.0)
    assert(rows(1).getDouble(1) == 11.0 && rows(1).getDouble(2) == 11.0)
  }

  test("distributed grid hierarchy on empty and single-point inputs") {
    val empty = GridReference.build(
      Seq.empty[(Long, Double, Double)].toDF("row_id", "lng", "lat"))
    assert(empty.count() == 0)
    val single = GridReference.build(
      Seq((7L, 10.0, 20.0)).toDF("row_id", "lng", "lat"))
    // one passthrough record per level, never clustered
    assert(single.count() == 18)
    assert(single.where(col("is_cluster")).count() == 0)
    assert(single.select(countDistinct(col("id"))).collect()(0).getLong(0) == 1)
  }

  test("exact engine: identical points fuse; poles and antimeridian survive") {
    val idx = ClusterEngine.load(
      Seq((0L, 5.0, 5.0), (1L, 5.0, 5.0), (2L, 5.0, 5.0),
        (3L, -180.0, 0.0), (4L, 180.0, 0.0), (5L, 0.0, 90.0), (6L, 0.0, -90.0))
        .toDF("row_id", "lng", "lat"),
      ClusterOptions(), idCol = Some("row_id"))
    assert(idx.numPoints == 7)
    val world = idx.getClusters((-180.0, -90.0, 180.0, 90.0), 0)
    assert(world.agg(sum("point_count")).collect()(0).getLong(0) == 7)
    // antimeridian-crossing bbox finds the ±180 points
    val wrapped = idx.getClusters((170.0, -10.0, -170.0, 10.0), 16)
    assert(wrapped.agg(sum("point_count")).collect()(0).getLong(0) >= 2)
  }

  test("as-of join with an empty right side keeps all left rows unmatched") {
    val left = Seq((1L, 1L, 100L)).toDF("event_id", "user_id", "t")
    val right = Seq.empty[(Long, Long, Long)].toDF("rid", "user_id", "t")
    val out = AsOfJoin.asofBackwardStrict(
      left, right, Seq("user_id"), "t", "t", Seq("rid"), tiebreak = "rid").collect()
    assert(out.length == 1 && out(0).isNullAt(3))
  }

  test("multimodal pipeline on empty payloads") {
    import graft.multimodal.{MediaRow, Multimodal}
    val ds = Seq(MediaRow(0L, "image", 1, 1, Array.empty[Byte])).toDS()
    val f = Multimodal.decodeFeatures(ds).collect()(0)
    assert(f.n_bytes == 0 && f.features.forall(_ == 0.0f))
    assert(Multimodal.sampleFrames(ds, 16, 1).count() == 0)
  }
}
