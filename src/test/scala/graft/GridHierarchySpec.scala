package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cluster.{ClusterOptions, GridReference}

/** Scale-mode hierarchy invariants — the same properties the exact greedy
  * mode guarantees, plus strict partition-count invariance (the reference's
  * multi-chunk ≡ single-chunk test, SURVEY §5).
  */
class GridHierarchySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def pointsDf(n: Int) =
    PointFixtures.uniform(n).toSeq.toDF("row_id", "lng", "lat")

  private lazy val levels =
    GridReference.build(pointsDf(500), ClusterOptions()).cache()

  test("count conservation at every level") {
    val perLevel = levels.groupBy("zoom").agg(sum("point_count").as("total"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(perLevel.values.toSet == Set(500L))
    assert(perLevel.keys.toSeq.sorted == (0 to 17))
  }

  test("children's counts sum to parent's count") {
    val parents = levels.where($"is_cluster" && $"id" >= 500)
      .select($"zoom", $"id", $"point_count")
    val childSums = levels.where($"parent_id" =!= -1L)
      .groupBy($"parent_id").agg(sum($"point_count").as("child_sum"))
    val bad = parents.join(childSums, parents("id") === childSums("parent_id"), "left")
      .where($"child_sum".isNull || $"child_sum" =!= $"point_count")
      .count()
    assert(bad == 0)
  }

  test("partition-count invariance (multi-chunk ≡ single-chunk)") {
    def run(p: Int) = GridReference.build(pointsDf(300).repartition(p), ClusterOptions())
      .select("zoom", "id", "mx", "my", "point_count", "is_cluster", "parent_id")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(run(1) == run(13))
  }

  test("leaves keep original coordinates; clusters carry inverse-projected centroids") {
    val pts = pointsDf(200).collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val baseLeaves = levels.where($"zoom" === 17 && !$"is_cluster")
      .select($"id", $"lng", $"lat").collect()
    assert(baseLeaves.length == 500)
    // spot-check a sample of leaf coords against the source (base level of the 500-pt build)
    val src = PointFixtures.uniform(500).map(t => t._1 -> (t._2, t._3)).toMap
    baseLeaves.take(50).foreach { r =>
      val (lng, lat) = src(r.getLong(0))
      assert(r.getDouble(1) == lng && r.getDouble(2) == lat)
    }
    val _ = pts
  }

  test("the full query surface works over the distributed build") {
    val idx = graft.cluster.ClusterEngine.loadDistributed(pointsDf(400))
    assert(idx.numPoints == 400)
    val world = idx.getClusters((-180.0, -85.0, 180.0, 85.0), 3)
    assert(world.agg(sum("point_count")).collect()(0).getLong(0) == 400)
    val top = world.where($"is_cluster")
      .orderBy(desc("point_count"), $"id").limit(1).collect()(0)
    val cid = top.getLong(0)
    val cnt = top.getLong(3)
    // children sum to parent
    val kids = idx.getChildren(cid)
    assert(kids.agg(sum("point_count")).collect()(0).getLong(0) == cnt)
    // leaves paginate and materialize
    assert(idx.getLeaves(cid, limit = 5).count() == math.min(5L, cnt))
    assert(idx.materializeLeaves(cid, pointsDf(400), "row_id", limit = 5).count() ==
      math.min(5L, cnt))
    // navigation
    val Seq((_, ez, nDesc)) = idx.navigationSummary(Seq(cid))
    assert(ez >= 3 && ez <= 17)
    assert(nDesc >= 0)

    // DFS pagination on the distributed build: pages slice the full DFS
    // sequence, and membership equals the id-order page set
    val dfsFull = idx.getLeaves(cid, limit = Int.MaxValue, offset = 0, dfsOrder = true)
      .select("row_id").collect().map(_.getLong(0)).toSeq
    assert(dfsFull.length == cnt)
    assert(dfsFull.toSet.size == dfsFull.length)
    val dfsPage = idx.getLeaves(cid, limit = 7, offset = 3, dfsOrder = true)
      .select("row_id").collect().map(_.getLong(0)).toSeq
    assert(dfsPage == dfsFull.slice(3, 10))
    val idPage = idx.getLeaves(cid, limit = 7, offset = 3)
      .select("row_id").collect().map(_.getLong(0)).toSeq
    assert(idPage == dfsFull.sorted.slice(3, 10))
  }

  test("rejects maxZoom that would overflow the 27-bit cell packing") {
    // at defaults (radius 40, extent 512) zoom 24 needs ~2.1e8 cells/axis > 2^27
    val e = intercept[IllegalArgumentException] {
      GridReference.build(pointsDf(10), ClusterOptions(maxZoom = 24))
    }
    assert(e.getMessage.contains("cells per axis"))
  }

  test("out-of-range lng wraps into [-180, 180) instead of corrupting cell ids") {
    val df = Seq((0L, 190.0, 10.0), (1L, -170.0, 10.0), (2L, 550.0, 10.0))
      .toDF("row_id", "lng", "lat")
    val lvl = GridReference.build(df, ClusterOptions())
    val base = lvl.where($"zoom" === 17).select($"id", $"lng", $"mx").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // 190 and 550 both wrap to -170 — all three points are the same location
    assert(base(0L)._1 == -170.0 && base(2L)._1 == -170.0 && base(1L)._1 == -170.0)
    assert(base.values.map(_._2).toSet.size == 1)
    assert(base.values.forall { case (_, mx) => mx >= 0.0 && mx < 1.0 })
    // and they fuse into one cluster at the top (same cell, valid id space)
    val top = lvl.where($"zoom" === 0).select($"point_count").collect()
    assert(top.length == 1 && top(0).getLong(0) == 3L)
  }

  test("identity-pass skip extremes: fuse-at-deepest-pass and never-fuse") {
    // two coincident points: the collision probe must find z* = maxZoom
    // (no pass skipped) and the pair must fuse at the deepest pass
    val dup = Seq((0L, 10.0, 20.0), (1L, 10.0, 20.0)).toDF("row_id", "lng", "lat")
    val fused = GridReference.build(dup, ClusterOptions())
    assert(fused.where(col("zoom") === 16 && col("is_cluster")).count() == 1,
      "coincident pair fuses at the deepest pass despite the skip probe")
    assert(fused.where(col("zoom") === 17 && col("parent_id") =!= -1L).count() == 2)

    // two far-apart points: every pass is identity — 18 levels of the same
    // two untouched records, no parent ever stamped
    val far = Seq((0L, -120.0, 40.0), (1L, 120.0, -40.0)).toDF("row_id", "lng", "lat")
    val alone = GridReference.build(far, ClusterOptions())
    assert(alone.count() == 2 * 18)
    assert(alone.where(col("is_cluster") || col("parent_id") =!= -1L).count() == 0)
    assert(alone.groupBy(col("zoom")).count().where(col("count") =!= 2).count() == 0)
  }

  test("zoom monotonicity: record count never increases as zoom decreases") {
    val counts = levels.groupBy("zoom").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(-_._1)
    counts.sliding(2).foreach { case Array((_, hi), (_, lo)) =>
      assert(lo <= hi)
    }
  }
}
