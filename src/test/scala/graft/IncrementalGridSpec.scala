package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.cluster.{ClusterOptions, GridReference, IncrementalGrid}

/** Incremental index maintenance: merging an ingest batch into an existing
  * grid hierarchy must be BIT-EQUAL to rebuilding from scratch on the
  * union — ids, parents, ranks, positions, counts, every level — across
  * uniform and dense fixtures, chained merges, dirty geometry, and
  * non-default minPoints.
  */
class IncrementalGridSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)

  /** n deterministic points; clustered = dense multi-point cells at deep
    * zooms (forces fusion-gate transitions when members arrive later)
    */
  private def pts(n: Int, seed: Long, clustered: Boolean): Seq[(Long, Double, Double)] = {
    val it = lcg(seed)
    (0 until n).map { i =>
      val a = (it.next() >>> 12) % 1000000L
      val b = (it.next() >>> 12) % 1000000L
      if (clustered) {
        val center = a % 7
        (i.toLong,
          -120.0 + center * 30.0 + (b % 1000L) / 50000.0,
          -40.0 + center * 11.0 + (a % 1000L) / 50000.0)
      } else
        (i.toLong, a / 1000000.0 * 360.0 - 180.0, b / 1000000.0 * 170.0 - 85.0)
    }
  }

  private def df(rows: Seq[(Long, Double, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("row_id", "lng", "lat")
  }

  private def canon(levels: DataFrame): Seq[String] = {
    val cols = levels.columns.sorted.toIndexedSeq
    levels.selectExpr(cols.map(c => s"`$c`"): _*)
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toIndexedSeq
  }

  private def assertMergeEqualsRebuild(
      all: Seq[(Long, Double, Double)], splitAt: Int,
      opts: ClusterOptions = ClusterOptions()): Unit = {
    val (oldPts, newPts) = all.splitAt(splitAt)
    val merged = IncrementalGrid.merge(
      GridReference.build(df(oldPts), opts), df(newPts), splitAt.toLong, opts)
    val rebuilt = GridReference.build(df(all), opts)
    assert(canon(merged) == canon(rebuilt))
  }

  test("uniform fixture: merge == rebuild") {
    assertMergeEqualsRebuild(pts(1200, 42, clustered = false), 900)
  }

  test("clustered fixture (dense cells, gate transitions): merge == rebuild") {
    assertMergeEqualsRebuild(pts(900, 7, clustered = true), 600)
  }

  test("minPoints = 5: merge == rebuild (mass-gate transitions)") {
    assertMergeEqualsRebuild(pts(800, 13, clustered = true), 500,
      ClusterOptions(minPoints = 5))
  }

  test("empty batch is an identity (modulo nothing — same rows back)") {
    val base = pts(300, 3, clustered = true)
    val index = GridReference.build(df(base))
    val merged = IncrementalGrid.merge(index, df(Nil), 300L)
    assert(canon(merged) == canon(index))
  }

  test("dirty geometry rows count toward the id-space offset but index nothing") {
    val clean = pts(500, 21, clustered = true)
    val (oldPts, newClean) = clean.splitAt(350)
    // two new rows carry NaN/huge-null-ish geometry: dropped from the
    // index, but they occupy ids and inflate the offset — exactly like
    // build's totalPoints = pre-filter count
    import spark.implicits._
    val dirtyNew = newClean.toDF("row_id", "lng", "lat")
      .unionByName(Seq((500L, Double.NaN, 10.0), (501L, 5.0, Double.NaN))
        .toDF("row_id", "lng", "lat"))
    val merged = IncrementalGrid.merge(
      GridReference.build(df(oldPts)), dirtyNew, 350L)
    val rebuilt = GridReference.build(
      df(clean).unionByName(Seq((500L, Double.NaN, 10.0), (501L, 5.0, Double.NaN))
        .toDF("row_id", "lng", "lat")))
    assert(canon(merged) == canon(rebuilt))
  }

  test("chained merges: ((A + B) + C) == build(A ∪ B ∪ C)") {
    val all = pts(1000, 99, clustered = true)
    val (a, rest) = all.splitAt(600)
    val (b, c) = rest.splitAt(250)
    val once = IncrementalGrid.merge(GridReference.build(df(a)), df(b), 600L)
    val twice = IncrementalGrid.merge(once, df(c), 850L)
    assert(canon(twice) == canon(GridReference.build(df(all))))
  }

  test("streaming ingest maintains the index: foreachBatch + merge == rebuild") {
    // the deployment loop: a base index, a point stream, one incremental
    // merge per micro-batch through the REAL streaming engine — the final
    // living index must be bit-equal to a from-scratch build on everything
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = pts(1000, 31, clustered = true)
    val (basePts, streamPts) = all.splitAt(600)
    var index = GridReference.build(df(basePts))
    var total = 600L

    val input = MemoryStream[(Long, Double, Double)]
    val q = input.toDS().toDF("row_id", "lng", "lat").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val n = batch.count()
        if (n > 0) {
          index = IncrementalGrid.merge(index, batch, total)
          total += n
        }
      }
      .start()
    try {
      input.addData(streamPts.take(250))
      q.processAllAvailable()
      input.addData(streamPts.drop(250))
      q.processAllAvailable()
    } finally q.stop()

    assert(total == 1000L)
    assert(canon(index) == canon(GridReference.build(df(all))))
  }

  test("out-of-range ids are rejected") {
    val base = pts(100, 1, clustered = false)
    val index = GridReference.build(df(base))
    val bad = df(Seq((50L, 1.0, 2.0))) // id 50 < oldTotal 100
    val e = intercept[IllegalArgumentException] {
      IncrementalGrid.merge(index, bad, 100L)
    }
    assert(e.getMessage.contains("id space"))
  }
}
