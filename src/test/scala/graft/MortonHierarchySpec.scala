package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cluster.{ClusterOptions, GridReference, MortonHierarchy}

/** The single-shuffle Morton build must reproduce the per-level fold
  * EXACTLY — same ids, parents, counts, stamps, and (fround-quantized)
  * positions — on every fixture and at every partitioning. The per-level
  * [[graft.cluster.GridReference]] is kept as the executable spec of the semantics.
  */
class MortonHierarchySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def canon(df: DataFrame) =
    df.select("zoom", "id", "parent_id", "point_count", "is_cluster",
      "mx", "my", "lng", "lat", "child_rank")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8), r.getLong(9)))
      .sortBy(t => (t._1, t._2, t._3))

  private def pts(parts: Int): DataFrame = {
    val p = graft.operators.Spatial.pointsDf(spark, dir)
    if (parts <= 0) p else p.repartition(parts)
  }

  test("morton build ≡ per-level fold on the sf0.001 fixture") {
    val a = canon(GridReference.build(pts(0), idCol = "event_id"))
    val b = canon(MortonHierarchy.build(pts(0), idCol = "event_id"))
    assert(a.length == b.length, s"row counts: ${a.length} vs ${b.length}")
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i differs: $x vs $y")
    }
  }

  test("partition-count invariance: 1, 3, and 32 input partitions agree") {
    val ref = canon(MortonHierarchy.build(pts(1), idCol = "event_id"))
    Seq(3, 32).foreach { parts =>
      val got = canon(MortonHierarchy.build(pts(parts), idCol = "event_id"))
      assert(ref.length == got.length, s"parts=$parts row count")
      ref.zip(got).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x == y, s"parts=$parts row $i differs: $x vs $y")
      }
    }
  }

  test("the build shuffles each record at most once (the single-shuffle claim)") {
    val sc = spark.sparkContext
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shuffleRecords.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten): Unit
      }
    }
    val p = pts(0)
    val n = p.count()
    sc.addSparkListener(listener)
    try {
      MortonHierarchy.build(p, idCol = "event_id").count()
      // listener events deliver asynchronously — wait until the count
      // stops moving (the bus drains in well under a second when idle)
      var prev = -1L
      var spins = 0
      while (shuffleRecords.get() != prev && spins < 40) {
        prev = shuffleRecords.get(); spins += 1; Thread.sleep(250)
      }
    } finally sc.removeSparkListener(listener)
    val written = shuffleRecords.get()
    // one range shuffle of the n base records plus small aggregation
    // partials; the per-level fold re-shuffles the corpus ~12× here
    assert(written <= (n * 1.5).toLong + 1000,
      s"build shuffled $written records for $n inputs — more than one pass")
  }

  test("degenerate fixtures: identical points, single point, empty") {
    import spark.implicits._
    // 50 identical points + 3 spread: everything driver/boundary-adjacent
    val same = (0L until 50L).map(i => (i, 10.0, 10.0)) ++
      Seq((50L, -120.0, 33.0), (51L, 139.7, 35.6), (52L, 2.35, 48.85))
    val df = same.toDF("row_id", "lng", "lat")
    val a = canon(GridReference.build(df.repartition(4)))
    val b = canon(MortonHierarchy.build(df.repartition(4)))
    assert(a.toSeq == b.toSeq)

    val one = Seq((0L, 1.0, 2.0)).toDF("row_id", "lng", "lat")
    assert(canon(GridReference.build(one)).toSeq ==
      canon(MortonHierarchy.build(one)).toSeq)

    val none = Seq.empty[(Long, Double, Double)].toDF("row_id", "lng", "lat")
    assert(MortonHierarchy.build(none).count() == 0)
  }

  test("the build runs fully codegen'd — no UnsafeProjection interpreter fallback") {
    // Round-7 regression: `private final case class Out` made every
    // projection of the build fall back to interpreted mode ("Private
    // member cannot be accessed" from janino), a per-row tax on the 100×
    // path that no correctness test could see. Capture WARNs during a
    // fresh build and require zero codegen-fallback messages.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property

    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "graft-codegen-guard", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        captured.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    cfg.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      // materialize EVERY output column — a bare count() prunes the
      // serializer projection down to zero fields and the accessor Invokes
      // (the part janino can't compile against a private class) never
      // appear, making the guard vacuous
      canon(MortonHierarchy.build(pts(8), idCol = "event_id")): Unit
    } finally {
      cfg.getRootLogger.removeAppender("graft-codegen-guard")
      ctx.updateLoggers()
      appender.stop()
    }
    // two distinct surfaces of the same failure: non-WSCG projections WARN
    // "falling back to interpreter mode" (UnsafeProjection), whole-stage
    // codegen ERRORs "Failed to compile the generated Java code"
    // (CodeGenerator) and silently re-plans without codegen
    val fallbacks = captured.toArray(Array.empty[String])
      .filter(m => m.contains("falling back to interpreter mode") ||
        m.contains("Expr codegen error") ||
        m.contains("Failed to compile the generated Java code"))
    assert(fallbacks.isEmpty,
      s"${fallbacks.length} codegen-fallback WARNs during the Morton build; " +
        s"first: ${fallbacks.headOption.getOrElse("")}")
  }

  test("minPoints > 2: builds agree, are partition-invariant, and gate fusion by mass") {
    val opts = ClusterOptions(minPoints = 5)
    val a = canon(GridReference.build(pts(0), opts, idCol = "event_id"))
    val b = canon(MortonHierarchy.build(pts(0), opts, idCol = "event_id"))
    assert(a.length == b.length, s"row counts: ${a.length} vs ${b.length}")
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"row $i differs: $x vs $y")
    }
    // partition ladder: boundary cells below the gate defer WHOLE member
    // runs to the driver — every partitioning must replay the same result
    Seq(3, 32).foreach { parts =>
      val got = canon(MortonHierarchy.build(pts(parts), opts, idCol = "event_id"))
      assert(b.length == got.length, s"parts=$parts row count")
      b.zip(got).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x == y, s"parts=$parts row $i differs: $x vs $y")
      }
    }
    // the gate itself: no cluster below minPoints mass, and mass conserved
    // at every level (passthrough must not drop or double records)
    val n = pts(0).count()
    val perZoom = b.groupBy(_._1)
    perZoom.foreach { case (zoom, rows) =>
      rows.filter(_._5).foreach { r =>
        assert(r._4 >= 5, s"zoom $zoom cluster ${r._2} has mass ${r._4} < minPoints")
      }
      assert(rows.map(_._4).sum == n, s"zoom $zoom mass not conserved")
    }
    // and it must actually bite on this fixture: the default build fuses
    // cells of mass 2-4 that this one must pass through
    val defaultClusters = canon(MortonHierarchy.build(pts(0), idCol = "event_id"))
      .count(_._5)
    assert(b.count(_._5) < defaultClusters,
      "minPoints=5 produced as many clusters as minPoints=2 — gate not applied")
  }

  test("minPoints > 2 on the duplicate-heavy fixture across partitionings") {
    import spark.implicits._
    // 50 identical points (one finest cell, mass 50) + 3 pairs of mass 2
    // + 4 singles: with minPoints = 6 the pairs must pass through at every
    // level until enough mass co-locates in a coarser cell
    val df = ((0L until 50L).map(i => (i, 10.0, 10.0)) ++
      Seq((50L, -120.0, 33.0), (51L, -120.0001, 33.0001),
        (52L, 139.7, 35.6), (53L, 139.7001, 35.6001),
        (54L, 2.35, 48.85), (55L, 2.3501, 48.8501),
        (56L, -60.0, -20.0), (57L, 60.0, 20.0),
        (58L, -170.0, 70.0), (59L, 170.0, -70.0)))
      .toDF("row_id", "lng", "lat")
    val opts = ClusterOptions(minPoints = 6)
    val ref = canon(GridReference.build(df.repartition(1), opts))
    Seq(2, 4, 8).foreach { parts =>
      val got = canon(MortonHierarchy.build(df.repartition(parts), opts))
      assert(ref.toSeq == got.toSeq, s"parts=$parts diverged")
    }
  }

  test("non-default zoom window and antimeridian points agree across builds") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (0L until 400L).map { i =>
      (i, rnd.nextDouble() * 360.0 - 180.0, rnd.nextDouble() * 160.0 - 80.0)
    }.toDF("row_id", "lng", "lat")
    val opts = ClusterOptions(minZoom = 2, maxZoom = 9)
    val a = canon(GridReference.build(df.repartition(5), opts))
    val b = canon(MortonHierarchy.build(df.repartition(5), opts))
    assert(a.toSeq == b.toSeq)
  }
}
