package graftbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.cluster.{ClusterIndex, IndexStore, MortonHierarchy}
import graft.io.SyntheticPoints

/** The storage path, measured in `map_session`'s traced run: the served
  * index's level rows saved as an `IndexStore`, a held-open `Reader`
  * answering seeded tile probes while one spatially local batch is folded
  * in with `mergeInto`, and the Reader reopened after the merge. No
  * in-memory snapshot is involved.
  */
object StoreLayer {
  val BatchPoints = 2000
  val MinProbes = 30
  val StepsPerSession = 8
  val World: Viewports.BBox = (-180.0, -85.0, 180.0, 85.0)
  private val LevelCols = Seq("zoom", "mx", "my", "id", "parent_id", "point_count",
    "is_cluster", "lng", "lat", "child_rank")

  /** A probe's rows as comparable values. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).toSeq.sorted

  /** `BatchPoints` points around one seeded city, spread about 0.3 degrees,
    * with ids from `firstId` on.
    */
  def batch(seed: Long, firstId: Long): Seq[(Long, Double, Double)] = {
    val rng = new SplittableRandom(seed * 6364136223846793005L + 1L)
    val (cl, ca, _) = SyntheticPoints.CityCenters(rng.nextInt(SyntheticPoints.CityCenters.length))
    val lng0 = cl + rng.nextDouble() * 2.0 - 1.0
    val lat0 = ca + rng.nextDouble() * 2.0 - 1.0
    (0 until BatchPoints).map { i =>
      val u1 = rng.nextDouble().max(1e-12); val u2 = rng.nextDouble()
      val m = math.sqrt(-2.0 * math.log(u1))
      (firstId + i, lng0 + 0.3 * m * math.cos(2 * math.Pi * u2),
        math.max(-85.0, math.min(85.0, lat0 + 0.3 * m * math.sin(2 * math.Pi * u2))))
    }
  }

  /** Save `idx`'s levels (built from `points`, `total` of them), probe and
    * merge; records the `store.*` figures and the store's output checks.
    */
  def run(ctx: Ctx, idx: ClusterIndex, points: DataFrame, total: Long): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    Trace.on = true
    val work0 = ctx.sparkSnap()
    val dir = ctx.dir("store")
    val (_, saveS) = Harness.timedS(Trace.span("store.save") {
      IndexStore.save(idx.levels.toDF(), dir, total)
    })
    val reader0 = Trace.span("store.open") { IndexStore.open(spark, dir) }
    val (_, cacheS) = Harness.timedS(Trace.span("store.coarse_cache") {
      reader0.getClusters(World, 0).collect()
    })

    // probes the pre-merge Reader must answer identically after the merge
    val pinnedRng = new SplittableRandom(ctx.seed)
    val pinned = Seq((World, 1), (World, 5)) ++
      Viewports.session(pinnedRng, 3, 6, 14) ++ Seq((Viewports.viewport(179.5, 10.0, 6), 6))
    val pinnedBefore = pinned.map { case (b, z) => rows(reader0.getClusters(b, z)) }

    // one client probes the held-open Reader until the merge and reopen
    // are done and it has made at least MinProbes probes
    @volatile var reader = reader0
    @volatile var merging = true
    val planMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val collectMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val rowsPer = new ConcurrentLinkedQueue[java.lang.Double]()
    val files = new ConcurrentLinkedQueue[java.lang.Double]()
    val failure = new ConcurrentLinkedQueue[Throwable]()
    val prober = new Thread(() => {
      val rng = new SplittableRandom(ctx.seed * 1000003L + 17L)
      try {
        while (merging || planMs.size < MinProbes) {
          Viewports.session(rng, StepsPerSession, 0, 16).foreach { case (b, z) =>
            Trace.request {
              val (df, plan) = Harness.timedS(Trace.span("store.plan") { reader.getClusters(b, z) })
              val (got, coll) = Harness.timedS(Trace.span("store.collect") { df.collect() })
              planMs.add(plan * 1000.0); collectMs.add(coll * 1000.0)
              rowsPer.add(got.length.toDouble)
              files.add(df.inputFiles.length.toDouble)
              val bad = got.count(r => !Viewports.contains(b, r.getDouble(1), r.getDouble(2), 1e-4))
              ctx.check(bad == 0, s"store probe bbox $b zoom $z: $bad of ${got.length} rows outside")
            }
          }
        }
      } catch { case e: Throwable => failure.add(e); () }
    }, "graftbench-store-prober")
    prober.start()
    val pts = batch(ctx.seed, total)
    val merge =
      try {
        val (stats, mergeS) = Harness.timedS(Trace.span("store.merge") {
          IndexStore.mergeInto(spark, dir, pts.toDF("row_id", "lng", "lat"))
        })
        val (fresh, openS) = Harness.timedS(Trace.span("store.open") { IndexStore.open(spark, dir) })
        reader = fresh
        ctx.log(f"store merge: $mergeS%.2f s + open $openS%.2f s, phases ${stats.phaseSec}")
        (stats, mergeS, openS)
      } finally {
        merging = false
        prober.join()
      }
    failure.asScala.headOption.foreach(e => throw e)
    Trace.on = false
    val work = ctx.sparkSnap() - work0

    // untimed checks: the pre-merge Reader still answers as it did...
    pinned.zip(pinnedBefore).foreach { case ((b, z), want) =>
      ctx.check(rows(reader0.getClusters(b, z)) == want,
        s"pre-merge Reader changed its answer for bbox $b zoom $z after the merge")
    }
    // ...and the merged store equals a fresh build of the union
    val union = points.select("row_id", "lng", "lat").union(pts.toDF("row_id", "lng", "lat"))
    val fresh = MortonHierarchy.build(union).select(LevelCols.map(col): _*)
    val stored = IndexStore.load(spark, dir).select(LevelCols.map(col): _*)
    val extra = stored.exceptAll(fresh).count()
    val missing = fresh.exceptAll(stored).count()
    ctx.check(extra == 0 && missing == 0,
      s"merged store differs from a fresh build of the union: $extra extra rows, $missing missing")
    reader0.close()
    reader.close()

    def med(q: ConcurrentLinkedQueue[java.lang.Double]) = Stats.median(q.asScala.map(_.doubleValue).toSeq)
    val (stats, mergeS, openS) = merge
    val probeMs = planMs.asScala.zip(collectMs.asScala).map { case (a, b) => a + b.doubleValue }.toSeq
    ctx.layer("store.save_s", saveS)
    ctx.layer("store.coarse_cache_s", cacheS)
    ctx.layer("store.probes", probeMs.length.toDouble)
    ctx.layer("store.probe_p50_ms", Stats.median(probeMs))
    Stats.tail(probeMs, 0.9).foreach(ctx.layer("store.probe_p90_ms", _))
    ctx.layer("store.plan_ms", med(planMs))
    ctx.layer("store.collect_ms", med(collectMs))
    ctx.layer("store.rows_per_probe", med(rowsPer))
    ctx.layer("store.files", med(files))
    ctx.layer("store.merge_s", mergeS)
    ctx.layer("store.open_s", openS)
    stats.phaseSec.foreach { case (k, v) => ctx.layer(s"store.merge.${k}_s", v) }
    ctx.layer("store.rewritten_buckets", stats.rewrittenBuckets.toDouble)
    ctx.layer("store.total_buckets", stats.totalBuckets.toDouble)
    work.fields("spark.store").foreach { case (k, v) => ctx.layer(k, v) }
  }
}
