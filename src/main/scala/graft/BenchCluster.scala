package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchSections.{BenchSection, Recorder, medianSec, section, timed}
import graft.cluster.{ClusterEngine, ClusterOptions, IncrementalGrid, IndexStore, MortonHierarchy}
import graft.io.{ArrowIpc, Scratch, SyntheticPoints}
import graft.operators.Spatial

/** [[Bench]]'s hierarchy, serve-mode and index-store sections. Rungs
  * rebuild from deterministic generators (SyntheticPoints.uniform is the
  * reference's LCG-42 fixture) into fresh scratch dirs, with the
  * reference's engine options (radius 75, extent 512, minPoints 2).
  */
final class BenchCluster(spark: SparkSession, sfDir: String) {
  private val opts = ClusterOptions(radius = 75)
  private val world = (-180.0, -85.0, 180.0, 85.0)

  private def sizeTag(n: Long): String = if (n >= 1000000) s"${n / 1000000}m" else s"${n / 1000}k"

  /** A spatially LOCAL ingest batch (~0.5° box at 12°E 47°N — the
    * realistic region-update case) with row ids `from` until `from + n`.
    */
  private def localBatch(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(
      col("id").as("row_id"),
      (lit(12.0) + pmod(hash(col("id")), lit(100000)).cast("double") / 200000.0).as("lng"),
      (lit(47.0) + pmod(hash(col("id") * 7), lit(100000)).cast("double") / 200000.0).as("lat"))

  /** gc-settled heap-used bytes (advisory gc; settles MB-scale deltas) */
  private def heapUsed(): Long = {
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(100)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  // filterMask load-scaling: the exact greedy build at three mask
  // selectivities (reference benchmarks/run.ts:491-538 — its only published
  // scaling claim)
  val masks: Seq[BenchSection] = Seq(
    "mask_none" -> None,
    "mask_50pct" -> Some(col("event_id") % 2 === 0),
    "mask_10pct" -> Some(col("event_id") % 10 === 0)
  ).map { case (name, mask) =>
    section(name, defaultOn = true, "filter_mask_load") { r =>
      r.time(name) {
        ClusterEngine.load(Spatial.pointsDf(spark, sfDir), ClusterOptions(),
          idCol = Some("event_id"), filterMask = mask).unpersist(): Unit
      }
    }
  }

  private def wireSize(r: Recorder, dirName: String, frame: DataFrame, feature: Column,
      wrapperBytes: Long): Unit = {
    val ipcDir = s"${System.getProperty("java.io.tmpdir")}/$dirName"
    ArrowIpc.write(frame, ipcDir)
    val ipc = new java.io.File(ipcDir).listFiles()
      .filter(_.getName.endsWith(".arrows")).map(_.length).sum
    // per-feature JSON + the separating comma
    val geojson = frame.select(to_json(feature).as("j"))
      .agg(sum(length(col("j")) + 1)).collect()(0).getLong(0) + wrapperBytes
    r.count("ipc_bytes", ipc)
    r.count("geojson_bytes", geojson)
    r.evidence("reduction_pct", (1.0 - ipc.toDouble / geojson) * 100.0)
  }
  private val point = struct(lit("Point").as("type"), array(col("lng"), col("lat")).as("coordinates"))

  // wire size: Arrow IPC stream vs stringified GeoJSON features for the
  // point cloud (BASELINE row 4 — the reference publishes "84% smaller";
  // measurement mirrors benchmarks/pipeline.ts:115-125)
  val wire: BenchSection = section("wire_size", defaultOn = true) { r =>
    wireSize(r, "graft_wire_ipc",
      Spatial.pointsDf(spark, sfDir).select(col("event_id"), col("lng"), col("lat")),
      struct(lit("Feature").as("type"), point.as("geometry"),
        struct(col("event_id").as("id")).as("properties")), 0L)
  }

  // ... and on the MATCHED fixture: the published "84% smaller"
  // (README.md:131) is measured on tests/test-utils.ts fixtures — 200k
  // LCG-42 full-precision uniform points, Arrow = FixedSizeList<2,f64>
  // geometry + Int32 id, GeoJSON = Feature objects with an id property —
  // not on graft's 2-decimal synthetic grid, whose short JSON numbers
  // understate the GeoJSON side. Spark has no fixed-size-list type, so the
  // byte-equivalent flat layout (two f64 columns + int32 id) is written;
  // the FeatureCollection wrapper mirrors pipeline.ts:117.
  val wireMatched: BenchSection = section("wire_size_matched", defaultOn = true) { r =>
    wireSize(r, "graft_wire_ipc_matched",
      SyntheticPoints.uniform(spark, 200000)
        .select(col("lng"), col("lat"), col("row_id").cast("int").as("id")),
      struct(lit("Feature").as("type"), struct(col("id")).as("properties"), point.as("geometry")),
      """{"type":"FeatureCollection","features":[]}""".length - 1L)
  }

  // interactive query ladder — the reference's HEADLINE query benchmark
  // (benchmarks/run.ts:38-42 + README.md:129-130): world-bbox getClusters at
  // zooms {0,2,...,16}, median of 10 runs after 3 warmups, in ms per zoom
  // plus the cross-zoom average (BASELINE.md rows 2-3). Both serve shapes:
  // the boxed-row API (getClustersLocal, continuity with earlier rounds)
  // and the columnar batch API (the reference's own typed-array output).
  // The warmups build each zoom's snapshot, so timed runs measure the
  // query; the snapshot heap is the gc-settled heap after the row ladder
  // minus before it. The distributed path's per-job floor (~45-50 ms) is
  // in BENCH.md.
  private def ladder(nPoints: Int, tag: String, heapKey: String, distributed: Boolean = false)(
      r: Recorder): Unit = {
    val pts = SyntheticPoints.uniform(spark, nPoints)
    val idx =
      if (distributed) ClusterEngine.loadDistributed(pts, opts, idCol = "row_id")
      else ClusterEngine.load(pts, opts, idCol = Some("row_id"))
    val zooms = Seq(0, 2, 4, 6, 8, 10, 12, 14, 16)
    val h0 = heapUsed()
    // settle the heap before each zoom's loop: a deep-zoom 1M probe
    // allocates five 1M-element (humongous-region) arrays, and old garbage
    // from PRIOR sections otherwise dominates the z14/z16 median (observed
    // 11 ms -> 196 ms on an identical plan) — the reference's --expose-gc
    // discipline (benchmarks/run.ts:90-99)
    def zoomMs(probe: Int => Long)(z: Int): Double = {
      System.gc()
      medianSec(3, 10)(probe(z)) * 1000
    }
    // the rows probe TOUCHES every row: the row API is a lazy view over the
    // batch arrays, so a bare .length would time the batch path; the sum
    // escapes through a volatile store so the JIT cannot drop the loop
    def rowsProbe(z: Int): Long = {
      val rs = idx.getClustersLocal(world, z)
      var i = 0; var acc = 0L
      while (i < rs.length) { acc += rs(i).pointCount; i += 1 }
      Bench.blackhole = acc
      rs.length.toLong
    }
    val rows = zooms.map(z => z -> zoomMs(rowsProbe)(z))
    val heapMb = (heapUsed() - h0) / 1048576.0
    val batch = zooms.map(z => z -> zoomMs(z => idx.getClustersLocalBatch(world, z).size.toLong)(z))
    idx.unpersist()
    def record(name: String, avg: String, ms: Seq[(Int, Double)]): Unit = {
      ms.foreach { case (z, v) => r.timing(s"$name.z$z", v) }
      r.timing(avg, ms.map(_._2).sum / ms.size)
    }
    record(s"query_ladder${tag}_ms", s"query_avg${tag}_ms", rows)
    record(s"query_ladder${tag}_batch_ms", s"query_avg${tag}_batch_ms", batch)
    if (heapKey.nonEmpty) r.evidence(heapKey, heapMb)
  }
  val ladder200k: BenchSection =
    BenchSection("query_ladder", defaultOn = true, ladder(200000, "", ""))

  // cost of the opt-in child_rank stamping (ClusterOptions.insertionRanks
  // claims "~doubles the exact build's index work"): the 200k exact build
  // with and without the kd-order rank pass, after one warm build
  val ranks: BenchSection = section("build_insertion_ranks", defaultOn = true) { r =>
    val pts = SyntheticPoints.uniform(spark, 200000)
    def build(ranks: Boolean): Unit =
      ClusterEngine.load(pts, ClusterOptions(radius = 75, insertionRanks = ranks),
        idCol = Some("row_id")).unpersist(): Unit
    build(false)
    r.time("ranks_off_sec")(build(false))
    r.time("ranks_on_sec")(build(true))
  }

  // the reference's 1M-point query-speedup claim (README.md:129): the
  // serve-mode snapshot holds 1M rows comfortably under the caps
  val ladder1m: BenchSection =
    BenchSection("query_ladder_1m", defaultOn = true, ladder(1000000, "_1m", "snapshot_heap_mb"))

  // serve-mode ladder at 4M (VERDICT r8 #5) on the GRID build, where the
  // snapshot-cap contract becomes observable: once serveTotalSnapshotRows
  // (20M) exhausts, deeper zooms answer through the distributed fallback
  // (tens of ms, a Spark job, instead of a sub-ms binary search). OPT-IN
  // (~6-10 min: a 4M grid build + ~19M snapshot rows to the driver);
  // bench_ladder4m.json carries the numbers.
  val ladder4m: BenchSection = BenchSection("query_ladder_4m", defaultOn = false,
    ladder(4000000, "_4m", "snapshot_heap_4m_mb", distributed = true))

  // exact-build scale ceiling (VERDICT r8 #6): ONE greedy (single
  // partition, sequential by design) build at 10M points — the documented
  // "switch to Morton above this" boundary, measured. OPT-IN: a
  // multi-minute single-threaded build changes only when GreedyCore does.
  val exact10m: BenchSection = BenchSection("exact_build_10m", defaultOn = false, r =>
    r.time("exact_build_10m_sec") {
      ClusterEngine.load(SyntheticPoints.uniform(spark, 10000000), opts,
        idCol = Some("row_id")).unpersist(): Unit
    })

  // untimed 50k warm-up build, once per process before the first grid
  // rung: the Morton fold's codegen + mapPartitions JIT otherwise lands on
  // the 250k rung, which has read ABOVE the 1M rung in committed artifacts
  private lazy val gridWarm: Unit =
    try {
      ClusterEngine.loadDistributed(SyntheticPoints.uniform(spark, 50000), opts,
        idCol = "row_id").unpersist(): Unit
    } catch { case scala.util.control.NonFatal(_) => () }

  // distributed-build scale ladder: the MortonHierarchy (single range
  // shuffle) build at 250k / 1M / 4M points — evidence the 17-level build
  // scales near-linearly. The 10M rung is OPT-IN: with exact_build_10m
  // (bench_exact10m.json, 245.9 s greedy) it makes the "switch to the
  // scale path" boundary a measured 25x; bench_grid10m.json carries it.
  val grid: Seq[BenchSection] =
    Seq(250000 -> true, 1000000 -> true, 4000000 -> true, 10000000 -> false).map {
      case (n, defaultOn) =>
        val key = s"grid_build_${sizeTag(n)}"
        section(key, defaultOn, "grid_build_ladder") { r =>
          gridWarm
          r.time(key) {
            ClusterEngine.loadDistributed(SyntheticPoints.uniform(spark, n), opts,
              idCol = "row_id").unpersist(): Unit
          }
        }
    }

  // incremental index maintenance (q103's scale claim): fold a 10k ingest
  // batch into an existing index vs rebuilding the union, per base size,
  // both slices from ONE generator stream. Merge recomputes only the
  // ingested points' ancestor cells (plus two full-index scans), so it
  // holds roughly flat as the BASE grows while the rebuild scales with it
  // (curve and phase attribution in BENCH.md). The 4M/10M rungs are
  // OPT-IN; the committed focused artifact carries the curve.
  private def incrRung(nBase: Long, tag: String)(r: Recorder): Unit = {
    val all = SyntheticPoints.uniform(spark, nBase + 10000)
    val basePts = all.where(col("row_id") < nBase)
    val newPts = all.where(col("row_id") >= nBase)
    val base = r.time(s"incr_base_build_$tag")(MortonHierarchy.build(basePts, opts))
    val merged = r.time(s"incr_merge_10k_$tag")(IncrementalGrid.merge(base, newPts, nBase, opts))
    val rebuilt = r.time(s"incr_rebuild_$tag")(MortonHierarchy.build(all, opts))
    Seq(base, merged, rebuilt).foreach(_.unpersist(): Unit)
  }
  val incremental: Seq[BenchSection] =
    Seq(1000000L -> "1m", 4000000L -> "4m", 10000000L -> "10m").map { case (n, tag) =>
      section(s"incremental_merge_$tag", tag == "1m", "incremental_merge")(incrRung(n, tag))
    }

  // storage-backed merge (q104's scale claim): the same base as the
  // bucket-partitioned IndexStore with a spatially LOCAL batch, so the
  // merge reads and rewrites only the touched buckets. The in-memory merge
  // of the SAME batch rides alongside: its delta recompute is identical by
  // construction, so the difference is exactly the two full-index scans +
  // whole-result persist the store never pays. The rewritten/total bucket
  // counts are the evidence the rewrite really was partial. The 10M rung
  // is OPT-IN: where the in-memory merge hits the 2x-working-set spill
  // (48 s, bench_incr_merge.json) while the store touches O(buckets).
  private def storeMergeRung(nBase: Long, tag: String)(r: Recorder): Unit = {
    val basePts = SyntheticPoints.uniform(spark, nBase)
    val newPts = localBatch(nBase, 10000)
    val dir = Scratch.dir("graft_bench_store")
    val ix = r.time(s"store_base_build_$tag")(MortonHierarchy.build(basePts, opts))
    r.time(s"store_save_$tag")(IndexStore.save(ix, dir, nBase, opts))
    // released BEFORE the store merge: the store path must stand on its own
    // I/O (and at 10M the cached index would fight the merge for the heap)
    ix.unpersist()
    val st = r.time(s"store_merge_local10k_$tag")(IndexStore.mergeInto(spark, dir, newPts))
    r.evidence(s"store_rewritten_buckets_$tag", st.rewrittenBuckets.toDouble)
    r.evidence(s"store_total_buckets_$tag", st.totalBuckets.toDouble)
    val ix2 = r.time(s"incr_base_rebuild_$tag")(MortonHierarchy.build(basePts, opts))
    r.time(s"incr_merge_local10k_$tag")(IncrementalGrid.merge(ix2, newPts, nBase, opts)).unpersist()
    ix2.unpersist()
  }
  val storeMerge: Seq[BenchSection] = Seq(1000000L -> "1m", 10000000L -> "10m").map {
    case (n, tag) => section(s"store_merge_$tag", tag == "1m", "store_merge")(storeMergeRung(n, tag))
  }

  // store-side serve ladder (VERDICT r9 #5): bbox probes answered STRAIGHT
  // OFF the bucketed store — no index load, every probe a partition-pruned
  // parquet scan + collect: a city-box probe (~1°x1°, the map-tile shape
  // the bucket pruning exists for) per zoom plus one world-bbox probe (the
  // unpruned fallback), median of 5 after a warm-up. Coarse zooms
  // (z <= bucketZoom+2) serve off the Reader's lazily-persisted coarse-level
  // cache — what a held-open Reader ships with (r10 verdict #7).
  private def storeLadderRung(nPts: Long, tag: String)(r: Recorder): Unit = {
    val dir = Scratch.dir(s"graft_bench_storeq_$tag")
    val idx = MortonHierarchy.build(SyntheticPoints.uniform(spark, nPts), opts)
    IndexStore.save(idx, dir, nPts, opts)
    idx.unpersist()
    val city = (12.0, 47.0, 13.0, 48.0)
    // the serve-process shape: open once (meta + partition listing — the
    // fixed cost the one-shot path pays every call), probe many
    val reader = r.time(s"store_open_${tag}_sec")(IndexStore.open(spark, dir))
    // one-shot comparator: meta read + full re-listing + probe, per call
    val (n, oneshot) = timed(IndexStore.getClusters(spark, dir, city, 8).collect().length)
    Bench.blackhole = n.toLong
    r.timing(s"store_q${tag}_oneshot_z8_ms", oneshot * 1000)
    def probeMs(bbox: (Double, Double, Double, Double), z: Int): Double =
      medianSec(1, 5)(reader.getClusters(bbox, z).collect().length.toLong) * 1000
    Seq(0, 4, 8, 12, 16).foreach(z => r.timing(s"store_q${tag}_city_z${z}_ms", probeMs(city, z)))
    r.timing(s"store_q${tag}_world_z4_ms", probeMs(world, 4))
    reader.close()
  }
  val storeLadder: Seq[BenchSection] = Seq(1000000L -> "1m", 10000000L -> "10m").map {
    case (n, tag) =>
      section(s"store_query_ladder_$tag", tag == "1m", "store_query_ladder")(storeLadderRung(n, tag))
  }

  // chained-merge soak (VERDICT r9 #6): 20 sequential 10k local merges into
  // a 1M store — the one-merge-per-ingest-window cadence measured for
  // FLATNESS (first5 vs last5 expose cross-commit accumulation a 2-3 merge
  // test can't), then the MVCC reclaim a deployment runs between windows
  // (vacuum keep=1: wall + reclaimed files). Per merge phase: mean and max
  // across the chain plus the SLOWEST merge's own split (VERDICT r10 #5) —
  // tail excess in write/commit reads as FS latency, growth in
  // recompute/delta would be a real leak. OPT-IN; bench_store_chain.json.
  val chain: BenchSection = section("store_merge_chain", defaultOn = false) { r =>
    val (nBase, nMerges, batch) = (1000000L, 20, 10000L)
    val dir = Scratch.dir("graft_bench_storechain")
    val idx = MortonHierarchy.build(SyntheticPoints.uniform(spark, nBase), opts)
    IndexStore.save(idx, dir, nBase, opts)
    idx.unpersist()
    val merges = (0 until nMerges).map { i =>
      val (st, sec) = timed(IndexStore.mergeInto(spark, dir, localBatch(nBase + i * batch, batch)))
      (sec, st.phaseSec)
    }
    val times = merges.map(_._1)
    val (nVacuumed, tVacuum) = timed(IndexStore.vacuum(spark, dir, keepEpochs = 1))
    val slowest = merges.maxBy(_._1)._2
    r.evidence("store_chain_merges", nMerges.toDouble)
    r.timing("store_chain_total_sec", times.sum)
    r.timing("store_chain_first5_avg_sec", times.take(5).sum / 5)
    r.timing("store_chain_last5_avg_sec", times.takeRight(5).sum / 5)
    r.timing("store_chain_max_sec", times.max)
    r.timing("store_chain_vacuum_sec", tVacuum)
    r.evidence("store_chain_vacuum_deleted_files", nVacuumed.toDouble)
    merges.flatMap(_._2.keys).distinct.foreach { p =>
      val vs = merges.map(_._2.getOrElse(p, 0.0))
      r.timing(s"store_chain_phase_${p}_mean_sec", vs.sum / vs.size)
      r.timing(s"store_chain_phase_${p}_max_sec", vs.max)
      r.timing(s"store_chain_slowest_${p}_sec", slowest.getOrElse(p, 0.0))
    }
  }

  // DEEP-LAYOUT chain soak (r13 verdict #4): the per-bucket manifest split
  // claims commit I/O O(touched buckets) — proven at a >=50k-FILE layout
  // (785 buckets x saltFiles=72, ~55k actual files) where the old
  // whole-list rewrite paid ~55k lines (~3 MB) per commit. Merge 1 pays the
  // one-time flat->bucket-list upgrade (reported apart); the steady tail's
  // manifest-files mean should sit at touched-buckets+1 with KB-scale
  // bytes and a flat commit phase. OPT-IN.
  val chainDeep: BenchSection = section("store_chain_deep", defaultOn = false) { r =>
    val (nBase, nMerges, batch) = (1000000L, 10, 10000L)
    val dir = Scratch.dir("graft_bench_storechaindeep")
    val idx = MortonHierarchy.build(SyntheticPoints.uniform(spark, nBase), opts)
    r.time("store_deep_save_sec")(IndexStore.save(idx, dir, nBase, opts, saltFiles = 72))
    idx.unpersist()
    locally {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(dir.stripPrefix("file:"), "levels")
      r.evidence("store_deep_files", java.nio.file.Files.walk(root).iterator().asScala
        .count(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toDouble)
    }
    val merges = (0 until nMerges).map { i =>
      timed(IndexStore.mergeInto(spark, dir, localBatch(nBase + i * batch, batch))).swap
    }
    val times = merges.map(_._1)
    val upgrade = merges.head._2
    val steady = merges.drop(1).map(_._2)
    val (nVacuumed, tVacuum) = timed(IndexStore.vacuum(spark, dir, keepEpochs = 1))
    def mean(xs: Seq[Double]): Double = xs.sum / xs.size
    r.evidence("store_deep_buckets", upgrade.totalBuckets.toDouble)
    r.evidence("store_deep_merges", nMerges.toDouble)
    r.timing("store_deep_total_sec", times.sum)
    r.timing("store_deep_first_merge_sec", times.head)
    r.timing("store_deep_last5_avg_sec", times.takeRight(5).sum / 5)
    r.evidence("store_deep_upgrade_manifest_files", upgrade.manifestFiles.toDouble)
    r.evidence("store_deep_upgrade_manifest_kb", upgrade.manifestBytes / 1024.0)
    r.evidence("store_deep_steady_manifest_files_mean", mean(steady.map(_.manifestFiles.toDouble)))
    r.evidence("store_deep_steady_manifest_files_max", steady.map(_.manifestFiles.toDouble).max)
    r.evidence("store_deep_steady_manifest_kb_mean", mean(steady.map(_.manifestBytes / 1024.0)))
    r.evidence("store_deep_steady_touched_mean", mean(steady.map(_.rewrittenBuckets.toDouble)))
    r.evidence("store_deep_steady_planned_files_mean", mean(steady.map(_.plannedFiles.toDouble)))
    Seq("commit", "write", "recompute").foreach { p =>
      r.timing(s"store_deep_phase_${p}_mean_sec", mean(steady.map(_.phaseSec.getOrElse(p, 0.0))))
    }
    r.timing("store_deep_vacuum_sec", tVacuum)
    r.evidence("store_deep_vacuum_deleted_files", nVacuumed.toDouble)
  }

  // STORE REMOVALS (r15 verdict #3's soak): alternate spatially-local
  // merges and removals of half of each merged batch — both walls must stay
  // flat (a removal is the same touched-bucket fold) and the final store
  // still validates. The saved base is a MortonHierarchy build
  // (≡ the per-level grid fold, MortonHierarchySpec). OPT-IN.
  val storeRemove: BenchSection = section("store_remove", defaultOn = false) { r =>
    import spark.implicits._
    val dir = Scratch.dir("graft_bench_store_rm")
    val n = 250000L
    r.time("store_remove_save_sec") {
      IndexStore.save(MortonHierarchy.build(SyntheticPoints.uniform(spark, n)), dir, n)
    }
    val walls = (0 until 6).map { i =>
      val lcg = new java.util.Random(7001 + i)
      val batch = (0 until 5000).map { p =>
        (n + 5000L * i + p, 12.0 + lcg.nextDouble() * 0.5, 47.0 + lcg.nextDouble() * 0.5)
      }
      val (_, tMerge) = timed(IndexStore.mergeInto(spark, dir, batch.toDF("row_id", "lng", "lat")))
      // remove half of what was just merged (original coordinates)
      val rm = batch.zipWithIndex.collect { case (row, j) if j % 2 == 0 => row }
      val (_, tRemove) = timed(IndexStore.removeFrom(spark, dir, rm.toDF("row_id", "lng", "lat")))
      (tMerge, tRemove)
    }
    IndexStore.validate(spark, dir)
    Seq("store_remove_merge" -> walls.map(_._1), "store_remove" -> walls.map(_._2)).foreach {
      case (name, ws) =>
        r.timing(s"${name}_first_sec", ws.head)
        r.timing(s"${name}_last_sec", ws.last)
        r.timing(s"${name}_mean_sec", ws.sum / ws.size)
    }
  }

  // memory: per-stage JVM heap deltas mirroring the reference's discipline
  // (benchmarks/run.ts:185-226 — gc, snapshot, run the pipeline keeping
  // refs alive, snapshot, delta). The JVM has no heap/external split, so
  // the heap-used delta is the whole number. Stages mirror the reference's
  // pipeline pair: the exact greedy build (its Supercluster baseline) vs
  // the grid build (its Arrow engine).
  val memory: BenchSection = section("memory", defaultOn = true) { r =>
    val pts = Spatial.pointsDf(spark, sfDir)
    val h0 = heapUsed()
    val exact = ClusterEngine.load(pts, ClusterOptions(), idCol = Some("event_id"))
    exact.getClusters(world, 0).count()
    val h1 = heapUsed()
    val grid = ClusterEngine.loadDistributed(pts, ClusterOptions(), idCol = "event_id")
    grid.getClusters(world, 0).count()
    val h2 = heapUsed()
    exact.unpersist(); grid.unpersist()
    r.evidence("exact_build_heap_mb", (h1 - h0) / 1048576.0)
    r.evidence("grid_build_heap_mb", (h2 - h1) / 1048576.0)
  }
}
