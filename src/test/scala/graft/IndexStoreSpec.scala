package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.cluster.{ClusterOptions, GridReference, IndexStore}

/** Storage-backed index: save/load bit-equality, mergeInto ≡ rebuild on
  * the union, and the locality contract — a spatially-local ingest batch
  * rewrites only its touched buckets (proved by file listing: untouched
  * bucket files are byte-for-byte untouched), while a uniform batch
  * degrades to rewriting them all, value-identically either way.
  */
class IndexStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)

  private def pts(n: Int, seed: Long, from: Int = 0): Seq[(Long, Double, Double)] = {
    val it = lcg(seed)
    (0 until n).map { i =>
      val a = (it.next() >>> 12) % 1000000L
      val b = (it.next() >>> 12) % 1000000L
      ((from + i).toLong, a / 1000000.0 * 360.0 - 180.0, b / 1000000.0 * 170.0 - 85.0)
    }
  }

  /** A spatially-LOCAL batch: everything inside one ~0.5°×0.5° box. */
  private def localPts(n: Int, seed: Long, from: Int): Seq[(Long, Double, Double)] = {
    val it = lcg(seed)
    (0 until n).map { i =>
      val a = (it.next() >>> 12) % 1000000L
      val b = (it.next() >>> 12) % 1000000L
      ((from + i).toLong, 12.0 + a / 2000000.0, 47.0 + b / 2000000.0)
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

  private def freshDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_store_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** (relative file path → (size, mtime)) for every data file under
    * levels/ — the rewrite-evidence snapshot.
    */
  private def fileState(path: String): Map[String, (Long, Long)] = {
    val root = Paths.get(path, "levels")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toList
    files.map { p =>
      root.relativize(p).toString ->
        ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
    }.toMap
  }

  test("save → load is bit-equal to the built index") {
    val built = GridReference.build(df(pts(900, 5)))
    val dir = freshDir("roundtrip")
    IndexStore.save(built, dir, 900L)
    assert(canon(IndexStore.load(spark, dir)) == canon(built))
    val meta = IndexStore.readMeta(spark, dir)
    assert(meta.numPoints == 900L && meta.bucketZoom == 2)
  }

  test("mergeInto(uniform batch) == rebuild on the union, totals updated") {
    val base = pts(900, 11)
    val batch = pts(300, 12, from = 900)
    val dir = freshDir("uniform")
    IndexStore.save(GridReference.build(df(base)), dir, 900L)
    val stats = IndexStore.mergeInto(spark, dir, df(batch))
    assert(stats.ingested == 300L)
    assert(IndexStore.readMeta(spark, dir).numPoints == 1200L)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batch))))
  }

  test("local batch rewrites only its touched buckets; untouched files are untouched") {
    val base = pts(1000, 21)
    val batch = localPts(120, 22, from = 1000)
    val dir = freshDir("local")
    IndexStore.save(GridReference.build(df(base)), dir, 1000L)
    val before = fileState(dir)
    val stats = IndexStore.mergeInto(spark, dir, df(batch))

    // the 0.5° box spans at most a 2×2 block of bucket cells (+ the coarse
    // -1 bucket) — far below the global bucket count
    assert(stats.rewrittenBuckets <= 5,
      s"local batch touched ${stats.rewrittenBuckets} buckets")
    assert(stats.totalBuckets > 20 * stats.rewrittenBuckets,
      s"locality claim vacuous: ${stats.totalBuckets} total buckets")

    // rewrite evidence: every pre-existing file outside the touched
    // buckets is still the same file (size AND mtime); rewritten buckets
    // get fresh files, so only untouched ones can match
    val after = fileState(dir)
    val unchanged = before.count { case (rel, st) => after.get(rel).contains(st) }
    assert(unchanged >= before.size - stats.rewrittenBuckets.toInt,
      s"expected >= ${before.size - stats.rewrittenBuckets} unchanged files, got $unchanged")

    // and the result is still bit-equal to a fresh rebuild of the union
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batch))))
  }

  test("chained merges through the store == one rebuild on everything") {
    val base = pts(700, 31)
    val b1 = localPts(100, 32, from = 700)
    val b2 = pts(150, 33, from = 800)
    val dir = freshDir("chained")
    IndexStore.save(GridReference.build(df(base)), dir, 700L)
    IndexStore.mergeInto(spark, dir, df(b1))
    IndexStore.mergeInto(spark, dir, df(b2))
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ b1 ++ b2))))
  }

  test("20-merge soak: chain == one rebuild, flat per-merge time, bounded files") {
    // the deployment shape is hundreds of ingest-window merges, not the
    // 2-3 the tests above chain; this locks the three properties a long
    // chain can silently lose: (1) bit-equality vs a single rebuild of
    // everything — no drift accumulates across commits; (2) per-merge
    // wall time stays flat — the localCheckpoint-leak class the in-memory
    // builder already hit once would show here as monotone growth;
    // (3) the store's file population stays bounded — repeated dynamic
    // overwrite of the same hot region must replace files, not pile them
    // up. All 20 batches hit the SAME ~0.5° box (the harshest case: the
    // hot buckets are rewritten every single merge).
    val nMerges = 20
    val batchSz = 60
    val base = pts(800, 71)
    val dir = freshDir("soak")
    IndexStore.save(GridReference.build(df(base)), dir, 800L)
    val batches = (0 until nMerges).map { i =>
      localPts(batchSz, 72 + i, from = 800 + i * batchSz)
    }
    val wall = batches.map { b =>
      val t0 = System.nanoTime()
      IndexStore.mergeInto(spark, dir, df(b))
      (System.nanoTime() - t0) / 1e9
    }
    val meta = IndexStore.readMeta(spark, dir)
    assert(meta.epoch == nMerges.toLong)
    assert(meta.numPoints == 800L + nMerges * batchSz)
    IndexStore.validate(spark, dir)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batches.flatten))))
    // flat wall time: the last 5 merges must not run materially slower
    // than the first 5 (3.5x slack absorbs local-mode timing noise; a
    // real accumulation-leak regression is superlinear and blows well
    // past it — the in-memory leak this guards against measured minutes)
    val first5 = wall.take(5).sum / 5
    val last5 = wall.takeRight(5).sum / 5
    info(f"per-merge wall: first5 avg $first5%.2fs, last5 avg $last5%.2fs")
    assert(last5 <= first5 * 3.5 + 0.5,
      f"merge time grew across the chain: first5 $first5%.2fs -> last5 $last5%.2fs")
    // file census under MVCC: merges APPEND (old epochs' files stay for
    // pinned readers), so disk grows across the chain BY DESIGN — and
    // vacuum(keep=1) must bring it back to the live population. The live
    // set itself (what a fresh open reads) stays bounded throughout.
    val nBuckets = IndexStore.listBuckets(spark, dir).size
    val preVacuum = fileState(dir).size
    assert(preVacuum > nBuckets,
      s"append-only chain should accumulate versions: $preVacuum files for $nBuckets buckets")
    val deleted = IndexStore.vacuum(spark, dir, keepEpochs = 1)
    assert(deleted > 0, "a 20-merge chain must leave reclaimable versions")
    val nFiles = fileState(dir).size
    assert(nFiles <= nBuckets * 3,
      s"post-vacuum file population unbounded: $nFiles files for $nBuckets buckets")
    // vacuum must not have touched live data
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batches.flatten))))
    IndexStore.validate(spark, dir)
  }

  test("MVCC: a held-open Reader serves its epoch bit-identically THROUGH a merge; vacuum reclaims only unreferenced files (r11 verdict #2)") {
    val base = pts(1000, 95)
    val batch = localPts(80, 96, from = 1000)
    val dir = freshDir("mvcc")
    IndexStore.save(GridReference.build(df(base)), dir, 1000L)
    val reader = IndexStore.open(spark, dir)
    val cases = Seq(
      ((10.0, 40.0, 14.0, 44.0), 12),   // deep zoom: cold pinned-file scan
      ((11.9, 46.9, 13.1, 48.1), 12),   // the box the batch lands in
      ((10.0, 40.0, 14.0, 44.0), 1),    // coarse: -1 bucket (+cache)
      ((-180.0, -85.0, 180.0, 85.0), 5))
    val preMerge = cases.map { case (b, z) => canon(reader.getClusters(b, z)) }
    IndexStore.mergeInto(spark, dir, df(batch))
    assert(!reader.isCurrent, "reader must detect the newer epoch")
    // snapshot isolation — the r11 failure mode (FileNotFoundException or
    // silent partial rows) is gone: the stale Reader answers every probe
    // bit-identically to its open-time epoch, INCLUDING the merged region
    cases.zip(preMerge).foreach { case ((b, z), want) =>
      assert(canon(reader.getClusters(b, z)) == want,
        s"stale reader diverged from its snapshot at bbox=$b z=$z")
    }
    // a fresh open sees the merged epoch
    val fresh = IndexStore.open(spark, dir)
    assert(fresh.isCurrent)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batch))))
    // vacuum(keep=1) reclaims exactly the files only epoch 0 referenced:
    // something is deleted, the live epoch is untouched, and the fresh
    // Reader (pinned to the retained epoch) still answers every probe
    val deleted = IndexStore.vacuum(spark, dir, keepEpochs = 1)
    assert(deleted > 0, "the merge must leave epoch-0-only files to reclaim")
    cases.foreach { case (b, z) =>
      assert(canon(fresh.getClusters(b, z)) ==
        canon(IndexStore.getClusters(spark, dir, b, z)),
        s"post-vacuum reader diverged at bbox=$b z=$z")
    }
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batch))))
    IndexStore.validate(spark, dir)
  }

  test("pre-manifest store upgrades in place on its first merge") {
    val base = pts(700, 97)
    val batch = pts(120, 98, from = 700)
    val dir = freshDir("legacy")
    IndexStore.save(GridReference.build(df(base)), dir, 700L)
    // simulate an r11-era store: no manifests directory at all
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/manifests"), true)
    // reads fall back to the directory listing
    assert(canon(IndexStore.load(spark, dir)) == canon(GridReference.build(df(base))))
    // the first merge synthesizes the old epoch's file list and commits a
    // real manifest — results stay exactly rebuild-equal
    IndexStore.mergeInto(spark, dir, df(batch))
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batch))))
    val meta = IndexStore.readMeta(spark, dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/manifests/epoch-${meta.epoch}.txt")),
      "first merge must commit a manifest for the new epoch")
  }

  test("non-default minPoints rides the store metadata") {
    val opts = ClusterOptions(minPoints = 5)
    val base = pts(600, 41)
    val batch = pts(200, 42, from = 600)
    val dir = freshDir("minpoints")
    IndexStore.save(GridReference.build(df(base), opts), dir, 600L, opts)
    IndexStore.mergeInto(spark, dir, df(batch))
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batch), opts)))
  }

  test("loadAsIndex serves the full query surface, equal to a fresh distributed index") {
    import graft.cluster.ClusterEngine
    val base = pts(800, 61)
    val batch = localPts(150, 62, from = 800)
    val dir = freshDir("asindex")
    IndexStore.save(GridReference.build(df(base)), dir, 800L)
    IndexStore.mergeInto(spark, dir, df(batch))
    val fromStore = IndexStore.loadAsIndex(spark, dir)
    val fresh = ClusterEngine.loadDistributed(df(base ++ batch))
    try {
      val world = (-180.0, -85.0, 180.0, 85.0)
      (0 to 16 by 4).foreach { z =>
        assert(canon(fromStore.getClusters(world, z)) == canon(fresh.getClusters(world, z)),
          s"bbox scan diverged at z=$z")
      }
      val cl = fresh.getClusters(world, 3)
        .where(org.apache.spark.sql.functions.col("is_cluster"))
        .orderBy(org.apache.spark.sql.functions.desc("point_count"),
          org.apache.spark.sql.functions.col("id"))
        .select("id").head().getLong(0)
      assert(canon(fromStore.getChildren(cl).toDF()) == canon(fresh.getChildren(cl).toDF()))
      assert(canon(fromStore.getLeaves(cl, limit = 20).toDF()) ==
        canon(fresh.getLeaves(cl, limit = 20).toDF()))
    } finally { fromStore.unpersist(); fresh.unpersist(): Unit }
  }

  test("getClusters off the store == the loaded index's, reading only overlapping buckets") {
    val base = pts(1200, 81)
    val dir = freshDir("bboxq")
    IndexStore.save(GridReference.build(df(base)), dir, 1200L)
    val idx = IndexStore.loadAsIndex(spark, dir)
    try {
      val cases = Seq(
        ((10.0, 40.0, 14.0, 44.0), 12),  // map-tile-ish box, fine zoom
        ((10.0, 40.0, 14.0, 44.0), 1),   // same box, coarse zoom (-1 bucket)
        ((170.0, -20.0, -170.0, 20.0), 9), // antimeridian crossing
        ((-180.0, -85.0, 180.0, 85.0), 5)) // whole world
      cases.foreach { case (bbox, z) =>
        val fromStore = IndexStore.getClusters(spark, dir, bbox, z)
        assert(canon(fromStore) == canon(idx.getClusters(bbox, z)),
          s"bbox=$bbox z=$z diverged")
      }
      // pruning evidence: the small-box fine-zoom scan READS a handful of
      // bucket files, not the store's full file census (the executed
      // scan's numFiles metric — DataFrame.inputFiles ignores partition
      // filters and would report the whole store)
      def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        def walk(p: SparkPlan): Seq[SparkPlan] = {
          val kids = p match {
            case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case s: QueryStageExec => Seq(s.plan)
            case o => o.children
          }
          p +: kids.flatMap(walk)
        }
        walk(df.queryExecution.executedPlan).collect {
          case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
      }
      val total = IndexStore.listBuckets(spark, dir).size
      val small = filesRead(IndexStore.getClusters(spark, dir, (10.0, 40.0, 14.0, 44.0), 12))
      assert(small < total / 4, s"expected a pruned read, got $small of ~$total files")
      val coarse = filesRead(IndexStore.getClusters(spark, dir, (10.0, 40.0, 14.0, 44.0), 1))
      assert(coarse <= 2, s"coarse query must read only the -1 bucket, got $coarse")
    } finally idx.unpersist(): Unit
  }

  test("held-open Reader == one-shot getClusters; staleness detected after a merge") {
    val base = pts(1000, 91)
    val dir = freshDir("reader")
    IndexStore.save(GridReference.build(df(base)), dir, 1000L)
    val reader = IndexStore.open(spark, dir)
    assert(reader.isCurrent)
    val cases = Seq(
      ((10.0, 40.0, 14.0, 44.0), 12),
      ((10.0, 40.0, 14.0, 44.0), 1),
      ((170.0, -20.0, -170.0, 20.0), 9),
      ((-180.0, -85.0, 180.0, 85.0), 5))
    cases.foreach { case (bbox, z) =>
      assert(canon(reader.getClusters(bbox, z)) ==
        canon(IndexStore.getClusters(spark, dir, bbox, z)),
        s"reader diverged from one-shot at bbox=$bbox z=$z")
    }
    // a merge commits a new epoch: the held-open snapshot must KNOW it is
    // stale (its cached listing predates the overwrite), and a re-open
    // must serve the merged store
    IndexStore.mergeInto(spark, dir, df(localPts(80, 92, from = 1000)))
    assert(!reader.isCurrent, "reader must detect the newer epoch")
    val reopened = IndexStore.open(spark, dir)
    assert(reopened.isCurrent)
    cases.foreach { case (bbox, z) =>
      assert(canon(reopened.getClusters(bbox, z)) ==
        canon(IndexStore.getClusters(spark, dir, bbox, z)),
        s"reopened reader diverged at bbox=$bbox z=$z")
    }
  }

  test("Reader coarse cache: cached, uncached (row-cap fallback), and closed probes all agree") {
    val base = pts(1000, 93)
    val dir = freshDir("readercache")
    IndexStore.save(GridReference.build(df(base)), dir, 1000L)
    val world = (-180.0, -85.0, 180.0, 85.0)
    val city = (10.0, 40.0, 14.0, 44.0)
    // coarse zooms (≤ bucketZoom+2 = 4) serve off the cache; the capped
    // reader skips the cache and must return the identical rows
    val cached = IndexStore.open(spark, dir)
    val uncached = IndexStore.open(spark, dir, coarseCacheRowCap = 0L)
    Seq((world, 0), (world, 3), (world, 4), (city, 2)).foreach { case (bbox, z) =>
      val want = canon(IndexStore.getClusters(spark, dir, bbox, z))
      assert(canon(cached.getClusters(bbox, z)) == want,
        s"cached reader diverged at z=$z")
      assert(canon(uncached.getClusters(bbox, z)) == want,
        s"cache-skipping reader diverged at z=$z")
    }
    // after close() the reader still answers (scan path), identically
    cached.close()
    assert(canon(cached.getClusters(world, 3)) ==
      canon(IndexStore.getClusters(spark, dir, world, 3)),
      "closed reader must still serve correct rows")
    uncached.close() // no-op: cache never materialized
  }

  test("streaming ingest into the store: foreachBatch + mergeInto == rebuild") {
    // the full deployment loop: a saved store, a point stream, one
    // partial-rewrite merge per micro-batch through the REAL streaming
    // engine — the living store must be bit-equal to a from-scratch
    // build on everything, and still serve the query surface
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = pts(900, 71)
    val (basePts, streamPts) = all.splitAt(600)
    val dir = freshDir("streaming")
    IndexStore.save(GridReference.build(df(basePts)), dir, 600L)

    val input = MemoryStream[(Long, Double, Double)]
    val q = input.toDS().toDF("row_id", "lng", "lat").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { IndexStore.mergeInto(spark, dir, batch); () }
      }
      .start()
    try {
      input.addData(streamPts.take(150))
      q.processAllAvailable()
      input.addData(streamPts.drop(150))
      q.processAllAvailable()
    } finally q.stop()

    assert(IndexStore.readMeta(spark, dir).numPoints == 900L)
    assert(canon(IndexStore.load(spark, dir)) == canon(GridReference.build(df(all))))
  }

  test("salted save: multiple files per bucket, same rows back, merges unaffected") {
    val base = pts(800, 91)
    val batch = pts(100, 92, from = 800)
    val dir = freshDir("salted")
    IndexStore.save(GridReference.build(df(base)), dir, 800L, saltFiles = 3)
    val perBucket = fileState(dir).keys.groupBy(_.takeWhile(_ != '/')).view.mapValues(_.size)
    assert(perBucket.values.max <= 3 && perBucket.values.exists(_ > 1),
      "salting should spread at least one bucket over multiple files")
    assert(canon(IndexStore.load(spark, dir)) == canon(GridReference.build(df(base))))
    IndexStore.mergeInto(spark, dir, df(batch))
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batch))))
  }

  test("writer fence: two interleaved merges from the same epoch — one commits, one throws, nothing is lost (r12 verdict #1)") {
    import graft.cluster.StoreCommitConflict
    val base = pts(700, 201)
    val batchA = localPts(80, 202, from = 700)   // the winner's batch
    // the loser reads the SAME epoch (numPoints=700), so its batch claims
    // the same id range — exactly the both-read-epoch-N scenario. The
    // loser's batch OVERLAPS the winner's region, so the r16 disjoint
    // rebase cannot vouch and the conflict still surfaces loudly.
    val batchB = localPts(90, 203, from = 700)
    val dir = freshDir("fence")
    IndexStore.save(GridReference.build(df(base)), dir, 700L)
    // deterministic same-epoch interleave, no threads: the LOSER merge
    // (batch B) reaches its commit point having read meta at epoch 0;
    // the hook then runs the WINNER merge (batch A) to completion —
    // also from epoch 0 — so both contend for the epoch-1 manifest slot
    IndexStore.testHookBeforeCommit = () => {
      IndexStore.testHookBeforeCommit = () => ()
      IndexStore.mergeInto(spark, dir, df(batchA)): Unit
    }
    val conflict = try {
      intercept[StoreCommitConflict] {
        IndexStore.mergeInto(spark, dir, df(batchB))
      }
    } finally IndexStore.testHookBeforeCommit = () => ()
    assert(conflict.getMessage.contains("single-writer"))
    // the winner's commit is intact and complete — the old delete-then-
    // rename would have silently clobbered it with the loser's list
    assert(IndexStore.readMeta(spark, dir).numPoints == 780L)
    IndexStore.validate(spark, dir)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batchA))))
    // the loser's appended files are unreferenced orphans — vacuum
    // reclaims them without touching the live epoch
    val deleted = IndexStore.vacuum(spark, dir, keepEpochs = 1)
    assert(deleted > 0, "the aborted merge must leave orphan files to reclaim")
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batchA))))
    // a clean RE-merge of the loser's batch (same coordinates, ids
    // re-issued to continue the WINNER's id space) lands on epoch 2
    val batchB2 = pts(90, 203, from = 780)
    IndexStore.mergeInto(spark, dir, df(batchB2))
    IndexStore.validate(spark, dir)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batchA ++ batchB2))))
  }

  test("vacuum fence: a vacuum racing an in-flight merge wins the slot; the merge REBASES onto the identity fence (r16) and never commits deleted files") {
    val base = pts(800, 211)
    val batch = localPts(70, 212, from = 800)
    val dir = freshDir("vacfence")
    IndexStore.save(GridReference.build(df(base)), dir, 800L)
    // merge 1 creates reclaimable epoch-0 versions so the racing vacuum
    // has real work to do (and upgrades the store to v2 manifests)
    IndexStore.mergeInto(spark, dir, df(batch))
    // merge 2 is interrupted at its commit point by a vacuum: the vacuum
    // claims the next epoch FIRST (identity commit), then reclaims — so
    // merge 2's fresh appends are deleted as orphans AND its commit CAS
    // fails. An identity fence changes NO bucket entries, so the merge's
    // recompute is still valid — the r16 rebase re-lands it on the fence
    // epoch with freshly-written files (the vacuumed orphans are never
    // referenced); the old behavior was a loud abort + full re-run.
    var vacuumed = -1L
    IndexStore.testHookBeforeCommit = () => {
      IndexStore.testHookBeforeCommit = () => ()
      vacuumed = IndexStore.vacuum(spark, dir, keepEpochs = 1)
    }
    val stats = try IndexStore.mergeInto(spark, dir, df(pts(60, 213, from = 870)))
    finally IndexStore.testHookBeforeCommit = () => ()
    assert(vacuumed > 0, "the racing vacuum must have reclaimed something")
    assert(stats.phaseSec.contains("rebase"),
      "the merge must have landed through the rebase path")
    // the merge landed ON TOP of the fence, fully valid, sequential value
    IndexStore.validate(spark, dir)
    assert(IndexStore.readMeta(spark, dir).numPoints == 930L)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batch ++ pts(60, 213, from = 870)))))
  }

  test("disjoint-merge rebase (r15 verdict #5): the CAS loser re-lands on the winner O(touched), value == sequential merges") {
    val base = pts(700, 231)
    val dir = freshDir("rebase")
    IndexStore.save(GridReference.build(df(base)), dir, 700L)
    // upgrade to v2 manifests (the rebase diffs bucket entries)
    val batchC = localPts(10, 234, from = 700)
    IndexStore.mergeInto(spark, dir, df(batchC))
    // two writers from the SAME epoch, spatially far apart: winner A near
    // (12E, 47N), loser B near (150W, 40S) — disjoint buckets AND
    // disjoint coarse ancestors all the way to z=0
    val batchA = localPts(80, 232, from = 710)
    val batchB = (0 until 90).map { i =>
      val it = lcg(233 + i)
      val a = (it.next() >>> 12) % 1000000L
      ((710 + i).toLong, -150.0 + a / 4000000.0, -40.0 + a / 4000000.0)
    }
    IndexStore.testHookBeforeCommit = () => {
      IndexStore.testHookBeforeCommit = () => ()
      IndexStore.mergeInto(spark, dir, df(batchA)): Unit
    }
    val stats = try IndexStore.mergeInto(spark, dir, df(batchB))
    finally IndexStore.testHookBeforeCommit = () => ()
    assert(stats.phaseSec.contains("rebase"),
      "the disjoint loser must land through the rebase path, not a re-run")
    IndexStore.validate(spark, dir)
    assert(IndexStore.readMeta(spark, dir).numPoints == 880L)
    // value == SEQUENTIAL merges: A first (ids 710..790), then B with its
    // leaf ids re-issued after A — exactly what the rebase's id shift does
    val batchBSeq = batchB.map { case (id, x, y) => (id + 80L, x, y) }
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batchC ++ batchA ++ batchBSeq))))
    // and an OVERLAPPING loser still throws (the writer-fence test pins it)
  }

  test("crashed commit: the orphan manifest blocks writers loudly; recover() frees the slot") {
    import graft.cluster.StoreCommitConflict
    val base = pts(500, 221)
    val dir = freshDir("crashed")
    IndexStore.save(GridReference.build(df(base)), dir, 500L)
    // simulate a merge that died mid-commit: a (torn) manifest ahead of
    // the committed meta
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/manifests/epoch-1.txt")
    val out = fs.create(orphan, false)
    out.write("bucket=0/part-torn.parquet\n".getBytes("UTF-8")); out.close()
    // both writers refuse the taken slot — nothing silently clobbers it
    intercept[StoreCommitConflict] {
      IndexStore.mergeInto(spark, dir, df(pts(50, 222, from = 500)))
    }
    intercept[StoreCommitConflict] { IndexStore.vacuum(spark, dir) }
    // reads are unaffected (the orphan is ahead of meta — nobody plans
    // from it)
    assert(canon(IndexStore.load(spark, dir)) == canon(GridReference.build(df(base))))
    // recover() deletes orphans ahead of meta; writers proceed
    assert(IndexStore.recover(spark, dir) == 1L)
    IndexStore.mergeInto(spark, dir, df(pts(50, 222, from = 500)))
    IndexStore.validate(spark, dir)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ pts(50, 222, from = 500)))))
  }

  test("manifest-era store with a deleted epoch manifest throws instead of directory-scanning duplicates") {
    val base = pts(600, 231)
    val dir = freshDir("strict")
    IndexStore.save(GridReference.build(df(base)), dir, 600L)
    IndexStore.mergeInto(spark, dir, df(pts(80, 232, from = 600)))
    // kill the CURRENT epoch's manifest (epoch 1), leaving epoch 0's: the
    // old fallback silently scanned the levels dir — superseded epoch-0
    // files would read as duplicate rows next to their rewrites
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/manifests/epoch-1.txt"), false)
    val e = intercept[IllegalStateException] { IndexStore.load(spark, dir).collect() }
    assert(e.getMessage.contains("manifest"))
    intercept[IllegalStateException] {
      IndexStore.mergeInto(spark, dir, df(pts(10, 233, from = 680)))
    }
  }

  test("commit verify: on a store whose create-exclusive is NOT atomic, a lost race throws instead of silently clobbering (r13 verdict #1)") {
    import graft.cluster.StoreCommitConflict
    // legacy-S3A shape: create(path, overwrite=false) is HEAD-then-PUT —
    // simulate by forcing every create to overwrite, so the CAS alone can
    // never detect a rival. The verify read-back must catch it instead.
    class NonAtomicCreateFs(inner: org.apache.hadoop.fs.FileSystem)
        extends org.apache.hadoop.fs.FilterFileSystem(inner) {
      override def create(
          f: org.apache.hadoop.fs.Path,
          permission: org.apache.hadoop.fs.permission.FsPermission,
          overwrite: Boolean, bufferSize: Int, replication: Short,
          blockSize: Long,
          progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
        super.create(f, permission, true, bufferSize, replication, blockSize, progress)
    }
    val base = pts(700, 241)
    val batchA = pts(80, 242, from = 700)   // the loser (paused mid-commit)
    val batchB = localPts(90, 243, from = 700) // the rival that lands last... first
    val dir = freshDir("nonatomic")
    IndexStore.save(GridReference.build(df(base)), dir, 700L)
    IndexStore.testFsTransform = fs => new NonAtomicCreateFs(fs)
    // merge A writes its epoch-1 manifest (create "succeeds" — non-atomic),
    // then pauses before the verify; rival merge B runs to completion in
    // the window, its create silently clobbering A's manifest exactly as
    // HEAD-then-PUT would. A's verify must see B's bytes and throw.
    IndexStore.testHookAfterManifestWrite = () => {
      IndexStore.testHookAfterManifestWrite = () => ()
      IndexStore.mergeInto(spark, dir, df(batchB)): Unit
    }
    val conflict = try {
      intercept[StoreCommitConflict] {
        IndexStore.mergeInto(spark, dir, df(batchA))
      }
    } finally {
      IndexStore.testHookAfterManifestWrite = () => ()
      IndexStore.testFsTransform = identity
    }
    assert(conflict.getMessage.contains("verify"),
      s"expected the verify to catch the lost race, got: ${conflict.getMessage}")
    // the rival's commit stands, complete and valid; the loser published
    // nothing (its appends are vacuum-able orphans)
    assert(IndexStore.readMeta(spark, dir).numPoints == 790L)
    IndexStore.validate(spark, dir)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batchB))))
    // and the loser's clean retry (ids continuing the rival's space) lands
    val batchA2 = pts(80, 242, from = 790)
    IndexStore.mergeInto(spark, dir, df(batchA2))
    IndexStore.validate(spark, dir)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ batchB ++ batchA2))))
  }

  test("consecutive vacuums: fence epochs don't squeeze real commits out of retention; a reader lagging one real epoch survives (r13 advice)") {
    val base = pts(800, 251)
    val b1 = pts(90, 252, from = 800)
    val b2 = localPts(70, 253, from = 890)
    val dir = freshDir("vacfencecount")
    IndexStore.save(GridReference.build(df(base)), dir, 800L)       // epoch 0
    IndexStore.mergeInto(spark, dir, df(b1))                         // epoch 1
    val lagging = IndexStore.open(spark, dir)                        // pins epoch 1
    IndexStore.mergeInto(spark, dir, df(b2))                         // epoch 2
    val world = (-180.0, -85.0, 180.0, 85.0)
    val before = canon(lagging.getClusters(world, 6))
    // three back-to-back vacuums with keepEpochs=2: unmarked fences used
    // to count as commits, so by the third pass takeRight(2) held only
    // fence epochs and the lagging reader's real epoch-1 manifest (and
    // then its files) were reclaimed — the readers-may-lag contract broken
    (1 to 3).foreach { _ => IndexStore.vacuum(spark, dir, keepEpochs = 2): Unit }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    Seq(1L, 2L).foreach { e =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/manifests/epoch-$e.txt")),
        s"real epoch $e's manifest must survive fence-only vacuums (keepEpochs=2)")
    }
    assert(canon(lagging.getClusters(world, 6)) == before,
      "the lagging reader's snapshot changed under consecutive vacuums")
    lagging.close()
    // the store itself is intact and writable
    IndexStore.validate(spark, dir)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ b1 ++ b2))))
    IndexStore.mergeInto(spark, dir, df(pts(40, 254, from = 960)))
    IndexStore.validate(spark, dir)
  }

  test("per-bucket manifests: steady-state commit I/O is O(touched buckets); reads resolve identically; GC and corruption are handled (r13 verdict #4)") {
    val base = pts(1200, 261)
    val b1 = localPts(60, 262, from = 1200)
    val b2 = localPts(60, 263, from = 1260)
    val dir = freshDir("bucketman")
    IndexStore.save(GridReference.build(df(base)), dir, 1200L)
    // merge 1 pays the one-time upgrade from the flat epoch-0 manifest
    // (every untouched bucket's manifest written once)
    val s1 = IndexStore.mergeInto(spark, dir, df(b1))
    assert(s1.manifestFiles >= s1.totalBuckets,
      "the flat->bucket-list upgrade should write every bucket's manifest once")
    // merge 2 is steady state: bucket manifests for the touched buckets
    // plus one epoch list — O(touched), nowhere near O(all buckets)
    val s2 = IndexStore.mergeInto(spark, dir, df(b2))
    assert(s2.manifestFiles <= s2.rewrittenBuckets + 1,
      s"steady-state commit wrote ${s2.manifestFiles} manifest files for " +
        s"${s2.rewrittenBuckets} touched buckets")
    assert(s2.manifestFiles * 4 < s2.totalBuckets,
      s"commit manifest I/O (${s2.manifestFiles} files) is not O(touched) " +
        s"against ${s2.totalBuckets} buckets")
    assert(s2.manifestBytes < s1.manifestBytes,
      "steady-state commit bytes should be far below the one-time upgrade's")
    // r15 (r14 verdict #1): the merge's subset READ plans from an
    // O(touched)-resolved file list — only the touched buckets' manifests
    // are read, never the flattened epoch. Every live bucket holds >= 1
    // file, so totalBuckets lower-bounds the live file census the old
    // path handed to the planner.
    assert(s2.plannedFiles <= s2.rewrittenBuckets * 3,
      s"subset read planned ${s2.plannedFiles} files for " +
        s"${s2.rewrittenBuckets} touched buckets — not O(touched)")
    assert(s2.plannedFiles * 4 < s2.totalBuckets,
      s"subset read planned ${s2.plannedFiles} files against " +
        s"${s2.totalBuckets} live buckets — the full epoch leaked into " +
        "merge planning")
    // the resolved read is bit-equal to a fresh rebuild of the union
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ b1 ++ b2))))
    // vacuum: fence reuses the bucket pointers, aged-out bucket manifests
    // are GC'd, and the store still resolves identically
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    def bmCount: Int = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/manifests")).count(
      _.getPath.getName.startsWith("bm-"))
    val bmsBefore = bmCount
    IndexStore.vacuum(spark, dir, keepEpochs = 1)
    assert(bmCount < bmsBefore,
      "vacuum should GC the bucket manifests only aged-out epochs referenced")
    IndexStore.validate(spark, dir)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(base ++ b1 ++ b2))))
    // a missing referenced bucket manifest is loud corruption, not a
    // silent partial read
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/manifests"))
      .filter(_.getPath.getName.startsWith("bm-"))
      .foreach(s => fs.delete(s.getPath, false): Unit)
    val e = intercept[IllegalStateException] {
      IndexStore.load(spark, dir).collect()
    }
    assert(e.getMessage.contains("bucket manifest"))
  }

  test("empty batch is an identity merge") {
    val base = pts(400, 51)
    val dir = freshDir("empty")
    IndexStore.save(GridReference.build(df(base)), dir, 400L)
    val beforeRows = canon(IndexStore.load(spark, dir))
    IndexStore.mergeInto(spark, dir, df(Nil))
    assert(IndexStore.readMeta(spark, dir).numPoints == 400L)
    assert(canon(IndexStore.load(spark, dir)) == beforeRows)
  }

  // ------------------------------------------------------------ removeFrom

  test("removeFrom(uniform subset) == rebuild of the survivors in the SAME id space; numPoints untouched (r15 verdict #3)") {
    val base = pts(900, 61)
    val dir = freshDir("rm_uniform")
    IndexStore.save(GridReference.build(df(base)), dir, 900L)
    val removed = base.filter(_._1 % 7 == 3)
    val stats = IndexStore.removeFrom(spark, dir, df(removed))
    assert(stats.ingested == removed.length.toLong)
    val survivors = base.filterNot(_._1 % 7 == 3)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(survivors), idSpace = 900L)),
      "remove must equal a fresh build of the survivors in the original id space")
    // the id space is append-only: removal never renumbers survivors
    assert(IndexStore.readMeta(spark, dir).numPoints == 900L)
    assert(IndexStore.readMeta(spark, dir).epoch == 1L)
  }

  test("removeFrom(local batch) rewrites only its touched buckets; a merge on top continues the id space past removed ids") {
    val base = pts(800, 62) ++ localPts(150, 63, from = 800)
    val dir = freshDir("rm_local")
    IndexStore.save(GridReference.build(df(base)), dir, 950L)
    val state0 = fileState(dir)
    val removed = base.filter(p => p._1 >= 800 && p._1 % 3 == 1)
    val stats = IndexStore.removeFrom(spark, dir, df(removed))
    assert(stats.rewrittenBuckets < stats.totalBuckets,
      s"a spatially-local removal must not rewrite every bucket " +
        s"(${stats.rewrittenBuckets} of ${stats.totalBuckets})")
    // untouched bucket files are byte-for-byte untouched (MVCC append-only)
    val state1 = fileState(dir)
    val overlap = state0.keySet & state1.keySet
    assert(overlap.nonEmpty)
    overlap.foreach { f => assert(state0(f) == state1(f), s"$f changed") }
    val survivors = base.filterNot(p => p._1 >= 800 && p._1 % 3 == 1)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(survivors), idSpace = 950L)))
    // ingest AFTER removal: new ids continue at numPoints (removed ids
    // are never reused), and the chain still equals one rebuild
    val batch = pts(80, 64, from = 950)
    IndexStore.mergeInto(spark, dir, df(batch))
    assert(IndexStore.readMeta(spark, dir).numPoints == 1030L)
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(survivors ++ batch), idSpace = 1030L)))
  }

  test("removeFrom gate transition: a cluster dissolving below minPoints recurses correctly (== rebuild)") {
    val opts = ClusterOptions(minPoints = 5)
    // six co-located points fuse into one cluster at every zoom under
    // minPoints = 5; removing two drops the cell to mass 4 and the
    // cluster DISSOLVES back into passthrough singletons — the removal
    // case where post-removal membership is larger than stored rows
    val dense = (0 until 6).map(i => (i.toLong, 12.0001 + i * 1e-5, 47.0001 + i * 1e-5))
    val spread = pts(200, 65, from = 6)
    val all = dense ++ spread
    val dir = freshDir("rm_gate")
    IndexStore.save(GridReference.build(df(all), opts), dir, 206L, opts)
    IndexStore.removeFrom(spark, dir, df(dense.take(2)))
    val survivors = dense.drop(2) ++ spread
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(survivors), opts, idSpace = 206L)))
    // and the other direction: removal that keeps the gate shut tight
    // (mass stays >= minPoints) — the cluster shrinks, not dissolves
    IndexStore.removeFrom(spark, dir, df(Seq.empty[(Long, Double, Double)]))
    assert(canon(IndexStore.load(spark, dir)) ==
      canon(GridReference.build(df(survivors), opts, idSpace = 206L)))
  }

  test("removeFrom integrity gate: unknown ids and wrong coordinates fail loudly, store unchanged") {
    val base = pts(300, 66)
    val dir = freshDir("rm_guard")
    IndexStore.save(GridReference.build(df(base)), dir, 300L)
    val before = canon(IndexStore.load(spark, dir))
    val eId = intercept[IllegalArgumentException] {
      IndexStore.removeFrom(spark, dir, df(Seq((999L, 10.0, 10.0))))
    }
    assert(eId.getMessage.contains("id space"))
    val real = base.head
    val eCoord = intercept[IllegalArgumentException] {
      IndexStore.removeFrom(spark, dir, df(Seq((real._1, real._2 + 5.0, real._3))))
    }
    assert(eCoord.getMessage.contains("match a stored base row"))
    assert(canon(IndexStore.load(spark, dir)) == before)
    assert(IndexStore.readMeta(spark, dir).epoch == 0L, "failed removals must not commit")
  }
}
