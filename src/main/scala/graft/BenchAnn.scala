package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchSections.{BenchSection, Recorder, medianSec, section, timed}
import graft.io.{Scratch, SyntheticVectors}
import graft.operators.{AnnHit, AnnIvf, AnnIvfPq, AnnLocal, AnnLocalCodes, AnnLocalIndex,
  AnnPq, AnnServePack, AnnVecStore}

/** [[Bench]]'s ANN sections. Production-mode kernels (AnnIvf
  * exactScores=false, AnnPq exactMeans=false — q47/q63's oracle rows run
  * the decimal-exact replay instead), phase-split so one-time costs
  * (train/build/encode) read apart from the recurring search, each latency
  * paired with its recall@3 against exact brute force (a fast-but-wrong
  * kernel must not read as a win).
  */
final class BenchAnn(spark: SparkSession, sfDir: String) {

  /** Exact top-3 neighbours of every probe over `corpus` (cosine or L2,
    * ties by id): the untimed recall ground truth (bounded broadcast
    * probe).
    */
  private def exactTop3(probes: DataFrame, corpus: DataFrame,
      byCosine: Boolean): Map[Long, Set[Long]] = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.dotApprox
    val q = probes.select(col("vec_id").cast("long").as("query_id"), col("embedding").as("_qv"))
    val score =
      if (byCosine)
        nanvl(dotApprox(col("_qv"), col("_nv")) /
          (sqrt(dotApprox(col("_qv"), col("_qv"))) *
            sqrt(dotApprox(col("_nv"), col("_nv")))), lit(-2.0))
      else -aggregate(zip_with(
        col("_qv").cast("array<double>"), col("_nv").cast("array<double>"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, v) => a + v)
    val w = Window.partitionBy(col("query_id")).orderBy(desc("_s"), col("neighbor_id"))
    corpus.select(col("vec_id").cast("long").as("neighbor_id"), col("embedding").as("_nv"))
      .join(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("_s", score)
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
  }

  private def recallVs(truth: Map[Long, Set[Long]], got: Seq[(Long, Long)]): Double = {
    val byQ = got.groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet }
    val rs = truth.map { case (q, t) =>
      byQ.get(q).map(a => (a & t).size.toDouble / t.size).getOrElse(0.0)
    }
    if (rs.isEmpty) 0.0 else rs.sum / rs.size
  }

  private def grab(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def queryVecs(df: DataFrame): Seq[(Long, Array[Double])] =
    df.select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  private def hitPairs(res: Seq[(Long, Seq[AnnHit])]): Seq[(Long, Long)] =
    res.flatMap { case (q, hs) => hs.map(h => (q, h.neighborId)) }

  private def same(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Boolean = a.sorted == b.sorted

  private def served(res: Option[Seq[_]]): Long = res.map(_.size).getOrElse(0).toLong

  /** Warm per-query ms of an in-process serve call over `n` queries:
    * 3 warm-ups, then the median of 10 (the reference's discipline).
    */
  private def perQueryMs(n: Int)(call: => Long): Double = medianSec(3, 10)(call) * 1000 / n

  /** Batch thread scaling: `n` queries sequential vs all cores, median of
    * 3 passes each, as queries per second.
    */
  private def batchQps(r: Recorder, prefix: String, n: Int)(call: Int => Long): Unit = {
    val t1t = medianSec(0, 3)(call(1))
    val tPar = medianSec(0, 3)(call(0))
    r.evidence(s"${prefix}_batch_qps_1t", n / t1t)
    r.evidence(s"${prefix}_batch_qps", n / tPar)
  }

  /** Coarse lists + PQ codebooks + the composed coded table (persisted and
    * materialized); `cacheLists` materializes the lists first and drops
    * them once the codes are built.
    */
  private def ivfPq(gen: DataFrame, cacheLists: Boolean)
      : (DataFrame, DataFrame, Array[Array[Array[Double]]]) = {
    val (ix0, cents) = AnnIvf.buildIndex(gen)
    val ix = if (cacheLists) { val p = ix0.persist(); p.count(); p } else ix0
    val cb = AnnPq.train(gen, m = 8, k = 16, iters = 2, exactMeans = false)
    val coded = AnnIvfPq.index(ix, AnnPq.encode(gen, cb)).persist()
    coded.count()
    if (cacheLists) ix.unpersist()
    (coded, cents, cb)
  }

  private def vectors(n: Long, nClusters: Int): DataFrame = {
    val gen = SyntheticVectors.clustered(spark, n, nClusters = nClusters).persist()
    gen.count()
    gen
  }

  // ── sf fixture: the *_fast totals are kept for cross-round continuity
  val ivfFast: BenchSection = section("ann_ivf_fast", defaultOn = true, "ann_fast") { r =>
    val emb = Tables.embeddings(spark, sfDir)
    val ((indexed, centroids), tBuild) = timed {
      val (ix, c) = AnnIvf.buildIndex(emb)
      val p = ix.persist(); p.count(); (p, c)
    }
    val (res, tSearch) = timed {
      grab(AnnIvf.search(emb.where(col("vec_id") < 20), indexed, centroids, nprobe = 6, topK = 3))
    }
    r.timing("ann_ivf_build", tBuild)
    r.timing("ann_ivf_search", tSearch)
    r.timing("ann_ivf_fast", tBuild + tSearch)
    r.evidence("ann_ivf_recall_at3",
      recallVs(exactTop3(emb.where(col("vec_id") < 20), emb, byCosine = true), res))
    indexed.unpersist()
  }

  val pqFast: BenchSection = section("ann_pq_fast", defaultOn = true, "ann_fast") { r =>
    val emb = Tables.embeddings(spark, sfDir)
    val (cb, tTrain) = timed(AnnPq.train(emb, m = 8, k = 16, iters = 2, exactMeans = false))
    val (encoded, tEncode) = timed { val e = AnnPq.encode(emb, cb).persist(); e.count(); e }
    // shipping default (refine = 100 after the r7 sweep) — the r6 headline
    // ran refine = 10 and read recall 0.60; the sweep keys carry the curve
    val (res, tSearch) = timed {
      grab(AnnPq.search(emb.where(col("vec_id") < 20), encoded, cb, emb, topK = 3))
    }
    r.timing("ann_pq_train", tTrain)
    r.timing("ann_pq_encode", tEncode)
    r.timing("ann_pq_search", tSearch)
    r.timing("ann_pq_fast", tTrain + tEncode + tSearch)
    r.evidence("ann_pq_recall_at3",
      recallVs(exactTop3(emb.where(col("vec_id") < 20), emb, byCosine = false), res))
    encoded.unpersist()
  }

  // recall-vs-cost curves (VERDICT r6 #4) on the REAL sf fixture: nprobe for
  // IVF (16 = exhaustive, the recall ceiling at this k) and the exact-rescore
  // depth for PQ; one build each, one timed search per knob setting
  val sweep: BenchSection = section("ann_sweep", defaultOn = true, "ann_fast") { r =>
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.where(col("vec_id") < 20)
    val (indexed, centroids) = AnnIvf.buildIndex(emb)
    val ix = indexed.persist(); ix.count()
    val truthCos = exactTop3(probes, emb, byCosine = true)
    Seq(4, 8, 12, 16).foreach { np =>
      val res = r.time(s"ann_ivf_np${np}_search") {
        grab(AnnIvf.search(probes, ix, centroids, nprobe = np, topK = 3))
      }
      r.evidence(s"ann_ivf_np${np}_recall_at3", recallVs(truthCos, res))
    }
    ix.unpersist()
    val cb = AnnPq.train(emb, m = 8, k = 16, iters = 2, exactMeans = false)
    val enc = AnnPq.encode(emb, cb).persist(); enc.count()
    val truthL2 = exactTop3(probes, emb, byCosine = false)
    Seq(10, 50, 200).foreach { rf =>
      val res = r.time(s"ann_pq_rf${rf}_search") {
        grab(AnnPq.search(probes, enc, cb, emb, topK = 3, refine = rf))
      }
      r.evidence(s"ann_pq_rf${rf}_recall_at3", recallVs(truthL2, res))
    }
    enc.unpersist()
  }

  // the composed IVF+PQ rung (q100's production kernel): the extra one-time
  // cost is the co-locating join; search scans only the probed lists' codes
  val ivfPqFast: BenchSection = section("ann_ivfpq_fast", defaultOn = true, "ann_fast") { r =>
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.where(col("vec_id") < 20)
    val (indexed, centroids) = AnnIvf.buildIndex(emb)
    val cb = AnnPq.train(emb, m = 8, k = 16, iters = 2, exactMeans = false)
    val coded = r.time("ann_ivfpq_index") {
      val c = AnnIvfPq.index(indexed, AnnPq.encode(emb, cb)).persist()
      c.count(); c
    }
    val res = r.time("ann_ivfpq_search") {
      grab(AnnIvfPq.search(probes, coded, centroids, cb, emb, nprobe = 6, topK = 3))
    }
    val truthL2 = exactTop3(probes, emb, byCosine = false)
    r.evidence("ann_ivfpq_recall_at3", recallVs(truthL2, res))
    // the calibrated default path (VERDICT r9 #4): the chosen depth is
    // recorded first, then the timed searchAuto composes the same two steps
    // (calibration scan + search) a caller of the default path pays for
    r.evidence("ann_ivfpq_auto_nprobe", AnnIvfPq.autoNprobe(coded, centroids, emb).toDouble)
    val resAuto = r.time("ann_ivfpq_auto_search") {
      grab(AnnIvfPq.searchAuto(probes, coded, centroids, cb, emb, topK = 3))
    }
    r.evidence("ann_ivfpq_auto_recall_at3", recallVs(truthL2, resAuto))
    coded.unpersist()
  }

  // ANN scale rungs (VERDICT r9 #3): clustered synthetic vectors through
  // IVF, PQ, the composed IVF+PQ and the calibrated default at the sf keys'
  // knobs (k=16 lists, nprobe=6, m=8x16 codes, refine=100, topK=3). ~20
  // members per cluster, so every query's true top-3 are its same-cluster
  // members — the regime where recall@3 is meaningful at scale (a few dense
  // mega-clusters put the exact top-3 below PQ quantization error: ties).
  // OPT-IN; bench_ann_1m.json / bench_ann_4m.json carry the numbers.
  private def annRung(n: Long, nClusters: Int, prefix: String)(r: Recorder): Unit = {
    val gen = vectors(n, nClusters)
    val probes = gen.where(col("vec_id") < 20)
    val (ix, cents) = r.time(s"${prefix}_ivf_build") {
      val (a, b) = AnnIvf.buildIndex(gen); val p = a.persist(); p.count(); (p, b)
    }
    val truthCos = exactTop3(probes, gen, byCosine = true)
    val ivfRes = r.time(s"${prefix}_ivf_search") {
      grab(AnnIvf.search(probes, ix, cents, nprobe = 6, topK = 3))
    }
    r.evidence(s"${prefix}_ivf_recall_at3", recallVs(truthCos, ivfRes))
    val truthL2 = exactTop3(probes, gen, byCosine = false)
    val cb = r.time(s"${prefix}_pq_train") {
      AnnPq.train(gen, m = 8, k = 16, iters = 2, exactMeans = false)
    }
    val enc = r.time(s"${prefix}_pq_encode") { val e = AnnPq.encode(gen, cb).persist(); e.count(); e }
    val pqRes = r.time(s"${prefix}_pq_search")(grab(AnnPq.search(probes, enc, cb, gen, topK = 3)))
    r.evidence(s"${prefix}_pq_recall_at3", recallVs(truthL2, pqRes))
    val coded = r.time(s"${prefix}_ivfpq_index") {
      val c = AnnIvfPq.index(ix, enc).persist(); c.count(); c
    }
    val cRes = r.time(s"${prefix}_ivfpq_search") {
      grab(AnnIvfPq.search(probes, coded, cents, cb, gen, nprobe = 6, topK = 3))
    }
    r.evidence(s"${prefix}_ivfpq_recall_at3", recallVs(truthL2, cRes))
    // driver-local serve (VERDICT r11 #4): the probed structures snapshot
    // into driver arrays and single queries answer in-process — the
    // ms-scale interactive path next to the distributed per-job floor.
    // Above the row cap open() refuses and the key records the fallback.
    val (localIdx, tOpen) = timed(AnnLocal.open(coded, cents, cb, gen))
    localIdx match {
      case Some(lix) =>
        r.timing(s"${prefix}_local_open_sec", tOpen)
        val qvecs = queryVecs(probes)
        r.timing(s"${prefix}_local_query_ms", perQueryMs(qvecs.length) {
          qvecs.iterator.map { case (qid, qv) =>
            lix.search(qv, nprobe = 6, topK = 3, queryId = qid).length.toLong
          }.sum
        })
        val localPairs = qvecs.flatMap { case (qid, qv) =>
          lix.search(qv, nprobe = 6, topK = 3, queryId = qid).map(h => (qid, h.neighborId))
        }
        r.flag(s"${prefix}_local_matches_dist", same(localPairs, cRes))
      case None =>
        r.evidence(s"${prefix}_local_capped", 1.0)
    }
    // the recall/cost CURVE: probe depth at fixed refine
    Seq(2, 4, 16).foreach { np =>
      val res = r.time(s"${prefix}_ivfpq_np${np}_search") {
        grab(AnnIvfPq.search(probes, coded, cents, cb, gen, nprobe = np, topK = 3))
      }
      r.evidence(s"${prefix}_ivfpq_np${np}_recall_at3", recallVs(truthL2, res))
    }
    // calibrated default: calibration cost and CHOSEN depth apart, then the
    // search at that depth with searchAuto's knobs
    val (npAuto, tCal) = timed(AnnIvfPq.autoNprobe(coded, cents, gen))
    val (aRes, tAuto) = timed {
      grab(AnnIvfPq.search(probes, coded, cents, cb, gen, nprobe = npAuto, topK = 3, refine = 200))
    }
    r.evidence(s"${prefix}_ivfpq_auto_nprobe", npAuto.toDouble)
    r.timing(s"${prefix}_ivfpq_calibrate_sec", tCal)
    r.timing(s"${prefix}_ivfpq_auto_search", tAuto)
    r.evidence(s"${prefix}_ivfpq_auto_recall_at3", recallVs(truthL2, aRes))
    ix.unpersist(); enc.unpersist(); coded.unpersist(); gen.unpersist()
  }
  val ann1m: BenchSection = section("ann_1m", defaultOn = false)(annRung(1000000L, 50000, "ann1m"))
  // 4M: 200k clusters keep ~20 members each; 10M (500k clusters) is the
  // ladder's top step, where the untimed brute-force truth scans dominate
  val ann4m: BenchSection = section("ann_4m", defaultOn = false)(annRung(4000000L, 200000, "ann4m"))
  val ann10m: BenchSection =
    section("ann_10m", defaultOn = false)(annRung(10000000L, 500000, "ann10m"))

  // calibrate-once/serve-many AT 10M (VERDICT r10 #3): no truth scans; only
  // the costs persistence deletes — calibrate+save ONCE, then a fresh serve
  // path (loadIndex + loadCalibration + searchAuto) with zero calibration
  // jobs. OPT-IN; bench_ann_10m_cal.json carries the numbers.
  val ann10mCal: BenchSection = section("ann_10m_cal", defaultOn = false) { r =>
    val gen = vectors(10000000L, 500000)
    // the lists are dropped once the codes exist: at 10M they pin ~1/4 of
    // an 8g heap's storage pool through the spill-heavy calibrate join
    val (coded, cents, cb) = ivfPq(gen, cacheLists = true)
    val (cal, tCal) = timed(AnnIvfPq.calibrateEndToEnd(coded, cents, cb, gen))
    val dir = Scratch.dir("graft_bench_ann10m_cal")
    val (_, tSave) = timed {
      AnnIvfPq.saveIndex(coded, cents, cb, dir)
      AnnIvfPq.saveCalibration(spark, dir, cal)
    }
    val (nServed, tServe) = timed {
      val (c2, ct2, cb2) = AnnIvfPq.loadIndex(spark, dir)
      val cal2 = AnnIvfPq.loadCalibration(spark, dir)
      AnnIvfPq.searchAuto(gen.where(col("vec_id") < 20), c2, ct2, cb2, gen, calibration = cal2)
        .select("query_id", "neighbor_id").collect().length
    }
    coded.unpersist(); gen.unpersist()
    r.evidence("ann10m_cal_nprobe", cal.nprobe.toDouble)
    r.evidence("ann10m_cal_refine", cal.refine.toDouble)
    r.evidence("ann10m_cal_sample_recall", cal.measuredRecall)
    r.timing("ann10m_cal_calibrate_sec", tCal)
    r.timing("ann10m_cal_save_sec", tSave)
    r.timing("ann10m_cal_serve_search_sec", tServe)
    r.evidence("ann10m_cal_serve_rows", nServed.toDouble)
  }

  // Incremental ANN maintenance + distributed sidecar save (r14 verdict
  // #3/#4), per base size: the r14 single-driver-thread save, the
  // single-segment and the DISTRIBUTED segmented saves (the >=5x claim), a
  // 10k appendVectors (the flat-in-base-size claim), and the no-append
  // alternative — frozen assign+encode of the union + rewrites — so the
  // artifact carries the append-vs-rebuild ratio at each rung. OPT-IN.
  private def appendRung(n: Long, prefix: String)(r: Recorder): Unit = {
    val gen = vectors(n + 10000L, math.max((n / 200L).toInt, 16))
    val base = gen.where(col("vec_id") < n).persist()
    base.count()
    val batch = gen.where(col("vec_id") >= n)
    val (coded, cents, cb) = r.time(s"${prefix}_build_sec")(ivfPq(base, cacheLists = true))
    val dir = Scratch.dir(s"graft_bench_append_$prefix")
    AnnIvfPq.saveIndex(coded, cents, cb, dir)
    // the r14 save shape — one distributed id-sort streamed through a
    // SINGLE DRIVER THREAD — as the in-artifact baseline of the speedup
    val dirOld = Scratch.dir(s"graft_bench_append_${prefix}_drv")
    val (_, tSaveDrv) = timed {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(dirOld), spark.sparkContext.hadoopConfiguration)
      val sorted = base
        .select(col("vec_id").cast("long").as("_id"), col("embedding").cast("array<double>").as("_v"))
        .sort(col("_id"))
      val idsOut = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        fs.create(new org.apache.hadoop.fs.Path(s"$dirOld/ids.bin"), true), 1 << 20))
      val vecOut = new java.io.BufferedOutputStream(
        fs.create(new org.apache.hadoop.fs.Path(s"$dirOld/vectors.bin"), true), 1 << 20)
      var dim = -1
      var rowBuf: Array[Byte] = null
      var rowBB: java.nio.ByteBuffer = null
      try {
        import scala.jdk.CollectionConverters._
        sorted.toLocalIterator().asScala.foreach { row =>
          val v = row.getSeq[Double](1)
          if (dim < 0) {
            dim = v.length
            rowBuf = new Array[Byte](8 * dim)
            rowBB = java.nio.ByteBuffer.wrap(rowBuf)
          }
          idsOut.writeLong(row.getLong(0))
          rowBB.clear()
          var i = 0
          while (i < dim) { rowBB.putDouble(v(i)); i += 1 }
          vecOut.write(rowBuf)
        }
      } finally { idsOut.close(); vecOut.close() }
    }
    r.timing(s"${prefix}_sidecar_save_driver_sec", tSaveDrv)
    // single-segment save (serial write, executor-side); the segmented
    // distributed save then OVERWRITES it and is what the append runs on
    val (_, tSave1) = timed(AnnVecStore.save(base, dir, targetSegmentBytes = Long.MaxValue))
    val (_, tSaveN) = timed(AnnVecStore.save(base, dir, targetSegmentBytes = 32L << 20))
    r.timing(s"${prefix}_sidecar_save_1seg_sec", tSave1)
    r.timing(s"${prefix}_sidecar_save_sec", tSaveN)
    r.evidence(s"${prefix}_sidecar_save_speedup", tSaveDrv / tSaveN)
    r.evidence(s"${prefix}_sidecar_save_speedup_1seg", tSave1 / tSaveN)
    val (stats, tApp) = timed(AnnIvfPq.appendVectors(spark, dir, batch))
    r.timing(s"${prefix}_append_10k_sec", tApp)
    r.evidence(s"${prefix}_append_drift_ratio", stats.driftRatio)
    val dir2 = Scratch.dir(s"graft_bench_append_${prefix}_rb")
    val (_, tRebuild) = timed {
      val codedAll = AnnIvfPq.index(AnnIvf.assignFrozen(gen, cents), AnnPq.encode(gen, cb))
      AnnIvfPq.saveIndex(codedAll, cents, cb, dir2)
      AnnVecStore.save(gen, dir2, targetSegmentBytes = 32L << 20)
    }
    r.timing(s"${prefix}_rebuild_sec", tRebuild)
    r.evidence(s"${prefix}_append_vs_rebuild", tRebuild / math.max(tApp, 1e-9))
    coded.unpersist(); base.unpersist(); gen.unpersist()
  }
  val append: Seq[BenchSection] = Seq(1000000L -> "1m", 4000000L -> "4m", 10000000L -> "10m").map {
    case (n, tag) =>
      section(s"ann_append_$tag", defaultOn = false, "ann_append")(appendRung(n, s"append_$tag"))
  }

  // DRIFT LOOP (r15 verdict #4): append progressively SHIFTED batches to a
  // frozen RESIDUAL index, record driftRatio against realized recall@3 on
  // each batch's own probes, then AnnIvfPq.retrain and show recall restored
  // — the curve that tells a deployment WHAT ratio should trigger the
  // retrain. OPT-IN.
  val drift: BenchSection = section("ann_drift", defaultOn = false) { r =>
    val n = 1000000L
    val batchN = 50000L
    // micro-clusters of ~20 like the 1M search rung: base recall reads ~1.0,
    // so the curve's degradation is attributable to the SHIFT
    val base = vectors(n, (n / 20L).toInt)
    val dir = Scratch.dir("graft_bench_drift")
    r.time("drift_build_sec") {
      val (ix0, cents) = AnnIvf.buildIndex(base)
      val cb = AnnIvfPq.trainResidual(ix0, cents, m = 8, k = 16, iters = 2, exactMeans = false)
      val coded = AnnIvfPq.encodeResidual(ix0, cents, cb)
      AnnIvfPq.saveIndex(coded, cents, cb, dir, residual = true)
      AnnIvfPq.saveVectorStore(base, dir)
    }
    def recallNow(probes: DataFrame, corpus: DataFrame): Double = {
      val (c2, ce2, cb2) = AnnIvfPq.loadIndex(spark, dir)
      recallVs(exactTop3(probes, corpus, byCosine = false),
        grab(AnnIvfPq.search(probes, c2, ce2, cb2, corpus, nprobe = 8, topK = 3, refine = 200,
          residual = AnnIvfPq.isResidual(spark, dir))))
    }
    var corpus = base
    r.evidence("drift_base_recall_at3", recallNow(base.where(col("vec_id") < 20), corpus))
    // ADDITIVE center shifts ("the embedding model / domain moved"); the
    // +4 end is deliberately past recoverability (near-parallel under
    // cosine: one coarse list at any build; see BENCH.md), so the curve
    // carries both the retrain-recoverable and the re-architect band
    val probeSets = Seq(0.0, 0.5, 1.5, 4.0).zipWithIndex.map { case (shift, j) =>
      val start = n + j * batchN
      val batch = SyntheticVectors.clustered(spark, batchN, nClusters = (batchN / 20L).toInt)
        .select((col("vec_id") + start).as("vec_id"),
          transform(col("embedding"), x => x + lit(shift)).cast("array<float>").as("embedding"))
        .persist()
      batch.count()
      val (stats, tApp) = timed(AnnIvfPq.appendVectors(spark, dir, batch))
      corpus = corpus.unionByName(batch).persist()
      corpus.count()
      val probes = batch.where(col("vec_id") < start + 20)
      r.evidence(s"drift_b${j}_shift", shift)
      r.timing(s"drift_b${j}_append_sec", tApp)
      r.evidence(s"drift_b${j}_ratio", stats.driftRatio)
      r.evidence(s"drift_b${j}_recall_at3", recallNow(probes, corpus))
      probes
    }
    // the remedy: fresh structures from the sidecar's own corpus,
    // calibration epoch-invalidated — recall re-measured on EVERY batch
    val nRe = r.time("drift_retrain_sec")(AnnIvfPq.retrain(spark, dir))
    r.evidence("drift_retrain_rows", nRe.toDouble)
    probeSets.zipWithIndex.foreach { case (probes, j) =>
      r.evidence(s"drift_b${j}_post_retrain_recall_at3", recallNow(probes, corpus))
    }
  }

  private def usedHeapMb(): Double = {
    System.gc()
    (Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()) / 1e6
  }

  // MAPPED CODES TIER (r15 verdict #1) at 10M: the pack's mmap open vs the
  // heap codes tier — same queries and knobs, per-query ms and resident-heap
  // delta. The heap tier holds (8+m) B/row on-heap; the mapped snapshot is
  // page cache. OPT-IN.
  val mapped10m: BenchSection = section("ann_mapped_10m", defaultOn = false, "ann_mapped") { r =>
    val n = 10000000L
    val gen = SyntheticVectors.clustered(spark, n).persist()
    gen.count()
    val dir = Scratch.dir("graft_bench_mapped10m")
    val (coded, cents, cb) = ivfPq(gen, cacheLists = false)
    AnnIvfPq.saveIndex(coded, cents, cb, dir)
    AnnIvfPq.saveVectorStore(gen, dir)
    r.time("mapped10m_pack_save_sec")(AnnServePack.save(spark, dir))
    val qs = queryVecs(gen.where(col("vec_id") < 20))
    def search(ix: AnnLocalIndex, qid: Long, qv: Array[Double]) =
      ix.search(qv, nprobe = 8, topK = 3, refine = 200, queryId = qid)
    // warm once, then 3 timed passes over the 20 queries
    def queryMs(ix: AnnLocalIndex): Double = {
      qs.foreach { case (qid, qv) => search(ix, qid, qv) }
      val (_, sec) = timed((1 to 3).foreach(_ => qs.foreach { case (qid, qv) => search(ix, qid, qv) }))
      sec * 1000 / (3 * qs.length)
    }
    val heapBefore = usedHeapMb()
    val (mappedIx, _) = r.time("mapped10m_open_sec")(AnnServePack.open(dir).get)
    val mappedMs = queryMs(mappedIx)
    r.timing("mapped10m_mapped_query_ms", mappedMs)
    r.evidence("mapped10m_mapped_extra_heap_mb", usedHeapMb() - heapBefore)
    val heapIx = r.time("mapped10m_heap_open_sec") {
      AnnLocalCodes.open(spark, dir, coded, cents, cb, maxRows = n + 1).get
    }
    val heapMs = queryMs(heapIx)
    r.timing("mapped10m_heap_query_ms", heapMs)
    r.evidence("mapped10m_heap_extra_heap_mb", usedHeapMb() - heapBefore)
    r.evidence("mapped10m_query_ms_ratio", mappedMs / math.max(heapMs, 1e-9))
    // row-identity at the bench scale too (the spec pins it at sf0.001)
    r.flag("mapped10m_rows_identical", qs.forall { case (qid, qv) =>
      search(mappedIx, qid, qv).toSeq == search(heapIx, qid, qv).toSeq
    })
    coded.unpersist(); gen.unpersist()
  }

  /** A committed GRAFTSP2 pack + GRAFTVS2 vecstore crafted directly as flat
    * files (driver-streamed, deterministic): `total` rows over `k`
    * contiguous lists, 32M-row segments, dim-`dim` vectors with m=dim byte
    * codes (dsub=1, 16 codebook entries). The point is the FORMAT at a row
    * count the heap tier cannot represent — real search arithmetic,
    * synthetic data.
    */
  private def craftSyntheticPack(dir: String, total: Long, m: Int, dim: Int, k: Int): Unit = {
    require(dim == m, "crafted pack uses dsub=1 (dim == m)")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(dir), spark.sparkContext.hadoopConfiguration)
    def out(sub: String, name: String) = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(
        new org.apache.hadoop.fs.Path(s"$dir/$sub/$name"), true), 1 << 22))
    def writing(sub: String, name: String)(f: java.io.DataOutputStream => Unit): Unit = {
      val o = out(sub, name)
      try f(o) finally o.close()
    }
    val gen = "crafted1"
    writing("servepack", s"centroids-$gen.bin") { o =>
      o.writeInt(k)
      (0 until k).foreach { c =>
        o.writeInt(c); o.writeInt(dim)
        (0 until dim).foreach(d => o.writeDouble(c.toDouble + 0.01 * d))
      }
    }
    writing("servepack", s"codebooks-$gen.bin") { o =>
      o.writeInt(m); o.writeInt(16); o.writeInt(1)
      (0 until m).foreach(_ => (0 until 16).foreach(c => o.writeDouble(c * 0.1)))
    }
    val segRows = 32000000L
    val nSegs = ((total + segRows - 1) / segRows).toInt
    val rowsPerList = total / k
    def listOf(id: Long): Int = math.min((id / rowsPerList).toInt, k - 1)
    // pack segments + vecstore segments in one streaming pass each
    val packSegLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val vsSegLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    (0 until nSegs).foreach { si =>
      val lo = si * segRows
      val hi = math.min(lo + segRows, total)
      val seg = f"seg-$gen-p$si%05d"
      val idsO = out("servepack", s"$seg.ids.bin")
      val codesO = out("servepack", s"$seg.codes.bin")
      val vIdsO = out("vecstore", s"$seg.ids.bin")
      val vVecO = out("vecstore", s"$seg.vec.bin")
      var curList = -1
      var curRows = 0L
      try {
        var id = lo
        while (id < hi) {
          val l = listOf(id)
          if (l != curList) {
            if (curRows > 0L) runs += ((curList, si, curRows))
            curList = l; curRows = 0L
          }
          idsO.writeLong(id)
          vIdsO.writeLong(id)
          var j = 0
          while (j < m) {
            codesO.writeByte(((id + j) % 16).toInt)
            vVecO.writeDouble(l.toDouble + 0.1 * ((id + j) % 16))
            j += 1
          }
          curRows += 1L
          id += 1L
        }
        if (curRows > 0L) runs += ((curList, si, curRows))
      } finally { idsO.close(); codesO.close(); vIdsO.close(); vVecO.close() }
      packSegLines += s"seg $seg.ids.bin $seg.codes.bin"
      vsSegLines += s"$seg.ids.bin $seg.vec.bin ${hi - lo}"
    }
    writing("servepack", s"lists-$gen.bin") { o =>
      o.writeInt(runs.length)
      runs.foreach { case (l, si, rows) => o.writeInt(l); o.writeInt(si); o.writeLong(rows) }
    }
    def commitMeta(sub: String, lines: Seq[String]): Unit = {
      val o = fs.create(new org.apache.hadoop.fs.Path(s"$dir/$sub/meta_new.txt"), true)
      try o.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally o.close()
      fs.rename(new org.apache.hadoop.fs.Path(s"$dir/$sub/meta_new.txt"),
        new org.apache.hadoop.fs.Path(s"$dir/$sub/meta.txt")): Unit
    }
    commitMeta("vecstore", s"GRAFTVS2 $total $dim ${vsSegLines.length}" +: vsSegLines.toSeq)
    commitMeta("servepack",
      Seq(s"GRAFTSP2 $total $dim $m false $gen",
        s"files centroids-$gen.bin codebooks-$gen.bin lists-$gen.bin", "nocal") ++ packSegLines)
  }

  // PAST THE OLD CEILING (r15 verdict #1): a crafted 300M-row pack whose code
  // array alone (total·m = 2.4e9 bytes) exceeds Int.MaxValue — the heap
  // tier's construction is IMPOSSIBLE by its own guard, while the mapped
  // open serves it at ms scale from page cache. ~24 GB on disk; the rung
  // checks free space and skips below 30 GB. OPT-IN.
  val mapped300m: BenchSection = section("ann_mapped_300m", defaultOn = false, "ann_mapped") { r =>
    val (total, m, dim, k) = (300000000L, 8, 8, 32)
    val dir = Scratch.dir("graft_bench_mapped300m")
    val free = new java.io.File(dir).getUsableSpace
    if (free < 30L * (1L << 30)) r.evidence("ann_mapped_300m_skipped_low_disk", free / 1e9)
    else {
      r.evidence("mapped300m_rows", total.toDouble)
      r.evidence("mapped300m_code_bytes", (total * m).toDouble)
      r.time("mapped300m_craft_sec")(craftSyntheticPack(dir, total, m, dim, k))
      val h0 = usedHeapMb()
      val (ix, _) = r.time("mapped300m_open_sec")(AnnServePack.open(dir).get)
      require(ix.size == total)
      // 20 deterministic probe vectors near list centroids
      val probes = (0 until 20).map { i =>
        (total + i.toLong, Array.tabulate(dim)(d => (i % k).toDouble + 0.01 * d))
      }
      def pass(): Double = timed(probes.foreach { case (qid, qv) =>
        ix.search(qv, nprobe = 4, topK = 3, refine = 50, queryId = qid)
      })._2 * 1000 / probes.length
      r.timing("mapped300m_cold_query_ms", pass())
      r.timing("mapped300m_warm_query_ms", pass())
      // resident heap: everything per-row is mmap'd (codes, ids, the
      // vecstore's id index and vectors)
      r.evidence("mapped300m_used_heap_mb", usedHeapMb() - h0)
    }
  }

  // ANN DELETES (r15 verdict #2): tombstone a 10k batch at each base size —
  // the wall must be flat in the base (an O(batch) metadata write), the
  // post-delete mapped search unchanged, the compaction one rewrite. OPT-IN.
  private def deleteRung(n: Long, prefix: String)(r: Recorder): Unit = {
    val gen = SyntheticVectors.clustered(spark, n).persist()
    gen.count()
    val dir = Scratch.dir(s"graft_bench_del_$prefix")
    val (coded, cents, cb) = ivfPq(gen, cacheLists = false)
    AnnIvfPq.saveIndex(coded, cents, cb, dir)
    AnnIvfPq.saveVectorStore(gen, dir)
    AnnServePack.save(spark, dir)
    val doomed = (0L until 10000L).map(_ * (n / 10000L))
    r.time(s"${prefix}_delete_10k_sec")(AnnIvfPq.deleteVectors(spark, dir, doomed))
    val (packIx, _) = AnnServePack.open(dir).get
    val qs = queryVecs(gen.where(col("vec_id") < 40 && col("vec_id") % 2 === 1))
    val (_, tSearch) = timed(qs.foreach { case (qid, qv) =>
      packIx.search(qv, nprobe = 8, topK = 3, refine = 200, queryId = qid)
    })
    r.timing(s"${prefix}_post_delete_query_ms", tSearch * 1000 / qs.length)
    r.time(s"${prefix}_compact_sec")(AnnIvfPq.compactServingArtifacts(spark, dir))
    coded.unpersist(); gen.unpersist()
  }
  val delete: Seq[BenchSection] = Seq(1000000L -> "1m", 4000000L -> "4m").map { case (n, tag) =>
    section(s"ann_delete_$tag", defaultOn = false, "ann_delete")(deleteRung(n, s"delete_$tag"))
  }

  // HARD fixtures (VERDICT r10 #2, r11 rungs): planted near-dup pairs over
  // overlapping heavy-tailed superclusters — where probe and shortlist
  // depth actually cost recall, so the curves BEND instead of pinning at
  // 1.0 — plus calibrate-once/serve-many (VERDICT r10 #3): the calibration
  // persists WITH the index and a fresh serving path runs zero calibration
  // jobs. OPT-IN; bench_ann_1m.json / bench_ann_4m.json carry the numbers.
  private def annHardRung(n: Long, tag: String)(r: Recorder): Unit = {
    val gen = SyntheticVectors.hardClustered(spark, n).persist()
    gen.count()
    val probes = gen.where(col("vec_id") < 20)
    val (ix, cents) = r.time(s"${tag}_ivf_build") {
      val (a, b) = AnnIvf.buildIndex(gen); val p = a.persist(); p.count(); (p, b)
    }
    val cb = AnnPq.train(gen, m = 8, k = 16, iters = 2, exactMeans = false)
    val enc = AnnPq.encode(gen, cb).persist(); enc.count()
    val coded = r.time(s"${tag}_ivfpq_index") {
      val c = AnnIvfPq.index(ix, enc).persist(); c.count(); c
    }
    val truthL2 = exactTop3(probes, gen, byCosine = false)
    def curve(key: String, nprobe: Int, refine: Int, cd: DataFrame = coded,
        books: Array[Array[Array[Double]]] = cb, residual: Boolean = false): Unit = {
      val res = r.time(s"${key}_search") {
        grab(AnnIvfPq.search(probes, cd, cents, books, gen, nprobe = nprobe, topK = 3,
          refine = refine, residual = residual))
      }
      r.evidence(s"${key}_recall_at3", recallVs(truthL2, res))
    }
    // the probe-depth curve at searchAuto's refine, then the shortlist-depth
    // curve at a fixed mid probe depth
    Seq(1, 2, 4, 8, 16).foreach(np => curve(s"${tag}_ivfpq_np$np", np, 200))
    Seq(20, 50, 200).foreach(rf => curve(s"${tag}_ivfpq_rf$rf", 8, rf))
    // the calibrated default, end-to-end since r11: tunes nprobe AND the
    // refine shortlist against sample recall (at 10M the shortlist binds)
    val (cal, tCal) = timed(AnnIvfPq.calibrateEndToEnd(coded, cents, cb, gen))
    r.evidence(s"${tag}_ivfpq_auto_nprobe", cal.nprobe.toDouble)
    r.evidence(s"${tag}_ivfpq_auto_refine", cal.refine.toDouble)
    r.evidence(s"${tag}_ivfpq_cal_sample_recall", cal.measuredRecall)
    r.timing(s"${tag}_ivfpq_calibrate_sec", tCal)
    val aRes = r.time(s"${tag}_ivfpq_auto_search") {
      grab(AnnIvfPq.search(probes, coded, cents, cb, gen,
        nprobe = cal.nprobe, topK = 3, refine = cal.refine))
    }
    r.evidence(s"${tag}_ivfpq_auto_recall_at3", recallVs(truthL2, aRes))
    // calibrate once (persisted with the index) …
    val dir = Scratch.dir(s"graft_bench_${tag}_cal")
    r.time(s"${tag}_cal_save_sec") {
      AnnIvfPq.saveIndex(coded, cents, cb, dir)
      AnnIvfPq.saveCalibration(spark, dir, cal)
    }
    // … serve many: reload index + calibration, searchAuto with ZERO
    // calibration jobs (compare against calibrate_sec + auto_search)
    val sRes = r.time(s"${tag}_serve_calibrated_sec") {
      val (c2, ct2, cb2) = AnnIvfPq.loadIndex(spark, dir)
      val cal2 = AnnIvfPq.loadCalibration(spark, dir)
      grab(AnnIvfPq.searchAuto(probes, c2, ct2, cb2, gen, calibration = cal2))
    }
    r.evidence(s"${tag}_serve_recall_at3", recallVs(truthL2, sRes))
    r.flag(s"${tag}_serve_matches_auto", same(sRes, aRes))
    // serve() one-call LOCAL fast path (r12 verdict #2): answers from the
    // memoized driver snapshot when the corpus fits the cap and the stored
    // calibration covers — the whole batch round-trips through serve()
    // (query collect + local arithmetic + result DataFrame), so this is the
    // end-to-end serving latency, not just the kernel. Over-cap rungs or a
    // below-target calibration record the documented fallback key.
    val firstRes = r.time(s"${tag}_serve_local_first_sec")(grab(AnnIvfPq.serve(spark, dir, probes, gen)))
    if (AnnIvfPq.localSnapshotCached(dir))
      r.timing(s"${tag}_serve_local_query_ms",
        perQueryMs(20)(grab(AnnIvfPq.serve(spark, dir, probes, gen)).length.toLong))
    else r.evidence(s"${tag}_serve_local_fallback", 1.0)
    r.flag(s"${tag}_serve_local_matches", same(firstRes, sRes))
    // serveVectors: the zero-Spark-job entry point (query vectors in hand —
    // the reference's per-frame loop shape); warm latency + parity
    val qv = queryVecs(probes)
    AnnIvfPq.serveVectors(spark, dir, qv, gen) match {
      case Some(first) =>
        r.timing(s"${tag}_serve_vec_query_ms",
          perQueryMs(qv.length)(served(AnnIvfPq.serveVectors(spark, dir, qv, gen))))
        r.flag(s"${tag}_serve_vec_matches", same(hitPairs(first), sRes))
      case None => r.evidence(s"${tag}_serve_vec_fallback", 1.0)
    }
    enc.unpersist(); coded.unpersist()
    // CODES-RESIDENT local tier (r13 verdict #3): persist the rerank sidecar
    // (timed), then serve with the heap tier forced off (localServeCap=1):
    // byte-packed codes in memory + mmap'd vectors, the tier that keeps
    // interactive serving alive at 4M/10M. Parity + recall vs the
    // distributed calibrated search, plus the batch thread scaling
    // (r13 verdict #2: qps_1t vs qps).
    r.time(s"${tag}_vecstore_save_sec")(AnnIvfPq.saveVectorStore(gen, dir))
    val (firstCodes, tFirstCodes) = timed(AnnIvfPq.serveVectors(spark, dir, qv, gen, localServeCap = 1))
    firstCodes match {
      case Some(first) =>
        r.timing(s"${tag}_codes_first_sec", tFirstCodes)
        r.timing(s"${tag}_codes_query_ms", perQueryMs(qv.length) {
          served(AnnIvfPq.serveVectors(spark, dir, qv, gen, localServeCap = 1))
        })
        val codePairs = hitPairs(first)
        r.flag(s"${tag}_codes_matches", same(codePairs, sRes))
        r.evidence(s"${tag}_codes_recall_at3", recallVs(truthL2, codePairs))
        val bigQ = queryVecs(gen.where(col("vec_id") < 512))
        batchQps(r, s"${tag}_serve", bigQ.length) { threads =>
          served(AnnIvfPq.serveVectors(spark, dir, bigQ, gen, localServeCap = 1,
            localThreads = threads))
        }
      case None => r.evidence(s"${tag}_codes_fallback", 1.0)
    }
    // RESIDUAL arm (r12 verdict #1): same coarse lists, codebooks trained on
    // residuals to the list centroid — the standard IVF-PQ recipe, against
    // the raw arm's ADC ceiling at identical knobs. Raw tables are released
    // first: the two coded tables must not stack in the heap at 10M.
    val rcb = r.time(s"${tag}_res_train")(AnnIvfPq.trainResidual(ix, cents, exactMeans = false))
    val rcoded = r.time(s"${tag}_res_encode") {
      val c = AnnIvfPq.encodeResidual(ix, cents, rcb).persist()
      c.count(); c
    }
    Seq(20, 50, 200).foreach { rf =>
      curve(s"${tag}_res_rf$rf", 8, rf, rcoded, rcb, residual = true)
    }
    val (rcal, tRCal) = timed(AnnIvfPq.calibrateEndToEnd(rcoded, cents, rcb, gen, residual = true))
    r.evidence(s"${tag}_res_auto_nprobe", rcal.nprobe.toDouble)
    r.evidence(s"${tag}_res_auto_refine", rcal.refine.toDouble)
    r.evidence(s"${tag}_res_cal_sample_recall", rcal.measuredRecall)
    r.flag(s"${tag}_res_cal_met_target", rcal.metTarget)
    r.timing(s"${tag}_res_calibrate_sec", tRCal)
    val rARes = r.time(s"${tag}_res_auto_search") {
      grab(AnnIvfPq.search(probes, rcoded, cents, rcb, gen,
        nprobe = rcal.nprobe, topK = 3, refine = rcal.refine, residual = true))
    }
    r.evidence(s"${tag}_res_auto_recall_at3", recallVs(truthL2, rARes))
    // driver-local serve ON the residual encoding AT the calibrated knobs;
    // the row cap bounds it to the 1M rung, larger rungs record the fallback
    AnnLocal.open(rcoded, cents, rcb, gen, residual = true) match {
      case Some(lix) =>
        def search(qid: Long, q: Array[Double]) =
          lix.search(q, nprobe = rcal.nprobe, topK = 3, refine = rcal.refine, queryId = qid)
        r.timing(s"${tag}_res_local_query_ms", perQueryMs(qv.length) {
          qv.iterator.map { case (qid, q) => search(qid, q).length.toLong }.sum
        })
        val localPairs = qv.flatMap { case (qid, q) => search(qid, q).map(h => (qid, h.neighborId)) }
        r.flag(s"${tag}_res_local_matches_dist", same(localPairs, rARes))
      case None => r.evidence(s"${tag}_res_local_capped", 1.0)
    }
    // codes tier on the RESIDUAL encoding — the encoding that wins the
    // recall/cost curve, served interactively past the heap cap (r13
    // verdict #3: sub-second per-query at the calibrated knobs)
    val dirR = Scratch.dir(s"graft_bench_${tag}_res_codes")
    AnnIvfPq.saveIndex(rcoded, cents, rcb, dirR, residual = true)
    AnnIvfPq.saveCalibration(spark, dirR, rcal)
    r.time(s"${tag}_res_vecstore_save_sec")(AnnIvfPq.saveVectorStore(gen, dirR))
    AnnIvfPq.serveVectors(spark, dirR, qv, gen, localServeCap = 1) match {
      case Some(first) =>
        r.timing(s"${tag}_res_codes_query_ms", perQueryMs(qv.length) {
          served(AnnIvfPq.serveVectors(spark, dirR, qv, gen, localServeCap = 1))
        })
        val rPairs = hitPairs(first)
        r.flag(s"${tag}_res_codes_matches", same(rPairs, rARes))
        r.evidence(s"${tag}_res_codes_recall_at3", recallVs(truthL2, rPairs))
      case None => r.evidence(s"${tag}_res_codes_fallback", 1.0)
    }
    rcoded.unpersist(); ix.unpersist(); gen.unpersist()
  }
  // 4M is where "at scale" stops being a 1M claim (the easy 4M/10M rungs
  // saturate recall; only the hard fixture exercises the tradeoff above 1M)
  val hard: Seq[BenchSection] = Seq(1000000L -> "1m", 4000000L -> "4m", 10000000L -> "10m").map {
    case (n, size) => section(s"ann_${size}_hard", defaultOn = false)(annHardRung(n, s"ann${size}_hard"))
  }

  // ALWAYS-ON serve rung (r13 verdict #6): a seeded 100k corpus keeps this
  // seconds-scale — build + save + calibrate once (its own key), then the
  // heap tier's warm per-query latency, the codes tier's (vecstore sidecar,
  // heap tier forced off), SQL-tier parity and the batch thread scaling.
  val serve100k: BenchSection = section("serve_100k", defaultOn = true) { r =>
    val gen = vectors(100000L, 5000)
    val probes = gen.where(col("vec_id") < 20)
    val (dirHeap, dirCodes, cal) = r.time("serve_100k_build_sec") {
      val (coded, cents, cb) = ivfPq(gen, cacheLists = true)
      val d1 = Scratch.dir("graft_bench_serve100k")
      val d2 = Scratch.dir("graft_bench_serve100k_codes")
      AnnIvfPq.saveIndex(coded, cents, cb, d1)
      AnnIvfPq.saveIndex(coded, cents, cb, d2)
      AnnIvfPq.saveVectorStore(gen, d2)
      val c = AnnIvfPq.calibrateEndToEnd(coded, cents, cb, gen)
      AnnIvfPq.saveCalibration(spark, d1, c)
      AnnIvfPq.saveCalibration(spark, d2, c)
      coded.unpersist()
      (d1, d2, c)
    }
    // session-free serving artifact (r15): the SQL tier below then opens
    // through the pack — the multi-JVM path, measured always-on
    r.time("serve_100k_pack_save_sec")(AnnServePack.save(spark, dirCodes))
    r.flag("serve_100k_cal_met_target", cal.metTarget)
    val qv = queryVecs(probes)
    def servedMs(dir: String, cap: Long): Option[(Double, Seq[(Long, Long)])] =
      AnnIvfPq.serveVectors(spark, dir, qv, gen, localServeCap = cap).map { first =>
        (perQueryMs(qv.length)(served(AnnIvfPq.serveVectors(spark, dir, qv, gen, localServeCap = cap))),
          hitPairs(first))
      }
    val heapPairs = servedMs(dirHeap, 2000000L) match {
      case Some((ms, pairs)) =>
        r.timing("serve_100k_local_query_ms", ms)
        r.evidence("serve_100k_recall_at3", recallVs(exactTop3(probes, gen, byCosine = false), pairs))
        pairs
      case None =>
        r.evidence("serve_100k_local_fallback", 1.0); Seq.empty
    }
    // codes tier: heap tier forced off; parity vs the heap tier only when
    // the heap baseline served (r14 advice: an empty baseline read as
    // parity 0.0 instead of "not applicable")
    def parity(key: String, skippedKey: String, pairs: Seq[(Long, Long)]): Unit =
      if (heapPairs.nonEmpty) r.flag(key, same(pairs, heapPairs))
      else r.evidence(skippedKey, 1.0)
    servedMs(dirCodes, 1L) match {
      case Some((ms, pairs)) =>
        r.timing("serve_100k_codes_query_ms", ms)
        parity("serve_100k_codes_matches_local", "serve_100k_codes_matches_skipped", pairs)
      case None => r.evidence("serve_100k_codes_fallback", 1.0)
    }
    // the SQL tier throws loudly without a covering calibration (correct,
    // but it must not read as a rung failure), so both gate on it
    if (cal.metTarget) {
      val bigQ = queryVecs(gen.where(col("vec_id") < 1024))
      batchQps(r, "serve_100k", bigQ.length) { threads =>
        served(AnnIvfPq.serveVectors(spark, dirHeap, bigQ, gen, localThreads = threads))
      }
      // SQL tier parity (r13 verdict #5): graft_ann_serve over the same
      // probes must match the Scala heap tier row for row
      GraftExtensions.register(spark)
      graft.operators.AnnServeRegistry.reset()
      val sqlPairs = r.time("serve_100k_sql_sec") {
        probes.createOrReplaceTempView("bench_serve_probes")
        spark.sql(
          s"""SELECT query_id, h.neighbor_id AS neighbor_id
             |FROM (SELECT vec_id AS query_id,
             |             explode(graft_ann_serve('$dirCodes', vec_id, embedding)) AS h
             |      FROM bench_serve_probes)""".stripMargin)
          .collect().map(row => (row.getLong(0), row.getLong(1))).toSeq
      }
      parity("serve_100k_sql_matches", "serve_100k_sql_matches_skipped", sqlPairs)
    }
    gen.unpersist()
  }
}
