package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnIvf, AnnIvfPq, AnnPq, AnnServePack}

/** The one-call serving path's r12 upgrades:
  *
  *  - serve() composes [[graft.operators.AnnLocal]] under the row cap
  *    (r12 verdict #2): under-cap ≡ forced-distributed ≡ explicit search
  *    at the calibrated knobs, row-for-row; the cap, the query-batch
  *    bound, and the covering-calibration gate each force the
  *    distributed path with identical rows.
  *  - search()'s query-side broadcast guard (r12 verdict #5): above the
  *    query-count threshold the qtab/probes/rerank joins plan as
  *    shuffle-hash instead of broadcast — plan-asserted — with values
  *    identical to the broadcast path.
  *  - isResidual propagates read errors on an EXISTING variant marker
  *    (r12 advice): only a genuinely absent marker means legacy-raw.
  *  - the serve commit marker: every serve-visible writer moves the
  *    fingerprint, and a warm serveVectors stats only that marker.
  */
class ServeLocalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"

  private lazy val emb = Tables.embeddings(spark, sf).cache()
  private lazy val built = {
    val (indexed, centroids) = AnnIvf.buildIndex(emb)
    val cb = AnnPq.train(emb, exactMeans = false)
    val coded = AnnIvfPq.index(indexed, AnnPq.encode(emb, cb)).cache()
    coded.count()
    (coded, centroids, cb)
  }
  /** A saved + end-to-end-calibrated index — the serving deployment shape. */
  private lazy val (dir, cal) = {
    val (coded, centroids, cb) = built
    val d = java.nio.file.Files.createTempDirectory("graft_serve_local").toString
    AnnIvfPq.saveIndex(coded, centroids, cb, d)
    val c = AnnIvfPq.calibrateEndToEnd(coded, centroids, cb, emb)
    AnnIvfPq.saveCalibration(spark, d, c)
    (d, c)
  }
  private lazy val queries = emb.where(col("vec_id") < 20)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
      col("dist"), col("rk").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sorted.toIndexedSeq

  test("serve(): local fast path == forced-distributed == explicit search at the calibrated knobs (r12 verdict #2)") {
    assert(cal.metTarget, "precondition: the sf0.01 calibration must meet its target")
    val local = rows(AnnIvfPq.serve(spark, dir, queries, emb))
    assert(AnnIvfPq.localSnapshotCached(dir),
      "under-cap serve must have taken (and memoized) the local snapshot")
    val dist = rows(AnnIvfPq.serve(spark, dir, queries, emb, localServeCap = 0))
    val (coded, centroids, cb) = built
    val explicit = rows(AnnIvfPq.search(queries, coded, centroids, cb, emb,
      nprobe = cal.nprobe, topK = 3, refine = cal.refine))
    assert(local == explicit, "local serve diverged from the explicit search")
    assert(dist == explicit, "distributed serve diverged from the explicit search")
  }

  test("serve(): an oversized query batch falls back to distributed, identical rows") {
    val capped = rows(AnnIvfPq.serve(spark, dir, queries, emb, maxLocalQueries = 5))
    val dist = rows(AnnIvfPq.serve(spark, dir, queries, emb, localServeCap = 0))
    assert(capped == dist)
  }

  test("serve(): a non-covering calibration skips the local path and re-tunes distributed") {
    // topK=5 is deeper than the stored topK=3 calibration — covers() must
    // refuse it on BOTH paths, and the tuned distributed answer is the
    // contract (searchAuto with the same inputs)
    val served = rows(AnnIvfPq.serve(spark, dir, queries, emb, topK = 5))
    val (coded, centroids, cb) = built
    val tuned = rows(AnnIvfPq.searchAuto(queries, coded, centroids, cb, emb,
      topK = 5, calibration = AnnIvfPq.loadCalibration(spark, dir)))
    assert(served == tuned)
  }

  test("serve(): residual index serves locally from residual tables, identical to distributed") {
    val (coded, centroids, _) = built
    val indexed = emb.join(coded.select(col("vec_id"), col("_centroid")), Seq("vec_id"))
    val rcb = AnnIvfPq.trainResidual(indexed, centroids, exactMeans = false)
    val rcoded = AnnIvfPq.encodeResidual(indexed, centroids, rcb)
    val d = java.nio.file.Files.createTempDirectory("graft_serve_res").toString
    AnnIvfPq.saveIndex(rcoded, centroids, rcb, d, residual = true)
    val rcal = AnnIvfPq.calibrateEndToEnd(rcoded, centroids, rcb, emb, residual = true)
    AnnIvfPq.saveCalibration(spark, d, rcal)
    assert(rcal.metTarget, "precondition: residual calibration must meet its target")
    val local = rows(AnnIvfPq.serve(spark, d, queries, emb))
    assert(AnnIvfPq.localSnapshotCached(d))
    val dist = rows(AnnIvfPq.serve(spark, d, queries, emb, localServeCap = 0))
    assert(local == dist)
  }

  test("search(): query-side broadcast guard — over-threshold plans shuffle-hash, values identical (r12 verdict #5)") {
    val (coded, centroids, cb) = built
    val viaBroadcast = AnnIvfPq.search(queries, coded, centroids, cb, emb,
      nprobe = 6, topK = 3, refine = 50)
    val viaShuffle = AnnIvfPq.search(queries, coded, centroids, cb, emb,
      nprobe = 6, topK = 3, refine = 50, maxBroadcastQueries = 5)
    assert(rows(viaBroadcast.withColumn("rk", col("rk")))
      == rows(viaShuffle.withColumn("rk", col("rk"))),
      "guarded plan changed the answer")
    viaShuffle.collect()
    val plan = viaShuffle.queryExecution.executedPlan.toString
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 3,
      s"expected the three query-side joins to shuffle, plan:\n$plan")
    // and the residual branch's probesTab join falls back too
    val indexed = emb.join(coded.select(col("vec_id"), col("_centroid")), Seq("vec_id"))
    val rcb = AnnIvfPq.trainResidual(indexed, centroids, exactMeans = false)
    val rcoded = AnnIvfPq.encodeResidual(indexed, centroids, rcb)
    val rBroadcast = rows(AnnIvfPq.search(queries, rcoded, centroids, rcb, emb,
      nprobe = 6, topK = 3, refine = 50, residual = true))
    val rShuffled = AnnIvfPq.search(queries, rcoded, centroids, rcb, emb,
      nprobe = 6, topK = 3, refine = 50, residual = true, maxBroadcastQueries = 5)
    assert(rows(rShuffled) == rBroadcast)
    rShuffled.collect()
    val rPlan = rShuffled.queryExecution.executedPlan.toString
    assert("ShuffledHashJoin".r.findAllIn(rPlan).size >= 2,
      s"residual guarded plan still broadcasts, plan:\n$rPlan")
  }

  test("serveVectors: warm path fires ZERO Spark jobs, rows == serve(); re-save invalidates until recalibrated") {
    val (coded, centroids, cb) = built
    val d = java.nio.file.Files.createTempDirectory("graft_serve_vec").toString
    AnnIvfPq.saveIndex(coded, centroids, cb, d)
    val c = AnnIvfPq.calibrateEndToEnd(coded, centroids, cb, emb)
    AnnIvfPq.saveCalibration(spark, d, c)
    assert(c.metTarget)
    val qvecs = emb.where(col("vec_id") < 20)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    // first call builds state + snapshot (jobs allowed); parity vs serve()
    val viaVec = AnnIvfPq.serveVectors(spark, d, qvecs, emb)
      .getOrElse(fail("covering calibration + under-cap corpus must serve locally"))
    val flat = viaVec.flatMap { case (q, hs) => hs.map(h => (q, h.neighborId, h.dist, h.rk)) }
      .sorted
    assert(flat == rows(AnnIvfPq.serve(spark, d, queries, emb)),
      "serveVectors diverged from serve()")
    // warm path: zero jobs — freshness is one stat of the commit marker,
    // the rest is in-process arithmetic on the memoized snapshot
    val sc = spark.sparkContext
    sc.setJobGroup("serve-vectors-warm", "zero-job probe")
    val again = try AnnIvfPq.serveVectors(spark, d, qvecs, emb)
      finally sc.clearJobGroup()
    assert(again.isDefined)
    var ids = sc.statusTracker.getJobIdsForGroup("serve-vectors-warm")
    val deadline = System.nanoTime() + 1500000000L
    while (ids.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(150)
      ids = sc.statusTracker.getJobIdsForGroup("serve-vectors-warm")
    }
    assert(ids.isEmpty, s"warm serveVectors fired Spark jobs: ${ids.mkString(",")}")
    // a RE-SAVE changes the fingerprint; the old calibration can no
    // longer vouch (epoch mismatch) → the local path refuses
    AnnIvfPq.saveIndex(coded, centroids, cb, d)
    assert(AnnIvfPq.serveVectors(spark, d, qvecs, emb).isEmpty,
      "a re-saved index must not be served from the stale snapshot/calibration")
    // re-stamping the calibration against the new save restores service
    AnnIvfPq.saveCalibration(spark, d, c)
    val restored = AnnIvfPq.serveVectors(spark, d, qvecs, emb)
      .getOrElse(fail("recalibrated index must serve locally again"))
    assert(restored.flatMap { case (q, hs) =>
      hs.map(h => (q, h.neighborId, h.dist, h.rk)) }.sorted == flat)
  }

  test("serve commit marker: every writer moves the fingerprint; a warm serveVectors stats only the marker; a marker-less index still serves") {
    val (coded, centroids, cb) = built
    val d = java.nio.file.Files.createTempDirectory("graft_serve_commit").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val fps = scala.collection.mutable.ArrayBuffer(AnnIvfPq.serveFingerprint(conf, d))
    def commits(writer: String)(f: => Any): Unit = {
      f
      val fp = AnnIvfPq.serveFingerprint(conf, d)
      assert(fp.nonEmpty && !fps.contains(fp), s"$writer did not move the serve fingerprint")
      fps += fp
    }
    commits("saveIndex")(AnnIvfPq.saveIndex(coded, centroids, cb, d))
    commits("saveCalibration")(AnnIvfPq.saveCalibration(spark, d, cal))
    commits("a back-to-back saveCalibration")(AnnIvfPq.saveCalibration(spark, d, cal))
    commits("saveVectorStore")(AnnIvfPq.saveVectorStore(emb, d))
    commits("AnnServePack.save")(AnnServePack.save(spark, d))
    val fs = org.apache.hadoop.fs.FileSystem.get(java.net.URI.create(d), conf)
    (1 to 20).foreach(i => commits(s"commit $i within a few clock ticks")(AnnIvfPq.commitServe(fs, d)))

    val qvecs = emb.where(col("vec_id") < 20)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    def served(): Seq[(Long, Seq[graft.operators.AnnHit])] =
      AnnIvfPq.serveVectors(spark, d, qvecs, emb).getOrElse(fail("the index must serve locally"))
    val cold = served()
    // a warm call through a filesystem that records every metadata call
    // under the index: exactly one stat, of the marker
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    CountingLocalFs.under = d
    CountingLocalFs.calls.clear()
    val warm = try served() finally {
      CountingLocalFs.under = null
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
    assert(warm == cold)
    assert(CountingLocalFs.calls.toArray.toSeq == Seq(s"getFileStatus $d/_serve_commit"),
      s"warm serveVectors made these metadata calls: ${CountingLocalFs.calls}")

    // an index saved before the marker existed reads as "" and serves
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$d/_serve_commit"), false))
    assert(AnnIvfPq.serveFingerprint(conf, d) == "")
    assert(served() == cold)

    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    commits("deleteVectors")(AnnIvfPq.deleteVectors(spark, d, Seq(maxId)))
    commits("appendVectors")(AnnIvfPq.appendVectors(spark, d,
      emb.where(col("vec_id") < 4).withColumn("vec_id", col("vec_id") + (maxId + 1))))
    assert(!new java.io.File(d, "appends").exists())
    commits("compactServingArtifacts")(AnnIvfPq.compactServingArtifacts(spark, d))
    commits("retrain")(AnnIvfPq.retrain(spark, d))
  }

  test("isResidual: absent marker is legacy-raw; a CORRUPT existing marker throws instead of defaulting (r12 advice)") {
    val (coded, centroids, cb) = built
    val d = java.nio.file.Files.createTempDirectory("graft_serve_marker").toString
    AnnIvfPq.saveIndex(coded, centroids, cb, d)
    assert(!AnnIvfPq.isResidual(spark, d), "raw save must read as raw")
    // pre-r12 index: no marker at all → raw, silently
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(d), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$d/variant"), true)
    assert(!AnnIvfPq.isResidual(spark, d), "absent marker must mean legacy raw")
    // an EXISTING but unreadable marker must propagate, not silently
    // serve residual codes under raw ADC tables
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$d/variant"))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$d/variant/part-garbage.parquet"), true)
    out.write("not parquet".getBytes("UTF-8")); out.close()
    intercept[Exception] { AnnIvfPq.isResidual(spark, d) }
  }
}

/** The local filesystem, recording each metadata call made under `under`. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.Path
  private def record(op: String, p: Path): Unit = {
    val under = CountingLocalFs.under
    if (under != null && p.toUri.getPath.startsWith(under))
      CountingLocalFs.calls.add(s"$op ${p.toUri.getPath}"): Unit
  }
  override def getFileStatus(p: Path) = { record("getFileStatus", p); super.getFileStatus(p) }
  override def listStatus(p: Path) = { record("listStatus", p); super.listStatus(p) }
  override def exists(p: Path) = { record("exists", p); super.exists(p) }
  override def open(p: Path, bufferSize: Int) = { record("open", p); super.open(p, bufferSize) }
}

object CountingLocalFs {
  @volatile var under: String = null
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
