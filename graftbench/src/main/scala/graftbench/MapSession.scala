package graftbench

import java.net.{HttpURLConnection, URL}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, BitVector, Float8Vector}
import org.apache.arrow.vector.ipc.ArrowStreamReader

import graft.cluster.{ClusterEngine, ClusterIndex}
import org.apache.spark.sql.functions.col

import graft.io.{ArrowIpc, DataServer, SyntheticPoints}

/** The paper's interactive loop: city-clustered points indexed with
  * `ClusterEngine.loadDistributed` and served as Arrow IPC by
  * `DataServer`'s `/clusters` route to closed-loop clients replaying
  * pan/zoom sessions, with now and then a click on a cluster (expansion
  * zoom, children, first leaf page).
  */
object MapSession {
  val Points = 50000L
  val SetupReps = 2
  val MaxZoom = 17 // the level past the last clustering zoom holds the points
  val StepsPerSession = 12
  val ClickSessionSteps = 3
  val World: Viewports.BBox = (-180.0, -85.0, 180.0, 85.0)

  final case class Tile(id: Array[Long], lng: Array[Double], lat: Array[Double],
      count: Array[Long], isCluster: Array[Boolean])

  /** Decode a `/clusters` body with Arrow Java's own stream reader. */
  def decode(bytes: Array[Byte], alloc: RootAllocator): Tile = {
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
    val id = mutable.ArrayBuilder.make[Long]; val lng = mutable.ArrayBuilder.make[Double]
    val lat = mutable.ArrayBuilder.make[Double]; val pc = mutable.ArrayBuilder.make[Long]
    val ic = mutable.ArrayBuilder.make[Boolean]
    try {
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch()) {
        val vId = root.getVector("id").asInstanceOf[BigIntVector]
        val vLng = root.getVector("lng").asInstanceOf[Float8Vector]
        val vLat = root.getVector("lat").asInstanceOf[Float8Vector]
        val vPc = root.getVector("point_count").asInstanceOf[BigIntVector]
        val vIc = root.getVector("is_cluster").asInstanceOf[BitVector]
        var i = 0
        while (i < root.getRowCount) {
          id += vId.get(i); lng += vLng.get(i); lat += vLat.get(i)
          pc += vPc.get(i); ic += (vIc.get(i) == 1)
          i += 1
        }
      }
    } finally reader.close()
    Tile(id.result(), lng.result(), lat.result(), pc.result(), ic.result())
  }

  def get(url: String): Array[Byte] = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    val code = c.getResponseCode
    val in = if (code == 200) c.getInputStream else c.getErrorStream
    val body = try in.readAllBytes() finally in.close()
    if (code != 200) throw new IllegalStateException(s"HTTP $code for $url")
    body
  }

  def url(port: Int, b: Viewports.BBox, z: Int): String =
    s"http://127.0.0.1:$port/clusters?bbox=${b._1},${b._2},${b._3},${b._4}&zoom=$z"

  /** One click: expansion zoom, children, first leaf page, each checked. */
  def click(ctx: Ctx, idx: ClusterIndex, id: Long, count: Long): Unit = {
    val ez = Trace.span("nav.expansion_zoom") { idx.getClusterExpansionZoom(id) }
    val children = Trace.span("nav.children") {
      idx.getChildren(id).toDF().select("id", "point_count").collect()
    }
    val leaves = Trace.span("nav.leaves") {
      idx.getLeaves(id, limit = 10).select("row_id").collect().map(_.getLong(0))
    }
    ctx.check(ez >= 0 && ez <= MaxZoom, s"cluster $id: expansion zoom $ez out of range")
    val sum = children.map(_.getLong(1)).sum
    ctx.check(sum == count, s"cluster $id: children sum to $sum, cluster holds $count")
    ctx.check(leaves.distinct.length == math.min(10L, count),
      s"cluster $id: leaf page has ${leaves.distinct.length} distinct ids for $count points")
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val fillS = mutable.ArrayBuffer.empty[Double]
    val closureS = mutable.ArrayBuffer.empty[Double]
    val (idx, setupS, buildS, setupWork) = Harness.setups(ctx, SetupReps) { rep =>
      // the reference demo's dataset (its generator's default seed); the
      // sessions, not the points, come from the run's seed
      val pts = SyntheticPoints.cityGaussian(spark, Points)
      val (idx, build) = Harness.timedS(Trace.span("morton.build") {
        ClusterEngine.loadDistributed(pts)
      })
      // serve-mode snapshot fill: the first probe of every zoom, from as
      // many threads as the timed phase has clients
      val (sizes, fill) = Harness.timedS(Harness.parallel(ctx.nproc, (0 to MaxZoom).toIndexedSeq) { z =>
        val b = Trace.span("index.snapshot_fill") { idx.getClustersLocalBatch(World, z) }
        val total = b.pointCount.sum
        ctx.check(total == Points, s"setup $rep: world probe at zoom $z sums to $total, not $Points")
        b.size.toLong
      })
      val rows = sizes.sum
      fillS += fill
      ctx.layer("index.snapshot_rows", rows.toDouble)
      // the first click pays for the navigation closure
      val world3 = idx.getClustersLocalBatch(World, 3)
      val first = world3.pointCount.indices.filter(world3.isCluster).maxBy(world3.pointCount)
      val (_, closure) = Harness.timedS(Trace.span("nav.closure") {
        click(ctx, idx, world3.id(first), world3.pointCount(first))
      })
      closureS += closure
      ctx.log(f"setup $rep: fill $fill%.2f s, first click $closure%.2f s")
      (idx, build)
    }(_.unpersist())
    ctx.layer("index.snapshot_fill_s", Stats.median(fillS.toSeq))
    ctx.layer("nav.closure_s", Stats.median(closureS.toSeq))
    val heapMb = Jvm.settledHeapMb()

    val server = DataServer.start(Map.empty, 0, Some(idx))
    val alloc = new RootAllocator()
    try {
      val port = server.port
      val samples = new ConcurrentLinkedQueue[(Viewports.BBox, Int, Tile)]()
      val engine = new ConcurrentLinkedQueue[java.lang.Double]()
      val outside = new ConcurrentLinkedQueue[java.lang.Double]()
      val rowsPer = new ConcurrentLinkedQueue[java.lang.Double]()
      val encodeUs = new ConcurrentLinkedQueue[java.lang.Double]()
      val bytesPer = new ConcurrentLinkedQueue[java.lang.Double]()
      // clusters of the zoom-3 world tile: the click target of a session
      // whose tiles showed no cluster
      val world3 = idx.getClustersLocalBatch(World, 3)
      val fallback = world3.id.indices.filter(world3.isCluster).map(i => (world3.id(i), world3.pointCount(i)))
      def client(salt: Long)(c: Int, deadline: Long, rec: Recorder): Unit = {
        val rng = new SplittableRandom(ctx.seed * 1000003L + salt * 7919L + c)
        var n = 0L
        while (System.nanoTime() < deadline) {
          // a session: pan/zoom tiles. Client 0 makes short sessions and
          // ends each with a click on the largest cluster of its last tile
          // that showed one; one clicking client keeps clicks from queueing
          // behind each other's Spark jobs.
          var clickable: Option[(Long, Long)] = None
          val steps = if (c == 0) ClickSessionSteps else StepsPerSession
          Viewports.session(rng, steps, 0, MaxZoom - 1).foreach { case (b, z) =>
            val t0 = System.nanoTime()
            rec.op(ctx, primary = true) { Trace.span("http.get") { get(url(port, b, z)) } }.foreach { bytes =>
              // the same request probed and encoded directly, after the
              // timed call: the engine's share of the tile
              if (Trace.on) {
                val httpMs = (System.nanoTime() - t0) / 1e6
                val (batch, probeS) = Harness.timedS(Trace.span("index.probe") {
                  idx.getClustersLocalBatch(b, z)
                })
                val (enc, encS) = Harness.timedS(Trace.span("ipc.encode") {
                  ArrowIpc.writeBatchBytes(batch)
                })
                engine.add(probeS * 1000.0); outside.add(httpMs - probeS * 1000.0)
                encodeUs.add(encS * 1e6); rowsPer.add(batch.size.toDouble)
                bytesPer.add(enc.length.toDouble)
              }
              val tile = decode(bytes, alloc)
              var i = 0
              var bad = 0
              while (i < tile.id.length) {
                if (!Viewports.contains(b, tile.lng(i), tile.lat(i), 1e-4)) bad += 1
                i += 1
              }
              ctx.check(bad == 0, s"bbox $b zoom $z: $bad of ${tile.id.length} rows outside")
              if (n % 25 == 0 && salt == 0L) samples.add((b, z, tile))
              n += 1
              val clusters = tile.id.indices.filter(tile.isCluster)
              if (clusters.nonEmpty) {
                val k = clusters.maxBy(tile.count)
                clickable = Some((tile.id(k), tile.count(k)))
              }
            }
          }
          if (c == 0) {
            val (id, count) = clickable.getOrElse(fallback(rng.nextInt(fallback.length)))
            rec.op(ctx, primary = false) { click(ctx, idx, id, count) }
          }
        }
      }
      Harness.warmUp(ctx, ctx.nproc)(client(1L))
      samples.clear()
      val (timed, traced) = Harness.timedPhases(ctx, ctx.nproc)(client(0L))

      // untimed checks over HTTP: every zoom's world tile sums to N
      (0 to MaxZoom).foreach { z =>
        val t = decode(get(url(port, World, z)), alloc)
        ctx.check(t.count.sum == Points, s"world tile at zoom $z sums to ${t.count.sum}")
      }
      // a seeded sample of tiles equals a brute-force filter of the level
      // rows, with the bbox projected by the benchmark's own Mercator code
      samples.asScala.take(12).foreach { case (b, z, tile) =>
        val (xs, y0, y1) = Viewports.mercatorRanges(b)
        def inside(mx: Double, my: Double, eps: Double) =
          (xs.isEmpty || xs.exists { case (lo, hi) => mx >= lo - eps && mx <= hi + eps }) &&
            my >= y0 - eps && my <= y1 + eps
        // one scan per tile: the rows a tolerant filter keeps, narrowed in
        // plain Scala to the rows that lie strictly inside
        val loose = idx.level(z).toDF().where(col("my") >= y0 - 1e-12 && col("my") <= y1 + 1e-12)
          .select("id", "mx", "my").collect()
          .filter(r => inside(r.getDouble(1), r.getDouble(2), 1e-12))
        val want = loose.filter(r => inside(r.getDouble(1), r.getDouble(2), -1e-12)).map(_.getLong(0)).toSet
        val got = tile.id.toSet
        ctx.check(got.size == tile.id.length, s"bbox $b zoom $z: duplicate ids in the tile")
        ctx.check(want.subsetOf(got) && got.subsetOf(loose.map(_.getLong(0)).toSet),
          s"bbox $b zoom $z: tile has ${got.size} ids, brute force ${want.size}")
      }
      ctx.check(samples.size >= 5, s"only ${samples.size} tiles sampled for the brute-force check")
      // the storage path, in a traced run: the same level rows saved as
      // an IndexStore, probed while a batch is merged in
      if (ctx.trace) StoreLayer.run(ctx, idx, SyntheticPoints.cityGaussian(spark, Points), Points)

      if (ctx.trace) {
        val tt = traced.get
        def med(q: ConcurrentLinkedQueue[java.lang.Double]) = Stats.median(q.asScala.map(_.doubleValue).toSeq)
        val probeUs = med(engine) * 1000.0
        ctx.layer("index.rows_per_tile", med(rowsPer))
        ctx.layer("ipc.encode_us", med(encodeUs))
        ctx.layer("ipc.bytes_per_tile", med(bytesPer))
        val waits = Trace.durationsMs("http.get")
        ctx.layer("http.get_ms", Stats.median(waits))
        ctx.layer("http.wait_ms", Stats.median(waits) - (probeUs + med(encodeUs)) / 1000.0)
        Seq("expansion_zoom", "children", "leaves").foreach { n =>
          val d = Trace.durationsMs(s"nav.$n")
          if (d.nonEmpty) ctx.layer(s"nav.${n}_ms", Stats.median(d))
        }
        ctx.layer("tile.p50_ms", Stats.median(tt.ops))
        ctx.layer("click.count", tt.aux.length.toDouble)
      }
      Outcome(setupS, buildS, setupWork, heapMb, timed, traced,
        engine.asScala.map(_.doubleValue).toSeq, outside.asScala.map(_.doubleValue).toSeq,
        rowsPer.asScala.map(_.doubleValue).toSeq)
    } finally {
      server.stop()
      alloc.close()
    }
  }
}
