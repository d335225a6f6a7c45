package graftbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.GraftExtensions
import graft.io.SyntheticVectors
import graft.operators.{AnnCalibration, AnnHit, AnnIvf, AnnIvfPq, AnnLocal, AnnPq, AnnServePack}

/** ANN serving: a clustered 20k-vector corpus indexed with IVF+PQ,
  * saved with its rerank sidecar and serve pack, calibrated, then asked
  * single queries and 512-query batches through `AnnIvfPq.serveVectors`
  * at its default knobs by closed-loop clients.
  */
object AnnServe {
  val Vectors = 20000L
  val Dim = 16
  val Clusters = 1000
  val SetupReps = 2
  val TopK = 3
  val BatchQueries = 512
  val SplitQueries = 64 // the multi-query call that splits call from search cost
  val QueriesPerClient = 2048

  final case class Built(dir: String, gen: DataFrame, coded: DataFrame, centroids: DataFrame,
      codebooks: Array[Array[Array[Double]]], cal: AnnCalibration)

  def sqDist(q: Array[Double], v: Array[Float]): Double = {
    var d = 0.0
    var i = 0
    while (i < q.length) { val x = q(i) - v(i); d += x * x; i += 1 }
    d
  }

  /** Query `k` of stream `s`: a corpus vector plus noise, as float values
    * so every tier sees exactly the same numbers. Ids lie outside the
    * corpus id space.
    */
  def query(corpus: Array[Array[Float]], s: Long, k: Int): (Long, Array[Double]) = {
    val rng = new SplittableRandom(s * 0x9E3779B97F4A7C15L + k)
    val base = corpus(rng.nextInt(corpus.length))
    val id = Vectors + s * QueriesPerClient + k
    id -> base.map(x => (x + (rng.nextDouble() - 0.5) * 0.1).toFloat.toDouble)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val buildParts = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def part[A](name: String)(f: => A): A = {
      val (r, s) = Harness.timedS(Trace.span(name)(f))
      buildParts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
      r
    }
    val (built, setupS, buildS, setupWork) = Harness.setups(ctx, SetupReps) { rep =>
      val dir = ctx.dir(s"ann-$rep")
      val (b, build) = Harness.timedS(part("ann.build") {
        val gen = SyntheticVectors.clustered(spark, Vectors, dim = Dim, nClusters = Clusters).persist()
        gen.count()
        val (ix0, cents) = AnnIvf.buildIndex(gen)
        val ix = ix0.persist(); ix.count()
        val cb = AnnPq.train(gen, exactMeans = false)
        val coded = AnnIvfPq.index(ix, AnnPq.encode(gen, cb)).persist()
        coded.count()
        ix.unpersist()
        (gen, coded, cents, cb)
      })
      val (gen, coded, cents, cb) = b
      part("ann.save") {
        AnnIvfPq.saveIndex(coded, cents, cb, dir)
        AnnIvfPq.saveVectorStore(gen, dir)
      }
      val cal = part("ann.calibrate") {
        val c = AnnIvfPq.calibrateEndToEnd(coded, cents, cb, gen)
        AnnIvfPq.saveCalibration(spark, dir, c)
      }
      part("ann.pack") { AnnServePack.save(spark, dir) }
      val q0 = (Long.MaxValue / 2, Array.fill(Dim)(0.0))
      val first = part("ann.open") { AnnIvfPq.serveVectors(spark, dir, Seq(q0), gen) }
      ctx.check(first.isDefined, s"setup $rep: serveVectors refused the calibrated index")
      ctx.log(s"setup $rep parts: " + buildParts.map { case (k, v) => f"$k ${v.last}%.2f" }.mkString(", "))
      (Built(dir, gen, coded, cents, cb, cal), build)
    } { b =>
      b.gen.unpersist(true); b.coded.unpersist(true)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(b.dir))
    }
    Seq("ann.calibrate", "ann.open").foreach { n =>
      ctx.layer(s"${n}_s", Stats.median(buildParts(n).toSeq))
    }
    ctx.layer("ann.save_s", Stats.median(buildParts("ann.save").toSeq.zip(buildParts("ann.pack"))
      .map { case (a, b) => a + b }))
    ctx.layer("ann.cal_nprobe", built.cal.nprobe.toDouble)
    ctx.layer("ann.cal_refine", built.cal.refine.toDouble)
    val heapMb = Jvm.settledHeapMb()

    val corpus: Array[Array[Float]] = {
      val a = new Array[Array[Float]](Vectors.toInt)
      built.gen.select(col("vec_id"), col("embedding")).collect().foreach { r =>
        a(r.getLong(0).toInt) = r.getSeq[Float](1).toArray
      }
      a
    }
    def serve(qs: Seq[(Long, Array[Double])], localServeCap: Long = 2000000L,
        threads: Int = 0): Seq[(Long, Seq[AnnHit])] =
      AnnIvfPq.serveVectors(spark, built.dir, qs, built.gen,
        localServeCap = localServeCap, localThreads = threads)
        .getOrElse(throw new IllegalStateException("serveVectors fell back: no local tier"))

    def checkHits(qs: Seq[(Long, Array[Double])], res: Seq[(Long, Seq[AnnHit])]): Unit = {
      ctx.check(res.map(_._1) == qs.map(_._1), "serveVectors answered other queries than asked")
      qs.zip(res).foreach { case ((qid, q), (_, hits)) =>
        ctx.check(hits.length == TopK, s"query $qid: ${hits.length} hits")
        hits.foreach { h =>
          val d = sqDist(q, corpus(h.neighborId.toInt))
          ctx.check(math.abs(d - h.dist) <= 1e-9 * math.max(1.0, d),
            s"query $qid neighbour ${h.neighborId}: dist ${h.dist}, recomputed $d")
        }
      }
    }

    // a direct AnnLocal index at the calibrated knobs: the search itself,
    // apart from serveVectors' per-call work
    val direct =
      if (!ctx.trace) None
      else AnnLocal.open(built.coded, built.centroids, built.codebooks, built.gen)
    val rf = if (built.cal.refine > 0) built.cal.refine else 200
    val engine = new ConcurrentLinkedQueue[java.lang.Double]()
    val outside = new ConcurrentLinkedQueue[java.lang.Double]()

    // nproc clients ask single queries (each on its client's thread) for
    // the first half of a phase and 512-query batches (each on serveVectors'
    // default pool of nproc threads) for the second. Every figure pools all
    // cores: on a shared host each core's speed drifts on its own by up to
    // 1.75x from one second to the next. Every seed asks the same query
    // pools (a query's cost depends on the lists it probes); the seed sets
    // the order.
    val clients = ctx.nproc
    def client(salt: Long)(c: Int, deadline: Long, rec: Recorder): Unit = {
      val start = System.nanoTime()
      val half = start + (deadline - start) / 2
      val stream = salt * 64 + c
      val pool = (0 until QueriesPerClient).map(k => query(corpus, stream, k)).toArray
      val rng = new SplittableRandom(ctx.seed * 1000003L + stream)
      (pool.length - 1 to 1 by -1).foreach { i =>
        val j = rng.nextInt(i + 1); val t = pool(i); pool(i) = pool(j); pool(j) = t
      }
      val qs = pool.toIndexedSeq
      var k = 0
      while (System.nanoTime() < half) {
        val q = qs(k % qs.length); k += 1
        val t0 = System.nanoTime()
        rec.op(ctx, primary = true) { Trace.span("ann.serve") { serve(Seq(q)) } }.foreach { res =>
          val ms = (System.nanoTime() - t0) / 1e6
          if (Trace.on) direct.foreach { ix =>
            val (_, s) = Harness.timedS(Trace.span("ann.search") {
              ix.search(q._2, nprobe = built.cal.nprobe, topK = TopK, refine = rf, queryId = q._1)
            })
            engine.add(s * 1000.0); outside.add(ms - s * 1000.0)
          }
          checkHits(Seq(q), res)
        }
      }
      while (System.nanoTime() < deadline) {
        val batch = (0 until BatchQueries).map(j => qs((k + j) % qs.length))
        k += BatchQueries
        rec.op(ctx, primary = false) { Trace.span("ann.batch") { serve(batch) } }
          .foreach(res => checkHits(batch, res))
      }
    }
    Harness.warmUp(ctx, clients)(client(1L))
    val (timed, traced) = Harness.timedPhases(ctx, clients)(client(0L))

    // untimed checks: recall@3 against brute force, and tier agreement
    val sample = (0 until 100).map(k => query(corpus, 9999L * 1000003L + ctx.seed, k))
    val heap = serve(sample)
    checkHits(sample, heap)
    val hitSets = heap.map { case (q, hs) => q -> hs.map(_.neighborId).toSet }.toMap
    var found = 0
    sample.foreach { case (qid, q) =>
      val best = mutable.PriorityQueue.empty[(Double, Long)]
      var i = 0
      while (i < corpus.length) {
        val d = sqDist(q, corpus(i))
        if (best.size < TopK) best.enqueue(d -> i.toLong)
        else if (d < best.head._1) { best.dequeue(); best.enqueue(d -> i.toLong) }
        i += 1
      }
      found += best.count { case (_, id) => hitSets(qid).contains(id) }
    }
    val recall = found.toDouble / (TopK * sample.length)
    ctx.layer("ann.recall_at3", recall)
    ctx.check(recall >= 0.8, s"recall@3 $recall below 0.8")
    val pairs = (r: Seq[(Long, Seq[AnnHit])]) => r.flatMap { case (q, hs) => hs.map(h => (q, h.neighborId)) }.toSet
    val codes = serve(sample, localServeCap = 1L)
    ctx.check(pairs(codes) == pairs(heap), "codes tier and heap tier return different pairs")
    GraftExtensions.register(spark)
    def sql(qs: Seq[(Long, Array[Double])]): Set[(Long, Long)] = {
      qs.map { case (id, v) => (id, v.map(_.toFloat)) }.toDF("vec_id", "embedding")
        .createOrReplaceTempView("graftbench_queries")
      spark.sql(
        s"""SELECT vec_id AS query_id, h.neighbor_id AS neighbor_id
           |FROM (SELECT vec_id, explode(graft_ann_serve('${built.dir}', vec_id, embedding)) AS h
           |      FROM graftbench_queries)""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    ctx.check(sql(sample) == pairs(heap), "SQL tier and heap tier return different pairs")

    if (ctx.trace) {
      val one = sample.take(1)
      val many = sample.take(SplitQueries)
      def medMs(n: Int)(f: => Unit): Double =
        Stats.median((0 until n).map(_ => Harness.timedS(f)._2 * 1000.0))
      // single-thread calls, so the batch's cost per query is the search's
      val t1 = medMs(30)(serve(one, threads = 1))
      val t64 = medMs(10)(serve(many, threads = 1))
      val per = (t64 - t1) / (SplitQueries - 1)
      ctx.layer("ann.search_ms", per)
      ctx.layer("ann.call_ms", t1 - per)
      ctx.layer("ann.codes_tier_ms", medMs(30)(serve(one, localServeCap = 1L, threads = 1)))
      ctx.layer("ann.sql_tier_ms", medMs(10)(sql(one)))
      val tt = traced.get
      ctx.layer("ann.batch_qps", tt.aux.length * BatchQueries / (tt.wallS - tt.opsS))
    }
    Outcome(setupS, buildS, setupWork, heapMb, timed, traced,
      engine.asScala.map(_.doubleValue).toSeq, outside.asScala.map(_.doubleValue).toSeq,
      Seq(TopK.toDouble))
  }
}
