package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its inputs' seed, the run
  * length, and where its checks, per-layer figures and scratch files go.
  */
final class Ctx(
    val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: Path, val nproc: Int,
    val counters: SparkCounters) {
  private val failures = new ConcurrentLinkedQueue[String]()
  /** Module-named per-layer figures, printed on the line before the result. */
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { if (failures.size < 50) failures.add(what); () }

  def failed: Seq[String] = failures.asScala.toSeq

  def layer(name: String, value: Double): Unit = synchronized { layers(name) = value; () }

  private val t0 = System.nanoTime()

  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%6.1f s] $msg")

  def sparkSnap(): SparkWork = counters.snap(spark.sparkContext)

  /** A fresh directory under the run's scratch directory. */
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

/** What one timed phase measured. `ops` are the primary operation's
  * latencies, `aux` the secondary operation's (click, batch); `opsS` runs
  * from the phase's start to the last primary operation's end.
  */
final case class Timed(
    ops: Seq[Double], aux: Seq[Double], attempted: Long, failed: Long,
    wallS: Double, opsS: Double, jvm: JvmWork, spark: SparkWork)

/** Latency sink shared by a phase's client threads. */
final class Recorder {
  val ops = new ConcurrentLinkedQueue[java.lang.Double]()
  val aux = new ConcurrentLinkedQueue[java.lang.Double]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val lastOpEnd = new AtomicLong

  /** Time one operation; a throw counts it as failed and records why. */
  def op[A](ctx: Ctx, primary: Boolean)(f: => A): Option[A] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val r = Trace.request(f)
      val t1 = System.nanoTime()
      val ms = (t1 - t0) / 1e6
      if (primary) { ops.add(ms); lastOpEnd.accumulateAndGet(t1, math.max) } else aux.add(ms)
      Some(r)
    } catch {
      case e: Exception =>
        failed.incrementAndGet()
        ctx.log(s"operation failed: $e")
        None
    }
  }
}

/** The result a workload hands back to [[Main]]. */
final case class Outcome(
    setupS: Seq[Double], buildS: Seq[Double], setupWork: Seq[SparkWork],
    heapMb: Double, timed: Timed, tracedTimed: Option[Timed],
    engineMs: Seq[Double], outsideMs: Seq[Double], rows: Seq[Double])

object Harness {

  /** Run `clients` closed-loop client threads until `seconds` elapse; each
    * client finishes the round it is in. Returns what the phase measured.
    */
  def closedLoop(ctx: Ctx, clients: Int, seconds: Double)(
      client: (Int, Long, Recorder) => Unit): Timed = {
    val rec = new Recorder
    val spark0 = ctx.sparkSnap()
    val jvm0 = Jvm.snap()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        try client(c, deadline, rec)
        catch { case e: Throwable => errors.add(e); () }
      }, s"graftbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val jvm = Jvm.snap() - jvm0
    val spark = ctx.sparkSnap() - spark0
    errors.asScala.headOption.foreach(e => throw e)
    Timed(rec.ops.asScala.map(_.doubleValue).toSeq, rec.aux.asScala.map(_.doubleValue).toSeq,
      rec.attempted.get, rec.failed.get, wall, (rec.lastOpEnd.get - t0) / 1e9, jvm, spark)
  }

  /** Untimed warm-up: run the loop in one-second slices for at least
    * `minS`, until the median latency of a slice is within 5% of the
    * previous slice's, or `maxS`.
    */
  def warmUp(ctx: Ctx, clients: Int, minS: Double = 2.0, maxS: Double = 3.0)(
      client: (Int, Long, Recorder) => Unit): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var prev = Double.NaN
    var settled = false
    while (!(settled && elapsed >= minS) && elapsed < maxS) {
      val t = closedLoop(ctx, clients, 1.0)(client)
      val m = if (t.ops.isEmpty) Double.NaN else Stats.median(t.ops)
      settled = !prev.isNaN && math.abs(m - prev) <= 0.05 * prev
      prev = m
    }
    ctx.log(f"warm-up $elapsed%.1f s, settled=$settled, p50=$prev%.3f ms")
  }

  /** The timed phase; in a traced run it runs twice, untraced and then
    * traced, so the traced half's cost over the untraced half is the
    * tracing overhead.
    */
  def timedPhases(ctx: Ctx, clients: Int)(
      client: (Int, Long, Recorder) => Unit): (Timed, Option[Timed]) = {
    Trace.on = false
    val plain = closedLoop(ctx, clients, ctx.seconds)(client)
    ctx.log(f"timed phase: ${plain.attempted} operations in ${plain.wallS}%.1f s")
    if (!ctx.trace) (plain, None)
    else {
      Trace.on = true
      val traced = closedLoop(ctx, clients, ctx.seconds)(client)
      Trace.on = false
      (plain, Some(traced))
    }
  }

  /** Run `reps` set-ups; each returns its state and its build seconds, and
    * every state but the last is released. Returns the last state with
    * each set-up's wall seconds, build seconds and Spark work.
    */
  def setups[S](ctx: Ctx, reps: Int)(setup: Int => (S, Double))(release: S => Unit)
      : (S, Seq[Double], Seq[Double], Seq[SparkWork]) = {
    Trace.on = ctx.trace
    var last: Option[S] = None
    val walls = mutable.ArrayBuffer.empty[Double]
    val builds = mutable.ArrayBuffer.empty[Double]
    val works = mutable.ArrayBuffer.empty[SparkWork]
    (0 until reps).foreach { r =>
      last.foreach(release)
      val w0 = ctx.sparkSnap()
      val t0 = System.nanoTime()
      val (s, buildS) = setup(r)
      walls += (System.nanoTime() - t0) / 1e9
      builds += buildS
      works += ctx.sparkSnap() - w0
      ctx.log(f"setup ${r + 1}/$reps: ${walls.last}%.2f s (build $buildS%.2f s)")
      last = Some(s)
    }
    Trace.on = false
    (last.get, walls.toSeq, builds.toSeq, works.toSeq)
  }

  /** `f` over `items` on `threads` threads, results in input order. */
  def parallel[A, B](threads: Int, items: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = items.map(a => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
      futures.map(_.get())
    } finally pool.shutdown()
  }

  def timedS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  private def usage(): Nothing = {
    System.err.println(
      "usage: graftbench.Main --workload map_session|ann_serve " +
        "--seed N --seconds S --trace 0|1 --work DIR --out DIR")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv.getOrElse("workload", usage())
    val seed = kv.get("seed").map(_.toLong).getOrElse(usage())
    val seconds = kv.get("seconds").map(_.toInt).getOrElse(usage())
    val trace = kv.get("trace").contains("1")
    val work = Paths.get(kv.getOrElse("work", usage()))
    val out = Paths.get(kv.getOrElse("out", usage()))
    val run: Ctx => Outcome = workload match {
      case "map_session" => MapSession.run
      case "ann_serve" => AnnServe.run
      case other => System.err.println(s"unknown workload $other"); usage()
    }
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(spark, seed, seconds, trace, work, nproc, counters)
    ctx.log(s"session up; $workload seed $seed")
    val o =
      try run(ctx)
      catch {
        case e: Throwable =>
          ctx.log(s"workload aborted: $e")
          e.printStackTrace()
          spark.stop()
          sys.exit(1)
      }
    ctx.log("workload done")
    ctx.failed.foreach(f => ctx.log(s"check failed: $f"))
    val t = o.timed
    val correct = ctx.failed.isEmpty
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        Seq(
          ("setup_s", "s", Stats.median(o.setupS)),
          ("heap_mb", "MiB", o.heapMb),
          ("op_p50_ms", "ms", Stats.median(t.ops)),
          ("op_p90_ms", "ms", Stats.tail(t.ops, 0.9).getOrElse {
            ctx.log(s"only ${t.ops.length} operations: p90 has under ten samples beyond it")
            Stats.quantile(t.ops, 0.9)
          }))
      } else {
        val tt = o.tracedTimed.get
        val medWork = (f: SparkWork => Double) => Stats.median(o.setupWork.map(f))
        Seq(
          ("setup.build_s", "s", Stats.median(o.buildS)),
          ("setup.ready_s", "s", Stats.median(o.setupS.zip(o.buildS).map { case (a, b) => a - b })),
          ("spark.setup.jobs", "count", medWork(_.jobs.toDouble)),
          ("spark.setup.executor_cpu_s", "s", medWork(_.executorCpuS)),
          ("spark.setup.shuffle_bytes", "B", medWork(_.shuffleBytes.toDouble)),
          ("op.engine_ms", "ms", Stats.median(o.engineMs)),
          ("op.outside_ms", "ms", Stats.median(o.outsideMs)),
          ("jvm.gc_s", "s", tt.jvm.gcS),
          ("jvm.cpu_s", "s", tt.jvm.cpuS),
          ("trace.overhead_pct", "%",
            100.0 * (Stats.median(tt.ops) / Stats.median(t.ops) - 1.0)))
      }
    if (trace) {
      // the figures that are not per-layer metrics of the result: each
      // quantity is printed under one name only
      val tt = o.tracedTimed.get
      val medWork = (f: SparkWork => Double) => Stats.median(o.setupWork.map(f))
      ctx.layer("op.rows", Stats.median(o.rows))
      Seq("tasks" -> medWork(_.tasks.toDouble), "spill_bytes" -> medWork(_.spillBytes.toDouble),
        "input_bytes" -> medWork(_.inputBytes.toDouble), "gc_s" -> medWork(_.gcS))
        .foreach { case (k, v) => ctx.layer(s"spark.setup.$k", v) }
      tt.spark.fields("spark.timed").foreach { case (k, v) => ctx.layer(k, v) }
      Trace.selfTimesMs.foreach { case (k, v) => ctx.layer(s"self_ms.$k", v) }
      Files.createDirectories(out)
      val spans = out.resolve(s"$workload-seed$seed-spans.json")
      Trace.write(spans)
      println(Json.obj(Seq("layers" -> Json.obj(ctx.layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
        "spans" -> Json.str(spans.toString))))
    }
    println(Json.obj(Seq(
      "workload" -> Json.str(workload),
      "timed_s" -> Json.num(t.wallS),
      "primary_ops" -> t.ops.length.toString,
      "aux_ops" -> t.aux.length.toString,
      // throughput, CPU per operation and the secondary operation's
      // latency follow the host's load from run to run more than the
      // program (see the README), so they are printed here, unbounded
      "ops_per_s" -> Json.num(t.ops.length / t.opsS),
      "cpu_ms_per_op" -> Json.num(t.jvm.cpuS * 1000.0 / t.attempted),
      "aux_op_p50_ms" -> Json.num(Stats.median(t.aux)),
      "spark_timed_jobs" -> t.spark.jobs.toString,
      "check_failures" -> ctx.failed.length.toString)))
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> t.attempted.toString,
      "failed" -> t.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    spark.stop()
  }
}
