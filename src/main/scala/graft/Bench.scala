package graft
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.json4s._

import graft.BenchSections._

/** Benchmark main: per-query wall seconds at SPARK_GRAFT_SF_DIR, emitted as
  * a bare full-detail JSON line followed by a compact summary as the TRUE
  * last stdout line (`run / outputStrategy := StdoutOutput` keeps sbt from
  * wrapping them in `[info]`; the summary stays small enough for a bounded
  * tail capture to parse). The full JSON is duplicated to a file
  * (SPARK_GRAFT_BENCH_OUT, default `bench_result.json`). Mirrors the
  * reference's measurement discipline (benchmarks/run.ts:38-42): explicit
  * warm-up before timing so per-query numbers measure the operator, not
  * JVM/codegen/file-footer cold start.
  *
  * Everything past the query suite is a [[BenchSections.BenchSection]] in
  * one ordered registry ([[BenchCluster]], [[BenchAnn]] and the session
  * warm-ups below), run through one wrapper, rerun through one mechanism
  * and written by one JSON writer.
  */
object Bench {
  /** JIT sink for measurement loops: a volatile store the optimizer cannot
    * prove dead, so per-row reads in the ladder probes are never eliminated.
    */
  @volatile var blackhole: Long = 0L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Per-query MEDIAN of SPARK_GRAFT_BENCH_REPS runs (default 3; the
    // reference times its query loop as median-of-10, benchmarks/run.ts:38-39)
    // — a single ambient-load spike can no longer rewrite a query's number.
    // Bad config fails here, naming the variable, before any timing.
    val reps = math.max(GraftQuery.envLong("SPARK_GRAFT_BENCH_REPS", 3L).toInt, 1)
    GraftQuery.DesampleMaxRows: Unit
    // provenance: the core count changes every number in the artifact
    // (an artifact must say which it was, or a 4-core run reads as a 2-3x
    // regression of a 32-core one); -1 = non-numeric master spec ('*')
    val cpuCount = scala.util.Try(cpus.toInt).getOrElse(-1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: codegen + shuffle machinery, then every table's footer/scan
    spark.range(1000000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().count()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case NonFatal(_) => () }
    }
    try Tables.events(spark, sfDir).count() catch { case NonFatal(_) => () }

    // CALIBRATION PROBE (VERDICT r8 #1): one CONSTANT plan — fixed input,
    // fixed shape, no file I/O — timed at artifact start and end, so every
    // artifact carries its own environment factor: same code + same probe
    // time → real regression; inflated probe → loaded environment. Median
    // of 5 after 2 warmups; ~0.2 s per call. MID-RUN probes (VERDICT r9 #2,
    // 1 warmup, median of 3) every 15 queries localize a divergence to a
    // SECTION of the suite instead of "somewhere between start and end".
    def calibrationSec(warmups: Int = 2, reps: Int = 5): Double =
      medianSec(warmups, reps) {
        spark.range(4000000).selectExpr("id % 1001 AS k", "id AS v")
          .groupBy("k").agg(sum("v"), count(lit(1)))
          .queryExecution.toRdd.count()
      }
    val calibrationStart = calibrationSec()
    val calibrationProfile = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]

    val only = Only.parse(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => only.query(n) }
    val queryNames = selected.map(_._1)
    // the previous artifact (read before this run overwrites it) arms the
    // divergence half of both reruns
    val baseline =
      try BenchSections.baseline(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sys.env.getOrElse(
          "SPARK_GRAFT_BENCH_BASELINE", "bench_result.json"))), "UTF-8"), cpuCount)
      catch { case NonFatal(_) => Map.empty[String, Double] }

    // One-time builds behind memoized session indexes (VERDICT r8 #2), each
    // timed as its own key so the consumer queries' suite numbers measure
    // the recurring search/dedup/roundtrip cost. They run when a consumer
    // query is selected or the build itself is named.
    def warmUp(name: String, consumers: String*)(build: => Any): BenchSection =
      BenchSection(name, defaultOn = true, r => r.time(s"${name}_sec")(build), warms = consumers)
    import graft.operators.{PipelineOps, Similarity, Spatial}
    val warmUps = runAll(Seq(
      warmUp("ivf_exact_build", "q47", "q76", "q98", "q100", "q107") {
        Similarity.warmIvfExactIndex(spark, sfDir)
      },
      warmUp("pq_exact_build", "q63", "q100")(Similarity.warmPqExactIndex(spark, sfDir)),
      // q107's residual train+encode depends on the IVF build above, which
      // its consumer list already triggers
      warmUp("residual_exact_build", "q107")(Similarity.warmResidualExactIndex(spark, sfDir)),
      // q108's base build + save + appendVectors chain; q109's build +
      // save + deleteVectors chain (their suite numbers then measure the
      // recurring search, not the one-time chain)
      warmUp("append_exact_build", "q108")(Similarity.warmAppendExactIndex(spark, sfDir)),
      warmUp("delete_exact_build", "q109")(Similarity.warmDeleteExactIndex(spark, sfDir)),
      warmUp("incr_merge_build", "q103")(Spatial.warmIncrementalMergeIndex(spark, sfDir)),
      // q80's 4-merge BPE training; q77 keeps re-training per run
      // (training IS its measured work)
      warmUp("bpe_merge_build", "q80")(PipelineOps.warmBpeMerges(spark, sfDir)),
      warmUp("store_merge_build", "q104")(Spatial.warmStoreMergeIndex(spark, sfDir))
    ), only, queryNames)

    // A query run forces FULL-ROW materialization (toRdd), not count():
    // under count() Catalyst prunes unreferenced aggregate expressions and
    // can drop preserved-cardinality outer joins, so expensive columns may
    // never compute (q84's cleaned-text hash benched as a bare scan). Rep 1
    // is kept as the COLD number: queries sharing a session-memoized build
    // pay it in rep 1, so the median measures the steady state while
    // `queries_cold` stays comparable with earlier rounds. A failed rep
    // flags the query (a breakage must not pose as a fast run) and drops
    // out of the median when any rep succeeded.
    // The desample-guard ledger records any query whose EXECUTED row count
    // breaks the driver-bounded invariant of the single-partition final
    // sort (PlanBridge scaladoc), so it fails loudly in the artifact.
    val desampleOverflow = scala.collection.mutable.LinkedHashSet.empty[String]
    val desampled = SparkEntry.desampled
    def measureQuery(name: String, fn: (SparkSession, String) => DataFrame): (Outcome, Double) = {
      val runs = (1 to reps).map { _ =>
        val (ok, sec) = timed {
          try {
            val rows = fn(spark, sfDir).queryExecution.toRdd.count()
            GraftQuery.desampleOverflow(name, rows, desampled(name)).foreach { msg =>
              if (desampleOverflow.add(name)) System.err.println(s"[bench] DESAMPLE OVERFLOW $msg")
            }
            true
          } catch { case NonFatal(_) => false }
        }
        // free this rep's per-invocation checkpoint scratch (r16 advice),
        // after the timing capture
        ScratchFrames.release()
        (sec, ok)
      }
      val good = runs.filter(_._2).map(_._1)
      val med = median(if (good.nonEmpty) good else runs.map(_._1))
      (Outcome(name, Seq(BenchValue(Some("queries"), name, med, Tag.Timing)),
        failed = good.size < runs.size), runs.head._1)
    }
    val queryRuns = selected.zipWithIndex.map { case ((name, fn), qi) =>
      val run = measureQuery(name, fn)
      if ((qi + 1) % 15 == 0 && qi + 1 < selected.size)
        calibrationProfile += ((qi + 1, calibrationSec(warmups = 1, reps = 3)))
      run
    }

    // SELF-ADJUDICATING RERUN (VERDICT r10 #1): ambient load bursts between
    // the calibration probes inflated whole stretches of full-suite runs, and
    // queries had to be re-run by hand. So the suite re-runs its own
    // suspects right after the query loop: the 8 slowest, plus any query
    // >3x its baseline value. A clean run shows rerun ≈ first pass; a
    // contaminated one self-documents. Full suites only: a focused ONLY
    // run IS the adjudication tool already.
    val queryRerun =
      if (only.names.nonEmpty) Nil
      else rerun(queryRuns.map { case (first, _) =>
        Rung(first, Some(() => measureQuery(first.name, SparkEntry.queries(first.name))._1))
      }, baseline, slowest = 8, maxRungs = 16)

    val cluster = new BenchCluster(spark, sfDir)
    val ann = new BenchAnn(spark, sfDir)
    // Fused BPE token-count kernel vs the declarative HOF chain (r10):
    // q80's corpus-sized tokenization map, same words and merge table,
    // every per-word count forced (toRdd). The gap is the interpreted
    // per-CHARACTER transform lambda plus the chained full-width replace
    // intermediates the kernel fuses away. One warmup, median of 3.
    val bpeKernel = section("bpe_kernel", defaultOn = true) { r =>
      val docs = Tables.documents(spark, sfDir)
      val merges = PipelineOps.bpeMergeTable(docs, iters = 4)
        .orderBy("merge_rank").collect()
        .map(row => (row.getString(1), row.getString(2))).toSeq
      val words = docs
        .select(org.apache.spark.sql.functions.explode(
          graft.functions.TextFunctions.tokens(col("text"))).as("w"))
        .persist()
      r.evidence("bpe_encode_words", words.count().toDouble)
      def pass(kernel: Boolean): Double = medianSec(1, 3) {
        words.select(PipelineOps.bpeTokenCount(col("w"), merges, exprKernel = kernel).as("n"))
          .queryExecution.toRdd.count()
      }
      r.timing("bpe_encode_kernel_sec", pass(kernel = true))
      r.timing("bpe_encode_declarative_sec", pass(kernel = false))
      words.unpersist()
    }
    // The registry, in run order. Default-on sections run in every
    // unfocused run; the rest are OPT-IN (minutes-scale fixtures whose
    // committed focused artifacts carry their numbers) and run only when
    // SPARK_GRAFT_BENCH_ONLY names them.
    val registry: Seq[BenchSection] =
      cluster.masks ++ Seq(cluster.wire, cluster.wireMatched, cluster.ladder200k, cluster.ranks,
        cluster.ladder1m, cluster.ladder4m, cluster.exact10m) ++ cluster.grid ++
        cluster.incremental ++ cluster.storeMerge ++ cluster.storeLadder ++
        Seq(cluster.chain, cluster.chainDeep, ann.ivfFast, ann.pqFast, ann.sweep, ann.ivfPqFast,
          bpeKernel, ann.ann1m, ann.ann4m, ann.ann10m, ann.ann10mCal) ++ ann.append ++
        Seq(ann.drift, ann.mapped10m, ann.mapped300m) ++ ann.delete ++
        Seq(cluster.storeRemove) ++ ann.hard ++ Seq(ann.serve100k, cluster.memory)
    val sections = runAll(registry, only, queryNames)

    // SECTION self-adjudication (VERDICT r11 #3, r12 #3): any timing over
    // 3x its baseline value re-runs through its rung's replay, in focused
    // runs too (point SPARK_GRAFT_BENCH_BASELINE at the committed focused
    // artifact to arm it there). Budget: at most 2 distinct rung replays.
    val sectionRerun = rerun(sections, baseline, slowest = 0, maxRungs = 2)
    val calibrationEnd = calibrationSec()

    val total = queryRuns.map(_._1.values.head.value).sum
    val errors = JArray((queryRuns.map(_._1) ++ (warmUps ++ sections).map(_.first))
      .filter(_.failed).map(o => JString(o.name)).toList)
    // box identity (r16 advice): per-box wall-clock differs ~1.6x between
    // boxes with identical code — cross-commit totals compare same-box only
    val host =
      try java.net.InetAddress.getLocalHost.getHostName catch { case NonFatal(_) => "unknown" }
    val memGb =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        .getTotalMemorySize / (1024.0 * 1024 * 1024)
      catch { case NonFatal(_) => -1.0 }
    val box = JObject("host" -> JString(host),
      "avail_procs" -> JInt(Runtime.getRuntime.availableProcessors()), "mem_gb" -> JDouble(memGb))
    def top(fields: (String, JValue)*): Seq[(List[String], JValue)] =
      fields.map { case (k, v) => List(k) -> v }
    val json = render(
      top("metric" -> JString("total"), "value" -> JDouble(total), "unit" -> JString("sec"),
        "reps" -> JInt(reps), "cpus" -> JInt(cpuCount), "box" -> box,
        "desample_overflow" -> JArray(desampleOverflow.toList.map(JString(_))),
        "queries" -> JObject(queryRuns.map { case (o, _) => o.name -> o.values.head.json }.toList),
        "queries_cold" -> JObject(queryRuns.map { case (o, cold) => o.name -> JDouble(cold) }.toList),
        "total_cold" -> JDouble(queryRuns.map(_._2).sum),
        // always present, even when no mask rung ran
        "filter_mask_load" -> JObject(), "errors" -> errors) ++
        (warmUps ++ sections).flatMap(_.first.values.map(v => v.path -> v.json)) ++
        top("calibration" -> JObject("start_sec" -> JDouble(calibrationStart),
          "end_sec" -> JDouble(calibrationEnd),
          "profile" -> JArray(calibrationProfile.toList.map { case (after, sec) =>
            JObject("after_query" -> JInt(after), "sec" -> JDouble(sec))
          }))) ++
        rerunFields(queryRerun, sectionRerun, coldQueries = reps == 1) ++
        top("sf" -> JString(sfDir)))

    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath), json.getBytes("UTF-8"))
    catch { case NonFatal(_) => () }
    spark.stop()
    // bare last lines — after spark.stop() so no shutdown logs can follow.
    // The full JSON prints first (and is duplicated to outPath); the TRUE
    // final line is a compact summary small enough to survive a bounded
    // tail capture, so a last-line JSON parse always succeeds.
    println(json)
    val ladderAvg = sections.flatMap(_.first.values).find(_.key == "query_avg_ms")
    println(render(top("metric" -> JString("total"), "value" -> JDouble(total),
      "unit" -> JString("sec"), "n_queries" -> JInt(queryRuns.size), "cpus" -> JInt(cpuCount),
      "errors" -> errors) ++
      ladderAvg.map(v => List(v.key) -> v.json) ++
      top("sf" -> JString(sfDir), "detail" -> JString(outPath))))
  }
}
