package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** A probe-depth calibration, persistable WITH the index it was measured
  * on ([[AnnIvf.saveCalibration]] / [[AnnIvfPq.saveCalibration]]).
  *
  * At 10M vectors the calibration scan costs ~6× the search it tunes
  * (bench_ann_10m: 97.8 s vs 15.8 s), yet its result — the smallest
  * probe depth reaching the recall target — is a property of the INDEX +
  * CORPUS, not of the process that computed it. Persisting it turns
  * "calibrate per serving process" into "calibrate once at build, serve
  * anywhere", the same build-once shape as the index files themselves.
  *
  * @param targetRecall   the recall target the calibration was run for —
  *                       a loaded calibration satisfies any request with
  *                       target ≤ this
  * @param nprobe         chosen probe depth
  * @param refine         exact-rerank shortlist factor the calibrating
  *                       searcher uses (0 where not applicable — plain IVF)
  * @param measuredRecall sample point-estimate of probe-depth recall at
  *                       `nprobe` (the fraction of brute-force-true
  *                       neighbor pairs whose list lands within the first
  *                       `nprobe` probes — the quantity [[AnnIvf
  *                       .autoNprobe]] thresholds, NOT end-to-end recall)
  * @param corpusSize     index rows at calibration time (provenance)
  * @param epoch          the index save's epoch the calibration belongs
  *                       to — a re-saved (rebuilt) index invalidates it
  * @param topK           the recall@topK the calibration measured — a
  *                       calibration tuned for recall@3 says nothing about
  *                       recall@10, so reuse is gated on `topK >= requested`
  *                       (r11 advice: the silent under-recall reuse gap)
  * @param metTarget      whether the measured sample recall actually
  *                       reached `targetRecall` — [[AnnIvfPq
  *                       .calibrateEndToEnd]] stops at maxRefine and
  *                       reports honestly, so a capped calibration carries
  *                       `false` here and [[AnnIvfPq.searchAuto]] will NOT
  *                       serve it as if it vouched for the target
  */
final case class AnnCalibration(
    targetRecall: Double, nprobe: Int, refine: Int,
    measuredRecall: Double, corpusSize: Long, epoch: String,
    topK: Int = 3, metTarget: Boolean = true) {
  /** True when this calibration can vouch for a (targetRecall, topK)
    * request: it was measured at an equal-or-harder target AND an
    * equal-or-deeper topK AND actually reached its own target.
    */
  def covers(requestedRecall: Double, requestedTopK: Int): Boolean =
    targetRecall >= requestedRecall && topK >= requestedTopK && metTarget
}

/** IVF (inverted-file) approximate nearest neighbour — the index-structure
  * scale path for embedding search (complements the LSH sign-sketch in
  * [[Similarity]]).
  *
  * Build: `k` coarse centroids — deterministic seeds (every (n/k)-th vector
  * by id) refined with `iters` Lloyd steps, each ONE groupBy over
  * (assignment, dim) — then every vector is assigned to its nearest
  * centroid (broadcast of k·dim floats, argmin via the fast native dot).
  * Query: probe the `nprobe` nearest centroid lists only and rescore
  * exactly there — at 100 TB the scan shrinks k/nprobe-fold and the
  * centroid table stays broadcast-sized.
  *
  * Distances use IEEE-double cosine (the fast kernel): assignment and
  * probe selection are index-build concerns with no oracle; the final
  * rescore reuses the decimal-exact oracle-checked cosine.
  */
object AnnIvf {

  /** (vector table with `_centroid` column, centroid table).
    *
    * @param exactScores score assignment/probes with the decimal-exact
    *                    rounded cosine instead of the fast double kernel —
    *                    bit-reproducible across engines (the q47 oracle
    *                    mode); same plan shapes, ~dim× more scalar work
    */
  def buildIndex(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      k: Int = 16,
      iters: Int = 2,
      exactScores: Boolean = false): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    val n = emb.count()
    val stride = math.max(n / k, 1L)

    // deterministic seed centroids: every stride-th vector by id
    var centroids = emb
      .where(col(idCol) % stride === 0 && col(idCol) / stride < k)
      .select((col(idCol) / stride).cast("int").as("_c"),
        col(vecCol).cast("array<double>").as("_cv"))

    // embedding dimensionality (fixed per table) — lets the Lloyd step
    // aggregate per-dimension sums as `dim` scalar aggregates over the
    // ORIGINAL rows instead of a posexplode (which shuffles dim× rows and
    // needs a second groupBy to reassemble the array)
    val dim = emb.select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)

    var it = 0
    while (it < iters && dim > 0) {
      val assigned = assign(emb, centroids, idCol, vecCol, exactScores)
      // Lloyd step: ONE hash-shuffle of k×(dim+1) partial aggregates.
      // Per-dimension sums accumulate in DECIMAL: exact, therefore
      // independent of partition/merge order — the means (and every
      // downstream assignment) are bit-reproducible run to run, where a
      // double sum would wobble by ULPs with the shuffle schedule.
      val sums = (1 to dim).map(i =>
        sum(element_at(col(vecCol), i).cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(30, 15))).as(s"_s$i"))
      val aggs = count(lit(1)).as("_n") +: sums
      centroids = assigned
        .groupBy(col("_centroid").as("_c"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("_c"),
          array((1 to dim).map(i => col(s"_s$i").cast("double") / col("_n")): _*).as("_cv"))
      it += 1
    }
    (assign(emb, centroids, idCol, vecCol, exactScores), centroids)
  }

  /** Persist a built IVF index (assignments + centroids) to `path`,
    * reloadable by [[loadIndex]] with [[search]]/[[searchAuto]] working
    * unchanged — same save/load deployment shape as the spatial index
    * (ClusterEngine.save/loadIndex): at 100 TB the Lloyd build is the
    * expensive step (it already dominates q47 at sf0.1), so build once,
    * serve anywhere. Both sides are plain parquet — the assignment table
    * scans with pruning/pushdown like any other (a probe reads only the
    * probed `_centroid` lists via predicate pushdown on the reload), and
    * doubles roundtrip bit-exactly, so a reloaded index returns IDENTICAL
    * top-k to the in-session build (the q98 oracle proves it end-to-end).
    */
  def saveIndex(
      indexed: DataFrame,
      centroids: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    indexed.select(col(idCol), col(vecCol), col("_centroid"))
      .write.mode("overwrite").parquet(s"$path/assignments")
    centroids.select(col("_c"), col("_cv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // fresh epoch per save: a stale calibration dir left over from a
    // previous save of a DIFFERENT index at the same path can no longer
    // be served against the new one (loadCalibration compares epochs)
    AnnCalStore.writeEpoch(indexed.sparkSession, path)
  }

  /** Persist a [[calibrate]] result NEXT TO a [[saveIndex]]'d index,
    * stamped with that save's epoch — [[loadCalibration]] +
    * [[searchAuto]]'s `calibration` parameter then serve at the
    * calibrated depth with ZERO calibration jobs (the r10 verdict's
    * calibrate-once/serve-many gap: at 10M the per-process calibration
    * scan costs ~6× the search it tunes). Returns the stamped copy.
    */
  def saveCalibration(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cal: AnnCalibration): AnnCalibration =
    AnnCalStore.save(spark, path, cal)

  /** The calibration persisted with the index at `path`, or None when
    * absent or stamped by a different index save (epoch mismatch).
    */
  def loadCalibration(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[AnnCalibration] =
    AnnCalStore.load(spark, path)

  /** Reload an index persisted by [[saveIndex]]: (assignments, centroids),
    * directly usable by [[search]]/[[searchAuto]]/[[autoNprobe]]. No
    * rebuild, no Lloyd pass — the deployment read path.
    */
  def loadIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/assignments"),
      spark.read.parquet(s"$path/centroids"))

  /** Assign vectors to an EXISTING (frozen) centroid table — the
    * incremental-maintenance entry point ([[AnnIvfPq.appendVectors]]
    * assigns its batch through here, and q108's rebuild-equivalence
    * oracle replays it): the same pure-map argmax kernel
    * [[buildIndex]]'s final pass runs, so frozen-assigning a union is
    * row-for-row the union of frozen assignments.
    */
  def assignFrozen(
      emb: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      exactScores: Boolean = false): DataFrame =
    assign(emb, centroids, idCol, vecCol, exactScores)

  /** Nearest-centroid assignment as a PURE MAP: the k centroids are tiny,
    * so they ship as literal arrays inside the projection — k fused native
    * dots per row, argmax via array_position, no join, no window, no
    * shuffle. At 100 TB this is a single scan; the windowed-join
    * formulation would shuffle the whole corpus per Lloyd step.
    * Ties pick the smallest centroid id (first max occurrence).
    */
  private[operators] def assign(
      emb: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      exactScores: Boolean = false): DataFrame = {
    val cents = centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    // Exact mode scores with the decimal cosine, but evaluating it for all
    // k centroids is ~dim× the whole build cost. The fast double kernel is
    // within ~1e-14 of the decimal value, so any centroid more than 1e-6
    // below the double maximum can never be the decimal argmax — gate the
    // decimal evaluation behind that prefilter and each row pays k fast
    // dots plus decimal dots only for the (almost always 1) finalist(s).
    // The selected winner is IDENTICAL to full decimal argmax.
    val sims =
      if (!exactScores)
        array(cents.toIndexedSeq.map { case (_, v) =>
          approxCosine(col(vecCol), typedLit(v))
        }: _*)
      else
        array(cents.toIndexedSeq.zipWithIndex.map { case ((_, v), j) =>
          when(element_at(col("_apx"), j + 1) >= col("_apxmax") - 1e-6,
            scoreCosine(col(vecCol), typedLit(v), exact = true))
            .otherwise(lit(-2.0))
        }: _*)
    val withApx =
      if (!exactScores) emb
      else emb.withColumn("_apx", array(cents.toIndexedSeq.map { case (_, v) =>
        approxCosine(col(vecCol), typedLit(v))
      }: _*)).withColumn("_apxmax", array_max(col("_apx")))
    // translate array position → centroid id (a centroid that loses all
    // members drops out, so position and id can diverge)
    val idArr = typedLit(cents.map(_._1).toSeq)
    withApx
      .withColumn("_sims", sims)
      .withColumn("_centroid",
        element_at(idArr, array_position(col("_sims"), array_max(col("_sims"))).cast("int")))
      .drop("_sims", "_apx", "_apxmax")
  }

  /** NaN-guarded: a zero-norm vector yields 0/0 = NaN for every centroid,
    * which would make `array_position(_, array_max(_))` return 0 and
    * `element_at(_, 0)` throw under ANSI mode — map it to -2.0 (below any
    * real cosine) so argmax always lands on a valid position.
    */
  private def approxCosine(a: Column, b: Column): Column =
    nanvl(VectorFunctions.dotApprox(a, b) /
      (sqrt(VectorFunctions.dotApprox(a, a)) * sqrt(VectorFunctions.dotApprox(b, b))),
      lit(-2.0))

  /** The fast double kernel, or (exact mode) the decimal-exact cosine
    * rounded to 12 decimals — the same scalar the q28/q30 oracles already
    * prove bit-identical to DuckDB, making the whole IVF build + probe
    * chain cross-engine reproducible. Both share the NaN→-2.0 guard.
    */
  private[operators] def scoreCosine(a: Column, b: Column, exact: Boolean): Column =
    if (exact) nanvl(VectorFunctions.cosine(a, b), lit(-2.0))
    else approxCosine(a, b)

  /** Top-`topK` neighbours for each query vector, probing `nprobe`
    * centroid lists; exact decimal-cosine rescore within the probed lists.
    *
    * RECALL ENVELOPE (r7 sweep, BENCH.md): IVF's recall/cost trade is a
    * property of how clustered the corpus is, and the sf0.1 synthetic
    * fixture is near-uniform — adversarial for ANY space-partitioning
    * index. Measured recall@3 there: nprobe 4/8/12/16 of k=16 lists →
    * 0.63 / 0.75 / 0.97 / 1.0; and RAISING k makes it worse at equal
    * probe counts (k=32: 0.85@np8; k=64: 0.57@np8) because finer
    * partitions split true neighborhoods more often — the signature of a
    * corpus with no cluster structure, where ≥0.9 recall inherently
    * costs a ≥50% scan. The bench `ann_ivf_np*` keys publish the measured
    * curve so a caller can place their corpus on it. Since r8 the
    * RECOMMENDED default path is [[searchAuto]] / [[autoNprobe]], which
    * calibrates the probe count against a measured recall target on the
    * index itself (AnnIvfSpec: picks 11 on the sf0.01 testdata embeddings
    * where fixed nprobe=4 under-recalls, and the searched recall clears
    * 0.9 on both spec corpora); the fixed `nprobe` parameter remains for
    * callers who have placed their corpus on the curve themselves.
    */
  def search(
      queries: DataFrame,
      indexed: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nprobe: Int = 4,
      topK: Int = 3,
      exactScores: Boolean = false): DataFrame = {
    // per query: the nprobe nearest centroids
    val pw = Window.partitionBy(col("query_id")).orderBy(desc("_sim"), col("_c"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .join(broadcast(centroids))
      .withColumn("_sim", scoreCosine(col("_qv"), col("_cv"), exactScores))
      .withColumn("_rk", row_number().over(pw))
      .where(col("_rk") <= nprobe)
      .select(col("query_id"), col("_qv"), col("_c").as("_centroid"))

    // scan only the probed lists; exact rescore. Norm² is hoisted to ONE
    // decimal dot per probe row and per index row — projected BELOW the
    // join, so each side's norm evaluates once per input row instead of
    // once per candidate PAIR (the oracle SQL precomputes its norms the
    // same way; the passed-in values are the identical decimal results,
    // so scores are unchanged). At nprobe/k of the corpus per query this
    // deletes ~2/3 of the rescore's decimal work.
    val withNorm = (c: Column) => VectorFunctions.normSqExact(c).cast("double")
    val cands = probes.withColumn("_qnsq", withNorm(col("_qv")))
      .join(
        indexed.select(col(idCol).as("neighbor_id"), col(vecCol).as("_nv"), col("_centroid"))
          .withColumn("_nnsq", withNorm(col("_nv"))),
        Seq("_centroid"))
      .where(col("query_id") =!= col("neighbor_id"))
      // same NaN→-2.0 guard as assignment/probes: a zero-norm vector would
      // otherwise yield NaN, which Spark sorts FIRST under desc() while the
      // oracle's NULL sorts last — guarding both sides keeps the rescore
      // rank (and the output value) engine-independent
      .select(col("query_id"), col("neighbor_id"),
        nanvl(VectorFunctions.cosineFromNormSq(
          col("_qv"), col("_nv"), col("_qnsq"), col("_nnsq")),
          lit(-2.0)).as("cos_sim"))
    val rw = Window.partitionBy(col("query_id")).orderBy(desc("cos_sim"), col("neighbor_id"))
    cands.withColumn("rk", row_number().over(rw).cast("long"))
      .where(col("rk") <= topK)
  }

  /** Calibrated probe count: the smallest `nprobe` whose estimated
    * recall@`topK` on THIS index reaches `targetRecall` (falls back to `k`
    * — a full scan, recall 1.0 by construction — when no smaller probe
    * count suffices, so the default path can never silently under-recall
    * the way a fixed nprobe does on an unclustered corpus; r7 measured
    * recall@3 0.63 at the old fixed nprobe=4 on the near-uniform sf0.1
    * fixture).
    *
    * Method: exact brute-force top-`topK` for a deterministic
    * `sampleSize`-query sample (ONE corpus scan — a bounded broadcast of
    * the sample against the index, the q88 hard-negative shape, affordable
    * as a build-time calibration even at scale). For each (query, true
    * neighbor) pair, the rank of the neighbor's assigned centroid in the
    * query's centroid ordering — identical ordering to [[search]]'s probe
    * selection — is the nprobe that pair needs; recall(p) is then the
    * fraction of pairs with rank ≤ p, and the answer is the smallest p
    * clearing the target. The per-pair ranks are `sampleSize·topK` rows;
    * the fold runs on the driver.
    */
  def autoNprobe(
      indexed: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      targetRecall: Double = 0.9,
      sampleSize: Int = 32,
      topK: Int = 3,
      l2Truth: Boolean = false): Int =
    calibrateCore(indexed, centroids, idCol, vecCol,
      targetRecall, sampleSize, topK, l2Truth)._1

  /** [[autoNprobe]] plus its evidence as a persistable [[AnnCalibration]]
    * (epoch empty until [[saveCalibration]] stamps it against a saved
    * index). `refine` is recorded verbatim — 0 for plain IVF (no
    * shortlist), [[AnnIvfPq.searchAuto]]'s value for the composed path.
    * Pays one extra `count()` over the index (provenance) on top of
    * [[autoNprobe]]'s sample scan.
    */
  def calibrate(
      indexed: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      targetRecall: Double = 0.9,
      sampleSize: Int = 32,
      topK: Int = 3,
      l2Truth: Boolean = false,
      refine: Int = 0): AnnCalibration = {
    val (np, measured) = calibrateCore(indexed, centroids, idCol, vecCol,
      targetRecall, sampleSize, topK, l2Truth)
    AnnCalibration(targetRecall, np, refine, measured, indexed.count(), "",
      topK = topK, metTarget = measured >= targetRecall)
  }

  /** (chosen nprobe, measured sample recall at that depth). */
  private def calibrateCore(
      indexed: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      targetRecall: Double,
      sampleSize: Int,
      topK: Int,
      l2Truth: Boolean): (Int, Double) = {
    val (np, measured, _) = calibrateCoreWithTruth(
      indexed, centroids, idCol, vecCol, targetRecall, sampleSize, topK, l2Truth)
    (np, measured)
  }

  /** [[calibrateCore]] plus the exact-truth pairs it computed anyway —
    * (query_id, true neighbor_id) for the deterministic sample. Lets a
    * composed calibration ([[AnnIvfPq.calibrateEndToEnd]]) tune its
    * OTHER knob (the refine shortlist) against end-to-end sample recall
    * without a second brute-force corpus scan.
    */
  private[operators] def calibrateCoreWithTruth(
      indexed: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      targetRecall: Double,
      sampleSize: Int,
      topK: Int,
      l2Truth: Boolean): (Int, Double, Array[(Long, Long)]) = {
    val cents = centroids
      .select(col("_c").cast("int"), col("_cv").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val k = cents.length
    if (k <= 1) return (math.max(k, 1), 1.0, Array.empty)

    // deterministic sample: the sampleSize smallest ids. Casts pin the
    // row layout the driver-side fold reads (getLong/getInt/getSeq[Double])
    // — search/buildIndex accept any numeric idCol type, so an int id (or
    // an int centroid column from a hand-built index) must not surface as
    // a ClassCastException out of the default searchAuto path.
    val sample = indexed
      .select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("_qv"))
      .orderBy(col("query_id")).limit(sampleSize)

    // exact top-topK of each sampled query, carrying the true neighbor's
    // assigned centroid — one scan of the indexed corpus.
    // `l2Truth` flips the truth metric to squared L2 (what the PQ rescore
    // ranks by — AnnIvfPq calibrates against the neighbors ITS search must
    // reach), while probe ranks below stay cosine — the ordering search's
    // probe selection actually uses, in both compositions.
    // Cosine mode: norm² hoisted below the join on both sides (same
    // values, ~3× less decimal work per pair — the [[search]] rescore
    // discipline)
    val withNorm = (c: Column) => VectorFunctions.normSqExact(c).cast("double")
    val rw =
      if (l2Truth)
        Window.partitionBy(col("query_id")).orderBy(col("_score"), col("neighbor_id"))
      else
        Window.partitionBy(col("query_id")).orderBy(desc("_score"), col("neighbor_id"))
    val scored =
      if (l2Truth)
        broadcast(sample)
          .join(indexed.select(col(idCol).as("neighbor_id"),
            col(vecCol).cast("array<double>").as("_nv"),
            col("_centroid").as("_nc")))
          .where(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("_qv"), col("neighbor_id"),
            col("_nc").cast("int").as("_nc"),
            AnnPq.sqDist(col("_qv"), col("_nv")).as("_score"))
      else
        broadcast(sample.withColumn("_qnsq", withNorm(col("_qv"))))
          .join(indexed.select(col(idCol).as("neighbor_id"), col(vecCol).as("_nv"),
            col("_centroid").as("_nc"))
            .withColumn("_nnsq", withNorm(col("_nv"))))
          .where(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("_qv"), col("neighbor_id"),
            col("_nc").cast("int").as("_nc"),
            nanvl(VectorFunctions.cosineFromNormSq(
              col("_qv"), col("_nv"), col("_qnsq"), col("_nnsq")),
              lit(-2.0)).as("_score"))
    val truth = scored
      .withColumn("_rk", row_number().over(rw))
      .where(col("_rk") <= topK)
      .select(col("query_id"), col("_qv"), col("_nc"),
        col("neighbor_id").cast("long").as("neighbor_id"))
      .collect()
    if (truth.isEmpty) return (k, 1.0, Array.empty)
    val truthPairs = truth.map(r => (r.getLong(0), r.getLong(3)))

    // per query: centroid ids ordered exactly like search's probe
    // selection (desc similarity, then centroid id)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var ab = 0.0; var aa = 0.0; var bb = 0.0
      while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
      val d = math.sqrt(aa) * math.sqrt(bb)
      if (d == 0.0 || ab.isNaN) -2.0 else ab / d
    }
    val rankCache = scala.collection.mutable.HashMap.empty[Long, Map[Int, Int]]
    val needed = truth.map { r =>
      val qid = r.getLong(0)
      val ranks = rankCache.getOrElseUpdate(qid, {
        val qv = r.getSeq[Double](1).toArray
        cents.map { case (cid, cv) => (cid, cos(qv, cv)) }
          .sortBy { case (cid, s) => (-s, cid) }
          .zipWithIndex.map { case ((cid, _), i) => cid -> (i + 1) }.toMap
      })
      ranks.getOrElse(r.getInt(2), k)
    }
    val total = needed.length.toDouble
    // One-sided margin: the sample recall is an unbiased ESTIMATE, so
    // picking the smallest p whose point estimate grazes the target lands
    // the true recall under it about half the time (measured: 0.85 on the
    // sf0.1 fixture at target 0.9). Require the estimate to clear the
    // target by one standard error of a Bernoulli(target) mean over the
    // sample pairs — a couple extra probed lists at calibration-noise
    // scale, in exchange for "calibrated default can't silently
    // under-recall" holding with ~84% rather than ~50% confidence.
    // target = 1.0 keeps margin 0 (full-scan fallback unchanged).
    val margin = math.sqrt(targetRecall * (1.0 - targetRecall) / total)
    val goal = math.min(1.0, targetRecall + margin)
    val chosen = (1 to k).find(p => needed.count(_ <= p) / total >= goal).getOrElse(k)
    (chosen, needed.count(_ <= chosen) / total, truthPairs)
  }

  /** [[search]] with the probe count chosen by [[autoNprobe]] — the
    * default path a caller should use when they have not placed their
    * corpus on the committed recall/cost curve themselves.
    *
    * @param calibration a persisted [[loadCalibration]] result: reused
    *   (zero calibration jobs) when it [[AnnCalibration.covers]] the
    *   request — its own target ≥ the requested one, its measured topK ≥
    *   the requested topK, and it actually met its target; otherwise the
    *   sample calibration runs as if absent
    */
  def searchAuto(
      queries: DataFrame,
      indexed: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      targetRecall: Double = 0.9,
      topK: Int = 3,
      exactScores: Boolean = false,
      calibration: Option[AnnCalibration] = None): DataFrame = {
    val np = calibration.filter(_.covers(targetRecall, topK)).map(_.nprobe)
      .getOrElse(autoNprobe(indexed, centroids, idCol, vecCol, targetRecall, topK = topK))
    search(queries, indexed, centroids, idCol, vecCol,
      nprobe = np, topK = topK, exactScores = exactScores)
  }
}

/** Parquet persistence for [[AnnCalibration]] + the index-save epoch it
  * binds to. Both sides are single-row coalesced parquet — broadcast-
  * sized metadata next to the index files, the same deployment story.
  * Each write ends with the serve commit ([[AnnIvfPq.commitServe]]).
  */
private[operators] object AnnCalStore {
  private def commit(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    AnnIvfPq.commitServe(org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration), path)

  def writeEpoch(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    import spark.implicits._
    val epoch = java.util.UUID.randomUUID().toString
    Seq(epoch).toDF("epoch")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/epoch")
    commit(spark, path)
    epoch
  }

  def readEpoch(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[String] =
    scala.util.Try(
      spark.read.parquet(s"$path/epoch").collect()(0).getString(0)).toOption

  def save(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cal: AnnCalibration): AnnCalibration = {
    import spark.implicits._
    val epoch = readEpoch(spark, path).getOrElse(
      throw new IllegalStateException(
        s"no index epoch at $path — saveIndex before saveCalibration"))
    val stamped = cal.copy(epoch = epoch)
    Seq(stamped).toDF()
      .coalesce(1).write.mode("overwrite").parquet(s"$path/calibration")
    commit(spark, path)
    stamped
  }

  def load(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[AnnCalibration] =
    for {
      epoch <- readEpoch(spark, path)
      cal <- scala.util.Try {
        val r = spark.read.parquet(s"$path/calibration").collect()(0)
        // pre-r12 artifacts lack topK/metTarget: every earlier producer
        // calibrated at topK=3, and metTarget falls back to the measured-
        // vs-target comparison (probe-only calibrations always met it)
        val topK = scala.util.Try(r.getAs[Int]("topK")).getOrElse(3)
        val met = scala.util.Try(r.getAs[Boolean]("metTarget")).getOrElse(
          r.getAs[Double]("measuredRecall") >= r.getAs[Double]("targetRecall"))
        AnnCalibration(r.getAs[Double]("targetRecall"), r.getAs[Int]("nprobe"),
          r.getAs[Int]("refine"), r.getAs[Double]("measuredRecall"),
          r.getAs[Long]("corpusSize"), r.getAs[String]("epoch"),
          topK = topK, metTarget = met)
      }.toOption
      if cal.epoch == epoch
    } yield cal
}
