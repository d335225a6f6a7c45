package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** What one [[AnnIvfPq.appendVectors]] did, plus its quantization-drift
  * evidence: the FROZEN codebooks were trained on the base corpus, so a
  * distribution-shifted batch quantizes worse — the ratio is the signal
  * a pipeline alarms on ("time to retrain") long before recall visibly
  * sags.
  *
  * @param appended      batch rows folded in
  * @param batchQuantMse mean squared ADC reconstruction error of the
  *   batch under the frozen codebooks (residual-space in residual mode)
  * @param baseQuantMse  the same metric over a deterministic base-corpus
  *   sample (read back from the vecstore sidecar) — the train-time
  *   baseline; NaN when the index has no sidecar
  * @param driftRatio    batchQuantMse / baseQuantMse (NaN when the
  *   baseline is unavailable); ~1 = same distribution, >> 1 = drift
  */
final case class AnnAppendStats(
    appended: Long,
    batchQuantMse: Double,
    baseQuantMse: Double,
    driftRatio: Double)

/** IVF+PQ — the composed top rung of the ANN ladder (brute-force → LSH →
  * IVF lists → PQ codes → IVF lists OF PQ codes), and the structure
  * billion-scale ANN systems actually deploy: IVF alone prunes the scan
  * k/nprobe-fold but stores full vectors (memory = n·d floats); PQ alone
  * compresses n·d floats to n·m codes but ADC-scans EVERY code. Composed,
  * a query probes `nprobe` coarse lists and ADC-scans only the codes
  * inside them — both the memory and the compute axis shrink, which is
  * the only shape that holds at 100 TB.
  *
  * Spark shape: the coarse index and the codebooks come verbatim from
  * [[AnnIvf.buildIndex]] / [[AnnPq.train]]+[[AnnPq.encode]] (one join
  * stores codes WITH their list assignment — see [[index]]); search is
  * probe-selection (broadcast of k centroids, same ordering as
  * [[AnnIvf.search]]), a per-query m×k ADC table computed ONCE (the
  * [[AnnPq.search]] discipline), candidates restricted by an equi-join on
  * the probed list ids — never a full-code scan — and the standard exact
  * re-rank of the bounded `topK·refine` shortlist. Every arithmetic step
  * reuses a kernel the q47/q63 oracles already prove cross-engine
  * bit-reproducible, so the whole composition replays in DuckDB.
  */
object AnnIvfPq {

  /** Store PQ codes WITH their IVF list assignment — one equi-join, done
    * once at build time (the deployment layout: a probed list's codes are
    * co-located with the list id, so search never touches the other
    * lists). `indexed` is [[AnnIvf.buildIndex]]'s assignment table,
    * `encoded` is [[AnnPq.encode]]'s code table; both key by `idCol`.
    */
  def index(
      indexed: DataFrame,
      encoded: DataFrame,
      idCol: String = "vec_id"): DataFrame =
    indexed.select(col(idCol), col("_centroid"))
      .join(encoded.select(col(idCol), col("codes")), Seq(idCol))

  /** Each vector's RESIDUAL to its assigned coarse centroid — (idCol,
    * _centroid, _rv): the quantity residual PQ trains on and encodes.
    * One broadcast join of the ≤k-row centroid table; the subtraction is
    * a pure map (`zip_with` double subtraction — IEEE-deterministic and
    * replayable element-for-element by the DuckDB oracle).
    */
  private[operators] def residuals(
      indexed: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    indexed
      .select(col(idCol), col(vecCol).cast("array<double>").as("_v"),
        col("_centroid"))
      .join(broadcast(centroids.select(col("_c").as("_centroid"),
        col("_cv").cast("array<double>").as("_cvd"))), Seq("_centroid"))
      .select(col(idCol), col("_centroid"),
        zip_with(col("_v"), col("_cvd"), (x, y) => x - y).as("_rv"))

  /** Train PQ codebooks on RESIDUALS to the coarse centroids instead of
    * raw vectors — the standard billion-scale IVF-PQ formulation (Jégou
    * et al. 2011, "Product Quantization for Nearest Neighbor Search",
    * §IV; the reference engine has no ANN surface, so the published
    * recipe is the semantics source). WHY: within a probed list every
    * vector shares the list centroid, so the residual field has a
    * fraction of the raw field's variance — the same m·k code bits rank
    * candidates much better. Measured on the 10M hard fixture (r11,
    * bench_ann_10m_hard.json): RAW encoding caps recall@3 at 0.833 with
    * a 200-deep shortlist and the tuner must spend rf=800 + 16.4 s
    * searches to reach 0.967; residuals lift the ADC ceiling instead of
    * paying a 4× shortlist (bench_ann_*_hard_res keys carry the curve).
    *
    * Same deterministic seeding/Lloyd discipline as [[AnnPq.train]]
    * (this delegates to it on the residual frame), so the q107 oracle
    * replays the whole chain bit-exactly in decimal mode.
    */
  def trainResidual(
      indexed: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      m: Int = 8,
      k: Int = 16,
      iters: Int = 2,
      exactMeans: Boolean = true): Array[Array[Array[Double]]] =
    AnnPq.train(residuals(indexed, centroids, idCol, vecCol),
      idCol, "_rv", m, k, iters, exactMeans)

  /** Encode every vector's residual as m codes, co-located with its list
    * assignment — returns the coded table (idCol, _centroid, codes)
    * DIRECTLY (the residual path fuses [[AnnPq.encode]] + [[index]]: the
    * assignment is an input to the residual, so the co-locating join is
    * already paid). `exprKernel = false` keeps the declarative argmin
    * chain as the executable spec (AnnIvfPqSpec proves the kernel
    * bit-identical on residual inputs too).
    */
  def encodeResidual(
      indexed: DataFrame,
      centroids: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      exprKernel: Boolean = true): DataFrame = {
    val res = residuals(indexed, centroids, idCol, vecCol)
    if (exprKernel)
      res.select(col(idCol), col("_centroid"),
        AnnPq.pqCodesCol(col("_rv"), codebooks).as("codes"))
    else
      res.select(col(idCol), col("_centroid"))
        .join(AnnPq.encode(res, codebooks, idCol, "_rv", exprKernel = false)
          .withColumnRenamed("vec_id", idCol), Seq(idCol))
        .select(col(idCol), col("_centroid"), col("codes"))
  }

  /** Persist the composed index — the coded table ([[index]]'s co-located
    * (id, list, codes) layout), the coarse centroids, and the PQ codebooks
    * — as plain parquet, reloadable by [[loadIndex]] with [[search]]
    * working unchanged. The composition makes persistence MORE valuable
    * than for either parent: the build pays the IVF Lloyd pass AND the PQ
    * training AND the co-locating join, while the saved artifact is the
    * n·m code table plus broadcast-sized metadata — the cheapest-to-store,
    * most-expensive-to-rebuild structure in the ANN ladder. Ints and
    * doubles roundtrip bit-exactly, so a reloaded index searches
    * identically (AnnIvfPqSpec proves it).
    */
  def saveIndex(
      coded: DataFrame,
      centroids: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      path: String,
      idCol: String = "vec_id",
      residual: Boolean = false): Unit = {
    import coded.sparkSession.implicits._
    coded.select(col(idCol), col("_centroid"), col("codes"))
      .write.mode("overwrite").parquet(s"$path/coded")
    centroids.select(col("_c"), col("_cv"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    AnnPq.saveCodebooks(coded.sparkSession, codebooks, s"$path/codebooks")
    // encoding variant marker: a reloaded residual index MUST be searched
    // with residual=true (per-list ADC tables) — codes from one encoding
    // read as garbage under the other's table. Written every save so a
    // path reused across variants can't serve a stale marker.
    Seq(residual).toDF("residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/variant")
    // a fresh save is a NEW index: tombstones from a previous save at
    // this path would silently delete rows of the new one
    org.apache.hadoop.fs.FileSystem.get(java.net.URI.create(path),
      coded.sparkSession.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
    // fresh epoch per save — binds any later saveCalibration to THIS
    // index (see AnnIvf.saveIndex); written last, its serve commit
    // publishes the whole save
    AnnCalStore.writeEpoch(coded.sparkSession, path): Unit
  }

  /** Whether the index saved at `path` carries residual codes — the
    * `residual` flag its [[search]]/[[searchAuto]] calls must use.
    * Pre-r12 saves have no marker and were always raw → false. Only a
    * genuinely ABSENT marker defaults to raw: a read/decode failure on an
    * existing marker PROPAGATES (r12 advice) — swallowing it would let a
    * transient FS error silently search a residual index with raw ADC
    * tables, where codes read as garbage under the wrong table.
    */
  def isResidual(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/variant"))) false
    else spark.read.parquet(s"$path/variant").collect()(0).getBoolean(0)
  }

  /** Persist a [[calibrate]] result next to a [[saveIndex]]'d composed
    * index (same epoch-binding contract as [[AnnIvf.saveCalibration]]).
    */
  def saveCalibration(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      cal: AnnCalibration): AnnCalibration =
    AnnCalStore.save(spark, path, cal)

  /** The calibration persisted with the index at `path`, or None when
    * absent or from a different index save (epoch mismatch).
    */
  def loadCalibration(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[AnnCalibration] =
    AnnCalStore.load(spark, path)

  /** Reload an index persisted by [[saveIndex]]:
    * (coded, centroids, codebooks), directly usable by [[search]]. The
    * coded table comes back with TOMBSTONED rows excluded
    * ([[deleteVectors]]) — one broadcast anti-join against the
    * batch-scale tombstone table, skipped entirely when no tombstones
    * exist — so every path-based consumer (distributed search, the heap
    * and codes serving tiers, a pack re-save) serves the surviving
    * corpus without its own bookkeeping.
    */
  def loadIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame, Array[Array[Array[Double]]]) = {
    val codedRaw = spark.read.parquet(s"$path/coded")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
    val coded =
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
        codedRaw
      else {
        val idName = codedRaw.columns.head
        codedRaw.join(
          broadcast(spark.read.parquet(s"$path/tombstones")
            .select(col(idName).as("_tomb_id"))),
          col(idName).cast("long") === col("_tomb_id"), "left_anti")
      }
    (coded,
      spark.read.parquet(s"$path/centroids"),
      AnnPq.loadCodebooks(spark, s"$path/codebooks"))
  }

  /** Tombstone a batch of vector ids (r15 verdict #2 — the other half of
    * live ANN maintenance): a training-data pipeline REMOVES documents
    * constantly (dedup verdicts, takedowns, quality re-scoring), and
    * until now that cost a full rebuild. A delete is O(batch): one
    * parquet append to `<path>/tombstones`, one [[AnnServePack
    * .appendTombstones]] flat file + meta swap when a pack exists.
    * Every serve tier excludes the ids — [[loadIndex]] anti-joins them
    * out for the distributed/heap/codes paths, and the pack's mapped
    * open carries them as the search loop's sorted skip set — so search
    * answers exactly as a rebuild on the surviving corpus under the same
    * frozen structures would (the q109 oracle replays it in DuckDB;
    * structures are per-row-frozen, so dropping rows changes no other
    * row's assignment or codes). [[compactServingArtifacts]] folds
    * tombstones away physically; [[appendVectors]] rejects resurrecting
    * a tombstoned id until then. Ids must EXIST and not already be
    * tombstoned — a delete of an unknown id is a caller bug, surfaced
    * loudly. The calibration stays valid by the frozen-structure
    * argument (probe geometry is unchanged; fewer candidates only ever
    * shrink the shortlist). Returns ids tombstoned.
    */
  def deleteVectors(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      ids: Seq[Long]): Long = {
    require(ids.nonEmpty, "deleteVectors: empty id batch")
    val dedup = ids.distinct.sorted
    import spark.implicits._
    val codedRaw = spark.read.parquet(s"$path/coded")
    val idName = codedRaw.columns.head
    val batchDf = dedup.toDF("_tid")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
    val tombDir = s"$path/tombstones"
    if (fs.exists(new org.apache.hadoop.fs.Path(tombDir))) {
      val doubled = spark.read.parquet(tombDir)
        .join(broadcast(batchDf), col(idName).cast("long") === col("_tid"),
          "left_semi").limit(1).count()
      require(doubled == 0L,
        s"deleteVectors: batch contains already-tombstoned id(s) at $path — " +
          "double deletes are a caller bug")
    }
    val present = codedRaw
      .join(broadcast(batchDf), col(idName).cast("long") === col("_tid"),
        "left_semi")
      .select(col(idName)).distinct().count()
    require(present == dedup.length.toLong,
      s"deleteVectors: only $present of ${dedup.length} batch ids exist in " +
        s"the index at $path — deleting an unknown id is a caller bug")
    batchDf.select(col("_tid").as(idName))
      .coalesce(1).write.mode("append").parquet(tombDir)
    val conf = spark.sparkContext.hadoopConfiguration
    if (AnnServePack.exists(conf, path))
      AnnServePack.appendTombstones(conf, path, dedup.toArray): Unit
    commitServe(fs, path)
    dedup.length.toLong
  }

  /** Per-(path, save) serving state: the variant marker, the stored
    * calibration, and (lazily, double-checked) the driver-local snapshot.
    * All three are properties of one index SAVE, so a serving process
    * pays their reads once — the steady-state serve() call stats the
    * commit marker and runs one tiny job (the query-batch collect)
    * before pure in-process arithmetic.
    *
    * The snapshot memo records WHAT IT WAS OPENED UNDER (r13 advice):
    * the caps and — for the heap tier, whose rerank vectors come from
    * the caller's corpus frame — the emb plan's semantic hash. A refused
    * open (None) is only reused for calls asking no MORE than the
    * refusing call's caps (a larger-cap caller re-opens instead of
    * inheriting the refusal), and a heap snapshot answering for a
    * DIFFERENT emb plan re-opens rather than silently serving the first
    * caller's vectors. The codes tier reads vectors from the path's own
    * sidecar, so its snapshot is emb-independent (embKey = None).
    */
  private final case class ServeSnap(
      result: Option[AnnLocalIndex],
      fullCap: Long, codesCap: Long, embKey: Option[Long])

  private final class ServeState(
      val residual: Boolean, val stored: Option[AnnCalibration]) {
    // at most one LIVE snapshot per tier (heap: embKey defined; codes:
    // embKey None) plus at most one memoized REFUSAL — r14 advice: a
    // caller whose caps exclude the live snapshot's tier must fall
    // through to opening under ITS caps (the old single-slot memo sent
    // it straight to the distributed path), while the live snapshot
    // stays admitted for the callers whose caps cover it.
    private var snaps: List[ServeSnap] = Nil
    def cachedLocal: Option[AnnLocalIndex] =
      snaps.collectFirst { case ServeSnap(Some(ix), _, _, _) => ix }
    def local(fullCap: Long, codesCap: Long, embKey: Long)(
        open: => ServeSnap): Option[AnnLocalIndex] = synchronized {
      // a live snapshot this call's caps admit: heap tier only for the
      // SAME corpus frame (its rerank vectors came from the opener's emb
      // — r13 advice); codes tier is emb-independent (path's own sidecar)
      val admitted = snaps.collectFirst {
        case ServeSnap(Some(ix), _, _, Some(ek))
            if ek == embKey && fullCap >= ix.size => ix
        case ServeSnap(Some(ix), _, _, None) if codesCap >= ix.size => ix
      }
      admitted.map(Some(_)).getOrElse {
        // memoized refusal: final only for calls asking no MORE than the
        // refusing call's caps; a larger-cap caller re-opens (r13 advice)
        val refused = snaps.exists {
          case ServeSnap(None, fc, cc, _) => fullCap <= fc && codesCap <= cc
          case _ => false
        }
        if (refused) None
        else {
          val s = open
          // replace the same-tier live entry (one per tier) or, for a
          // refusal, every previous (now weaker-cap) refusal
          snaps = s +: snaps.filterNot {
            case ServeSnap(Some(_), _, _, ek) =>
              s.result.isDefined && ek.isDefined == s.embKey.isDefined
            case ServeSnap(None, _, _, _) => s.result.isEmpty
          }
          s.result
        }
      }
    }
  }

  /** Process-wide memo of [[ServeState]]s, keyed by (index path, save
    * fingerprint) — open once per process, serve many (the same
    * session-cache shape as the clustering serve snapshots,
    * operators/Spatial.scala). A re-saved index gets a fresh fingerprint,
    * so a stale snapshot can never answer for the new files; a serve
    * commit, or a new fingerprint committed by another process, evicts
    * the path's older entries (at most one live snapshot per path).
    */
  private val serveStates =
    new java.util.concurrent.ConcurrentHashMap[(String, String), ServeState]()

  private val ServeCommit = "_serve_commit"

  /** Commit a serve-visible write at `path`: every writer of an artifact
    * a serve tier reads (epoch, calibration, variant, tombstones, coded
    * appends, the vecstore and servepack metas) ends here. The marker
    * `<path>/_serve_commit` is written through tmp + rename with an mtime
    * strictly past the previous commit's, so two commits never share a
    * [[serveFingerprint]] even within one clock tick, and a reader never
    * sees a half-written marker. This process's memoized serve state for
    * the path is dropped, so a re-save is seen on the very next call.
    */
  private[graft] def commitServe(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$path/$ServeCommit")
    val tmp = new org.apache.hadoop.fs.Path(s"$path/$ServeCommit.tmp")
    val prev =
      try fs.getFileStatus(marker).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    val stamp = math.max(System.currentTimeMillis(), prev + 1L)
    val o = fs.create(tmp, true)
    try o.write(s"$stamp\n".getBytes("UTF-8"))
    finally o.close()
    fs.setTimes(tmp, stamp, -1L)
    // rename replaces atomically on POSIX; stores whose rename refuses an
    // existing destination take the delete-then-rename fallback
    if (!fs.rename(tmp, marker)) {
      fs.delete(marker, false)
      require(fs.rename(tmp, marker), s"serve commit rename failed at $path")
    }
    serveStates.keySet.removeIf(_._1 == path): Unit
  }

  /** Save-freshness fingerprint: one stat of the serve commit marker,
    * `mtime:len` — NO Spark job and no directory listing, so the warm
    * serve path's freshness check is a single metadata call (one HEAD
    * on an object store). An index saved before the marker existed reads
    * as "" and stays servable; its next write creates the marker. Takes a
    * Configuration so the SQL tier ([[AnnServeRegistry]]) checks it from
    * any JVM, session-free.
    */
  private[graft] def serveFingerprint(
      conf: org.apache.hadoop.conf.Configuration, path: String): String =
    try {
      val st = org.apache.hadoop.fs.FileSystem.get(java.net.URI.create(path), conf)
        .getFileStatus(new org.apache.hadoop.fs.Path(s"$path/$ServeCommit"))
      s"${st.getModificationTime}:${st.getLen}"
    } catch { case _: java.io.FileNotFoundException => "" }

  /** The memoized per-save serving state for `path` (marker +
    * calibration + lazy snapshot slot), freshness-checked by
    * [[serveFingerprint]].
    */
  private def serveState(
      spark: org.apache.spark.sql.SparkSession, path: String): ServeState = {
    val key = (path, serveFingerprint(spark.sparkContext.hadoopConfiguration, path))
    val hit = serveStates.get(key)
    if (hit != null) hit
    else {
      // a save this process has not served yet: evict older saves' state
      // BEFORE the compute — mutating other keys inside computeIfAbsent's
      // mapping function would violate ConcurrentHashMap's contract
      // (same-bin removal can deadlock)
      serveStates.keySet.removeIf(k => k._1 == path && k != key)
      serveStates.computeIfAbsent(key, _ =>
        new ServeState(isResidual(spark, path), loadCalibration(spark, path)))
    }
  }

  /** Test visibility: is a live local snapshot memoized for `path`? */
  private[graft] def localSnapshotCached(path: String): Boolean = {
    val it = serveStates.entrySet().iterator()
    var found = false
    while (it.hasNext && !found) {
      val e = it.next()
      found = e.getKey._1 == path && e.getValue.cachedLocal.isDefined
    }
    found
  }

  /** Persist the exact-rerank vector sidecar next to a [[saveIndex]]'d
    * index — the artifact that unlocks the CODES-RESIDENT local serving
    * tier ([[AnnLocalCodes]], r13 verdict #3) for corpora above the
    * in-heap cap. One distributed id-sort + one sequential driver write
    * (see [[AnnVecStore]]); call it at build time alongside
    * [[saveCalibration]]. Returns rows written.
    */
  def saveVectorStore(
      emb: DataFrame,
      path: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Long =
    AnnVecStore.save(emb, path, idCol, vecCol)

  /** The per-vector m×k ADC table as a Column — table(j)(c) =
    * AnnPq.sqDist(subvec(v, j), cb(j)(c)), the identical fold
    * [[search]]'s local tableOf builds (shared here for the drift
    * report's batch-side expression).
    */
  private[operators] def adcTableCol(
      v: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    transform(sequence(lit(0), lit(m - 1)), j =>
      transform(element_at(cbLit, j + 1), c =>
        AnnPq.sqDist(AnnPq.subvec(v, j, dsub), c)))
  }

  /** Fold a NEW-vector batch into a [[saveIndex]]'d index under its
    * FROZEN structures (r14 verdict #3 — the ANN side's incremental
    * maintenance, the analogue of the clustering store's
    * [[graft.cluster.IndexStore.mergeInto]]): assign the batch to the
    * frozen coarse centroids with the SAME argmax kernel the build's
    * final pass ran, PQ-encode it with the frozen codebooks (residual
    * branch per the saved variant marker), and append — coded rows to
    * the coded table (one job-atomic parquet append), one
    * [[AnnVecStore]] segment when a sidecar exists (O(batch), never a
    * sidecar rewrite), one [[AnnServePack]] delta when a pack exists —
    * then commit the serve marker so every serve tier's save
    * fingerprint refreshes. The stored CALIBRATION stays valid by
    * design: it is a property of the frozen structure, and the drift
    * report below is the honest signal for when that stops holding.
    *
    * Search on the appended index is BIT-IDENTICAL to a rebuild that
    * assigns + encodes the union under the same frozen structures (the
    * q108 oracle replays it in DuckDB): frozen assignment and frozen
    * encode are pure per-row maps, so union-then-map ≡ map-then-union.
    *
    * Batch ids must be NEW (the sidecar append enforces it against the
    * stored id index when a sidecar exists; updates/deletes are a
    * rebuild). The writes are not atomic as a GROUP: a crash mid-append
    * leaves artifacts one step apart — the sidecar-first order makes
    * every partial state loud or harmless (extra unreferenced vectors),
    * and the remedy is re-running the build-time saves.
    *
    * @param exactScores assign with the decimal-exact cosine (the
    *   oracle mode) — must match how the index was BUILT
    * @return the drift report ([[AnnAppendStats]])
    */
  def appendVectors(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      exactScores: Boolean = false,
      driftSampleSize: Int = 256): AnnAppendStats = {
    val (codedBase, centroids, codebooks) = loadIndex(spark, path)
    val residual = isResidual(spark, path)
    val assigned = AnnIvf.assign(batch, centroids, idCol, vecCol, exactScores)
      .persist()
    try {
      val nBatch = assigned.count()
      if (nBatch == 0L)
        return AnnAppendStats(0L, Double.NaN, Double.NaN, Double.NaN)
      // id discipline up front (r15 advice): WITHOUT a sidecar the old
      // path appended duplicate ids silently (the sidecar's streaming
      // check was the only guard); and no append may RESURRECT a
      // tombstoned id before compaction clears it — the tombstone would
      // silently swallow the new row from every serve tier.
      val batchIds = assigned.select(col(idCol).cast("long").as("_bid"))
      val fsCheck = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create(path), spark.sparkContext.hadoopConfiguration)
      if (fsCheck.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones"))) {
        val idName = codedBase.columns.head
        val resurrect = spark.read.parquet(s"$path/tombstones")
          .join(broadcast(batchIds), col(idName).cast("long") === col("_bid"),
            "left_semi").limit(1).count()
        require(resurrect == 0L,
          s"appendVectors: batch contains tombstoned id(s) at $path — a " +
            "deleted id cannot be re-added until compactServingArtifacts " +
            "folds the tombstones away")
      }
      if (!AnnVecStore.exists(spark, path)) {
        val dup = codedBase
          .join(broadcast(batchIds),
            col(idCol).cast("long") === col("_bid"), "left_semi")
          .limit(1).count()
        require(dup == 0L,
          s"appendVectors: batch contains id(s) already in the index at " +
            s"$path — appended ids must be new (deletes are deleteVectors)")
      }
      val codedBatch = (
        if (residual) encodeResidual(assigned, centroids, codebooks, idCol, vecCol)
        else assigned.select(col(idCol), col("_centroid"),
          AnnPq.pqCodesCol(col(vecCol).cast("array<double>"), codebooks)
            .as("codes"))
      ).persist()
      try {
        // drift: batch ADC reconstruction error under the frozen
        // codebooks (residual-space in residual mode) vs the base sample
        val batchX =
          if (residual) residuals(assigned, centroids, idCol, vecCol)
            .select(col(idCol), col("_rv").as("_x"))
          else assigned
            .select(col(idCol), col(vecCol).cast("array<double>").as("_x"))
        val batchQuantMse = codedBatch.select(col(idCol), col("codes"))
          .join(batchX, Seq(idCol))
          .select(avg(AnnPq.adcDistCol(col("codes").cast("array<int>"),
            adcTableCol(col("_x"), codebooks))).as("_e"))
          .collect()(0).getDouble(0)
        val baseQuantMse = baseSampleQuantMse(
          spark, path, codedBase, centroids, codebooks, idCol, residual,
          driftSampleSize)
        // sidecar FIRST (a crash after it leaves only harmless
        // unreferenced vectors), then the job-atomic coded append, then
        // the pack delta, then the serve commit
        if (AnnVecStore.exists(spark, path))
          AnnVecStore.appendSegment(spark, path, batch, idCol, vecCol): Unit
        codedBatch.select(col(idCol), col("_centroid"), col("codes"))
          .write.mode("append").parquet(s"$path/coded")
        val conf = spark.sparkContext.hadoopConfiguration
        if (AnnServePack.exists(conf, path))
          AnnServePack.appendDelta(spark, path, codedBatch, idCol): Unit
        commitServe(fsCheck, path)
        AnnAppendStats(nBatch, batchQuantMse, baseQuantMse,
          batchQuantMse / baseQuantMse)
      } finally codedBatch.unpersist(): Unit
    } finally assigned.unpersist(): Unit
  }

  /** Mean squared ADC reconstruction error over a deterministic sample
    * of the BASE corpus — vectors read back from the vecstore sidecar
    * (NaN without one), the same left-to-right fold as the batch-side
    * expression.
    */
  private def baseSampleQuantMse(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      codedBase: DataFrame,
      centroids: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      idCol: String,
      residual: Boolean,
      sampleSize: Int): Double = {
    val vecs = AnnVecStore.open(spark, path).getOrElse(return Double.NaN)
    val sample = codedBase.orderBy(col(idCol)).limit(sampleSize)
      .select(col(idCol).cast("long"), col("_centroid").cast("int"),
        col("codes").cast("array<int>"))
      .collect()
    if (sample.isEmpty) return Double.NaN
    val cents = AnnLocal.collectCentroids(centroids).toMap
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    var sum = 0.0
    sample.foreach { r =>
      val v = vecs.vector(r.getLong(0))
      val x =
        if (!residual) v
        else {
          val cv = cents(r.getInt(1))
          Array.tabulate(v.length)(i => v(i) - cv(i))
        }
      val cs = r.getSeq[Int](2)
      var j = 0
      while (j < m) {
        val cv = codebooks(j)(cs(j))
        var i = 0
        while (i < dsub) { val d = x(j * dsub + i) - cv(i); sum += d * d; i += 1 }
        j += 1
      }
    }
    sum / sample.length
  }

  /** Compact the serving artifacts after an append chain (the ANN
    * analogue of [[graft.cluster.IndexStore.vacuum]]'s housekeeping
    * role): every [[appendVectors]] adds one vecstore segment, one
    * servepack delta, and one coded-table file set — all O(batch) to
    * write, but a LONG chain degrades the open/rerank paths (a rerank id
    * probes each segment's range; the pack open replays every delta).
    * This rewrites the coded table, re-saves the sidecar as fresh
    * per-range segments (distributed), and re-builds the pack from the
    * current coded table (deltas fold into the base arrays) — one compaction
    * after every N appends keeps both paths at their fresh-save shape.
    * `emb` must be the FULL current corpus (base + all appended
    * batches), exactly as a fresh [[saveVectorStore]] would get.
    * The stored calibration is untouched (frozen-structure property,
    * same argument as appendVectors'). Run it in the ingest maintenance
    * window: a serve OPEN during the rewrite may briefly see no sidecar
    * and fall back distributed (already-open snapshots are unaffected —
    * their mmaps survive the unlink). Returns sidecar rows written.
    */
  def compactServingArtifacts(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      emb: DataFrame = null,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(java.net.URI.create(path), conf)
    val hadVecstore = AnnVecStore.exists(spark, path)
    val hadPack = AnnServePack.exists(conf, path)
    // 1. the CODED parquet table itself (r15 verdict #6): every append
    // left one small file set (`.mode("append")`), and tombstoned rows
    // linger physically — one rewrite folds both (loadIndex hands back
    // the tombstone-excluded rows; small input files coalesce into few
    // output partitions via the scan's bin-packing)
    val (codedEx, _, _) = loadIndex(spark, path)
    val codedCols = spark.read.parquet(s"$path/coded").columns.toIndexedSeq
    val tmp = s"$path/coded_compact"
    // explicit output sizing: the rewrite must FOLD the per-append small
    // files, so derive the file count from the table's bytes (~128 MB
    // per file) instead of inheriting the scan's partitioning
    val codedBytes = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/coded"))
      .filter(_.isFile).map(_.getLen).sum
    val outFiles = math.max(1L, codedBytes / (128L << 20) + 1L).toInt
    codedEx.select(codedCols.map(col): _*)
      .coalesce(outFiles)
      .write.mode("overwrite").parquet(tmp)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/coded"), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$path/coded")),
      s"coded-table compaction rename failed at $path")
    // 2. the sidecar: fresh per-range segments from the surviving corpus
    // — caller-supplied, or (r15 verdict #6's second half) READ BACK
    // from the sidecar itself, which already holds every vector. Either
    // way tombstoned ids are excluded, so a post-compaction append may
    // legitimately reuse a deleted id.
    val n =
      if (!hadVecstore) 0L
      else {
        val corpus = Option(emb)
          .getOrElse(AnnVecStore.toDataFrame(spark, path, idCol, vecCol))
        val surviving =
          if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
            corpus
          else corpus.join(
            broadcast(spark.read.parquet(s"$path/tombstones")
              .select(col(spark.read.parquet(s"$path/tombstones").columns.head)
                .cast("long").as("_tomb_id"))),
            col(idCol).cast("long") === col("_tomb_id"), "left_anti")
        AnnVecStore.save(surviving, path, idCol, vecCol)
      }
    // 3. tombstones are now folded into the physical layout — drop them
    // BEFORE the pack re-save so the fresh pack carries no skip set
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
    if (hadPack) AnnServePack.save(spark, path): Unit
    commitServe(fs, path)
    n
  }

  /** Full re-train — the [[AnnAppendStats.driftRatio]] consumer (r15
    * verdict #3's missing action): when appended batches drift from the
    * base distribution, the FROZEN structures quantize them worse and
    * recall sags ([[graft.Bench]]'s drift rung measures the curve);
    * the remedy is re-deriving everything from the CURRENT corpus —
    * fresh coarse Lloyd, fresh codebooks (same shape as the saved ones:
    * list count, m, k are read from the existing artifacts), re-encode,
    * re-save. The corpus defaults to the sidecar's own contents minus
    * tombstones, so a serving deployment retrains with ONE call and no
    * re-supplied table. The save writes a fresh epoch, so the stored
    * calibration is INVALIDATED by construction ([[loadCalibration]]
    * returns None — epoch mismatch): a re-trained geometry voids the old
    * probe-depth evidence, and serving re-calibrates before vouching
    * again. Sidecar and pack re-save when present; tombstones fold away.
    * Returns the retrained corpus size.
    */
  def retrain(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      emb: DataFrame = null,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      iters: Int = 2,
      exactScores: Boolean = false): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(java.net.URI.create(path), conf)
    val residual = isResidual(spark, path)
    val oldCb = AnnPq.loadCodebooks(spark, s"$path/codebooks")
    val m = oldCb.length
    val k = oldCb(0).length
    val kCoarse = spark.read.parquet(s"$path/centroids").count().toInt
    val hadVecstore = AnnVecStore.exists(spark, path)
    val hadPack = AnnServePack.exists(conf, path)
    val corpus0 = Option(emb).getOrElse {
      require(hadVecstore,
        s"retrain at $path needs a corpus: pass emb, or save the vecstore " +
          "sidecar so the corpus can be read back from it")
      AnnVecStore.toDataFrame(spark, path, idCol, vecCol)
    }
    val corpus =
      (if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")))
        corpus0
      else corpus0.join(
        broadcast(spark.read.parquet(s"$path/tombstones")
          .select(col(spark.read.parquet(s"$path/tombstones").columns.head)
            .cast("long").as("_tomb_id"))),
        col(idCol).cast("long") === col("_tomb_id"), "left_anti")).persist()
    try {
      val n = corpus.count()
      val (indexed, centroids) = AnnIvf.buildIndex(
        corpus, idCol, vecCol, k = kCoarse, iters = iters,
        exactScores = exactScores)
      val (cb, coded) =
        if (residual) {
          val cbR = trainResidual(indexed, centroids, idCol, vecCol,
            m = m, k = k, iters = iters)
          (cbR, encodeResidual(indexed, centroids, cbR, idCol, vecCol))
        } else {
          val cbRaw = AnnPq.train(
            corpus.select(col(idCol), col(vecCol).cast("array<double>").as("_v")),
            idCol, "_v", m, k, iters)
          (cbRaw, indexed.select(col(idCol), col("_centroid"))
            .join(AnnPq.encode(
              corpus.select(col(idCol), col(vecCol).cast("array<double>").as("_v")),
              cbRaw, idCol, "_v").withColumnRenamed("vec_id", idCol), Seq(idCol))
            .select(col(idCol), col("_centroid"), col("codes")))
        }
      // fresh epoch per saveIndex — the calibration invalidation; the
      // save also clears the tombstones and commits the serve marker, as
      // do the sidecar and pack re-saves after it
      saveIndex(coded, centroids, cb, path, idCol, residual = residual)
      if (hadVecstore) AnnVecStore.save(corpus, path, idCol, vecCol): Unit
      if (hadPack) AnnServePack.save(spark, path): Unit
      n
    } finally corpus.unpersist(): Unit
  }

  /** Order-preserving parallel map over a serve batch on a bounded
    * driver pool (r13 verdict #2: the snapshot is read-only primitive
    * arrays + thread-safe mmap reads, so a 4096-query batch should use
    * the driver's cores, not one). `threads ≤ 0` = all available
    * processors; 1 = the sequential loop. Exceptions propagate unwrapped.
    */
  private def parMapOrdered[A, B: scala.reflect.ClassTag](
      in: IndexedSeq[A], threads: Int)(f: A => B): IndexedSeq[B] = {
    val n = in.length
    val t = math.min(
      if (threads > 0) threads else Runtime.getRuntime.availableProcessors(), n)
    if (t <= 1) in.map(f)
    else {
      val out = new Array[B](n)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(t)
      try {
        val futures = (0 until t).map { w =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              var i = w
              while (i < n) { out(i) = f(in(i)); i += t }
            }
          })
        }
        futures.foreach { fu =>
          try fu.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }
      } finally { pool.shutdown(): Unit }
      out.toIndexedSeq
    }
  }

  /** The local-tier snapshot for one (path, save) — heap tier under
    * `localServeCap`, codes tier (mmap'd rerank sidecar) under
    * `codesServeCap` when a vecstore exists — memoized per save with the
    * caps + emb identity it was opened under. None = no local tier can
    * vouch; the caller goes distributed.
    */
  private def localTier(
      spark: org.apache.spark.sql.SparkSession,
      st: ServeState,
      path: String,
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      localServeCap: Long,
      codesServeCap: Long): Option[AnnLocalIndex] = {
    if (localServeCap <= 0 && codesServeCap <= 0) return None
    // the heap tier's rerank vectors come from (emb, idCol, vecCol) — all
    // three are identity (r13 advice): a different corpus plan OR column
    // choice re-opens instead of serving the first caller's vectors
    val embKey = emb.queryExecution.analyzed.semanticHash().toLong * 31L +
      (idCol, vecCol).hashCode().toLong
    st.local(localServeCap, codesServeCap, embKey) {
      val (coded, centroids, codebooks) = loadIndex(spark, path)
      val heap =
        if (localServeCap <= 0) None
        else AnnLocal.open(coded, centroids, codebooks, emb, idCol, vecCol,
          maxRows = localServeCap, residual = st.residual)
      heap match {
        case Some(ix) =>
          ServeSnap(Some(ix), localServeCap, codesServeCap, Some(embKey))
        case None =>
          val viaCodes =
            if (codesServeCap <= 0) None
            else AnnLocalCodes.open(spark, path, coded, centroids, codebooks,
              idCol, maxRows = codesServeCap, residual = st.residual)
          // codes tier reranks from the path's own sidecar → emb-independent
          ServeSnap(viaCodes, localServeCap, codesServeCap, None)
      }
    }
  }

  /** The one-call serving path: reload EVERYTHING a [[saveIndex]]'d
    * index carries — coded table, centroids, codebooks, the persisted
    * calibration (when present and epoch-valid), and the encoding
    * variant marker — and answer with all of it. This is the API a
    * serving process should call: it cannot pair residual codes with raw
    * tables (the marker decides), cannot serve a stale or under-vouched
    * calibration (epoch + covers() gate it), and runs zero calibration
    * jobs when the stored calibration covers the request.
    *
    * LOCAL FAST PATH (r12 verdict #2; tiered in r13): when a covering
    * calibration exists AND the query batch is ≤ `maxLocalQueries` rows,
    * the answer comes from a memoized driver-local snapshot at the
    * calibrated knobs — the FULL in-heap tier ([[AnnLocal]]) under
    * `localServeCap` rows, or past it the CODES-RESIDENT tier
    * ([[AnnLocalCodes]]: byte-packed codes in heap, exact-rerank vectors
    * mmap'd from the [[saveVectorStore]] sidecar) under `codesServeCap`
    * rows — measured ms-scale vs the multi-second distributed job floor,
    * row-for-row identical on every tier (ServeLocalSpec +
    * AnnCodesLocalSpec pin it). The batch runs in parallel across driver
    * cores (`localThreads`; 0 = all). Everything else — over-cap corpus,
    * big query batch, no covering calibration (the tuning path needs
    * distributed jobs anyway), both caps ≤ 0 — takes the distributed
    * [[searchAuto]] exactly as before. `emb` must be the corpus the
    * index was built on (it supplies the heap tier's and the distributed
    * path's exact-rerank vectors).
    */
  def serve(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      targetRecall: Double = 0.9,
      topK: Int = 3,
      refine: Int = 200,
      tuneRefine: Boolean = true,
      localServeCap: Long = 2000000L,
      maxLocalQueries: Int = 4096,
      codesServeCap: Long = 20000000L,
      localThreads: Int = 0): DataFrame = {
    // freshness = one stat of the commit marker (no Spark job; a re-save
    // mid-process changes the fingerprint). Variant + calibration +
    // snapshot are per-save state from the fingerprint-keyed memo, so
    // the warm local path's ONLY Spark job is the query-batch collect.
    val st = serveState(spark, path)
    val covering = st.stored.filter(_.covers(targetRecall, topK))
    val local: Option[DataFrame] =
      if (covering.isEmpty) None
      else localTier(spark, st, path, emb, idCol, vecCol,
        localServeCap, codesServeCap).flatMap { ix =>
        val cal = covering.get
        val rf = if (cal.refine > 0) cal.refine else refine
        // bounded collect: limit pushes into the scan, so detecting an
        // oversized batch costs O(maxLocalQueries), not O(batch)
        val qRows = queries
          .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
          .limit(maxLocalQueries + 1).collect()
        if (qRows.length > maxLocalQueries) None
        else {
          import spark.implicits._
          val hits = parMapOrdered(qRows.toIndexedSeq, localThreads) { r =>
            val qid = r.getLong(0)
            ix.search(r.getSeq[Double](1).toArray, nprobe = cal.nprobe,
              topK = topK, refine = rf, queryId = qid)
              .map(h => (qid, h.neighborId, h.dist, h.rk))
          }.flatten
          Some(hits.toDF("query_id", "neighbor_id", "dist", "rk"))
        }
      }
    local.getOrElse {
      val (coded, centroids, codebooks) = loadIndex(spark, path)
      searchAuto(queries, coded, centroids, codebooks, emb, idCol, vecCol,
        targetRecall, topK, refine,
        calibration = st.stored,
        tuneRefine = tuneRefine,
        residual = st.residual)
    }
  }

  /** The interactive serving entry point: query vectors already in hand
    * — the reference's per-frame probe loop shape
    * (`benchmarks/run.ts:38-42` measures exactly this). The warm path
    * runs ZERO Spark jobs: freshness is one stat of the commit marker
    * ([[serveFingerprint]]), then pure in-process arithmetic on the
    * memoized snapshot at the stored calibration's knobs — the same
    * rows, distances, and ranks [[serve]]/[[search]] return
    * (ServeLocalSpec pins all three equal).
    *
    * Returns None whenever the local path cannot VOUCH for the request
    * — no stored calibration covering (targetRecall, topK), corpus over
    * both tiers' caps (`localServeCap` in-heap; `codesServeCap` with a
    * [[saveVectorStore]] sidecar), or the caps disabled — and the caller
    * falls back to [[serve]] (which re-tunes or runs distributed as
    * appropriate). The batch runs in parallel across driver cores
    * (`localThreads`; 0 = all, 1 = sequential).
    * A query id present in the corpus excludes its own row, exactly
    * like the distributed `query_id =!= neighbor_id` filter; external
    * vectors should use ids outside the corpus id space.
    */
  def serveVectors(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: Seq[(Long, Array[Double])],
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      targetRecall: Double = 0.9,
      topK: Int = 3,
      refine: Int = 200,
      localServeCap: Long = 2000000L,
      codesServeCap: Long = 20000000L,
      localThreads: Int = 0): Option[Seq[(Long, Seq[AnnHit])]] = {
    if (localServeCap <= 0 && codesServeCap <= 0) return None
    val st = serveState(spark, path)
    st.stored.filter(_.covers(targetRecall, topK)).flatMap { cal =>
      val rf = if (cal.refine > 0) cal.refine else refine
      localTier(spark, st, path, emb, idCol, vecCol,
        localServeCap, codesServeCap).map { ix =>
        parMapOrdered(queries.toIndexedSeq, localThreads) { case (qid, qv) =>
          qid -> ix.search(qv, nprobe = cal.nprobe, topK = topK,
            refine = rf, queryId = qid).toSeq
        }
      }
    }
  }

  /** Top-`topK` neighbours per query: probe the `nprobe` nearest coarse
    * lists, ADC-score ONLY the PQ codes inside them (m table lookups per
    * candidate), exact-rescore the `topK·refine` shortlist against the
    * original vectors. Returns (query_id, neighbor_id, dist, rk) — squared
    * L2 like [[AnnPq.search]], whose ADC/rescore arithmetic this reuses.
    *
    * @param coded       [[index]]'s (idCol, _centroid, codes) table
    * @param emb         original vectors for the exact re-rank
    * @param exactScores probe selection with the decimal-exact cosine
    *                    (the q100 oracle mode); production callers keep
    *                    the fast double kernel
    * @param residual    `coded` carries RESIDUAL codes ([[encodeResidual]]):
    *                    the ADC table is then built per (query, probed
    *                    list) on the query's residual to THAT list —
    *                    nprobe small tables per query instead of one,
    *                    still broadcast-sized (nprobe·m·k doubles). The
    *                    identity making this correct: q−n = (q−c)−(n−c)
    *                    inside a shared list c, so residual ADC estimates
    *                    the same ||q−n||² the raw table does — from codes
    *                    quantizing a much smaller-variance field.
    *                    COST (r12 verdict #6, measured): the residual
    *                    branch is NOT slower than raw — the per-list
    *                    tables and their bigger broadcast ride the probe
    *                    rows and DELETE the raw branch's second
    *                    query-side join, so the candidate scan is
    *                    consistently FASTER at matched knobs
    *                    (bench_res_profile.json, 10M hard fixture,
    *                    median-of-3: np8 scan res 7.3-9.6 s vs raw
    *                    8.5-10.8 s across two sessions; full rf200 19.6
    *                    vs 19.4 s). The ~15% premium r12's rung timings
    *                    showed at 10M sits in the SHARED shortlist
    *                    window + exact-rerank stages — identical code on
    *                    both branches — and flips sign across sessions
    *                    (single-shot timings late in a heap-heavy rung);
    *                    it is environment variance, not residual
    *                    arithmetic.
    * @param maxBroadcastQueries the QUERY-SIDE broadcast contract (r12
    *                    verdict #5): the per-query ADC tables ride
    *                    broadcasts that are O(queries·m·k) doubles
    *                    (O(queries·nprobe·m·k) residual) — sized for
    *                    PROBE BATCHES, the intended shape. A corpus-sized
    *                    query side (the SemDeDup corpus-vs-corpus join at
    *                    scale) would hit the broadcast memory ceiling, so
    *                    above this many queries (checked with one bounded
    *                    limit-count job) every query-side join falls back
    *                    to a shuffle-hash plan — identical values, no
    *                    driver-memory cliff. ≤ 0 skips the check and
    *                    always broadcasts (measured probe-batch callers
    *                    who refuse the extra ~ms job).
    */
  def search(
      queries: DataFrame,
      coded: DataFrame,
      centroids: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nprobe: Int = 4,
      topK: Int = 3,
      refine: Int = 100,
      exactScores: Boolean = false,
      residual: Boolean = false,
      maxBroadcastQueries: Int = 100000): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val cbLit = typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)

    // query-side broadcast guard: scan at most maxBroadcastQueries+1 rows
    // (limit pushes into the scan — the job is bounded by the threshold,
    // not the query-side size), then pin every query-derived build side
    // to broadcast (small) or shuffle-hash (large). The explicit fallback
    // hint keeps the plan deterministic — size ESTIMATES on a derived
    // frame could otherwise re-introduce the very broadcast the guard
    // exists to avoid.
    val broadcastQ = maxBroadcastQueries <= 0 ||
      queries.select(lit(1).as("_one")).limit(maxBroadcastQueries + 1).count() <=
        maxBroadcastQueries
    def qside(df: DataFrame): DataFrame =
      if (broadcastQ) broadcast(df) else df.hint("shuffle_hash")

    // probe selection — identical ordering to AnnIvf.search (desc cosine,
    // then centroid id), k centroids broadcast as a tiny build side
    val pw = Window.partitionBy(col("query_id")).orderBy(desc("_sim"), col("_c"))
    val probesRaw = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .join(broadcast(centroids))
      .withColumn("_sim", AnnIvf.scoreCosine(col("_qv"), col("_cv"), exactScores))
      .withColumn("_rk", row_number().over(pw))
      .where(col("_rk") <= nprobe)

    def tableOf(v: Column): Column =
      transform(sequence(lit(0), lit(m - 1)), j =>
        transform(element_at(cbLit, j + 1), c =>
          AnnPq.sqDist(AnnPq.subvec(v, j, dsub), c)))

    // candidates = codes in the probed lists ONLY (equi-join on the list
    // id — the composition point: AnnPq.search scans every code, this
    // scans nprobe/k of them); ADC total folds the m lookups in j order,
    // bit-identical to the oracle's ORDER BY _j list fold (fused native
    // kernel — the per-candidate inner loop stays primitive)
    val cand =
      if (residual) {
        // per (query, probed list) ADC table on the query's residual to
        // that list: table rides the probe row, so the candidate join
        // needs no second broadcast
        val probesTab = probesRaw
          .withColumn("_rqv", zip_with(col("_qv").cast("array<double>"),
            col("_cv").cast("array<double>"), (x, y) => x - y))
          .select(col("query_id"), col("_c").as("_centroid"),
            tableOf(col("_rqv")).as("_tab"))
        coded
          .select(col(idCol).as("neighbor_id"), col("_centroid"), col("codes"))
          .join(qside(probesTab), Seq("_centroid"))
          .where(col("query_id") =!= col("neighbor_id"))
          .withColumn("approx_dist",
            AnnPq.adcDistCol(col("codes").cast("array<int>"), col("_tab")))
      } else {
        val probes = probesRaw.select(col("query_id"), col("_c").as("_centroid"))
        // per-query ADC table, computed ONCE per query (not per probe row /
        // candidate): table(j)(c) = ||q_j - cb(j)(c)||²
        val qtab = queries.select(col(idCol).as("query_id"),
          tableOf(col(vecCol).cast("array<double>")).as("_tab"))
        coded
          .select(col(idCol).as("neighbor_id"), col("_centroid"), col("codes"))
          .join(qside(probes), Seq("_centroid"))
          .where(col("query_id") =!= col("neighbor_id"))
          .join(qside(qtab), Seq("query_id"))
          .withColumn("approx_dist",
            AnnPq.adcDistCol(col("codes").cast("array<int>"), col("_tab")))
      }

    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_dist"), col("neighbor_id"))
    val shortlist = cand
      .select(col("query_id"), col("neighbor_id"), col("approx_dist"))
      .withColumn("_ark", row_number().over(wa))
      .where(col("_ark") <= topK * refine)

    // exact re-rank of the bounded shortlist (plain-double left-fold L2 —
    // the q63-proven cross-engine kernel)
    val qSide = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val nSide = emb.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_nv"))
    val we = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    shortlist
      .join(qside(qSide), Seq("query_id"))
      .join(nSide, Seq("neighbor_id"))
      .withColumn("dist", AnnPq.sqDist(col("_qv"), col("_nv")))
      .select(col("query_id"), col("neighbor_id"), col("dist"))
      .withColumn("rk", row_number().over(we).cast("long"))
      .where(col("rk") <= topK)
  }

  /** Calibrated probe count for the COMPOSED path: [[AnnIvf.autoNprobe]]'s
    * rank method (probe ranks use search's own cosine ordering) with the
    * truth metric flipped to squared L2 — the metric [[search]]'s exact
    * re-rank returns neighbors by, so the calibration asks "how deep must
    * I probe to reach the L2-true neighbors", not the cosine-true ones.
    * The PQ quantization loss inside a probed list is recovered by the
    * `topK·refine` exact re-rank, so probe depth is the composition's
    * only unbounded recall loss — exactly what this bounds. `coded`
    * carries list assignments but not vectors (the whole point of PQ), so
    * the original `emb` joins its vectors back for the sample scan.
    */
  def autoNprobe(
      coded: DataFrame,
      centroids: DataFrame,
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      targetRecall: Double = 0.9,
      sampleSize: Int = 32,
      topK: Int = 3): Int = {
    val indexedLike = emb.select(col(idCol), col(vecCol))
      .join(coded.select(col(idCol), col("_centroid")), Seq(idCol))
    AnnIvf.autoNprobe(indexedLike, centroids, idCol, vecCol,
      targetRecall, sampleSize, topK, l2Truth = true)
  }

  /** [[autoNprobe]] plus its evidence as a persistable [[AnnCalibration]]
    * — `refine` records the shortlist factor the calibrated searcher
    * will run with ([[searchAuto]]'s default 200), so a serving process
    * reloads the WHOLE tuned configuration, not just the probe depth.
    * Build pipelines should prefer [[calibrateEndToEnd]], which TUNES
    * the shortlist against end-to-end sample recall instead of
    * recording the default; this probe-only variant remains for callers
    * who manage refine themselves.
    *
    * The result carries `metTarget = false` ALWAYS (r12 advice): on the
    * PQ path, probe-depth sample recall only UPPER-BOUNDS end-to-end
    * recall (ADC quantization + shortlist loss are unmeasured here), so
    * a probe-only calibration can never vouch for
    * [[AnnCalibration.covers]] reuse — persisting one via
    * [[saveCalibration]] makes [[searchAuto]] re-tune rather than serve
    * below the requested target at the untested refine. (Plain
    * [[AnnIvf.calibrate]] keeps the measured flag: IVF's exact in-list
    * rescore makes probe recall exactly end-to-end recall.)
    */
  def calibrate(
      coded: DataFrame,
      centroids: DataFrame,
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      targetRecall: Double = 0.9,
      sampleSize: Int = 32,
      topK: Int = 3,
      refine: Int = 200): AnnCalibration = {
    val indexedLike = emb.select(col(idCol), col(vecCol))
      .join(coded.select(col(idCol), col("_centroid")), Seq(idCol))
    AnnIvf.calibrate(indexedLike, centroids, idCol, vecCol,
      targetRecall, sampleSize, topK, l2Truth = true, refine = refine)
      .copy(metTarget = false)
  }

  /** [[calibrate]] extended to the composed path's SECOND knob: after the
    * probe depth is chosen, the refine shortlist is tuned against
    * END-TO-END sample recall — the actual [[search]] at (nprobe, rf) for
    * the same deterministic sample, compared to the exact-L2 truth the
    * probe calibration already computed (no extra corpus scan), doubling
    * rf from `refine` until the sample recall clears the target by the
    * same one-sided standard-error margin [[AnnIvf.autoNprobe]] uses, or
    * `maxRefine` is reached.
    *
    * WHY: probe-depth calibration bounds only the IVF miss. At 10M on the
    * hard fixture the probe curve is FLAT (nprobe 1→16 all 0.833 recall@3,
    * bench_ann_10m_hard.json) while the shortlist is the binding knob
    * (rf 20/50/200 → 0.55/0.70/0.833): a calibration that tunes nprobe
    * alone meets its own contract yet undershoots the end-to-end target
    * the caller asked for. This is the build-time calibration a serving
    * deployment should persist ([[saveCalibration]]).
    *
    * CONTRACT: returns the cheapest (nprobe, refine) whose end-to-end
    * sample recall clears the margin-adjusted target, or the `maxRefine`
    * configuration with its honestly-measured recall when the target is
    * unreachable within bounds — `measuredRecall` here is END-TO-END
    * sample recall (strictly more informative than [[calibrate]]'s
    * probe-depth recall; a caller detects the unreached case by
    * `measuredRecall < targetRecall`).
    */
  def calibrateEndToEnd(
      coded: DataFrame,
      centroids: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      targetRecall: Double = 0.9,
      sampleSize: Int = 32,
      topK: Int = 3,
      refine: Int = 200,
      maxRefine: Int = 1600,
      residual: Boolean = false): AnnCalibration = {
    val indexedLike = emb.select(col(idCol), col(vecCol))
      .join(coded.select(col(idCol), col("_centroid")), Seq(idCol))
    val (np, _, truthPairs) = AnnIvf.calibrateCoreWithTruth(
      indexedLike, centroids, idCol, vecCol,
      targetRecall, sampleSize, topK, l2Truth = true)
    val n = emb.count()
    if (truthPairs.isEmpty)
      return AnnCalibration(targetRecall, np, refine, 1.0, n, "", topK = topK)
    val truthByQ = truthPairs.groupBy(_._1)
      .map { case (q, ps) => q -> ps.map(_._2).toSet }
    val sampleIds = truthByQ.keys.toSeq.sorted
    val sampleQ = emb.where(col(idCol).cast("long").isin(sampleIds: _*))
    val total = truthPairs.length.toDouble
    val margin = math.sqrt(targetRecall * (1.0 - targetRecall) / total)
    val goal = math.min(1.0, targetRecall + margin)
    def recallAt(rf: Int): Double = {
      // maxBroadcastQueries = 0: the probe batch is ≤ sampleSize rows BY
      // CONSTRUCTION (an isin over the truth sample's ids), so the guard's
      // limit-count job would re-prove a known-small frame once per refine
      // doubling (r13 advice — sweep callers with known-small batches use
      // the documented bypass instead of paying the probe per plan)
      val byQ = search(sampleQ, coded, centroids, codebooks, emb,
        idCol, vecCol, nprobe = np, topK = topK, refine = rf,
        residual = residual, maxBroadcastQueries = 0)
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      truthByQ.iterator.map { case (q, t) =>
        byQ.get(q).map(a => (a & t).size.toDouble).getOrElse(0.0)
      }.sum / total
    }
    var rf = math.max(refine, 1)
    var measured = recallAt(rf)
    while (measured < goal && rf < maxRefine) {
      rf = math.min(rf * 2, maxRefine)
      measured = recallAt(rf)
    }
    // metTarget compares against the CALLER's target, not the margin-
    // adjusted goal: the margin is calibration-time confidence padding,
    // while metTarget answers "did the sample recall reach what I asked
    // for" — the question a serving process gates reuse on
    AnnCalibration(targetRecall, np, rf, measured, n, "",
      topK = topK, metTarget = measured >= targetRecall)
  }

  /** [[search]] with the probe count chosen by [[autoNprobe]] — the
    * default composed path (mirrors [[AnnIvf.searchAuto]]). The fixed
    * `nprobe = 4` default measured recall@3 0.70 on the near-uniform sf0.1
    * fixture; a caller who has not placed their corpus on the recall/cost
    * curve should come through here.
    *
    * `refine` defaults to 200 here (vs [[search]]'s 100): probe depth
    * bounds the IVF miss, but the PQ quantization loss is bounded only
    * by the exact re-rank's shortlist, and on the adversarial sf0.1
    * fixture refine=100 CAPS recall at 0.917 no matter how deep the
    * calibration probes (refine=200 lifts the cap to 0.967, measured at
    * NO search-time cost — the shortlist is the constant-size bounded
    * join the ADC scan dwarfs). The calibrated default shouldn't be
    * capped below its own target by the knob the caller didn't pick.
    * Since r11 the inline path goes further: with no reusable stored
    * calibration it runs [[calibrateEndToEnd]], so `refine` here is the
    * STARTING shortlist — doubled as needed until the end-to-end sample
    * recall clears the target (10M hard fixture: rf200 caps at 0.833; the
    * tuned path escalates past it or reports the measured ceiling).
    *
    * @param calibration a persisted [[loadCalibration]] result: reused
    *   (zero calibration jobs — its nprobe AND refine replace the
    *   knobs here) when it [[AnnCalibration.covers]] the request —
    *   target ≥ requested, measured topK ≥ requested, and it actually
    *   met its own target (a calibrateEndToEnd result that capped at
    *   maxRefine below target cannot vouch); otherwise the sample
    *   calibration runs as if absent
    * @param tuneRefine run the full two-knob [[calibrateEndToEnd]] when
    *   no reusable calibration exists (default — the r11 honesty fix:
    *   nprobe-only tuning undershoots when the shortlist binds). `false`
    *   keeps the cheaper probe-only [[calibrate]] for latency-sensitive
    *   callers who manage `refine` themselves: one brute-force sample
    *   scan instead of one-or-more full sample searches per refine
    *   doubling (~100+ s per uncalibrated process at 10M).
    */
  def searchAuto(
      queries: DataFrame,
      coded: DataFrame,
      centroids: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      targetRecall: Double = 0.9,
      topK: Int = 3,
      refine: Int = 200,
      exactScores: Boolean = false,
      calibration: Option[AnnCalibration] = None,
      tuneRefine: Boolean = true,
      residual: Boolean = false): DataFrame = {
    val reuse = calibration.filter(_.covers(targetRecall, topK))
    // no reusable calibration → tune BOTH knobs end-to-end (r11: at 10M
    // the probe curve is flat and the shortlist binds — nprobe-only
    // tuning met its own contract but undershot the caller's target;
    // see calibrateEndToEnd). The tuned rf starts at the caller's value.
    val cal = reuse.getOrElse(
      if (tuneRefine)
        calibrateEndToEnd(coded, centroids, codebooks, emb, idCol, vecCol,
          targetRecall, topK = topK, refine = refine, residual = residual)
      else
        calibrate(coded, centroids, emb, idCol, vecCol,
          targetRecall, topK = topK, refine = refine))
    val rf = if (cal.refine > 0) cal.refine else refine
    search(queries, coded, centroids, codebooks, emb, idCol, vecCol,
      nprobe = cal.nprobe, topK = topK, refine = rf, exactScores = exactScores,
      residual = residual)
  }
}
