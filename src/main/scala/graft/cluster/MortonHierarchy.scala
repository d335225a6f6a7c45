package graft.cluster

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.geo.Mercator

/** The grid hierarchy ([[GridHierarchy]] semantics, bit-for-bit) in ONE
  * range shuffle instead of one shuffle per zoom level.
  *
  * Why it is possible: positions are f32-quantized at every level, and a
  * fused cell's frounded centroid can never leave its cell (the weighted
  * mean of members lies in [min, max] of the members, both endpoints are
  * f32 fixed points of fround, and floor(x/r) is monotone), so a record's
  * cell at EVERY coarser zoom is the dyadic prefix of its finest-zoom cell
  * — `cell(z) = cell(maxZoom) >> (maxZoom - z)` exactly, by nested integer
  * floor division. Morton-ordering the finest cells therefore makes every
  * cell of every level a CONTIGUOUS run, and the whole 17-level fold
  * becomes a segmented reduction over one sorted scan:
  *
  *   1. project + finest-cell + Morton code (pure map);
  *   2. `repartitionByRange(morton)` + in-partition sort — the ONLY
  *      shuffle, O(total) once instead of O(total) per level;
  *   3. one `mapPartitions` folds all levels sequentially inside each
  *      partition, emitting every level's stamped rows as it goes —
  *      exactly the per-level arithmetic of [[GridHierarchy]] (same sums,
  *      same fround, same ids), just executed on Morton-contiguous runs;
  *   4. cells that touch a partition's first or last Morton code may
  *      continue in a neighbouring partition, so their resolution defers
  *      to a driver merge: ≤ 2 open cells per partition per level, each
  *      shipping either its ≤ 4 child records or (finest level, or any
  *      level where ≥ 2 local members already guarantee fusion) partial
  *      sums — O(partitions × levels) rows total, independent of data
  *      size. The driver replays the identical fold arithmetic on them.
  *
  * 100 TB posture: the per-level formulation shuffles the corpus ~17
  * times (the fine levels barely shrink on sparse data); this shuffles it
  * once and streams each partition in Morton order, with constant-size
  * boundary state per partition — the same plan shape at any scale.
  * Determinism: every sum folds in (morton, id) order, so the build is
  * partition-count invariant by construction (the per-level build relies
  * on fround absorbing shuffle-order noise; here the order is fixed).
  */
object MortonHierarchy {

  /** One record of the fold (any level): position, identity, mass, and its
    * finest-level cell (whose prefixes are its cells at every zoom).
    */
  // NOT `private`: janino-generated UnsafeProjection code instantiates and
  // reads these from outside the object; `private` forces every projection
  // of the build to fall back to interpreted mode (a per-row throughput tax
  // on the 100× path). MortonHierarchySpec pins codegen with a log guard.
  final case class Rec(
      id: Long, mx: Double, my: Double, lng: Double, lat: Double,
      cnt: Long, isCluster: Boolean, fcx: Long, fcy: Long)

  /** Open-cell boundary state, shipped driver-ward through a
    * `CollectionAccumulator` instead of rows in the fold's output — so the
    * fold's ONLY output is the final `LevelRow` dataset, persisted once,
    * instead of an 18-field union row persisted and then re-materialized
    * into a second narrow cache (~35% of warm build time at 1M points).
    *
    * kind 1 = a deferred single member of an open cell; kind 2 = partial
    * sums of an open cell whose fusion is already locally certain.
    *
    * `part` is the producing partition id: accumulator updates from
    * transformations are at-least-once (stage retry, speculative attempt,
    * cache-eviction recompute each re-append a partition's whole packet
    * group), and two DIFFERENT partitions can legitimately emit value-equal
    * packets (duplicate coordinates sharing a finest cell split across a
    * boundary), so dedup must be full-tuple-INCLUDING-part: a repeated
    * (part, …) tuple can only be a replay of the same deterministic task.
    *
    * `id` doubles as the fold-order tie-break: the packet's first member's
    * record id. All members of one finest cell share `ord` (= that cell's
    * Morton code), and each packet covers a CONTIGUOUS run of the global
    * (morton, id) sort, so ordering packet blocks by (ord, id) reproduces
    * the exact global fold order regardless of accumulator arrival order.
    */
  final case class Packet(
      part: Int, kind: Int, z: Int, ccx: Long, ccy: Long,
      id: Long, mx: Double, my: Double, lng: Double, lat: Double,
      cnt: Long, isCluster: Boolean,
      pn: Long, pswx: Double, pswy: Double, ord: Long)

  private def spread(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    (x | (x << 1)) & 0x5555555555555555L
  }
  private def morton(cx: Long, cy: Long): Long = spread(cx) | (spread(cy) << 1)

  /** Same output contract as the per-level grid fold (the specs'
    * reference, GridReference.build): the union of all
    * level tables (zoom maxZoom+1 … minZoom), LevelRow schema — plus the
    * persisted Dataset that BACKS it (the fold output), which is the
    * handle to persist/unpersist: the returned union itself is lazy and
    * cheap (cached fold ∪ tiny local relation).
    */
  def buildCached(
      points: DataFrame,
      opts: ClusterOptions = ClusterOptions(),
      lngCol: String = "lng",
      latCol: String = "lat",
      idCol: String = "row_id"): (DataFrame, Dataset[LevelRow]) = {
    // Fusion rule (any minPoints, same as [[GridHierarchy]]): a cell fuses
    // iff it has >= 2 member records AND their summed mass >= minPoints;
    // below-threshold cells pass every member through unchanged. The
    // prefix-nesting argument is unchanged — passthrough members keep
    // their own (f32 fixed-point) position, fused centroids stay inside
    // their cell, so cell(z) = cell(maxZoom) >> (maxZoom - z) still holds.
    val maxCellsPerAxis =
      math.ceil(opts.extent * math.pow(2.0, opts.maxZoom.toDouble) / opts.radius).toLong
    require(maxCellsPerAxis < (1L << 27),
      s"cell-ID packing holds ${1L << 27} cells per axis but " +
        s"maxZoom=${opts.maxZoom} radius=${opts.radius} extent=${opts.extent} " +
        s"needs $maxCellsPerAxis — lower maxZoom (<= 23 at defaults) or use ClusterEngine")
    val spark = points.sparkSession
    import spark.implicits._

    // dev knob: -Dgraft.build.timing=true prints per-stage wall times
    val timing = java.lang.Boolean.getBoolean("graft.build.timing")
    var tMark = System.nanoTime()
    def mark(label: String): Unit = if (timing) {
      val now = System.nanoTime()
      println(f"[morton] $label%-24s ${(now - tMark) / 1e9}%7.2f s")
      tMark = now
    }

    val lat = col(latCol)
    val lng = {
      val d = col(lngCol).cast("double")
      d - lit(360.0) * floor((d + lit(180.0)) / lit(360.0))
    }
    val totalPoints = points.count()
    mark("input count")
    val minZoom = opts.minZoom
    val maxZoom = opts.maxZoom
    val rFinest = opts.radius / (opts.extent * math.pow(2.0, maxZoom.toDouble))

    // pure map: clean → project → finest cell → Morton. The spread is the
    // same bit-fold as the Scala `morton` above, so Spark's range sort and
    // the in-partition fold agree on the order.
    def spreadCol(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      var x = v.bitwiseAND(lit(0xffffffffL))
      x = (x.bitwiseOR(shiftleft(x, 16))).bitwiseAND(lit(0x0000ffff0000ffffL))
      x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00ff00ff00ff00ffL))
      x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
      x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x3333333333333333L))
      (x.bitwiseOR(shiftleft(x, 1))).bitwiseAND(lit(0x5555555555555555L))
    }
    val base = points
      .where(lng.isNotNull && lat.isNotNull && !isnan(lng) && !isnan(lat))
      .select(
        col(idCol).cast("long").as("id"),
        Mercator.froundCol(Mercator.lngXCol(lng)).as("mx"),
        Mercator.froundCol(Mercator.latYCol(lat.cast("double"))).as("my"),
        lng.as("lng"),
        lat.cast("double").as("lat"))
      .withColumn("fcx", floor(col("mx") / rFinest).cast("long"))
      .withColumn("fcy", floor(col("my") / rFinest).cast("long"))
      .withColumn("_m", spreadCol(col("fcx")).bitwiseOR(shiftleft(spreadCol(col("fcy")), 1)))
      .repartitionByRange(col("_m"), col("id"))
      .sortWithinPartitions(col("_m"), col("id"))

    def cellId(z: Int, cx: Long, cy: Long): Long =
      (((cx << 27) | (cy & ((1L << 27) - 1))) << 5 | (z + 1).toLong) + totalPoints

    val packAcc = spark.sparkContext.collectionAccumulator[Packet]("mortonBoundary")
    val folded: Dataset[LevelRow] = base
      .select(col("id"), col("mx"), col("my"), col("lng"), col("lat"), col("fcx"), col("fcy"))
      .as[(Long, Double, Double, Double, Double, Long, Long)]
      .mapPartitions { it =>
        val part = org.apache.spark.TaskContext.getPartitionId()
        val recs0 = new ArrayBuffer[Rec]()
        it.foreach { case (id, mx, my, lg, lt, fcx, fcy) =>
          recs0 += Rec(id, mx, my, lg, lt, 1L, isCluster = false, fcx, fcy)
        }
        if (recs0.isEmpty) Iterator.empty
        else {
          // a cell is OPEN (may continue in a neighbour) iff it contains
          // the partition's first or last finest Morton code — fixed per
          // partition, valid at every level by prefix nesting
          val loFcx = recs0.head.fcx; val loFcy = recs0.head.fcy
          val hiFcx = recs0.last.fcx; val hiFcy = recs0.last.fcy

          var cur = recs0
          val levelIter = (maxZoom to minZoom by -1).iterator.flatMap { z =>
            val out = new ArrayBuffer[LevelRow]()
            val shift = maxZoom - z
            val openLo = (loFcx >> shift, loFcy >> shift)
            val openHi = (hiFcx >> shift, hiFcy >> shift)
            val next = new ArrayBuffer[Rec](cur.length)
            var i = 0
            val n = cur.length
            while (i < n) {
              val ccx = cur(i).fcx >> shift
              val ccy = cur(i).fcy >> shift
              var j = i
              while (j < n && (cur(j).fcx >> shift) == ccx && (cur(j).fcy >> shift) == ccy) j += 1
              val m = j - i
              val open = (ccx, ccy) == openLo || (ccx, ccy) == openHi
              // mass decides fusion alongside member count, so sum it first
              var cnt = 0L; var swx = 0.0; var swy = 0.0
              var k = i
              while (k < j) {
                val r = cur(k)
                cnt += r.cnt; swx += r.mx * r.cnt; swy += r.my * r.cnt
                k += 1
              }
              val fuseLocal = m >= 2 && cnt >= opts.minPoints
              if (!open) {
                if (fuseLocal) {
                  val cid = cellId(z, ccx, ccy)
                  k = i
                  while (k < j) {
                    val r = cur(k)
                    out += LevelRow(z + 1, r.mx, r.my, r.id, cid, r.cnt,
                      r.isCluster, r.lng, r.lat, r.id)
                    k += 1
                  }
                  val cmx = Mercator.fround(swx / cnt)
                  val cmy = Mercator.fround(swy / cnt)
                  next += Rec(cid, cmx, cmy, Mercator.xLng(cmx), Mercator.yLat(cmy),
                    cnt, isCluster = true, cur(i).fcx, cur(i).fcy)
                } else {
                  // below the fusion gate: every member passes through
                  k = i
                  while (k < j) {
                    val r = cur(k)
                    out += LevelRow(z + 1, r.mx, r.my, r.id, -1L, r.cnt,
                      r.isCluster, r.lng, r.lat, -1L)
                    next += r
                    k += 1
                  }
                }
              } else {
                // open cell: fate decided at the driver merge. When the
                // LOCAL members already satisfy the fusion gate, global
                // fusion is certain (mass and member count only grow) —
                // emit their stamped rows here and ship partial sums.
                // Otherwise defer every local member: whether they fuse
                // depends on the neighbour partitions, and there are at
                // most minPoints - 1 of them (each has mass >= 1).
                if (fuseLocal) {
                  val cid = cellId(z, ccx, ccy)
                  k = i
                  while (k < j) {
                    val r = cur(k)
                    out += LevelRow(z + 1, r.mx, r.my, r.id, cid, r.cnt,
                      r.isCluster, r.lng, r.lat, r.id)
                    k += 1
                  }
                  packAcc.add(Packet(part, 2, z, ccx, ccy, cur(i).id,
                    0.0, 0.0, 0.0, 0.0, cnt, isCluster = false,
                    m.toLong, swx, swy, morton(cur(i).fcx, cur(i).fcy)))
                } else {
                  k = i
                  while (k < j) {
                    val r = cur(k)
                    packAcc.add(Packet(part, 1, z, ccx, ccy, r.id,
                      r.mx, r.my, r.lng, r.lat, r.cnt, r.isCluster,
                      0L, 0.0, 0.0, morton(r.fcx, r.fcy)))
                    k += 1
                  }
                }
                // the open cell's records (if any) are driver-owned from here
              }
              i = j
            }
            cur = next
            out.iterator
          }
          // final level: survivors of the minZoom pass
          val tail = () => cur.iterator.map(r =>
            LevelRow(minZoom, r.mx, r.my, r.id, -1L, r.cnt, r.isCluster,
              r.lng, r.lat, -1L))
          levelIter ++ tail()
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    folded.count()
    mark("fold + cache write")

    // ── driver merge of the open-cell boundary state ─────────────────────
    // ordId = the tie-break record id paired with ord: the id of the
    // contribution's FIRST underlying record in the global (morton, id)
    // sort. Members of one finest cell share ord, so (ord, ordId) — not
    // ord alone — is what makes the merge order total, deterministic, and
    // independent of accumulator arrival order.
    final case class DRec(id: Long, mx: Double, my: Double, lng: Double,
      lat: Double, cnt: Long, isCluster: Boolean, ord: Long, ordId: Long)
    // full-tuple distinct (incl. `part`) drops task-replay duplicates
    // exactly (see Packet doc); sort makes the merge input deterministic
    val packets: Seq[Packet] = {
      import scala.jdk.CollectionConverters._
      packAcc.value.asScala.toSeq.distinct.sortBy(p => (p.z, p.ord, p.id))
    }
    mark("packet dedupe")
    val emitted = new ArrayBuffer[LevelRow]()
    // records resolved at the previous (deeper) pass, keyed by their cell
    // at the CURRENT level — a parent cell can receive up to 4 of them
    var carried = Map.empty[(Long, Long), Seq[DRec]]
    var z = maxZoom
    while (z >= minZoom) {
      val here = packets.filter(_.z == z)
      val keys = here.map(o => (o.ccx, o.ccy)).toSet ++ carried.keySet
      val nextCarried = scala.collection.mutable.Map.empty[(Long, Long), List[DRec]]
      keys.toSeq.sorted.foreach { key =>
        val (ccx, ccy) = key
        val members = here.filter(o => o.kind == 1 && (o.ccx, o.ccy) == key)
          .map(o => DRec(o.id, o.mx, o.my, o.lng, o.lat, o.cnt, o.isCluster,
            o.ord, o.id))
          .toBuffer ++ carried.getOrElse(key, Seq.empty)
        val partials = here.filter(o => o.kind == 2 && (o.ccx, o.ccy) == key)
        val mTotal = members.size + partials.map(_.pn).sum
        val massTotal = members.map(_.cnt).sum + partials.map(_.cnt).sum
        // partials exist only when a partition proved fusion locally, so
        // their presence implies the gate already passed; the explicit mass
        // check covers the all-kind-1 case under minPoints > 2
        val resolved: Seq[DRec] =
          if (mTotal >= 2 && massTotal >= opts.minPoints) {
            val cid = cellId(z, ccx, ccy)
            // fold in global record order — members and partials interleave
            // by (ord, ordId): each contribution covers a CONTIGUOUS run of
            // the base sort (morton, id), so ordering the blocks by their
            // first record's (morton, id) reproduces the sequential fold
            // exactly, for any partitioning and any packet arrival order
            val contributions: Seq[((Long, Long), Either[DRec, Packet])] =
              (members.map(m => ((m.ord, m.ordId), Left(m): Either[DRec, Packet])) ++
                partials.map(p => ((p.ord, p.id), Right(p): Either[DRec, Packet])))
                .sortBy(_._1).toSeq
            var cnt = 0L; var swx = 0.0; var swy = 0.0
            contributions.map(_._2).foreach {
              case Left(m) =>
                emitted += LevelRow(z + 1, m.mx, m.my, m.id, cid, m.cnt,
                  m.isCluster, m.lng, m.lat, m.id)
                cnt += m.cnt; swx += m.mx * m.cnt; swy += m.my * m.cnt
              case Right(p) =>
                cnt += p.cnt; swx += p.pswx; swy += p.pswy
            }
            val cmx = Mercator.fround(swx / cnt)
            val cmy = Mercator.fround(swy / cnt)
            // the resolved record's (ord, ordId) is its first contribution's
            // — finest-scale coordinates, so shallower-level folds keep
            // interleaving in true record order no matter where partition
            // boundaries fell (a cell-scale morton(ccx,ccy) would be
            // incomparable with finest-scale ords)
            Seq(DRec(cid, cmx, cmy, Mercator.xLng(cmx), Mercator.yLat(cmy),
              cnt, isCluster = true,
              contributions.head._1._1, contributions.head._1._2))
          } else {
            // below the fusion gate ⇒ no partials (a partial implies local
            // certainty): every member passes through and carries forward
            val ms = members.sortBy(m => (m.ord, m.ordId)).toSeq
            ms.foreach { m =>
              emitted += LevelRow(z + 1, m.mx, m.my, m.id, -1L, m.cnt,
                m.isCluster, m.lng, m.lat, -1L)
            }
            ms
          }
        val pkey = (ccx >> 1, ccy >> 1)
        nextCarried(pkey) = nextCarried.getOrElse(pkey, Nil) ++ resolved
      }
      carried = nextCarried.toMap.map { case (k, v) => k -> (v: Seq[DRec]) }
      z -= 1
    }
    carried.toSeq.sortBy(_._1).foreach { case (_, rs) =>
      rs.foreach { r =>
        emitted += LevelRow(minZoom, r.mx, r.my, r.id, -1L, r.cnt, r.isCluster,
          r.lng, r.lat, -1L)
      }
    }

    val levelCols = Seq("zoom", "mx", "my", "id", "parent_id", "point_count",
      "is_cluster", "lng", "lat", "child_rank")
    // the fold's output IS the final LevelRow data: no second
    // materialization — the already-persisted `folded` unions with the
    // (tiny, O(partitions × levels)) driver-resolved local rows lazily.
    // `folded` is the cache handle: unpersisting the union plan would not
    // free it (CacheManager matches plans by sameResult), so callers that
    // manage the cache go through [[buildCached]].
    val all = folded.toDF()
      .unionByName(spark.createDataFrame(emitted.toSeq).select(levelCols.map(col): _*))
    mark("driver merge")
    (all, folded)
  }

  /** [[buildCached]]'s result projected to just the level table — the
    * persisted fold backs it; callers that need to free the cache should
    * use [[buildCached]] and unpersist the handle.
    */
  def build(
      points: DataFrame,
      opts: ClusterOptions = ClusterOptions(),
      lngCol: String = "lng",
      latCol: String = "lat",
      idCol: String = "row_id"): DataFrame =
    buildCached(points, opts, lngCol, latCol, idCol)._1
}
