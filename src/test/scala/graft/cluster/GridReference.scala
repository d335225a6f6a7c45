package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The per-level grid fold, pass by pass: the reference build that
  * [[MortonHierarchy]] (the production build, one range shuffle) and the
  * incremental paths ([[IncrementalGrid]], [[IndexStore]] merges and
  * removals) are checked against. It shares every per-pass expression with
  * them through [[GridHierarchy]] — [[GridHierarchy.baseRecords]],
  * [[GridHierarchy.passWide]], [[GridHierarchy.emitLevel]],
  * [[GridHierarchy.nextRecords]] — so equality against it is equality with
  * the per-level semantics [[GridHierarchy]] documents.
  */
object GridReference {
  import GridHierarchy._

  /** Spread the low 32 bits of `v` so bit i lands at position 2i (64-bit
    * Morton half — cell coords can reach 2^27, past [[graft.io.ZOrder]]'s
    * 16-bit spread).
    */
  private def spread32(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    var x = v.bitwiseAND(lit(0xffffffffL))
    x = (x.bitwiseOR(shiftleft(x, 16))).bitwiseAND(lit(0x0000ffff0000ffffL))
    x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00ff00ff00ff00ffL))
    x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
    x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x3333333333333333L))
    (x.bitwiseOR(shiftleft(x, 1))).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Level schema: zoom, mx, my, id, parent_id, point_count, is_cluster,
    * lng, lat — identical to [[LevelRow]], so the query surface
    * (bbox/children/leaves scans) works on either build.
    */
  /** @param idSpace cluster-id offset override (default -1 = the point
    *   count, the standard build). [[IndexStore.removeFrom]]'s
    *   remove ≡ rebuild contract is stated against a rebuild IN THE SAME
    *   ID SPACE: removal never renumbers survivors (ids are stable
    *   identifiers), so the equivalent fresh build of the surviving
    *   points must derive cluster ids from the ORIGINAL total — and
    *   surviving leaf ids may exceed the survivor count, which the
    *   default offset would mis-split into cluster-id territory.
    */
  def build(
      points: DataFrame,
      opts: ClusterOptions = ClusterOptions(),
      lngCol: String = "lng",
      latCol: String = "lat",
      idCol: String = "row_id",
      idSpace: Long = -1L): DataFrame = {
    // Fusion rule for any minPoints: a cell fuses iff it has >= 2 member
    // records AND their summed point mass reaches minPoints (the grid-mode
    // analogue of the reference's "numPoints >= minPoints" gate,
    // arrow-cluster-engine.ts:389-401); a below-threshold multi-member cell
    // passes EVERY member through unchanged — the window formulation keeps
    // all member rows in frame, so per-member passthrough is one WHERE.
    // (Member count >= 2 is required separately so a lone cluster record
    // of mass >= minPoints is not re-wrapped at every coarser level.)
    // the 27-bit-per-axis cell-ID packing below is collision-free only while
    // the finest grid has < 2^27 cells per axis (maxZoom ≲ 23 at the default
    // radius/extent) — beyond that distinct cells would silently alias
    val maxCellsPerAxis =
      math.ceil(opts.extent * math.pow(2.0, opts.maxZoom.toDouble) / opts.radius).toLong
    require(maxCellsPerAxis < (1L << 27),
      s"cell-ID packing holds ${1L << 27} cells per axis but " +
        s"maxZoom=${opts.maxZoom} radius=${opts.radius} extent=${opts.extent} " +
        s"needs $maxCellsPerAxis — lower maxZoom (<= 23 at defaults) or use ClusterEngine")
    val spark = points.sparkSession
    val totalPoints = if (idSpace >= 0L) idSpace else points.count()

    // per-pass checkpoints are SCRATCH once the final union below is
    // materialized: release them (r16 advice — unreleased, every build
    // leaked ~maxZoom levels of blocks into the block manager for the
    // session's lifetime; a suite with dozens of builds accumulated GBs).
    // Caveat shared with localCheckpoint itself: after release, `all`'s
    // partitions can no longer recompute from lineage — its persisted
    // MEMORY_AND_DISK blocks are the single copy (fine in local mode;
    // on a cluster an executor loss already voids any local checkpoint).
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def ckpt(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(); scratch += c; c
    }

    // base level: one record per clean point, f32-quantized mercator coords.
    // Materialized once: the collision probe below, the identity-pass
    // emissions, and the first fusing pass all re-read it.
    var prev = ckpt(baseRecords(points, lngCol, latCol, idCol))

    // ── identity-pass skip: z* = the deepest pass at which ANY two clean
    // points share a grid cell. Cell grids nest dyadically across passes
    // (cell index at z-1 = cellIndex(z) >> 1, exactly, by nested integer
    // floor division), so "shares a cell at z" is "shares a bit prefix",
    // and the deepest-colliding pair is ADJACENT in Morton order of the
    // finest cell coords (longest-common-prefix pairs are lexicographic
    // neighbors). One range-partitioned sort + a per-partition adjacency
    // scan (partition boundary pairs stitched driver-side from nPartitions
    // tiny summaries) finds z* EXACTLY. Every pass deeper than z* fuses
    // nothing — its records are still raw points — so those passes skip
    // their shuffle entirely and re-stamp the base level by projection.
    // At petabyte scale the deepest passes are the most expensive ones and
    // sparse data makes most of them identity; locally this removes ~5 of
    // 17 shuffles at the default zoom ladder.
    val zStar: Int = {
      val rF = opts.radius / (opts.extent * math.pow(2.0, opts.maxZoom.toDouble))
      val sorted = prev.select(
        floor(col("mx") / rF).cast("long").as("cx"),
        floor(col("my") / rF).cast("long").as("cy"))
        .withColumn("m", spread32(col("cx")).bitwiseOR(shiftleft(spread32(col("cy")), 1)))
        .repartitionByRange(col("m"))
        .sortWithinPartitions(col("m"))
      val maxZ = opts.maxZoom
      // (partitionId, local max z, first cx/cy, last cx/cy) — one tiny row
      // per partition reaches the driver
      val partSummaries = sorted.select(col("cx"), col("cy")).toDF()
        .mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val first = it.next()
            var (pcx, pcy) = (first.getLong(0), first.getLong(1))
            val (fcx, fcy) = (pcx, pcy)
            var best = Int.MinValue
            while (it.hasNext) {
              val r = it.next()
              val (cx2, cy2) = (r.getLong(0), r.getLong(1))
              val x = (pcx ^ cx2) | (pcy ^ cy2)
              val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(x)
              best = math.max(best, maxZ - bitlen)
              pcx = cx2; pcy = cy2
            }
            Iterator.single((best, fcx, fcy, pcx, pcy))
          }
        }(org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaInt,
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
        .collect()
      val boundary = partSummaries.sliding(2).collect {
        case Array((_, _, _, lcx, lcy), (_, fcx, fcy, _, _)) =>
          val x = (lcx ^ fcx) | (lcy ^ fcy)
          maxZ - (64 - java.lang.Long.numberOfLeadingZeros(x))
      }
      val all = partSummaries.map(_._1) ++ boundary
      if (all.isEmpty) opts.minZoom - 1 else math.max(all.max, opts.minZoom - 1)
    }

    val levels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    var z = opts.maxZoom
    while (z > zStar && z >= opts.minZoom) {
      // provably-identity pass: no two records share a cell, so the fold
      // output equals its input — emit the level by projection, no shuffle
      levels += prev.select(
        lit(z + 1).as("zoom"), col("mx"), col("my"), col("id"),
        lit(-1L).as("parent_id"), col("point_count"), col("is_cluster"),
        col("lng"), col("lat"), lit(-1L).as("child_rank"))
      z -= 1
    }
    while (z >= opts.minZoom) {
      // ONE shuffle+sort per pass: per-cell aggregates as window functions
      // over the cell key, so the SAME exchange yields (a) the parent/rank
      // stamps every member row needs for the emitted level and (b) the
      // per-cell sums the next level's record needs — the groupBy + later
      // window formulation shuffled every level twice (the window pass
      // deferred to the final union materialization, re-shuffling `prev`
      // after its checkpoint was already paid). Measured at sf0.1 (focused
      // q44, local[32]): 12.6 s two-shuffle → see BENCH.md round-6 note.
      // Fusion gate: >= 2 members AND >= minPoints summed mass (see above).
      //
      // localCheckpoint TRUNCATES the lineage — 17 chained levels would
      // otherwise grow the logical plan exponentially (SURVEY §7.5 #3).
      // Cadence was MEASURED at sf0.1 (q44, local[32]): every level
      // 15.8 s, every 3rd 22 s, every 6th 48 s, never 63 s — the
      // un-checkpointed chains recompute for every consumer and dwarf the
      // barrier cost, so EVERY level is checkpointed; the emitted level
      // below rides the same checkpoint (a pure projection of `wide`), so
      // the final union replays NO shuffle.
      //
      // The per-pass expressions live in [[passWide]]/[[emitLevel]]/
      // [[nextRecords]], SHARED with [[IncrementalGrid.merge]] so the
      // incremental path recomputes affected cells with bit-identical
      // arithmetic by construction.
      val wide = ckpt(passWide(prev, z, opts, totalPoints))
      levels += emitLevel(wide, z, opts)
      prev = nextRecords(wide, opts)
      z -= 1
    }
    levels += prev.select(
      lit(opts.minZoom).as("zoom"), col("mx"), col("my"), col("id"),
      lit(-1L).as("parent_id"), col("point_count"), col("is_cluster"),
      col("lng"), col("lat"), lit(-1L).as("child_rank"))

    val all = levels.reduce(_ unionByName _)
      .persist(StorageLevel.MEMORY_AND_DISK)
    all.count()
    scratch.foreach(
      org.apache.spark.sql.graftbridge.PlanBridge.unpersistCheckpointBlocks(_))
    all
  }
}
