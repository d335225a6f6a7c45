package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.geo.Mercator

/** Scale-mode multi-resolution hierarchy (SURVEY §7.3 step 7): the
  * shuffle-parallel counterpart of [[ClusterEngine]]'s exact greedy build.
  * This object holds the per-pass grid fold — base records, cell ids, one
  * pass's window aggregates, its emitted level and the next level's
  * records — shared by [[IncrementalGrid]] and [[IndexStore]]'s merges and
  * removals. [[MortonHierarchy.build]] is the production build of the same
  * hierarchy in one range shuffle; the pass-by-pass reference build the
  * specs compare against (GridReference) lives in the test tree.
  *
  * Semantics (documented divergence from the reference's order-dependent
  * greedy pass, which cannot be distributed without changing results): at
  * each zoom z, records of level z+1 are fused by snapping their position
  * to a uniform grid of cell size r(z) = radius/(extent·2^z) — cells with
  * ≥ 2 member records AND ≥ minPoints summed point mass become clusters
  * (weighted centroid, summed counts); cells below the gate pass every
  * member through unchanged, exactly like the greedy pass's passthrough
  * branch. Every level is ONE shuffle (window over the cell key) — the
  * plan scales linearly with executors and is partition-count invariant
  * by construction (no ordering dependence anywhere).
  *
  * Shared invariants with the exact mode (verified in GridHierarchySpec):
  * count conservation per level, children's counts sum to parent's count,
  * parent edges well-formed, leaves keep original coordinates.
  *
  * Cluster IDs: cell-derived `(cellX << 27 | cellY) << 5 | (z+1)` offset by
  * `totalPoints` — same leaf/cluster ID-space split as [[graft.ids.ClusterId]]
  * (leaves = row ids < totalPoints), decodable without a lookup. Builds
  * reject configurations whose finest grid exceeds 2^27 cells per axis
  * (maxZoom ≳ 24 at defaults) — distinct cells would alias otherwise — and
  * wraps lng into [-180, 180) so cell indices are never negative.
  */
object GridHierarchy {

  /** Base-level records — one per clean point: null/NaN geometry dropped,
    * lng wrapped into [-180, 180) (exact identity for in-range values: the
    * subtracted term folds to 0.0; keeps mx in [0, 1) so cell indices are
    * never negative — a negative cellX would break the leaf/cluster ID
    * split), f32-quantized mercator coords. Shared by every build and
    * [[IncrementalGrid.merge]] so ingested batches load identically.
    */
  private[cluster] def baseRecords(
      points: DataFrame, lngCol: String, latCol: String, idCol: String): DataFrame = {
    val lat = col(latCol)
    val lng = {
      val d = col(lngCol).cast("double")
      d - lit(360.0) * floor((d + lit(180.0)) / lit(360.0))
    }
    points
      .where(lng.isNotNull && lat.isNotNull && !isnan(lng) && !isnan(lat))
      .select(
        col(idCol).cast("long").as("id"),
        Mercator.froundCol(Mercator.lngXCol(lng)).as("mx"),
        Mercator.froundCol(Mercator.latYCol(lat.cast("double"))).as("my"),
        lng.as("lng"),
        lat.cast("double").as("lat"))
      .withColumn("point_count", lit(1L))
      .withColumn("is_cluster", lit(false))
  }

  /** Cell-derived cluster id for pass `z` over the `mx`/`my` columns —
    * disjoint from leaf ids (< totalPoints). Shared by every build and
    * [[IncrementalGrid.merge]] (the id is a pure function of position,
    * zoom, and the id-space offset — what makes incremental maintenance
    * possible at all: fusing a cell never renumbers its neighbors).
    */
  private[cluster] def cellIdCol(z: Int, opts: ClusterOptions, totalPoints: Long)
      : org.apache.spark.sql.Column = {
    val r = opts.radius / (opts.extent * math.pow(2.0, z.toDouble))
    val cellX = floor(col("mx") / r).cast("long")
    val cellY = floor(col("my") / r).cast("long")
    (shiftleft(shiftleft(cellX, 27).bitwiseOR(cellY.bitwiseAND(lit((1L << 27) - 1))), 5)
      .bitwiseOR(lit((z + 1).toLong))) + totalPoints
  }

  /** [[cellIdCol]] with the pass zoom taken from a COLUMN — one closed-form
    * expression instead of a zoom-branched CASE, for scans that key rows of
    * many levels at once ([[IncrementalGrid.merge]]'s splice). Bit-equal to
    * the literal form: `pow(2, z)` is exact for every zoom in range, so
    * `radius / (extent * pow(2, z))` reproduces the Scala-folded `r`
    * double-for-double, and the `floor`/packing arithmetic is identical.
    */
  private[cluster] def cellIdColAt(
      zExpr: org.apache.spark.sql.Column,
      opts: ClusterOptions,
      totalPoints: Long): org.apache.spark.sql.Column = {
    val r = lit(opts.radius) / (lit(opts.extent) * pow(lit(2.0), zExpr.cast("double")))
    val cellX = floor(col("mx") / r).cast("long")
    val cellY = floor(col("my") / r).cast("long")
    (shiftleft(shiftleft(cellX, 27).bitwiseOR(cellY.bitwiseAND(lit((1L << 27) - 1))), 5)
      .bitwiseOR((zExpr + 1).cast("long"))) + totalPoints
  }

  private[cluster] def isFusedCol(opts: ClusterOptions): org.apache.spark.sql.Column =
    col("_n_in_cell") >= 2 && col("_sum_cnt") >= opts.minPoints

  /** Pass-z per-cell window aggregates over level-(z+1) records:
    * `_cell_id`, member/mass counts, weighted-position sums, and the
    * per-cell row_number (ascending id) — everything one pass needs to
    * both stamp the emitted level and form the next level's records.
    * f32-quantized weighted centroids downstream (reference precision
    * contract, SURVEY §1.3) — fround also absorbs float-summation-order
    * noise (window vs hash-agg vs DuckDB fold), keeping the build
    * oracle-checkable under ANY execution order.
    */
  private[cluster] def passWide(
      recs: DataFrame, z: Int, opts: ClusterOptions, totalPoints: Long): DataFrame = {
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("_cell_id"))
    val wOrd = wc.orderBy(col("id"))
    recs
      .withColumn("_cell_id", cellIdCol(z, opts, totalPoints))
      .withColumn("_n_in_cell", count(lit(1)).over(wc))
      .withColumn("_sum_cnt", sum(col("point_count")).over(wc))
      .withColumn("_sum_wx", sum(col("mx") * col("point_count")).over(wc))
      .withColumn("_sum_wy", sum(col("my") * col("point_count")).over(wc))
      .withColumn("_rn", row_number().over(wOrd))
  }

  /** The emitted level rows of pass z (zoom label z+1): every member row
    * with its parent/rank stamps. Grid mode has no insertion order;
    * ascending id IS the child order, so the rank is the id on exactly
    * the stamped rows.
    */
  private[cluster] def emitLevel(wide: DataFrame, z: Int, opts: ClusterOptions): DataFrame = {
    val isFused = isFusedCol(opts)
    wide.select(
      lit(z + 1).as("zoom"), col("mx"), col("my"), col("id"),
      when(isFused, col("_cell_id")).otherwise(lit(-1L)).as("parent_id"),
      col("point_count"), col("is_cluster"), col("lng"), col("lat"),
      when(isFused, col("id")).otherwise(lit(-1L)).as("child_rank"))
  }

  /** The next level's records from pass z: one record per FUSED cell (the
    * cluster, `_rn = 1` as the representative row), and every member
    * unchanged for cells below the fusion gate (per-member passthrough —
    * with minPoints <= 2 only singleton cells land here, so `_rn = 1`
    * covers them identically).
    */
  private[cluster] def nextRecords(wide: DataFrame, opts: ClusterOptions): DataFrame = {
    val isFused = isFusedCol(opts)
    val cmx = Mercator.froundCol(col("_sum_wx") / col("_sum_cnt"))
    val cmy = Mercator.froundCol(col("_sum_wy") / col("_sum_cnt"))
    wide.where(col("_rn") === 1 || !isFused).select(
      when(isFused, col("_cell_id")).otherwise(col("id")).as("id"),
      when(isFused, cmx).otherwise(col("mx")).as("mx"),
      when(isFused, cmy).otherwise(col("my")).as("my"),
      when(isFused, Mercator.xLngCol(cmx)).otherwise(col("lng")).as("lng"),
      when(isFused, Mercator.yLatCol(cmy)).otherwise(col("lat")).as("lat"),
      when(isFused, col("_sum_cnt")).otherwise(col("point_count")).as("point_count"),
      when(isFused, lit(true)).otherwise(col("is_cluster")).as("is_cluster"))
  }
}
