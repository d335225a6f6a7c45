package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability exposed through the driver contract.
  *
  * @param name   stable key (drives `SparkEntry.queries` / CORRECTNESS_r{N})
  * @param run    Spark implementation; `dir` is the scale-factor data dir
  * @param oracle equivalent DuckDB SQL over the same parquet tables, when the
  *               operation is SQL-expressible (None → driver does a weaker
  *               rows-only check)
  * @param desampled whether `run` carries the single-partition final-sort
  *               rewrite, and so the driver-bounded-result invariant that
  *               [[GraftQuery.desampleOverflow]] checks
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    desampled: Boolean)

object GraftQuery {
  def sql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, desampled(run), Some(oracle), !desampleDisabled)
  def rowsOnly(name: String)(run: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, desampled(run), None, !desampleDisabled)

  /** Opt-out constructor for a query whose ordered RESULT is corpus-sized
    * (none today — largest declared result is 15k rows): the final sort
    * stays a range sort so the output never funnels through one task. The
    * single-partition rewrite's driver-bounded-result invariant, which
    * [[desampleOverflow]] enforces at runtime for every other query
    * (checked by Bench and Verify), does not apply to it.
    */
  def sqlLargeResult(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): GraftQuery =
    GraftQuery(name, run, Some(oracle), desampled = false)

  /** `GRAFT_NO_DESAMPLE=1` disables the final-sort rewrite (any other value,
    * including `0`, leaves it ON — value-checked, not presence-checked). */
  private[graft] def desampleDisabled: Boolean =
    sys.env.get("GRAFT_NO_DESAMPLE").contains("1")

  /** Row ceiling the single-partition rewrite relies on: every declared
    * result is a driver-bounded report. Bench/Verify check each executed
    * result against this and report loudly past it — a future corpus-sized
    * ordered result surfaces at declaration time instead of silently
    * serializing through one task toward the 2 GB partition limits. */
  private[graft] lazy val DesampleMaxRows: Long =
    envLong("GRAFT_DESAMPLE_MAX_ROWS", 10L * 1000 * 1000)

  /** A whole-number environment variable, `default` when unset; a bad
    * value fails with the variable's name and the value, not a bare
    * NumberFormatException. */
  private[graft] def envLong(name: String, default: Long): Long =
    sys.env.get(name).fold(default) { v =>
      v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$name must be a whole number, got '$v'"))
    }

  /** Non-empty message when a desampled query's executed row count breaks
    * the driver-bounded-result invariant the rewrite relies on; `desampled`
    * is the query's [[GraftQuery.desampled]] flag. */
  private[graft] def desampleOverflow(
      name: String, rows: Long, desampled: Boolean): Option[String] =
    if (desampled && rows > DesampleMaxRows)
      Some(s"$name: $rows result rows exceed GRAFT_DESAMPLE_MAX_ROWS=" +
        s"$DesampleMaxRows — a result this large should keep its range " +
        "sort (declare it via GraftQuery.sqlLargeResult)")
    else None

  /** Every declared query ends in a presentation `orderBy` over a
    * driver-bounded report. A global sort costs a RangePartitioner sampling
    * job that re-executes the child's final stage (for map-only plans, the
    * whole pipeline) before the real pass — rewrite that one root Sort to a
    * single-partition local sort with identical output (see
    * [[org.apache.spark.sql.graftbridge.PlanBridge.desampleFinalSort]]).
    */
  private def desampled(
      run: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    if (desampleDisabled) run
    else (spark, dir) =>
      org.apache.spark.sql.graftbridge.PlanBridge.desampleFinalSort(run(spark, dir))
}
