package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one session every spec shares (one forked test JVM). Two settings
  * only change speed, never results: the generated-code cache holds the
  * whole suite's distinct stages (the default 100 entries thrash, so the
  * same stage recompiles test after test), and explicit file lists are
  * stat-ed on the driver instead of by a one-task-per-file listing job
  * (an IndexStore read names every bucket file of its epoch).
  */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "4000")
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
    .getOrCreate()
}

class RelationalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry (driver t1 smoke): flagship query yields rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs at sf0.001 and yields a stable schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed to execute")
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.columns.distinct.length == df.columns.length, s"$name has duplicate column names")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracleSql without matching query: $extra")
  }

  test("q01 pricing summary groups by returnflag x linestatus") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    val n = df.count()
    assert(n > 0 && n <= 6)
    // count_order column must sum to the filtered lineitem count
    val total = df.agg(org.apache.spark.sql.functions.sum("count_order")).head.getLong(0)
    val expected = Tables.lineitem(spark, sf)
      .where(org.apache.spark.sql.functions.col("l_shipdate") <=
        org.apache.spark.sql.functions.to_timestamp(org.apache.spark.sql.functions.lit("1998-09-02")))
      .count()
    assert(total == expected)
  }

  test("q12 sessionize conserves event counts") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q12_sessionize")(spark, sf)
    val total = df.agg(sum("n_events")).head.getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }
}
