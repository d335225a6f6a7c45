package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The desample overflow guard's opt-out, without Spark: a query declared
  * through `sqlLargeResult` keeps its range sort, so a corpus-sized result
  * is its contract and is never reported; every other declared query is
  * reported past the row ceiling.
  */
class GraftQuerySpec extends AnyFunSuite {
  private val never: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("not run")

  test("sqlLargeResult opts out of the desample overflow guard; sql and rowsOnly do not") {
    val large = GraftQuery.sqlLargeResult("large", "SELECT 1")(never)
    assert(!large.desampled)
    assert(large.run eq never, "a large-result query keeps its range sort")
    val over = GraftQuery.DesampleMaxRows + 1
    assert(GraftQuery.desampleOverflow(large.name, over, large.desampled).isEmpty)

    val declared = Seq(GraftQuery.sql("small", "SELECT 1")(never), GraftQuery.rowsOnly("rows")(never))
    declared.foreach { q =>
      assert(q.desampled == !GraftQuery.desampleDisabled)
      assert(GraftQuery.desampleOverflow(q.name, GraftQuery.DesampleMaxRows, q.desampled).isEmpty)
      val msg = GraftQuery.desampleOverflow(q.name, over, q.desampled)
      if (q.desampled) assert(msg.exists(_.contains(q.name)))
      else assert(msg.isEmpty)
    }
  }

  test("every registered query but a sqlLargeResult one is desampled") {
    // none is declared through sqlLargeResult today, so all are checked
    if (!GraftQuery.desampleDisabled)
      assert(SparkEntry.desampled == SparkEntry.queries.keySet)
  }
}
