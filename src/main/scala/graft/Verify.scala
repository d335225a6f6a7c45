package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // a bad GRAFT_DESAMPLE_MAX_ROWS fails here, naming the variable
    GraftQuery.DesampleMaxRows: Unit
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name-prefix filter for local iteration
    // (driver runs unfiltered); oracle_sql.json stays complete either way
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    // a thrown query must leave a loud artifact, not just a stderr line:
    // the round-7 q37 regression was invisible in CORRECTNESS_r07 because
    // the failed query was simply absent. Write <name>.ERROR next to the
    // results plus a summary errors.json so the driver's compare (and any
    // human diffing the outDir) sees a failure, never a silent shrink.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val desampled = SparkEntry.desampled
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      // a stale marker from a previous run into a reused outDir must not
      // outlive the retry that fixed it — the marker reflects THIS attempt
      Files.deleteIfExists(Paths.get(s"$outDir/$name.ERROR")): Unit
      // only the write decides whether the query passed; the per-invocation
      // checkpoint scratch is freed either way (r16 advice: unreleased
      // blocks accumulate across the 109-query dump)
      val wrote =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        } catch { case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[verify] $name failed: $msg")
          failed(name) = msg
          Files.writeString(Paths.get(s"$outDir/$name.ERROR"), msg + "\n")
          false
        } finally ScratchFrames.release()
      // desample guard: the single-partition final-sort rewrite assumes
      // driver-bounded results — surface a breach loudly at declaration
      // time (count over the written files; footer-metadata cheap). A
      // diagnostic: a failed read is reported, never a failed query.
      if (wrote)
        try GraftQuery
          .desampleOverflow(name, spark.read.parquet(s"$outDir/$name").count(), desampled(name))
          .foreach(msg => System.err.println(s"[verify] DESAMPLE OVERFLOW $msg"))
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name: desample check skipped: $e")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    // exit 0 even on failures — the driver must still get the partial dump
    // + oracle_sql.json for the queries that did run; errors.json and the
    // .ERROR markers carry the failure signal
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
  }
}
