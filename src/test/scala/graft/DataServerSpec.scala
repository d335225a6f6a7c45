package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.DataServer

/** S6 contract (the reference R2 worker, examples/basic/worker/index.ts:26-52):
  * routed GET serves the exact parquet bytes with the content-type / etag /
  * cache-control header trio, unknown paths 404, and If-None-Match
  * revalidates to 304 — then the served bytes round-trip through a real
  * Spark parquet read.
  */
class DataServerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("routed GET serves exact bytes with the R2 worker's header contract") {
    val dir = Files.createTempDirectory("graft_dataserver")
    val pq = dir.resolve("pts.parquet")
    spark.range(1000).selectExpr("id", "id * 2 AS v")
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("out").toString)
    val part = Files.list(dir.resolve("out")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, pq)

    val srv = DataServer.start(Map("/data/pts.parquet" -> pq.toString))
    try {
      val client = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${srv.port}"

      val ok = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/data/pts.parquet")).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(ok.statusCode() == 200)
      assert(ok.headers().firstValue("content-type").get() == "application/vnd.apache.parquet")
      assert(ok.headers().firstValue("cache-control").get() == "public, max-age=86400")
      val etag = ok.headers().firstValue("etag").get()
      assert(etag.startsWith("\"") && etag.endsWith("\""))
      assert(ok.body().toSeq == Files.readAllBytes(pq).toSeq, "served bytes identical")

      // revalidation: etag hit → 304, no body
      val cached = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/data/pts.parquet"))
          .header("If-None-Match", etag).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(cached.statusCode() == 304 && cached.body().isEmpty)

      // unknown route → 404 (worker fallthrough)
      val miss = client.send(
        HttpRequest.newBuilder(URI.create(s"$base/data/other.parquet")).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(miss.statusCode() == 404)

      // end-to-end: the served bytes are a readable parquet dataset
      val dl = Files.createTempFile("graft_served", ".parquet")
      Files.write(dl, ok.body())
      val back = spark.read.parquet(dl.toString)
      assert(back.count() == 1000)
      assert(back.agg(sum(col("v"))).collect()(0).getLong(0) == 999L * 1000L)
    } finally srv.stop()
  }

  test("/clusters serves live bbox queries as Arrow IPC bytes (full serving loop)") {
    import spark.implicits._
    import graft.cluster.{ClusterEngine, ClusterOptions}
    val pts = PointFixtures.uniform(500).toSeq.toDF("row_id", "lng", "lat")
    val idx = ClusterEngine.load(pts, ClusterOptions(radius = 75.0), idCol = Some("row_id"))
    val srv = graft.io.DataServer.start(Map.empty, clusterIndex = Some(idx))
    try {
      def get(query: String): (Int, String, Array[Byte]) = {
        val conn = new java.net.URL(s"http://127.0.0.1:${srv.port}/clusters?$query")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        val code = conn.getResponseCode
        val ct = Option(conn.getHeaderField("content-type")).getOrElse("")
        val is = if (code == 200) conn.getInputStream else conn.getErrorStream
        val bytes = is.readAllBytes(); is.close()
        (code, ct, bytes)
      }
      val (code, ct, bytes) = get("bbox=-120,-40,100,70&zoom=4")
      assert(code == 200 && ct == "application/vnd.apache.arrow.stream")
      // wire bytes → Spark read → exactly the serve-mode rows
      val dir = java.nio.file.Files.createTempDirectory("graft_http_ipc").toString
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-00000.arrows"), bytes)
      val back = graft.io.ArrowIpc.read(spark, dir)
        .collect().map(r => graft.cluster.ClusterRow(
          r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))
      val want = idx.getClustersLocal((-120.0, -40.0, 100.0, 70.0), 4)
      assert(back.toSeq == want.toSeq && back.nonEmpty)
      // malformed queries are 400, not 500/garbage
      assert(get("bbox=1,2,3&zoom=4")._1 == 400)
      assert(get("bbox=1,2,3,x&zoom=4")._1 == 400)
      assert(get("zoom=4")._1 == 400)
    } finally { srv.stop(); idx.unpersist() }
  }

  test("/clusters tiles on a keep-alive connection answer without the delayed-ACK stall") {
    import spark.implicits._
    import graft.cluster.{ClusterEngine, ClusterOptions}
    val pts = PointFixtures.uniform(500).toSeq.toDF("row_id", "lng", "lat")
    val idx = ClusterEngine.load(pts, ClusterOptions(radius = 75.0), idCol = Some("row_id"))
    val srv = DataServer.start(Map.empty, clusterIndex = Some(idx))
    try {
      val url = new java.net.URL(s"http://127.0.0.1:${srv.port}/clusters?bbox=-120,-40,100,70&zoom=4")
      // sequential GETs on one kept-alive connection (each body read to the
      // end so that the client reuses it); with Nagle on, every body waited
      // for the client's delayed ACK, ~40 ms on Linux
      val ms = (1 to 31).map { _ =>
        val t0 = System.nanoTime()
        val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(conn.getResponseCode == 200)
        val is = conn.getInputStream
        try assert(is.readAllBytes().nonEmpty) finally is.close()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(ms.size / 2) < 20.0, s"median tile ${ms(ms.size / 2)} ms; all: ${ms.mkString(", ")}")
      assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
    } finally { srv.stop(); idx.unpersist() }
  }
}
