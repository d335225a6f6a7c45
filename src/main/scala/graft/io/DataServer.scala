package graft.io

import java.nio.file.{Files, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Minimal HTTP data server (S6 — the reference's R2 worker,
  * `examples/basic/worker/index.ts:26-52`): a fixed route table mapping URL
  * paths to local parquet files, served as range-less GETs with the same
  * header contract — `content-type: application/vnd.apache.parquet`, a
  * strong `etag`, and `cache-control: public, max-age=86400` (immutable per
  * dataset version → cache aggressively). Unknown paths are 404, matching
  * the worker's fallthrough; `If-None-Match` revalidation answers 304 with
  * no body, which is what the etag exists for.
  *
  * Optionally also serves a LIVE cluster index at
  * `/clusters?bbox=minLng,minLat,maxLng,maxLat&zoom=z` as Arrow IPC stream
  * bytes (`application/vnd.apache.arrow.stream`) — the reference's whole
  * interactive loop (worker serves bytes, engine answers pan/zoom queries
  * from typed arrays) in one process: serve-mode snapshot probe
  * ([[graft.cluster.ClusterIndex.getClustersLocalBatch]], no Spark job) →
  * [[ArrowIpc.writeBatchBytes]] → wire. Malformed queries are 400.
  *
  * JDK-built-in `com.sun.net.httpserver` only — no added dependencies. This
  * is the data-DISTRIBUTION edge of the system, not the engine: at scale
  * the same role is played by object storage (`spark.read.parquet("s3a://…")`),
  * which is why the engine never reads THROUGH this server; it exists so a
  * reference user's serving setup has a drop-in counterpart.
  */
final class DataServer private (server: HttpServer) {
  def port: Int = server.getAddress.getPort
  def stop(): Unit = server.stop(0)
}

object DataServer {

  /** Responses go out without Nagle's algorithm. The JDK server writes the
    * headers and the body of a response in two writes; with Nagle on, the
    * small second write waits for the ACK of the first, and the client
    * delays that ACK by ~40 ms. A `/clusters` tile cost ~44 ms p50 that
    * way, against ~0.2 ms for the probe and the Arrow encode; without
    * Nagle it costs ~0.2 ms.
    *
    * The property is JVM-global and the JDK reads it once, when its
    * `sun.net.httpserver.ServerConfig` class loads (at the first
    * `HttpServer.create` in the JVM), so it is set here, in this object's
    * initializer, ahead of [[start]]. A value given on the command line
    * (`-Dsun.net.httpserver.nodelay=false`) is kept.
    */
  private val NoDelayProperty = "sun.net.httpserver.nodelay"
  if (System.getProperty(NoDelayProperty) == null)
    System.setProperty(NoDelayProperty, "true")

  /** Start serving `routes` (url path → local file path) on `port`
    * (0 = ephemeral), plus the live `/clusters` endpoint when an index is
    * given. Files are read per request — the server holds no file handles
    * between requests.
    */
  def start(
      routes: Map[String, String],
      port: Int = 0,
      clusterIndex: Option[graft.cluster.ClusterIndex] = None): DataServer = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (exchange: HttpExchange) => {
      try handle(exchange, routes, clusterIndex)
      finally exchange.close()
    })
    server.setExecutor(null) // single-threaded is plenty for a fixture server
    server.start()
    new DataServer(server)
  }

  private def handleClusters(
      exchange: HttpExchange, index: graft.cluster.ClusterIndex): Unit = {
    val params = Option(exchange.getRequestURI.getQuery).getOrElse("")
      .split("&").iterator.map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    val parsed =
      try {
        val bbox = params.get("bbox").map(_.split(",").map(_.toDouble)).filter(_.length == 4)
        val zoom = params.get("zoom").map(_.toInt)
        for (b <- bbox; z <- zoom) yield ((b(0), b(1), b(2), b(3)), z)
      } catch { case _: NumberFormatException => None }
    parsed match {
      case None =>
        val body = "Bad Request: need bbox=minLng,minLat,maxLng,maxLat&zoom=z".getBytes("UTF-8")
        exchange.sendResponseHeaders(400, body.length.toLong)
        exchange.getResponseBody.write(body)
      case Some((bbox, zoom)) =>
        val bytes = ArrowIpc.writeBatchBytes(index.getClustersLocalBatch(bbox, zoom))
        val h = exchange.getResponseHeaders
        h.set("content-type", "application/vnd.apache.arrow.stream")
        h.set("cache-control", "no-cache") // live query, not an immutable file
        exchange.sendResponseHeaders(200, bytes.length.toLong)
        exchange.getResponseBody.write(bytes)
    }
  }

  private def handle(
      exchange: HttpExchange,
      routes: Map[String, String],
      clusterIndex: Option[graft.cluster.ClusterIndex]): Unit = {
    val path = exchange.getRequestURI.getPath
    clusterIndex match {
      case Some(index) if path == "/clusters" => return handleClusters(exchange, index)
      case _ => ()
    }
    routes.get(path) match {
      case None =>
        val body = "Not Found".getBytes("UTF-8")
        exchange.sendResponseHeaders(404, body.length.toLong)
        exchange.getResponseBody.write(body)
      case Some(file) =>
        val p = Paths.get(file)
        if (!Files.isRegularFile(p)) {
          val body = "Not Found".getBytes("UTF-8")
          exchange.sendResponseHeaders(404, body.length.toLong)
          exchange.getResponseBody.write(body)
        } else {
          // strong etag from (size, mtime) — stable for an immutable dataset
          // version, cheap to compute, changes whenever the file does
          val etag =
            s""""${Files.size(p)}-${Files.getLastModifiedTime(p).toMillis}""""
          val h = exchange.getResponseHeaders
          h.set("etag", etag)
          h.set("content-type", "application/vnd.apache.parquet")
          h.set("cache-control", "public, max-age=86400")
          val ifNoneMatch = exchange.getRequestHeaders.getFirst("If-None-Match")
          if (ifNoneMatch != null && ifNoneMatch == etag) {
            exchange.sendResponseHeaders(304, -1L)
          } else {
            val bytes = Files.readAllBytes(p)
            exchange.sendResponseHeaders(200, bytes.length.toLong)
            exchange.getResponseBody.write(bytes)
          }
        }
    }
  }
}
