package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer, HttpsConfigurator, HttpsServer}

/** WEBHOOK ingestion — the dozer webhook connector analogue
  * (/root/reference/dozer-ingestion/webhook/src/server.rs: an HTTP
  * server with configured endpoints; POST inserts, PUT updates, DELETE
  * deletes; the JSON body is one row object or an array of row
  * objects; config `WebhookConfig{host, port, endpoints[path, verbs]}`
  * at dozer-types/src/models/ingestion_types.rs:560-588).
  *
  * Spark-native shape: a REAL HTTP server (the JDK's
  * `com.sun.net.httpserver` — zero extra dependencies) that validates
  * each request body with Jackson (shipped with Spark) and pushes one
  * envelope per row into a [[PushBuffer]] channel:
  *
  * {{{ {"verb":"POST","data":{...row...}} }}}
  *
  * The channel is served by [[PushSource]]'s DataSource V2 table, so
  * the webhook feed gets both scan paths for free — batch snapshot and
  * micro-batch streaming with checkpointed resume offsets. Downstream
  * parses `value` with `from_json` and maps verbs onto change ops
  * (POST→Insert, PUT→UpdatePost, DELETE→Delete — the reference's verb
  * contract).
  *
  * Driver-side like every push ingest here: the server and buffer live
  * in the driver JVM and planned partitions embed their rows
  * (PushSource's documented contract); a production deployment backs
  * the same seam with a durable log behind a load balancer.
  *
  * Responses mirror the reference: 200 `{"inserted":n}` on success,
  * 400 on malformed JSON (the row must flag at the edge, not poison
  * the pipeline), 405 on verbs outside the contract.
  */
object WebhookServer {

  final class Handle private[WebhookServer] (server: HttpServer) {
    /** Bound port — pass port=0 to start and let the OS choose. */
    def port: Int = server.getAddress.getPort
    def stop(): Unit = server.stop(0)
  }

  /** Start serving `endpoints` (URL path -> push channel). A small
    * thread pool handles requests — without an executor the JDK server
    * serializes every client on its dispatcher thread; [[PushBuffer]]
    * appends are synchronized per channel, so concurrency is safe and
    * `seq` stays gap-free.
    */
  def start(port: Int, endpoints: Map[String, String],
      threads: Int = 8,
      tls: Option[javax.net.ssl.SSLContext] = None): Handle = {
    // TCP_NODELAY on the server's sockets: without it the JDK server's
    // separate header/body writes hit Nagle + the peer's 40 ms delayed
    // ACK — measured 45 ms/request vs 1.7 ms with nodelay on loopback.
    // ServerConfig snapshots this property on the FIRST HttpServer
    // class load, so it must be set before create(); this object is
    // the library's only HttpServer user.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val addr = new java.net.InetSocketAddress(port)
    // HTTPS: same handlers, same contract — TLS wraps the listener
    val server = tls match {
      case None => HttpServer.create(addr, 0)
      case Some(ctx) =>
        val s = HttpsServer.create(addr, 0)
        s.setHttpsConfigurator(new HttpsConfigurator(ctx))
        s
    }
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      threads,
      r => { val t = new Thread(r, "graft-webhook"); t.setDaemon(true); t }))
    endpoints.foreach { case (path, channel) =>
      server.createContext(path, handler(channel))
    }
    server.start()
    new Handle(server)
  }

  private val Verbs = Set("POST", "PUT", "DELETE")

  private def handler(channel: String): HttpHandler = new HttpHandler {
    // ObjectMapper is thread-safe after configuration; one per endpoint
    private val mapper = new ObjectMapper()

    override def handle(ex: HttpExchange): Unit = {
      val verb = ex.getRequestMethod.toUpperCase
      if (!Verbs(verb)) {
        respond(ex, 405, """{"error":"method not allowed"}""")
      } else {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val rows =
          try {
            val node = mapper.readTree(body)
            if (node == null || node.isMissingNode) None
            else if (node.isArray) {
              val it = node.elements()
              val buf = scala.collection.mutable.ArrayBuffer
                .empty[com.fasterxml.jackson.databind.JsonNode]
              while (it.hasNext) buf += it.next()
              if (buf.forall(_.isObject)) Some(buf.toSeq) else None
            } else if (node.isObject) Some(Seq(node))
            else None
          } catch { case _: Exception => None }
        rows match {
          case None =>
            respond(ex, 400,
              """{"error":"body must be a JSON object or array of objects"}""")
          case Some(rs) =>
            val envs = rs.map { n =>
              val env = mapper.createObjectNode()
              env.put("verb", verb)
              env.set[com.fasterxml.jackson.databind.JsonNode]("data", n)
              mapper.writeValueAsString(env)
            }
            // atomic all-or-nothing append; if the channel is full (the
            // consumer's micro-batch is behind) the client gets 429 +
            // Retry-After instead of the driver growing without bound
            PushBuffer.tryPush(channel, envs) match {
              case Some(_) =>
                respond(ex, 200, s"""{"inserted":${rs.length}}""")
              case None =>
                ex.getResponseHeaders.set("Retry-After", "1")
                respond(ex, 429,
                  """{"error":"ingest channel full, retry later"}""")
            }
        }
      }
    }
  }

  /** Decode a [[PushSource]] webhook feed into change rows: the verb
    * becomes the change op (POST→insert, PUT→update_postimage,
    * DELETE→delete — the reference's verb contract), `seq` becomes the
    * change sequence, and the `data` object lifts into columns via
    * `from_json` with the caller's row schema. Each envelope is parsed
    * ONCE, as `struct<verb, data: rowSchema>` — the decode is the
    * per-change hot path of a catch-up run. Pure column work, so it
    * applies identically to the batch snapshot and the micro-batch
    * stream; feed the result straight into `ChangeModel.applyChanges`
    * or an upsert sink.
    */
  def changes(feed: org.apache.spark.sql.DataFrame,
      rowSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val Op = graft.cdc.ChangeModel
    val envelope = StructType(Seq(
      StructField("verb", StringType), StructField("data", rowSchema)))
    feed.select(
        col("seq").as(Op.SeqCol),
        from_json(col("value"), envelope).as("__e"))
      .select(
        col("__e.data.*"),
        when(col("__e.verb") === "PUT", Op.UpdatePost)
          .when(col("__e.verb") === "DELETE", Op.Delete)
          .otherwise(Op.Insert).as(Op.OpCol),
        col(Op.SeqCol))
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}
