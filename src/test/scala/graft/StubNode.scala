package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.HeliumFixtures

/** In-process stub blockchain node speaking the reference's JSON-RPC
  * protocol (client.py:55-82: result unwrap, error −100 for missing
  * blocks/txns), serving the Helium fixtures over real HTTP. `flaky`
  * seeds per-hash failure budgets: transaction_get for those hashes
  * answers −100 that many times before succeeding — the reference's
  * "couldn't find transaction...retrying" path (follower.py:58-69).
  */
object StubNode {
  def withServer[A](flaky: Map[String, Int] = Map.empty,
                    tipCap: Long = Long.MaxValue,
                    extraBlocks: Map[Long, String] = Map.empty,
                    prunedHeights: Set[Long] = Set.empty,
                    extraPayloads: Map[String, String] = Map.empty)(
      f: String => A): A =
    withServerImports(flaky, tipCap, extraBlocks, prunedHeights,
      extraPayloads) { (endpoint, _) => f(endpoint) }

  /** Variant that also records ArangoDB-style bulk-import POSTs
    * (path incl. query string, raw body bytes) so specs can assert the
    * exact wire shape the sink produced. `tipCap` clamps the
    * block_height answer below the fixture maximum — a node whose tip
    * has not advanced yet (the capstone kill/restart spec).
    * `extraBlocks` extends the served chain past the shared fixtures
    * (e.g. a tip block with an empty transaction list — the empty-tail
    * epoch case the offset-derived partition naming must survive).
    * `prunedHeights` count toward the block_height tip but block_get
    * for them PERMANENTLY answers −100 — a node that has pruned (or
    * persistently errors below) its own tip, the whole-epoch-failure
    * edge the retry-then-skip path turns into an empty envelope.
    */
  def withServerImports[A](flaky: Map[String, Int] = Map.empty,
                           tipCap: Long = Long.MaxValue,
                           extraBlocks: Map[Long, String] = Map.empty,
                           prunedHeights: Set[Long] = Set.empty,
                           extraPayloads: Map[String, String] = Map.empty)(
      f: (String, java.util.Queue[(String, String)]) => A): A =
    withServerCore(flaky, tipCap, extraBlocks, prunedHeights,
      extraPayloads) { (endpoint, imports, _, _) => f(endpoint, imports) }

  /** Variant exposing the tip as a MUTABLE AtomicLong (initially
    * `tipCap`): FollowerBench's tail mode advances it one height at a
    * time to measure per-block end-to-end latency with the follower
    * AT TIP — the block_height answer is min(maxKnownHeight, tip),
    * exactly the static cap's algebra with the cap now a dial.
    */
  def withServerTip[A](tipCap: Long,
                       extraBlocks: Map[Long, String] = Map.empty,
                       extraPayloads: Map[String, String] = Map.empty)(
      f: (String, java.util.concurrent.atomic.AtomicLong) => A): A =
    withServerCore(Map.empty, tipCap, extraBlocks, Set.empty,
      extraPayloads) { (endpoint, _, tip, _) => f(endpoint, tip) }

  /** Variant that also counts the JSON-RPC requests served so far, per
    * method (`requests("block_get")`), so specs can pin exactly how
    * many RPCs a fetch path issues.
    */
  def withServerCounts[A](f: (String, String => Long) => A): A =
    withServerCore(Map.empty, Long.MaxValue, Map.empty, Set.empty,
      Map.empty) {
      (endpoint, _, _, requests) => f(endpoint, requests)
    }

  private def withServerCore[A](flaky: Map[String, Int],
                                tipCap: Long,
                                extraBlocks: Map[Long, String],
                                prunedHeights: Set[Long],
                                extraPayloads: Map[String, String])(
      f: (String, java.util.Queue[(String, String)],
          java.util.concurrent.atomic.AtomicLong, String => Long) => A): A = {
    val tip = new java.util.concurrent.atomic.AtomicLong(tipCap)
    val blocks = HeliumFixtures.blockJsonByHeight ++ extraBlocks
    val payloads = HeliumFixtures.payloadByHash ++ extraPayloads
    val mapper = new ObjectMapper
    val flakyRemaining = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    flaky.foreach { case (k, v) => flakyRemaining.put(k, v) }
    val imports = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val served = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.LongAdder]

    def handle(ex: HttpExchange): Unit = {
      val raw = new String(
        ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (ex.getRequestMethod == "GET") {
        // inventory index + snapshot endpoints (loaders.py:22-26 shape)
        val path = ex.getRequestURI.getPath
        val (code, body) =
          if (path.endsWith("/inventories/latest.json"))
            (200,
              s"""{"gateway_inventory":"${HeliumFixtures.inventoryCsvName}"}""")
          else if (path.endsWith(HeliumFixtures.inventoryCsvName))
            (200, HeliumFixtures.inventoryCsv.mkString("\n"))
          else (404, """{"error":"not found"}""")
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
        return
      }
      if (ex.getRequestURI.getPath.startsWith("/_db/")) {
        // ArangoDB _api/import analog: record and acknowledge
        imports.add((ex.getRequestURI.toString, raw))
        val ack = """{"error":false,"created":0}"""
          .getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(201, ack.length)
        ex.getResponseBody.write(ack)
        ex.close()
        return
      }
      val req = mapper.readTree(raw)
      val id = req.get("id").asLong()
      served.computeIfAbsent(req.get("method").asText(),
        _ => new java.util.concurrent.atomic.LongAdder).increment()
      val result: Either[Int, String] = req.get("method").asText() match {
        case "block_height" =>
          Right(math.min(
            (blocks.keys ++ prunedHeights).max, tip.get()).toString)
        case "block_get" =>
          val h = req.get("params").get("height").asLong()
          if (prunedHeights(h)) Left(-100)
          else blocks.get(h).toRight(-100)
        case "transaction_get" =>
          val hash = req.get("params").get("hash").asText()
          val left = flakyRemaining.getOrDefault(hash, 0)
          if (left > 0) { flakyRemaining.put(hash, left - 1); Left(-100) }
          else payloads.get(hash).toRight(-100)
        case _ => Left(-32601)
      }
      val body = result match {
        case Right(r) => s"""{"jsonrpc":"2.0","id":$id,"result":$r}"""
        case Left(code) =>
          s"""{"jsonrpc":"2.0","id":$id,"error":{"code":$code,"message":"nope"}}"""
      }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", handle _)
    // Concurrent handling (the default null executor serializes every
    // request on the dispatch thread): a real node serves parallel
    // fetches, and FollowerBench's executor fan-out must measure the
    // pipeline, not a single-threaded stub.
    val pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    server.start()
    val requests = (method: String) =>
      Option(served.get(method)).fold(0L)(_.sum())
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/", imports, tip,
      requests)
    finally { server.stop(0); pool.shutdown() }
  }
}
