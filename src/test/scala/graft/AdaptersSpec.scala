package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.FusionEngine
import graft.memory.AgentMemory
import graft.providers.MockEmbedderProvider
import graft.rag.RagPipeline
import graft.server.{EngineFacade, McpServer, RestServer}
import graft.tree.TreeIndex

/** HTTP + MCP adapters (`HTTPServer.js:88-177`, `MCPServer.js:50-107`;
  * behavioral bar from `test/fusionpact.test.js:292-314`: manifest
  * non-empty, tool call works, unknown tool errors). */
class AdaptersSpec extends AnyFunSuite {
  import TestSpark.spark

  private def facade(): EngineFacade = {
    val engine = new FusionEngine(spark, Files.createTempDirectory("graft_srv").toString)
    val embedder = new MockEmbedderProvider(64)
    val memory = new AgentMemory(engine, embedder)
    val rag = new RagPipeline(engine, embedder, chunkSize = 120, chunkOverlap = 20)
    val tree = new TreeIndex(spark, Files.createTempDirectory("graft_srv_tree").toString)
    new EngineFacade(engine, embedder, memory, rag, tree)
  }

  test("create_collection accepts layout options (shards, partitionByTenant)") {
    val engine = new FusionEngine(spark, Files.createTempDirectory("graft_srv").toString)
    val embedder = new MockEmbedderProvider(64)
    val memory = new AgentMemory(engine, embedder)
    val rag = new RagPipeline(engine, embedder, chunkSize = 120, chunkOverlap = 20)
    val tree = new TreeIndex(spark, Files.createTempDirectory("graft_srv_tree").toString)
    val f = new EngineFacade(engine, embedder, memory, rag, tree)
    f.call("create_collection",
      """{"name": "layered", "dimensions": 64, "shards": 8, "partitionByTenant": true}""")
    val cfg = engine.getConfig("layered")
    assert(cfg.shards == 8 && cfg.partitionByTenant && cfg.dimensions == 64)
    // defaults stay off when the options are absent
    f.call("create_collection", """{"name": "plain", "dimensions": 32}""")
    val plain = engine.getConfig("plain")
    assert(plain.shards == 0 && !plain.partitionByTenant)
  }

  test("REST: health, create/insert/search round-trip over a real socket; bad input 400; no route 404") {
    val srv = new RestServer(facade())
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())

      assert(get("/health").body().contains("\"ok\""))
      assert(post("/api/collections", """{"name": "demo", "dimensions": 64}""").statusCode() == 200)
      assert(post("/api/insert",
        """{"collection": "demo", "id": "d1", "content": "chemical safety data sheets"}""").statusCode() == 200)
      val hits = post("/api/search", """{"collection": "demo", "query": "chemical safety", "topK": 3}""")
      assert(hits.statusCode() == 200 && hits.body().contains("\"id\":\"d1\""))
      // filtered search: metadata-equality body filter served (snapshot
      // post-filter); a non-matching filter yields an empty hit list
      assert(post("/api/insert",
        """{"collection": "demo", "id": "d2", "content": "chemical storage rules"}""").statusCode() == 200)
      val filtered = post("/api/search",
        """{"collection": "demo", "query": "chemical safety", "topK": 3, "filter": {"team": "x"}}""")
      assert(filtered.statusCode() == 200 && !filtered.body().contains("\"id\":\"d1\""))
      // a '}' inside a filter value must not truncate the object (a
      // truncated filter would silently return UNFILTERED results)
      val brace = post("/api/search",
        """{"collection": "demo", "query": "chemical safety", "topK": 3, "filter": {"team": "a}b"}}""")
      assert(brace.statusCode() == 200 && !brace.body().contains("\"id\":\"d1\""))

      assert(post("/api/rag/ingest", """{"source": "m.txt", "text": "All employees must complete safety orientation within thirty days of hire. The orientation covers fire evacuation and chemical handling."}""").body().contains("\"chunks\""))
      assert(post("/api/rag/query", """{"query": "safety orientation"}""").body().contains("\"prompt\""))
      assert(post("/api/memory/remember", """{"agentId": "a1", "content": "user prefers metric units"}""").statusCode() == 200)
      assert(post("/api/memory/recall", """{"agentId": "a1", "query": "units"}""").body().contains("episodic"))
      assert(post("/api/conversation/add", """{"agentId": "a1", "threadId": "t1", "seq": 1, "role": "user", "content": "hi"}""").statusCode() == 200)
      assert(post("/api/conversation/get", """{"agentId": "a1", "threadId": "t1"}""").body().contains("hi"))

      // error paths
      assert(post("/api/search", """{"query": "missing collection field"}""").statusCode() == 400)
      assert(post("/api/nope", "{}").statusCode() == 404)
      assert(post("/api/collections", """{"name": "demo"}""").statusCode() == 400) // duplicate -> client error

      // the bench's keep-alive socket client: two sequential posts on
      // ONE connection must parse both responses (a framing bug here
      // would corrupt the headline rest_search_p50_ms metric)
      val ka = new graft.tools.KeepAliveHttp("127.0.0.1", port)
      try {
        val q = """{"collection": "demo", "query": "chemical safety", "topK": 3}"""
        assert(ka.post("/api/search", q).contains("\"id\":\"d1\""))
        assert(ka.post("/api/search", q).contains("\"id\":\"d1\""), "second request on same socket")
      } finally ka.close()
    } finally srv.stop()
  }

  test("KeepAliveHttp: chunked/empty-body responses parse instead of throwing (ADVICE r6)") {
    // JDK HttpServer switches to chunked transfer encoding when a
    // handler answers sendResponseHeaders(status, 0) — the client must
    // surface the (empty) body and keep the connection usable
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/empty", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      ex.sendResponseHeaders(200, 0) // chunked, zero-length body
      ex.getResponseBody.close()
    })
    srv.createContext("/chunky", (ex: com.sun.net.httpserver.HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      ex.sendResponseHeaders(200, 0) // chunked, with payload
      val out = ex.getResponseBody
      out.write("hello ".getBytes("UTF-8")); out.flush()
      out.write("chunks".getBytes("UTF-8"))
      out.close()
    })
    srv.start()
    val ka = new graft.tools.KeepAliveHttp("127.0.0.1", srv.getAddress.getPort)
    try {
      assert(ka.post("/empty", "{}") == "")
      assert(ka.post("/chunky", "{}") == "hello chunks")
      assert(ka.post("/empty", "{}") == "", "connection must survive chunked exchanges")
    } finally { ka.close(); srv.stop(0) }
  }

  test("AiTools: 6 well-formed JSON-Schema definitions + end-to-end executes (test.js:613-648)") {
    import graft.integrations.AiTools
    val f = facade()
    val tools = AiTools.getTools(f)
    assert(tools.length == 6)
    // every definition: name, description, object-typed parameters, required list
    tools.foreach { t =>
      assert(t.name.startsWith("fusionpact_"))
      assert(t.definition.name == t.name)
      assert(t.definition.description.nonEmpty)
      val j = t.definition.json
      assert(j.contains(""""parameters":{"type":"object","properties":{"""), j)
      assert(j.contains(""""required":["""), j)
    }
    // remember execute returns an id (test.js:631-638)
    val res = AiTools.getToolMap(f)("fusionpact_remember")(
      Map("content" -> "User likes dark mode", "importance" -> "0.8"))
    assert(res.contains("\"id\""))
    // recall finds it back through the facade
    val recalled = AiTools.getToolMap(f)("fusionpact_recall")(Map("query" -> "dark mode"))
    assert(recalled.contains("episodic"))
    // ingest + search_documents round-trip over the default collection
    f.call("create_collection", """{"name": "default", "dimensions": 64}""")
    AiTools.getToolMap(f)("fusionpact_ingest_document")(
      Map("text" -> "Fire drills are mandatory each quarter for all staff on every floor."))
    val hits = AiTools.getToolMap(f)("fusionpact_search_documents")(Map("query" -> "fire drills"))
    assert(hits.startsWith("["))
    // forget with enum'd type
    assert(AiTools.getToolMap(f)("fusionpact_forget")(Map("type" -> "all")).contains("deleted"))
  }

  test("MCP: 11-tool manifest, tool call works, unknown tool errors (test.js:292-314)") {
    val f = facade()
    val mcp = new McpServer(f)
    assert(mcp.tools.length == 11)
    assert(mcp.manifest.contains("fusionpact_hybrid_search"))
    val created = mcp.callTool("fusionpact_create_collection", """{"name": "mcp_demo", "dimensions": 64}""")
    assert(created.contains("mcp_demo"))
    assert(mcp.callTool("fusionpact_list_collections", "{}").contains("mcp_demo"))
    assertThrows[NoSuchElementException](mcp.callTool("fusionpact_nope", "{}"))
  }

  test("rag_query reports the chunks packed into the prompt and runs no job beyond building it") {
    val engine = new FusionEngine(spark, Files.createTempDirectory("graft_srv").toString)
    val embedder = new MockEmbedderProvider(64)
    val rag = new RagPipeline(engine, embedder, chunkSize = 120, chunkOverlap = 20)
    val f = new EngineFacade(engine, embedder, new AgentMemory(engine, embedder), rag,
      new TreeIndex(spark, Files.createTempDirectory("graft_srv_tree").toString))
    val text = (1 to 12).map(i => s"Section $i covers safety orientation step $i for new staff.")
      .mkString(" ")
    f.call("rag_ingest", s"""{"text": "$text", "source": "handbook"}""")
    val query = """{"query": "safety orientation", "topK": 4}"""
    f.call("rag_query", query) // warm: first search, snapshot and plan caches

    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b)))
    }
    def inGroup[A](group: String)(body: => A): A = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = inGroup("rag_query")(f.call("rag_query", query))
      val (prompt, _) = inGroup("build_context")(rag.buildContext("safety orientation", topK = 4))
      // the bus delivers in order: once the marker job is seen, so are the above
      inGroup("marker")(spark.range(1).collect())
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.containsKey("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      val chunks = """"chunks":(\d+)""".r.findFirstMatchIn(out).map(_.group(1).toInt)
      // chunk contents are single-line, so "\n\n" separates the pieces
      assert(chunks.contains(prompt.split("\n\n").length))
      assert(chunks.contains(4))
      val (queryJobs, contextJobs) =
        (jobs.getOrDefault("rag_query", 0).intValue, jobs.getOrDefault("build_context", 0).intValue)
      assert(contextJobs > 0 && queryJobs <= contextJobs,
        s"rag_query ran $queryJobs jobs; building its context alone runs $contextJobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
