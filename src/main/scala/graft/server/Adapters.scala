package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.engine.FusionEngine
import graft.memory.AgentMemory
import graft.model.CollectionConfig
import graft.providers.Embedder
import graft.rag.RagPipeline
import graft.retrieval.HybridRetriever
import graft.tree.TreeIndex

/** Thin protocol adapters over the engine (reference
  * `/root/reference/src/core/HTTPServer.js:88-177` and
  * `/root/reference/src/mcp/MCPServer.js:50-107`). They add no
  * operators — every handler is a one-line dispatch into the data
  * plane. JSON is deliberately minimal (flat objects, the engine's own
  * emitter/extractor): adapters are interop surface, not a JSON
  * library.
  */
object Adapters {

  // ─── minimal flat JSON ───

  private[server] def jstr(s: String): String = FusionEngine.jstr(s)

  // Field regexes are keyed by a small fixed set of JSON keys but hit
  // on EVERY request — compile once per (pattern) and reuse;
  // Pattern.compile × ~10 per call was a measurable slice of the REST
  // p50 before the serving kernel even ran.
  private val patternCache =
    new java.util.concurrent.ConcurrentHashMap[String, scala.util.matching.Regex]()
  private def cachedRegex(p: String): scala.util.matching.Regex =
    patternCache.computeIfAbsent(p, _.r)

  /** Extract a string field from a FLAT JSON object body. */
  private[server] def jfield(json: String, key: String): Option[String] =
    (cachedRegex(s""""$key"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""").findFirstMatchIn(json)
      .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")))
      .orElse(cachedRegex(s""""$key"\\s*:\\s*(-?[0-9.]+)""").findFirstMatchIn(json).map(_.group(1)))

  private[server] def jint(json: String, key: String, default: Int): Int =
    jfield(json, key).flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(default)

  private[server] def jbool(json: String, key: String, default: Boolean = false): Boolean =
    cachedRegex(s""""$key"\\s*:\\s*(true|false)""").findFirstMatchIn(json)
      .map(_.group(1) == "true").getOrElse(default)

  /** Extract a FLAT string→string object field (`"key":{"a":"b",…}`).
    * The object body is found with a quote-aware scan (not a `[^}]*`
    * regex) so a '}' INSIDE a value cannot truncate the filter — a
    * truncated filter would silently return unfiltered results. */
  private val kvPairRegex =
    """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r

  private[server] def jobj(json: String, key: String): Map[String, String] = {
    val open = cachedRegex(s""""$key"\\s*:\\s*\\{""").findFirstMatchIn(json) match {
      case Some(m) => m.end - 1 // index of '{'
      case None => return Map.empty
    }
    var i = open
    var depth = 0
    var inStr = false
    var esc = false
    var close = -1
    while (i < json.length && close < 0) {
      val c = json.charAt(i)
      if (esc) esc = false
      else if (inStr) {
        if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0) close = i
        case _ =>
      }
      i += 1
    }
    if (close < 0) return Map.empty // unterminated — treat as absent
    val body = json.substring(open + 1, close)
    kvPairRegex.findAllMatchIn(body).map { m =>
      def un(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
      un(m.group(1)) -> un(m.group(2))
    }.toMap
  }
}

/** Engine facade shared by both adapters — the 11-tool / 15-route
  * surface mapped to data-plane calls. */
final class EngineFacade(
    val engine: FusionEngine,
    val embedder: Embedder,
    val memory: AgentMemory,
    val rag: RagPipeline,
    val tree: TreeIndex) {
  import Adapters._
  import engine.spark.implicits._

  private def retriever(collection: String) =
    new HybridRetriever(engine, embedder, collection, Some(tree))

  /** Held shared by reads and exclusively by writes (see [[call]]). */
  private[graft] val lock = new java.util.concurrent.locks.ReentrantReadWriteLock()

  /** Dispatch one operation; returns a JSON string. Unknown op throws.
    * Safe to call from many threads: reads overlap, while a write
    * ([[EngineFacade.WriteOps]]) runs alone, so any pair of calls that
    * involves a write stays serialized. `health` takes no lock. */
  def call(op: String, body: String): String =
    if (op == "health") dispatch(op, body)
    else {
      val l = if (EngineFacade.WriteOps(op)) lock.writeLock() else lock.readLock()
      l.lock()
      try dispatch(op, body) finally l.unlock()
    }

  private def dispatch(op: String, body: String): String = op match {
    case "health" => """{"status":"ok","engine":"graft"}"""

    case "list_collections" =>
      engine.listCollections().map { case (n, c, size) =>
        s"""{"name":${jstr(n)},"dimensions":${c.dimensions},"size":$size}"""
      }.mkString("[", ",", "]")

    case "create_collection" =>
      val name = jfield(body, "name").getOrElse(throw new IllegalArgumentException("name required"))
      val cfg = engine.createCollection(name, CollectionConfig(
        dimensions = jint(body, "dimensions", 768),
        distanceMetric = jfield(body, "distanceMetric").getOrElse("cosine"),
        partitionByTenant = jbool(body, "partitionByTenant"),
        shards = jint(body, "shards", 0)))
      s"""{"name":${jstr(name)},"dimensions":${cfg.dimensions}}"""

    case "insert" =>
      val coll = jfield(body, "collection").getOrElse(throw new IllegalArgumentException("collection required"))
      val id = jfield(body, "id").getOrElse(throw new IllegalArgumentException("id required"))
      val content = jfield(body, "content").getOrElse("")
      val df = graft.providers.Embed.withEmbedding(
        Seq((id, content)).toDF("id", "content"), "content", "vector", embedder)
      engine.insert(coll, df)
      s"""{"inserted":1,"id":${jstr(id)}}"""

    case "search" =>
      val coll = jfield(body, "collection").getOrElse(throw new IllegalArgumentException("collection required"))
      val q = jfield(body, "query").getOrElse(throw new IllegalArgumentException("query required"))
      val topK = jint(body, "topK", 10)
      val qv = embedder.embed(q).map(_.toDouble).toSeq
      val tenant = jfield(body, "tenantId")
      val metaEq = jobj(body, "filter")
      // Interactive surface: answer from the engine's resident serving
      // snapshot when the collection fits (no Spark job — sub-ms kernel
      // vs the per-job scheduling floor); tenant/metadata-equality
      // filters are served too (exact: a row mask the kernel applies
      // in its one scan). Oversized collections fall back to the
      // distributed path. Scores are float-kernel-computed: near-ties
      // may order within the documented float tolerance of the job path
      // (~1e-6 relative at 64-D, grows with dimension).
      engine.serving(coll) match {
        case Some(h) =>
          h.search(qv, topK, tenantId = tenant, metaEq = metaEq).map { hit =>
            s"""{"id":${jstr(hit.id)},"score":${hit.score},"content":${jstr(Option(hit.content).getOrElse(""))}}"""
          }.mkString("[", ",", "]")
        case None =>
          val mf = metaEq.map { case (k, v) => graft.engine.MetadataFilter.eq(k, v) }
            .reduceOption(_ && _)
          rowsJson(engine.search(coll, qv, topK, tenantId = tenant, filter = mf)
            .select($"id", $"score", $"content"))
      }

    case "hybrid_search" =>
      val coll = jfield(body, "collection").getOrElse(throw new IllegalArgumentException("collection required"))
      val q = jfield(body, "query").getOrElse(throw new IllegalArgumentException("query required"))
      rowsJson(retriever(coll).retrieve(q, jint(body, "topK", 10))
        .select($"id", $"fused_score".as("score"), $"content"))

    case "rag_ingest" =>
      val text = jfield(body, "text").getOrElse(throw new IllegalArgumentException("text required"))
      val source = jfield(body, "source").getOrElse("doc")
      val extra = jfield(body, "title").map(t => Map("title" -> t)).getOrElse(Map.empty)
      val n = rag.ingest(Seq((source, text)).toDS(), extraMeta = extra)
      s"""{"chunks":$n}"""

    case "rag_query" =>
      val q = jfield(body, "query").getOrElse(throw new IllegalArgumentException("query required"))
      val (prompt, chunks, _) = rag.packContext(q, topK = jint(body, "topK", 5))
      s"""{"prompt":${jstr(prompt)},"chunks":$chunks}"""

    case "tree_index" =>
      val docId = jfield(body, "docId").getOrElse(throw new IllegalArgumentException("docId required"))
      val content = jfield(body, "content").getOrElse(throw new IllegalArgumentException("content required"))
      val n = tree.indexDocument(docId, content, jfield(body, "format").getOrElse("text"))
      s"""{"docId":${jstr(docId)},"nodes":$n}"""

    case "tree_search" =>
      val q = jfield(body, "query").getOrElse(throw new IllegalArgumentException("query required"))
      rowsJson(tree.searchAll(q, jint(body, "maxResults", 10))
        .select($"node_id".as("id"), $"score", $"content"))

    case "memory_remember" =>
      val agent = jfield(body, "agentId").getOrElse(throw new IllegalArgumentException("agentId required"))
      val content = jfield(body, "content").getOrElse(throw new IllegalArgumentException("content required"))
      val importance = jfield(body, "importance")
        .flatMap(v => scala.util.Try(v.toDouble).toOption).getOrElse(0.5)
      s"""{"id":${jstr(memory.remember(agent, content, importance = importance))}}"""

    case "memory_learn" =>
      val agent = jfield(body, "agentId").getOrElse(throw new IllegalArgumentException("agentId required"))
      val content = jfield(body, "content").getOrElse(throw new IllegalArgumentException("content required"))
      val meta = Seq("source", "category")
        .flatMap(k => jfield(body, k).map(k -> _)).toMap
      s"""{"id":${jstr(memory.learn(agent, content, metadata = meta))}}"""

    case "memory_recall" =>
      val agent = jfield(body, "agentId").getOrElse(throw new IllegalArgumentException("agentId required"))
      val q = jfield(body, "query").getOrElse(throw new IllegalArgumentException("query required"))
      memory.recall(agent, q, topK = jint(body, "topK", 10)).map { case (t, df) =>
        s"${jstr(t)}:${rowsJson(df.select($"id", $"score", $"content"))}"
      }.mkString("{", ",", "}")

    case "memory_share" =>
      val agent = jfield(body, "agentId").getOrElse(throw new IllegalArgumentException("agentId required"))
      val content = jfield(body, "content").getOrElse(throw new IllegalArgumentException("content required"))
      s"""{"id":${jstr(memory.share(agent, content))}}"""

    case "memory_forget" =>
      val agent = jfield(body, "agentId").getOrElse(throw new IllegalArgumentException("agentId required"))
      s"""{"deleted":${memory.forget(agent, jfield(body, "type").getOrElse("all"))}}"""

    case "conversation_add" =>
      val agent = jfield(body, "agentId").getOrElse(throw new IllegalArgumentException("agentId required"))
      val thread = jfield(body, "threadId").getOrElse(throw new IllegalArgumentException("threadId required"))
      memory.addMessage(agent, thread, jint(body, "seq", 0).toLong,
        jfield(body, "role").getOrElse("user"),
        jfield(body, "content").getOrElse(""))
      """{"added":1}"""

    case "conversation_get" =>
      val agent = jfield(body, "agentId").getOrElse(throw new IllegalArgumentException("agentId required"))
      val thread = jfield(body, "threadId").getOrElse(throw new IllegalArgumentException("threadId required"))
      rowsJson(memory.getConversation(agent, thread, jint(body, "limit", 50))
        .select($"seq".as("id"), $"seq".cast("double").as("score"), $"content"))

    case other => throw new NoSuchElementException(s"unknown op: $other")
  }

  /** `(id, score, content)` rows → JSON array. */
  private def rowsJson(df: org.apache.spark.sql.DataFrame): String =
    df.collect().map { r =>
      val id = r.get(0).toString
      val score = r.getDouble(1)
      val content = Option(r.getString(2)).getOrElse("")
      s"""{"id":${jstr(id)},"score":$score,"content":${jstr(content)}}"""
    }.mkString("[", ",", "]")
}

object EngineFacade {
  /** Ops that write, and so run under the facade's write lock.
    * `memory_recall` is one: it appends to the agent access log, and two
    * Spark appends to one parquet directory must not overlap. */
  val WriteOps: Set[String] = Set("create_collection", "insert", "rag_ingest", "tree_index",
    "memory_remember", "memory_learn", "memory_recall", "memory_share", "memory_forget",
    "conversation_add")
}

/** REST adapter on the JDK HttpServer — route table mirroring
  * `HTTPServer.js:88-177`. Requests run on a fixed pool of daemon
  * worker threads (`graft-rest-N`), one per core and at least two, so
  * reads run in parallel; the facade's lock keeps writes serialized. A
  * request body over [[RestServer.MaxBodyBytes]] gets 413; an unexpected
  * failure gets a fixed 500 body, and the exception goes to [[events]]
  * as `request:error`. */
final class RestServer(facade: EngineFacade, port: Int = 0) {
  import Adapters._

  // The JDK HttpServer leaves Nagle's algorithm on; a small
  // headers+body response goes out as two segments and the second
  // stalls behind the peer's delayed ACK — measured ~48 ms p50 per
  // loopback request against a ~1 ms facade. ServerConfig reads this
  // property ONCE, at the first HttpServer.create in the JVM — setting
  // it here (before `server` below) covers every in-repo entry point,
  // but an embedding application that creates its own JDK HttpServer
  // BEFORE constructing a RestServer locks Nagle on for the process
  // (load-order caveat; no per-socket API exists to verify or fix it
  // afterwards — such hosts should set the property at JVM startup).
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** route → facade op (the reference's 15-route surface). */
  val routes: Map[(String, String), String] = Map(
    ("GET", "/health") -> "health",
    ("GET", "/api/collections") -> "list_collections",
    ("POST", "/api/collections") -> "create_collection",
    ("POST", "/api/insert") -> "insert",
    ("POST", "/api/search") -> "search",
    ("POST", "/api/hybrid-search") -> "hybrid_search",
    ("POST", "/api/rag/ingest") -> "rag_ingest",
    ("POST", "/api/rag/query") -> "rag_query",
    ("POST", "/api/tree/index") -> "tree_index",
    ("POST", "/api/tree/search") -> "tree_search",
    ("POST", "/api/memory/remember") -> "memory_remember",
    ("POST", "/api/memory/recall") -> "memory_recall",
    ("POST", "/api/memory/learn") -> "memory_learn",
    ("POST", "/api/memory/share") -> "memory_share",
    ("POST", "/api/memory/forget") -> "memory_forget",
    ("POST", "/api/conversation/add") -> "conversation_add",
    ("POST", "/api/conversation/get") -> "conversation_get")

  // one worker per core, and at least two, so that `/health` is answered
  // while a slow request runs even on a one-core host
  private val workers = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    Executors.newFixedThreadPool(math.max(2, Runtime.getRuntime.availableProcessors()), (r: Runnable) => {
      val t = new Thread(r, s"graft-rest-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.setExecutor(workers)
  server.createContext("/", (ex: HttpExchange) => {
    val key = (ex.getRequestMethod, ex.getRequestURI.getPath)
    val (status, body) = routes.get(key) match {
      case None => (404, s"""{"error":"no route ${key._1} ${key._2}"}""")
      case Some(op) =>
        val in = ex.getRequestBody.readNBytes(RestServer.MaxBodyBytes + 1)
        if (in.length > RestServer.MaxBodyBytes)
          (413, s"""{"error":"request body over ${RestServer.MaxBodyBytes} bytes"}""")
        else try (200, facade.call(op, new String(in, StandardCharsets.UTF_8)))
        catch {
          case e: IllegalArgumentException => (400, s"""{"error":${jstr(e.getMessage)}}""")
          case e: Exception =>
            events.emit("request:error", Map("op" -> op, "error" -> e))
            (500, """{"error":"internal error"}""")
        }
    }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  })

  /** Event hooks (`MCPServer.js:153` emits started {transport, port}
    * on listen; the HTTP surface carries the same hook here), plus
    * `request:error` {op, error} for each request answered 500. */
  val events = new graft.events.EventBus

  def start(): Int = {
    server.start()
    val p = server.getAddress.getPort
    events.emit("started", Map("transport" -> "http", "port" -> p))
    p
  }

  /** Stops accepting, then stops the worker threads. */
  def stop(): Unit = {
    server.stop(0)
    workers.shutdownNow()
    workers.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object RestServer {
  /** Largest request body served; a larger one gets 413 and is not read
    * past this cap. 8 MiB holds a few million characters of document
    * text for `rag/ingest`, far above any request the specs or the
    * bench send, while bounding what one request can make the server
    * buffer. */
  val MaxBodyBytes: Int = 8 << 20
}

/** MCP adapter: the reference's 11-tool manifest
  * (`MCPServer.js:50-107`; note `fusionpact_memory_conversation` is
  * advertised in the reference README but absent from its code —
  * following the code, SURVEY §2.1) with transport-free dispatch. */
final class McpServer(facade: EngineFacade) {
  /** Event hooks (`MCPServer.js:126,153` — started {transport[, port]};
    * this adapter is transport-free, so `start()` marks readiness). */
  val events = new graft.events.EventBus

  /** Transport-free readiness hook (`MCPServer.js:126`). */
  def start(): Unit = events.emit("started", Map("transport" -> "stdio"))

  final case class ToolDef(name: String, description: String, op: String)

  val tools: Seq[ToolDef] = Seq(
    ToolDef("fusionpact_create_collection", "Create a vector collection", "create_collection"),
    ToolDef("fusionpact_list_collections", "List collections", "list_collections"),
    ToolDef("fusionpact_search", "Vector search in a collection", "search"),
    ToolDef("fusionpact_hybrid_search", "Hybrid vector+tree+keyword search", "hybrid_search"),
    ToolDef("fusionpact_rag_ingest", "Chunk, embed and index a document", "rag_ingest"),
    ToolDef("fusionpact_rag_query", "Build LLM-ready context for a query", "rag_query"),
    ToolDef("fusionpact_memory_remember", "Store an episodic memory", "memory_remember"),
    ToolDef("fusionpact_memory_learn", "Store semantic knowledge", "memory_learn"),
    ToolDef("fusionpact_memory_recall", "Recall memories for an agent", "memory_recall"),
    ToolDef("fusionpact_memory_share", "Share a memory across agents", "memory_share"),
    ToolDef("fusionpact_memory_forget", "Erase an agent's memories", "memory_forget"))

  def manifest: String = tools.map(t =>
    s"""{"name":${Adapters.jstr(t.name)},"description":${Adapters.jstr(t.description)}}""")
    .mkString("[", ",", "]")

  def callTool(name: String, argsJson: String): String =
    tools.find(_.name == name) match {
      case Some(t) => facade.call(t.op, argsJson)
      case None => throw new NoSuchElementException(s"unknown tool: $name")
    }
}
