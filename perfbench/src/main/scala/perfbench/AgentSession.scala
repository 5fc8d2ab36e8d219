package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.retrieval.HybridRetriever
import graft.server.McpServer

/** The agent session: one agent's turns through the MCP tool surface
  * (`McpServer.callTool`). A turn ingests one note into the RAG
  * collection, searches for it, remembers, recalls, runs a hybrid search
  * and a rag_query, then deletes the note ingested two turns earlier (in
  * the first two turns, a chunk of the seeded corpus), so the collection
  * keeps its size. Writes invalidate the resident snapshot;
  * recall, hybrid and rag_query run Spark jobs. */
object AgentSession {
  val RagDocs = 700
  val DocChars = 1100
  val TreeDocs = 2
  val TreeSections = 16
  val Agents = 4
  val EpisodicPerAgent = 60
  val SemanticPerAgent = 20
  val SharedMemories = 30
  val Agent = "agent-0"
  val Rag = "rag_documents"
  val WarmupTurns = 1
  val Turns = 3
  val Ops = Seq("ingest", "search", "remember", "recall", "hybrid", "rag_query", "delete")

  // ─── inputs ───

  def ragDocs(seed: Long): Seq[(String, String)] = (0 until RagDocs).map { d =>
    (f"doc$d%05d", Gen.prose(Gen.rng(seed, 300, d), DocChars))
  }

  /** Markdown with `TreeSections` headed sections at two levels. */
  def treeDoc(seed: Long, d: Int): String = {
    val r = Gen.rng(seed, 301, d)
    (0 until TreeSections).map { s =>
      val h = if (s % 6 == 0) "#" else "##"
      s"$h ${Gen.words(r, 3).capitalize}\n\n${Gen.prose(r, 400)}"
    }.mkString("\n\n")
  }

  final case class Memory(id: String, agent: String, kind: String, content: String)

  def memories(seed: Long): Seq[Memory] =
    (0 until Agents).flatMap { a =>
      val r = Gen.rng(seed, 302, a)
      (0 until EpisodicPerAgent).map(i => Memory(s"mem-ep-$a-$i", s"agent-$a", "episodic",
        s"Observed ${Gen.words(r, 10)}")) ++
        (0 until SemanticPerAgent).map(i => Memory(s"mem-se-$a-$i", s"agent-$a", "semantic",
          s"Fact: ${Gen.words(r, 10)}"))
    } ++ {
      val r = Gen.rng(seed, 303)
      (0 until SharedMemories).map(i => Memory(s"mem-sh-$i", s"agent-${i % Agents}", "shared",
        s"Shared: ${Gen.words(r, 10)}"))
    }

  /** What one turn sends. The note is shorter than a chunk, so it is
    * ingested as exactly one chunk whose text is the note itself. */
  final case class Turn(t: Int, source: String, note: String, memory: String,
                        hybridQuery: String, ragQuery: String) {
    def chunkId: String = s"${source}_chunk_0"
  }

  def turn(seed: Long, t: Int): Turn = {
    val r = Gen.rng(seed, 304, t)
    Turn(t, s"turn$t", s"Session note $t tag s${seed}t$t. ${Gen.prose(r, 300)}",
      s"Turn $t decided to ${Gen.words(r, 12)}", Gen.words(r, 4), Gen.words(r, 6))
  }

  // ─── set-up ───

  def setUp(spark: SparkSession, root: Path, docs: DataFrame, mems: DataFrame, seed: Long): Graft = {
    import spark.implicits._
    val g = Graft.create(spark, root.toString)
    g.rag.ingest(docs.as[(String, String)], countAfter = false)
    (0 until TreeDocs).foreach(d => g.tree.indexDocument(s"guide$d", treeDoc(seed, d), "markdown"))
    g.memory.init()
    Seq("episodic", "semantic", "shared").foreach { kind =>
      val rows = mems.filter($"kind" === kind)
      val meta = map(lit("_content"), $"content", lit("_agent_id"), $"agent",
        lit("_type"), lit(kind), lit("_importance"), lit("0.5"))
      val embedded = graft.providers.Embed.withEmbedding(
        rows.select($"id", $"content", $"agent", meta.as("metadata")), "content", "vector", g.embedder)
      val withTenant =
        if (kind == "shared") embedded.drop("agent")
        else embedded.withColumnRenamed("agent", "tenant_id")
      g.engine.insert(s"_memory_$kind", withTenant)
    }
    require(g.engine.serving(Rag).isDefined, "RAG collection has no serving snapshot")
    g
  }

  // ─── one turn ───

  final class Session(val g: Graft, seed: Long, val r: Result, counters: SparkCounters) {
    val mcp: McpServer = g.mcpServer()
    val json = new ObjectMapper()
    private val sc = g.engine.spark.sparkContext
    /** Spark work of each op call, charged through the call's job group. */
    val work: Map[String, ArrayBuffer[SparkCounters.Work]] =
      Ops.map(_ -> ArrayBuffer.empty[SparkCounters.Work]).toMap
    /** Op and turn wall times from turn `WarmupTurns` on. They feed no
      * metric: they are logged to stderr as the op p50s against which the
      * README sets the layer timings (its layer-coverage figures). */
    val opMs: Map[String, ArrayBuffer[Double]] = (Ops :+ "turn").map(_ -> ArrayBuffer.empty[Double]).toMap
    val deleted = ArrayBuffer.empty[String]
    var expectedRows: Long = g.engine.count(Rag)

    private def call(tool: String, args: String): JsonNode = {
      r.attempted += 1
      try json.readTree(mcp.callTool(s"fusionpact_$tool", args))
      catch {
        case e: Exception =>
          r.failed += 1
          Log(s"$tool failed: $e")
          null
      }
    }

    /** One turn; each op runs in its own Spark job group. */
    def turn(t: Int): Unit = {
      val tr = AgentSession.turn(seed, t)
      val times = ArrayBuffer.empty[(String, Double)]
      def op(name: String)(f: => Unit): Unit = {
        val group = s"agent.$name#$t"
        val (_, ms) = Clock.timed(SparkCounters.charged(sc, group)(f))
        work(name) += counters.of(sc, group)
        times += name -> ms
      }
      op("ingest") {
        val n = call("rag_ingest", s"""{"text":"${tr.note}","source":"${tr.source}"}""")
        expectedRows += 1
        if (n != null) r.check(n.get("chunks").asLong == expectedRows,
          s"turn $t: rag_ingest reports ${n.get("chunks")} rows, expected $expectedRows")
      }
      op("search") {
        val hits = call("search", s"""{"collection":"$Rag","query":"${tr.note}","topK":5}""")
        if (hits != null) {
          val ids = hits.elements().asScala.map(_.get("id").asText).toSeq
          r.check(ids.headOption.contains(tr.chunkId),
            s"turn $t: search for the new note returned ${ids.take(3)} first, not ${tr.chunkId}")
          r.check(!ids.exists(deleted.contains), s"turn $t: search returned a deleted id")
        }
      }
      var memId = ""
      op("remember") {
        val m = call("memory_remember", s"""{"agentId":"$Agent","content":"${tr.memory}","importance":0.7}""")
        if (m != null) memId = m.get("id").asText
      }
      op("recall") {
        val rc = call("memory_recall", s"""{"agentId":"$Agent","query":"${tr.memory}","topK":5}""")
        if (rc != null) {
          val ep = Option(rc.get("episodic")).map(_.elements().asScala.toSeq).getOrElse(Nil)
          r.check(ep.exists(h => h.get("id").asText == memId && h.get("content").asText == tr.memory),
            s"turn $t: recall does not return the memory just remembered ($memId)")
        }
      }
      op("hybrid") {
        val hs = call("hybrid_search", s"""{"collection":"$Rag","query":"${tr.hybridQuery}","topK":10}""")
        if (hs != null) {
          val ids = hs.elements().asScala.map(_.get("id").asText).toSeq
          r.check(ids.nonEmpty && ids.length <= 10, s"turn $t: hybrid_search returned ${ids.length} hits")
          r.check(!ids.exists(deleted.contains), s"turn $t: hybrid_search returned a deleted id")
        }
      }
      op("rag_query") {
        val q = call("rag_query", s"""{"query":"${tr.ragQuery}","topK":5}""")
        if (q != null) {
          val pieces = q.get("prompt").asText.split("\n\n").toSeq.filter(_.nonEmpty)
          val tokens = pieces.map(p => math.ceil(p.length / 4.0)).sum
          r.check(q.get("chunks").asLong <= 5 && q.get("chunks").asLong >= 1,
            s"turn $t: rag_query packed ${q.get("chunks")} chunks")
          r.check(tokens <= 4000, s"turn $t: rag_query prompt is $tokens tokens, budget 4000")
        }
      }
      op("delete") {
        val gone =
          if (t >= 2) AgentSession.turn(seed, t - 2).chunkId
          else f"doc$t%05d_chunk_0"
        r.attempted += 1
        val n = g.engine.deleteByIds(Rag, Seq(gone))
        r.check(n == 1, s"turn $t: deleteByIds($gone) deleted $n rows")
        expectedRows -= n
        deleted += gone
      }
      Log(s"turn $t: " + times.map { case (k, v) => f"$k $v%.0f" }.mkString(" "))
      if (t >= WarmupTurns) {
        times.foreach { case (k, v) => opMs(k) += v }
        opMs("turn") += times.map(_._2).sum
      }
    }

    /** Deleted chunks never come back: not stored, and a deleted note's own
      * text no longer finds it. */
    def checkDeleted(): Unit = {
      val h = g.engine.serving(Rag).get
      deleted.foreach { id =>
        r.check(!g.engine.has(Rag, id), s"deleted $id is still stored")
        if (id.startsWith("turn")) {
          val t = id.stripPrefix("turn").stripSuffix("_chunk_0").toInt
          val q = g.embedder.embed(AgentSession.turn(seed, t).note).map(_.toDouble).toSeq
          r.check(!h.search(q, 5).exists(_.id == id), s"deleted $id is still served")
        }
      }
      r.check(g.engine.count(Rag) == expectedRows,
        s"collection has ${g.engine.count(Rag)} rows, expected $expectedRows")
    }
  }

  // ─── traced session ───

  /** Runs the agent session once, traced, and adds its per-layer metrics
    * to `r`: the Spark work of each MCP op, charged through job groups,
    * then the module calls each op makes, timed one by one. Its
    * end-to-end figures go to stderr only; the agent session is not a
    * benchmark workload of its own, because its timings did not repeat
    * within a bound from run to run on the reference machine (README). */
  def traceInto(spark: SparkSession, o: Options, counters: SparkCounters, r: Result): Unit = {
    import spark.implicits._
    val docs = ragDocs(o.seed).toDF("doc_id", "text").repartition(o.cores).localCheckpoint(true)
    val mems = memories(o.seed).toDF("id", "agent", "kind", "content").localCheckpoint(true)
    val (g, setupMs) = Clock.timed(setUp(spark, o.workDir.resolve("agent"), docs, mems, o.seed))
    val s = new Session(g, o.seed, r, counters)
    Log(f"agent set-up ${setupMs / 1e3}%.3f s; RAG collection: ${s.expectedRows} chunks")
    // the first turn pays one-off JIT and code-cache costs and is not timed
    (0 until Turns).foreach(s.turn)
    Log("agent turn p50 ms: " + s.opMs.map { case (k, v) => f"$k ${Stats.median(v)}%.1f" }.mkString(", "))
    s.checkDeleted()
    Ops.foreach(op => SparkCounters.emit(r, s"agent.$op", s.work(op).toSeq))
    layers(r, s, Turns, o)
  }

  /** Per-layer timings: the calls each MCP op makes, timed one by one
    * from outside (traced mode), once each. It writes one note, then
    * deletes it, so the collection ends where it started. */
  private def layers(r: Result, s: Session, firstTurn: Int, o: Options): Unit = {
    val g = s.g
    val spark = g.engine.spark
    import spark.implicits._
    val m = ArrayBuffer.empty[(String, Double)]
    def time[A](name: String)(f: => A): A = {
      val (a, ms) = Clock.timed(f)
      m += name -> ms
      a
    }
    val tr = AgentSession.turn(o.seed, firstTurn)
    val qv = g.embedder.embed(tr.ragQuery).map(_.toDouble).toSeq
    time("rag.ingest_ms")(g.rag.ingest(Seq((tr.source, tr.note)).toDS(), countAfter = false))
    time("engine.count_ms")(g.engine.count(Rag))
    time("engine.snapshot_rebuild_ms")(g.engine.serving(Rag))
    time("memory.remember_ms")(g.memory.remember(Agent, tr.memory, importance = 0.7))
    time("memory.recall_ms")(g.memory.recall(Agent, tr.memory, topK = 5).values.foreach(_.collect()))
    time("engine.search_job_ms")(g.engine.search(Rag, qv, 5).collect())
    val ret = new HybridRetriever(g.engine, g.embedder, Rag, Some(g.tree))
    val branches = Seq("vector", "tree", "keyword").map { st =>
      time(s"retriever.${st}_ms")(ret.retrieve(tr.hybridQuery, 10, strategy = st).collect())
    }
    // fuse over the three branches' rows, already local
    val local = branches.zip(Seq("vector", "tree", "keyword")).map { case (rows, st) =>
      rows.toSeq.map(x => (x.getString(0), x.getDouble(1), x.getString(2), st))
        .toDF("id", "score", "content", "strategy")
    }
    time("retriever.fuse_ms")(HybridRetriever.fuse(local, 10, (0.4, 0.4, 0.2), 60).collect())
    time("rag.build_context_ms")(g.rag.buildContext(tr.ragQuery, topK = 5))
    time("engine.delete_ms")(g.engine.deleteByIds(Rag, Seq(tr.chunkId)))
    (0 until 25).foreach(i => time(if (i < 5) "warm" else "spark.job_floor_ms")(spark.range(1).count()))
    m.groupBy(_._1).foreach { case (k, v) =>
      if (k != "warm") r.metric(k, Stats.median(v.map(_._2)), "ms")
    }
    val (_, files) = Files2.du(Path.of(g.root, Rag), ".parquet")
    r.metric("engine.data_files", files.toDouble, "count")
    Log("layer p50 ms: " + m.groupBy(_._1).map { case (k, v) => f"$k ${Stats.median(v.map(_._2))}%.1f" }
      .mkString(", "))
  }
}
