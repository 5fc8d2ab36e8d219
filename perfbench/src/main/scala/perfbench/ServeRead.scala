package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Graft
import graft.model.CollectionConfig
import graft.server.{EngineFacade, RestServer}
import graft.text.MockEmbedder

/** `serve_read`: closed-loop `POST /api/search` from `cores` keep-alive
  * clients against a 10k × 64-d cosine collection served from the
  * engine's resident snapshot. One request in eight carries a tenant or a
  * metadata filter. No Spark job runs per request. */
object ServeRead extends Workload {
  val Rows = 10000
  val Dim = 64
  val Clusters = 32
  val Spread = 0.9
  val Tenants = 8
  val Categories = 6
  val Langs = Seq("en", "de", "fr")
  val Collection = "vectors"
  val TopK = 10
  val SpecCount = 4096
  /** Unrecorded closed loop before the timed one: the request path (HTTP,
    * facade, kernel) is still being compiled for 5–15 s of traffic after
    * the set-ups, and a shorter warm-up leaves that in the timed loop. */
  val WarmupSeconds = 6.0
  /** Set-ups per run (≈ 3 s each once warm); `setup_s` is their median,
    * so the first, cold one does not set it. */
  val SetupReps = 5
  val TraceSetupReps = 2

  // ─── inputs ───

  final case class RowMeta(id: String, tenant: String, category: String, lang: String, content: String)

  def rowMeta(seed: Long, i: Long): RowMeta = {
    val r = Gen.rng(seed, 104, i)
    RowMeta(f"v$i%06d", "t" + r.nextInt(Tenants), "c" + r.nextInt(Categories),
      Langs(r.nextInt(Langs.length)), Gen.words(r, 8))
  }

  /** A request: query text plus at most one filter. */
  final case class Spec(query: String, tenant: Option[String], category: Option[String]) {
    def filtered: Boolean = tenant.isDefined || category.isDefined
    def body: String = {
      val sb = new StringBuilder(s"""{"collection":"$Collection","query":"$query","topK":$TopK""")
      tenant.foreach(t => sb ++= s""","tenantId":"$t"""")
      category.foreach(c => sb ++= s""","filter":{"category":"$c"}""")
      sb ++= "}"
      sb.toString
    }
  }

  def specs(seed: Long): IndexedSeq[Spec] = (0 until SpecCount).map { q =>
    val r = Gen.rng(seed, 200, q)
    val text = Gen.words(r, 3 + r.nextInt(6))
    if (r.nextInt(8) != 0) Spec(text, None, None)
    else if (r.nextBoolean()) Spec(text, Some("t" + r.nextInt(Tenants)), None)
    else Spec(text, None, Some("c" + r.nextInt(Categories)))
  }

  private val schema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("vector", ArrayType(FloatType)),
    StructField("tenant_id", StringType),
    StructField("content", StringType),
    StructField("metadata", MapType(StringType, StringType))))

  /** The collection's rows, generated executor-side and materialized once
    * so each set-up repetition inserts the same checkpointed input. */
  def input(spark: SparkSession, seed: Long, parts: Int): DataFrame = {
    val mix = new Gen.Mixture(seed, Dim, Clusters, Spread)
    val rdd = spark.sparkContext.range(0L, Rows.toLong, 1L, parts).map { i =>
      val m = rowMeta(seed, i)
      Row(m.id, mix.row(i).toSeq, m.tenant, m.content, Map("category" -> m.category, "lang" -> m.lang))
    }
    spark.createDataFrame(rdd, schema).localCheckpoint(true)
  }

  // ─── set-up ───

  final class Stack(val g: Graft, val facade: EngineFacade, val server: RestServer, val port: Int) {
    def stop(): Unit = server.stop()
  }

  final case class SetupTimes(total: Double, insert: Double, snapshot: Double)

  def setUp(spark: SparkSession, root: Path, in: DataFrame): (Stack, SetupTimes) = {
    val t0 = System.nanoTime()
    val g = Graft.create(spark, root.toString)
    g.engine.createCollection(Collection, CollectionConfig(dimensions = Dim, distanceMetric = "cosine"))
    val (_, insertMs) = Clock.timed(g.engine.insert(Collection, in))
    val (h, snapMs) = Clock.timed(g.engine.serving(Collection))
    require(h.exists(_.size == Rows), s"serving snapshot missing or wrong size: ${h.map(_.size)}")
    val facade = new EngineFacade(g.engine, g.embedder, g.memory, g.rag, g.tree)
    val server = new RestServer(facade)
    val port = server.start()
    (new Stack(g, facade, server, port), SetupTimes(Clock.ms(t0) / 1e3, insertMs / 1e3, snapMs / 1e3))
  }

  // ─── closed loop ───

  /** Latencies of one closed loop, bucketed into one-second windows by
    * request start. Rate, p50 and p99 are medians over the windows of each
    * window's figure, so a burst of machine noise a few seconds long moves
    * them less than pooled figures. */
  final case class LoopStats(windows: Seq[Seq[Double]], failed: Long) {
    def latMs: Seq[Double] = windows.flatten
    def qps: Double = Stats.median(windows.map(_.length.toDouble))
    def p50: Double = Stats.median(windows.map(w => Stats.median(w)))
    def p99: Double = Stats.median(windows.map(w => Stats.quantile(w, 0.99)))
  }

  /** `clients` keep-alive clients, each sending `specs` in its own fixed
    * order, for `warmupS` unrecorded then `seconds` recorded. A request
    * counts in the window it started in. */
  def closedLoop(port: Int, specs: IndexedSeq[Spec], clients: Int,
                 warmupS: Double, seconds: Double): LoopStats = {
    val measuring = new AtomicBoolean(false)
    val stop = new AtomicBoolean(false)
    val lat = Array.fill(clients)(ArrayBuffer.empty[(Long, Double)])
    val fails = new Array[Long](clients)
    val bodies = specs.map(_.body)
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val http = new Http(port)
        try {
          var j = c
          while (!stop.get()) {
            val rec = measuring.get()
            val t0 = System.nanoTime()
            val ok =
              try http.post("/api/search", bodies(j % bodies.length))._1 == 200
              catch { case _: java.io.IOException => false }
            val t1 = System.nanoTime()
            if (rec) {
              lat(c) += ((t0, (t1 - t0) / 1e6))
              if (!ok) fails(c) += 1
            }
            j += clients
          }
        } finally http.close()
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    Thread.sleep((warmupS * 1000).toLong)
    val start = System.nanoTime()
    measuring.set(true)
    Thread.sleep((seconds * 1000).toLong)
    measuring.set(false)
    stop.set(true)
    threads.foreach(_.join())
    val all = lat.flatten.toSeq
    val windows = (0 until math.max(1, seconds.toInt)).map { w =>
      val (lo, hi) = (start + w * 1000000000L, start + (w + 1) * 1000000000L)
      all.collect { case (t, ms) if t >= lo && t < hi => ms }
    }.filter(_.nonEmpty)
    LoopStats(windows, fails.sum)
  }

  // ─── checks ───

  /** REST top-k for sampled queries (filtered ones included) against a
    * brute-force top-k over the regenerated vectors. */
  def check(r: Result, port: Int, seed: Long, specs: IndexedSeq[Spec]): Unit = {
    val mix = new Gen.Mixture(seed, Dim, Clusters, Spread)
    val vecs = Array.tabulate(Rows)(i => Gen.unit(mix.row(i).map(_.toDouble)))
    val metas = Array.tabulate(Rows)(i => rowMeta(seed, i))
    val sample = specs.filterNot(_.filtered).take(40) ++ specs.filter(_.filtered).take(24)
    val json = new ObjectMapper()
    val http = new Http(port)
    val tol = 1e-4
    try sample.foreach { s =>
      val q = Gen.unit(MockEmbedder.embed(s.query, Dim).map(_.toDouble))
      val eligible = (0 until Rows).filter(i =>
        s.tenant.forall(_ == metas(i).tenant) && s.category.forall(_ == metas(i).category))
      val scores = eligible.map { i =>
        val v = vecs(i)
        var d = 0.0
        var k = 0
        while (k < Dim) { d += v(k) * q(k); k += 1 }
        (i, d)
      }
      val expect = scores.sortBy { case (i, d) => (-d, i) }.take(TopK)
      val (status, body) = http.post("/api/search", s.body)
      r.check(status == 200, s"search ${s.body} -> HTTP $status")
      if (status == 200) {
        val hits = json.readTree(body).elements().asScala.toSeq
        r.check(hits.length == expect.length,
          s"search ${s.body}: ${hits.length} hits, expected ${expect.length}")
        r.check(hits.map(_.get("id").asText).distinct.length == hits.length, s"duplicate ids: $body")
        hits.zip(expect).zipWithIndex.foreach { case ((h, (_, es)), rank) =>
          val id = h.get("id").asText
          val score = h.get("score").asDouble
          r.check(math.abs(score - es) <= tol,
            f"search ${s.body}: rank ${rank + 1} score $score%.6f, brute force $es%.6f")
          val i = if (id.startsWith("v")) scala.util.Try(id.drop(1).toInt).getOrElse(-1) else -1
          r.check(i >= 0 && i < Rows, s"unknown id $id")
          if (i >= 0 && i < Rows) {
            val m = metas(i)
            r.check(s.tenant.forall(_ == m.tenant) && s.category.forall(_ == m.category),
              s"search ${s.body}: hit $id fails the filter")
            r.check(h.get("content").asText == m.content, s"hit $id: wrong content")
            var d = 0.0
            var k = 0
            while (k < Dim) { d += vecs(i)(k) * q(k); k += 1 }
            r.check(math.abs(score - d) <= tol, f"hit $id: score $score%.6f, brute force $d%.6f")
          }
        }
      }
    } finally http.close()
  }

  // ─── run ───

  /** A set-up stack under load: `setupReps` set-ups (the last one kept),
    * then a closed loop from `cores` clients, then the output checks. */
  final case class Measured(stack: Stack, setups: Seq[SetupTimes], loop: LoopStats, readJobs: Long)

  def measure(spark: SparkSession, o: Options, counters: SparkCounters, r: Result,
              setupReps: Int, seconds: Double): Measured = {
    val in = input(spark, o.seed, o.cores)
    val sp = specs(o.seed)
    // set up `setupReps` times from an empty root; keep the last
    val setups = ArrayBuffer.empty[SetupTimes]
    var stack: Stack = null
    for (k <- 0 until setupReps) {
      if (stack != null) { stack.stop(); Files2.deleteTree(Path.of(stack.g.root)) }
      val (s, t) = setUp(spark, o.workDir.resolve(s"serve_$k"), in)
      Log(f"setup $k: ${t.total}%.3f s (insert ${t.insert}%.3f s, snapshot ${t.snapshot}%.3f s)")
      stack = s
      setups += t
    }
    try {
      val jobs0 = counters.allJobs(spark.sparkContext)
      val loop = closedLoop(stack.port, sp, o.cores, WarmupSeconds, seconds)
      val readJobs = counters.allJobs(spark.sparkContext) - jobs0
      r.attempted += loop.latMs.length
      r.failed += loop.failed
      Log(f"read: ${loop.latMs.length} requests, window medians p50 ${loop.p50}%.3f ms, " +
        f"p99 ${loop.p99}%.3f ms, ${loop.qps}%.1f req/s; spark jobs $readJobs")
      check(r, stack.port, o.seed, sp)
      Measured(stack, setups.toSeq, loop, readJobs)
    } catch {
      case e: Throwable => stack.stop(); throw e
    }
  }

  def run(spark: SparkSession, o: Options, counters: SparkCounters): Result = {
    val r = new Result
    val m = measure(spark, o, counters, r, SetupReps, o.seconds)
    try {
      val (stored, _) = Files2.du(Path.of(m.stack.g.engine.root, Collection))
      r.metric("setup_s", Stats.median(m.setups.map(_.total)), "s")
      r.metric("throughput_per_s", m.loop.qps, "1/s")
      r.metric("latency_p50_ms", m.loop.p50, "ms")
      r.metric("latency_p99_ms", m.loop.p99, "ms")
      r.metric("stored_bytes_per_vector", stored.toDouble / Rows, "B")
    } finally m.stack.stop()
    r
  }

  /** Traced mode: fewer set-ups and a shorter loop than [[run]], since the
    * traced run measures every workload's layers (see [[Main]]). */
  def traceInto(spark: SparkSession, o: Options, counters: SparkCounters, r: Result): Unit = {
    val m = measure(spark, o, counters, r, TraceSetupReps, o.seconds / 2.0)
    try layers(r, m.stack, specs(o.seed), o, m.loop, m.readJobs, m.setups)
    finally {
      m.stack.stop()
      Files2.deleteTree(Path.of(m.stack.g.root))
    }
  }

  /** Per-layer breakdown of one REST search (traced mode). */
  private def layers(r: Result, st: Stack, sp: IndexedSeq[Spec], o: Options,
                     loop: LoopStats, readJobs: Long, setups: Seq[SetupTimes]): Unit = {
    val one = closedLoop(st.port, sp, 1, 1.0, math.max(2.0, o.seconds / 3.0))
    r.attempted += one.latMs.length
    r.failed += one.failed
    val rtt = one.p50
    val plain = sp.filterNot(_.filtered)
    val filtered = sp.filter(_.filtered)
    def p50(n: Int)(f: Int => Any): Double = {
      (0 until math.min(n, 200)).foreach(f) // warm
      Stats.median((0 until n).map(i => Clock.timed(f(i))._2))
    }
    val e = st.g.engine
    val h = e.serving(Collection).get
    val qvs = plain.map(s => st.g.embedder.embed(s.query).map(_.toDouble).toSeq)
    val facadeMs = p50(2000)(i => st.facade.call("search", plain(i % plain.length).body))
    val embedMs = p50(4000)(i => st.g.embedder.embed(plain(i % plain.length).query))
    val checkMs = p50(4000)(_ => e.serving(Collection))
    val kernelMs = p50(2000)(i => h.search(qvs(i % qvs.length), TopK))
    val fq = filtered.map(s => (st.g.embedder.embed(s.query).map(_.toDouble).toSeq, s))
    val filteredMs = p50(150) { i =>
      val (q, s) = fq(i % fq.length)
      h.search(q, TopK, tenantId = s.tenant, metaEq = s.category.map("category" -> _).toMap)
    }
    r.metric("server.rtt_ms", rtt, "ms")
    r.metric("server.queue_ms", loop.p50 - rtt, "ms")
    r.metric("facade.search_ms", facadeMs, "ms")
    r.metric("facade.self_ms", facadeMs - embedMs - checkMs - kernelMs, "ms")
    r.metric("embed.query_ms", embedMs, "ms")
    r.metric("engine.snapshot_check_ms", checkMs, "ms")
    r.metric("serving.kernel_ms", kernelMs, "ms")
    r.metric("serving.filtered_ms", filteredMs, "ms")
    r.metric("serving.rows_scored", h.size.toDouble, "rows")
    r.metric("spark.jobs.read", readJobs.toDouble, "count")
    r.metric("engine.snapshot_bytes", h.estimatedBytes.toDouble, "B")
    r.metric("engine.bulk_insert_s", Stats.median(setups.map(_.insert)), "s")
    r.metric("engine.snapshot_build_s", Stats.median(setups.map(_.snapshot)), "s")
    Log(f"traced e2e: setup ${Stats.median(setups.map(_.total))}%.3f s, qps ${loop.qps}%.1f, " +
      f"p50 ${loop.p50}%.3f ms, p99 ${loop.p99}%.3f ms; " +
      f"1-client p50 $rtt%.3f ms = facade $facadeMs%.3f (embed $embedMs%.4f + check $checkMs%.4f + " +
      f"kernel $kernelMs%.3f + self ${facadeMs - embedMs - checkMs - kernelMs}%.3f) + http ${rtt - facadeMs}%.3f")
  }
}
