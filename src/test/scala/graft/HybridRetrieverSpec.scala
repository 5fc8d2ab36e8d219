package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.FusionEngine
import graft.learning.LearningEngine
import graft.memory.AgentMemory
import graft.model.CollectionConfig
import graft.providers.{Embed, MockEmbedderProvider}
import graft.retrieval.{CritiqueLoop, HybridRetriever}
import graft.tree.TreeIndex

/** Strategy routing / graceful failure / critique loop
  * (`HybridRetriever.js:115-219`, `RecursiveLearningEngine.js:323-371`). */
class HybridRetrieverSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val embedder = new MockEmbedderProvider(64)

  private def build(): (FusionEngine, HybridRetriever) = {
    val engine = new FusionEngine(spark, Files.createTempDirectory("graft_hr").toString)
    engine.createCollection("docs", CollectionConfig(dimensions = 64))
    val docs = Seq(
      "d1" -> "OSHA requires chemical hazard communication including safety data sheets",
      "d2" -> "Personal protective equipment must be provided at no cost",
      "d3" -> "Quarterly revenue increased driven by cloud services growth")
    engine.insert("docs", Embed.withEmbedding(docs.toDF("id", "content"), "content", "vector", embedder))
    val tree = new TreeIndex(spark, Files.createTempDirectory("graft_hr_tree").toString)
    tree.indexDocument("manual",
      "# Safety\n## Chemical Handling\nchemical hazard communication requires safety data sheets\n## Finance\nrevenue and growth",
      "markdown")
    (engine, new HybridRetriever(engine, embedder, "docs", Some(tree)))
  }

  test("hybrid fuses three strategies; single-strategy routing runs only that branch") {
    val (_, r) = build()
    val hybrid = r.retrieve("chemical safety data sheets", topK = 5)
    assert(hybrid.count() > 0)
    // tree branch contributes: some result carries tree content preference
    val strategies = hybrid.select("n_strategies").as[Int].collect()
    assert(strategies.max >= 1)

    val vecOnly = r.retrieve("chemical safety data sheets", strategy = "vector")
    assert(vecOnly.select("n_strategies").as[Int].collect().forall(_ == 1))
    val kwOnly = r.retrieve("chemical safety data sheets", strategy = "keyword")
    // keyword branch: all results have matching content
    assert(kwOnly.select("content").as[String].collect()
      .forall(c => c.toLowerCase.contains("chemical") || c.toLowerCase.contains("safety") || c.toLowerCase.contains("data")))
    assertThrows[IllegalArgumentException](r.retrieve("q", strategy = "bogus"))
  }

  test("graceful branch failure: missing collection kills the vector+keyword branches, tree still answers") {
    val (engine, r0) = build()
    val broken = new HybridRetriever(engine, embedder, "no_such_collection", r0.treeIndex)
    val res = broken.retrieve("chemical safety data sheets")
    assert(res.count() > 0) // tree-only survivors
    val contents = res.select("content").as[String].collect()
    assert(contents.forall(c => c != null)) // tree rows carry content
  }

  test("EXECUTION-time branch failure degrades that branch, others still answer (ADVICE r2)") {
    val (engine, r) = build()
    // corrupt the collection's parquet AFTER the table exists: the scan
    // plan builds fine (explicit schema, no footer read) but scoring it
    // fails at execution — exactly the failure mode the lazy try/catch
    // used to miss. Branch materialization must contain it.
    val dataDir = java.nio.file.Paths.get(engine.root, "docs", "data")
    java.nio.file.Files.list(dataDir).filter(_.toString.endsWith(".parquet"))
      .forEach(p => java.nio.file.Files.write(p, "not a parquet file".getBytes))
    val res = r.retrieve("chemical safety data sheets")
    assert(res.count() > 0) // tree branch still answers
    val contents = res.select("content").as[String].collect()
    assert(contents.forall(_ != null))
  }

  test("scoredTopKBranches == per-branch orderBy/limit over the same corpus, in ONE scan") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    val kwTerms = graft.functions.TextFunctions.queryTerms("data processing pipeline quality")
    val treeTerms = graft.tree.TreeIndex.keywordTerms("data processing pipeline quality")
    val kwScore = round(graft.functions.TextFunctions.bm25ish(col("text"), kwTerms), 6)
    val treeScore = round(graft.tree.TreeIndex.keywordRelevance(treeTerms,
      concat(concat(lit("doc "), col("doc_id")), lit("  "), col("text"))), 6)
    val fetch = 20

    val combined = HybridRetriever.scoredTopKBranches(docs, col("doc_id"), col("text"),
      Seq(("keyword", kwScore, 0.0), ("tree", treeScore, 0.1)), fetch)

    def oneBranch(score: org.apache.spark.sql.Column, min: Double, name: String) =
      docs.withColumn("score", score).filter(col("score") > min)
        .select(col("doc_id").as("id"), col("score"), col("text").as("content"))
        .orderBy(desc("score"), asc("id")).limit(fetch)
        .withColumn("strategy", lit(name))
    val expected = oneBranch(kwScore, 0.0, "keyword").unionByName(oneBranch(treeScore, 0.1, "tree"))

    val got = combined.select("strategy", "id", "score", "content")
      .as[(String, Long, Double, String)].collect().toSet
    val want = expected.select("strategy", "id", "score", "content")
      .as[(String, Long, Double, String)].collect().toSet
    assert(got == want)

    // the point of the helper: the corpus appears ONCE in the physical plan
    val plan = combined.queryExecution.executedPlan.toString
    assert("documents\\.parquet".r.findAllIn(plan).size <= 1,
      s"expected a single documents scan, plan:\n$plan")
  }

  test("scoredTopKBranches: null-text rows are misses (not a decode crash); fetch<=0 is empty") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "alpha beta gamma delta"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val terms = graft.functions.TextFunctions.queryTerms("alpha beta")
    val score = round(graft.functions.TextFunctions.bm25ish(col("text"), terms), 6)
    val out = HybridRetriever.scoredTopKBranches(df, col("doc_id"), col("text"),
      Seq(("keyword", score, 0.0)), fetch = 10)
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(HybridRetriever.scoredTopKBranches(df, col("doc_id"), col("text"),
      Seq(("keyword", score, 0.0)), fetch = 0).count() == 0)
  }

  test("adaptive weights: last-N average with defaults for silent strategies, normalized") {
    import java.sql.Timestamp
    val fb = Seq(
      ("p1", "vector", 0.9, new Timestamp(1000), 1L),
      ("p1", "vector", 0.7, new Timestamp(2000), 2L),
      ("p1", "keyword", 0.2, new Timestamp(3000), 3L),
      ("p1", "hybrid", 1.0, new Timestamp(4000), 4L), // ignored (not a tracked list)
      ("p2", "tree", 0.5, new Timestamp(5000), 5L))
      .toDF("pattern", "strategy", "quality", "ts", "id")
    val w = graft.retrieval.AdaptiveWeights.compute(fb).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // p1: v=0.8 avg, t=0.4 default, k=0.2 -> normalized
    val (v1, t1, k1) = w("p1")
    assert(math.abs(v1 - 0.8 / 1.4) < 1e-6 && math.abs(t1 - 0.4 / 1.4) < 1e-6)
    assert(math.abs(v1 + t1 + k1 - 1.0) < 1e-9)
    // p2: only tree observed at 0.5; vector/keyword defaults
    val (v2, t2, k2) = w("p2")
    assert(math.abs(t2 - 0.5 / 1.1) < 1e-6)
  }

  test("metadata filter model: equality + IN-list ANDed over the map tail through engine.search") {
    val (engine, _) = build()
    import graft.engine.MetadataFilter
    val qv = embedder.embed("chemical").map(_.toDouble).toSeq
    // tag rows with metadata then filter through the search API
    val all = engine.search("docs", qv, topK = 10,
      filter = Some(MetadataFilter.and())) // empty spec keeps all
    assert(all.count() == 3)
    // no metadata map set on these rows -> element_at is null -> filtered out
    val none = engine.search("docs", qv, topK = 10,
      filter = Some(MetadataFilter.eq("category", "safety")))
    assert(none.count() == 0)
  }

  test("retrieveWithCritique records feedback; low quality triggers tree retry") {
    val (engine, r) = build()
    val learning = new LearningEngine(new AgentMemory(engine, embedder))
    val loop = new CritiqueLoop(r, learning)
    val good = loop.retrieveWithCritique("a", "chemical safety data sheets")
    assert(good.quality > 0 && !good.retried)
    assert(learning.feedbackLog("a").count() == 1)

    val bad = loop.retrieveWithCritique("a", "zzzzz qqqqq wwwww")
    assert(bad.retried) // nothing matches -> quality below threshold -> retried
    assert(learning.feedbackLog("a").count() == 2)
  }

  test("tenant-scoped vector retrieval is served from the resident snapshot: the job path's rows, no Spark job") {
    val engine = new FusionEngine(spark, Files.createTempDirectory("graft_hr_tenant").toString)
    engine.createCollection("docs", CollectionConfig(dimensions = 64))
    val topics = Seq("chemical hazard labels", "forklift operator training", "ladder inspection",
      "fire extinguisher placement", "respirator fit testing", "lockout tagout steps",
      "noise exposure limits", "first aid kit contents", "eye wash stations")
    val docs = topics.zipWithIndex.map { case (t, i) =>
      (s"d$i", s"$t for warehouse safety", if (i % 3 == 0) "globex" else "acme")
    }
    engine.insert("docs", Embed.withEmbedding(docs.toDF("id", "content", "tenant_id"),
      "content", "vector", embedder))
    val r = new HybridRetriever(engine, embedder, "docs")
    val q = "chemical safety training"
    val (k, tenant) = (3, Some("acme"))
    r.retrieve(q, k, "vector", tenant).collect() // warm: builds the serving snapshot

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
    val served = try {
      val df = inGroup("retrieve")(r.retrieve(q, k, "vector", tenant))
      // the bus delivers in order: once the marker job is seen, so is the above
      inGroup("marker")(spark.range(1).collect())
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.containsKey("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.getOrDefault("retrieve", 0).intValue == 0,
        s"tenant-scoped vector retrieval ran ${jobs.get("retrieve")} Spark jobs")
      df.collect().toSeq
    } finally spark.sparkContext.removeSparkListener(listener)

    val qv = embedder.embed(q).map(_.toDouble).toSeq
    val jobBranch = engine.search("docs", qv, 2 * k, tenantId = tenant)
      .select($"id", $"score", $"content", lit("vector").as("strategy"))
    val expected = HybridRetriever.fuse(Seq(jobBranch), k).collect().toSeq
    assert(expected.size == k)
    assert(served == expected)
    assert(served.map(_.getString(0)).forall(id => docs.exists(d => d._1 == id && d._3 == "acme")))
  }
}
