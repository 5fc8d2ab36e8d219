package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.FusionEngine
import graft.model.CollectionConfig
import graft.providers.{Embed, MockEmbedderProvider}

/** Engine write-path suite, mirroring the reference's FusionEngine tests
  * (`/root/reference/test/fusionpact.test.js:85-136`) plus the CLI demo
  * end-to-end slice (`/root/reference/bin/cli.js:16-29`). */
class FusionEngineSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def freshEngine(): FusionEngine =
    new FusionEngine(spark, Files.createTempDirectory("graft_engine").toString)

  private val embedder = new MockEmbedderProvider(64)

  private val demoDocs = Seq(
    "d1" -> "OSHA requires chemical hazard communication including safety data sheets",
    "d2" -> "Personal protective equipment must be provided at no cost to employees",
    "d3" -> "Quarterly revenue increased by 15% driven by cloud services growth",
    "d4" -> "Confined space entry requires atmospheric testing before access")

  private def insertDemo(e: FusionEngine, coll: String = "demo"): Unit = {
    e.createCollection(coll, CollectionConfig(dimensions = 64))
    val df = demoDocs.toDF("id", "content")
    e.insert(coll, Embed.withEmbedding(df, "content", "vector", embedder))
  }

  test("serving tier: matches the job path, invalidates on mutation, falls back over the cap") {
    val e = freshEngine()
    insertDemo(e)
    val qv = embedder.embed("chemical safety requirements").map(_.toDouble).toSeq

    val h = e.serving("demo").getOrElse(fail("4 docs must fit the serving cap"))
    assert(h.size == 4)
    val served = h.search(qv, topK = 3)
    val job = e.search("demo", qv, topK = 3)
      .select("id", "score", "content").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    assert(served.map(_.id) == job.map(_._1).toSeq) // same ranking
    served.zip(job).foreach { case (s, (_, js, jc)) =>
      assert(math.abs(s.score - js) < 1e-5, "float-kernel score within documented tolerance")
      assert(s.content == jc)
    }
    assert(served.map(_.rank) == Seq(1, 2, 3))

    // cached handle is reused while the collection is unchanged
    assert(e.serving("demo").get eq h)

    // a mutation invalidates: the new row must be visible
    Thread.sleep(5) // dir mtime granularity
    e.insert("demo", Embed.withEmbedding(
      Seq("d5" -> "chemical safety requirements exactly").toDF("id", "content"),
      "content", "vector", embedder))
    val h2 = e.serving("demo").get
    assert(!(h2 eq h) && h2.size == 5)
    assert(h2.search(qv, topK = 1).head.id == "d5" ||
      h2.search(qv, topK = 5).map(_.id).contains("d5"))

    // over the cap: serving declines for THIS caller but keeps the valid
    // cached handle for everyone else (no rebuild thrash)
    assert(e.serving("demo", maxBytes = 64L).isEmpty)
    assert(e.serving("demo").get eq h2)
    // query dimension is validated like the job path
    assertThrows[IllegalArgumentException](h2.search(Seq(1.0, 2.0), topK = 1))
  }

  test("servingHnsw: matches exact search at ef >= n, invalidates on write, cosine-only") {
    val e = freshEngine()
    insertDemo(e)
    val qv = embedder.embed("chemical safety requirements").map(_.toDouble).toSeq
    val h = e.servingHnsw("demo").getOrElse(fail("4 docs must fit the cap"))
    // ef >= n beams the whole graph: ids/ranks equal the exact path
    val got = h.search(qv, topK = 3, ef = 16)
    val job = e.search("demo", qv, topK = 3)
      .select("id", "score").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.map(_._1) == job.map(_._1).toSeq)
    got.zip(job).foreach { case ((_, s, _), (_, js)) =>
      assert(math.abs(s - js) < 1e-5)
    }
    assert(got.map(_._3) == Seq(1, 2, 3))
    // cached while unchanged; an APPEND-ONLY write delta-refreshes the
    // same handle in place (one Index.add per new row, no rebuild)
    assert(e.servingHnsw("demo").get eq h)
    Thread.sleep(5)
    e.insert("demo", Embed.withEmbedding(
      Seq("d9" -> "chemical safety requirements exactly").toDF("id", "content"),
      "content", "vector", embedder))
    val h2 = e.servingHnsw("demo").getOrElse(fail("refresh must fit"))
    assert(h2 eq h) // delta path, not a rebuild
    assert(h2.search(qv, topK = 5, ef = 16).map(_._1).contains("d9"))
    // a delete within the 25% budget delta-REMOVES in place (the
    // reference's own HNSWIndex.delete): same handle, row gone
    Thread.sleep(5)
    e.deleteByIds("demo", Seq("d9"))
    val h3 = e.servingHnsw("demo").getOrElse(fail("refresh must fit"))
    assert(h3 eq h2)
    assert(!h3.search(qv, topK = 5, ef = 16).map(_._1).contains("d9"))
    // past the cumulative removal budget the handle rebuilds
    Thread.sleep(5)
    e.deleteByIds("demo", Seq("d3", "d4"))
    val h4 = e.servingHnsw("demo").getOrElse(fail("rebuild must fit"))
    assert(!(h4 eq h3))
    assert(h4.search(qv, topK = 4, ef = 16).map(_._1).toSet == Set("d1", "d2"))
    // over-cap and non-cosine both fall back to None
    assert(e.servingHnsw("demo", maxBytes = 16).isEmpty)
    e.createCollection("dotcoll",
      CollectionConfig(dimensions = 64, distanceMetric = "dot"))
    e.insert("dotcoll", Embed.withEmbedding(
      Seq("x1" -> "anything").toDF("id", "content"), "content", "vector", embedder))
    assert(e.servingHnsw("dotcoll").isEmpty)
  }

  test("servingHnsw: a lapsed TTL row delta-removes from the live graph, no rebuild") {
    val e = freshEngine()
    e.createCollection("httl", CollectionConfig(dimensions = 64))
    val now = System.currentTimeMillis()
    val keeps = Seq("k1" -> "alpha particles", "k2" -> "beta waves",
      "k3" -> "gamma rays", "k4" -> "delta function").toDF("id", "content")
    e.insert("httl", Embed.withEmbedding(keeps, "content", "vector", embedder))
    e.insert("httl", Embed.withEmbedding(
      Seq("dead" -> "expiring row").toDF("id", "content"),
      "content", "vector", embedder),
      ttlMs = Some(4000L), now = Some(new Timestamp(now)))
    val qv = embedder.embed("expiring row").map(_.toDouble).toSeq
    val h = e.servingHnsw("httl").getOrElse(fail("must fit"))
    assert(h.search(qv, topK = 5, ef = 16).map(_._1).contains("dead"))
    Thread.sleep(math.max(0L, now + 4100 - System.currentTimeMillis()))
    // expiry is read-time (no version bump): the forced reconcile
    // removes the lapsed node in place instead of rebuilding
    val h2 = e.servingHnsw("httl").getOrElse(fail("delta refresh must serve"))
    assert(h2 eq h)
    assert(!h2.search(qv, topK = 5, ef = 16).map(_._1).contains("dead"))
    assert(e.hnswFullBuilds.get() == 1) // the initial build, nothing since
  }

  test("servingHnsw: persisted graph warm-starts a new process without a rebuild") {
    val root = Files.createTempDirectory("graft_engine").toString
    val e1 = new FusionEngine(spark, root)
    insertDemo(e1)
    val qv = embedder.embed("chemical safety requirements").map(_.toDouble).toSeq
    val want = e1.servingHnsw("demo").getOrElse(fail("must fit"))
      .search(qv, topK = 3, ef = 16)
    assert(e1.hnswFullBuilds.get() == 1) // built once, sidecar persisted

    // "new process": a fresh engine over the same root — loads the
    // sidecar, content-reconciles against the table, never rebuilds
    val e2 = new FusionEngine(spark, root)
    val h2 = e2.servingHnsw("demo").getOrElse(fail("warm start must serve"))
    assert(e2.hnswFullBuilds.get() == 0 && e2.hnswDiskLoads.get() == 1)
    assert(h2.search(qv, topK = 3, ef = 16) == want)

    // append rows, then warm-start yet another engine: the loaded graph
    // delta-adds the new rows instead of rebuilding
    e2.insert("demo", Embed.withEmbedding(
      Seq("d9" -> "chemical safety requirements exactly").toDF("id", "content"),
      "content", "vector", embedder))
    val e3 = new FusionEngine(spark, root)
    val h3 = e3.servingHnsw("demo").getOrElse(fail("warm start must serve"))
    assert(e3.hnswFullBuilds.get() == 0 && e3.hnswDiskLoads.get() == 1)
    assert(h3.search(qv, topK = 5, ef = 16).map(_._1).contains("d9"))

    // a delete + reinsert of the SAME id with a DIFFERENT vector is an
    // UPDATE: the (id, vector-hash) reconcile removes the old node and
    // adds the new row in one pass — still no rebuild, and an id-only
    // check would have served d1's stale vector here
    e3.deleteByIds("demo", Seq("d1"))
    e3.insert("demo", Embed.withEmbedding(
      Seq("d1" -> "entirely different replacement content").toDF("id", "content"),
      "content", "vector", embedder))
    val e4 = new FusionEngine(spark, root)
    val h4 = e4.servingHnsw("demo").getOrElse(fail("warm start must serve"))
    assert(e4.hnswFullBuilds.get() == 0 && e4.hnswDiskLoads.get() == 1)
    val d1Score = h4.search(
      embedder.embed("entirely different replacement content").map(_.toDouble).toSeq,
      topK = 1, ef = 16)
    assert(d1Score.head._1 == "d1" && d1Score.head._2 > 0.999)
    assert(!h4.search(qv, topK = 5, ef = 16).map(_._1).exists(_ == null))

    // a corrupt sidecar is ignored, not fatal
    Files.write(java.nio.file.Paths.get(root, "demo", "hnsw.bin"),
      Array[Byte](1, 2, 3))
    val e5 = new FusionEngine(spark, root)
    assert(e5.servingHnsw("demo").isDefined && e5.hnswFullBuilds.get() == 1)
  }

  test("serving cache: aggregate budget LRU-evicts the least recently used snapshot") {
    // one admission rule for both driver caches: exact snapshots and HNSW graphs
    def evictsLru[H <: AnyRef](cache: String)(get: (FusionEngine, String) => H)(
        bytes: H => Long): Unit = {
      val e = freshEngine()
      insertDemo(e, "c1")
      insertDemo(e, "c2")
      val h1 = get(e, "c1")
      try {
        // budget fits exactly one handle
        sys.props("graft.serving.aggregate.bytes") = (bytes(h1) + 16).toString
        Thread.sleep(2) // distinct lastUsed timestamps
        val h2 = get(e, "c2") // over budget with h1 -> h1 (LRU) evicted
        assert(get(e, "c2") eq h2, cache) // h2 is the cached resident
        val h1b = get(e, "c1") // rebuilt or reloaded: the eviction was real
        assert(!(h1b eq h1), cache)
      } finally sys.props -= "graft.serving.aggregate.bytes"
      // with the default budget both fit again and cache normally
      val h2c = get(e, "c2")
      assert(get(e, "c2") eq h2c, cache)
    }
    evictsLru("serving")((e, c) => e.serving(c).get)(_.estimatedBytes)
    evictsLru("hnsw")((e, c) => e.servingHnsw(c).get)(_.estBytes)
  }

  test("serving tier: TTL rows are excluded at snapshot and expiry invalidates the handle") {
    val e = freshEngine()
    e.createCollection("sttl", CollectionConfig(dimensions = 64))
    val now = System.currentTimeMillis()
    val df = Seq("live" -> "stays", "dead" -> "expires", "gone" -> "already expired")
      .toDF("id", "content")
    // ttl_ms = 0 is the never-expires encoding (ttlAlive) — it must NOT
    // contribute a past minExpiry that leaves the handle permanently stale
    e.insert("sttl", Embed.withEmbedding(df.filter($"id" === "live"), "content", "vector", embedder),
      ttlMs = Some(0L))
    // already expired at snapshot time: backdated 10 s with a 1 s TTL
    e.insert("sttl", Embed.withEmbedding(df.filter($"id" === "gone"), "content", "vector", embedder),
      ttlMs = Some(1000L), now = Some(new Timestamp(now - 10000)))
    // expires 8 s from now — ample headroom for the snapshot's warm jobs
    e.insert("sttl", Embed.withEmbedding(df.filter($"id" === "dead"), "content", "vector", embedder),
      ttlMs = Some(8000L), now = Some(new Timestamp(now)))
    val qv = embedder.embed("stays").map(_.toDouble).toSeq
    val h = e.serving("sttl").get
    assert(h.search(qv, topK = 5).map(_.id).toSet == Set("live", "dead")) // gone pre-filtered
    assert(e.serving("sttl").get eq h) // ttl_ms=0 row doesn't perma-stale the handle
    Thread.sleep(math.max(0L, now + 8100 - System.currentTimeMillis())) // past dead's expiry
    // expiry passed -> handle is stale -> rebuilt snapshot drops the row
    val h2 = e.serving("sttl").get
    assert(!(h2 eq h))
    assert(h2.search(qv, topK = 5).map(_.id) == Seq("live"))
  }

  test("collection CRUD: create/list/get/delete, duplicate + missing throw") {
    val e = freshEngine()
    e.createCollection("a", CollectionConfig(dimensions = 4))
    e.createCollection("b", CollectionConfig(dimensions = 8, distanceMetric = "euclidean"))
    assert(e.listCollections().map(_._1) == Seq("a", "b"))
    assert(e.getConfig("b").dimensions == 8)
    assert(e.getConfig("b").distanceMetric == "euclidean")
    assertThrows[IllegalArgumentException](e.createCollection("a"))
    assertThrows[NoSuchElementException](e.getConfig("nope"))
    assert(e.deleteCollection("a"))
    assert(!e.deleteCollection("a"))
    assert(e.listCollections().map(_._1) == Seq("b"))
  }

  test("demo slice: insert 4 docs, kNN for 'chemical safety requirements' ranks d1/d4 over d3") {
    val e = freshEngine()
    insertDemo(e)
    assert(e.count("demo") == 4)
    val qv = embedder.embed("chemical safety requirements").map(_.toDouble).toSeq
    val res = e.search("demo", qv, topK = 3).select("id").as[String].collect().toSeq
    assert(res.size == 3)
    val rank = res.zipWithIndex.toMap
    assert(rank("d1") < rank.getOrElse("d3", 99))
    assert(rank("d4") < rank.getOrElse("d3", 99))
  }

  test("tenant isolation: each tenant only sees its own rows; get/delete stay unscoped (reference quirk)") {
    val e = freshEngine()
    e.createCollection("mt", CollectionConfig(dimensions = 64))
    val a = e.tenant("mt", "acme")
    val b = e.tenant("mt", "globex")
    a.insert(Embed.withEmbedding(Seq("a1" -> "alpha doc").toDF("id", "content"), "content", "vector", embedder))
    b.insert(Embed.withEmbedding(Seq("b1" -> "beta doc").toDF("id", "content"), "content", "vector", embedder))
    val qv = embedder.embed("doc").map(_.toDouble).toSeq
    val seenA = a.search(qv, topK = 10).select("tenant_id").distinct().as[String].collect().toSeq
    assert(seenA == Seq("acme"))
    // unscoped get quirk: tenant b can read a's row by id
    assert(b.get("a1").count() == 1)
  }

  test("deleteByIds, clear, point lookup, existence") {
    val e = freshEngine()
    insertDemo(e)
    assert(e.has("demo", "d2"))
    assert(e.get("demo", "d2").select("content").as[String].head.contains("protective"))
    assert(e.deleteByIds("demo", Seq("d2", "zzz")) == 1)
    assert(!e.has("demo", "d2"))
    assert(e.count("demo") == 3)
    e.clear("demo")
    assert(e.count("demo") == 0)
    assert(e.hasCollection("demo"))
  }

  test("dimension mismatch at insert fails the write (HNSWIndex.js:129-133)") {
    val e = freshEngine()
    e.createCollection("dim4", CollectionConfig(dimensions = 4))
    val bad = Seq(("x", Array(1f, 2f, 3f))).toDF("id", "vector")
    val ex = intercept[Exception](e.insert("dim4", bad))
    assert(ex.getMessage != null)
  }

  test("TTL: lazy read-filter at search + physical vacuum") {
    val e = freshEngine()
    e.createCollection("ttl", CollectionConfig(dimensions = 64))
    val past = new Timestamp(System.currentTimeMillis() - 10000)
    val df = Seq("old1" -> "ancient scroll").toDF("id", "content")
    e.insert("ttl", Embed.withEmbedding(df, "content", "vector", embedder),
      ttlMs = Some(1000L), now = Some(past)) // expired 9s ago
    val live = Seq("new1" -> "fresh scroll").toDF("id", "content")
    e.insert("ttl", Embed.withEmbedding(live, "content", "vector", embedder))
    val qv = embedder.embed("scroll").map(_.toDouble).toSeq
    assert(e.search("ttl", qv, topK = 10).select("id").as[String].collect().toSeq == Seq("new1"))
    assert(e.count("ttl") == 2) // expired row still physically present
    assert(e.vacuum("ttl") == 1)
    assert(e.count("ttl") == 1)
  }

  test("export/import JSON snapshot round-trip (FusionEngine.js:278-312)") {
    val e = freshEngine()
    insertDemo(e)
    val snap = Files.createTempDirectory("graft_snap").toString
    e.exportData(snap)
    val e2 = freshEngine()
    e2.importData(snap)
    assert(e2.listCollections().map(_._1) == Seq("demo"))
    assert(e2.getConfig("demo").dimensions == 64)
    assert(e2.count("demo") == 4)
    val qv = embedder.embed("chemical safety requirements").map(_.toDouble).toSeq
    val r1 = e.search("demo", qv, topK = 3).select("id").as[String].collect().toSeq
    val r2 = e2.search("demo", qv, topK = 3).select("id").as[String].collect().toSeq
    assert(r1 == r2)
  }

  test("crashed swap (live moved aside, tmp never installed) recovers on read") {
    val e = freshEngine()
    insertDemo(e)
    assert(e.count("demo") == 4)
    // simulate a crash between atomicSwap's two moves: live data dir is
    // gone, the sole copy sits in data_old
    val data = java.nio.file.Paths.get(e.root, "demo", "data")
    val old = java.nio.file.Paths.get(e.root, "demo", "data_old")
    java.nio.file.Files.move(data, old)
    // a reader must see the pre-swap table, not a silent empty one
    assert(e.count("demo") == 4)
    assert(java.nio.file.Files.exists(data) && !java.nio.file.Files.exists(old))
    // and a subsequent rewrite proceeds normally
    e.deleteByIds("demo", Seq("d1"))
    assert(e.count("demo") == 3)
  }

  test("importReferenceSnapshot reads the reference's {collections:{name:{config,index}}} shape") {
    val e = freshEngine()
    // hand-written snapshot in the exact exportData() format
    // (FusionEngine.js:278-292 + HNSWIndex.js:389-416)
    val snapshot =
      """{"_engine":"FusionPact","_version":"2.0.0","exportedAt":"2026-01-01T00:00:00Z",
        |"collections":{"kb":{
        |  "config":{"dimensions":4,"distanceMetric":"cosine","M":8,"efConstruction":100,"efSearch":40},
        |  "index":{"_version":2,"_engine":"FusionPact","dimensions":4,
        |    "config":{"M":8,"efConstruction":100,"efSearch":40,"distanceMetric":"cosine"},
        |    "entryPoint":"v1","maxLevel":1,"size":2,
        |    "nodes":{
        |      "v1":{"id":"v1","vector":[1,0,0,0],"metadata":{"_content":"alpha doc","score":0.5},"level":1,"neighbors":{"0":["v2"]}},
        |      "v2":{"id":"v2","vector":[0,1,0,0],"metadata":{"_content":"beta doc"},"level":0,"neighbors":{"0":["v1"]}}},
        |    "stats":{"inserts":2}}}}}""".stripMargin
    val f = Files.createTempFile("ref_snapshot", ".json")
    Files.writeString(f, snapshot)
    val n = e.importReferenceSnapshot(f.toString)
    assert(n == 2)
    assert(e.hasCollection("kb"))
    assert(e.getConfig("kb").dimensions == 4)
    assert(e.getConfig("kb").m == 8)
    val rows = e.table("kb").orderBy("id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("v1", "v2"))
    assert(rows.head.getSeq[Float](rows.head.fieldIndex("vector")).toSeq == Seq(1f, 0f, 0f, 0f))
    assert(rows.head.getAs[String]("content") == "alpha doc")
    assert(rows.head.getAs[Map[String, String]]("metadata")("score") == "0.5")
    // skip-unless-overwrite semantics
    assert(e.importReferenceSnapshot(f.toString) == 0L)
    assert(e.importReferenceSnapshot(f.toString, overwrite = true) == 2L)
    // imported vectors are queryable through the normal search path
    val hits = e.search("kb", Seq(1.0, 0.0, 0.0, 0.0), topK = 1)
    assert(hits.select("id").as[String].head == "v1")
  }

  test("embedding cache: hits reuse cached vectors, misses embed and are returned for append") {
    val texts = Seq("t1" -> "alpha", "t2" -> "beta", "t3" -> "gamma").toDF("id", "content")
    val cache = Seq((embedder.cacheKey("alpha"), embedder.embed("alpha"))).toDF("cache_key", "vector")
    val (out, newRows) = Embed.withEmbeddingCached(texts, "content", "vector", cache, embedder)
    assert(out.count() == 3)
    assert(newRows.count() == 2) // beta + gamma were misses
    // every vector identical to direct embedding
    val got = out.select("id", "vector").as[(String, Array[Float])].collect().toMap
    val byId = Map("t1" -> "alpha", "t2" -> "beta", "t3" -> "gamma")
    byId.foreach { case (id, txt) =>
      assert(got(id).toSeq == embedder.embed(txt).toSeq, s"vector mismatch for $id")
    }
  }

  test("edge cases: empty-collection search, dimension-mismatched query, zero vector") {
    val e = freshEngine()
    e.createCollection("empty", CollectionConfig(dimensions = 4))
    // search before any insert: empty result, no error
    assert(e.search("empty", Seq(1.0, 0.0, 0.0, 0.0)).count() == 0)
    // wrong query dimension fails fast with a named error
    val ex = intercept[IllegalArgumentException](e.search("empty", Seq(1.0, 0.0)))
    assert(ex.getMessage.contains("dimension"))
    // zero vector passes through normalize-at-write unchanged (reference
    // HNSWIndex.js:472-479 divides only when norm > 0) and scores 0
    e.insert("empty", Seq(("z", Array(0f, 0f, 0f, 0f))).toDF("id", "vector"))
    val score = e.search("empty", Seq(1.0, 0.0, 0.0, 0.0)).select("score").as[Double].head
    assert(score == 0.0)
  }

  test("tenant-partitioned layout: hive dirs per tenant, pruned scans, rewrite preserves layout") {
    val e = freshEngine()
    e.createCollection("pt", CollectionConfig(dimensions = 64, partitionByTenant = true))
    e.tenant("pt", "acme").insert(Embed.withEmbedding(
      Seq("a1" -> "alpha", "a2" -> "alpha two").toDF("id", "content"), "content", "vector", embedder))
    e.tenant("pt", "globex").insert(Embed.withEmbedding(
      Seq("g1" -> "gamma").toDF("id", "content"), "content", "vector", embedder))
    // physical layout: one hive partition dir per tenant
    val dirs = new java.io.File(s"${e.root}/pt/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("tenant_id=acme", "tenant_id=globex"))
    // tenant filter reaches the scan as a PartitionFilter
    val qv = embedder.embed("alpha").map(_.toDouble).toSeq
    val plan = e.search("pt", qv, topK = 5, tenantId = Some("acme"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tenant_id"))
    assert(e.search("pt", qv, topK = 5, tenantId = Some("acme")).count() == 2)
    // rewrite (delete) keeps the partitioned layout and the other tenant
    e.deleteByIds("pt", Seq("a1"))
    assert(e.count("pt") == 2)
    val dirs2 = new java.io.File(s"${e.root}/pt/data").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs2.contains("tenant_id=globex"))
  }

  test("sharded layout: shard dirs, pruned point lookup, selective delete leaves other shards untouched") {
    val e = freshEngine()
    e.createCollection("sh", CollectionConfig(dimensions = 64, shards = 8))
    val docs = (0 until 64).map(i => (s"doc-$i", s"content number $i"))
    e.insert("sh", Embed.withEmbedding(docs.toDF("id", "content"), "content", "vector", embedder))

    // physical layout: hive shard dirs, ids in their CRC32 shard
    val dirs = new java.io.File(s"${e.root}/sh/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.forall(_.matches("shard=\\d+")))

    // point lookup prunes to the id's single shard partition
    val lookup = e.get("sh", "doc-7")
    val scan = lookup.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("expected a file scan"))
    assert(scan.partitionFilters.exists(_.toString.contains("shard")),
      s"shard partition filter missing: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, scanned ${scan.selectedPartitions.partitionCount}")
    assert(lookup.select("id").as[String].collect().toSeq == Seq("doc-7"))
    assert(e.has("sh", "doc-7") && !e.has("sh", "doc-999"))
    // canonical surface: no layout column leaks
    assert(!e.table("sh").columns.contains("shard"))

    // selective delete: only the target id's shard dir is rewritten
    val victim = "doc-11"
    val victimShard = s"shard=${graft.engine.FusionEngine.shardOf(victim, 8)}"
    val untouched = dirs.filter(_ != victimShard).map { d =>
      d -> new java.io.File(s"${e.root}/sh/data/$d").listFiles().map(_.getName).sorted.toSeq
    }.toMap
    assert(e.deleteByIds("sh", Seq(victim)) == 1L)
    assert(e.count("sh") == 63)
    assert(e.get("sh", victim).isEmpty)
    untouched.foreach { case (d, files) =>
      val now = new java.io.File(s"${e.root}/sh/data/$d").listFiles().map(_.getName).sorted.toSeq
      assert(now == files, s"unaffected shard $d was rewritten")
    }
    // searches see all shards
    val qv = embedder.embed("content number 3").map(_.toDouble).toSeq
    assert(e.search("sh", qv, topK = 3).count() == 3)
    // serving tier over the sharded collection still matches
    assert(e.serving("sh").map(_.size).contains(63L))
  }

  test("sharded layout: emptying every shard keeps the collection readable and writable") {
    val e = freshEngine()
    e.createCollection("she", CollectionConfig(dimensions = 64, shards = 2))
    e.insert("she", Embed.withEmbedding(
      Seq("only" -> "the single document").toDF("id", "content"), "content", "vector", embedder))
    assert(e.deleteByIds("she", Seq("only")) == 1L)
    // the data dir survives with zero shard partitions: reads must not
    // lose the synthesized layout column (review r5: shard-filtering
    // readers threw AnalysisException here)
    assert(e.count("she") == 0)
    assert(e.get("she", "only").isEmpty)
    assert(!e.has("she", "only"))
    assert(e.deleteByIds("she", Seq("only")) == 0L)
    e.insert("she", Embed.withEmbedding(
      Seq("next" -> "a new document").toDF("id", "content"), "content", "vector", embedder))
    assert(e.count("she") == 1 && e.has("she", "next"))
  }

  test("sharded layout: crashed per-shard swap recovers on next read") {
    val e = freshEngine()
    e.createCollection("shc", CollectionConfig(dimensions = 64, shards = 4))
    val docs = (0 until 16).map(i => (s"k$i", s"text $i"))
    e.insert("shc", Embed.withEmbedding(docs.toDF("id", "content"), "content", "vector", embedder))
    val data = java.nio.file.Paths.get(e.root, "shc", "data")
    val aShard = new java.io.File(data.toString).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).head.toPath
    // simulate a crash between the swap's two moves: live moved aside
    java.nio.file.Files.move(aShard,
      aShard.resolveSibling(aShard.getFileName.toString + "_old"))
    assert(e.count("shc") == 16, "read must restore the mid-swap shard")
    // and a post-install leftover (_old ALONGSIDE live) is cleared
    val leftover = aShard.resolveSibling(aShard.getFileName.toString + "_old")
    java.nio.file.Files.createDirectory(leftover)
    assert(e.count("shc") == 16)
    assert(!java.nio.file.Files.exists(leftover), "stale _old dir must be cleared")
  }

  test("filtered serving: tenant + metadata equality match the job path, incl. full-rerank fallback") {
    val e = freshEngine()
    e.createCollection("fs", CollectionConfig(dimensions = 64))
    // 100 docs; two "rare" docs whose content is far from the query but
    // which the metadata filter selects — they rank last unfiltered, so
    // only a filter applied before ranking (the kernel's row mask)
    // returns them
    val docs = (0 until 98).map(i => (s"d$i", s"chemical safety rule number $i", "common", s"t${i % 2}")) ++
      Seq(("rare1", "unrelated cooking recipe entirely", "rare", "t0"),
        ("rare2", "gardening tips for spring flowers", "rare", "t1"))
    val df = docs.toDF("id", "content", "kind", "tenant_id")
      .withColumn("metadata", map(lit("kind"), $"kind")).drop("kind")
    e.insert("fs", Embed.withEmbedding(df, "content", "vector", embedder))
    val qv = embedder.embed("chemical safety requirements").map(_.toDouble).toSeq
    val h = e.serving("fs").getOrElse(fail("collection must fit"))

    def jobIds(tenant: Option[String], metaEq: Map[String, String], k: Int) = {
      val mf = metaEq.map { case (kk, v) => graft.engine.MetadataFilter.eq(kk, v) }
        .reduceOption(_ && _)
      e.search("fs", qv, k, tenantId = tenant, filter = mf)
        .select("id").collect().map(_.getString(0)).toSeq
    }
    // metadata filter hitting only the 2 worst-ranked docs
    val servedRare = h.search(qv, topK = 3, metaEq = Map("kind" -> "rare"))
    assert(servedRare.map(_.id) == jobIds(None, Map("kind" -> "rare"), 3))
    assert(servedRare.map(_.id).toSet == Set("rare1", "rare2"))
    assert(servedRare.map(_.rank) == Seq(1, 2))
    // tenant filter (half the rows)
    assert(h.search(qv, topK = 5, tenantId = Some("t1")).map(_.id) ==
      jobIds(Some("t1"), Map.empty, 5))
    // combined
    assert(h.search(qv, topK = 2, tenantId = Some("t0"), metaEq = Map("kind" -> "rare"))
      .map(_.id) == Seq("rare1"))
    // no-match filter is empty, not an error
    assert(h.search(qv, topK = 2, metaEq = Map("kind" -> "nope")).isEmpty)
  }

  test("compact: packs accumulated small files, preserves content and shard pruning") {
    val e = freshEngine()
    e.createCollection("cp", CollectionConfig(dimensions = 64, shards = 4))
    // three separate inserts => three parquet files per touched shard dir
    (0 until 3).foreach { b =>
      val docs = (0 until 16).map(i => (s"doc-$b-$i", s"batch $b content $i"))
      e.insert("cp", Embed.withEmbedding(docs.toDF("id", "content"), "content", "vector", embedder))
    }
    def files(): Int = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(e.root, "cp", "data"))
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
    val rowsBefore = e.table("cp").select("id", "content").as[(String, String)]
      .collect().sortBy(_._1).toSeq
    val nFilesBefore = files()
    assert(nFilesBefore > 4, s"setup should fragment ($nFilesBefore files)")

    val (before, after) = e.compact("cp")
    assert(before == nFilesBefore && after == files())
    assert(after <= 4, s"expected <= 1 file per shard dir, got $after") // 4 shards
    // content byte-identical, count preserved
    val rowsAfter = e.table("cp").select("id", "content").as[(String, String)]
      .collect().sortBy(_._1).toSeq
    assert(rowsAfter == rowsBefore)
    // layout intact: point lookup still prunes to one partition
    val scan = e.get("cp", "doc-1-7").queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("expected a file scan"))
    assert(scan.selectedPartitions.partitionCount == 1)
    // multi-file knob: salted repartition caps files per dir
    val (_, after2) = e.compact("cp", filesPerPartition = 2)
    assert(after2 <= 8 && after2 >= after)
    // unpartitioned collection packs to exactly filesPerPartition files
    e.createCollection("cpu", CollectionConfig(dimensions = 64))
    (0 until 3).foreach { b =>
      e.insert("cpu", Embed.withEmbedding(
        Seq((s"u$b", s"plain $b")).toDF("id", "content"), "content", "vector", embedder))
    }
    val (ub, ua) = e.compact("cpu")
    assert(ub >= 3 && ua == 1)
    assert(e.count("cpu") == 3)
  }

  test("search metric follows collection config: euclidean collection ranks by euclidean score") {
    val e = freshEngine()
    e.createCollection("euc", CollectionConfig(dimensions = 2, distanceMetric = "euclidean"))
    val rows = Seq(("near", Array(1f, 0f)), ("far", Array(5f, 5f))).toDF("id", "vector")
    e.insert("euc", rows)
    val res = e.search("euc", Seq(1.0, 0.0), topK = 2).select("id", "score")
      .as[(String, Double)].collect().toSeq
    assert(res.head._1 == "near" && res.head._2 == 1.0) // distance 0 => score 1
    assert(res(1)._2 < 0) // score = 1 - distance, negative preserved
  }
}
