package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

class DedupSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")

  test("minhash-LSH pairs == brute-force exact Jaccard pairs (recall AND precision 1.0 at tau=0.5)") {
    val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id", tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairsExact(docs, "text", "doc_id", tau = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh == exact)
  }

  test("hashedShingles LSH path: identical pairs AND jaccard values to the string path") {
    def run(h: Boolean) = Dedup.minhashLshPairs(docs, "text", "doc_id",
        tau = 0.5, hashedShingles = h)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val hashed = run(h = true)
    assert(hashed.nonEmpty)
    assert(hashed == run(h = false))
  }

  test("incremental pairs-between: cross-corpus dups found, history never self-paired, ids may overlap") {
    import org.apache.spark.sql.functions.col
    val old = docs.filter(col("doc_id") < 400).select("doc_id", "text")
    // new batch: the tail slice + exact copies of two OLD docs, one
    // reusing an id that also exists in the old corpus (id collision)
    val tail = docs.filter(col("doc_id") >= 400)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val newBatch = (tail ++ Seq(
      (5000L, docs.filter(col("doc_id") === 7).select("text").head.getString(0)),
      (3L, docs.filter(col("doc_id") === 11).select("text").head.getString(0)))
    ).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairsBetween(newBatch, old, "text", "doc_id", tau = 0.9)
      .select("id_new", "id_old", "jaccard")
      .as[(Long, Long, Double)].collect()
    val pairs = got.map(p => (p._1, p._2)).toSet
    assert(pairs.contains((5000L, 7L)), s"planted copy must pair: $pairs")
    assert(pairs.contains((3L, 11L)), "id-colliding new doc must pair against OLD content")
    got.foreach { case (_, _, j) => assert(j >= 0.9) }
    // no old×old pair can appear: every id_new is from the new batch
    val newIds = newBatch.select("doc_id").as[Long].collect().toSet
    got.foreach { case (n, _, _) => assert(newIds.contains(n)) }
    // parity with the exact cross-corpus answer (recall 1.0 on this corpus)
    val exact = {
      val a = newBatch.select(col("doc_id").as("id_new"), col("text").as("ta"))
      val b = old.select(col("doc_id").as("id_old"), col("text").as("tb"))
      a.crossJoin(b).collect().map { r =>
        val sa = Dedup.shingleSet(r.getString(1)).toSet
        val sb = Dedup.shingleSet(r.getString(3)).toSet
        val j = if (sa.isEmpty || sb.isEmpty) 0.0
          else sa.intersect(sb).size.toDouble / sa.union(sb).size
        ((r.getLong(0), r.getLong(2)), math.rint(j * 1e6) / 1e6)
      }.filter(_._2 >= 0.9).map(_._1).toSet
    }
    assert(pairs == exact)
  }

  test("stored banded index: save/load round-trips the hash family; stored path == recompute path") {
    import org.apache.spark.sql.functions.col
    val old = docs.filter(col("doc_id") < 400).select("doc_id", "text")
    val newBatch = docs.filter(col("doc_id") >= 400).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft_banded_spec").toString
    graft.ann.IndexStore.saveBanded(old, "text", "doc_id", dir, numHashes = 64, bands = 16)
    val idx = graft.ann.IndexStore.loadBanded(spark, dir)
    assert(idx.numHashes == 64 && idx.bands == 16 && idx.seed == 42,
      "meta must round-trip the hash family")
    val stored = Dedup.minhashLshPairsBetween(newBatch, old, "text", "doc_id",
        tau = 0.9, idx, maxBucket = 1000)
      .select("id_new", "id_old", "jaccard").as[(Long, Long, Double)].collect().toSet
    val recompute = Dedup.minhashLshPairsBetween(newBatch, old, "text", "doc_id",
        tau = 0.9, numHashes = 64, bands = 16, maxBucket = 1000)
      .select("id_new", "id_old", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(stored.nonEmpty, "planted copies must pair")
    assert(stored == recompute, "stored-index path must be bit-identical to recompute")
    // a mismatched family must be refused at construction, not band garbage
    assertThrows[IllegalArgumentException](
      Dedup.BandedIndex(idx.banded, numHashes = 64, bands = 15, seed = 42))
  }

  test("appendBanded: two installments == single-shot index; replay is a no-op; negative seed round-trips") {
    import org.apache.spark.sql.functions.col
    val old1 = docs.filter(col("doc_id") < 300).select("doc_id", "text")
    val old2 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .select("doc_id", "text")
    val old = docs.filter(col("doc_id") < 400).select("doc_id", "text")
    val newBatch = docs.filter(col("doc_id") >= 400).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    val dir = java.nio.file.Files.createTempDirectory("graft_banded_app_spec").toString
    // negative seed: the meta artifact must round-trip it (ADVICE r6)
    graft.ann.IndexStore.saveBanded(old1, "text", "doc_id", dir,
      numHashes = 64, bands = 16, seed = -7)
    graft.ann.IndexStore.appendBanded(old2, "text", "doc_id", dir)
    val afterAppend = graft.ann.IndexStore.loadBanded(spark, dir)
    assert(afterAppend.seed == -7, "negative seed must survive save/load")
    val rowsOnce = afterAppend.banded.count()
    // replayed append must add nothing (left-anti idempotency guard)
    graft.ann.IndexStore.appendBanded(old2, "text", "doc_id", dir)
    val replayed = graft.ann.IndexStore.loadBanded(spark, dir)
    assert(replayed.banded.count() == rowsOnce, "replayed append must be a no-op")
    // appended index answers exactly like a single-shot index on < 400
    val single = {
      val d2 = java.nio.file.Files.createTempDirectory("graft_banded_single").toString
      graft.ann.IndexStore.saveBanded(old, "text", "doc_id", d2,
        numHashes = 64, bands = 16, seed = -7)
      graft.ann.IndexStore.loadBanded(spark, d2)
    }
    def pairs(idx2: Dedup.BandedIndex) =
      Dedup.minhashLshPairsBetween(newBatch, old, "text", "doc_id",
          tau = 0.9, idx2, maxBucket = 1000)
        .select("id_new", "id_old", "jaccard").as[(Long, Long, Double)].collect().toSet
    val got = pairs(replayed)
    assert(got.nonEmpty, "planted copies must pair")
    assert(got == pairs(single), "appended installments must equal the single-shot index")
  }

  test("appendBanded batch marker: replay short-circuits even without the anti-join") {
    import org.apache.spark.sql.functions.col
    val old1 = docs.filter(col("doc_id") < 300).select("doc_id", "text")
    val old2 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_banded_marker").toString
    graft.ann.IndexStore.saveBanded(old1, "text", "doc_id", dir,
      numHashes = 64, bands = 16)
    graft.ann.IndexStore.appendBanded(old2, "text", "doc_id", dir,
      batchId = Some("batch-002"))
    assert(new java.io.File(s"$dir/_batches/batch-002").exists(),
      "marker must be written after the append commits")
    val rowsOnce = graft.ann.IndexStore.loadBanded(spark, dir).banded.count()
    // marker short-circuit is the guard here: anti-join disabled, so any
    // re-execution would DOUBLE the batch's band rows if the marker were
    // ignored (the ADVICE r7 partial-commit window, closed)
    graft.ann.IndexStore.appendBanded(old2, "text", "doc_id", dir,
      skipExistingIds = false, batchId = Some("batch-002"))
    assert(graft.ann.IndexStore.loadBanded(spark, dir).banded.count() == rowsOnce,
      "replay with an existing marker must be a no-op before any job runs")
    // a NEW batch id is not short-circuited: without the anti-join the
    // same rows land again, proving the marker (not the data) gated above
    graft.ann.IndexStore.appendBanded(old2, "text", "doc_id", dir,
      skipExistingIds = false, batchId = Some("batch-003"))
    assert(graft.ann.IndexStore.loadBanded(spark, dir).banded.count() > rowsOnce,
      "fresh batch id must run the append")
  }

  test("incremental exact dedup: bloom-pruned hits verified, non-dups and fp survive nothing") {
    import org.apache.spark.sql.functions.col
    val old = docs.filter(col("doc_id") < 400).select("doc_id", "text")
    val t7 = docs.filter(col("doc_id") === 7).select("text").head.getString(0)
    val t11 = docs.filter(col("doc_id") === 11).select("text").head.getString(0)
    val newBatch = Seq((9001L, t7), (9002L, t11), (9003L, t7 + " novel tail"),
      (9004L, "entirely new content never seen before")).toDF("doc_id", "text")
    def run(expected: Long) = Dedup.incrementalExactDup(newBatch, old, "text", "doc_id",
        expectedItems = expected)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    val withBloom = run(100000L)
    assert(withBloom == Set((9001L, 7L), (9002L, 11L)))
    // bloom disabled (plain join) must agree — the bloom is pruning only
    assert(run(0L) == withBloom)
  }

  test("maxBucket guard drops a planted pathological bucket but keeps normal pairs") {
    // 60 identical boilerplate docs (one giant bucket in every band) +
    // 2 genuinely near-dup docs + unrelated filler
    val boiler = "terms of service all rights reserved contact us privacy policy cookie settings"
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val rows = (1L to 60L).map(i => (i, boiler)) ++ Seq((100L, a), (101L, b)) ++
      (200L until 220L).map(i => (i, s"unique filler document number $i with some distinct extra words ${i * 7}"))
    val df = rows.toDF("id", "text")
    // guard off: boilerplate floods the output with 60*59/2 pairs
    val unguarded = Dedup.minhashLshPairs(df, "text", "id", tau = 0.5, maxBucket = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(unguarded.contains((1L, 2L)) && unguarded.contains((100L, 101L)))
    // guard at 10: the size-60 buckets are dropped, the real pair survives
    val guarded = Dedup.minhashLshPairs(df, "text", "id", tau = 0.5, maxBucket = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(guarded.contains((100L, 101L)))
    assert(!guarded.exists { case (x, y) => x <= 60L && y <= 60L })
  }

  test("graded-entry config (tau=0.9, 64 hashes, 16 bands, guard on) still has recall 1.0 vs exact") {
    val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id", tau = 0.9,
        numHashes = 64, bands = 16, maxBucket = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairsExact(docs, "text", "doc_id", tau = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups at J≈0.98")
    assert(lsh == exact)
  }

  test("user-default config (tau=0.9, 48 hashes, 8 bands) matches exact on the planted corpus") {
    // the cheaper default documented in minhashLshPairs' scaladoc:
    // half the signature cost of the graded 64/16, miss-prob ~2e-4 per
    // true pair at J=0.9 — on the planted J≈0.98 corpus it still finds
    // every pair (candidate miss-prob < 1e-7 at that J)
    val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id", tau = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairsExact(docs, "text", "doc_id", tau = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty && lsh == exact)
  }

  test("minhash signature: identical sets agree, disjoint sets differ") {
    val sh1 = Seq("a b c", "b c d", "c d e")
    val sh2 = Seq("x y z", "y z w")
    val coeffs = Array.tabulate(16)(i => ((i * 2 + 1).toLong, i.toLong))
    assert(Dedup.minhashSignature(sh1, coeffs).toSeq == Dedup.minhashSignature(sh1, coeffs).toSeq)
    assert(Dedup.minhashSignature(sh1, coeffs).toSeq != Dedup.minhashSignature(sh2, coeffs).toSeq)
  }

  test("exact dedup: groups found, canonical row keeps min id") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "text")
    val groups = Dedup.exactDupGroups(df, "text", "id").collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("dup_count") == 2)
    val kept = Dedup.dedupExact(df, "text", "id").select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("fnv1a64 folds code points: BMP unchanged, astral matches the oracle fold") {
    // BMP string: code-point fold == the historical code-unit fold
    def fnvRef(cps: Seq[Int]): Long = {
      var h = 0xcbf29ce484222325L
      cps.foreach { c => h ^= c; h *= 0x100000001b3L }
      h
    }
    assert(Dedup.fnv1a64("spark") === fnvRef("spark".map(_.toInt)))
    // astral (non-BMP) char: one fold step over the CODE POINT, not two
    // over the surrogate pair — what DuckDB's unicode(tok[i:i]) computes
    val emoji = new String(Character.toChars(0x1F600)) // 😀
    assert(Dedup.fnv1a64("a" + emoji) === fnvRef(Seq('a'.toInt, 0x1F600)))
  }

  test("simhash: identical texts at hamming 0; small edit stays within band recall; unrelated far") {
    val base = "spark join filter hash table scan merge sort window aggregate shuffle partition"
    val near = base.replace("window", "windows") // one token changed
    val df = Seq((1L, base), (2L, base), (3L, near),
      (4L, "completely different words entirely unrelated content here")).toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "text", "id", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 0) // identical
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L }) // unrelated not paired
    // hamming(base, near) computed directly — if within 3, banding must find it
    val d = java.lang.Long.bitCount(
      Dedup.simhash64(base.split(" ").toSeq) ^ Dedup.simhash64(near.split(" ").toSeq))
    if (d <= 3) assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) == d)
  }

  test("dhash64: matches an independent fold; uniform brightness shift is invariant") {
    // 18x16 gradient raster; reference fold computed inline from the
    // documented rule (sy = y*h/8, sx = x*w/9, bit = left > right)
    val w = 18; val h = 16
    val g = Array.tabulate(w * h)(i => (i * 7 + (i % 5) * 11) % 200)
    def ref(px: Array[Int]): Long = {
      var fp = 0L
      for (y <- 0 until 8; x <- 0 until 8) {
        val sy = y * h / 8
        if (px(sy * w + x * w / 9) > px(sy * w + (x + 1) * w / 9))
          fp |= 1L << (y * 8 + x)
      }
      fp
    }
    assert(Dedup.dhash64(g, w, h) === ref(g))
    // gradients are compared, not absolute levels
    assert(Dedup.dhash64(g.map(_ + 40), w, h) === Dedup.dhash64(g, w, h))
  }

  test("imagePhashPairs: netpbm and PNG decode to the same fingerprint; unrelated images unpaired") {
    import graft.multimodal.MediaCodecs
    val w = 16; val h = 8
    val base = Array.tabulate(w * h)(i => ((i * 13) % 180 + 20).toByte)
    val shifted = base.map(b => ((b & 0xff) + 30).toByte) // uniform +30, no clamp (max 229)
    val noise = Array.tabulate(w * h)(i => (((i * 97) ^ (i << 3)) % 256).toByte)
    def p5(px: Array[Byte]): Array[Byte] =
      s"P5\n$w $h\n255\n".getBytes("US-ASCII") ++ px
    val df = Seq(
      (1L, p5(base)),
      (2L, MediaCodecs.encodePng(base, w, h, 1)), // same pixels, PNG path
      (3L, p5(shifted)),                           // brightness-shifted near-dup
      (4L, p5(noise)),                             // unrelated
      (5L, "not an image".getBytes("UTF-8"))       // undecodable -> dropped
    ).toDF("id", "data")
    val pairs = Dedup.imagePhashPairs(df, "data", "id", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) === 0) // codec paths agree bit-for-bit
    assert(pairs((1L, 3L)) === 0) // dHash shift invariance
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
    assert(!pairs.keySet.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("connected components: chains merge, isolates keep own label, non-convergence throws") {
    // chain 1-2-3 (diameter 2), pair 10-11, and 20-21-22 via hub 20
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (20L, 22L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // distributed propagation path (forced via maxLocalEdges = 0) agrees
    val compsDist = Dedup.connectedComponents(pairs, maxLocalEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(compsDist == comps)
    // a long chain needs rounds ~ diameter: maxIter below that must fail
    val chain = (0L until 6L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id_a", "id_b")
    assertThrows[IllegalStateException](
      Dedup.connectedComponents(chain, maxIter = 2, maxLocalEdges = 0))
    val full = Dedup.connectedComponents(chain, maxLocalEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(full.values.toSet == Set(0L))
  }

  test("connected components: distributed star path == local union-find on a messy random graph") {
    // adversarial input for the large-star/small-star path (r19):
    // duplicate edges, both orientations of the same edge, self-loops
    // (incl. one on an otherwise-isolated id), chains, stars and a
    // dense clump — the distributed labeling must match union-find
    // exactly, and every id that appears in any pair must be labeled.
    val rnd = new scala.util.Random(7)
    val base = (1 to 400).map { _ =>
      val a = rnd.nextInt(120).toLong; val b = rnd.nextInt(120).toLong; (a, b)
    }
    val edges = base ++ base.take(40).map(_.swap) ++ base.take(25) ++
      Seq((200L, 200L), (201L, 201L), (201L, 202L)) ++
      (300L until 310L).sliding(2).map(s => (s(0), s(1))).toSeq
    val df = edges.toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(df).as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(df, maxLocalEdges = 0)
      .as[(Long, Long)].collect()
    assert(dist.length == dist.map(_._1).distinct.length, "duplicate id rows")
    assert(dist.toMap == local)
  }

  test("connected components: plan descriptions stay flat as star half-rounds accumulate") {
    // Spark builds (and its status store keeps) a plan description for
    // every SQL execution. Each half-round must start from a cut plan:
    // nesting the previous half-round's cached plan grew the description
    // ~4x per round (74 MB on this 12-node path; a 40-node path ran a
    // 4 GiB heap out of memory).
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          descs.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val path = (0L until 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val comps = Dedup.connectedComponents(path, maxLocalEdges = 0)
        .as[(Long, Long)].collect().toMap
      assert(comps == (0L to 11L).map(_ -> 0L).toMap)
      // the bus delivers in order: once the marker query is seen, every
      // execution above has been delivered too
      spark.range(1).selectExpr("'cc_plan_marker' AS m").collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!descs.toArray.exists(_.toString.contains("cc_plan_marker")) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      val sizes = descs.toArray.map(_.toString.length)
      assert(sizes.length > 4)
      assert(sizes.max < (64 << 10), s"plan description sizes: ${sizes.mkString(",")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("dedupNearLsh keeps one canonical doc per near-dup group plus all unpaired rows") {
    val boiler = "the quick brown fox jumps over the lazy dog again and again in the park today"
    val df = Seq(
      (1L, boiler), (2L, boiler), (3L, boiler + " extra"), // one group, canonical 1
      (4L, "some totally different document about spark query planning and shuffles here"))
      .toDF("id", "text")
    val kept = Dedup.dedupNearLsh(df, "text", "id", tau = 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
  }

  test("embedding near-dup pairs are symmetric-free, above threshold, within cluster") {
    val df = Seq(
      (1L, Array(1f, 0f), "a"), (2L, Array(0.99f, 0.1f), "a"),
      (3L, Array(0f, 1f), "a"), (4L, Array(1f, 0f), "b"))
      .toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embeddingNearDupPairs(df, "embedding", "vec_id", "label", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // 1-4 identical but cross-cluster; 1-3 orthogonal
  }

  test("hyperplane LSH pairs == brute-force cosine pairs on a random corpus with planted dups") {
    val dim = 32
    val rnd = new scala.util.Random(11)
    val base = (0L until 60L).map(i => (i, Array.fill(dim)(rnd.nextGaussian())))
    // planted near-dups: tiny perturbation of the first 8 vectors
    val planted = base.take(8).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.01 * rnd.nextGaussian()))
    }
    val all = base ++ planted
    val df = all.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      BigDecimal(dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val brute = (for {
      i <- all.indices; j <- (i + 1) until all.length
      c = cos(all(i)._2, all(j)._2)
      if c >= 0.95
    } yield {
      val (x, y) = (all(i)._1, all(j)._1)
      (math.min(x, y), math.max(x, y), c)
    }).toSet
    assert(brute.size == 8) // exactly the planted pairs
    val got = Dedup.embeddingLshPairs(df, "embedding", "vec_id", tau = 0.95)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute) // recall 1.0 at these band settings, verify exact
    // determinism: same seed, same output
    val again = Dedup.embeddingLshPairs(df, "embedding", "vec_id", tau = 0.95)
      .as[(Long, Long, Double)].collect().toSet
    assert(again == got)
    // a zero vector (failed embedder output) pairs with nothing instead
    // of NaN-crashing the verify stage
    val withZero = (all :+ (9999L, Array.fill(dim)(0.0)))
      .map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
    val gotZ = Dedup.embeddingLshPairs(withZero, "embedding", "vec_id", tau = 0.95)
      .as[(Long, Long, Double)].collect().toSet
    assert(gotZ == brute)
  }

  test("audioFingerprint64: hand-computed envelope bits; constant gain is invariant") {
    // 130 samples = 2 per window; odd windows carry energy 18, even 0
    // -> bit j set iff j even (e[j+1]=18 > e[j]=0 exactly at even j)
    val samples = Array.tabulate(130)(i => if ((i / 2) % 2 == 1) 3 else 0)
    assert(Dedup.audioFingerprint64(samples) == 0x5555555555555555L)
    // volume x7 multiplies every window energy by 49 - same fingerprint
    assert(Dedup.audioFingerprint64(samples.map(_ * 7)) == 0x5555555555555555L)
    // silence: all energies 0, no strict increase anywhere
    assert(Dedup.audioFingerprint64(Array.fill(200)(0)) == 0L)
    assert(Dedup.audioFingerprint64(Array.empty[Int]) == 0L)
  }

  test("audioFingerprintPairs: duplicate clips at hamming 0; unrelated unpaired; garbage drops") {
    import graft.multimodal.MediaCodecs
    def wav(seed: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      MediaCodecs.encodeWavPcm8(Array.fill(400)(rnd.nextInt(256).toByte), 8000)
    }
    val media = Seq(
      (1L, wav(7)), (2L, wav(7)),          // exact duplicate audio
      (3L, wav(99)), (4L, wav(1234)),      // unrelated clips
      (5L, Array[Byte](1, 2, 3))           // undecodable -> dropped
    ).toDF("media_id", "data")
    val pairs = Dedup.audioFingerprintPairs(media, "data", "media_id")
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 2L, 0)))
    assert(pairs.forall { case (a, b, _) => Set(a, b).subsetOf(Set(1L, 2L, 3L, 4L)) })
    assert(!pairs.exists { case (a, b, _) => Set(a, b) == Set(3L, 4L) })
  }
}
