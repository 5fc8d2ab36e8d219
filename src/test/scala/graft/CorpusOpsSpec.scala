package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.pipeline.CorpusOps

class CorpusOpsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("splitAssign matches a local md5-range reference and is stable") {
    val ids = (0L until 2000L).toDF("id")
    val got = ids.select($"id", CorpusOps.splitAssign($"id").as("split"))
      .as[(Long, String)].collect().toMap
    val expected = (0L until 2000L).map { i =>
      val h = md5hex(i.toString)
      i -> (if (h < "cc") "train" else if (h < "e6") "val" else "test")
    }.toMap
    assert(got == expected)
    // ~79.7/10.2/10.2 split; tolerate sampling noise on 2000 ids
    val counts = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 1500 && counts("train") < 1700)
    assert(counts("val") > 120 && counts("test") > 120)
  }

  test("stratifiedSample keeps exactly n per stratum, deterministically") {
    val df = (0 until 300).map(i => (i.toLong, s"lang${i % 3}")).toDF("id", "lang")
    val s1 = CorpusOps.stratifiedSample(df, "lang", "id", n = 7)
      .select($"lang", $"id", $"rk").as[(String, Long, Int)].collect().sorted.toSeq
    val s2 = CorpusOps.stratifiedSample(df, "lang", "id", n = 7)
      .select($"lang", $"id", $"rk").as[(String, Long, Int)].collect().sorted.toSeq
    assert(s1 == s2)
    val perStratum = s1.groupBy(_._1).view.mapValues(_.map(_._3).sorted).toMap
    assert(perStratum.keySet == Set("lang0", "lang1", "lang2"))
    perStratum.values.foreach(rks => assert(rks == (1 to 7)))
    // hash order, not id order: the sample is not just the first ids
    assert(s1.map(_._2).sorted != (0L until 21L).toSeq)
  }

  test("stratifiedSample plans the rank filter as a window group limit") {
    val df = (0 until 100).map(i => (i.toLong, s"l${i % 2}")).toDF("id", "lang")
    val plan = CorpusOps.stratifiedSample(df, "lang", "id", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("contaminationStats counts shared 3-gram shingles against the bench set") {
    val df = Seq(
      (1L, "a b c d e"),       // bench: grams {a b c, b c d, c d e}
      (2L, "a b c x y"),       // train: {a b c, b c x, c x y} -> overlap 1
      (3L, "c d e a b c d"),   // train: {c d e, d e a, e a b, a b c, b c d} -> overlap 3
      (4L, "q r s t"),         // train: no overlap
      (5L, "zz")               // train: < 3 words, dropped
    ).toDF("doc_id", "text")
    val got = CorpusOps.contaminationStats(df, "text", "doc_id", $"doc_id" === 1)
      .select($"id", $"total_grams", $"overlap_grams", $"contamination")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (2L, 3L, 1L, 0.333333),
      (3L, 5L, 3L, 0.6),
      (4L, 2L, 0L, 0.0)))
  }

  test("repetitionStats: 1 - distinct/total 3-grams, short docs dropped") {
    val df = Seq(
      (1L, "a b a b a b"),  // 4 grams: {a b a, b a b} distinct=2 -> rep 0.5
      (2L, "a b c d"),      // 2 grams, distinct 2 -> 0.0
      (3L, "x y")           // < 3 words, dropped
    ).toDF("doc_id", "text")
    val got = CorpusOps.repetitionStats(df, "text", "doc_id")
      .select($"id", $"total_grams", $"distinct_grams", $"repetition")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 4L, 2L, 0.5), (2L, 2L, 2L, 0.0)))
  }

  test("corpusMix: per-stratum docs, token sums, shares summing to 1") {
    val df = Seq(
      ("en", "s0", "a b c"), ("en", "s0", "d e"), ("en", "s1", "f"),
      ("de", "s0", "g h i j")
    ).toDF("lang", "source", "text")
    val got = CorpusOps.corpusMix(df, "text", Seq("lang", "source"))
      .select($"lang", $"source", $"docs", $"tok_sum", $"tok_share")
      .as[(String, String, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("de", "s0", 1L, 4L, 0.4),
      ("en", "s0", 2L, 5L, 0.5),
      ("en", "s1", 1L, 1L, 0.1)))
  }

  test("curate: dedups to min-id, drops short and repetitive docs, assigns splits") {
    val long = ("the quick brown fox jumps over the lazy dog and keeps going " * 2).trim
    val repetitive = "spam ham " * 40 + "spam ham spam" // high repetition, > 50 chars
    val df = Seq(
      (10L, long),          // canonical survivor
      (20L, long),          // exact dup of 10 -> dropped
      (30L, repetitive),    // repetition ~1 -> dropped
      (40L, "too short")    // < 50 chars -> dropped
    ).toDF("doc_id", "text")
    val got = CorpusOps.curate(df, "text", "doc_id")
      .select($"doc_id", $"split").as[(Long, String)].collect().toSeq
    assert(got.map(_._1) == Seq(10L))
    val h = md5hex("10")
    val expectSplit = if (h < "cc") "train" else if (h < "e6") "val" else "test"
    assert(got.head._2 == expectSplit)
  }

  test("hashSample: deterministic rate filter, nested subsets, ~num/65536 fraction") {
    val ids = (0L until 5000L).toDF("id")
    val s20 = CorpusOps.hashSample(ids, "id", 13107).as[Long].collect().toSet
    val s20b = CorpusOps.hashSample(ids, "id", 13107).as[Long].collect().toSet
    val s50 = CorpusOps.hashSample(ids, "id", 32768).as[Long].collect().toSet
    assert(s20 == s20b)
    assert(s20.subsetOf(s50), "smaller rate must be a subset of the larger")
    assert(s20.size > 5000 * 0.16 && s20.size < 5000 * 0.24, s"~20% expected, got ${s20.size}")
    assert(s50.size > 5000 * 0.45 && s50.size < 5000 * 0.55, s"~50% expected, got ${s50.size}")
    // parity with the local md5 reference
    val expect20 = (0L until 5000L).filter(i => md5hex(i.toString).substring(0, 4) < "3333").toSet
    assert(s20 == expect20)
  }

  test("tokenQuantiles: exact matches hand computation; approx tracks exact") {
    val df = (1 to 101).map(n => (n.toLong, Seq.fill(n)("w").mkString(" "))).toDF("id", "text")
    val ex = CorpusOps.tokenQuantiles(df, "text", Seq(0.25, 0.5, 0.75), exact = true).head
    // 1..101 tokens: interpolated percentiles land on exact ranks
    assert((ex.getDouble(0), ex.getDouble(1), ex.getDouble(2)) == (26.0, 51.0, 76.0))
    val ap = CorpusOps.tokenQuantiles(df, "text", Seq(0.25, 0.5, 0.75)).head
    Seq(0, 1, 2).foreach { i =>
      assert(math.abs(ap.getDouble(i) - ex.getDouble(i)) <= 2.0,
        s"approx p$i ${ap.getDouble(i)} vs exact ${ex.getDouble(i)}")
    }
  }

  test("dropBoilerplateLines removes corpus-frequent lines, keeps order, handles all-boiler docs") {
    val df = Seq(
      (1L, "cookie banner\nunique content one\nmore content\nall rights reserved"),
      (2L, "cookie banner\nunique content two\nall rights reserved"),
      (3L, "cookie banner\nall rights reserved") // nothing survives
    ).toDF("doc_id", "text")
    val got = CorpusOps.dropBoilerplateLines(df, "text", "doc_id", minDf = 3L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "unique content one\nmore content", 2L, 2L),
      (2L, "unique content two", 1L, 2L),
      (3L, "", 0L, 2L)))
    // below the threshold nothing is boilerplate
    val none = CorpusOps.dropBoilerplateLines(df, "text", "doc_id", minDf = 4L)
      .as[(Long, String, Long, Long)].collect()
    assert(none.forall(_._4 == 0L))
    // hashed line keys: byte-identical output to the string-keyed path
    val hashed = CorpusOps.dropBoilerplateLines(df, "text", "doc_id", minDf = 3L,
        hashedLines = true)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val strs = CorpusOps.dropBoilerplateLines(df, "text", "doc_id", minDf = 3L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(hashed == strs)
  }

  test("docFreqGrams counts documents per gram with a min-df filter") {
    val df = Seq(
      (1L, "a b c d"),   // grams: {a b c, b c d}
      (2L, "a b c"),     // {a b c}
      (3L, "a b c d"),   // {a b c, b c d}
      (4L, "x y z")      // {x y z}
    ).toDF("doc_id", "text")
    val got = CorpusOps.docFreqGrams(df, "text", "doc_id", minDf = 2L)
      .select($"g", $"doc_freq", $"df_share")
      .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("a b c", 3L, 0.75), ("b c d", 2L, 0.5)))
  }

  test("packSequences: bucketed prefix-sum == brute-force global packing; sequences fill exactly") {
    // unsorted input, a zero-token doc (must vanish), bucketSize 3 so
    // several buckets exercise the driver offset cumsum
    val docs = Seq((10L, 7L), (3L, 15L), (25L, 1L), (11L, 0L), (7L, 23L),
      (40L, 9L), (41L, 30L)).toDF("doc_id", "n_tokens")
    val got = CorpusOps.packSequences(docs, "doc_id", "n_tokens",
        seqLen = 10, bucketSize = 3)
      .orderBy("id", "seq_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // brute force: concatenate in id order, split every 10 tokens
    val sorted = Seq((3L, 15L), (7L, 23L), (10L, 7L), (25L, 1L), (40L, 9L), (41L, 30L))
    var start = 0L
    val exp = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    sorted.foreach { case (id, n) =>
      var s = start
      while (s < start + n) {
        val seq = s / 10
        val end = math.min(start + n, (seq + 1) * 10)
        exp += ((id, seq, s - start, s - seq * 10, end - s))
        s = end
      }
      start += n
    }
    assert(got == exp.toSeq)
    // invariants: every sequence except the last holds exactly seqLen
    // tokens; nothing is lost or duplicated
    val perSeq = got.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    val last = perSeq.keys.max
    assert(perSeq.filter(_._1 != last).values.forall(_ == 10L))
    assert(perSeq.values.sum == sorted.map(_._2).sum)
    // scale shape pinned: the prefix-sum window is PARTITIONED (by
    // bucket) — the whole plan carries at most 2 exchanges and no
    // single-task global-sort window
    val big = spark.range(0, 5000)
      .select($"id".as("doc_id"), ($"id" % 37 + 1).as("n_tokens"))
    val planned = CorpusOps.packSequences(big, "doc_id", "n_tokens",
      seqLen = 64, bucketSize = 100)
    planned.count()
    assert(graft.pipeline.BucketedStore.countShuffles(planned) <= 2,
      "packSequences must not add exchanges beyond the bucketed window")
  }

  test("materializeSequences: fixed seqLen except tail; reassembly byte-exact") {
    // unsorted ids across several buckets; a one-token doc; docs that
    // span sequence boundaries
    val raw = Seq(
      (7L, "pack my box with five dozen liquor jugs and then some more"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (25L, "x"),
      (10L, "a b c d e f g"))
    val docs = raw.toDF("doc_id", "text")
      .select($"doc_id", split(lower($"text"), "\\s+").as("toks"))
    val spans = CorpusOps.packSequences(
      docs.select($"doc_id", size($"toks").cast("long").as("n_tokens")),
      "doc_id", "n_tokens", seqLen = 5, bucketSize = 4)
    val got = CorpusOps.materializeSequences(spans, docs, "doc_id", "toks")
      .orderBy("seq_id")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList, r.getLong(2)))
      .toSeq
    val expectedToks = raw.sortBy(_._1).flatMap(_._2.toLowerCase.split("\\s+")).toList
    // seq_ids are contiguous from 0; every sequence holds exactly
    // seqLen tokens except the final tail
    val last = got.map(_._1).max
    assert(got.map(_._1) == (0L to last))
    assert(got.filter(_._1 != last).forall(_._3 == 5L))
    assert(got.forall(s => s._2.size.toLong == s._3))
    // byte-exact reassembly: concatenating the sequences reproduces the
    // corpus concatenated in id order, token for token
    assert(got.flatMap(_._2) == expectedToks)
    // scale shape pinned: pack's bucketed window (≤2 exchanges) + the
    // id join (2) + the seq_id regroup (1) — and nothing else; no
    // global sort, groups bounded by seqLen
    val big = spark.range(0, 2000)
      .select($"id".as("doc_id"),
        transform(sequence(lit(0), ($"id" % 23).cast("int")),
          x => concat(lit("t"), x)).as("toks"))
    val bigSpans = CorpusOps.packSequences(
      big.select($"doc_id", size($"toks").cast("long").as("n_tokens")),
      "doc_id", "n_tokens", seqLen = 64, bucketSize = 100)
    val planned = CorpusOps.materializeSequences(bigSpans, big, "doc_id", "toks")
    val n = planned.count()
    assert(n > 0)
    assert(graft.pipeline.BucketedStore.countShuffles(planned) <= 5,
      "materializeSequences must add only the id join and seq_id regroup")
  }

  test("temperatureSample: alpha rebalances toward small strata, deterministic, nested") {
    // 900 'big' vs 100 'small' docs: raw shares 0.9/0.1; alpha=0.5
    // shares sqrt(900)/ (30+10)=0.75 / 0.25 — small stratum's keep
    // RATE must exceed the big one's
    val docs = spark.range(0, 1000)
      .select($"id".as("doc_id"),
        when($"id" < 900, "big").otherwise("small").as("lang"))
    val out = CorpusOps.temperatureSample(docs, "lang", "doc_id",
      alpha = 0.5, targetFraction = 0.5)
    val kept = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rateBig = kept.getOrElse("big", 0L).toDouble / 900
    val rateSmall = kept.getOrElse("small", 0L).toDouble / 100
    assert(rateSmall > rateBig,
      s"alpha<1 must upweight the small stratum (big=$rateBig small=$rateSmall)")
    // rates land near the closed form: r_big = .5*1000*.75/900 = .4167,
    // r_small = min(1, .5*1000*.25/100) = 1.0 (hash noise ~ ±5%)
    assert(math.abs(rateBig - 0.4167) < 0.06)
    assert(rateSmall === 1.0)
    // deterministic: same rows every run
    val a = out.collect().map(_.getLong(0)).sorted.toSeq
    val b = CorpusOps.temperatureSample(docs.repartition(7), "lang", "doc_id",
      alpha = 0.5, targetFraction = 0.5).collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b)
    // alpha=1 with full target keeps everything (rates all 1)
    assert(CorpusOps.temperatureSample(docs, "lang", "doc_id",
      alpha = 1.0, targetFraction = 1.0).count() === 1000L)
  }

  test("maskRepeatedNgrams: hand-built corpus, span coverage + kept remainder") {
    val docs = Seq(
      (0L, "a b c d"),   // abc repeated (here + doc 1) → covers 0..2, keeps d
      (1L, "x a b c"),   // abc at start 1 → covers 1..3, keeps x
      (2L, "q w e r"),   // no repeated gram → untouched
      (3L, "a b"),       // shorter than n → untouched
      (4L, "a b c a b c a b c")) // abc at 0,3,6 (+overlaps) → fully covered
      .toDF("doc_id", "text")
    val got = CorpusOps.maskRepeatedNgrams(docs, "text", "doc_id", n = 3, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getSeq[String](3).toList)).sortBy(_._1).toList
    assert(got(0) === ((0L, 4, 3, List("d"))))
    assert(got(1) === ((1L, 4, 3, List("x"))))
    assert(got(2) === ((2L, 4, 0, List("q", "w", "e", "r"))))
    assert(got(3) === ((3L, 2, 0, List("a", "b"))))
    assert(got(4) === ((4L, 9, 9, Nil)))
  }

  test("exactSubstrSpans: hand-built overlap, adjacency, gap, same-doc, and whole-doc cases") {
    val docs = Seq(
      // cross-doc 5-token repeat at different offsets: overlapping
      // anchors (L=3 → starts 0,1,2 / 2,3,4) must EXTEND into one span
      (0L, "a b c d e x y z"),
      (1L, "p q a b c d e"),
      // same 3-gram twice in ONE doc with a unique middle: two islands
      // separated by a real gap (the paper counts same-doc occurrences)
      (12L, "s t u g1 g2 g3 g4 s t u"),
      // the shared run also appears here (cross-doc, offset 0 / 2)
      (10L, "s t u v w a a a"),
      (11L, "z z s t u v w q"),
      // ADJACENT repeated runs: doc 13 has them back-to-back (coverage
      // abuts → ONE merged span), doc 14 separates them by one unique
      // token (gap → TWO spans) — both sides of the merge rule
      (13L, "c1 c2 c3 d1 d2 d3 u1 u2"),
      (14L, "c1 c2 c3 x d1 d2 d3 y"),
      // no repeat / shorter than minLen → no rows
      (15L, "only unique tokens here now"),
      (16L, "a b"),
      // whole-doc duplicates → one span covering everything, both docs
      (17L, "w1 w2 w3 w4 w5"),
      (18L, "w1 w2 w3 w4 w5"))
      .toDF("doc_id", "text")
    val got = CorpusOps.exactSubstrSpans(docs, "text", "doc_id", minLen = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2)).toList
    assert(got === List(
      (0L, 0, 4, 5),
      (1L, 2, 6, 5),
      (10L, 0, 4, 5),
      (11L, 2, 6, 5),
      (12L, 0, 2, 3), (12L, 7, 9, 3),
      (13L, 0, 5, 6),
      (14L, 0, 2, 3), (14L, 4, 6, 3),
      (17L, 0, 4, 5),
      (18L, 0, 4, 5)))
    // every span honors the minimum length by construction
    assert(got.forall { case (_, s, e, l) => l >= 3 && l == e - s + 1 })
  }

  test("exactSubstrSpans coverage == maskRepeatedNgrams(minCount=2) coverage") {
    // the documented iff: positions inside some repeated >= L span are
    // exactly the positions the fixed-L mask covers at minCount=2 —
    // pin it on a corpus with overlaps, adjacency, and same-doc repeats
    val docs = Seq(
      (0L, "a b c d e x y z"), (1L, "p q a b c d e"),
      (2L, "m n o k k k k m n o"), (3L, "c1 c2 c3 d1 d2 d3 c1 c2 c3"))
      .toDF("doc_id", "text")
    val spans = CorpusOps.exactSubstrSpans(docs, "text", "doc_id", minLen = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val spanCover = spans.groupBy(_._1).view.mapValues(
      _.flatMap { case (_, s, e) => s to e }.toSet).toMap
    val maskCover = CorpusOps.maskRepeatedNgrams(
        docs, "text", "doc_id", n = 3, minCount = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    docs.collect().foreach { r =>
      val id = r.getLong(0)
      assert(spanCover.getOrElse(id, Set.empty).size === maskCover(id),
        s"doc $id covered-position count")
    }
  }

  test("contaminationStats at n=8: real decontamination window") {
    // bench doc 1 shares exactly one 8-gram with doc 2 (the first 8
    // tokens), none with doc 3; docs under 8 words drop
    val df = Seq(
      (1L, "a b c d e f g h i"),   // bench: grams {a..h, b..i}
      (2L, "a b c d e f g h x"),   // train: {a..h, b..x} -> overlap 1
      (3L, "p q r s t u v w x y"), // train: no overlap
      (4L, "a b c d e f g")        // train: 7 words, dropped
    ).toDF("doc_id", "text")
    val got = CorpusOps.contaminationStats(df, "text", "doc_id", $"doc_id" === 1, n = 8)
      .select($"id", $"total_grams", $"overlap_grams", $"contamination")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (2L, 2L, 1L, 0.5),
      (3L, 3L, 0L, 0.0)))
  }

  test("decontaminateSpans: eval grams masked out of train docs only") {
    val docs = Seq(
      (7L, "the quick brown fox jumps"),   // EVAL (id % 7 == 0)
      (1L, "see the quick brown fox run"), // train: 4-gram hit at 1..4
      (2L, "the quick red fox jumps"),     // train: no full 4-gram match
      (3L, "quick brown fox jumps end"),   // train: hit at 0..3
      (4L, "a b"))                         // train: shorter than n
      .toDF("doc_id", "text")
    def run(hashed: Boolean): Seq[(Long, Int, Int, List[String])] =
      CorpusOps.decontaminateSpans(docs, "text", "doc_id", $"doc_id" % 7 === 0,
          n = 4, hashedGrams = hashed)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getSeq[String](3).toList)).sortBy(_._1).toSeq
    val got = run(hashed = false)
    // eval doc 7 is NOT in the output
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(got(0) === ((1L, 6, 4, List("see", "run"))))
    assert(got(1) === ((2L, 5, 0, List("the", "quick", "red", "fox", "jumps"))))
    assert(got(2) === ((3L, 5, 4, List("end"))))
    assert(got(3) === ((4L, 2, 0, List("a", "b"))))
    // hashed keys: byte-identical (no 64-bit collision on this corpus)
    assert(run(hashed = true) === got)
    // null isEval predicate = train (review r10: a bare filter pair
    // dropped null-predicate rows from BOTH sides)
    val withNull = Seq((Some("eval"), 7L, "the quick brown fox jumps"),
      (None: Option[String], 8L, "quick brown fox jumps too"),
      (Some("train"), 9L, "nothing shared here at all"))
      .toDF("source", "doc_id", "text")
    val out = CorpusOps.decontaminateSpans(withNull, "text", "doc_id",
        $"source" === "eval", n = 4)
      .select($"id").as[Long].collect().toSet
    assert(out == Set(8L, 9L), s"null-source row must stay in train, got $out")
  }

  // r18 topology split: the span-mask family answers from a broadcast
  // hot-set narrow pass when the hot side fits the bounded collect, and
  // from the r14-r17 join plan otherwise. Force the fallback via the
  // sizing knob and pin bit-identical output on corpora that exercise
  // coverage, islands, empty docs, and the eval-gram path.
  private def withHotBroadcastMax[A](v: String)(body: => A): A = {
    val old = sys.props.get("graft.span.hotBroadcastMax")
    sys.props("graft.span.hotBroadcastMax") = v
    try body
    finally old match {
      case Some(o) => sys.props("graft.span.hotBroadcastMax") = o
      case None => sys.props -= "graft.span.hotBroadcastMax"; ()
    }
  }

  test("span-mask fast path == join fallback (mask, substr spans, decontaminate, lines)") {
    val docs = Seq(
      (0L, "a b c d e x y z"), (1L, "p q a b c d e"),
      (2L, "m n o k k k k m n o"), (3L, "c1 c2 c3 d1 d2 d3 c1 c2 c3"),
      (4L, ""), (5L, "one two"), (6L, "a b c d e x y z"))
      .toDF("doc_id", "text")
    def maskRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getSeq[String](3).toList)).sortBy(_._1).toList
    def spanRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .sortBy(t => (t._1, t._2)).toList
    val fastMask = maskRows(CorpusOps.maskRepeatedNgrams(docs, "text", "doc_id", n = 3, minCount = 2))
    val fastSpan = spanRows(CorpusOps.exactSubstrSpans(docs, "text", "doc_id", minLen = 3))
    val fastDecon = maskRows(CorpusOps.decontaminateSpans(docs, "text", "doc_id",
      $"doc_id" === 3, n = 3))
    val lineDocs = Seq((0L, "keep me\nshared line\nalso keep"),
      (1L, "shared line\nunique a"), (2L, "shared line\nunique b"),
      (3L, ""), (4L, "shared line\nshared line")).toDF("doc_id", "text")
    def lineRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"clean_text", $"n_kept", $"n_dropped")
        .as[(Long, String, Long, Long)].collect().sortBy(_._1).toList
    val fastLines = lineRows(CorpusOps.dropBoilerplateLines(lineDocs, "text", "doc_id", minDf = 3L))
    withHotBroadcastMax("-1") {
      assert(maskRows(CorpusOps.maskRepeatedNgrams(docs, "text", "doc_id", n = 3, minCount = 2))
        === fastMask)
      assert(spanRows(CorpusOps.exactSubstrSpans(docs, "text", "doc_id", minLen = 3))
        === fastSpan)
      assert(maskRows(CorpusOps.decontaminateSpans(docs, "text", "doc_id",
        $"doc_id" === 3, n = 3)) === fastDecon)
      assert(lineRows(CorpusOps.dropBoilerplateLines(lineDocs, "text", "doc_id", minDf = 3L))
        === fastLines)
    }
    // the fast path really fired on the default run: a doc fully
    // covered by repeats masks to nothing either way — sanity values
    assert(fastMask.head._1 === 0L)
    assert(fastLines(4) === ((4L, "", 0L, 2L))) // all-boilerplate doc survives as ''
    // r19: a small POSITIVE bound exercises the third topology — the
    // decision probe runs, reports over-bound, and the fallback joins
    // the probed RDD back as a table (vs -1, which skips the probe and
    // keeps the r17 plan). All three must stay value-pinned.
    withHotBroadcastMax("0") {
      assert(maskRows(CorpusOps.maskRepeatedNgrams(docs, "text", "doc_id", n = 3, minCount = 2))
        === fastMask)
      assert(lineRows(CorpusOps.dropBoilerplateLines(lineDocs, "text", "doc_id", minDf = 3L))
        === fastLines)
    }
  }

  test("BoundedCollect: one-job decision semantics (under, exact, over, forced-off)") {
    val rdd = spark.sparkContext.parallelize(1L to 100L, 8)
    val under = graft.pipeline.BoundedCollect.tryCollect(rdd, 200L)
    assert(under.exists(_.sorted.toSeq == (1L to 100L)), "under-bound collects every row")
    val exact = graft.pipeline.BoundedCollect.tryCollect(rdd, 100L)
    assert(exact.exists(_.sorted.toSeq == (1L to 100L)), "exact-bound still collects")
    assert(graft.pipeline.BoundedCollect.tryCollect(rdd, 99L).isEmpty, "over-bound declines")
    assert(graft.pipeline.BoundedCollect.tryCollect(rdd, -1L).isEmpty, "negative max = forced fallback")
    // single-partition RDDs keep the exact max+1 cap (no spread slack)
    val one = spark.sparkContext.parallelize(1L to 50L, 1)
    assert(graft.pipeline.BoundedCollect.tryCollect(one, 50L).exists(_.length == 50))
    assert(graft.pipeline.BoundedCollect.tryCollect(one, 49L).isEmpty)
    val triples = spark.sparkContext.parallelize((1L to 60L).map(i => (i, i * 2, i * 3)), 4)
    val t = graft.pipeline.BoundedCollect.tryCollectLongTriples(triples, 60L)
    assert(t.exists { case (g, cp, cq) =>
      g.length == 60 && g.zip(cp).forall { case (a, b) => b == a * 2 } &&
        g.zip(cq).forall { case (a, b) => b == a * 3 }
    })
    assert(graft.pipeline.BoundedCollect.tryCollectLongTriples(triples, 10L).isEmpty)
  }

  test("LongHashSet/LongDoubleMap: reject key counts past the 2^29 load-factor bound") {
    // a full table would loop forever on a missing key — the builders
    // must refuse first (VERDICT r18). The one Long array of
    // (1 << 29) + 1 entries (4 GiB) is the only large allocation: it is
    // never populated or hashed, because require fires before the table
    // is built. LongDoubleMap gets an empty values array; the message
    // check makes the bound refusal, not the alignment refusal, the one
    // under test.
    val over = new Array[Long]((1 << 29) + 1)
    val bound = s"at most ${1 << 29} keys"
    val e1 = intercept[IllegalArgumentException](graft.pipeline.LongHashSet(over))
    assert(e1.getMessage.contains(bound))
    val e2 = intercept[IllegalArgumentException](
      graft.pipeline.LongDoubleMap(over, Array.emptyDoubleArray, 0.0))
    assert(e2.getMessage.contains(bound))
  }

  test("LongHashSet: membership matches Set[Long], including 0 and absent keys") {
    val rnd = new scala.util.Random(7)
    val keys = Array.fill(5000)(rnd.nextLong()) :+ 0L :+ Long.MinValue :+ -1L
    val set = graft.pipeline.LongHashSet(keys)
    val ref = keys.toSet
    assert(set.size === ref.size)
    keys.foreach(k => assert(set.contains(k), s"present key $k"))
    (0 until 20000).foreach { _ =>
      val k = rnd.nextLong()
      assert(set.contains(k) === ref.contains(k), s"random key $k")
    }
    val empty = graft.pipeline.LongHashSet(Array.empty[Long])
    assert(!empty.contains(0L) && !empty.contains(42L) && empty.size === 0)
  }

  test("shingleHashSet == shingleSet.map(fnv1a64); contaminationStats hashed parity") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "bc", "définitive", "x1", "émoji☃", "tok")
    (0 until 30).foreach { _ =>
      val t = Vector.fill(2 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (2 to 4).foreach { n =>
        assert(graft.dedup.Dedup.shingleHashSet(t, n) ==
          graft.dedup.Dedup.shingleSet(t, n).map(graft.dedup.Dedup.fnv1a64),
          s"t='$t' n=$n")
      }
    }
    // end-to-end: the (now always-hashed, r14) kernel's counts equal a
    // STRING-space reference computed right here — the value-parity pin
    // that guards the string-kernel retirement
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c x y"), (3L, "c d e a b c d"),
      (4L, "q r s t"), (5L, "zz"))
    val df = docs.toDF("doc_id", "text")
    val benchSet = graft.dedup.Dedup.shingleSet("a b c d e", 3).toSet
    val expected = docs.filter(_._1 != 1L).flatMap { case (id, t) =>
      val sh = graft.dedup.Dedup.shingleSet(t, 3)
      if (sh.isEmpty) None
      else Some((id, sh.size.toLong, sh.count(benchSet).toLong))
    }.sortBy(_._1)
    val got = CorpusOps.contaminationStats(
        df, "text", "doc_id", $"doc_id" === 1)
      .select($"id", $"total_grams", $"overlap_grams")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == expected)
  }

  test("gramHash == fnv1a64 of the separator-joined gram string, exactly") {
    val rnd = new scala.util.Random(9)
    val vocab = Vector("a", "bc", "définitive", "x1", "émoji☃", "longertokenhere")
    (0 until 50).foreach { _ =>
      val ts = IndexedSeq.fill(4 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      val n = 2 + rnd.nextInt(3)
      (0 to ts.length - n).foreach { i =>
        assert(CorpusOps.gramHash(ts, i, n) ==
          graft.dedup.Dedup.fnv1a64(ts.slice(i, i + n).mkString("\u001f")),
          s"ts=$ts i=$i n=$n")
      }
    }
  }

  test("maskRepeatedNgrams: byte-identical to a string-keyed reference mask") {
    // the hand-built corpus plus a 300-doc pseudo-random one, checked
    // against a STRING-space reference mask computed right here: any
    // difference would need a 64-bit collision of the incremental
    // FNV-1a gramHash between distinct grams of this corpus —
    // impossible here, so exact equality. This is the value-parity pin
    // that guards the r14 string-kernel retirement.
    val hand = Seq(
      (0L, "a b c d"), (1L, "x a b c"), (2L, "q w e r"),
      (3L, "a b"), (4L, "a b c a b c a b c"))
    val rnd = new scala.util.Random(42)
    val vocab = Vector("red", "blue", "green", "ion", "flux", "core", "beam", "node")
    val gen = (5L until 305L).map { i =>
      (i, Vector.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val all = hand ++ gen
    val n = 3
    // string-keyed reference: corpus-wide gram counts, hot = >= 2,
    // cover every position reached by a hot gram start. Grams join
    // with the same unit-separator gramHash uses (ADVICE r14): a
    // no-separator join would collide distinct grams with ambiguous
    // token boundaries, weakening the parity pin under future vocabs
    val toks = all.map { case (id, t) =>
      id -> t.toLowerCase.trim.split("\\s+").toVector }.toMap
    val counts = scala.collection.mutable.Map.empty[String, Int]
    toks.values.foreach { ts =>
      ts.sliding(n).filter(_.size == n)
        .foreach(g => counts.updateWith(g.mkString("\u001f"))(c => Some(c.getOrElse(0) + 1)))
    }
    val expected = all.map { case (id, _) =>
      val ts = toks(id)
      val mask = new Array[Boolean](ts.length)
      (0 to ts.length - n).foreach { i =>
        if (counts(ts.slice(i, i + n).mkString("\u001f")) >= 2)
          (i until i + n).foreach(mask(_) = true)
      }
      (id, ts.length, mask.count(identity),
        ts.indices.filterNot(mask(_)).map(ts).toList)
    }.sortBy(_._1)
    val got =
      CorpusOps.maskRepeatedNgrams(all.toDF("doc_id", "text"), "text", "doc_id",
          n = n, minCount = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getSeq[String](3).toList)).sortBy(_._1).toSeq
    assert(got === expected)
  }

  test("TrainingExport.writeShards: split-partitioned, range-disjoint, name-ordered shards + manifest") {
    import graft.pipeline.TrainingExport
    val docs = (0L until 600L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    val man = TrainingExport.writeShards(docs, "doc_id", dir,
      seed = 7L, epoch = 1, numShards = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4)))
    // all rows accounted for, every split present
    assert(man.map(_._3).sum == 600L)
    assert(man.map(_._1).toSet == Set("train", "val", "test"))
    // within each split: file name order == key order, ranges disjoint
    man.groupBy(_._1).foreach { case (split, files) =>
      val ordered = files.sortBy(_._2)
      ordered.sliding(2).foreach {
        case Array((_, f1, _, _, max1), (_, f2, _, min2, _)) =>
          assert(max1 < min2, s"$split: $f1 range overlaps $f2")
        case _ => ()
      }
    }
    // reading a split's files in name order yields the epoch's sorted keys
    val trainFiles = man.filter(_._1 == "train").map(_._2).sorted
    val keysInFileOrder = trainFiles.flatMap { f =>
      spark.read.parquet(f.stripPrefix("file:"))
        .select($"shuffle_key").as[String].collect()
    }
    assert(keysInFileOrder.toSeq == keysInFileOrder.sorted.toSeq)
    // split assignment matches the content-addressed rule
    val splitOf = spark.read.parquet(dir)
      .select($"doc_id", $"split".cast("string")).as[(Long, String)].collect().toMap
    val expected = docs.select($"doc_id",
      graft.pipeline.CorpusOps.splitAssign($"doc_id")).as[(Long, String)].collect().toMap
    assert(splitOf == expected)
    // JSONL variant round-trips with the same totals
    val dirJ = java.nio.file.Files.createTempDirectory("shardsj").toString
    val manJ = TrainingExport.writeShards(docs, "doc_id", dirJ,
      seed = 7L, epoch = 1, numShards = 4, format = "json")
    assert(manJ.agg(sum($"rows")).head().getLong(0) == 600L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirJ))
  }

  test("epochShuffle writer contract: lexicographic file order IS the global key order") {
    // the scaladoc claim: the range-partition sort gives downstream
    // writers range-disjoint files whose name order is the global order
    val dir = java.nio.file.Files.createTempDirectory("epoch_shuffle_files").toFile
    // AQE coalesces a 2000-row sort to one partition — disable just for
    // this write so the multi-file property is actually exercised (at
    // real scale the sort genuinely spans many range partitions)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val docs = spark.range(0, 2000).select($"id".as("doc_id"))
      CorpusOps.epochShuffle(docs.repartition(8), "doc_id", seed = 7L, epoch = 1)
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
      val parts = dir.listFiles().filter(_.getName.startsWith("part-"))
        .map(_.getAbsolutePath).sorted
      assert(parts.length > 1, s"want multiple range files, got ${parts.length}")
      // concatenating per-file keys in FILE-NAME order must equal the
      // globally sorted key sequence (files are range-disjoint + sorted)
      val concat = parts.toSeq.flatMap { f =>
        spark.read.parquet(f).select($"shuffle_key").collect().map(_.getString(0)).toSeq
      }
      assert(concat.length === 2000)
      assert(concat === concat.sorted)
    } finally {
      spark.conf.set(coalesceKey, prev)
      dir.listFiles().foreach(_.delete()); dir.delete(); ()
    }
  }

  test("epochShuffle: deterministic per epoch, independent across epochs, row-preserving") {
    val docs = spark.range(0, 500).select($"id".as("doc_id"))
    def order(epoch: Int, partitions: Int): Seq[Long] =
      CorpusOps.epochShuffle(docs.repartition(partitions), "doc_id", seed = 7L, epoch = epoch)
        .collect().map(_.getLong(0)).toSeq
    val e1 = order(1, 4)
    // same permutation whatever the input partitioning (content-addressed)
    assert(order(1, 13) === e1)
    // all rows kept, exactly once
    assert(e1.sorted === (0L until 500L))
    // a different epoch is a different permutation (w.h.p.), same rows
    val e2 = order(2, 4)
    assert(e2 !== e1)
    assert(e2.sorted === (0L until 500L))
    // a different seed differs from both
    val other = CorpusOps.epochShuffle(docs, "doc_id", seed = 8L, epoch = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(other !== e1)
    // key matches the documented closed form (external replayability)
    val key = CorpusOps.epochShuffle(docs.limit(1), "doc_id", seed = 7L, epoch = 1)
      .collect().head.getString(1)
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest("7:1:0".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(key === want)
  }

  test("repetitionStats codegen plan matches a row-by-row reference, incl. null/empty/short docs") {
    val docs = Seq[(Long, String)](
      (0L, "a b c a b c a b c"), (1L, "x y z w v u"), (2L, "a b"),
      (3L, ""), (4L, null), (5L, "t t t t t t t t"),
      (6L, "one  two  three four"), // double spaces -> empty tokens count
      (7L, "solo words here exactly"))
      .toDF("doc_id", "text")
    val got = CorpusOps.repetitionStats(docs, "text", "doc_id")
      .select("id", "total_grams", "distinct_grams", "repetition")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val want = Seq[(Long, String)](
      (0L, "a b c a b c a b c"), (1L, "x y z w v u"), (2L, "a b"),
      (3L, ""), (4L, null), (5L, "t t t t t t t t"),
      (6L, "one  two  three four"), (7L, "solo words here exactly"))
      .flatMap { case (id, t) =>
        val words = if (t == null) 0 else t.split(" ", -1).length
        val total = math.max(words - 2, 0).toLong
        if (total == 0) None
        else {
          val distinct = graft.dedup.Dedup.shingleSet(t).size.toLong
          Some((id, total, distinct,
            BigDecimal(1.0 - distinct.toDouble / total)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        }
      }
    assert(got == want)
    // the count twin really equals shingleSet(_).size on arbitrary text
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "cd", "ef", "")
    (0 until 200).foreach { _ =>
      val t = Vector.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      assert(graft.dedup.Dedup.distinctShingleCount(t, 3) ==
        graft.dedup.Dedup.shingleSet(t, 3).size.toLong, s"text='$t'")
    }
  }

  test("sampleTopK: exactly k, content-addressed, partitioning-invariant, k > rows") {
    val docs = spark.range(0, 300).select($"id".as("doc_id"),
      concat(lit("t"), $"id").as("lang"))
    def ids(partitions: Int, k: Int): Seq[Long] =
      CorpusOps.sampleTopK(docs.repartition(partitions), "doc_id", k)
        .select("doc_id").as[Long].collect().toSeq.sorted
    val got = ids(4, 50)
    assert(got.size == 50)
    // same rows whatever the physical partitioning
    assert(ids(13, 50) === got)
    // reference: the 50 smallest md5(id) values
    val want = (0L until 300L)
      .sortBy(i => (md5hex(i.toString), i)).take(50).sorted
    assert(got === want)
    // nested: top-20 is a subset of top-50
    assert(ids(4, 20).forall(got.contains))
    // k > rows returns everything; k = 0 returns none
    assert(ids(4, 1000) === (0L until 300L))
    assert(ids(4, 0).isEmpty)
  }

  test("pruneBySurprisalQuantile: keeps the at-or-below-threshold docs, schema appends scores") {
    // rare-word docs score high surprisal; common-word docs low
    val docs = ((0L until 16L).map(i => (i, "the cat sat on the mat")) ++
      Seq((16L, "zyx qwv jkl pnm"), (17L, "aardvark xylophone quux corge")))
      .toDF("doc_id", "text")
    val out = CorpusOps.pruneBySurprisalQuantile(docs, "text", "doc_id", p = 0.8)
    assert(out.columns.toSeq == Seq("doc_id", "text", "n_words", "surprisal"))
    val keptIds = out.select("doc_id").as[Long].collect().toSet
    // the two rare-word docs are the >p80 tail and must be pruned
    assert(keptIds == (0L until 16L).toSet)
    // prune matches the inline definition: threshold = exact percentile
    val sur = graft.textanalysis.TextAnalysis
      .unigramSurprisal(docs, "text", "doc_id")
    val thr = sur.agg(expr("percentile(surprisal, 0.8)")).head.getDouble(0)
    val wantIds = sur.filter($"surprisal" <= thr)
      .select("id").as[Long].collect().toSet
    assert(keptIds == wantIds)
    // approx path agrees on this tiny corpus (sketch is exact here)
    val approxIds = CorpusOps.pruneBySurprisalQuantile(
        docs, "text", "doc_id", p = 0.8, exact = false)
      .select("doc_id").as[Long].collect().toSet
    assert(approxIds == keptIds)
  }

  test("curate with surprisalQuantile composes the prune, schema unchanged") {
    val docs = ((0L until 12L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog number $i end")) ++
      Seq((20L, "zyxw vuts rqpo nmlk jihg fedc baqq plor mnbv cxza qwer tyui")))
      .toDF("doc_id", "text")
    val base = CorpusOps.curate(docs, "text", "doc_id")
    val pruned = CorpusOps.curate(docs, "text", "doc_id",
      surprisalQuantile = Some(0.9))
    assert(pruned.columns.toSeq == base.columns.toSeq)
    val baseIds = base.select("doc_id").as[Long].collect().toSet
    val prunedIds = pruned.select("doc_id").as[Long].collect().toSet
    // the gibberish doc survives base curation but falls to the prune
    assert(baseIds.contains(20L))
    assert(prunedIds.subsetOf(baseIds) && !prunedIds.contains(20L))
    assert(prunedIds.nonEmpty)
  }

  test("curate keeps a caller key named id, with and without the surprisal prune") {
    val docs = ((0L until 12L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog number $i end")) ++
      Seq((20L, "zyxw vuts rqpo nmlk jihg fedc baqq plor mnbv cxza qwer tyui"),
        (21L, "the quick brown fox jumps over the lazy dog number 0 end")))
      .toDF("id", "text")
    val byDocId = CorpusOps.curate(docs.withColumnRenamed("id", "doc_id"), "text", "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    Seq(None, Some(0.9)).foreach { q =>
      val curated = CorpusOps.curate(docs, "text", "id", surprisalQuantile = q)
      assert(curated.columns.count(_ == "id") == 1)
      // a downstream stage keyed on the same column
      val got = Dedup.dedupExact(curated, "text", "id")
        .select("id", "split").as[(Long, String)].collect().toSet
      if (q.isEmpty) assert(got == byDocId)
      else assert(got.nonEmpty && got.subsetOf(byDocId) && !got.exists(_._1 == 20L))
    }
  }
}
