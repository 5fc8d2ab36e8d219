package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.providers.MockLLMProvider
import graft.tree.{TreeIndex, TreeParsers}
import graft.tree.TreeParsers.Section

/** Tree index suite. Parser expectations are golden outputs of the
  * reference parsers run under Node
  * (`src/test/resources/tree_parser_golden.json`, generated from
  * `/root/reference/src/index/TreeIndex.js` `_parseDocument`); behavioral
  * tests mirror `/root/reference/test/fusionpact.test.js:140-169`. */
class TreeIndexSpec extends AnyFunSuite {
  import TestSpark.spark

  private def freshTree(): TreeIndex =
    new TreeIndex(spark, Files.createTempDirectory("graft_tree").toString)

  test("markdown parser matches reference goldens") {
    assert(TreeParsers.parseMarkdown("# Title\n## Section A\nContent A\n## Section B\nContent B") ==
      Seq(Section("Title", 1, ""), Section("Section A", 2, "Content A"),
        Section("Section B", 2, "Content B")))
    assert(TreeParsers.parseMarkdown("preamble without heading\nline two") ==
      Seq(Section("Document", 1, "preamble without heading\nline two")))
    assert(TreeParsers.parseMarkdown("# A\ntext\n### deep\nd\n## up\nu\n#### deeper\nx") ==
      Seq(Section("A", 1, "text"), Section("deep", 3, "d"),
        Section("up", 2, "u"), Section("deeper", 4, "x")))
  }

  test("html parser matches reference goldens (tag strip, no-heading fallback)") {
    assert(TreeParsers.parseHtml("<h1>Root</h1><p>intro text</p><h2 class=\"x\">Sub One</h2>body <b>bold</b> text<h2>Sub Two</h2>tail") ==
      Seq(Section("Root", 1, "intro text"), Section("Sub One", 2, "body bold text"),
        Section("Sub Two", 2, "tail")))
    assert(TreeParsers.parseHtml("no headings <i>at all</i> here") ==
      Seq(Section("Document", 1, "no headings at all here")))
  }

  test("plain-text parser matches reference goldens (numbered + ALL-CAPS headers)") {
    assert(TreeParsers.parsePlainText("1 Introduction\nsome intro\n1.1 Background\ndetails here\n2 Methods\nstuff\nSUMMARY SECTION\nfinal words") ==
      Seq(Section("Introduction", 1, "some intro"), Section("Background", 2, "details here"),
        Section("Methods", 1, "stuff"), Section("SUMMARY SECTION", 1, "final words")))
    assert(TreeParsers.parsePlainText("just plain text\nwith lines") ==
      Seq(Section("Document", 1, "just plain text\nwith lines")))
  }

  test("buildRows: stack hierarchy + citation paths (TreeIndex.js:457-498)") {
    val rows = TreeParsers.buildRows("d", "# A\ntext\n### deep\nd\n## up\nu\n#### deeper\nx", "markdown")
    val byTitle = rows.map(r => r.title -> r).toMap
    assert(rows.head.level == 0 && rows.head.parent_id.isEmpty)
    assert(byTitle("deep").parent_id.contains(byTitle("A").node_id))   // 3 under 1
    assert(byTitle("up").parent_id.contains(byTitle("A").node_id))     // 2 pops the 3
    assert(byTitle("deeper").parent_id.contains(byTitle("up").node_id))
    assert(byTitle("deeper").citation_path == Seq("# A", "A", "up", "deeper"))
  }

  test("keyword search finds the PPE section (test.js:147-152)") {
    val t = freshTree()
    t.indexDocument("doc1", "# Safety\n## Chemical Handling\nAlways wear PPE when handling chemicals.\n## Fire Safety\nKnow your evacuation routes.", "markdown")
    val res = t.keywordSearch("doc1", "chemical PPE requirements").collect()
    assert(res.nonEmpty)
    assert(res.head.getAs[String]("title") == "Chemical Handling")
    assert(res.head.getAs[Double]("score") > 0.6) // 2/3 terms
    assert(res.head.getAs[String]("citation_path_str") == "# Safety > Safety > Chemical Handling")
    // Fire Safety leaf has 0 matches -> filtered by the 0.1 gate
    assert(!res.map(_.getAs[String]("title")).contains("Fire Safety"))
  }

  test("searchAll applies per-doc quota then global rank (test.js:154-160, TreeIndex.js:221)") {
    val t = freshTree()
    t.indexDocument("d1", "# Doc A\nSafety info here", "markdown")
    t.indexDocument("d2", "# Doc B\nFinancial data here", "markdown")
    val res = t.searchAll("safety").collect()
    assert(res.nonEmpty && res.head.getAs[String]("doc_id") == "d1")
    assert(t.listDocuments() == Seq("d1", "d2"))
    assert(t.removeDocument("d1"))
    assert(t.listDocuments() == Seq("d2"))
  }

  test("reasoning traversal: LLM guides descent; provider failure falls back to keywords") {
    val t = freshTree()
    t.indexDocument("doc1", "# Safety\n## Chemical Handling\nAlways wear PPE when handling chemicals.\n## Fire Safety\nKnow your evacuation routes.", "markdown")

    val llm = new MockLLMProvider(prompt =>
      if (prompt.contains("Sections:")) {
        // score listed children: 'chemical' titles high, others low
        val line = """(\d+)\. ([^:]+):""".r
        val entries = line.findAllMatchIn(prompt).map { m =>
          val t = m.group(2).toLowerCase
          // interior 'Safety' wrapper scores mid (explored); 'Chemical
          // Handling' high; 'Fire Safety' low (pruned)
          val s = if (t.contains("chemical")) 0.9
                  else if (t.trim == "safety") 0.5 else 0.15
          s"""{"index": ${m.group(1)}, "score": $s}"""
        }.mkString(", ")
        s"```json\n[$entries]\n```"
      } else """{"score": 0.85}""")

    val res = t.reasoningSearch("doc1", "chemical handling", llm).collect()
    assert(res.length == 1) // Fire Safety subtree pruned at 0.15 < 0.3
    assert(res.head.getAs[String]("title") == "Chemical Handling")
    assert(res.head.getAs[Double]("score") == 0.85)
    assert(res.head.getAs[String]("reasoning") == "llm relevance")

    // provider that scores interior nodes but dies at leaves: the leaf
    // falls back to keyword relevance (TreeIndex.js:655-659). A provider
    // failing at EVERY node prunes the zero-keyword wrapper exactly like
    // the reference (its no-LLM path is keywordSearch, tested above).
    val leafBroken = new MockLLMProvider(prompt =>
      if (prompt.contains("Sections:")) {
        val line = """(\d+)\. ([^:]+):""".r
        val entries = line.findAllMatchIn(prompt).map(m =>
          s"""{"index": ${m.group(1)}, "score": 0.6}""").mkString(", ")
        s"[$entries]"
      } else throw new RuntimeException("leaf scoring down"))
    val fb = t.reasoningSearch("doc1", "chemical handling", leafBroken).collect()
    assert(fb.nonEmpty)
    assert(fb.head.getAs[String]("title") == "Chemical Handling")
    assert(fb.head.getAs[Double]("score") == 1.0) // 2/2 keyword terms
    assert(fb.head.getAs[String]("reasoning") == "fallback keyword match")
  }

  test("searchAll keeps the document count with the index: no count job, quota right after index and remove") {
    val t = freshTree()
    // per doc: one leaf scoring 1.0, one 0.5, one 0 (gated out)
    def doc(name: String) =
      s"# $name\n## Safety rules\nThe rules apply.\n## Safety gear\nWear gear.\n## Other\nNothing."
    Seq("d1", "d2", "d3").foreach(d => t.indexDocument(d, doc(d), "markdown"))
    def top3(tree: TreeIndex): Seq[(String, String)] =
      tree.searchAll("safety rules", maxResults = 3).collect()
        .map(r => (r.getAs[String]("doc_id"), r.getAs[String]("node_id"))).toSeq
    def maxPerDoc(rows: Seq[(String, String)]): Int = rows.groupBy(_._1).values.map(_.size).max
    // a handle opened on the same root counts afresh: the reference quota
    def fresh: Seq[(String, String)] = top3(new TreeIndex(spark, t.root))

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
    top3(t) // warm: plan caches
    spark.sparkContext.addSparkListener(listener)
    try {
      val all = inGroup("all")(top3(t))
      inGroup("scoped")(t.searchAll("safety rules", maxResults = 3,
        docIds = Some(Seq("d1", "d2", "d3"))).collect())
      assert(all.size == 3 && maxPerDoc(all) == 1) // 3 docs: quota 1
      assert(all == fresh)
      assert(t.removeDocument("d3"))
      val afterRemove = inGroup("after_remove")(top3(t))
      assert(maxPerDoc(afterRemove) == 2, afterRemove) // 2 docs: quota 2
      assert(afterRemove == fresh)
      t.indexDocument("d4", doc("d4"), "markdown")
      val afterIndex = inGroup("after_index")(top3(t))
      assert(afterIndex.size == 3 && maxPerDoc(afterIndex) == 1, afterIndex)
      assert(afterIndex == fresh)
      // the bus delivers in order: once the marker job is seen, so are the above
      inGroup("marker")(spark.range(1).collect())
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.containsKey("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      def n(g: String): Int = jobs.getOrDefault(g, 0).intValue
      // the quota costs no job: unscoped runs exactly the jobs of the
      // same search scoped to an explicit document list
      assert(n("scoped") > 0 && n("all") == n("scoped"), s"all ${n("all")} vs scoped ${n("scoped")}")
      assert(n("after_remove") == n("scoped") && n("after_index") == n("scoped"),
        s"after remove ${n("after_remove")}, after index ${n("after_index")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
