package graft.tree

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.TreeNodeRow
import graft.providers.LLMProvider

/** Hierarchical document index (reference
  * `/root/reference/src/index/TreeIndex.js`) on an adjacency-list table:
  * `(doc_id, node_id, parent_id, level, pos, title, summary, content,
  * citation_path)`.
  *
  * Keyword traversal (`:664-696`, the no-LLM path the reference tests
  * exercise) is pure column math over leaf rows — scales to any corpus.
  * LLM-guided traversal (`:543-659`) is a level-synchronous frontier
  * loop: each level's candidate children are scored in one batch
  * (`mapPartitions`-style provider calls), scored-below-threshold
  * subtrees are pruned, and the reference's keyword fallback applies per
  * node on provider failure.
  */
final class TreeIndex(val spark: SparkSession, val root: String) {

  /** Event hooks (`TreeIndex.js` extends EventEmitter — :115, :140,
    * :183, :201). */
  val events = new graft.events.EventBus

  import TreeIndex._
  import spark.implicits._

  private def nodesPath = Paths.get(root, "_tree_nodes")

  def nodes: DataFrame = {
    graft.engine.FusionEngine.recoverSwap(nodesPath) // crashed-swap restore
    if (Files.exists(nodesPath)) spark.read.parquet(nodesPath.toString)
    else Seq.empty[TreeNodeRow].toDS().toDF()
  }

  /** Distinct documents in [[nodes]], kept with the index so that
    * [[searchAll]]'s per-document quota runs no Spark job. Keyed on the
    * node table's file listing: [[indexDocument]] and [[removeDocument]]
    * move it in place, while any other change to the files (a bulk
    * [[indexCorpus]], another handle on the same root) leaves it stale,
    * and the next search counts once. */
  @volatile private var docCount: Option[(Set[String], Long)] = None

  private def nodeFiles: Set[String] =
    if (!Files.exists(nodesPath)) Set.empty
    else {
      val ls = Files.list(nodesPath)
      try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
    }

  private def documentCount: Long = {
    val files = nodeFiles
    docCount.collect { case (f, c) if f == files => c }.getOrElse {
      val c = if (files.isEmpty) 0L else nodes.select("doc_id").distinct().count()
      docCount = Some((files, c))
      c
    }
  }

  /** This handle's write over node files `before` moved the document
    * count by `delta`: keep the count if it was current before. */
  private def wrote(before: Set[String], delta: Long): Unit =
    docCount = docCount.orElse(if (before.isEmpty) Some((before, 0L)) else None)
      .collect { case (f, c) if f == before => (nodeFiles, c + delta) }

  /** Parse + build + append one document
    * (`TreeIndex.js:112-142`). Returns node count. */
  def indexDocument(docId: String, content: String, format: String = "text",
                    title: Option[String] = None): Long = {
    require(!isIndexed(docId), s"""Document "$docId" already indexed""")
    events.emit("index:start", Map("docId" -> docId)) // TreeIndex.js:115
    val rows = TreeParsers.buildRows(docId, content, format, title)
    val before = nodeFiles
    rows.toDS().toDF().write.mode(SaveMode.Append).parquet(nodesPath.toString)
    wrote(before, 1)
    events.emit("index:complete", // TreeIndex.js:140
      Map("docId" -> docId, "nodeCount" -> rows.length))
    rows.length.toLong
  }

  /** Bulk build: `(doc_id, content, format)` rows parsed and built
    * executor-side — one narrow flatMap for a whole corpus. */
  def indexCorpus(docs: DataFrame): Long = {
    val built = docs.select(col("doc_id").cast("string"), col("content"), col("format"))
      .as[(String, String, String)]
      .flatMap { case (d, c, f) => TreeParsers.buildRows(d, if (c == null) "" else c, f) }
    built.toDF().write.mode(SaveMode.Append).parquet(nodesPath.toString)
    nodes.count()
  }

  def isIndexed(docId: String): Boolean =
    Files.exists(nodesPath) && !nodes.filter(col("doc_id") === docId).limit(1).isEmpty

  def listDocuments(): Seq[String] =
    if (!Files.exists(nodesPath)) Seq.empty
    else nodes.select("doc_id").distinct().as[String].collect().toSeq.sorted

  /** `removeDocument` (`TreeIndex.js:246-254`): partition rewrite. */
  def removeDocument(docId: String): Boolean = {
    if (!isIndexed(docId)) return false
    val tmp = Paths.get(root, "_tree_nodes_tmp")
    val before = nodeFiles
    nodes.filter(col("doc_id") =!= docId).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    graft.engine.FusionEngine.atomicSwap(nodesPath, tmp)
    wrote(before, -1)
    true
  }

  /** Leaf rows = nodes with no children (anti-join on parent_id). */
  def leaves: DataFrame = {
    val parents = nodes.filter(col("parent_id").isNotNull)
      .select(col("parent_id").as("pid")).distinct()
    nodes.join(parents, col("node_id") === col("pid"), "left_anti")
  }

  /** Keyword search over one document's leaves
    * (`TreeIndex.js:664-696`): terms = lowercase tokens len>2 (no
    * stoplist); score = contained-terms / terms over
    * `title summary content`; keep > 0.1; top-maxResults.
    * Citation = leaf title (reference keyword fallback); the full
    * `" > "`-joined path is exposed as `citation_path_str` (richer than
    * the reference — precomputed at build). */
  def keywordSearch(docId: String, query: String, maxResults: Int = 5): DataFrame =
    scoredLeaves(query, Some(docId))
      .orderBy(desc("score"), asc("node_id"))
      .limit(maxResults)

  /** Cross-document search (`TreeIndex.js:214-229`): per-doc quota
    * `ceil(maxResults / nDocs)` via a window partitioned by doc, then
    * global re-sort + top-K. */
  def searchAll(query: String, maxResults: Int = 10,
                docIds: Option[Seq[String]] = None): DataFrame = {
    val base = scoredLeaves(query, None)
    val scoped = docIds.map(ids => base.filter(col("doc_id").isin(ids.map(lit(_)): _*))).getOrElse(base)
    val nDocs = math.max(1, docIds.map(_.size.toLong).getOrElse(documentCount))
    val quota = math.ceil(maxResults.toDouble / nDocs).toInt
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("node_id"))
    scoped.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= quota).drop("_rn")
      .orderBy(desc("score"), asc("node_id"))
      .limit(maxResults)
  }

  private def scoredLeaves(query: String, docId: Option[String]): DataFrame = {
    val terms = keywordTerms(query)
    val in = docId.map(d => leaves.filter(col("doc_id") === d)).getOrElse(leaves)
    in.withColumn("score", round(keywordRelevance(terms,
        concat_ws(" ", col("title"), coalesce(col("summary"), lit("")),
          coalesce(col("content"), lit("")))), 6))
      .filter(col("score") > 0.1)
      .withColumn("citation", col("title"))
      .withColumn("citation_path_str", array_join(col("citation_path"), " > "))
      .select("doc_id", "node_id", "title", "level", "content", "score",
        "citation", "citation_path_str")
  }

  /** LLM-reasoning traversal (`TreeIndex.js:543-659`) as a
    * level-synchronous frontier loop. At each level the LLM scores every
    * frontier node's children in one batch; children scoring ≥
    * `minRelevance` are explored; leaves among them are scored for final
    * relevance. Any provider failure falls back to keyword scoring for
    * that node (`:655-659`). Returns
    * `(doc_id, node_id, title, content, score, reasoning, citation)`. */
  def reasoningSearch(docId: String, query: String, llm: LLMProvider,
                      maxResults: Int = 5, minRelevance: Double = 0.3): DataFrame = {
    val all = nodes.filter(col("doc_id") === docId)
      .select("node_id", "parent_id", "level", "title", "summary", "content", "citation_path")
      .collect()
      .map(r => NodeLite(r.getString(0), Option(r.getString(1)), r.getInt(2),
        Option(r.getString(3)).getOrElse(""), Option(r.getString(4)).getOrElse(""),
        Option(r.getString(5)).getOrElse(""), r.getSeq[String](6)))
    require(all.nonEmpty, s"""Document "$docId" not indexed""")
    events.emit("search:start", Map("docId" -> docId, "query" -> query)) // TreeIndex.js:183
    val byParent = all.filter(_.parentId.isDefined).groupBy(_.parentId.get)
    val rootNode = all.find(_.parentId.isEmpty).get
    val terms = keywordTerms(query)

    val results = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String, Double, String, String)]
    var frontier = Seq(rootNode)
    while (frontier.nonEmpty && results.length < maxResults * 4) {
      val nextFrontier = scala.collection.mutable.ArrayBuffer.empty[NodeLite]
      for (node <- frontier) {
        val children = byParent.getOrElse(node.nodeId, Array.empty[NodeLite]).sortBy(_.nodeId)
        if (children.isEmpty) {
          // leaf: final relevance via LLM, keyword fallback
          val (score, reasoning) = scoreLeaf(node, query, llm, terms)
          if (score >= minRelevance)
            results += ((docId, node.nodeId, node.title, node.content, score,
              reasoning, node.citationPath.mkString(" > ")))
        } else {
          val scored = scoreChildren(node, children, query, llm, terms)
          nextFrontier ++= scored.filter(_._2 >= minRelevance)
            .sortBy { case (c, s) => (-s, c.nodeId) }
            .map(_._1)
        }
      }
      frontier = nextFrontier.toSeq
    }
    val top = results.sortBy { case (_, id, _, _, s, _, _) => (-s, id) }
      .take(maxResults)
    events.emit("search:complete", // TreeIndex.js:201
      Map("docId" -> docId, "query" -> query, "resultCount" -> top.length))
    top.toSeq.toDF("doc_id", "node_id", "title", "content", "score", "reasoning", "citation")
  }

  private def scoreChildren(parent: NodeLite, children: Array[NodeLite],
                            query: String, llm: LLMProvider,
                            terms: Seq[String]): Seq[(NodeLite, Double)] = {
    val prompt = childScoringPrompt(query, children)
    try {
      val json = llm.complete(prompt)
      val scores = parseIndexScores(json)
      children.indices.map { i =>
        children(i) -> scores.getOrElse(i, 0.0)
      }
    } catch {
      case _: Exception =>
        children.toSeq.map(c => c -> keywordScore(terms,
          s"${c.title} ${c.summary} ${c.content}".toLowerCase))
    }
  }

  private def scoreLeaf(node: NodeLite, query: String, llm: LLMProvider,
                        terms: Seq[String]): (Double, String) =
    try {
      val json = llm.complete(leafScoringPrompt(query, node))
      (parseScore(json), "llm relevance")
    } catch {
      case _: Exception =>
        (keywordScore(terms, s"${node.title} ${node.summary} ${node.content}".toLowerCase),
          "fallback keyword match")
    }
}

object TreeIndex {

  private[tree] final case class NodeLite(nodeId: String, parentId: Option[String],
      level: Int, title: String, summary: String, content: String,
      citationPath: Seq[String])

  /** Query terms for tree keyword relevance (`TreeIndex.js:666`):
    * lowercase whitespace tokens with len > 2 — NO stoplist (unlike the
    * retriever's bm25ish terms). */
  def keywordTerms(query: String): Seq[String] =
    query.toLowerCase.split("\\s+").toSeq.filter(_.length > 2)

  /** matches/terms where a match is substring containment
    * (`TreeIndex.js:680-690`). */
  def keywordRelevance(terms: Seq[String], text: Column): Column =
    if (terms.isEmpty) lit(0.0)
    else {
      val lower_ = lower(text)
      val matches = terms.map(t => when(lower_.contains(t), 1).otherwise(0))
        .reduce((a, b) => a + b)
      matches.cast("double") / terms.length
    }

  private[tree] def keywordScore(terms: Seq[String], lowerText: String): Double =
    if (terms.isEmpty) 0.0
    else terms.count(lowerText.contains) / terms.length.toDouble

  private[tree] def childScoringPrompt(query: String, children: Array[NodeLite]): String = {
    val listing = children.zipWithIndex.map { case (c, i) =>
      s"$i. ${c.title}: ${(c.summary + " " + c.content).take(100)}"
    }.mkString("\n")
    s"""Score each section 0-1 for relevance to the query.
       |Query: $query
       |Sections:
       |$listing
       |Respond with JSON: [{"index": 0, "score": 0.8}, ...]""".stripMargin
  }

  private[tree] def leafScoringPrompt(query: String, node: NodeLite): String =
    s"""Score this section 0-1 for relevance to the query.
       |Query: $query
       |Section ${node.title}: ${node.content.take(500)}
       |Respond with JSON: {"score": 0.8}""".stripMargin

  /** `safeJsonParse`-style extraction (`TreeIndex.js:613, 645`,
    * `RecursiveLearningEngine.js:48-54`): strip ``` fences, pull
    * index/score pairs. */
  private[tree] def parseIndexScores(json: String): Map[Int, Double] = {
    val cleaned = stripFences(json)
    val pair = """\{[^{}]*"index"\s*:\s*(\d+)[^{}]*"score"\s*:\s*([0-9.eE+-]+)[^{}]*\}""".r
    pair.findAllMatchIn(cleaned).map(m => m.group(1).toInt -> m.group(2).toDouble).toMap
  }

  private[tree] def parseScore(json: String): Double = {
    val cleaned = stripFences(json)
    """"score"\s*:\s*([0-9.eE+-]+)""".r.findFirstMatchIn(cleaned)
      .map(_.group(1).toDouble).getOrElse(throw new IllegalArgumentException("no score"))
  }

  private[tree] def stripFences(s: String): String =
    s.replaceAll("```(?:json)?", "").trim
}
