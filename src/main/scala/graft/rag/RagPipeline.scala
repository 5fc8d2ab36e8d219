package graft.rag

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.FusionEngine
import graft.model.CollectionConfig
import graft.providers.Embedder
import graft.text.Chunkers

/** RAG ingest + context building (reference
  * `/root/reference/src/rag/RAGPipeline.js:91-137, 174-241`).
  *
  * The reference chunks one document at a time and embeds chunks
  * sequentially over HTTP. Here the whole corpus flows through one plan:
  * `Dataset[(doc, text)] → flatMap(chunker) → mapPartitions(embedBatch) →
  * normalize-at-write append` — narrow until the final write, so it
  * parallelizes per partition with no shuffle at any corpus size.
  */
final class RagPipeline(
    val engine: FusionEngine,
    val embedder: Embedder,
    val collection: String = "rag_documents",
    val strategy: Chunkers.Strategy = Chunkers.Recursive,
    val chunkSize: Int = Chunkers.DefaultChunkSize,
    val chunkOverlap: Int = Chunkers.DefaultChunkOverlap) {

  /** Event hooks (`RAGPipeline.js` extends EventEmitter — :93, :135). */
  val events = new graft.events.EventBus

  /** Lazy collection creation with dims from the embedder
    * (`RAGPipeline.js:58-70`). */
  def init(): Unit =
    if (!engine.hasCollection(collection))
      engine.createCollection(collection,
        CollectionConfig(dimensions = embedder.dimensions, distanceMetric = "cosine"))

  /** Chunk rows for a corpus: `(doc_id, chunk_index, total_chunks,
    * content)` with chunk id `${doc}_chunk_${i}` (`RAGPipeline.js:101`).
    * Pure narrow flatMap — exposed for reuse and for the correctness
    * oracle. */
  def chunkDocs(docs: Dataset[(String, String)]): DataFrame = {
    import docs.sparkSession.implicits._
    val (strat, size, overlap) = (strategy, chunkSize, chunkOverlap)
    docs.flatMap { case (docId, text) =>
      val cs = Chunkers.chunk(if (text == null) "" else text, strat, size, overlap)
      cs.zipWithIndex.map { case (c, i) =>
        (s"${docId}_chunk_$i", docId, i, cs.length, c)
      }
    }.toDF("id", "doc_id", "chunk_index", "total_chunks", "content")
  }

  /** Ingest a corpus: chunk → embed → append. Returns chunks indexed.
    * `docs` columns: `(doc_id STRING, text STRING)`. Chunk metadata
    * mirrors the reference (`_chunk_index`, `_total_chunks`, `source`);
    * `extraMeta` entries (e.g. `title`, `RAGPipeline.js` ingest opts)
    * are merged in — keys must not collide with the built-ins. */
  def ingest(docs: Dataset[(String, String)],
             tenantId: Option[String] = None,
             ttlMs: Option[Long] = None,
             now: Option[Timestamp] = None,
             extraMeta: Map[String, String] = Map.empty,
             countAfter: Boolean = true): Long = {
    init()
    // Spread a narrow source before the chunk→embed chain: a
    // single-file corpus (or one streaming micro-batch file) arrives as
    // ONE partition, and the whole embarrassingly-parallel pipeline
    // would run on one task — measured 12.5 s vs 1.5 s at 5k docs/29k
    // chunks with the mock embedder (r16), and far worse with a real
    // HTTP embedder where per-chunk latency dominates. At corpus scale
    // the source already carries >= cores partitions and this is a
    // no-op; the guard keeps the shuffle off the 100 TB path.
    val target = docs.sparkSession.sparkContext.defaultParallelism
    // ... but not for a known-tiny batch (ADVICE r16): a low-throughput
    // streaming micro-batch (one small file, a handful of docs) must not
    // pay a defaultParallelism-wide shuffle per batch. Plan statistics
    // give a zero-job size estimate: file sources report real bytes,
    // unknown sources report the defaultSizeInBytes sentinel (huge) and
    // take the full spread as before. Under 1 MiB of source bytes the
    // spread width scales at ~32 KiB/task (≥ 1, ≤ cores).
    val statBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val spreadTarget =
      if (statBytes < BigInt(1L << 20))
        math.max(1, math.min(target, (statBytes >> 15).toInt))
      else target
    val spread =
      if (docs.rdd.getNumPartitions * 2 <= spreadTarget) docs.repartition(spreadTarget)
      else docs
    val chunked = chunkDocs(spread)
    val baseMeta = map(
      lit("_chunk_index"), col("chunk_index").cast("string"),
      lit("_total_chunks"), col("total_chunks").cast("string"),
      lit("source"), col("doc_id"))
    val meta = if (extraMeta.isEmpty) baseMeta
      else map_concat(baseMeta, typedLit(extraMeta))
    val embedded = graft.providers.Embed.withEmbedding(chunked, "content", "vector", embedder)
      .withColumn("metadata", meta)
      .drop("doc_id", "chunk_index", "total_chunks")
    events.emit("ingest:start", Map("source" -> extraMeta.getOrElse("source", ""))) // RAGPipeline.js:93
    engine.insert(collection, embedded, tenantId = tenantId, ttlMs = ttlMs, now = now)
    // RAGPipeline.js:135 — the batch API reports the collection total
    // (per-doc chunk counts are the chunked plan's rows, not recounted).
    // The recount is a full read-back job per call; a caller that
    // discards the return value — the streaming sink, once per
    // micro-batch — opts out with countAfter=false, UNLESS someone
    // actually observes ingest:complete: an observer's payload never
    // changes (r18, guide §1.2 — don't compute what you throw away).
    val n =
      if (countAfter || events.hasObservers("ingest:complete")) engine.count(collection)
      else -1L
    events.emit("ingest:complete", Map("collection" -> collection, "indexed" -> n))
    n
  }

  /** Retrieve topK chunks and pack them into an LLM-ready prompt under a
    * token budget (`RAGPipeline.js:174-241`): order by score, running
    * `ceil(len/4)` token sum, stop at the first chunk that would
    * overflow `maxTokens`. The cumulative window runs over ≤ topK
    * already-reduced rows (global ordering is inherent to prompt
    * assembly — the data-sized work happened in the kNN).
    *
    * Returns (prompt, sources DataFrame `(id, score, source, tokens,
    * cum_tokens)`). */
  def buildContext(query: String, topK: Int = 5, maxTokens: Int = 4000,
                   tenantId: Option[String] = None): (String, DataFrame) = {
    val (prompt, _, sources) = packContext(query, topK, maxTokens, tenantId)
    (prompt, sources)
  }

  /** [[buildContext]] plus the number of chunks packed into the prompt,
    * counted on the rows the prompt was built from: `sources.count()`
    * would run the search again, and a write landing in between could
    * make the two disagree. */
  private[graft] def packContext(query: String, topK: Int = 5, maxTokens: Int = 4000,
                                 tenantId: Option[String] = None): (String, Int, DataFrame) = {
    init()
    val qv = embedder.embed(query).map(_.toDouble).toSeq
    val hits = engine.search(collection, qv, topK, tenantId = tenantId)
    // cum_tokens via RagPipeline.cumTokensByRank (r14) — no
    // no-partition WindowExec; the window over ≤ topK rows was bounded
    // but warning-noisy
    val packed = RagPipeline.cumTokensByRank(
        hits.withColumn("tokens",
          ceil(length(coalesce(col("content"), lit(""))) / 4.0)),
        "tokens", "score", "id")
      .filter(col("cum_tokens") <= maxTokens)
    val kept = packed.select("content", "score", "id")
      .collect().sortBy(r => (-r.getDouble(1), r.getString(2)))
    val prompt = kept.map(_.getString(0)).mkString("\n\n").trim
    val sources = packed.select(col("id"), col("score"),
      element_at(col("metadata"), "source").as("source"),
      col("tokens"), col("cum_tokens"))
    (prompt, kept.length, sources)
  }
}

object RagPipeline {
  /** Cumulative sum of `tokenCol` in (`scoreCol` desc, `idCol` asc)
    * order WITHOUT a no-partition window (r14): a triangular broadcast
    * self-join over the already-top-K rows — k² pairs on k ≤ topK,
    * constant work. A global WindowExec here would log the
    * single-partition warning on every run and, on an UNBOUNDED input,
    * genuinely be the scale bug the warning describes; this helper
    * both keeps the suite grep-clean and makes the boundedness
    * explicit (the caller must have reduced to top-K first — prompt
    * assembly order is inherently global). Appends `cum_tokens`
    * (includes the row's own tokens; ties impossible, `idCol` is
    * unique). */
  private[graft] def cumTokensByRank(df: DataFrame, tokenCol: String,
                                     scoreCol: String, idCol: String): DataFrame = {
    // materialize the (contractually top-K-bounded) input once (r18):
    // the triangular self-join consumes it as BOTH sides, and without
    // this the upstream subtree — typically a full corpus scan + score
    // + TakeOrdered — executes twice. ≤ topK rows, eager, lineage
    // truncated; the ContextCleaner reclaims the blocks with the plan.
    val ck = df.localCheckpoint(true)
    val a = ck.alias("a")
    val b = ck.alias("b")
    val atOrBefore = (col(s"b.$scoreCol") > col(s"a.$scoreCol")) ||
      (col(s"b.$scoreCol") === col(s"a.$scoreCol") &&
        col(s"b.$idCol") <= col(s"a.$idCol"))
    a.join(broadcast(b), atOrBefore)
      .groupBy(df.columns.map(c => col(s"a.$c")): _*)
      .agg(sum(col(s"b.$tokenCol")).as("cum_tokens"))
      .toDF(df.columns :+ "cum_tokens": _*)
  }
}
