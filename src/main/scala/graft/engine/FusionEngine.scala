package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions
import graft.model.CollectionConfig
import graft.search.VectorSearch

/** The engine write path: a parquet-backed collection catalog with the
  * CRUD / persistence semantics of the reference's `FusionEngine`
  * (`/root/reference/src/core/FusionEngine.js:91-156, 175-241, 278-312`),
  * re-expressed batch-native:
  *
  *   - a collection = `<root>/<name>/data/` parquet + `collection.json`
  *     (in production this would be a Delta/Iceberg table; plain parquet
  *     dirs keep the container dependency-free — the API surface is the
  *     contract, the format is swappable)
  *   - insert = schema-checked `append` (vectors unit-normalized at write
  *     for cosine collections — the reference's normalize-at-insert trick,
  *     `HNSWIndex.js:137-140`, so query-time cosine is a plain dot)
  *   - delete-by-id / clear = anti-filter rewrite (Delta `DELETE WHERE`
  *     at scale; here an atomic swap of the data dir)
  *   - TTL = lazy read-filter (`HNSWIndex.js:295-300`) + [[vacuum]] for
  *     physical deletion
  *   - export/import = JSON snapshot compat shim
  *     (`FusionEngine.js:278-312`); parquet is the primary persistence
  *
  * Collection table schema (FIXTURES.md §1): `id STRING, vector
  * ARRAY<FLOAT>, tenant_id STRING, ts TIMESTAMP, ttl_ms BIGINT,
  * content STRING, metadata MAP<STRING,STRING>`.
  */
final class FusionEngine(val spark: SparkSession, val root: String) {
  import FusionEngine._

  /** Event hooks (`FusionEngine.js` extends EventEmitter; r17 closes
    * the last §2.10 row): driver-side, post-action, control-plane
    * only — see [[graft.events.EventBus]]. Divergence noted where the
    * batch API's payload generalizes the reference's single-row one. */
  val events = new graft.events.EventBus

  private def dir(name: String): Path = Paths.get(root, name)
  private def dataDir(name: String): Path = dir(name).resolve("data")
  private def confFile(name: String): Path = dir(name).resolve("collection.json")

  // ─── Collection catalog (`FusionEngine.js:91-156`) ───

  def createCollection(name: String, config: CollectionConfig = CollectionConfig()): CollectionConfig = {
    require(name.nonEmpty && !name.contains('/') && !name.contains(".."),
      s"illegal collection name: $name")
    if (Files.exists(dir(name)))
      throw new IllegalArgumentException(s"""Collection "$name" already exists""")
    val cfg = if (config.createdAt.isEmpty)
      config.copy(createdAt = java.time.Instant.now.toString) else config
    Files.createDirectories(dir(name))
    Files.writeString(confFile(name), configJson(cfg))
    events.emit("collection:created", Map("name" -> name, "config" -> cfg)) // FusionEngine.js:110
    cfg
  }

  def hasCollection(name: String): Boolean = Files.exists(confFile(name))

  def listCollections(): Seq[(String, CollectionConfig, Long)] = {
    val d = Paths.get(root)
    if (!Files.exists(d)) return Seq.empty
    val it = Files.list(d).sorted(Comparator.comparing[Path, String](
      (p: Path) => p.getFileName.toString))
    try it.iterator().asScala
      .filter(p => Files.exists(p.resolve("collection.json")))
      .map { p =>
        val n = p.getFileName.toString
        (n, getConfig(n), count(n))
      }.toSeq
    finally it.close()
  }

  def getConfig(name: String): CollectionConfig = {
    if (!hasCollection(name))
      throw new NoSuchElementException(s"""Collection "$name" does not exist""")
    parseConfigJson(Files.readString(confFile(name)))
  }

  def deleteCollection(name: String): Boolean = {
    val existed = Files.exists(dir(name))
    if (existed) deleteRecursively(dir(name))
    servingCache.remove(name)
    hnswCache.remove(name)
    bumpWrite(name)
    if (existed) events.emit("collection:deleted", Map("name" -> name)) // FusionEngine.js:154
    existed
  }

  // ─── Read path ───

  /** The collection with its physical layout columns: for sharded
    * collections the hive partition column `shard INT` is present (Spark
    * appends partition columns missing from the user schema). All
    * internal paths that can prune or must preserve layout read this. */
  private def raw(name: String, cfg: CollectionConfig): DataFrame = {
    FusionEngine.recoverSwap(dataDir(name)) // crashed-swap restore
    if (cfg.shards > 0) FusionEngine.recoverShards(dataDir(name))
    if (Files.exists(dataDir(name))) {
      val df = spark.read.schema(Schema).parquet(dataDir(name).toString)
      // A sharded collection whose shard dirs have ALL been emptied
      // (e.g. a selective delete removed the last one) still has its
      // data dir, but partition discovery finds nothing — synthesize
      // the layout column so shard-filtering readers stay resolvable.
      if (cfg.shards > 0 && !df.columns.contains("shard"))
        df.withColumn("shard", FusionEngine.shardExpr(cfg.shards))
      else df
    } else {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schema)
      if (cfg.shards > 0)
        empty.withColumn("shard", FusionEngine.shardExpr(cfg.shards))
      else empty
    }
  }

  /** The collection as a DataFrame in the canonical schema (empty when
    * nothing has been inserted yet; layout columns dropped). */
  def table(name: String): DataFrame =
    raw(name, getConfig(name)).drop("shard")

  def count(name: String): Long = {
    FusionEngine.recoverSwap(dataDir(name))
    if (Files.exists(dataDir(name))) table(name).count() else 0L
  }

  /** The metric both the job path and the serving snapshot score with —
    * ONE mapping, so the parity-tested paths cannot drift: cosine
    * collections store unit vectors (normalize-at-insert), making
    * query-time cosine the dot-product fast path. */
  private def servingMetric(cfg: CollectionConfig): VectorSearch.Metric =
    cfg.distanceMetric match {
      case "cosine" => VectorSearch.CosineUnit
      case other    => VectorSearch.metric(other)
    }

  /** Point lookup (`FusionEngine.js:225-228`) — id-pushdown scan; on a
    * sharded collection the lookup carries the id's shard as a partition
    * filter, so ONE partition is read instead of the whole table. */
  def get(name: String, id: String): DataFrame = {
    val cfg = getConfig(name)
    if (cfg.shards > 0)
      raw(name, cfg)
        .filter(col("shard") === lit(FusionEngine.shardOf(id, cfg.shards)) &&
          col("id") === lit(id))
        .drop("shard")
    else table(name).filter(col("id") === lit(id))
  }

  /** Existence check (`HNSWIndex.js:372-374`). */
  def has(name: String, id: String): Boolean = !get(name, id).limit(1).isEmpty

  /** kNN over the collection with the collection's configured metric.
    * Cosine collections store unit vectors, so the metric is the
    * dot-product fast path. TTL-expired rows are lazily filtered out. */
  def search(name: String, queryVec: Seq[Double], topK: Int = 10,
             tenantId: Option[String] = None,
             filter: Option[Column] = None,
             includeVector: Boolean = false): DataFrame = {
    val cfg = getConfig(name)
    require(queryVec.length == cfg.dimensions,
      s"query dimension ${queryVec.length} != collection dimension ${cfg.dimensions}")
    val m = servingMetric(cfg)
    val q = if (cfg.distanceMetric == "cosine") normalize(queryVec) else queryVec
    val alive = VectorSearch.ttlAlive(col("ts"), col("ttl_ms"))
    VectorSearch.knn(table(name), q, topK, m,
      tenantId = tenantId,
      preFilter = Some(filter.map(_ && alive).getOrElse(alive)),
      includeVector = includeVector)
  }

  // ─── Write path (`FusionEngine.js:175-241`) ───

  /** Append entries. `df` must have `id STRING` + `vector ARRAY<FLOAT>`;
    * missing system columns are filled (ts = now, tenant/ttl from
    * options), dimensions are checked, and cosine collections
    * unit-normalize at write. */
  def insert(name: String, df: DataFrame,
             tenantId: Option[String] = None,
             ttlMs: Option[Long] = None,
             now: Option[Timestamp] = None): Unit = {
    val cfg = getConfig(name)
    var in = df
    if (!in.columns.contains("tenant_id"))
      in = in.withColumn("tenant_id", lit(tenantId.orNull).cast(StringType))
    else if (tenantId.isDefined)
      in = in.withColumn("tenant_id", lit(tenantId.get))
    if (!in.columns.contains("ts"))
      in = in.withColumn("ts", lit(now.getOrElse(new Timestamp(System.currentTimeMillis()))))
    if (!in.columns.contains("ttl_ms"))
      in = in.withColumn("ttl_ms",
        ttlMs.map(v => lit(v).cast(LongType)).getOrElse(lit(null).cast(LongType)))
    else if (ttlMs.isDefined)
      in = in.withColumn("ttl_ms", lit(ttlMs.get))
    if (!in.columns.contains("content")) in = in.withColumn("content", lit(null).cast(StringType))
    if (!in.columns.contains("metadata"))
      in = in.withColumn("metadata", lit(null).cast(MapType(StringType, StringType)))

    // dimension check at write (`HNSWIndex.js:129-133`) — executor-side,
    // fails the job on first bad row
    val dimOk = size(col("vector")) === cfg.dimensions
    in = in.withColumn("vector",
      when(dimOk, col("vector")).otherwise(
        raise_error(concat(lit(s"Vector dimension mismatch: expected ${cfg.dimensions}, got "),
          size(col("vector")).cast(StringType)))))

    if (cfg.distanceMetric == "cosine")
      in = in.withColumn("vector", VectorFunctions.l2Normalize(col("vector")).cast(ArrayType(FloatType)))

    val out = in.select(Schema.fieldNames.map(col): _*)
      .select(Schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
    writeLayout(cfg, out, SaveMode.Append, dataDir(name).toString)
    bumpWrite(name)
    // FusionEngine.js:191 emits {collection, count}; the DataFrame write
    // is one pass and recounting it would cost a second job — listeners
    // needing the count read engine.count(name)
    events.emit("vectors:inserted", Map("collection" -> name))
  }

  /** Single write path for collection data: applies the configured
    * physical layout (shard hash partitions above tenant partitions) so
    * every writer — insert, rewrite, imports — produces the same dir
    * structure. Mixing layouts within one collection would break the
    * hive-partitioned read. */
  private def writeLayout(cfg: CollectionConfig, df: DataFrame,
                          mode: SaveMode, path: String): Unit = {
    val (out, parts) =
      if (cfg.shards > 0)
        (df.withColumn("shard", FusionEngine.shardExpr(cfg.shards)),
          "shard" +: (if (cfg.partitionByTenant) Seq("tenant_id") else Nil))
      else (df, if (cfg.partitionByTenant) Seq("tenant_id") else Seq.empty)
    val w = out.write.mode(mode)
    (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path)
  }

  /** Delete by ids — anti-filter rewrite with an atomic dir swap.
    * Returns rows deleted. (Delta: `DELETE WHERE id IN (...)`.) On a
    * sharded collection only the ids' OWN shard partitions are rewritten
    * and swapped — the rest of the table is never read or touched, so
    * deleting k ids from a 100 TB table costs ~k/shards of a full
    * rewrite instead of all of it. */
  def deleteByIds(name: String, ids: Seq[String]): Long = {
    val cfg = getConfig(name)
    val cond = col("id").isin(ids.map(lit(_)): _*)
    if (cfg.shards <= 0 || ids.isEmpty) return rewrite(name, cond)
    FusionEngine.recoverSwap(dataDir(name))
    FusionEngine.recoverShards(dataDir(name))
    if (!Files.exists(dataDir(name))) return 0L
    val affected = ids.map(FusionEngine.shardOf(_, cfg.shards)).distinct.sorted
    val inAffected = col("shard").isin(affected.map(lit(_)): _*)
    val src = raw(name, cfg)
    val deleted = src.filter(inAffected && cond).count()
    if (deleted == 0) return 0L
    val tmp = dir(name).resolve("data_tmp")
    if (Files.exists(tmp)) deleteRecursively(tmp)
    // rewrite ONLY the affected shards into tmp (partitioned the same
    // way), then swap each shard dir individually — each swap is the
    // crash-safe atomicSwap; a crash mid-loop leaves earlier shards
    // deleted and later ones not, and re-running the delete converges
    writeLayout(cfg, src.filter(inAffected && !cond).drop("shard"),
      SaveMode.Overwrite, tmp.toString)
    affected.foreach { k =>
      val liveShard = dataDir(name).resolve(s"shard=$k")
      val tmpShard = tmp.resolve(s"shard=$k")
      if (Files.exists(tmpShard)) FusionEngine.atomicSwap(liveShard, tmpShard)
      else if (Files.exists(liveShard)) deleteRecursively(liveShard) // shard emptied
    }
    deleteRecursively(tmp)
    bumpWrite(name)
    // FusionEngine.js:239 emits vector:deleted {collection, id} from the
    // single-id delete(); this batch API emits once with the id list +
    // the verified deleted count
    events.emit("vector:deleted",
      Map("collection" -> name, "ids" -> ids, "deleted" -> deleted))
    deleted
  }

  /** Delete rows matching a predicate (Delta `DELETE WHERE`). */
  def deleteWhere(name: String, cond: Column): Long = rewrite(name, cond)

  /** Physically remove TTL-expired rows (the vacuum pairing with lazy
    * read-filtering; reference never physically expires). */
  def vacuum(name: String, now: Option[Timestamp] = None): Long = {
    val nowMs = lit(now.map(_.getTime).getOrElse(System.currentTimeMillis()))
    rewrite(name, !VectorSearch.ttlAlive(col("ts"), col("ttl_ms"), nowMs))
  }

  /** Bin-pack compaction. Every [[insert]] appends one parquet file per
    * task per partition dir, so a long-lived collection accumulates
    * small files — and at 100 TB small files are the scan killer (each
    * costs a footer read + a task). Rewrites the table with each hive
    * partition's rows packed into `filesPerPartition` files (salted
    * repartition; unpartitioned collections pack to `filesPerPartition`
    * total) and installs it with the crash-safe [[FusionEngine.atomicSwap]].
    * Content is byte-identical — only the file layout changes. Returns
    * (filesBefore, filesAfter). Size `filesPerPartition` so files land
    * near the cluster's `maxPartitionBytes` (~128 MB–1 GB). */
  def compact(name: String, filesPerPartition: Int = 1): (Int, Int) = {
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    val cfg = getConfig(name)
    FusionEngine.recoverSwap(dataDir(name))
    if (cfg.shards > 0) FusionEngine.recoverShards(dataDir(name))
    if (!Files.exists(dataDir(name))) return (0, 0)
    def parquetFiles: Int = {
      val s = Files.walk(dataDir(name))
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
    val before = parquetFiles
    val parts = (if (cfg.shards > 0) Seq(FusionEngine.shardExpr(cfg.shards)) else Nil) ++
      (if (cfg.partitionByTenant) Seq(col("tenant_id")) else Nil)
    val salt = pmod(crc32(col("id").cast(BinaryType)), lit(filesPerPartition.toLong))
    val packed = parts match {
      case Nil => table(name).repartition(filesPerPartition)
      // repartition on the layout columns (+ salt beyond 1 file/dir):
      // each dir's rows land in exactly `filesPerPartition` tasks, so
      // partitionBy writes exactly that many files per dir
      case cols => table(name).repartition((cols :+ salt): _*)
    }
    val tmp = dir(name).resolve("data_tmp")
    writeLayout(cfg, packed, SaveMode.Overwrite, tmp.toString)
    FusionEngine.atomicSwap(dataDir(name), tmp)
    bumpWrite(name)
    (before, parquetFiles)
  }

  /** Drop all rows (`HNSWIndex.js:379-384`). */
  def clear(name: String): Unit = {
    getConfig(name)
    if (Files.exists(dataDir(name))) deleteRecursively(dataDir(name))
    Files.deleteIfExists(hnswPath(name)) // sidecar is content-checked, but don't leave it
    bumpWrite(name)
  }

  /** Rewrite the collection without rows matching `condemned`
    * (preserving the configured physical layout). */
  private def rewrite(name: String, condemned: Column): Long = {
    val cfg = getConfig(name)
    FusionEngine.recoverSwap(dataDir(name))
    if (cfg.shards > 0) FusionEngine.recoverShards(dataDir(name))
    if (!Files.exists(dataDir(name))) return 0L
    val before = count(name)
    val tmp = dir(name).resolve("data_tmp")
    writeLayout(cfg, table(name).filter(!coalesce(condemned, lit(false))),
      SaveMode.Overwrite, tmp.toString)
    FusionEngine.atomicSwap(dataDir(name), tmp)
    bumpWrite(name)
    before - count(name)
  }

  // ─── Serving tier (VERDICT r3 §Next #1) ───

  /** One serving hit: the engine row's string id + score + content. */
  final case class ServingHit(id: String, score: Double, content: String, rank: Int)

  /** Driver-local serving snapshot of one collection: answers interactive
    * queries from packed in-memory blocks via
    * [[graft.search.ServingSession]] — NO Spark job, so the per-query
    * cost is the scoring kernel itself (sub-ms at the reference's
    * 100k-vector scale) instead of the ~60 ms per-job scheduling floor.
    *
    * Semantics vs [[FusionEngine.search]]: TTL expiry is applied at
    * snapshot time and the handle self-invalidates at the earliest
    * future expiry. Tenant and metadata-EQUALITY filters ARE served,
    * exactly: the predicate becomes a row mask over the snapshot and
    * the kernel scores only the kept rows into one top-k heap, so the
    * result set equals the job path's filter-before-rank; arbitrary
    * `Column` filters stay on the job path. Scores come from the float
    * kernel: near-tied ranks can differ from the declarative double
    * path within the float tolerance (grows with dimension — ~1e-6
    * relative at 64-D) (documented in
    * [[graft.search.Kernels.scoreTile]]); exact ties break identically
    * (rows are snapshot in id order, so the kernel's long tie-break
    * matches the job path's `ASC id`). */
  final class ServingHandle private[FusionEngine] (
      val collection: String,
      session: graft.search.ServingSession.Exact,
      metric: VectorSearch.Metric,
      cosine: Boolean,
      dims: Int,
      ids: Array[String],
      contents: Array[String],
      tenants: Array[String],
      metas: Array[scala.collection.Map[String, String]],
      private[FusionEngine] val version: Long,
      minExpiryMs: Long,
      private[FusionEngine] val estBytes: Long) {

    /** For aggregate-budget LRU eviction (see [[serving]]). */
    @volatile private[FusionEngine] var lastUsedMs: Long = System.currentTimeMillis()

    /** Rows served (post-TTL snapshot count). */
    def size: Long = session.n

    /** Estimated resident footprint (vectors + ids + contents). */
    def estimatedBytes: Long = estBytes

    private val scored = new java.util.concurrent.atomic.LongAdder

    /** Rows the kernel has scored for this handle's searches: [[size]]
      * per unfiltered query, the filter's match count per filtered one
      * (a row without a vector is never scored). */
    def rowsScored: Long = scored.sum()

    private[FusionEngine] def stale(currentVersion: Long): Boolean =
      version != currentVersion ||
        (minExpiryMs != Long.MaxValue && System.currentTimeMillis() >= minExpiryMs)

    /** Top-k for one query — driver-local, no job. `tenantId` /
      * `metaEq` apply the same equality predicates the job path's
      * tenant filter and [[MetadataFilter.eq]] would, with identical
      * results: a filtered call builds one row mask ([[rowMask]]) and
      * the kernel ranks only the rows it keeps, so the hits are exactly
      * the filtered set's true top-k. */
    def search(queryVec: Seq[Double], topK: Int = 10,
               tenantId: Option[String] = None,
               metaEq: Map[String, String] = Map.empty): Seq[ServingHit] = {
      require(queryVec.length == dims,
        s"query dimension ${queryVec.length} != collection dimension $dims")
      val q = if (cosine) normalize(queryVec) else queryVec
      val mask = if (tenantId.isEmpty && metaEq.isEmpty) null else rowMask(tenantId, metaEq)
      session.search(Seq((0L, q.toArray)), topK, metric, mask, scored).map { case (_, sid, s, r) =>
        ServingHit(ids(sid.toInt), s, contents(sid.toInt), r)
      }
    }

    /** The snapshot positions — the ids inside the packed blocks — of
      * the rows with tenant `tenantId` (when given) and every
      * `metaEq` key present with its value. A null tenant or value
      * matches nothing, as SQL equality with null does on the job
      * path. */
    private def rowMask(tenantId: Option[String], metaEq: Map[String, String]): java.util.BitSet = {
      val mask = new java.util.BitSet(ids.length)
      val anyTenant = tenantId.isEmpty
      val tenant = tenantId.orNull
      val keys = metaEq.keys.toArray
      val values = keys.map(metaEq)
      var i = 0
      while (i < ids.length) {
        var keep = anyTenant || (tenant != null && tenant == tenants(i))
        val m = metas(i)
        var j = 0
        while (keep && j < keys.length) {
          val v = values(j)
          keep = m != null && v != null && v == m.getOrElse(keys(j), null)
          j += 1
        }
        if (keep) mask.set(i)
        i += 1
      }
      mask
    }
  }

  private val servingCache = new java.util.concurrent.ConcurrentHashMap[String, ServingHandle]()
  // one monitor per collection, held while its snapshot is (re)built
  private val servingBuildLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  // Monotonic per-collection write counter, bumped by THIS engine's write
  // paths: closes the same-millisecond (or coarse-mtime-filesystem) hole
  // where a write lands without changing the data dir's mtime. External
  // writers are still caught by the mtime half of the version.
  private val writeCounters = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def bumpWrite(name: String): Unit =
    writeCounters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()

  /** Resident serving session for a collection, built lazily and cached;
    * rebuilt automatically when the collection changes (data-dir mtime OR
    * this engine's write counter — either moving invalidates) or a TTL
    * row expires. Returns None when the collection is empty or its
    * estimated resident footprint exceeds `maxBytes` (default 4 GiB) —
    * callers fall back to the distributed [[search]] path, which remains
    * the source of truth. A cap miss on a still-valid cached handle
    * leaves the cache untouched for other callers. Single-flight:
    * concurrent readers that find the handle stale or missing build it
    * once; the others wait for it and share it. */
  def serving(name: String, maxBytes: Long = FusionEngine.DefaultServingBytes): Option[ServingHandle] = {
    val cfg = getConfig(name)
    val ver = dataVersion(name)
    def fresh = Option(servingCache.get(name)).filterNot(_.stale(ver))
    val handle = fresh.orElse(servingBuildLocks.computeIfAbsent(name, _ => new AnyRef).synchronized {
      // another reader may have built it while this one waited
      fresh.orElse {
        servingCache.remove(name)
        val built = buildServing(name, cfg, ver, maxBytes)
        // AGGREGATE budget across all cached snapshots (review r4: N
        // collections each under the per-collection cap could otherwise
        // pin N × cap of driver memory)
        built.foreach(h => cacheWithinBudget(servingCache, name, h)(_.estBytes, _.lastUsedMs))
        built
      }
    })
    // over this caller's cap: None, but keep the handle for others
    handle.filter(_.estBytes <= maxBytes).map { h =>
      h.lastUsedMs = System.currentTimeMillis()
      h
    }
  }

  /** Driver-resident HNSW handle over a cosine collection (r11): the
    * reference's own index structure as the single-query latency path.
    * Same lifecycle rules as [[ServingHandle]] — version-invalidated by
    * writes, TTL-expiry aware — but a deliberately narrower contract:
    * cosine metric only (HNSW unit-normalizes), no tenant/metadata
    * pre-filters (those callers use [[serving]]/[[search]], the exact
    * paths), results APPROXIMATE at the chosen `ef`. */
  final class HnswHandle private[engine] (
      val collection: String,
      val index: graft.ann.Hnsw.Index,
      // maintained by the delta reconcile with copy-then-publish
      // (volatile): grown before the graph gains new nodes, pruned
      // (slots nulled) after the graph drops removed ones — a
      // concurrent search can never map a returned node to a missing
      // or null id
      @volatile private[engine] var rowIds: Array[String],
      // xxhash64 of each row's vector, parallel to rowIds — the delta
      // refresh and disk warm-start reconcile on (id, vhash) PAIRS, so
      // a delete + reinsert of the same id with a DIFFERENT vector
      // reads as a removal (rebuild), never a silent stale serve
      @volatile private[engine] var vecHashes: Array[Long],
      @volatile private[engine] var version: Long,
      @volatile private[engine] var minExpiryMs: Long,
      @volatile private[engine] var estBytesV: Long) {
    def estBytes: Long = estBytesV
    private[engine] var lastUsedMs: Long = System.currentTimeMillis()
    // delta-remove bookkeeping: a slot whose row was deleted keeps its
    // position (graph node ids are slot indexes) but nulls its rowIds
    // entry; the graph never returns a tombstoned node. The cumulative
    // removal budget (vs the row count at the last FULL build) bounds
    // graph-quality rot before a rebuild is forced.
    private[engine] var deadSlots: Int = 0
    private[engine] var removedSinceBuild: Int = 0
    private[engine] var builtRows: Int = rowIds.length
    private[engine] def liveRows: Int = rowIds.length - deadSlots
    private[engine] def stale(ver: Long): Boolean =
      ver != version || System.currentTimeMillis() >= minExpiryMs
    /** Approximate top-k: `(id, cosine, rank)`, ties by id. ef = 0
      * (the default) resolves dim-aware ([[graft.ann.Hnsw.defaultEf]])
      * so high-dim collections keep the recall contract by default. */
    def search(queryVec: Seq[Double], topK: Int = 10,
               ef: Int = 0): Seq[(String, Double, Int)] = {
      val ids = rowIds // one volatile read; stays consistent below
      index.searchOne(queryVec, topK, ef).map { case (i, s, r) =>
        (ids(i.toInt), s, r)
      }
    }
  }

  private val hnswCache = new java.util.concurrent.ConcurrentHashMap[String, HnswHandle]()

  /** Lazily-built, write-invalidated [[HnswHandle]] for a cosine
    * collection; `None` when the collection is empty, non-cosine, or
    * over `maxBytes` (fall back to [[serving]]/[[search]]). The build
    * is sequential (graph inserts mutate shared adjacency) — amortize
    * it across many queries, exactly like the reference's in-process
    * index. */
  def servingHnsw(name: String, maxBytes: Long = FusionEngine.DefaultServingBytes,
                  m: Int = 0, efConstruction: Int = 0): Option[HnswHandle] = {
    val cfg = getConfig(name)
    if (cfg.distanceMetric != "cosine") return None
    // m/efConstruction = 0 (the default) resolves dim-aware — the
    // engine's collection dim is known here, so the cache-key compare
    // and the byte estimate below always see the RESOLVED values
    val mR = if (m > 0) m else graft.ann.Hnsw.defaultM(cfg.dimensions)
    val efcR = if (efConstruction > 0) efConstruction
      else graft.ann.Hnsw.defaultEfConstruction(cfg.dimensions)
    val ver = dataVersion(name)
    val cached = hnswCache.get(name)
    if (cached != null && cached.index.m == mR &&
        cached.index.efConstruction == efcR) {
      // the cache hit must honor THIS caller's graph parameters (r11
      // review: a hit keyed on name alone silently ignored m/efC).
      // A passed minExpiry means some TTL row lapsed WITHOUT a version
      // bump (expiry is read-time, not a write) — force the reconcile,
      // which delta-REMOVES the lapsed rows and recomputes the expiry
      // instead of rebuilding the whole graph
      val expired = System.currentTimeMillis() >= cached.minExpiryMs
      if (cached.version == ver && !expired) {
        if (cached.estBytes <= maxBytes) {
          cached.lastUsedMs = System.currentTimeMillis()
          return Some(cached)
        } else return None
      }
      // version moved (or a TTL lapsed): grow-only changes delta-add,
      // deletes/updates/expiries delta-remove — the reference's
      // insert/delete serving loop, one beam search per changed row,
      // not an O(n) rebuild
      if (hnswReconcile(cached, name, cfg, ver, maxBytes, force = expired)) {
        if (cached.estBytes <= maxBytes) {
          cached.lastUsedMs = System.currentTimeMillis()
          return Some(cached)
        } else return None
      }
    }
    hnswCache.remove(name)
    // disk warm start (r12): a previous process persisted its graph —
    // load + content-reconcile (delta-add/remove as needed) beats the
    // O(n) rebuild exactly as the reference's deserialize beats
    // re-insert; a lapsed sidecar expiry forces the content pass
    loadHnswDisk(name, mR, efcR, maxBytes) match {
      case Some(h) if hnswReconcile(h, name, cfg, ver, maxBytes,
          force = System.currentTimeMillis() >= h.minExpiryMs) =>
        if (h.estBytes <= maxBytes) { cacheHnsw(name, h); return Some(h) }
        else return None
      case _ => ()
    }
    val alive = VectorSearch.ttlAlive(col("ts"), col("ttl_ms"))
    val src = table(name).filter(alive)
    val probe = src.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n"),
      min(when(col("ttl_ms") > 0, unix_millis(col("ts")) + col("ttl_ms"))).as("exp"))
      .collect()(0)
    val n = probe.getLong(0)
    val minExpiry = if (probe.isNullAt(1)) Long.MaxValue else probe.getLong(1)
    val est = n * (cfg.dimensions.toLong * 4 + 8 + mR * 2L * 4 + 96)
    if (n == 0 || est > maxBytes) return None
    val rows = src.select(col("id"), col("vector"),
      org.apache.spark.sql.functions.xxhash64(col("vector")).as("vh"))
      .orderBy(col("id")).collect()
    val ids = new Array[String](rows.length)
    val vhs = new Array[Long](rows.length)
    val packed = rows.iterator.zipWithIndex.map { case (r, i) =>
      ids(i) = r.getString(0)
      vhs(i) = r.getLong(2)
      (i.toLong, r.getSeq[Float](1).toArray)
    }
    hnswFullBuilds.incrementAndGet()
    val idx = graft.ann.Hnsw.buildParallel(packed, cfg.dimensions, mR, efcR)
    val h = new HnswHandle(name, idx, ids, vhs, ver, minExpiry, est)
    persistHnsw(name, h)
    cacheHnsw(name, h)
    Some(h)
  }

  /** Same aggregate budget discipline as servingCache (r11 review). */
  private def cacheHnsw(name: String, h: HnswHandle): Unit =
    cacheWithinBudget(hnswCache, name, h)(_.estBytes, _.lastUsedMs)

  /** The aggregate-budget admission both driver caches share: evict
    * other collections' handles, least recently used first, until `h`
    * fits [[FusionEngine.AggregateServingBytes]], then cache it under
    * `name`; a handle that cannot fit even alone stays un-cached
    * (served once, GC'd after use). */
  private def cacheWithinBudget[H](cache: java.util.concurrent.ConcurrentHashMap[String, H],
                                   name: String, h: H)(
      bytes: H => Long, lastUsedMs: H => Long): Unit =
    cache.synchronized {
      var others = cache.asScala.toSeq.filter(_._1 != name).sortBy(e => lastUsedMs(e._2))
      var total = others.map(e => bytes(e._2)).sum + bytes(h)
      while (total > FusionEngine.AggregateServingBytes && others.nonEmpty) {
        cache.remove(others.head._1)
        total -= bytes(others.head._2)
        others = others.tail
      }
      if (total <= FusionEngine.AggregateServingBytes) cache.put(name, h)
    }

  /** Content reconcile of a [[HnswHandle]] against the live table —
    * serves both the cached delta refresh and the disk warm start.
    * Compares the MULTISET of `(id, xxhash64(vector))` pairs the
    * handle holds against the alive rows: identical → handle is
    * current (safe BECAUSE the pairs hash content — an id-only check
    * could not bless an unchanged multiset); new pairs → fetch just
    * those rows and [[graft.ann.Hnsw.Index.add]] them (≤ 25% growth);
    * missing pairs → [[graft.ann.Hnsw.Index.remove]] their graph
    * nodes in place — the reference's own `delete()` — bounded by a
    * CUMULATIVE 25%-of-built-rows budget because tombstones degrade
    * graph navigability (past it, rebuild). A delete + reinsert of
    * the same id with a different vector is remove + add in one pass.
    * Returns false — caller falls back to a full rebuild — on budget
    * breach, an appended duplicate of a still-live id, or a byte-cap
    * breach. Hashing the vector closes the staleness hole an id-only
    * check would have (2^-64 per the engine's hashed-key convention).
    * The refreshed graph is not bit-identical to a fresh rebuild (op
    * order differs); both are inside the approximate-path contract
    * and deterministic for a given op sequence. */
  private def hnswReconcile(h: HnswHandle, name: String, cfg: CollectionConfig,
                            ver: Long, maxBytes: Long,
                            force: Boolean = false): Boolean = h.synchronized {
    // `force` = a TTL lapsed without a version bump; the content pass
    // must run (and will see the lapsed rows as removals)
    if (h.version == ver && !force) return true // another thread refreshed
    val alive = VectorSearch.ttlAlive(col("ts"), col("ttl_ms"))
    val src = table(name).filter(alive)
    val pairs = src.select(col("id"),
      org.apache.spark.sql.functions.xxhash64(col("vector")).as("vh"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // (id, vhash) -> live slots holding that pair (id-unique collections
    // have singleton queues; duplicate rows degrade gracefully)
    val slotsOf = new java.util.HashMap[(String, Long), java.util.ArrayDeque[Integer]]()
    val liveIds = new java.util.HashSet[String]()
    var i = 0
    while (i < h.rowIds.length) {
      if (h.rowIds(i) != null) {
        slotsOf.computeIfAbsent((h.rowIds(i), h.vecHashes(i)),
          _ => new java.util.ArrayDeque[Integer]()).add(Integer.valueOf(i))
        liveIds.add(h.rowIds(i))
      }
      i += 1
    }
    val fresh = scala.collection.mutable.ArrayBuffer.empty[String]
    pairs.foreach { case (id, vh) =>
      val q = slotsOf.get((id, vh))
      if (q != null && !q.isEmpty) q.poll() // matched: this slot survives
      else fresh += id
    }
    val removedSlots = scala.collection.mutable.ArrayBuffer.empty[Int]
    slotsOf.forEach((_, q) => q.forEach(s => removedSlots += s.intValue()))
    val removedIds = removedSlots.iterator.map(h.rowIds(_)).toSet
    // a fresh id colliding with a SURVIVING held id is a duplicate-id
    // append (slot->id must stay 1:1) — rebuild; a fresh id whose old
    // slot is being removed this pass is an UPDATE — allowed
    val freshHeldId = fresh.exists(id =>
      liveIds.contains(id) && !removedIds.contains(id))
    if (freshHeldId || fresh.length > h.liveRows / 4 ||
        h.removedSinceBuild + removedSlots.length > h.builtRows / 4)
      return false
    if (fresh.isEmpty && removedSlots.isEmpty) {
      // forced pass with nothing lapsed yet (clock raced the boundary):
      // refresh the expiry so the next hit can short-circuit again
      if (force) h.minExpiryMs = recomputeMinExpiry(src)
      h.version = ver
      return true
    }
    val rowBytes = cfg.dimensions.toLong * 4 + 8 + h.index.m * 2L * 4 + 96
    val est2 = (h.liveRows.toLong - removedSlots.length + fresh.length) * rowBytes
    if (est2 > maxBytes) return false
    // removals first (an update of an id re-adds after its old node is
    // gone). COPY-then-publish, like the grow path: a search holding
    // the pre-remove array maps any already-beamed node to its old id
    // (consistent pre-delete view); once the graph drops the node it
    // can't be returned, and the published array nulls only slots the
    // graph no longer serves
    if (removedSlots.nonEmpty) {
      val pruned = h.rowIds.clone()
      removedSlots.foreach { s =>
        h.index.remove(s.toLong)
        pruned(s) = null
      }
      h.rowIds = pruned
    }
    h.deadSlots += removedSlots.length
    h.removedSinceBuild += removedSlots.length
    if (fresh.isEmpty) {
      h.estBytesV = est2
      h.minExpiryMs = recomputeMinExpiry(src)
      h.version = ver
      persistHnsw(name, h)
      return true
    }
    val rows = src.filter(col("id").isin(fresh.toSeq.map(lit(_)): _*))
      .select(col("id"), col("vector"),
        when(col("ttl_ms") > 0, unix_millis(col("ts")) + col("ttl_ms")).as("exp"),
        org.apache.spark.sql.functions.xxhash64(col("vector")).as("vh"))
      .orderBy(col("id")).collect()
    val base = h.rowIds.length
    val grown = java.util.Arrays.copyOf(h.rowIds, base + rows.length)
    val grownVh = java.util.Arrays.copyOf(h.vecHashes, base + rows.length)
    var k = 0
    while (k < rows.length) {
      grown(base + k) = rows(k).getString(0)
      grownVh(base + k) = rows(k).getLong(3)
      k += 1
    }
    h.vecHashes = grownVh
    h.rowIds = grown // publish BEFORE the graph can return the new nodes
    var minExp = h.minExpiryMs
    k = 0
    while (k < rows.length) {
      h.index.add((base + k).toLong, rows(k).getSeq[Float](1).toArray)
      if (!rows(k).isNullAt(2)) minExp = math.min(minExp, rows(k).getLong(2))
      k += 1
    }
    // a removed row may have held the min expiry — recompute from the
    // live rows so the handle doesn't read permanently expired
    h.minExpiryMs =
      if (removedSlots.nonEmpty) recomputeMinExpiry(src) else minExp
    h.estBytesV = est2
    h.version = ver
    persistHnsw(name, h) // keep the disk graph warm for the next process
    true
  }

  private def recomputeMinExpiry(src: org.apache.spark.sql.DataFrame): Long = {
    val r = src.agg(
      min(when(col("ttl_ms") > 0, unix_millis(col("ts")) + col("ttl_ms"))).as("exp"))
      .collect()(0)
    if (r.isNullAt(0)) Long.MaxValue else r.getLong(0)
  }

  /** Persisted-graph sidecar (`<collection dir>/hnsw.bin`) — the
    * reference's `serialize()`d index inside its snapshot file, kept
    * as a binary sidecar here so a new process warm-starts serving
    * without the O(n) rebuild. Written tmp-then-atomic-move on every
    * full build and delta refresh; best-effort (an IO failure only
    * costs the next process a rebuild). Layout: engine header
    * (minExpiry, estBytes, row count, per-row id + vector hash) then
    * the [[graft.ann.Hnsw.Index.save]] stream. */
  private def hnswPath(name: String): Path = dir(name).resolve("hnsw.bin")

  private def persistHnsw(name: String, h: HnswHandle): Unit =
    try {
      val tmp = dir(name).resolve(s"hnsw.bin.tmp${System.nanoTime()}")
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        Files.newOutputStream(tmp), 1 << 16))
      try {
        out.writeInt(FusionEngine.HnswSidecarMagic)
        out.writeInt(1)
        out.writeLong(h.minExpiryMs)
        out.writeLong(h.estBytes)
        out.writeInt(h.builtRows)
        out.writeInt(h.removedSinceBuild)
        out.writeInt(h.rowIds.length)
        var i = 0
        while (i < h.rowIds.length) {
          val alive = h.rowIds(i) != null
          out.writeBoolean(alive)
          if (alive) { out.writeUTF(h.rowIds(i)); out.writeLong(h.vecHashes(i)) }
          i += 1
        }
        h.index.save(out)
      } finally out.close()
      Files.move(tmp, hnswPath(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case _: java.io.IOException => () }

  /** Load the sidecar if present and parameter-compatible; version is
    * stamped STALE so the caller's [[hnswReconcile]] always validates
    * content against the live table before the handle serves. */
  private def loadHnswDisk(name: String, m: Int, efConstruction: Int,
                           maxBytes: Long): Option[HnswHandle] =
    try {
      val p = hnswPath(name)
      if (!Files.exists(p)) return None
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        Files.newInputStream(p), 1 << 16))
      try {
        if (in.readInt() != FusionEngine.HnswSidecarMagic) return None
        if (in.readInt() != 1) return None
        val minExp = in.readLong()
        val est = in.readLong()
        if (est > maxBytes) return None // don't deserialize what the cap refuses
        val builtRows = in.readInt()
        val removedSinceBuild = in.readInt()
        val nRows = in.readInt()
        val ids = new Array[String](nRows)
        val vhs = new Array[Long](nRows)
        var dead = 0
        var i = 0
        while (i < nRows) {
          if (in.readBoolean()) { ids(i) = in.readUTF(); vhs(i) = in.readLong() }
          else dead += 1
          i += 1
        }
        val idx = graft.ann.Hnsw.load(in)
        if (idx.m != m || idx.efConstruction != efConstruction) return None
        hnswDiskLoads.incrementAndGet()
        val h = new HnswHandle(name, idx, ids, vhs, Long.MinValue, minExp, est)
        h.builtRows = builtRows
        h.removedSinceBuild = removedSinceBuild
        h.deadSlots = dead
        Some(h)
      } finally in.close()
    } catch { case _: Exception => None } // corrupt sidecar = no warm start

  // instrumentation for specs (prove warm start skipped the rebuild)
  private[graft] val hnswFullBuilds = new java.util.concurrent.atomic.AtomicLong()
  private[graft] val hnswDiskLoads = new java.util.concurrent.atomic.AtomicLong()
  /** Resident serving snapshots built (first builds and rebuilds after
    * a write or a TTL expiry). */
  private[graft] val servingBuilds = new java.util.concurrent.atomic.AtomicLong()

  /** Collection version = data-dir mtime combined with this engine's
    * write counter (see [[bumpWrite]]). */
  private def dataVersion(name: String): Long = {
    FusionEngine.recoverSwap(dataDir(name))
    val mtime =
      if (Files.exists(dataDir(name)))
        Files.getLastModifiedTime(dataDir(name)).toMillis
      else -1L
    val writes = writeCounters.get(name) match {
      case null => 0L
      case c => c.get()
    }
    mtime * 1000003L + writes
  }

  private def buildServing(name: String, cfg: CollectionConfig, ver: Long,
                           maxBytes: Long): Option[ServingHandle] = {
    val alive = VectorSearch.ttlAlive(col("ts"), col("ttl_ms"))
    val src = table(name).filter(alive)
    // cheap size/expiry probe BEFORE collecting anything
    val probe = src.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n"),
      coalesce(sum(length(col("content"))), lit(0L)).as("chars"),
      // metadata footprint (serving filters need the maps resident)
      coalesce(sum(length(to_json(col("metadata")))), lit(0L)).as("metaChars"),
      // ttl_ms <= 0 means never-expires (ttlAlive) — exclude it here or
      // minExpiry lands in the past and the handle is permanently stale
      min(when(col("ttl_ms") > 0, unix_millis(col("ts")) + col("ttl_ms"))).as("exp"))
      .collect()(0)
    val n = probe.getLong(0)
    val contentChars = probe.getLong(1)
    val metaChars = probe.getLong(2)
    val minExpiry = if (probe.isNullAt(3)) Long.MaxValue else probe.getLong(3)
    // floats + ids/norms + JVM string/map overhead per row + chars
    val est = n * (cfg.dimensions.toLong * 4 + 16 + 128) + (contentChars + metaChars) * 2
    if (n == 0 || est > maxBytes) return None
    servingBuilds.incrementAndGet()
    // id-ordered snapshot: the kernel's long tie-break then equals the
    // job path's `ASC id` string tie-break
    val rows = src.select(col("id"), col("vector"), col("content"),
      col("tenant_id"), col("metadata")).orderBy(col("id")).collect()
    val ids = new Array[String](rows.length)
    val contents = new Array[String](rows.length)
    val tenants = new Array[String](rows.length)
    val metas = new Array[scala.collection.Map[String, String]](rows.length)
    // rows with equal tenants or metadata maps share one instance, so a
    // filtered query's mask pass reads a few hot objects, not n scattered
    // ones (100k rows × 64-D on a 4-vCPU VM: a 1/6 metadata-filtered
    // search fell from 3-7× an unfiltered one to 1.1-1.5×)
    val shared = new java.util.HashMap[AnyRef, AnyRef]()
    def share[A <: AnyRef](a: A): A = shared.putIfAbsent(a, a) match {
      case null => a
      case prev => prev.asInstanceOf[A]
    }
    val packed = rows.iterator.zipWithIndex.map { case (r, i) =>
      ids(i) = r.getString(0)
      contents(i) = if (r.isNullAt(2)) null else r.getString(2)
      tenants(i) = if (r.isNullAt(3)) null else share(r.getString(3))
      metas(i) = if (r.isNullAt(4)) null else share(r.getMap[String, String](4))
      val v = if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray
      (i.toLong, v)
    }
    val session = graft.search.ServingSession.fromLocalRows(packed, cfg.dimensions)
    Some(new ServingHandle(name, session, servingMetric(cfg),
      cfg.distanceMetric == "cosine",
      cfg.dimensions, ids, contents, tenants, metas, ver, minExpiry, est))
  }

  // ─── Tenant proxy (`FusionEngine.js:258-270`) ───

  /** Tenant-scoped view. Quirk preserved from the reference: `get` and
    * `delete` are NOT tenant-filtered (`FusionEngine.js:267-268`) —
    * documented capability-parity divergence, flagged per SURVEY §7.4. */
  final class TenantScope private[FusionEngine] (collection: String, tenantId: String) {
    def insert(df: DataFrame, ttlMs: Option[Long] = None): Unit =
      FusionEngine.this.insert(collection, df, tenantId = Some(tenantId), ttlMs = ttlMs)
    def search(queryVec: Seq[Double], topK: Int = 10, filter: Option[Column] = None): DataFrame =
      FusionEngine.this.search(collection, queryVec, topK, tenantId = Some(tenantId), filter = filter)
    def get(id: String): DataFrame = FusionEngine.this.get(collection, id)
    def delete(id: String): Long = FusionEngine.this.deleteByIds(collection, Seq(id))
  }

  def tenant(collection: String, tenantId: String): TenantScope =
    new TenantScope(collection, tenantId)

  // ─── JSON snapshot export / import (`FusionEngine.js:278-312`) ───

  /** Write an `exportData()`-shaped JSON snapshot: one JSON-lines file
    * per collection + a manifest. Interop shim only — parquet is the
    * real persistence. */
  def exportData(outDir: String): Unit = {
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val names = listCollections()
    val manifest = names.map { case (n, cfg, size) =>
      s"""{"name":${jstr(n)},"size":$size,"config":${configJson(cfg)}}"""
    }.mkString("[", ",", "]")
    Files.writeString(out.resolve("manifest.json"),
      s"""{"_engine":"graft","_version":"0.2.0","exportedAt":"${java.time.Instant.now}","collections":$manifest}""")
    names.foreach { case (n, _, _) =>
      table(n).write.mode(SaveMode.Overwrite).json(out.resolve(n).toString)
    }
  }

  /** Import a snapshot written by [[exportData]].
    * @param overwrite replace existing collections (reference
    *                  `importData` skips existing unless overwrite) */
  def importData(inDir: String, overwrite: Boolean = false): Unit = {
    val manifest = Files.readString(Paths.get(inDir, "manifest.json"))
    // collections array: extract names + configs with the same minimal
    // parser used for collection.json
    extractCollections(manifest).foreach { case (n, cfg) =>
      if (hasCollection(n) && !overwrite) ()
      else {
        if (hasCollection(n)) deleteCollection(n)
        createCollection(n, cfg)
        val src = Paths.get(inDir, n)
        if (Files.exists(src)) {
          val df = spark.read.schema(Schema).json(src.toString)
          if (!df.isEmpty)
            writeLayout(cfg, df, SaveMode.Overwrite, dataDir(n).toString)
        }
      }
    }
  }

  /** Import a snapshot produced by the REFERENCE engine's `exportData()`
    * (`FusionEngine.js:278-292`: one object
    * `{collections: {name: {config, index}}}` where `index` is the
    * serialized HNSW state, `HNSWIndex.js:389-416`). Graph structure
    * (levels, neighbors, entry point) describes the reference's physical
    * index and has no Spark counterpart — ids, vectors and metadata are
    * the portable content and are imported in full (ADVICE r2:
    * reference-produced snapshots were previously unreadable). Parsed
    * with Jackson (on the Spark classpath). Returns rows imported. */
  def importReferenceSnapshot(jsonFile: String, overwrite: Boolean = false): Long = {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(jsonFile)))
    val colls = root.path("collections")
    if (!colls.isObject) return 0L
    var imported = 0L
    colls.fields().asScala.foreach { e =>
      val (name, coll) = (e.getKey, e.getValue)
      if (!hasCollection(name) || overwrite) {
        if (hasCollection(name)) deleteCollection(name)
        val cfgNode = coll.path("config")
        val idxCfg = coll.path("index").path("config")
        def pick(field: String) =
          if (cfgNode.has(field)) cfgNode.path(field) else idxCfg.path(field)
        val importedCfg = CollectionConfig(
          dimensions = coll.path("index").path("dimensions")
            .asInt(cfgNode.path("dimensions").asInt(768)),
          distanceMetric = pick("distanceMetric").asText("cosine"),
          m = pick("M").asInt(16),
          efConstruction = pick("efConstruction").asInt(200),
          efSearch = pick("efSearch").asInt(50))
        createCollection(name, importedCfg)
        val rows = coll.path("index").path("nodes").asScala.map { node =>
          val vec = node.path("vector").asScala.map(_.floatValue).toArray
          val meta = node.path("metadata").fields().asScala.map { m =>
            m.getKey -> (if (m.getValue.isTextual) m.getValue.asText
                         else m.getValue.toString)
          }.toMap
          (node.path("id").asText, vec, meta)
        }.toSeq
        if (rows.nonEmpty) {
          // straight to parquet: reference vectors are already
          // unit-normalized at insert (HNSWIndex.js:137-140)
          val df = rows.toDF("id", "vector", "metadata")
            .withColumn("tenant_id", lit(null).cast("string"))
            .withColumn("ts", lit(null).cast("timestamp"))
            .withColumn("ttl_ms", lit(null).cast("long"))
            .withColumn("content", element_at(col("metadata"), "_content"))
            .select(Schema.fieldNames.map(col): _*)
          writeLayout(importedCfg, df, SaveMode.Overwrite, dataDir(name).toString)
          imported += rows.size
        }
      }
    }
    imported
  }

  private def normalize(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }
}

object FusionEngine {

  /** `hnsw.bin` sidecar header magic ("GHSE"). */
  private[engine] val HnswSidecarMagic = 0x47485345

  /** Per-collection serving-cache resident-footprint cap — aliases the
    * serving tier's single source of truth
    * ([[graft.search.ServingSession.DefaultMaxBytes]]). */
  val DefaultServingBytes: Long = graft.search.ServingSession.DefaultMaxBytes

  /** Aggregate budget across ALL cached serving snapshots (LRU-evicted
    * past this — see [[FusionEngine.serving]]): 2× the per-collection
    * cap by default, overridable via the
    * `graft.serving.aggregate.bytes` system property (re-read per use —
    * also what lets the eviction path be tested without GiB fixtures). */
  def AggregateServingBytes: Long =
    sys.props.get("graft.serving.aggregate.bytes").map(_.toLong)
      .getOrElse(DefaultServingBytes * 2)

  /** Canonical collection schema (FIXTURES.md §1). */
  val Schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("vector", ArrayType(FloatType), nullable = true),
    StructField("tenant_id", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("ttl_ms", LongType, nullable = true),
    StructField("content", StringType, nullable = true),
    StructField("metadata", MapType(StringType, StringType), nullable = true)))

  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Shard of an id under the collection's hash layout — CRC32 of the
    * UTF-8 bytes mod `shards`. Must stay bit-identical to [[shardExpr]]
    * (Spark's `crc32` is the same CRC-32 over the same bytes), or point
    * lookups would prune to the wrong partition. */
  private[graft] def shardOf(id: String, shards: Int): Int = {
    val crc = new java.util.zip.CRC32()
    crc.update(id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (crc.getValue % shards).toInt
  }

  /** Column form of [[shardOf]], used at write time. */
  private[graft] def shardExpr(shards: Int): Column =
    pmod(crc32(col("id").cast(BinaryType)), lit(shards.toLong)).cast(IntegerType)

  private[engine] def configJson(c: CollectionConfig): String =
    s"""{"dimensions":${c.dimensions},"distanceMetric":${jstr(c.distanceMetric)},""" +
      s""""M":${c.m},"efConstruction":${c.efConstruction},"efSearch":${c.efSearch},""" +
      s""""partitionByTenant":${c.partitionByTenant},"shards":${c.shards},"createdAt":${jstr(c.createdAt)}}"""

  // Minimal flat-JSON field extraction (configs are engine-written, flat,
  // and free of nested braces in values).
  private def jint(json: String, key: String, default: Int): Int =
    s""""$key":\\s*(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(default)
  private def jstrv(json: String, key: String, default: String): String =
    s""""$key":\\s*"((?:[^"\\\\]|\\\\.)*)"""".r.findFirstMatchIn(json)
      .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).getOrElse(default)

  private[engine] def parseConfigJson(json: String): CollectionConfig =
    CollectionConfig(
      dimensions = jint(json, "dimensions", 768),
      distanceMetric = jstrv(json, "distanceMetric", "cosine"),
      m = jint(json, "M", 16),
      efConstruction = jint(json, "efConstruction", 200),
      efSearch = jint(json, "efSearch", 50),
      createdAt = jstrv(json, "createdAt", ""),
      partitionByTenant =
        s""""partitionByTenant":\\s*(true|false)""".r.findFirstMatchIn(json)
          .exists(_.group(1) == "true"),
      shards = jint(json, "shards", 0))

  private[engine] def extractCollections(manifest: String): Seq[(String, CollectionConfig)] = {
    val entry = """\{"name":"((?:[^"\\]|\\.)*)","size":\d+,"config":(\{[^}]*\})\}""".r
    entry.findAllMatchIn(manifest).map { m =>
      (m.group(1).replace("\\\"", "\"").replace("\\\\", "\\"), parseConfigJson(m.group(2)))
    }.toSeq
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Crash-safe table replacement: move the live dir aside atomically,
    * move the freshly-written `tmp` in, then delete the old data
    * (ADVICE r2: the delete-then-move sequence loses the whole table if
    * interrupted). A crash between the two moves leaves the sole copy
    * in `*_old`; [[recoverSwap]] — run at every read site and at the
    * start of the next swap — restores it, so readers never observe a
    * silently-empty table. An `*_old` leftover ALONGSIDE live data is a
    * crash after install and is safe to clear. */
  private[graft] def atomicSwap(live: Path, tmp: Path): Unit = swapLock.synchronized {
    recoverSwap(live)
    val old = live.resolveSibling(live.getFileName.toString + "_old")
    if (Files.exists(old)) deleteRecursively(old)
    val had = Files.exists(live)
    if (had) Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    if (had) deleteRecursively(old)
  }

  /** Serializes swap/recovery file moves JVM-wide (ADVICE r3): a reader's
    * [[recoverSwap]] racing a writer inside [[atomicSwap]]'s two-move
    * window could move `live_old` back to `live` between the moves,
    * failing the writer's install and stranding `tmp`. The moves are
    * metadata-only local-fs renames, so one coarse lock costs nothing;
    * cross-PROCESS coordination stays out of scope (single-JVM engine,
    * in-process server surface). */
  private val swapLock = new Object

  /** Crash recovery for [[atomicSwap]]: when `live` is absent but
    * `live_old` exists (crash between the swap's two moves), the old
    * dir holds the only copy — move it back. Idempotent, cheap (two
    * existence checks), called at read sites so a post-crash reader
    * sees the pre-swap table instead of an empty one. */
  private[graft] def recoverSwap(live: Path): Unit = swapLock.synchronized {
    val old = live.resolveSibling(live.getFileName.toString + "_old")
    if (!Files.exists(live) && Files.exists(old))
      Files.move(old, live, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Per-shard crash recovery: a sharded delete swaps `shard=k` dirs
    * individually, so a crash can leave `shard=k_old` behind. Restore it
    * when it holds the only copy (crash between moves), DELETE it when
    * the live dir exists (crash after install) — a leftover would
    * otherwise enter hive partition discovery as value `k_old` and
    * poison the shard column's type inference. O(#shards) local
    * listing, done at read sites of sharded collections only. */
  private[graft] def recoverShards(dataDir: Path): Unit = {
    if (!Files.exists(dataDir)) return
    val s = Files.list(dataDir)
    // materialize before mutating the directory we're listing
    val leftovers =
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith("_old")).toList
      finally s.close()
    leftovers.foreach { old =>
      val base = old.resolveSibling(
        old.getFileName.toString.stripSuffix("_old"))
      recoverSwap(base)
      swapLock.synchronized {
        if (Files.exists(base) && Files.exists(old)) deleteRecursively(old)
      }
    }
  }
}
